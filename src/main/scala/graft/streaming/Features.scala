package graft.streaming

import java.nio.file.Path

/** KIP-584 feature versions: the broker's supported feature ranges,
  * the finalized levels `kafka-features.sh describe` reads out of the
  * ApiVersions tagged fields, and the UpdateFeatures (key 57) upgrade
  * / downgrade rules `kafka-features.sh upgrade|downgrade|disable`
  * drives. The reference's roadmap delegates feature negotiation to
  * ApiVersions (ref pkg/kafka/versions.go:19–25 is a static table);
  * graft serves the full feature machinery: bootstrap-finalized
  * levels, validated transitions, and a CAS-persisted store
  * (`_features/v{N}.json`, a [[VersionedDir]]) so an administered
  * level survives restart.
  *
  * The names mirror Kafka 4.0's public production features; the
  * LEVELS are this engine's own capability declarations (what its
  * code actually serves), not a claim of metadata-log parity.
  */
object Features {

  /** name -> (minVersion, maxVersion) this broker can run. */
  val Supported: Seq[(String, Int, Int)] = Seq(
    ("eligible.leader.replicas.version", 0, 1),
    ("group.version", 0, 1), // KIP-848 coordinator is served
    ("kraft.version", 0, 1),
    ("metadata.version", 1, 25),
    ("share.version", 0, 1), // KIP-932 share groups are served
    ("transaction.version", 0, 2))

  private val supportedByName: Map[String, (Int, Int)] =
    Supported.map(f => f._1 -> (f._2, f._3)).toMap

  /** A fresh cluster bootstraps every feature finalized at its
    * supported max — Kafka's `kafka-storage format` default. */
  val BootstrapFinalized: Map[String, Int] =
    Supported.map(f => f._1 -> f._3).toMap

  // UpdateFeatures v1 upgrade types (v0's allow_downgrade=true maps
  // to SafeDowngrade)
  val Upgrade = 1
  val SafeDowngrade = 2
  val UnsafeDowngrade = 3

  final class Manager(storeDir: Path) {
    private var finalized: Map[String, Int] = BootstrapFinalized
    private var epoch: Long = 0L
    private val store = new VersionedDir(storeDir)

    store.readLatest(FeatureStore.parse).foreach { case (v, levels) =>
      epoch = v
      finalized = levels
    }

    def current: (Long, Seq[(String, Int)]) =
      synchronized((epoch, finalized.toSeq.sortBy(_._1)))

    /** Apply one UpdateFeatures request. Per-feature results in
      * REQUEST order: (feature, errorCode, errorMessage|null). All
      * validations run first; nothing lands unless every update is
      * valid (Kafka's transactional-update rule), and nothing lands
      * when `validateOnly`. */
    def update(updates: Seq[(String, Int, Int)], validateOnly: Boolean)
        : Seq[(String, Int, String)] = synchronized {
      // duplicate feature keys in one request: Kafka answers
      // INVALID_REQUEST for the batch (each update would otherwise
      // validate against the pre-batch level and land last-wins)
      val dupes = updates.groupBy(_._1).collect {
        case (n, us) if us.size > 1 => n
      }.toSet
      if (dupes.nonEmpty)
        return updates.map { case (name, _, _) =>
          if (dupes(name))
            (name, 42, s"duplicate feature '$name' in one request")
          else (name, 55, "another update in the batch failed")
        }
      val results = updates.map { case (name, level, upgradeType) =>
        supportedByName.get(name) match {
          case None =>
            (name, 95, s"unknown feature '$name'")
          case Some((min, max)) =>
            val cur = finalized.getOrElse(name, 0)
            if (upgradeType < Upgrade || upgradeType > UnsafeDowngrade)
              (name, 42, s"invalid upgrade type $upgradeType")
            else if (level != 0 && (level < min || level > max))
              (name, 95,
                s"level $level is outside the supported range $min..$max")
            else if (level < cur && upgradeType == Upgrade)
              (name, 95, s"downgrade from $cur to $level needs a " +
                "downgrade upgrade-type")
            else (name, 0, null: String)
        }
      }
      val allValid = results.forall(_._2 == 0)
      if (allValid && !validateOnly) {
        val next = updates.foldLeft(finalized) { case (f, (name, level, _)) =>
          if (level == 0) f - name else f + (name -> level)
        }
        // the epoch is the version actually linked (a rival manager on
        // this root may hold the next one), and memory moves only once
        // the new levels are on disk
        epoch = store.publish(epoch, 0)(
          FeatureStore.render(_, next.toSeq.sortBy(_._1)))
        finalized = next
      }
      // one invalid member fails the batch: valid members report
      // that nothing was attempted (Kafka's OPERATION_NOT_ATTEMPTED)
      if (allValid) results
      else results.map {
        case (n, 0, _) => (n, 55, "another update in the batch failed")
        case r => r
      }
    }
  }
}

/** The codec of the `_features/v{N}.json` snapshots. */
private[streaming] object FeatureStore {

  private[streaming] def render(version: Long,
      levels: Seq[(String, Int)]): String = {
    val rows = levels
      .map { case (n, l) => s"""{"feature":"$n","level":$l}""" }
      .mkString(",")
    s"""{"version":$version,"features":[$rows]}"""
  }

  private val RowRe = """\{"feature":"([^"]*)","level":(\d+)\}""".r

  private[streaming] def parse(s: String): Map[String, Int] =
    RowRe.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toInt).toMap
}
