package graft.streaming

import java.nio.file.Path
import java.util.Base64

/** Client quotas (keys 48/49, KIP-546) — the `kafka-configs
  * --entity-type clients/users --alter --add-config
  * producer_byte_rate=...` surface, with REAL byte-rate enforcement
  * on the produce and fetch paths: the broker meters each quota
  * entity's bytes over a sliding sample window (Kafka's
  * quota.window.num × 1 s shape), computes the throttle time that
  * would bring the observed rate back under the quota, serves it in
  * the response's throttle_time_ms AND holds the response that long
  * (bounded), exactly the cooperative throttling contract Kafka
  * clients implement.
  *
  * Entity model: (user, client-id) pairs where either part may be a
  * concrete name, the DEFAULT sentinel, or unspecified. Resolution
  * follows Kafka's documented precedence order — most-specific wins:
  *
  *   1. /users/<user>/clients/<client>   5. /users/def/clients/def
  *   2. /users/<user>/clients/def        6. /users/<default>
  *   3. /users/<user>                    7. /clients/<client>
  *   4. /users/def/clients/<client>      8. /clients/<default>
  *
  * Served quota keys: `producer_byte_rate`, `consumer_byte_rate`
  * (byte meters on the produce/fetch paths) and `request_percentage`
  * (a wall-time meter over EVERY dispatched request: thread-per-
  * connection makes the handler's elapsed time one clock read per
  * side, so a quota of N — N% of one handler thread — allows N×10 ms
  * of handler time per second, enforced by the same window + hold).
  * Values persist as `_quotas/v{N}.json` CAS snapshots (a
  * [[VersionedDir]]), so an acknowledged alteration survives restart.
  */
object Quotas {

  /** Entity-type names on the wire. */
  val EntityUser = "user"
  val EntityClientId = "client-id"

  val ProducerByteRate = "producer_byte_rate"
  val ConsumerByteRate = "consumer_byte_rate"
  val RequestPercentage = "request_percentage"
  val ServedKeys: Set[String] =
    Set(ProducerByteRate, ConsumerByteRate, RequestPercentage)

  /** One quota entity: None = unspecified, Some(None) = the DEFAULT
    * sentinel (null name on the wire), Some(Some(n)) = a named
    * user/client. */
  case class Entity(user: Option[Option[String]],
      clientId: Option[Option[String]]) {
    def isEmpty: Boolean = user.isEmpty && clientId.isEmpty
  }

  /** Longest a single response is ever held — Kafka brokers mute the
    * channel for the full computed delay; a bounded hold keeps a
    * misconfigured quota from wedging a connection while still
    * pacing cooperative clients (the response carries the FULL
    * computed throttle for the client's own backoff). */
  val MaxHoldMs = 1000L

  /** Sliding-window rate meter: per-second buckets over the last
    * `windowSec` seconds (Kafka's sampled Rate with 1 s samples).
    * Throttle time is the delay that brings the windowed rate back
    * to the quota: (observed − allowed) / quota, in ms. */
  final class RateMeter(windowSec: Int = 10) {
    private val bucketStarts = new Array[Long](windowSec)
    private val bucketBytes = new Array[Long](windowSec)

    def record(bytes: Long, nowMs: Long): Unit = synchronized {
      val sec = nowMs / 1000
      val i = (sec % windowSec).toInt
      if (bucketStarts(i) != sec) { bucketStarts(i) = sec; bucketBytes(i) = 0L }
      bucketBytes(i) += bytes
    }

    /** Milliseconds to hold so the window's rate falls to `quota`
      * bytes/sec; 0 when under quota. */
    def throttleMs(quota: Double, nowMs: Long): Long = synchronized {
      if (quota <= 0) return 0L
      val sec = nowMs / 1000
      var total = 0L
      var i = 0
      while (i < windowSec) {
        if (sec - bucketStarts(i) < windowSec) total += bucketBytes(i)
        i += 1
      }
      val allowed = quota * windowSec
      if (total <= allowed) 0L
      else math.ceil((total - allowed) * 1000.0 / quota).toLong
    }
  }

  /** The live quota manager: config map + per-entity meters. One per
    * broker; handler threads resolve and record per request. */
  final class Manager(storeDir: Path) {
    // (userKey, clientKey) -> key -> value, where a key part is the
    // concrete name, "<default>", or absent from the tuple via null
    private var version = 0L
    private var configs: Map[Entity, Map[String, Double]] = Map.empty
    private val store = new VersionedDir(storeDir)
    locally {
      store.readLatest(QuotaStore.parse).foreach { case (v, persisted) =>
        version = v
        configs = persisted
      }
    }

    private val meters =
      scala.collection.concurrent.TrieMap.empty[(Entity, String), RateMeter]

    def current: Map[Entity, Map[String, Double]] = synchronized(configs)

    /** Alter one entity's quotas (sets ∪ removes), persisted before
      * returning — the key-49 write path. */
    def alter(entity: Entity, sets: Seq[(String, Double)],
        removes: Seq[String]): Unit = synchronized {
      val cur = configs.getOrElse(entity, Map.empty)
      val next = cur ++ sets -- removes
      configs =
        if (next.isEmpty) configs - entity else configs + (entity -> next)
      persist()
    }

    /** Kafka's resolution order, most-specific first. The request's
      * (user, clientId) are concrete strings. */
    private[streaming] def resolve(user: String, clientId: String,
        key: String): Option[(Entity, Double)] = {
      val u = Some(Some(user)); val ud = Some(None: Option[String])
      val c = Some(Some(clientId)); val cd = Some(None: Option[String])
      val order = Seq(
        Entity(u, c), Entity(u, cd), Entity(u, None),
        Entity(ud, c), Entity(ud, cd), Entity(ud, None),
        Entity(None, c), Entity(None, cd))
      val snapshot = synchronized(configs)
      order.iterator.flatMap { e =>
        snapshot.get(e).flatMap(_.get(key)).map(e -> _)
      }.nextOption()
    }

    /** Record `bytes` against whatever quota entity governs this
      * (user, clientId) for `key`, and return the computed throttle
      * in ms (0 when no quota applies or the rate is under it). The
      * meter lives on the RESOLVED entity, so every client sharing a
      * default-entity quota shares its budget — Kafka's semantics. */
    def recordAndThrottle(user: String, clientId: String, key: String,
        bytes: Long, nowMs: Long): Long =
      resolve(user, clientId, key) match {
        case None => 0L
        case Some((entity, quota)) =>
          val meter = meters.getOrElseUpdate((entity, key), new RateMeter())
          meter.record(bytes, nowMs)
          meter.throttleMs(quota, nowMs)
      }

    /** `request_percentage`: meter request-HANDLER milliseconds
      * against a percentage-of-one-thread budget. On a
      * thread-per-connection broker the natural denominator is one
      * handler thread, so a quota of N allows N% of one second =
      * N×10 ms of handler time per second, enforced through the same
      * sliding window + computed-hold as the byte-rate keys. */
    def recordRequestTime(user: String, clientId: String,
        elapsedMs: Long, nowMs: Long): Long =
      resolve(user, clientId, RequestPercentage) match {
        case None => 0L
        case Some((entity, pct)) =>
          val meter = meters.getOrElseUpdate((entity, RequestPercentage),
            new RateMeter())
          meter.record(elapsedMs, nowMs)
          meter.throttleMs(pct * 10.0, nowMs)
      }

    /** DescribeClientQuotas matching: components constrain entity
      * parts (exact name / the default sentinel / any-specified);
      * `strict` additionally rejects entities with parts no
      * component mentioned. */
    def describe(components: Seq[(String, Int, String)], strict: Boolean)
        : Seq[(Entity, Map[String, Double])] = {
      val mentioned = components.map(_._1).toSet
      def partOk(part: Option[Option[String]], comp: Option[(Int, String)])
          : Boolean = comp match {
        case None => true
        case Some((matchType, name)) => matchType match {
          case 0 => part == Some(Option(name)) // exact (null name = default)
          case 1 => part == Some(None) // the default entity
          case _ => part.isDefined // any specified
        }
      }
      synchronized(configs).toSeq.filter { case (e, _) =>
        val userComp = components.collectFirst {
          case (EntityUser, mt, n) => (mt, n) }
        val clientComp = components.collectFirst {
          case (EntityClientId, mt, n) => (mt, n) }
        partOk(e.user, userComp) && partOk(e.clientId, clientComp) &&
          (!strict ||
            ((e.user.isEmpty || mentioned(EntityUser)) &&
             (e.clientId.isEmpty || mentioned(EntityClientId))))
      }.sortBy { case (e, _) => render(e) }
    }

    private def render(e: Entity): String =
      e.user.map(_.getOrElse("<default>")).getOrElse("") + "\u0000" +
        e.clientId.map(_.getOrElse("<default>")).getOrElse("")

    private def persist(): Unit =
      version = store.publish(version, 2)(QuotaStore.render(_, configs))
  }

  /** Durable quota snapshots — `_quotas/v{N}.json`, a
    * [[VersionedDir]]. Entity parts are base64-armored; the two Option
    * layers encode as a marker char: 'a' absent, 'd' default,
    * 'n:<b64>' named. */
  private[streaming] object QuotaStore {

    private def b64(s: String): String =
      Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    private def unb64(s: String): String =
      new String(Base64.getDecoder.decode(s), "UTF-8")

    private def part(p: Option[Option[String]]): String = p match {
      case None => "a"
      case Some(None) => "d"
      case Some(Some(n)) => "n:" + b64(n)
    }
    private def unpart(s: String): Option[Option[String]] = s match {
      case "a" => None
      case "d" => Some(None)
      case n => Some(Some(unb64(n.stripPrefix("n:"))))
    }

    private[streaming] def render(version: Long,
        configs: Map[Entity, Map[String, Double]]): String = {
      val rows = configs.toSeq.sortBy { case (e, _) => part(e.user) + part(e.clientId) }
        .map { case (e, kvs) =>
          val vals = kvs.toSeq.sorted.map { case (k, v) =>
            s"""{"k":"${b64(k)}","v":$v}"""
          }.mkString(",")
          s"""{"u":"${part(e.user)}","c":"${part(e.clientId)}","vals":[$vals]}"""
        }.mkString(",")
      s"""{"version":$version,"quotas":[$rows]}"""
    }

    private val EntryRe =
      """\{"u":"([^"]*)","c":"([^"]*)","vals":\[([^\]]*)\]\}""".r
    private val ValRe = """\{"k":"([^"]*)","v":([-0-9.Ee]+)\}""".r

    private[streaming] def parse(s: String): Map[Entity, Map[String, Double]] =
      EntryRe.findAllMatchIn(s).map { m =>
        Entity(unpart(m.group(1)), unpart(m.group(2))) ->
          ValRe.findAllMatchIn(m.group(3)).map { vm =>
            unb64(vm.group(1)) -> vm.group(2).toDouble
          }.toMap
      }.toMap
  }
}
