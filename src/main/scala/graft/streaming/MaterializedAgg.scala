package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exactly-once incremental materialized aggregate over a topic —
  * the stream-table duality made a first-class library object
  * (Kafka's analog is a Streams KTable aggregation with its
  * changelog; ksqlDB's a `CREATE TABLE … AS SELECT` over a stream).
  *
  * The view is `GROUP BY keyExpr → (count, exact decimal sum of
  * valueExpr)` over the topic's records. `refresh()` folds ONLY the
  * records appended since the last refresh into the persisted state:
  * work per refresh is O(new data + |state|), never O(log length) —
  * at 100 TB of topic history the incremental path reads the new
  * slice and one state-sized table, where a recompute would re-scan
  * everything.
  *
  * Exactly-once across crashes, by construction rather than by
  * protocol: the consumed-through offsets and the state they produce
  * commit in ONE atomic hard-link CAS (`_views/<name>/v{N}.json`, a
  * [[VersionedDir]] — the state parquet is written first, the
  * versioned json naming it and the offsets links last). A crash
  * anywhere before the link leaves the previous snapshot fully
  * intact (the half-written state dir is invisible — nothing names
  * it — and the next refresh overwrites it); there is no window
  * where offsets are recorded without their state or vice versa, so
  * records are folded exactly once no matter where a refresh dies.
  * Single writer per view by design (the TxnStore stance): a CAS
  * collision means two refreshers raced one view — the loser
  * re-reads and retries over the winner's snapshot.
  *
  * The refresh's upper bound is captured BEFORE the slice is read,
  * so records produced concurrently with a refresh land cleanly in
  * the next one — the recorded offsets always equal exactly what the
  * state has folded.
  */
class MaterializedAgg(spark: SparkSession, topic: TopicLog, name: String,
    keyExpr: Column, valueExpr: Column) {

  private def viewDir = Paths.get(s"${topic.topicDir}/_views/$name")
  private def snapshots = new VersionedDir(viewDir)

  // count / sum / min / max — each a commutative monoid, so the
  // incremental merge (sum of sums, min of mins, max of maxes) is
  // exact regardless of refresh batching. A view persisted before the
  // min/max columns existed reads them as null until keys are touched
  // again (min/max ignore nulls — the merge stays well-defined).
  private val stateSchema = StructType(Seq(
    StructField("k", StringType),
    StructField("n_records", LongType),
    StructField("sum_value", DecimalType(28, 4)),
    StructField("min_value", DecimalType(18, 4)),
    StructField("max_value", DecimalType(18, 4))))

  private def emptyState: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      stateSchema)

  // --- snapshot codec (hand-rolled like the manifest: version,
  // per-partition consumed-through offsets, state dir rel-name) ---

  private[streaming] def render(version: Long, offsets: Map[Int, Long],
      stateRel: String): String = {
    val offs = offsets.toSeq.sorted.map { case (p, o) => s""""$p":$o""" }
      .mkString(",")
    s"""{"version":$version,"offsets":{$offs},"state":"$stateRel"}"""
  }

  private[streaming] def parse(s: String): (Map[Int, Long], String) = {
    val offs = "\"(\\d+)\":(\\d+)".r.findAllMatchIn(
      "\"offsets\":\\{([^}]*)\\}".r.findFirstMatchIn(s).map(_.group(1))
        .getOrElse(""))
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    val state = "\"state\":\"([^\"]*)\"".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    (offs, state)
  }

  private def loadSnapshot: Option[(Long, Map[Int, Long], String)] =
    snapshots.readLatest(parse).map { case (v, (offs, state)) => (v, offs, state) }

  /** The materialized table as of the last committed refresh. */
  def state(): DataFrame = loadSnapshot match {
    case Some((_, _, rel)) if rel.nonEmpty =>
      spark.read.schema(stateSchema).parquet(viewDir.resolve(rel).toString)
    case _ => emptyState
  }

  /** Per-partition offsets the state has consumed through. */
  def consumedOffsets(): Map[Int, Long] =
    loadSnapshot.map(_._2).getOrElse(Map.empty)

  /** Current snapshot version (0 = never refreshed). */
  def version(): Long = loadSnapshot.map(_._1).getOrElse(0L)

  /** Fold records appended since the last refresh into the state.
    * Returns the number of NEW records folded (0 = no-op, and no new
    * snapshot version is published for one). */
  def refresh(): Long = {
    var attempt = 0
    while (true) {
      val snap = loadSnapshot
      val (curVersion, from) =
        (snap.map(_._1).getOrElse(0L),
          snap.map(_._2).getOrElse(Map.empty[Int, Long]))
      // upper bound FIRST: concurrent produces stay out of this fold
      val end = topic.logEndOffsets()
      if ((0 until topic.numPartitions).forall(p =>
          end.getOrElse(p, 0L) <= from.getOrElse(p, 0L))) return 0L
      val ranges = spark.createDataFrame(
        (0 until topic.numPartitions).map { p =>
          (p, from.getOrElse(p, 0L), end.getOrElse(p, 0L))
        }).toDF("partition", "from", "until")
      val slice = topic.read()
        .join(broadcast(ranges), "partition")
        .filter(col("offset") >= col("from") && col("offset") < col("until"))
      val delta = slice
        .select(keyExpr.cast("string").as("k"),
          valueExpr.cast(DecimalType(18, 4)).as("v"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_records"),
          sum(col("v")).cast(DecimalType(28, 4)).as("sum_value"),
          min(col("v")).as("min_value"),
          max(col("v")).as("max_value"))
      val folded = slice.count()
      val merged = state().unionByName(delta)
        .groupBy("k")
        .agg(sum(col("n_records")).as("n_records"),
          sum(col("sum_value")).cast(DecimalType(28, 4)).as("sum_value"),
          min(col("min_value")).as("min_value"),
          max(col("max_value")).as("max_value"))
      val nextVersion = curVersion + 1
      val stateRel = s"state-v$nextVersion"
      // state first (a crash here leaves an unnamed dir the next
      // attempt overwrites), then the atomic offsets+state link
      merged.write.mode("overwrite")
        .parquet(viewDir.resolve(stateRel).toString)
      try {
        snapshots.link(nextVersion, render(nextVersion, end, stateRel))
        prune(nextVersion)
        return folded
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          if (attempt >= 5) throw new IllegalStateException(
            s"materialized view $name: lost the snapshot CAS 5 times " +
              "(two concurrent refreshers? the view is single-writer)")
      }
    }
    0L // unreachable
  }

  /** Retire snapshots (and their state dirs) older than the previous
    * version — every snapshot is full state, only the newest matters;
    * one older version is kept for readers racing the link. */
  private def prune(current: Long): Unit = {
    snapshots.prune(current - 1)
    TopicLog.listDir(viewDir).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("state-v") &&
          n.stripPrefix("state-v").toLongOption.exists(_ < current - 1))
        // deepest-first so directories empty before their delete
        TopicLog.walkPaths(p).sortBy(-_.getNameCount)
          .foreach(Files.deleteIfExists)
    }
  }
}
