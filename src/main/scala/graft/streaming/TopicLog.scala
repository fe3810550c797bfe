package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** A Kafka-model topic log, Spark-native.
  *
  * Re-expresses the reference broker's storage contract
  * (ref: README.md roadmap — Producer API, Consumer API, Topic
  * Management; ref: pkg/kafka/kafka_api.go:85 request dispatch) on a
  * parquet directory layout:
  *
  * {{{
  *   <root>/<topic>/data/partition=N/  parquet records, offset-sorted
  *   <root>/<topic>/_meta.json                   numPartitions
  *   <root>/<topic>/_manifests/v<N>.json         committed snapshots (CAS)
  *   <root>/<topic>/_groups/<group>/v<N>.json    committed group offsets (CAS)
  * }}}
  *
  * Scale design (SURVEY.md §6): `partition` is a physical dir key so
  * fetch prunes to one directory; files are offset-sorted so parquet
  * row-group min/max stats skip everything below `fromOffset`; offset
  * assignment is per-partition-local (base + row_number — no global
  * coordination); compaction/retention rewrite per partition with one
  * shuffle.
  *
  * Durability/concurrency: every mutation commits a MANIFEST — the
  * exact file set, per-partition log-end offsets, and last streaming
  * batch id — via an atomic compare-and-swap on the version number
  * (hard-link creation). Readers only see manifest-listed files, so a
  * produce that crashes mid-way leaves unreferenced files (GC'd by
  * [[vacuum]]), never drifted offsets or torn reads; concurrent
  * producers either merge (disjoint partitions) or the loser aborts
  * cleanly with [[TopicLog.ConcurrentProduceException]]. (The
  * reference is a single-broker prototype; this is the piece a
  * multi-writer 100 TB deployment adds.)
  */
class TopicLog private (
    val spark: SparkSession,
    val root: String,
    val topic: String,
    val numPartitions: Int) {

  import TopicLog._

  def topicDir: String = s"$root/$topic"
  def dataDir: String = s"$topicDir/data"
  def hasPartition(p: Int): Boolean = TopicLog.hasPartition(p, numPartitions)

  private def offsetsFile = Paths.get(s"$topicDir/_offsets.json")
  private def groupFile(group: String) = Paths.get(s"$topicDir/_groups/$group.json")

  /** Test hook: simulate a crash after data files land in the live
    * tree but before the manifest commit (the window the manifest
    * protocol exists to make safe). */
  private[graft] var failpointBeforeCommit: Boolean = false

  /** Test hook: runs between the data files landing in the live tree
    * and the manifest commit — lets a spec interleave a competing
    * producer deterministically. */
  private[graft] var interleaveHook: () => Unit = () => ()

  /** Produce: route records to partitions, assign per-partition
    * monotonic offsets continuing from the log end, append atomically.
    * `records` needs (value); (key, headers, ts) optional.
    *
    * Commit protocol (multi-writer / crash-safe):
    *  1. read the current manifest (bases = its log-end offsets);
    *  2. write the batch to a private `_staging/<uuid>` dir;
    *  3. move the staged files into `data/partition=N/` under unique
    *     names — INVISIBLE to readers until a manifest lists them;
    *  4. CAS-commit manifest version v+1 (atomic hard link — creation
    *     fails if another writer took the version). A concurrent
    *     commit that advanced a partition we wrote invalidates our
    *     baked-in offsets → the orphaned files are removed and
    *     [[TopicLog.ConcurrentProduceException]] is thrown (caller
    *     retries the produce); concurrent commits to DISJOINT
    *     partitions merge and both land.
    * A crash at any step leaves at worst unreferenced files (cleaned
    * by [[vacuum]]) — never drifted offsets or torn reads. */
  def produce(records: DataFrame, partitioner: Column = null,
      batchId: Option[Long] = None,
      writerEpoch: Option[(String, Long)] = None): Map[Int, Long] = {
    val p = Option(partitioner).getOrElse(Partitioners.byKeyHash(numPartitions))
    val m0 = ensureManifest()
    val base = m0.ends
    val withMissing = Seq(
      "key" -> lit(null).cast(BinaryType),
      "headers" -> lit(null).cast(MapType(StringType, BinaryType)),
      "ts" -> current_timestamp())
      .foldLeft(records) { case (df, (c, default)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, default)
      }
    val baseDf = spark.createDataFrame(
      (0 until numPartitions).map(i => (i, base.getOrElse(i, 0L)))).toDF("partition", "base")
    val w = Window.partitionBy("partition").orderBy("_seq")
    // LEFT join: a partitioner routing outside [0, numPartitions) gets
    // a null base, which the count below turns into an error — an
    // inner join would silently LOSE those records (Kafka errors such
    // produce requests too)
    val assigned = withMissing
      .withColumn("partition", p.cast(IntegerType))
      .withColumn("_seq", monotonically_increasing_id())
      .join(broadcast(baseDf), Seq("partition"), "left")
      .withColumn("offset", col("base") + row_number().over(w) - 1)
      .select("key", "value", "headers", "ts", "partition", "offset", "base")
      .persist()
    try {
      val countRows = assigned.groupBy("partition")
        .agg(count(lit(1)).as("n"), count(col("base")).as("routed"))
        .collect()
      // a partitioner can yield NULL (e.g. hashing a null key column)
      // — diagnose it like any other bad route, not as an opaque NPE
      require(!countRows.exists(_.isNullAt(0)),
        s"produce partitioner produced NULL partition values (topic $topic); " +
          "route null keys explicitly or filter them out")
      val counts = countRows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val bad = counts.collect { case (part, n, routed) if routed < n => part }
      require(bad.isEmpty,
        s"produce routed to nonexistent partition(s) ${bad.sorted.mkString(",")} " +
          s"(topic $topic has $numPartitions)")
      val countsByPart = counts.map { case (part, n, _) => part -> n }.toMap
      val staging = Paths.get(s"$topicDir/_staging/${java.util.UUID.randomUUID()}")
      val moved = try {
        assigned
          .drop("base")
          .sortWithinPartitions("offset") // offset-sorted files → row-group skipping
          .write.partitionBy("partition").parquet(staging.toString)
        moveStagedFiles(staging)
      } finally deleteRecursively(staging)
      if (failpointBeforeCommit)
        throw new IllegalStateException("failpoint: crash before manifest commit")
      interleaveHook()
      // Advance ONLY the partitions this produce wrote: a full-map
      // rebuild from the (possibly stale) m0 bases would, on a
      // disjoint-partition merge, overwrite a concurrent producer's
      // already-committed log-ends with the stale values — rewinding
      // its log end and re-assigning its offsets on the next produce.
      val newEnds = countsByPart.collect {
        case (p, n) if n > 0 => p -> (base.getOrElse(p, 0L) + n)
      }
      commitWithRetry(m0, moved.map(_._1),
        moved.map { case (rel, lo, hi) => rel -> (lo, hi) }.toMap,
        countsByPart.filter(_._2 > 0), newEnds, batchId, writerEpoch).ends
    } finally assigned.unpersist()
  }

  /** Driver-direct produce for PRE-ROUTED record batches — the wire
    * path's write, where a request carries a few thousand rows and a
    * Spark job is pure scheduling overhead. One offset-sorted parquet
    * file per partition is written with parquet-hadoop ON THE DRIVER
    * (no Spark job), straight into `data/partition=N/` under a unique
    * name (there is no Spark output directory to stage and move), then
    * the append rides the SAME CAS manifest commit as [[produce]] —
    * identical durability and concurrency semantics, including losing
    * a conflicting race with [[TopicLog.ConcurrentProduceException]]
    * for the caller to retry. A write that fails deletes the request's
    * files.
    * Rows arrive in REQUEST order as (partition, key, value, headers,
    * timestampMs); offsets assign per partition in that order.
    * Once the commit lands, each written file's records also enter
    * the in-memory log tail ([[TopicLog.readDirect]]), which keeps
    * the key, value and header arrays given here: callers must not
    * mutate them afterwards. Returns the committed log-end offsets. */
  def produceDirect(rows: Seq[(Int, Array[Byte], Array[Byte],
      Map[String, Array[Byte]], Long)]): Map[Int, Long] = {
    val m0 = ensureManifest()
    if (rows.isEmpty) return m0.ends
    val bad = rows.iterator.map(_._1).filter(p => !hasPartition(p))
      .toSeq.distinct
    require(bad.isEmpty,
      s"produceDirect routed to nonexistent partition(s) " +
        s"${bad.sorted.mkString(",")} (topic $topic has $numPartitions)")
    val base = m0.ends
    // groupBy preserves encounter order within each group, so a
    // request listing a partition twice appends in request order; the
    // writer assigns offsets base..base+n-1, so each file's range is
    // known here and needs no footer read after the write
    val byPart = rows.groupBy(_._1)
    val files = byPart.toSeq.map { case (p, rs) =>
      (s"partition=$p/part-direct-${java.util.UUID.randomUUID()}.parquet",
        base.getOrElse(p, 0L), rs)
    }
    // each file goes straight to its final, uniquely named place:
    // no manifest lists it yet, so readers cannot see it
    val dd = Paths.get(dataDir)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // per-partition files are independent — write them concurrently,
      // and let every write end before a failure removes them
      val writes = files.map { case (rel, b, rs) =>
        Future {
          val f = dd.resolve(rel)
          Files.createDirectories(f.getParent)
          TopicLog.writeDirect(f,
            rs.iterator.zipWithIndex.map { case ((_, k, v, h, ts), i) =>
              (b + i, k, v, h, ts)
            })
        }
      }
      val outcomes = writes.map(w => Await.ready(w, Duration.Inf).value.get)
      outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach { e =>
        files.foreach { case (rel, _, _) =>
          try Files.deleteIfExists(dd.resolve(rel))
          catch { case c: java.io.IOException => e.addSuppressed(c) }
        }
        throw e
      }
    }
    if (failpointBeforeCommit)
      throw new IllegalStateException("failpoint: crash before manifest commit")
    interleaveHook()
    val counts = byPart.map { case (p, rs) => p -> rs.size.toLong }
    val newEnds = counts.map { case (p, n) => p -> (base.getOrElse(p, 0L) + n) }
    val ends = commitWithRetry(m0, files.map(_._1),
      files.map { case (rel, b, rs) => rel -> (b, b + rs.size - 1) }.toMap,
      counts, newEnds, None).ends
    // committed files are immutable and uniquely named, so their
    // records may be served from memory from here on
    files.foreach { case (rel, b, rs) =>
      TopicLog.fillTail(Paths.get(dataDir).resolve(rel),
        rs.iterator.zipWithIndex.map { case ((_, k, v, h, ts), i) =>
          DirectRecord(b + i, ts, k, v,
            if (h == null) Seq.empty else h.toSeq.sortBy(_._1))
        }.toArray)
    }
    ends
  }

  /** Move every staged parquet file (per partition=N subdir) that a
    * Spark write left under `staging` into the live tree under a
    * unique name; returns manifest-relative paths with each file's
    * [min,max] offset range, read once from its footer here at produce
    * time, so every future PLANNING pass can prune by offset without
    * opening any file. The caller removes the staging dir. */
  private def moveStagedFiles(staging: Path): Seq[(String, Long, Long)] = {
    val moved = TopicLog.listDir(staging).iterator
      .filter(_.getFileName.toString.startsWith("partition="))
      .flatMap { d =>
        val pdir = d.getFileName.toString
        Files.createDirectories(Paths.get(dataDir).resolve(pdir))
        TopicLog.listDir(d).iterator
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val rel = s"$pdir/${f.getFileName}"
            val dest = Paths.get(dataDir).resolve(rel)
            Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE)
            (rel, dest)
          }
      }.toSeq
    // footer reads are independent per file — read them concurrently
    // (one produce can stage one file per partition)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.traverse(moved) { case (rel, dest) =>
        Future { val (lo, hi) = TopicLog.offsetRangeOf(dest); (rel, lo, hi) }
      }, Duration.Inf)
  }

  /** CAS-commit loop: retry on version races; abort (and remove our
    * files) if a concurrent commit advanced a partition we wrote.
    * `newEnds` must cover ONLY the partitions this commit wrote; the
    * merge takes the per-partition max so a concurrent commit's
    * advances on OTHER partitions are never rewound. Returns the
    * manifest that actually landed. */
  private def commitWithRetry(m0: Manifest, newFiles: Seq[String],
      newRanges: Map[String, (Long, Long)],
      written: Map[Int, Long], newEnds: Map[Int, Long],
      batchId: Option[Long], writerEpoch: Option[(String, Long)] = None): Manifest = {
    var cur = currentManifest().getOrElse(m0)
    while (true) {
      val conflicted = cur.version != m0.version &&
        written.keys.exists(p => cur.ends.getOrElse(p, 0L) != m0.ends.getOrElse(p, 0L))
      if (conflicted) {
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(dataDir).resolve(f)))
        throw new TopicLog.ConcurrentProduceException(topic, m0.version, cur.version)
      }
      val mergedEnds = cur.ends ++ newEnds.map { case (p, e) =>
        p -> math.max(e, cur.ends.getOrElse(p, 0L))
      }
      val writers = (cur.writerEpochs ++ writerEpoch.map { case (id, e) =>
        id -> WriterState(e, cur.version + 1)
      }).filter { case (_, ws) =>
        ws.lastVersion > cur.version + 1 - TopicLog.WriterRetirementVersions
      }
      val next = Manifest(cur.version + 1, cur.files ++ newFiles,
        mergedEnds, batchId.orElse(cur.lastBatchId), writers,
        cur.fileRanges ++ newRanges)
      // Delta commit: O(batch) bytes, not O(topic). Every
      // CheckpointInterval-th version is a full snapshot so readers
      // resolve at most that many deltas and vacuum can retire
      // history behind it.
      val snapshot = next.version % TopicLog.CheckpointInterval == 0
      val body =
        if (snapshot) TopicLog.renderManifest(next)
        else TopicLog.renderDelta(next, newFiles, newRanges)
      try {
        manifests.link(next.version, body)
        // the next resolve starts from the version just linked, exactly
        // as a cold resolve reads it back: a snapshot keeps only the
        // ranges of its listed files
        val landed =
          if (!snapshot) next
          else {
            val live = next.files.toSet
            next.copy(fileRanges = next.fileRanges.filter(kv => live(kv._1)))
          }
        TopicLog.remember(manifestsDir, new TopicLog.Resolved(next.version,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8), landed))
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          cur = currentManifest().getOrElse(cur) // lost the version race; re-check
      }
    }
    throw new IllegalStateException("unreachable: CAS loop exits via return or throw")
  }

  /** Remove data files no manifest references (crash leftovers), and
    * retire manifest versions older than the newest `keepManifests`.
    * Each manifest is a SELF-CONTAINED snapshot (full file list +
    * ends), so old versions exist only for CAS ordering — a writer
    * holding a retired base version simply conflicts against the
    * current one, exactly as it would have anyway.
    *
    * `minAgeMs` (Delta-VACUUM-style): only unreferenced files whose
    * mtime is at least this old are deleted. An in-flight produce
    * puts its files in the live tree BEFORE the manifest commit
    * ([[produceDirect]] writes them there, the Spark paths move them
    * in from staging) — to a concurrent vacuum those look exactly like
    * crash orphans, and deleting them would let the producer commit a
    * manifest pointing at missing files. Fresh files are therefore
    * presumed in-flight; pass 0 only when no producer can be active
    * (tests, cold cleanup). */
  def vacuum(keepManifests: Int = 10,
      minAgeMs: Long = TopicLog.DefaultVacuumMinAgeMs): Int = {
    import scala.jdk.CollectionConverters._
    val live = currentManifest().map(_.files.toSet).getOrElse(return 0)
    val dd = Paths.get(dataDir)
    if (!Files.exists(dd)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = TopicLog.walkPaths(dd)
      .filter(f => f.toString.endsWith(".parquet") && !live.contains(dd.relativize(f).toString))
      .filter(f => Files.getLastModifiedTime(f).toMillis <= cutoff)
      .toList
    orphans.foreach(Files.delete)
    retireHistory(keepManifests)
    orphans.size
  }

  /** The manifest half of [[vacuum]]: checkpoint first so the newest
    * version is a full snapshot, then delete versions older than the
    * newest `keepManifests` — but NEVER at or above the anchor
    * snapshot the current state resolves from (deltas above it would
    * dangle). Touches only `_manifests`, never the data dir, so it is
    * safe beside produces (the checkpoint is a CAS commit) and beside
    * rewrites; a resolve racing it re-lists. Returns the versions
    * deleted. */
  def retireHistory(keepManifests: Int = 10): Int = {
    checkpoint()
    val versions = manifests.versions.sorted
    val anchor = versions.reverse
      .find(v => TopicLog.isSnapshotVersion(manifestsDir, v)).getOrElse(0L)
    val retired = versions.dropRight(math.max(keepManifests, 1))
      .filter(_ < anchor)
    retired.foreach(v => Files.deleteIfExists(manifests.file(v)))
    retired.size
  }

  /** Replica/follower append path: records that ALREADY carry
    * (partition, offset) are appended verbatim — the path a replica
    * fetching from a leader uses (offsets assigned upstream), and the
    * way to materialize a topic with externally-deterministic offsets.
    * Caller owns offset monotonicity. Same staged-move + manifest
    * commit as [[produce]]. */
  def produceAssigned(records: DataFrame): Map[Int, Long] = {
    val m0 = ensureManifest()
    val withMissing = Seq(
      "key" -> lit(null).cast(BinaryType),
      "headers" -> lit(null).cast(MapType(StringType, BinaryType)),
      "ts" -> current_timestamp())
      .foldLeft(records) { case (df, (c, default)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, default)
      }
    val staging = Paths.get(s"$topicDir/_staging/${java.util.UUID.randomUUID()}")
    val df = withMissing
      .select("key", "value", "headers", "ts", "partition", "offset")
      .persist()
    try {
      val newEndsRows = df.groupBy("partition").agg(max("offset").as("m")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1) + 1L)).toMap
      val moved = try {
        df.sortWithinPartitions("offset")
          .write.partitionBy("partition").parquet(staging.toString)
        moveStagedFiles(staging)
      } finally deleteRecursively(staging)
      // only the written partitions' ends — commitWithRetry max-merges
      // them into whatever manifest is current at commit time
      val newEnds = newEndsRows.map { case (p, e) =>
        p -> math.max(e, m0.ends.getOrElse(p, 0L))
      }
      commitWithRetry(m0, moved.map(_._1),
        moved.map { case (rel, lo, hi) => rel -> (lo, hi) }.toMap,
        newEndsRows.map { case (p, _) => p -> 1L },
        newEnds, batchId = None).ends
    } finally df.unpersist()
  }

  /** Fetch: bounded read from (partition, fromOffset). Partition-dir
    * pruned + offset row-group skipped. */
  def consume(partition: Int, fromOffset: Long, maxRecords: Int = Int.MaxValue): DataFrame =
    read()
      .filter(col("partition") === partition && col("offset") >= fromOffset)
      .orderBy("offset")
      .limit(maxRecords)

  /** Driver-direct range read: up to `maxRecords` records of
    * `partition` with offset in [fromOffset, toOffset], hydrated by
    * DIRECT reads of the manifest files whose recorded offset ranges
    * cover the span — ZERO Spark jobs. A covering file this process's
    * [[produceDirect]] committed is served from the in-memory log
    * tail ([[TopicLog.readDirect]]) with no file I/O; any other costs
    * one footer + scan, with the offset bounds compiled to a parquet
    * FilterPredicate (row-group stats skip + record-level filter, the
    * same mechanism the DSv2 reader pushes down,
    * `GraftTopicFileReader.offsetPredicate`). This is the wire fetch
    * path's read: a ShareFetch/Fetch of a committed range costs file
    * I/O proportional to the range, not a ~0.4 s Spark job per
    * (partition × window). None when the manifest is absent or any
    * candidate file lacks a recorded range (pre-range manifests) —
    * the caller falls back to the Spark path. Callers must hold the
    * same reader exclusion as the Spark path (the broker's
    * maintenance read-lock) so compaction cannot rewrite files
    * mid-read. */
  def consumeDirect(partition: Int, fromOffset: Long, maxRecords: Int,
      toOffset: Long = Long.MaxValue): Option[Seq[TopicLog.DirectRecord]] =
    consumeDirectIn(currentManifest(), partition, fromOffset, maxRecords,
      toOffset)

  /** [[consumeDirect]] against a manifest the caller already resolved:
    * a wire request resolves once and reads every partition from it. */
  private[streaming] def consumeDirectIn(manifest: Option[TopicLog.Manifest],
      partition: Int, fromOffset: Long, maxRecords: Int,
      toOffset: Long): Option[Seq[TopicLog.DirectRecord]] = {
    if (maxRecords <= 0 || toOffset < fromOffset)
      return if (manifest.isDefined) Some(Seq.empty) else None
    manifest.flatMap { m =>
      val prefix = s"partition=$partition/"
      val mine = m.files.filter(_.startsWith(prefix))
      val ranged = mine.map(f => m.fileRanges.get(f).map(r => (f, r._1, r._2)))
      if (ranged.exists(_.isEmpty)) None
      else {
        val candidates = ranged.flatten
          .filter { case (_, lo, hi) => hi >= fromOffset && lo <= toOffset }
          .sortBy(_._2)
        val out = scala.collection.mutable.ArrayBuffer.empty[TopicLog.DirectRecord]
        // candidates ascend by first offset and produce files do not
        // overlap, so the records usually arrive in offset order: sort
        // only when they did not
        def sortOut(): Unit = {
          var i = 1
          while (i < out.length && out(i - 1).offset <= out(i).offset) i += 1
          if (i < out.length) out.sortInPlaceBy(_.offset)
        }
        // once maxRecords are in hand, files starting past the k-th
        // smallest collected offset cannot improve the answer — with
        // the usual non-overlapping produce files this stops after
        // the first file(s) covering the window
        var kth = Long.MaxValue
        candidates.foreach { case (f, lo, _) =>
          if (lo <= kth) {
            out ++= TopicLog.readDirect(
              Paths.get(dataDir).resolve(f), fromOffset,
              math.min(toOffset, kth))
            if (out.size >= maxRecords) {
              sortOut()
              kth = out(maxRecords - 1).offset
            }
          }
        }
        sortOut()
        if (out.length > maxRecords) out.dropRightInPlace(out.length - maxRecords)
        Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray))
      }
    }
  }

  /** The wire-serving read: [[consumeDirect]] when the manifest
    * carries ranges, else the Spark path materialized to the same
    * shape (legacy pre-range topics only). */
  def consumeForWire(partition: Int, fromOffset: Long, maxRecords: Int,
      toOffset: Long = Long.MaxValue): Seq[TopicLog.DirectRecord] =
    consumeForWireIn(currentManifest(), partition, fromOffset, maxRecords,
      toOffset)

  /** [[consumeForWire]] against a manifest the caller already resolved
    * ([[consumeDirectIn]]). */
  private[streaming] def consumeForWireIn(manifest: Option[TopicLog.Manifest],
      partition: Int, fromOffset: Long, maxRecords: Int,
      toOffset: Long): Seq[TopicLog.DirectRecord] =
    consumeDirectIn(manifest, partition, fromOffset, maxRecords, toOffset)
      .getOrElse {
        consume(partition, fromOffset, maxRecords)
          .filter(col("offset") <= toOffset)
          .select("offset", "key", "value", "headers", "ts").collect().toSeq
          .map { r =>
            TopicLog.DirectRecord(r.getAs[Long]("offset"),
              Option(r.getAs[java.sql.Timestamp]("ts")).map(_.getTime)
                .getOrElse(-1L),
              r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value"),
              Option(r.getAs[Map[String, Array[Byte]]]("headers"))
                .map(_.toSeq.sortBy(_._1)).getOrElse(Seq.empty))
          }
      }

  /** TIME-TRAVEL read: the topic AS OF manifest version `version` —
    * exactly the files that committed snapshot listed (every manifest
    * is resolvable on its own: snapshot anchor + forward deltas), so
    * a reader can pin an audit, a reproducible training run, or a
    * diff against any still-retained version. History is bounded by
    * [[TopicLog.vacuum]]'s `keepManifests` (the Iceberg
    * expire-snapshots contract): a retired version answers None →
    * empty frame here. Zero Spark jobs resolve the manifest; the read
    * itself is the same pruned parquet scan as [[read]]. */
  def readAt(version: Long): DataFrame =
    TopicLog.resolveManifestAt(manifestsDir, version) match {
      case Some(m) if m.files.nonEmpty =>
        spark.read.schema(readSchema)
          .option("basePath", dataDir)
          .parquet(m.files.map(f => s"$dataDir/$f"): _*)
      case _ =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema)
    }

  /** Committed manifest versions still on disk, ascending — the
    * time-travel catalog ([[readAt]] accepts any of these). */
  def manifestVersions(): Seq[Long] = manifests.versions.sorted

  /** Read the whole log (all partitions) as a DataFrame — only files
    * the current manifest references (uncommitted/orphaned files are
    * invisible); falls back to a plain dir scan for pre-manifest
    * topics. */
  def read(): DataFrame = currentManifest() match {
    case Some(m) if m.files.isEmpty =>
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema)
    case Some(m) =>
      spark.read.schema(readSchema)
        .option("basePath", dataDir)
        .parquet(m.files.map(f => s"$dataDir/$f"): _*)
    case None =>
      if (!Files.exists(Paths.get(dataDir)))
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema)
      else spark.read.schema(readSchema).parquet(dataDir)
  }

  /** Earliest EXISTING offset per partition (Kafka log-start offset):
    * the minimum of the manifest's per-file offset ranges — after
    * time-based retention removed leading records this is NOT 0.
    * Partitions with no ranged files (legacy manifests) answer 0. */
  def logStartOffsets(): Map[Int, Long] = currentManifest() match {
    case None => Map.empty
    case Some(m) =>
      val byPart = m.fileRanges.toSeq
        .flatMap { case e @ (rel, _) => TopicLog.partitionOf(rel).map(_ -> e) }
        .groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }
      (0 until numPartitions).map { p =>
        p -> byPart.get(p).map(_.map(_._2._1).min).getOrElse(0L)
      }.toMap
  }

  /** On-disk bytes per partition (what DescribeLogDirs reports):
    * manifest-listed files only, so the size readers can actually
    * reach — uncommitted staging and orphans don't count, exactly as
    * Kafka's log size excludes un-indexed segments. A file racing a
    * concurrent vacuum reads as 0 rather than failing the listing. */
  def partitionSizes(only: Option[Set[Int]] = None): Map[Int, Long] = {
    // partitionOf guards the prefix parse: a manifest entry not shaped
    // partition=N/... is skipped, matching the defensive Files.size stat
    // below (a malformed name must not fail the whole listing)
    val sized = currentManifest().map(_.files).getOrElse(Seq.empty)
      .groupBy(f => TopicLog.partitionOf(f))
      .collect { case (Some(p), files) if only.forall(_(p)) =>
        // restricting to the asked partitions keeps a 1-partition
        // admin probe from stat-ing the whole topic's file set
        p -> files.map { f =>
          try Files.size(Paths.get(s"$dataDir/$f")) catch {
            case _: java.io.IOException => 0L
          }
        }.sum
      }
    (0 until numPartitions).filter(p => only.forall(_(p)))
      .map(p => p -> sized.getOrElse(p, 0L)).toMap
  }

  /** Next offset to be written, per partition (Kafka log-end offset).
    * Manifest ends when present; legacy offsets-file / data-scan
    * fallback otherwise. */
  def logEndOffsets(): Map[Int, Long] =
    currentManifest().map(_.ends).orElse(readOffsetMap(offsetsFile)).getOrElse {
      if (!Files.exists(Paths.get(dataDir))) Map.empty
      else read().groupBy("partition").agg(max("offset").as("m")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1) + 1L)).toMap
    }

  // --- manifest protocol ---

  import TopicLog.Manifest

  private def manifestsDir = Paths.get(s"$topicDir/_manifests")
  private def manifests = new VersionedDir(manifestsDir)

  private[streaming] def currentManifest(): Option[Manifest] =
    TopicLog.resolveManifest(manifestsDir)

  /** Lazily migrate a pre-manifest topic: snapshot the current dir
    * listing + legacy offsets as manifest v0. */
  private def ensureManifest(): Manifest = currentManifest().getOrElse {
    import scala.jdk.CollectionConverters._
    val dd = Paths.get(dataDir)
    val files =
      if (!Files.exists(dd)) Seq.empty[String]
      else TopicLog.walkPaths(dd)
        .filter(_.toString.endsWith(".parquet"))
        .map(f => dd.relativize(f).toString).sorted
    val lastBatch = {
      val marker = Paths.get(s"$topicDir/_last_batch.json")
      if (Files.exists(marker))
        "(-?\\d+)".r.findFirstIn(Files.readString(marker)).map(_.toLong)
      else None
    }
    val m = Manifest(0L, files, logEndOffsets(), lastBatch)
    try commitManifest(m)
    catch { case _: java.nio.file.FileAlreadyExistsException => }
    currentManifest().get
  }

  /** CAS-publish one manifest version — fails if that version already
    * exists (another writer won). */
  private def commitManifest(m: Manifest): Unit =
    manifests.link(m.version, TopicLog.renderManifest(m))

  /** Materialize the current state as a full-snapshot version (a
    * CHECKPOINT) if the newest version is a delta: bounds how far back
    * readers must resolve and lets [[vacuum]] retire the history
    * behind it. CAS-safe against concurrent producers. */
  def checkpoint(): Unit = {
    var done = false
    while (!done) {
      currentManifest() match {
        case None => done = true
        case Some(cur) if TopicLog.isSnapshotVersion(manifestsDir, cur.version) =>
          done = true
        case Some(cur) =>
          try {
            commitManifest(Manifest(cur.version + 1, cur.files, cur.ends,
              cur.lastBatchId, cur.writerEpochs, cur.fileRanges))
            done = true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => () // producer won; re-resolve
          }
      }
    }
  }

  // --- consumer groups (ref roadmap: Consumer API) ---

  /** Commit consumed-up-to offsets for a group — CAS-versioned, like
    * the manifest: a bare read-modify-write of a shared file would
    * lose updates when two consumers of the same group commit
    * DISJOINT partitions concurrently (the same hazard the produce
    * merge fixes). The writer's partitions win outright (Kafka
    * semantics — a commit may rewind), other partitions are preserved
    * from whatever version is current at link time. */
  def commit(group: String, offsets: Map[Int, Long]): Unit = {
    val dir = groupDir(group)
    var done = false
    while (!done) {
      val (v, cur) = committedVersioned(group)
      try {
        dir.link(v + 1, renderOffsetMap(cur ++ offsets))
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the race; re-merge
      }
    }
    // retire old versions best-effort; readers only ever read the max
    dir.versions.sorted.dropRight(10).foreach(old => Files.deleteIfExists(dir.file(old)))
  }

  def committed(group: String): Map[Int, Long] = committedVersioned(group)._2

  /** Delete a group's committed offsets for the given partitions —
    * the OffsetDelete (key 47) primitive. Same CAS loop as
    * [[commit]] (one versioned file per state change, link-or-retry
    * under races), writing the map MINUS the named partitions. */
  def deleteOffsets(group: String, partitions: Seq[Int]): Unit = {
    var done = false
    while (!done) {
      val (v, cur) = committedVersioned(group)
      val remaining = cur -- partitions
      if (remaining == cur) done = true // nothing committed for these
      else
        try {
          groupDir(group).link(v + 1, renderOffsetMap(remaining))
          done = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => () // lost the race
        }
    }
  }

  /** Delete a group's ENTIRE offset state on this topic — the
    * DeleteGroups (key 42) primitive. The admin contract (the broker
    * rejects deletion of a group with live members first) makes a
    * racing committer misuse, so plain file deletion suffices where
    * [[deleteOffsets]] needs the CAS loop; a commit racing anyway
    * simply recreates the group, which is also Kafka's outcome. */
  def deleteGroup(group: String): Unit = {
    val dir = groupDir(group).dir
    if (Files.exists(dir)) {
      TopicLog.listDir(dir).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(dir)
    }
    Files.deleteIfExists(groupFile(group))
  }

  private def groupDir(group: String) =
    new VersionedDir(Paths.get(s"$topicDir/_groups/$group"))

  /** (current version, offsets); version -1 with the legacy flat-file
    * (or empty) content for pre-versioned groups. */
  private def committedVersioned(group: String): (Long, Map[Int, Long]) = {
    val dir = groupDir(group)
    dir.latest match {
      case Some(v) =>
        (v, readOffsetMap(dir.file(v)).getOrElse(Map.empty))
      case None =>
        (-1L, readOffsetMap(groupFile(group)).getOrElse(Map.empty))
    }
  }

  /** Per-partition lag of a group vs the log end. */
  def lag(group: String): Map[Int, Long] = {
    val c = committed(group)
    logEndOffsets().map { case (p, end) => p -> (end - c.getOrElse(p, 0L)) }
  }

  /** Consume everything a group hasn't seen, across partitions. */
  def consumeNew(group: String): DataFrame = {
    val c = committed(group)
    val committedDf = spark.createDataFrame(
      (0 until numPartitions).map(i => (i, c.getOrElse(i, 0L)))).toDF("partition", "committed")
    read().join(broadcast(committedDf), "partition")
      .filter(col("offset") >= col("committed"))
      .drop("committed")
  }

  // --- log maintenance (ref roadmap: Topic Management) ---

  /** Kafka log compaction: keep only the latest record per key.
    * One shuffle (window by key within partition), atomic dir swap.
    * Records the post-compaction size as the cleaner checkpoint
    * [[dirtyRatio]] measures against. */
  def compact(): Unit = {
    rewrite { df =>
      val w = Window.partitionBy("partition", "key").orderBy(col("offset").desc)
      df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    recordClean()
  }

  private def cleanerFile = Paths.get(s"$topicDir/_cleaner.json")

  /** Total manifest-referenced bytes at the last [[compact]] — the
    * cleaner checkpoint (Kafka: the cleaner's log-cleaner-checkpoint
    * offset; size is the graft analog since offsets survive
    * compaction here). 0 for a never-compacted topic. */
  def sizeAtLastClean: Long =
    if (!Files.exists(cleanerFile)) 0L
    else """"size_at_clean":(\d+)""".r
      .findFirstMatchIn(Files.readString(cleanerFile))
      .map(_.group(1).toLong).getOrElse(0L)

  /** Kafka's min.cleanable.dirty.ratio metric, adapted: the fraction
    * of the log's current bytes accumulated since the last
    * compaction. 0 for an empty log; clamped when retention shrank
    * the log below its checkpoint. */
  def dirtyRatio: Double = {
    val total = partitionSizes().values.sum
    if (total <= 0L) 0.0
    else (total - math.min(sizeAtLastClean, total)).toDouble / total
  }

  private def recordClean(): Unit = {
    val total = partitionSizes().values.sum
    val tmp = Files.createTempFile(Paths.get(topicDir), ".tmp", ".json")
    Files.writeString(tmp, s"""{"size_at_clean":$total}""")
    Files.move(tmp, cleanerFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Time-based retention: drop records older than the cutoff. */
  def expire(olderThan: java.sql.Timestamp): Unit =
    rewrite(_.filter(col("ts") >= lit(olderThan)))

  /** Size-based retention (`retention.bytes`), Kafka's shape: per
    * partition, shed the OLDEST produce files — whole files, the way
    * Kafka deletes whole segments — until what remains fits
    * `capBytes`; the newest file always survives (the active-segment
    * rule, so a single oversized file can't empty the log). File
    * age order is the manifest's per-file offset ranges; a partition
    * with any range-less file (pre-range manifests) is skipped
    * rather than guessed at. Returns the per-partition first
    * surviving offsets applied; survivors keep their offsets. One
    * rewrite covers every capped partition. */
  def enforceSizeRetention(capBytes: Long): Map[Int, Long] = {
    if (capBytes <= 0) return Map.empty
    val m = currentManifest().getOrElse(return Map.empty)
    val cuts: Map[Int, Long] = m.files
      .groupBy(f => TopicLog.partitionOf(f))
      .collect { case (Some(p), files) => p -> files }
      .flatMap { case (p, files) =>
        val sized = files.map { f =>
          val sz = try Files.size(Paths.get(s"$dataDir/$f"))
            catch { case _: java.io.IOException => 0L }
          (f, sz, m.fileRanges.get(f))
        }
        if (sized.exists(_._3.isEmpty)) None
        else {
          val sorted = sized.map { case (f, sz, r) => (f, sz, r.get) }
            .sortBy(_._3._1)
          var total = sorted.map(_._2).sum
          var cut = -1L
          var i = 0
          while (total > capBytes && i < sorted.length - 1) {
            total -= sorted(i)._2
            cut = sorted(i)._3._2 + 1
            i += 1
          }
          if (cut >= 0) Some(p -> cut) else None
        }
      }
    if (cuts.nonEmpty)
      rewrite(df => df.filter(
        cuts.foldLeft(lit(true)) { case (keep, (p, cut)) =>
          keep && !(col("partition") === p && col("offset") < cut)
        }))
    cuts
  }

  /** Small-file compaction: rewrite the log's CONTENT-IDENTICAL data
    * into one coalesced, offset-sorted file set per partition and
    * re-point the manifest. Frequent small produces accumulate one
    * file per produce per partition — the classic small-file problem;
    * at 100 TB this runs per partition with no shuffle (partitionBy
    * write preserves the dir layout) on whatever cadence the operator
    * chooses. Offsets, records, and log-ends are unchanged. */
  def compactFiles(): Unit = rewrite(identity)

  /** DeleteRecords analog: truncate a partition's log below the given
    * offset (records with offset < beforeOffset are removed; offsets
    * of survivors are untouched, as in Kafka). */
  def truncateBefore(partition: Int, beforeOffset: Long): Unit =
    rewrite(df => df.filter(col("partition") =!= partition ||
      col("offset") >= beforeOffset))

  /** auto.offset.reset=earliest: rewind the group to offset 0. */
  def seekToBeginning(group: String): Unit =
    commit(group, (0 until numPartitions).map(_ -> 0L).toMap)

  /** auto.offset.reset=latest: fast-forward the group to the log end. */
  def seekToEnd(group: String): Unit = {
    val ends = logEndOffsets()
    commit(group, (0 until numPartitions).map(p => p -> ends.getOrElse(p, 0L)).toMap)
  }

  /** Groups that have committed offsets on this topic. */
  def listGroups(): Seq[String] = {
    val dir = Paths.get(s"$topicDir/_groups")
    if (!Files.exists(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      TopicLog.listDir(dir).iterator
        .map(_.getFileName.toString.stripSuffix(".json"))
        .toSeq.distinct.sorted // dir (versioned) and legacy flat file may coexist
    }
  }

  /** Maintenance rewrites (compaction/retention/truncate/compactFiles)
    * swap the whole data dir; they assume a single maintenance owner
    * with no CONCURRENT PRODUCERS during the swap (Kafka's log cleaner
    * holds the same role). Concurrent producers are safe against each
    * other (manifest CAS), but not against a simultaneous dir swap.
    * Every file is replaced, so the topic's log-tail entries go too. */
  private def rewrite(f: DataFrame => DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val m0 = ensureManifest()
    val tmp = s"$topicDir/_data_rewrite"
    f(read())
      .sortWithinPartitions("offset")
      .write.mode("overwrite").partitionBy("partition").parquet(tmp)
    TopicLog.evictTail(topicDir)
    deleteRecursively(Paths.get(dataDir))
    Files.move(Paths.get(tmp), Paths.get(dataDir), StandardCopyOption.ATOMIC_MOVE)
    // re-point the manifest at the rewritten file set; log-end offsets
    // are unchanged (compaction/retention never rewind the log end)
    val dd = Paths.get(dataDir)
    val files = TopicLog.walkPaths(dd)
      .filter(_.toString.endsWith(".parquet"))
      .map(f => dd.relativize(f).toString).sorted
    val ranges = files.map(rel => rel -> TopicLog.offsetRangeOf(dd.resolve(rel))).toMap
    var cur = currentManifest().getOrElse(m0)
    var done = false
    while (!done) {
      try {
        commitManifest(Manifest(cur.version + 1, files, cur.ends,
          cur.lastBatchId, cur.writerEpochs, ranges))
        done = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          cur = currentManifest().getOrElse(cur)
      }
    }
  }

  // --- Structured Streaming (ref roadmap: Producer/Consumer API, streaming form) ---

  /** Incremental streaming read of the topic through the
    * manifest-aware DSv2 source: stream offsets ARE committed
    * manifest log-ends, so a batch can never contain uncommitted
    * files. (Round-2's raw parquet file tailing could read a file
    * that a losing producer was about to delete, or emit records a
    * retried produce later reassigns — phantom data at duplicate
    * coordinates.) `maxRecordsPerTrigger` bounds batch size under
    * backlog. */
  def readStream(maxRecordsPerTrigger: Long = 1000000L): DataFrame =
    spark.readStream
      .format("graft-topic")
      .option("maxOffsetsPerTrigger", maxRecordsPerTrigger)
      .load(topicDir)

  /** Streaming produce into this topic via foreachBatch. Effectively
    * exactly-once: the checkpoint replays a failed micro-batch with
    * the SAME batchId, and the topic records the last applied batchId
    * (`_last_batch.json`) so replays are skipped instead of appended
    * twice. (Same idempotent-producer idea as Kafka's sequence
    * numbers, applied at micro-batch granularity.) */
  def produceStream(records: DataFrame, checkpointDir: String,
      partitioner: Column = null): StreamingQuery = {
    // The replay guard is scoped to THIS query's checkpoint, not the
    // topic-global batch slot: the checkpoint directory IS the replay
    // domain (a restart from it re-delivers the same batchIds), so a
    // different query writing to the same topic — whose batchIds
    // restart at 0 — is a different writer and must not be dropped
    // as a replay of this one.
    val writerId = s"cp:$checkpointDir"
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        produceIdempotentFor(writerId, batch, batchId, partitioner); ()
      }
      .start()
  }

  /** Apply a micro-batch once: skip if this batchId (or a later one)
    * was already applied. The batchId is committed IN the manifest, in
    * the same atomic swap as the data files — a crash can never apply
    * a batch without recording it (or vice versa). */
  def produceIdempotent(batch: DataFrame, batchId: Long,
      partitioner: Column = null): Boolean = {
    val last = ensureManifest().lastBatchId.getOrElse(-1L)
    if (batchId <= last) false
    else {
      produce(batch, partitioner, batchId = Some(batchId))
      true
    }
  }

  /** Writer-scoped idempotent produce: the replay guard keys on
    * (writerId, epoch), not the topic-global batch slot — so a SECOND
    * streaming query (fresh checkpoint, epochs restarting at 0)
    * writing to the same topic is NOT mistaken for a replay of the
    * first one and silently dropped. Writer ids are the streaming
    * query's id (stable across restarts from the same checkpoint,
    * which is exactly the replay domain). */
  def produceIdempotentFor(writerId: String, batch: DataFrame, epoch: Long,
      partitioner: Column = null): Boolean = {
    val last = ensureManifest().writerEpochs.get(writerId).map(_.epoch).getOrElse(-1L)
    if (epoch <= last) false
    else {
      produce(batch, partitioner, writerEpoch = Some(writerId -> epoch))
      true
    }
  }
}

object TopicLog {

  /** Partition index of a manifest-relative file path, None unless the
    * path is shaped `partition=N/...` — callers iterate manifest file
    * lists and must skip (not throw on) anything else. */
  private[graft] def partitionOf(rel: String): Option[Int] = {
    val seg = rel.takeWhile(_ != '/')
    if (seg.startsWith("partition=")) seg.stripPrefix("partition=").toIntOption
    else None
  }

  /** One committed snapshot of a topic: the exact file set readers may
    * see, the per-partition log-end offsets, and the last applied
    * streaming batch id — all swapped atomically per commit. */
  /** A streaming writer's replay guard: its last applied epoch and
    * the manifest version that applied it (the version doubles as a
    * logical clock for retiring long-gone writers). */
  case class WriterState(epoch: Long, lastVersion: Long)

  /** Writers whose last commit is older than this many versions are
    * retired from the manifest — without retirement every streaming
    * query id that EVER wrote would be re-rendered into every commit
    * forever (Kafka expires producer ids for the same reason). A
    * retired writer restarting treats its next epoch as new; replay
    * windows are bounded by checkpoint recovery, far below this. */
  private[graft] var WriterRetirementVersions: Long = 1000L // var: spec shrinks the horizon

  case class Manifest(version: Long, files: Seq[String], ends: Map[Int, Long],
      lastBatchId: Option[Long], writerEpochs: Map[String, WriterState] = Map.empty,
      fileRanges: Map[String, (Long, Long)] = Map.empty)

  /** Thrown when a concurrent producer advanced a partition this
    * produce also wrote; the produce's files are already removed —
    * retry the produce. */
  class ConcurrentProduceException(topic: String, baseVersion: Long, curVersion: Long)
    extends RuntimeException(
      s"topic $topic: concurrent produce (read manifest v$baseVersion, " +
        s"current is v$curVersion with overlapping partitions); retry")

  /** Default safety window for [[TopicLog.vacuum]]: unreferenced data
    * files younger than this are presumed to belong to an in-flight
    * produce (its files land in the live tree before the manifest
    * commit). */
  val DefaultVacuumMinAgeMs: Long = 15L * 60 * 1000

  /** Versions between full snapshots. Commit cost for a produce is
    * O(files in the batch); a reader resolves at most this many delta
    * files (each a few hundred bytes) on top of one snapshot. */
  private[graft] val CheckpointInterval: Long = 25L

  /** Materialize a directory listing, CLOSING the underlying stream —
    * a bare Files.list(...).iterator() leaks one directory fd per
    * call until GC, and a long-lived broker resolves the manifest on
    * every operation. */
  private[graft] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  /** Materialize a recursive walk, closing the stream (see listDir). */
  private[graft] def walkPaths(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  /** Per-writer streaming epochs as "epoch@lastVersion" (writer ids
    * are Spark query UUIDs / checkpoint paths — no JSON escaping
    * needed for either). */
  private def renderWriters(m: Manifest): String =
    if (m.writerEpochs.isEmpty) ""
    else m.writerEpochs.toSeq.sortBy(_._1)
      .map { case (w, ws) => s""""$w":"${ws.epoch}@${ws.lastVersion}"""" }
      .mkString(""","writers":{""", ",", "}")

  private def renderRanges(ranges: Map[String, (Long, Long)]): String =
    if (ranges.isEmpty) ""
    else ranges.toSeq.sortBy(_._1)
      .map { case (f, (lo, hi)) => s""""$f":"$lo,$hi"""" }
      .mkString(""","ranges":{""", ",", "}")

  private[graft] def renderManifest(m: Manifest): String = {
    val ends = m.ends.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val files = m.files.map(f => "\"" + f + "\"").mkString(",")
    val batch = m.lastBatchId.map(b => s""","lastBatchId":$b""").getOrElse("")
    val live = m.files.toSet
    s"""{"version":${m.version},"commitTsMs":${System.currentTimeMillis},""" +
      s""""ends":{$ends}${renderWriters(m)}""" +
      renderRanges(m.fileRanges.filter(kv => live(kv._1))) +
      s""","files":[$files]$batch}"""
  }

  /** Delta version: the files ADDED by this commit plus the (small)
    * full end-offset map — never the whole file list. */
  private[graft] def renderDelta(m: Manifest, adds: Seq[String],
      addRanges: Map[String, (Long, Long)]): String = {
    val ends = m.ends.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val a = adds.map(f => "\"" + f + "\"").mkString(",")
    val batch = m.lastBatchId.map(b => s""","lastBatchId":$b""").getOrElse("")
    s"""{"version":${m.version},"commitTsMs":${System.currentTimeMillis},""" +
      s""""ends":{$ends}${renderWriters(m)}""" +
      renderRanges(addRanges) + s""","adds":[$a]$batch}"""
  }

  /** The commit timestamp RECORDED INSIDE manifest version `v` — the
    * durable commit record TIMESTAMP AS OF resolves against. A file
    * mtime is not durable: a copy/rsync/restore of the topic dir that
    * doesn't preserve mtimes (or a scanner's touch) would silently
    * shift which version a timestamp resolves to. None for manifests
    * written before the field existed (callers fall back to mtime —
    * best effort for legacy history only). */
  private[graft] def manifestCommitTsMs(dir: Path, v: Long): Option[Long] = {
    val f = dir.resolve(s"v$v.json")
    if (!Files.exists(f)) return None
    // the field is rendered immediately after "version" — read only
    // the head so TIMESTAMP AS OF over a deep history doesn't pay
    // O(history × full-snapshot size) I/O just to extract timestamps
    val head = new Array[Byte](256)
    val in = Files.newInputStream(f)
    // readNBytes, not read: a single read() may return short (pipe,
    // network FS) and silently drop the commitTsMs field off the head
    val n = try in.readNBytes(head, 0, head.length) finally in.close()
    if (n <= 0) None
    else CommitTsField.findFirstMatchIn(new String(head, 0, n, "UTF-8"))
      .map(_.group(1).toLong)
  }

  private val CommitTsField = "\"commitTsMs\"\\s*:\\s*(\\d+)".r

  /** One version file on disk: a full snapshot (`files`) or a delta
    * (`adds` relative to the previous version). */
  private case class VersionRec(version: Long, files: Option[Seq[String]],
      adds: Seq[String], ends: Map[Int, Long], lastBatchId: Option[Long],
      writerEpochs: Map[String, WriterState],
      fileRanges: Map[String, (Long, Long)])

  // the manifest JSON's fields, compiled once: a broker parses
  // version files on every resolve that finds new ones
  private val VersionField = "\"version\"\\s*:\\s*(\\d+)".r
  private val EndsBlock = "\"ends\"\\s*:\\s*\\{([^}]*)\\}".r
  /** One `"<int>":<long>` entry of a flat offset map. */
  private val OffsetEntry = "\"(\\d+)\"\\s*:\\s*(\\d+)".r
  private val FilesBlock = "\"files\"\\s*:\\s*\\[([^\\]]*)\\]".r
  private val AddsBlock = "\"adds\"\\s*:\\s*\\[([^\\]]*)\\]".r
  private val QuotedName = "\"([^\"]+)\"".r
  private val LastBatchField = "\"lastBatchId\"\\s*:\\s*(-?\\d+)".r
  private val WritersBlock = "\"writers\"\\s*:\\s*\\{([^}]*)\\}".r
  private val WriterEntry = "\"([^\"]+)\"\\s*:\\s*\"(-?\\d+)@(\\d+)\"".r
  private val RangesBlock = "\"ranges\"\\s*:\\s*\\{([^}]*)\\}".r
  private val RangeEntry = "\"([^\"]+)\"\\s*:\\s*\"(-?\\d+),(-?\\d+)\"".r

  private def parseVersion(s: String): VersionRec = {
    val version = VersionField.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    val endsBlock = EndsBlock.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val ends = OffsetEntry.findAllMatchIn(endsBlock)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    def names(block: scala.util.matching.Regex): Option[Seq[String]] =
      block.findFirstMatchIn(s).map(b =>
        QuotedName.findAllMatchIn(b.group(1)).map(_.group(1)).toSeq)
    val lastBatch = LastBatchField.findFirstMatchIn(s).map(_.group(1).toLong)
    val writersBlock = WritersBlock.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val writers = WriterEntry.findAllMatchIn(writersBlock)
      .map(m => m.group(1) -> WriterState(m.group(2).toLong, m.group(3).toLong)).toMap
    val rangesBlock = RangesBlock.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val ranges = RangeEntry.findAllMatchIn(rangesBlock)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    VersionRec(version, names(FilesBlock),
      names(AddsBlock).getOrElse(Seq.empty), ends, lastBatch, writers, ranges)
  }

  private[graft] def isSnapshotVersion(dir: Path, v: Long): Boolean = {
    val f = dir.resolve(s"v$v.json")
    // the key alone tells a snapshot from a delta; parsing a whole
    // snapshot's file list costs O(files) for nothing
    Files.exists(f) && SnapshotKey.findFirstIn(Files.readString(f)).isDefined
  }

  private val SnapshotKey = "\"files\"\\s*:\\s*\\[".r

  /** Resolve the current manifest: the last resolve of `dir` carried
    * forward over the versions committed since ([[probeManifest]]),
    * else the full walk back from the newest listed version
    * ([[walkManifest]]). */
  private[graft] def resolveManifest(dir: Path): Option[Manifest] = {
    // a concurrent vacuum may retire a delta file between our listing
    // and the walk — re-resolve from a fresh listing (the new anchor
    // snapshot is guaranteed to cover everything retired)
    var attempts = 0
    while (attempts < 5) {
      try return resolveManifestOnce(dir)
      catch { case _: java.nio.file.NoSuchFileException => attempts += 1 }
    }
    resolveManifestOnce(dir)
  }

  /** [[resolveManifestOnce]] capped at `atVersion` — the time-travel
    * resolve: answers None when that version has been vacuumed away
    * (never silently substitutes a different version). */
  private[graft] def resolveManifestAt(dir: Path, atVersion: Long): Option[Manifest] = {
    if (!Files.exists(dir) ||
        !Files.exists(dir.resolve(s"v$atVersion.json"))) None
    else resolveManifestOnce(dir, atVersion)
  }

  /** A resolved manifest with the bytes of the version file it was
    * resolved at (`version`, its newest). */
  private final class Resolved(val version: Long, val bytes: Array[Byte],
      val manifest: Manifest)

  /** The last [[Resolved]] manifest per `_manifests` dir (absolute,
    * normalized), so a resolve reads only the versions committed
    * since, and lists nothing — a broker resolves on every request,
    * a listing costs O(history), and a full walk re-parses up to
    * [[CheckpointInterval]] versions, a whole file list among them.
    * Entries are immutable; [[drop]] evicts. */
  private val resolvedManifests =
    new java.util.concurrent.ConcurrentHashMap[Path, Resolved]()

  private def cacheKey(dir: Path): Path = dir.toAbsolutePath.normalize

  /** Keep `r` for `dir` unless a newer version is already kept:
    * concurrent resolves and commits finish in any order. */
  private def remember(dir: Path, r: Resolved): Unit =
    resolvedManifests.merge(cacheKey(dir), r,
      (a: Resolved, b: Resolved) => if (b.version >= a.version) b else a)

  private def resolveManifestOnce(dir: Path, cap: Long = Long.MaxValue,
      cached: Boolean = true): Option[Manifest] = {
    val warm = cap == Long.MaxValue && cached
    val probed =
      if (!warm) None
      else Option(resolvedManifests.get(cacheKey(dir))).flatMap(probeManifest(dir, _))
    probed match {
      case Some(r) =>
        remember(dir, r)
        Some(r.manifest)
      case None =>
        val versions = new VersionedDir(dir).versions
        if (versions.isEmpty) {
          resolvedManifests.remove(cacheKey(dir))
          None
        } else versions.filter(_ <= cap).maxOption.map { newest =>
          val r = walkManifest(dir, newest)
          if (warm) resolvedManifests.put(cacheKey(dir), r)
          r.manifest
        }
    }
  }

  /** The full resolve, bypassing (and leaving alone) the cache of
    * resolved manifests: what [[resolveManifest]] must always equal. */
  private[graft] def resolveManifestFull(dir: Path): Option[Manifest] =
    resolveManifestOnce(dir, cached = false)

  private def readVersion(dir: Path, v: Long): (Array[Byte], VersionRec) = {
    val bytes = Files.readAllBytes(dir.resolve(s"v$v.json"))
    (bytes, parseVersion(new String(bytes, "UTF-8")))
  }

  /** `from` carried forward over version records `recs`, oldest
    * first: a snapshot resets the file list and ranges, a delta
    * appends its adds (newer ranges win). Ends and batch id come from
    * the newest record (every version carries the full, small maps). */
  private def replay(from: Manifest, recs: Seq[VersionRec]): Manifest = {
    var files = from.files.toVector
    var ranges = from.fileRanges
    recs.foreach { rec =>
      rec.files match {
        case Some(fs) => files = fs.toVector; ranges = rec.fileRanges
        case None => files ++= rec.adds; ranges ++= rec.fileRanges
      }
    }
    val head = recs.last
    Manifest(head.version, files, head.ends, head.lastBatchId,
      head.writerEpochs, ranges)
  }

  /** Walk back from version `newest` to its anchor snapshot (or to v0:
    * a degenerate delta with no anchor), then replay forward. */
  private def walkManifest(dir: Path, newest: Long): Resolved = {
    val (bytes, head) = readVersion(dir, newest)
    var recs = List(head)
    var v = newest
    while (recs.head.files.isEmpty && v > 0) {
      v -= 1
      recs = readVersion(dir, v)._2 :: recs
    }
    new Resolved(newest, bytes, replay(Manifest(0L, Seq.empty, Map.empty, None), recs))
  }

  /** `c` carried forward over the versions above it, found by
    * reading `v<c+1>`, `v<c+2>`, … until one is missing — no listing.
    * None — fall back to the listing and the full walk — unless `c`'s
    * version file is still on disk byte for byte (versions are
    * immutable once linked, so a difference means the history changed
    * under the cache: a vacuum retired the version, or the topic was
    * deleted and re-created), and unless the last version read is
    * still on disk after the miss (else the miss may be the topic
    * going away, not the head). Versions are linked one above the
    * other, and retirement deletes the oldest first and never at or
    * above the anchor snapshot, so the first missing version above a
    * present one is the head. */
  private def probeManifest(dir: Path, c: Resolved): Option[Resolved] = {
    val unchanged =
      try java.util.Arrays.equals(
        Files.readAllBytes(dir.resolve(s"v${c.version}.json")), c.bytes)
      catch { case _: java.nio.file.NoSuchFileException => false }
    if (!unchanged) return None
    val read = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], VersionRec)]
    var next = c.version + 1
    var probing = true
    while (probing)
      try { read += readVersion(dir, next); next += 1 }
      catch { case _: java.nio.file.NoSuchFileException => probing = false }
    if (!Files.exists(dir.resolve(s"v${next - 1}.json"))) None
    else if (read.isEmpty) Some(c)
    else Some(new Resolved(next - 1, read.last._1, replay(c.manifest, read.map(_._2).toSeq)))
  }

  /** Latest committed manifest of a topic by path, for manifest-aware
    * readers (the graft-topic DataSource); None for pre-manifest
    * topics. */
  private[graft] def latestManifest(topicDir: String): Option[Manifest] =
    resolveManifest(Paths.get(s"$topicDir/_manifests"))

  private[graft] def manifestFiles(topicDir: String): Option[Seq[String]] =
    latestManifest(topicDir).map(_.files)

  /** Time-travel manifest by path for the DSv2 source's
    * `asOfVersion` option; None for retired/unknown versions (the
    * scan plans EMPTY — [[TopicLog.readAt]]'s contract). */
  private[graft] def manifestAt(topicDir: String, version: Long): Option[Manifest] =
    resolveManifestAt(Paths.get(s"$topicDir/_manifests"), version)

  /** Per-file [min,max] offset ranges from the manifest — recorded
    * once at produce time so planners prune files by offset with NO
    * file I/O. Files without an entry (pre-range manifests) are
    * simply unprunable. */
  private[graft] def manifestRanges(topicDir: String): Map[String, (Long, Long)] =
    latestManifest(topicDir).map(_.fileRanges).getOrElse(Map.empty)

  /** The Hadoop conf handed to every parquet-mr reader and writer
    * graft opens directly, its default resources (core-default.xml,
    * core-site.xml) parsed once, here. A parquet open that is handed
    * no conf builds a default one and parses that XML again, which
    * costs more CPU than a small wire request's records; so every
    * open goes through [[openFooter]], [[openGroups]] or a writer's
    * `.withConf`. Read-only after init: callers that set per-file
    * keys (a read schema, a write schema) take
    * `new Configuration(sharedConf)`, which clones the parsed
    * properties without reading the XML again. Reads go through
    * Hadoop's checksummed LocalFileSystem, which verifies a file's
    * `.crc` sidecar where one exists; [[writeDirect]] writes none. */
  private[graft] lazy val sharedConf: Configuration = {
    val c = new Configuration()
    c.size() // parse the default resources now, not on first use
    c
  }

  /** Open a parquet file's footer. The read options are built per
    * open: closing the reader releases their codec factory, so one
    * options object must not be shared by concurrent readers. */
  private[graft] def openFooter(file: HPath): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, sharedConf),
      HadoopReadOptions.builder(sharedConf, file).build())

  /** A parquet-mr Group reader over one file under `conf`, with an
    * optional row filter (row-group stats skipping + record
    * filtering). */
  private[graft] def openGroups(file: HPath, conf: Configuration,
      filter: Option[FilterPredicate]): ParquetReader[Group] = {
    val b = new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport() = new GroupReadSupport()
    }
    filter.foreach(p => b.withFilter(FilterCompat.get(p)))
    b.build()
  }

  /** Read a parquet file's offset column min/max from its footer
    * (row-group statistics) — one footer read at produce time buys
    * planning-time pruning forever after. */
  private[graft] def offsetRangeOf(file: Path): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val r = openFooter(new HPath(file.toString))
    try {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "offset")
          .foreach { c =>
            val st = c.getStatistics
            if (st != null && st.hasNonNullValue) {
              lo = math.min(lo, st.genericGetMin.asInstanceOf[java.lang.Long].longValue)
              hi = math.max(hi, st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            }
          }
      }
      if (lo > hi) (Long.MinValue, Long.MaxValue) else (lo, hi) // no stats → unprunable
    } finally r.close()
  }

  private[graft] def manifestEnds(topicDir: String): Option[Map[Int, Long]] =
    latestManifest(topicDir).map(_.ends)

  /** One wire-servable record hydrated WITHOUT a Spark job: the Kafka
    * record model with the timestamp already in epoch millis (−1 =
    * absent) and headers name-sorted (empty when the record has
    * none). A record served from the log tail shares its key, value
    * and header arrays with the tail and with other reads of it:
    * treat them as read-only. */
  case class DirectRecord(offset: Long, timestampMs: Long,
      key: Array[Byte], value: Array[Byte],
      headers: Seq[(String, Array[Byte])])

  /** The record layout [[writeDirect]] emits — the same COLUMNS in
    * the same order as [[TopicLog.produce]]'s Spark-written files
    * (key, value, headers MAP, ts, offset; `partition` stays a dir
    * key). ts is INT64 TIMESTAMP(MICROS, adjusted-to-UTC), which
    * Spark's reader, the DSv2 reader, and [[readDirect]] all decode
    * to the same TimestampType micros as the Spark path's INT96. */
  private lazy val directWriteSchema =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary key;
        |  optional binary value;
        |  optional group headers (MAP) {
        |    repeated group key_value {
        |      required binary key (STRING);
        |      optional binary value;
        |    }
        |  }
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |  required int64 offset;
        |}""".stripMargin)

  /** [[sharedConf]] plus the constant [[directWriteSchema]], for
    * [[writeDirect]]; read-only after init. */
  private lazy val directWriteConf = {
    val c = new Configuration(sharedConf)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(directWriteSchema, c)
    c
  }

  /** Write ONE offset-sorted record file with parquet-hadoop on the
    * driver — [[produceDirect]]'s writer. Snappy like Spark's
    * default, so direct and Spark-written files are uniform. The file
    * is written straight through java.nio, not through Hadoop's local
    * filesystem: that would add a `.crc` sidecar beside it in the data
    * dir and fork `chmod` for the file and for the sidecar. The parquet bytes are the same either way, and reads
    * still verify a sidecar where one exists ([[sharedConf]]). */
  private[streaming] def writeDirect(file: Path,
      rows: Iterator[(Long, Array[Byte], Array[Byte],
        Map[String, Array[Byte]], Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.io.api.Binary

    val writer = ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withConf(directWriteConf)
      .withType(directWriteSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      // offsets are unique and values and header values are opaque
      // payloads: a dictionary over them is built only to be dropped
      // for plain encoding. Keys (repeated on keyed topics) and ts (one
      // per request) keep theirs.
      .withDictionaryEncoding("offset", false)
      .withDictionaryEncoding("value", false)
      .withDictionaryEncoding("headers.key_value.value", false)
      .build()
    val factory = new SimpleGroupFactory(directWriteSchema)
    try rows.foreach { case (offset, key, value, headers, tsMillis) =>
      val g = factory.newGroup()
      if (key != null) g.add("key", Binary.fromConstantByteArray(key))
      if (value != null) g.add("value", Binary.fromConstantByteArray(value))
      if (headers != null && headers.nonEmpty) {
        val hg = g.addGroup("headers")
        headers.toSeq.sortBy(_._1).foreach { case (hk, hv) =>
          val kv = hg.addGroup("key_value")
          kv.add("key", Binary.fromString(hk))
          if (hv != null) kv.add("value", Binary.fromConstantByteArray(hv))
        }
      }
      g.add("ts", tsMillis * 1000L) // micros
      g.add("offset", offset)
      writer.write(g)
    } finally writer.close()
  }

  /** A log-tail entry: one committed file's records in offset order
    * and an estimate of the heap they hold. */
  private final class TailEntry(val records: Array[DirectRecord], val bytes: Long)

  /** The log tail: the records of the data files this process's
    * [[TopicLog.produceDirect]] committed, so that a fetch of records
    * produced moments earlier (the common consumer read) skips the
    * parquet re-read — Kafka's page-cache hit. Least recently used
    * first out, keyed by the file's absolute, normalized path, all
    * access under the map's own lock. Sound because committed files
    * are immutable and uniquely named; [[drop]] and maintenance
    * rewrites evict the topic all the same, so the heap falls back
    * once a topic is gone. */
  private val tail =
    new java.util.LinkedHashMap[Path, TailEntry](16, 0.75f, true)
  private var tailHeld = 0L

  /** The tail's byte budget; a file estimated above it is not held.
    * var: a spec shrinks it. */
  private[streaming] var TailBudgetBytes: Long = Runtime.getRuntime.maxMemory / 32

  /** Heap estimate of one record: object and array headers plus the
    * payload bytes (header names as UTF-16 strings). */
  private def heldBytes(r: DirectRecord): Long = {
    def len(a: Array[Byte]) = if (a == null) 0L else a.length.toLong
    var n = 96L + len(r.key) + len(r.value)
    r.headers.foreach { case (k, v) => n += 64L + 2L * k.length + len(v) }
    n
  }

  /** Hold a just-committed file's records (offset order), evicting
    * the least recently used files past the budget. */
  private def fillTail(file: Path, records: Array[DirectRecord]): Unit = {
    val bytes = records.iterator.map(heldBytes).sum
    tail.synchronized {
      if (bytes <= TailBudgetBytes) {
        val old = tail.put(cacheKey(file), new TailEntry(records, bytes))
        tailHeld += bytes - (if (old == null) 0L else old.bytes)
      }
      val it = tail.values.iterator
      while (tailHeld > TailBudgetBytes && it.hasNext) {
        tailHeld -= it.next().bytes
        it.remove()
      }
    }
  }

  /** Drop every tail entry under `topicDir`. */
  private[streaming] def evictTail(topicDir: String): Unit = {
    val dir = cacheKey(Paths.get(topicDir))
    tail.synchronized {
      val it = tail.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(dir)) { tailHeld -= e.getValue.bytes; it.remove() }
      }
    }
  }

  /** Estimated bytes the tail holds, in all or under `topicDir`. */
  private[streaming] def tailBytes(topicDir: Option[String] = None): Long = {
    val dir = topicDir.map(d => cacheKey(Paths.get(d)))
    tail.synchronized {
      if (dir.isEmpty) tailHeld
      else {
        var n = 0L
        tail.forEach((k, v) => if (k.startsWith(dir.get)) n += v.bytes)
        n
      }
    }
  }

  /** Records of ONE committed file with offset in [fromOffset,
    * toOffset]: from the log tail when it holds the file, with no
    * file I/O, else [[readDirectFile]]. A miss does not fill the
    * tail, so Spark-written files, files evicted for size and
    * another process's files are read from parquet every time. */
  private[streaming] def readDirect(file: Path, fromOffset: Long,
      toOffset: Long): Seq[DirectRecord] = {
    val held = tail.synchronized(tail.get(cacheKey(file)))
    if (held == null) readDirectFile(file, fromOffset, toOffset)
    else {
      // binary search: offsets ascend, one record each
      val offsets = held.records.view.map(_.offset)
      val from = offsets.search(fromOffset).insertionPoint
      val until =
        if (toOffset == Long.MaxValue) offsets.length
        else offsets.search(toOffset + 1).insertionPoint
      scala.collection.immutable.ArraySeq.unsafeWrapArray(held.records.slice(from, until))
    }
  }

  /** Scan ONE committed parquet file for records with offset in
    * [fromOffset, toOffset] — parquet-hadoop directly on the driver,
    * no Spark job, no log tail. The bounds ride as a FilterPredicate
    * so row groups outside the span are skipped from their stats
    * (the same pushdown the DSv2 reader compiles,
    * `GraftTopicFileReader.offsetPredicate`). Timestamp decode
    * handles INT96 and INT64 millis/micros/nanos like the DSv2
    * reader's `GraftTopicFileReader.decodeTimestamp`. */
  private[streaming] def readDirectFile(file: Path, fromOffset: Long,
      toOffset: Long): Seq[DirectRecord] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

    val c = FilterApi.longColumn("offset")
    var pred = FilterApi.gtEq(c, java.lang.Long.valueOf(fromOffset))
      .asInstanceOf[FilterPredicate]
    if (toOffset != Long.MaxValue)
      pred = FilterApi.and(pred,
        FilterApi.ltEq(c, java.lang.Long.valueOf(toOffset)))
    val reader = openGroups(new HPath(file.toString), sharedConf, Some(pred))

    def tsMillis(g: Group, idx: Int): Long = {
      val prim = g.getType.getType(idx).asPrimitiveType()
      prim.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT96 =>
          val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = buf.getLong
          val julianDay = buf.getInt
          (julianDay - 2440588L) * 86400000L + nanosOfDay / 1000000L
        case PrimitiveTypeName.INT64 =>
          val v = g.getLong(idx, 0)
          prim.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation
                if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => v
            case t: TimestampLogicalTypeAnnotation
                if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
              v / 1000000L
            case _ => v / 1000L // micros
          }
        case other => throw new UnsupportedOperationException(
          s"TopicLog.readDirectFile: timestamp stored as $other")
      }
    }
    def headersOf(g: Group, idx: Int): Seq[(String, Array[Byte])] = {
      val mapGroup = g.getGroup(idx, 0)
      val n = mapGroup.getFieldRepetitionCount(0)
      (0 until n).map { i =>
        val kv = mapGroup.getGroup(0, i)
        val hk = new String(kv.getBinary("key", 0).getBytes, "UTF-8")
        val hv =
          if (kv.getType.asGroupType().getFieldCount > 1 &&
              kv.getFieldRepetitionCount(1) > 0) kv.getBinary(1, 0).getBytes
          else null
        (hk, hv)
      }.sortBy(_._1)
    }

    try {
      val out = Seq.newBuilder[DirectRecord]
      var g = reader.read()
      while (g != null) {
        val schema = g.getType
        val offIdx = schema.getFieldIndex("offset")
        val keyIdx = schema.getFieldIndex("key")
        val valIdx = schema.getFieldIndex("value")
        val hdrIdx = schema.getFieldIndex("headers")
        val tsIdx = schema.getFieldIndex("ts")
        out += DirectRecord(
          g.getLong(offIdx, 0),
          if (g.getFieldRepetitionCount(tsIdx) == 0) -1L
          else tsMillis(g, tsIdx),
          if (g.getFieldRepetitionCount(keyIdx) == 0) null
          else g.getBinary(keyIdx, 0).getBytes,
          if (g.getFieldRepetitionCount(valIdx) == 0) null
          else g.getBinary(valIdx, 0).getBytes,
          if (g.getFieldRepetitionCount(hdrIdx) == 0) Seq.empty
          else headersOf(g, hdrIdx))
        g = reader.read()
      }
      out.result()
    } finally reader.close()
  }

  /** Kafka record model (key, value, headers, timestamp) + log
    * coordinates (partition, offset). */
  val recordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("headers", MapType(StringType, BinaryType)),
    StructField("ts", TimestampType)))

  /** Full topic read schema: record model + log coordinates (also the
    * fixed schema of the `graft-topic` DataSource V2 table). */
  val readSchema: StructType =
    recordSchema
      .add(StructField("partition", IntegerType, nullable = false))
      .add(StructField("offset", LongType, nullable = false))

  /** The DSv2 TABLE schema: same fields, but `partition` accepts NULL
    * on write — an INSERT may leave routing to the producer's key
    * hash. Committed records always carry a concrete partition, so
    * the relaxation is write-side only. */
  val tableSchema: StructType = StructType(readSchema.map {
    case f if f.name == "partition" => f.copy(nullable = true)
    case f => f
  })

  /** Create `topic` with `numPartitions` partitions. Throws
    * FileAlreadyExistsException when the topic exists. */
  def create(spark: SparkSession, root: String, topic: String, numPartitions: Int): TopicLog = {
    createMeta(Paths.get(s"$root/$topic"), numPartitions)
    new TopicLog(spark, root, topic, numPartitions)
  }

  /** Lay out a topic dir and publish its `_meta.json` by a hard link
    * ([[VersionedDir.linkOnce]]): of two racing creators exactly one
    * wins, the other gets FileAlreadyExistsException, and a concurrent
    * [[open]] never reads a torn file. */
  private[graft] def createMeta(dir: Path, numPartitions: Int): Unit = {
    Files.createDirectories(dir.resolve("_groups"))
    VersionedDir.linkOnce(metaTemp(dir, numPartitions), dir.resolve("_meta.json"))
  }

  private def metaTemp(dir: Path, numPartitions: Int): Path =
    Files.writeString(Files.createTempFile(dir, ".meta", ".json"),
      s"""{"numPartitions":$numPartitions}""")

  /** The one partition-range check: `p` in `[0, numPartitions)`. */
  def hasPartition(p: Int, numPartitions: Int): Boolean =
    p >= 0 && p < numPartitions

  def open(spark: SparkSession, root: String, topic: String): TopicLog =
    new TopicLog(spark, root, topic, partitionCount(root, topic))

  /** The partition count in `topic`'s `_meta.json`. */
  private def partitionCount(root: String, topic: String): Int =
    NumPartitionsField.findFirstMatchIn(Files.readString(Paths.get(s"$root/$topic/_meta.json")))
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"bad _meta.json for $topic"))

  // `_meta.json` and `_config.json` fields, compiled once: a wire
  // produce opens its topic and reads its overrides on every request
  private val NumPartitionsField = "\"numPartitions\"\\s*:\\s*(\\d+)".r
  private val ConfigEntry = "\"([^\"\\\\]*)\"\\s*:\\s*\"([^\"\\\\]*)\"".r

  def exists(root: String, topic: String): Boolean =
    Files.exists(Paths.get(s"$root/$topic/_meta.json"))

  /** Grow a topic to `newCount` partitions (Kafka semantics: count
    * only ever increases). The meta rewrite is atomic (temp +
    * ATOMIC_MOVE), so concurrent open()s see either count, never a
    * torn file; new partitions start empty at offset 0 — the offset
    * base map and every consumer-side view default absent partitions
    * to 0, so no other state needs touching. Handles that were
    * opened before the expansion keep routing over the old count
    * (exactly a Kafka producer's stale-metadata window) until they
    * re-open. */
  def expandPartitions(root: String, topic: String, newCount: Int): Unit = {
    val dir = Paths.get(s"$root/$topic")
    val cur = partitionCount(root, topic)
    require(newCount > cur,
      s"topic $topic has $cur partitions; new count must exceed it, got $newCount")
    Files.move(metaTemp(dir, newCount), dir.resolve("_meta.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Dynamic per-topic config overrides (`_config.json`, flat
    * string map). Values are restricted by the wire handlers to
    * quote/backslash/control-free strings, so the flat read regex is
    * exact. Absent file = no overrides. */
  def configOverrides(root: String, topic: String): Map[String, String] = {
    val p = Paths.get(s"$root/$topic/_config.json")
    if (!Files.exists(p)) Map.empty
    else ConfigEntry.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Atomic override-set replacement (temp + ATOMIC_MOVE — readers
    * see either set, never a torn file); an empty map deletes the
    * file. */
  def writeConfigOverrides(root: String, topic: String,
      overrides: Map[String, String]): Unit = {
    val dir = Paths.get(s"$root/$topic")
    val p = dir.resolve("_config.json")
    if (overrides.isEmpty) { Files.deleteIfExists(p); () }
    else {
      val tmp = Files.createTempFile(dir, ".config", ".json")
      Files.writeString(tmp, overrides.toSeq.sorted
        .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def drop(root: String, topic: String): Unit = {
    deleteRecursively(Paths.get(s"$root/$topic"))
    resolvedManifests.remove(cacheKey(Paths.get(s"$root/$topic/_manifests")))
    evictTail(s"$root/$topic")
  }

  // flat {"<int>":<long>,...} maps — hand-rolled to avoid deps
  private def renderOffsetMap(m: Map[Int, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def readOffsetMap(path: Path): Option[Map[Int, Long]] =
    if (!Files.exists(path)) None
    else {
      val s = Files.readString(path)
      Some(OffsetEntry.findAllMatchIn(s)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      walkPaths(p).sortWith(_.compareTo(_) > 0).foreach(f => Files.delete(f))
    }
}

/** Partition routing strategies (Kafka DefaultPartitioner analogs). */
object Partitioners {
  /** Hash of the record key (murmur3 via Spark's codegen'd hash). */
  def byKeyHash(numPartitions: Int): Column =
    pmod(hash(col("key")), lit(numPartitions))

  /** Modulo on an integer key column — ANSI-SQL-reproducible (used by
    * the oracle-checked queries). */
  def byLongKey(numPartitions: Int, key: Column): Column =
    pmod(key, lit(numPartitions.toLong)).cast(IntegerType)

  /** Round-robin within each task (sticky-partitioning analog for
    * keyless records; not stable across retries, as in Kafka). */
  def roundRobin(numPartitions: Int): Column =
    pmod(monotonically_increasing_id(), lit(numPartitions.toLong)).cast(IntegerType)

  /** Wire-compatible with Kafka's DefaultPartitioner: murmur2 of the
    * key bytes, sign-masked, mod partition count — a graft topic
    * partitioned this way places every key exactly where a stock
    * Kafka producer would. */
  def kafkaCompatible(numPartitions: Int): Column =
    pmod(graft.functions.GraftExpressions.murmur2(col("key"))
      .bitwiseAND(0x7fffffff), lit(numPartitions)).cast(IntegerType)
}
