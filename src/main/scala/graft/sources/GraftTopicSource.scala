package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 relation over a [[graft.streaming.TopicLog]] topic
  * directory — the consumer-facing fetch path as a first-class Spark
  * table: `spark.read.format("graft-topic").load(topicDir)`.
  *
  * This is the Fetch API of the reference broker (ref:
  * pkg/kafka/kafka_api.go:85 request dispatch; Fetch is the roadmap's
  * Consumer API) re-expressed as a pushdown-aware scan:
  *
  *  - `partition` predicates prune WHOLE DIRECTORIES at planning time
  *    (`partition=N/` is a physical dir key) — a fetch of one
  *    partition plans only that partition's files;
  *  - `offset` range predicates are compiled to parquet
  *    FilterPredicates, so row groups whose offset min/max stats fall
  *    outside the range are skipped without reading (files are
  *    offset-sorted at produce time exactly for this), and surviving
  *    rows are filtered record-level in the reader;
  *  - column pruning reaches the file reader (a key-only consumer
  *    never decodes values or headers).
  *
  * Both pushed filter families are enforced exactly (dir pruning +
  * record-level filtering), so Spark plans no residual filter for
  * them. At cluster scale the per-file readers run in executors; one
  * input partition per parquet file keeps fetch parallelism at file
  * granularity.
  */
class GraftTopicSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topic"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.streaming.TopicLog.readSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-topic requires a path: spark.read.format(\"graft-topic\").load(<topicDir>)")
    new GraftTopicTable(path)
  }
}

class GraftTopicTable(topicDir: String,
    asOfVersion: Option[Long] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_topic($topicDir)"
  override def schema(): StructType = graft.streaming.TopicLog.tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  /** `SHOW TBLPROPERTIES` view: partition count + the topic's dynamic
    * config overrides (what ALTER TABLE ... SET TBLPROPERTIES wrote,
    * or the wire config APIs did). */
  override def properties(): java.util.Map[String, String] = {
    val dir = java.nio.file.Paths.get(topicDir)
    val out = new java.util.HashMap[String, String]()
    val meta = dir.resolve("_meta.json")
    if (java.nio.file.Files.exists(meta))
      """"numPartitions":(\d+)""".r
        .findFirstMatchIn(java.nio.file.Files.readString(meta))
        .foreach(m => out.put("partitions", m.group(1)))
    graft.streaming.TopicLog
      .configOverrides(dir.getParent.toString, dir.getFileName.toString)
      .foreach { case (k, v) => out.put(k, v) }
    out
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog-level VERSION AS OF pin rides in as the default for
    // the scan's asOfVersion option (an explicit read option wins)
    val opts = asOfVersion match {
      case Some(v) if options.get("asOfVersion") == null =>
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("asOfVersion", v.toString)
        new CaseInsensitiveStringMap(m)
      case _ => options
    }
    new GraftTopicScanBuilder(topicDir, opts)
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOfVersion.isEmpty,
      "cannot write to a time-travel (VERSION AS OF) table")
    new GraftTopicWriteBuilder(topicDir, info)
  }
}

class GraftTopicScanBuilder(topicDir: String,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = graft.streaming.TopicLog.readSchema
  private var pushed: Array[Filter] = Array.empty
  private val maxPerTrigger: Option[Long] =
    Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)
  // Spark's STREAMING planner never routes filters through
  // pushFilters (V2ScanRelationPushDown matches batch relations
  // only), so partition pruning on a stream needs an explicit read
  // OPTION: .option("partitions", "0,3"). Results are identical
  // either way — Spark keeps its own filter — this prunes which
  // files each micro-batch PLANS.
  private val optionPartitions: Option[Set[Int]] =
    Option(options.get("partitions"))
      .map(_.split(",").map(_.trim.toInt).toSet)
  // time travel: pin the scan to a committed manifest version —
  // `.option("asOfVersion", "12")`; a retired/unknown version plans
  // an EMPTY scan (TopicLog.readAt's contract: never a silently
  // substituted neighbor)
  private val asOfVersion: Option[Long] =
    Option(options.get("asOfVersion")).map(_.toLong)

  // what the scan can enforce EXACTLY: partition dir pruning handles
  // comparisons + In; offset handles range comparisons (In on offset
  // would only bound, not enumerate → left to Spark)
  private def supported(f: Filter): Boolean = f match {
    case EqualTo(c, _) => c == "partition" || c == "offset"
    case GreaterThan(c, _) => c == "partition" || c == "offset"
    case GreaterThanOrEqual(c, _) => c == "partition" || c == "offset"
    case LessThan(c, _) => c == "partition" || c == "offset"
    case LessThanOrEqual(c, _) => c == "partition" || c == "offset"
    case In(c, _) => c == "partition"
    case IsNotNull(c) => c == "partition" || c == "offset" // non-nullable: vacuous
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(supported)
    filters.filterNot(supported)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan =
    GraftTopicScan(topicDir, required, pushed, maxPerTrigger,
      optionPartitions, asOfVersion)
}

/** Inclusive offset bounds compiled from the pushed filters — the
  * serializable form shipped to executors. */
case class OffsetBounds(lower: Long, upper: Long) {
  def isTrivial: Boolean = lower == Long.MinValue && upper == Long.MaxValue
}

case class GraftTopicScan(topicDir: String, required: StructType, pushed: Array[Filter],
    maxPerTrigger: Option[Long] = None,
    optionPartitions: Option[Set[Int]] = None,
    asOfVersion: Option[Long] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Report the on-disk clustering: every input partition holds one
    * topic-partition's rows (HasPartitionKey), so joins/aggregations
    * keyed on `partition` skip their shuffle entirely. With Spark's
    * v2 bucketing (on by default) this also means the TOPIC-PARTITION
    * is the unit of scan parallelism — files of one partition read in
    * one task, exactly the Kafka consumer model (and SURVEY §4's
    * contract: scale parallelism by adding partitions). Only reported
    * when the scan outputs the column. */
  /** One manifest resolution + file listing per scan: Spark calls
    * outputPartitioning (planner) and planInputPartitions (executor
    * prep) separately — re-listing would pay the I/O twice AND could
    * see a different snapshot if a produce commits in between,
    * reporting a key count inconsistent with the planned partitions. */
  private lazy val plannedPartitions: Array[InputPartition] = doPlanInputPartitions()

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val keys = plannedPartitions
      .map(_.asInstanceOf[GraftTopicInputPartition].partition).distinct
    if (required.fieldNames.contains("partition") && keys.nonEmpty)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("partition")),
        keys.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        math.max(keys.length, 1))
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftTopicMicroBatchStream(topicDir, required, maxPerTrigger,
      p => partitionOk(p) && optionPartitions.forall(_.contains(p)))
  override def description(): String =
    s"GraftTopicScan $topicDir PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  private def partitionOk(p: Int): Boolean = pushed.forall {
    case EqualTo("partition", v: Number) => p == v.intValue
    case GreaterThan("partition", v: Number) => p > v.intValue
    case GreaterThanOrEqual("partition", v: Number) => p >= v.intValue
    case LessThan("partition", v: Number) => p < v.intValue
    case LessThanOrEqual("partition", v: Number) => p <= v.intValue
    case In("partition", vs) => vs.exists { case n: Number => n.intValue == p; case _ => false }
    case _ => true
  }

  private def offsetBounds: OffsetBounds = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    // saturating +-1: `offset > Long.MaxValue` must yield an EMPTY
    // range (lo > hi), not wrap to Long.MinValue and silently drop
    // the claimed-exactly-enforced bound
    def incSat(v: Long) = if (v == Long.MaxValue) { hi = math.min(hi, v - 1); v } else v + 1
    def decSat(v: Long) = if (v == Long.MinValue) { lo = math.max(lo, v + 1); v } else v - 1
    pushed.foreach {
      case EqualTo("offset", v: Number) =>
        lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue)
      case GreaterThan("offset", v: Number) => lo = math.max(lo, incSat(v.longValue))
      case GreaterThanOrEqual("offset", v: Number) => lo = math.max(lo, v.longValue)
      case LessThan("offset", v: Number) => hi = math.min(hi, decSat(v.longValue))
      case LessThanOrEqual("offset", v: Number) => hi = math.min(hi, v.longValue)
      case _ =>
    }
    OffsetBounds(lo, hi)
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  private def doPlanInputPartitions(): Array[InputPartition] = {
    val dataDir = Paths.get(topicDir, "data")
    val manifest = asOfVersion match {
      // pinned version: files/ranges from THAT snapshot; unknown or
      // vacuumed versions plan empty (Some(Nil)), never the dir scan
      case Some(v) =>
        Some(graft.streaming.TopicLog.manifestAt(topicDir, v)
          .map(m => (m.files, m.fileRanges))
          .getOrElse((Seq.empty[String], Map.empty[String, (Long, Long)])))
      case None =>
        graft.streaming.TopicLog.manifestFiles(topicDir)
          .map(fs => (fs, graft.streaming.TopicLog.manifestRanges(topicDir)))
    }
    manifest match {
      // manifest-aware: plan exactly the committed snapshot (orphans
      // from crashed produces are invisible)
      case Some((files, ranges)) =>
        // per-file offset ranges recorded at produce time: a file
        // wholly outside the pushed offset bounds is pruned HERE, at
        // planning — no task, no footer open (files without a range
        // fall back to reader-side row-group skipping)
        val ob = offsetBounds
        files.sorted.flatMap { rel =>
          val p = rel.takeWhile(_ != '/').stripPrefix("partition=").toInt
          val inRange = ranges.get(rel).forall { case (lo, hi) =>
            hi >= ob.lower && lo <= ob.upper
          }
          if (partitionOk(p) && optionPartitions.forall(_.contains(p)) && inRange)
            Some(GraftTopicInputPartition(dataDir.resolve(rel).toString, p): InputPartition)
          else None
        }.toArray
      // legacy pre-manifest topic: dir listing
      case None =>
        if (!Files.exists(dataDir)) return Array.empty
        val dirs = graft.streaming.TopicLog.listDir(dataDir)
          .filter(_.getFileName.toString.startsWith("partition="))
          .sortBy(_.getFileName.toString)
        dirs.flatMap { d =>
          val p = d.getFileName.toString.stripPrefix("partition=").toInt
          if (!partitionOk(p) || !optionPartitions.forall(_.contains(p))) Seq.empty
          else graft.streaming.TopicLog.listDir(d).iterator
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.toString)
            .map(f => GraftTopicInputPartition(f.toString, p): InputPartition)
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftTopicReaderFactory(required, offsetBounds)
}

case class GraftTopicInputPartition(file: String, partition: Int,
    boundsOverride: Option[OffsetBounds] = None) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(partition)
}

case class GraftTopicReaderFactory(required: StructType, bounds: OffsetBounds)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftTopicInputPartition]
    new GraftTopicFileReader(part, required, part.boundsOverride.getOrElse(bounds))
  }
}

/** Streaming consume of a topic as a DSv2 micro-batch source: stream
  * offsets ARE the topic's per-partition log-end offsets (read from
  * the committed manifest, so uncommitted/orphaned files can never
  * enter a batch). Each micro-batch covers [startEnds, endEnds) per
  * partition, planned as the partition's files with the offset range
  * pushed into the per-file readers (row-group stats skip files that
  * predate the range). Starts from earliest (offset 0), like
  * auto.offset.reset=earliest. */
class GraftTopicMicroBatchStream(topicDir: String, required: StructType,
    maxPerTrigger: Option[Long] = None,
    partitionOk: Int => Boolean = _ => true)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  import graft.streaming.TopicLog

  private def ends(): Map[Int, Long] =
    TopicLog.manifestEnds(topicDir).getOrElse(Map.empty)

  /** Trigger.AvailableNow contract: pin the log-end offsets ONCE at
    * query start; every micro-batch advances toward that frozen
    * target (still rate-limited by maxOffsetsPerTrigger), and the
    * query stops when it reaches it — records produced after the
    * pin are left for the next run. Without this Spark silently
    * downgrades AvailableNow to Trigger.Once and IGNORES the read
    * limit (one unbounded batch — the opposite of a drain). */
  private var availableNowTarget: Option[Map[Int, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ends())

  override def reportLatestOffset(): StreamOffset =
    GraftTopicStreamOffset(ends())

  private def targetEnds(): Map[Int, Long] =
    availableNowTarget.getOrElse(ends())

  override def initialOffset(): StreamOffset =
    GraftTopicStreamOffset(ends().map { case (p, _) => p -> 0L })

  override def latestOffset(): StreamOffset = GraftTopicStreamOffset(targetEnds())

  /** Admission control: `maxOffsetsPerTrigger` caps how far a single
    * micro-batch may advance, summed across partitions and allocated
    * PROPORTIONALLY to each partition's backlog — the Kafka source's
    * shape. Proportional matters beyond fairness: it keeps arrival
    * order event-time-interleaved across partitions, so a watermarked
    * query's global watermark never runs ahead of an unread
    * partition's frontier. The earlier partition-order allocation
    * drained partition 0 completely before partition 1 saw budget —
    * every watermarked operator then dropped partition 1's rows as
    * late (caught by StreamExecParitySpec's eviction leg), and the
    * drain was serialized one partition at a time instead of reading
    * all partitions in parallel. */
  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val cur = targetEnds()
    limit match {
      case mr: ReadMaxRows =>
        val s = start.asInstanceOf[GraftTopicStreamOffset].ends
        val budget = mr.maxRows()
        val lags = cur.toSeq.sortBy(_._1).map { case (p, end) =>
          val lo = s.getOrElse(p, 0L)
          (p, lo, math.max(0L, end - lo))
        }
        val totalLag = lags.map(_._3).sum
        if (totalLag <= budget)
          // per-partition floor at the start offset: a checkpoint that
          // outlives a rebuilt-shorter topic must not regress the
          // offset log and re-deliver already-processed records
          GraftTopicStreamOffset(cur.map { case (p, end) =>
            p -> math.max(end, s.getOrElse(p, 0L))
          })
        else {
          // floor of the proportional share first, then the remainder
          // one row at a time to still-lagging partitions — total
          // admitted = budget exactly, and every partition with
          // backlog advances together
          val shares = lags.map { case (p, lo, lag) =>
            // BigInt: lag × budget can overflow Long on a deep backlog
            (p, lo, lag, (BigInt(lag) * budget / totalLag).toLong)
          }
          var rem = budget - shares.map(_._4).sum
          val capped = shares.map { case (p, lo, lag, share) =>
            val extra = if (rem > 0 && lag > share) { rem -= 1; 1L } else 0L
            p -> (lo + math.min(lag, share + extra))
          }.toMap
          GraftTopicStreamOffset(capped)
        }
      case _ => GraftTopicStreamOffset(cur)
    }
  }

  override def deserializeOffset(json: String): StreamOffset =
    GraftTopicStreamOffset.fromJson(json)

  override def planInputPartitions(start: StreamOffset,
      end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftTopicStreamOffset].ends
    val e = end.asInstanceOf[GraftTopicStreamOffset].ends
    val files = TopicLog.manifestFiles(topicDir).getOrElse(Seq.empty)
    // per-file offset ranges from the manifest: a tailing stream
    // plans only the files OVERLAPPING this batch's offset window —
    // per-trigger cost tracks the batch, not the topic's whole
    // history (without ranges, every historical file got a task
    // whose reader then skipped itself via footer stats)
    val ranges = TopicLog.manifestRanges(topicDir)
    val dataDir = Paths.get(topicDir, "data")
    files.sorted.flatMap { rel =>
      val p = rel.takeWhile(_ != '/').stripPrefix("partition=").toInt
      val lo = s.getOrElse(p, 0L)
      val hi = e.getOrElse(p, 0L) - 1 // inclusive upper bound
      val overlaps = ranges.get(rel).forall { case (flo, fhi) =>
        fhi >= lo && flo <= hi
      }
      // partitionOk carries the `partitions` read OPTION (Spark's
      // streaming planner never calls pushFilters, so an option is
      // the only way a stream prunes partitions at planning; Spark
      // keeps its own filter, so results are identical either way)
      if (hi < lo || !partitionOk(p) || !overlaps) None
      else Some(GraftTopicInputPartition(dataDir.resolve(rel).toString, p,
        Some(OffsetBounds(lo, hi))): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftTopicReaderFactory(required, OffsetBounds(Long.MinValue, Long.MaxValue))

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

/** Per-partition log-end offsets as a stream offset. JSON form is the
  * flat {"partition":end} map. */
case class GraftTopicStreamOffset(ends: Map[Int, Long]) extends StreamOffset {
  override def json(): String =
    ends.toSeq.sorted.map { case (p, e) => s""""$p":$e""" }.mkString("{", ",", "}")
}

object GraftTopicStreamOffset {
  def fromJson(s: String): GraftTopicStreamOffset =
    GraftTopicStreamOffset("\"(\\d+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap)
}

/** Per-file reader: parquet-mr Group reader with the projection
  * pushed into the read schema and the offset bounds compiled to a
  * FilterPredicate (row-group stats skipping + record filtering in
  * one mechanism). `partition` is synthesized from the directory key,
  * exactly like a partition column. */
class GraftTopicFileReader(part: GraftTopicInputPartition, required: StructType,
    bounds: OffsetBounds) extends PartitionReader[InternalRow] {

  private val hpath = new HPath(part.file)

  private val fileSchema: MessageType = {
    val fr = graft.streaming.TopicLog.openFooter(hpath)
    try fr.getFooter.getFileMetaData.getSchema finally fr.close()
  }

  // physical columns to decode: the required output minus the dir-key
  // column, plus offset when a filter needs it (record-level
  // filtering requires the filtered column in the read schema)
  private val physicalNames: Seq[String] = {
    val out = required.fieldNames.filter(_ != "partition").toSeq
    if (!bounds.isTrivial && !out.contains("offset")) out :+ "offset" else out
  }

  private val projection: MessageType = {
    val fields = fileSchema.getFields.asScala.filter(f => physicalNames.contains(f.getName))
    new MessageType(fileSchema.getName, fields.asJava)
  }

  private val reader: ParquetReader[Group] = {
    val conf = new Configuration(graft.streaming.TopicLog.sharedConf)
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    graft.streaming.TopicLog.openGroups(hpath, conf, offsetPredicate)
  }

  private def offsetPredicate: Option[FilterPredicate] = {
    if (bounds.isTrivial) None
    else {
      val c = FilterApi.longColumn("offset")
      val preds = Seq(
        Option.when(bounds.lower != Long.MinValue)(
          FilterApi.gtEq(c, java.lang.Long.valueOf(bounds.lower))),
        Option.when(bounds.upper != Long.MaxValue)(
          FilterApi.ltEq(c, java.lang.Long.valueOf(bounds.upper)))).flatten
      preds.reduceOption(FilterApi.and)
    }
  }

  private var current: Group = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    val g = current
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val f = required(i)
      row.update(i, if (f.name == "partition") part.partition else decode(g, f))
      i += 1
    }
    row
  }

  private def decode(g: Group, f: StructField): Any = {
    val idx = projection.getFieldIndex(f.name)
    if (g.getFieldRepetitionCount(idx) == 0) return null
    f.dataType match {
      case BinaryType => g.getBinary(idx, 0).getBytes
      case LongType => g.getLong(idx, 0)
      case IntegerType => g.getInteger(idx, 0)
      case TimestampType => decodeTimestamp(g, idx)
      case MapType(StringType, BinaryType, _) => decodeHeaders(g.getGroup(idx, 0))
      case other => throw new UnsupportedOperationException(s"graft-topic: $other")
    }
  }

  /** Spark writes TimestampType as INT96 (legacy default) or INT64
    * micros/millis depending on outputTimestampType — decode all
    * three to Catalyst micros. */
  private def decodeTimestamp(g: Group, idx: Int): Long = {
    val prim = projection.getType(idx).asPrimitiveType()
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT96 =>
        val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400L * 1000000L + nanosOfDay / 1000L
      case PrimitiveTypeName.INT64 =>
        val v = g.getLong(idx, 0)
        prim.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
          case t: TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
          case _ => v // micros
        }
      case other =>
        throw new UnsupportedOperationException(s"graft-topic timestamp as $other")
    }
  }

  /** map<string,binary> in parquet MAP shape:
    * group (MAP) { repeated group key_value { key, value } }. */
  private def decodeHeaders(mapGroup: Group): ArrayBasedMapData = {
    val n = mapGroup.getFieldRepetitionCount(0)
    val keys = new Array[Any](n)
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      val kv = mapGroup.getGroup(0, i)
      keys(i) = UTF8String.fromBytes(kv.getBinary("key", 0).getBytes)
      values(i) =
        if (kv.getType.asGroupType().getFieldCount > 1 &&
            kv.getFieldRepetitionCount(1) > 0) kv.getBinary(1, 0).getBytes
        else null
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  override def close(): Unit = reader.close()
}
