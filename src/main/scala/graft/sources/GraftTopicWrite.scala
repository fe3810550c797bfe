package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Comparator

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Write paths for topics — batch (`INSERT INTO graft.<topic>`) and
  * streaming (`writeStream.format("graft-topic")`) — both run a real
  * PRODUCE, not a blind file append.
  *
  * Semantics mirror the Kafka producer contract:
  *  - a non-null `partition` value is honored as explicit routing
  *    (like a producer that pins partitions); a NULL `partition`
  *    falls back to key-hash routing, the producer default;
  *  - the `offset` value is IGNORED — log coordinates are assigned by
  *    the commit, exactly like a broker (producers cannot pick
  *    offsets);
  *  - the whole INSERT commits atomically through the manifest
  *    protocol: tasks stage raw records (parquet-mr writers, no
  *    offsets yet), and the driver-side commit runs
  *    `TopicLog.produce` over the staged batch — crash before commit
  *    leaves nothing visible.
  */
class GraftTopicWriteBuilder(topicDir: String, info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write =
    new GraftTopicWrite(topicDir, info.schema(), info.queryId())
}

class GraftTopicWrite(topicDir: String, schema: StructType, queryId: String)
    extends Write
    with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val stagingDir = s"$topicDir/_staging/insert-${java.util.UUID.randomUUID()}"

  override def toBatch: BatchWrite = this
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = this
  // both parent traits declare this default; pick one explicitly
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftTopicWriterFactory(stagingDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    produceStaged(stagingDir, batchId = None)
    deleteStaging(stagingDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteStaging(stagingDir)

  // --- streaming sink: one staged dir per epoch, produce-at-commit
  // with the (queryId, epoch) pair as the manifest writer epoch → a
  // replayed epoch of THIS query is skipped, while a different query
  // writing to the same topic (its own checkpoint, epochs restarting
  // at 0) is a different writer and lands normally — exactly-once per
  // writer through the same CAS manifest protocol as batch.
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftTopicStreamingWriterFactory(stagingDir, schema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochDir = s"$stagingDir/epoch-$epochId"
    if (Files.exists(Paths.get(epochDir))) produceStaged(epochDir, Some(epochId))
    deleteStaging(epochDir)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    deleteStaging(s"$stagingDir/epoch-$epochId")

  /** Run the staged records through a real produce. Explicit partition
    * values are honored; NULL partition falls back to key-hash routing
    * (the producer default) instead of pinning every unrouted record
    * to partition 0 and skewing the topic. */
  private def produceStaged(dir: String, batchId: Option[Long]): Unit = {
    val spark = SparkSession.active
    val slash = topicDir.stripSuffix("/").lastIndexOf('/')
    val (root, topic) = (topicDir.substring(0, slash), topicDir.substring(slash + 1))
    val staged = spark.read.schema(graft.streaming.TopicLog.readSchema)
      .parquet(dir)
    val log = graft.streaming.TopicLog.open(spark, root, topic)
    val router = org.apache.spark.sql.functions.coalesce(col("partition"),
      graft.streaming.Partitioners.byKeyHash(log.numPartitions))
    batchId match {
      case Some(epoch) =>
        log.produceIdempotentFor(queryId, staged.drop("offset"), epoch,
          partitioner = router)
      case None =>
        log.produce(staged.drop("offset"), partitioner = router)
    }
  }

  private def deleteStaging(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      graft.streaming.TopicLog.walkPaths(p)
        .sortWith(_.compareTo(_) > 0).foreach(f => Files.delete(f))
  }
}

case class GraftTopicWriterFactory(stagingDir: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftTopicDataWriter(s"$stagingDir/task-$partitionId-$taskId.parquet", schema)
}

case class GraftTopicStreamingWriterFactory(stagingDir: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftTopicDataWriter(
      s"$stagingDir/epoch-$epochId/task-$partitionId-$taskId.parquet", schema)
}

case class GraftTopicCommit(file: String, rows: Long) extends WriterCommitMessage

/** Per-task staged-record writer (parquet-mr Group API — the write
  * mirror of GraftTopicFileReader). Stages the record model verbatim;
  * offsets are placeholders overwritten by the produce at commit. */
class GraftTopicDataWriter(file: String, schema: StructType)
    extends DataWriter[InternalRow] {

  private val messageType: MessageType = Types.buildMessage()
    .optional(PrimitiveTypeName.BINARY).named("key")
    .optional(PrimitiveTypeName.BINARY).named("value")
    .optionalMap()
      .key(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
      .optionalValue(PrimitiveTypeName.BINARY)
      .named("headers")
    .optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      .named("ts")
    .optional(PrimitiveTypeName.INT32).named("partition")
    .required(PrimitiveTypeName.INT64).named("offset")
    .named("spark_schema")

  private val idx: Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  private val writer: ParquetWriter[Group] = {
    Files.createDirectories(Paths.get(file).getParent)
    val conf = new Configuration(graft.streaming.TopicLog.sharedConf)
    GroupWriteSupport.setSchema(messageType, conf)
    ExampleParquetWriter.builder(new HPath(file)).withConf(conf).build()
  }

  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val g = new SimpleGroup(messageType)
    idx.get("key").filterNot(row.isNullAt)
      .foreach(i => g.add("key", Binary.fromConstantByteArray(row.getBinary(i))))
    idx.get("value").filterNot(row.isNullAt)
      .foreach(i => g.add("value", Binary.fromConstantByteArray(row.getBinary(i))))
    idx.get("headers").filterNot(row.isNullAt).foreach { i =>
      val m = row.getMap(i)
      val hg = g.addGroup("headers")
      var k = 0
      while (k < m.numElements()) {
        val kv = hg.addGroup("key_value")
        kv.add("key", Binary.fromString(m.keyArray().getUTF8String(k).toString))
        if (!m.valueArray().isNullAt(k))
          kv.add("value", Binary.fromConstantByteArray(m.valueArray().getBinary(k)))
        k += 1
      }
    }
    idx.get("ts").filterNot(row.isNullAt)
      .foreach(i => g.add("ts", row.getLong(i)))
    // null partition stays null — the commit routes it by key hash
    // (Kafka producer contract: unpinned records get hashed routing)
    idx.get("partition").filterNot(row.isNullAt)
      .foreach(i => g.add("partition", row.getInt(i)))
    g.add("offset", 0L) // placeholder — assigned by produce at commit
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    GraftTopicCommit(file, rows)
  }

  override def abort(): Unit = {
    writer.close()
    Files.deleteIfExists(Paths.get(file))
  }

  override def close(): Unit = ()
}
