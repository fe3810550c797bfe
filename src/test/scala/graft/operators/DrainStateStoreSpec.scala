package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{JoinDrainFixture, TopicLog}

/** A finished drain unloads exactly the state-store providers its own
  * query registered. */
class DrainStateStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a stream-stream join drain's rebuilt store ids are the ones Spark loaded, and go") {
    val root = Files.createTempDirectory("graft-dss").toString
    val log = TopicLog.create(spark, root, "t", 2)
    JoinDrainFixture.produce(spark, log, 0 until 40)
    val ss = Streams.drainSession(spark)
    val ckpt = Files.createTempDirectory("graft-dss-ckpt")
    val q = JoinDrainFixture.join(ss.readStream.format("graft-topic").load(s"$root/t"))
      .writeStream.format("parquet")
      .option("path", Files.createTempDirectory("graft-dss-out").toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val ids = ColumnBridge.stateStoreIds(q)
    val partitions = ss.conf.get("spark.sql.shuffle.partitions").toInt
    // one join operator × its partitions × 4 stores (keyToNumValues and
    // keyWithIndexToValue per side)
    assert(ids.size === partitions * 4)
    assert(ids.map(_.storeId.storeName).toSet === Set("left-keyToNumValues",
      "left-keyWithIndexToValue", "right-keyToNumValues", "right-keyWithIndexToValue"))
    assert(ids.forall(ColumnBridge.isStateStoreLoaded), "ids must match Spark's registry")
    Streams.releaseCheckpoint(q, ckpt)
    assert(!Files.exists(ckpt))
    assert(!ids.exists(ColumnBridge.isStateStoreLoaded))
  }

  test("a concurrent streaming query keeps its state stores loaded through a drain") {
    import spark.implicits._
    // a small events table for the drain
    val dir = Files.createTempDirectory("graft-dss-events").toString
    (0 until 40).map { i =>
      (i.toLong, (i % 4).toLong, new java.sql.Timestamp(1700000000000L + i * 600000L),
        if (i % 3 == 0) "purchase" else "view", s"""{"k": ${i % 5}}""")
    }.toDF("event_id", "user_id", "ts", "event_type", "props")
      .write.parquet(s"$dir/events.parquet")

    val root = Files.createTempDirectory("graft-dss-other").toString
    val log = TopicLog.create(spark, root, "t", 2)
    JoinDrainFixture.produce(spark, log, 0 until 20)
    val other = spark.readStream.format("graft-topic").load(s"$root/t")
      .groupBy(col("partition")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dss_other").outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("graft-dss-other-ckpt").toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      other.processAllAvailable()
      val ids = ColumnBridge.stateStoreIds(other)
      assert(ids.nonEmpty && ids.forall(ColumnBridge.isStateStoreLoaded))

      val drained = Streams.streamExecTumbling(spark, dir).collect()
      assert(drained.map(_.getLong(2)).sum === 40L)
      assert(ids.forall(ColumnBridge.isStateStoreLoaded),
        "the drain must leave another query's providers loaded")
    } finally other.stop()
  }
}
