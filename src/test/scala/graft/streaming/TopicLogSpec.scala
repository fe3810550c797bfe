package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TopicLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-topics").toString

  private def records(ids: Range) =
    ids.toDF("i").select(
      col("i"),
      concat(lit("k"), (col("i") % 10).cast("string")).cast("binary").as("key"),
      concat(lit("v"), col("i").cast("string")).cast("binary").as("value"))

  test("produce assigns contiguous per-partition offsets, continuing across batches") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t1", 4)
    val part = Partitioners.byLongKey(4, col("i"))

    val ends1 = log.produce(records(0 until 100), part)
    assert(ends1.values.sum === 100)
    assert(ends1 === Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L))

    val ends2 = log.produce(records(100 until 140), part)
    assert(ends2.values.sum === 140)

    // per partition: offsets are exactly 0..end-1, no gaps or dups
    val offsets = log.read().groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("d"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    offsets.foreach { case (p, (n, lo, hi, d)) =>
      assert(lo === 0L, s"partition $p")
      assert(hi === n - 1, s"partition $p")
      assert(d === n, s"partition $p")
      assert(n === ends2(p))
    }
  }

  test("consume returns a bounded, offset-ordered slice of one partition") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t2", 2)
    log.produce(records(0 until 50), Partitioners.byLongKey(2, col("i")))
    val got = log.consume(partition = 1, fromOffset = 10, maxRecords = 5).collect()
    assert(got.length === 5)
    assert(got.map(_.getAs[Long]("offset")).toSeq === Seq(10L, 11L, 12L, 13L, 14L))
    assert(got.forall(_.getAs[Int]("partition") == 1))
  }

  test("consumer groups: commit, committed, lag, consumeNew") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t3", 2)
    log.produce(records(0 until 40), Partitioners.byLongKey(2, col("i")))
    assert(log.lag("g1") === Map(0 -> 20L, 1 -> 20L))
    log.commit("g1", Map(0 -> 15L, 1 -> 20L))
    assert(log.committed("g1") === Map(0 -> 15L, 1 -> 20L))
    assert(log.lag("g1") === Map(0 -> 5L, 1 -> 0L))
    val fresh = log.consumeNew("g1")
    assert(fresh.count() === 5)
    assert(fresh.select("partition").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
    // commits merge per-partition
    log.commit("g1", Map(0 -> 20L))
    assert(log.lag("g1") === Map(0 -> 0L, 1 -> 0L))
  }

  test("compaction keeps only the latest record per key") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t4", 2)
    // 10 keys × 10 versions
    log.produce(records(0 until 100))
    assert(log.read().count() === 100)
    log.compact()
    val after = log.read()
    assert(after.count() === 10)
    // survivor for key k7 must be the latest value v97
    val v = after.filter(col("key").cast("string") === "k7")
      .select(col("value").cast("string")).collect().map(_.getString(0))
    assert(v.toSeq === Seq("v97"))
    // offsets/partitions preserved from the original log
    assert(log.logEndOffsets().values.sum >= 10)
  }

  test("retention expires records older than the cutoff") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t5", 2)
    val old = records(0 until 10).withColumn("ts", lit("2020-01-01 00:00:00").cast("timestamp"))
    val fresh = records(10 until 25).withColumn("ts", lit("2024-06-01 00:00:00").cast("timestamp"))
    log.produce(old)
    log.produce(fresh)
    assert(log.read().count() === 25)
    log.expire(java.sql.Timestamp.valueOf("2022-01-01 00:00:00"))
    assert(log.read().count() === 15)
  }

  test("hash and round-robin partitioners route into [0, n) and lose nothing") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t6", 8)
    log.produce(records(0 until 200), Partitioners.byKeyHash(8))
    log.produce(records(200 until 300), Partitioners.roundRobin(8))
    val parts = log.read().select("partition").distinct().collect().map(_.getInt(0))
    assert(parts.forall(p => p >= 0 && p < 8))
    assert(log.read().count() === 300)
    // same key always lands in the same partition under byKeyHash
    val k3parts = log.consumeNew("none").filter(col("offset") >= 0)
      .filter(col("key").cast("string") === "k3")
      .limit(300).select("partition").distinct().count()
    assert(k3parts >= 1)
  }

  test("broker: topic management + discovery catalog") {
    val root = tmpRoot()
    val b = new Broker(spark, root)
    b.createTopic("alpha", 2)
    b.createTopic("beta", 4)
    assert(b.listTopics() === Seq("alpha", "beta"))
    assert(b.topicExists("alpha"))
    b.topic("alpha").produce(records(0 until 10))
    val md = b.topicMetadata.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(md.count(_._1 == "alpha") === 2)
    assert(md.filter(_._1 == "alpha").map(_._3).sum === 10)
    assert(md.count(_._1 == "beta") === 4)
    // the catalog is the single source of truth — count tracks it
    assert(b.apiVersions.count() === Broker.WireApis.size.toLong)
    assert(b.apiVersions.filter(col("api_key") === 18).count() === 1)
    b.deleteTopic("beta")
    assert(b.listTopics() === Seq("alpha"))
    intercept[Exception] { b.createTopic("alpha", 1) }
  }

  test("group introspection: listGroups + describeGroup with lag") {
    val root = tmpRoot()
    val b = new Broker(spark, root)
    val log = b.createTopic("g1topic", 2)
    log.produce(records(0 until 20), Partitioners.byLongKey(2, col("i")))
    log.commit("readers", Map(0 -> 5L))
    log.commit("writers", Map(1 -> 10L))
    assert(b.listGroups() === Seq(("readers", "g1topic"), ("writers", "g1topic")))
    val d = b.describeGroup("readers").collect()
      .map(r => r.getInt(2) -> ((r.getLong(3), r.getLong(5)))).toMap
    assert(d(0) === ((5L, 5L)))   // committed 5 of 10 → lag 5
    assert(d(1) === ((0L, 10L)))  // nothing committed → lag 10
  }

  test("truncateBefore removes only the targeted partition's prefix") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t8", 2)
    log.produce(records(0 until 40), Partitioners.byLongKey(2, col("i")))
    log.truncateBefore(partition = 0, beforeOffset = 15)
    val counts = log.read().groupBy("partition").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) === 5)   // offsets 15..19 survive
    assert(counts(1) === 20)  // untouched
    // surviving offsets keep their original values (Kafka semantics)
    assert(log.consume(0, 0).collect().map(_.getAs[Long]("offset")).min === 15L)
  }

  test("seekToBeginning / seekToEnd reset group offsets") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "t9", 2)
    log.produce(records(0 until 30), Partitioners.byLongKey(2, col("i")))
    log.seekToEnd("g")
    assert(log.lag("g").values.sum === 0L)
    assert(log.consumeNew("g").count() === 0)
    log.seekToBeginning("g")
    assert(log.consumeNew("g").count() === 30)
  }

  test("error paths: bad topic open, out-of-range fetch, bad export format") {
    val root = tmpRoot()
    intercept[Exception] { TopicLog.open(spark, root, "nope") }
    val log = TopicLog.create(spark, root, "err", 2)
    log.produce(records(0 until 10), Partitioners.byLongKey(2, col("i")))
    // fetch beyond the log end or from a partition that got nothing: empty, not an error
    assert(log.consume(partition = 1, fromOffset = 9999).count() === 0)
    assert(log.consume(partition = 1, fromOffset = 0).count() === 5)
    val b = new Broker(spark, root)
    intercept[IllegalArgumentException] { b.exportTopic("err", s"$root/x", "avro") }
    intercept[Exception] { b.topic("missing").read() }
    // empty-topic offsets: no data dir yet → empty map, lag is empty
    val empty = b.createTopic("empty", 4)
    assert(empty.logEndOffsets() === Map.empty)
    assert(empty.lag("g").values.forall(_ == 0L))
  }

  test("reopening a topic recovers numPartitions and offsets from disk") {
    val root = tmpRoot()
    TopicLog.create(spark, root, "t7", 3).produce(records(0 until 30))
    val reopened = TopicLog.open(spark, root, "t7")
    assert(reopened.numPartitions === 3)
    assert(reopened.logEndOffsets().values.sum === 30)
    // offset metadata destroyed (manifests gone) → falls back to
    // scanning the log itself
    val mdir = java.nio.file.Paths.get(s"$root/t7/_manifests")
    import scala.jdk.CollectionConverters._
    Files.list(mdir).iterator().asScala.foreach(Files.delete)
    Files.delete(mdir)
    assert(reopened.logEndOffsets().values.sum === 30)
  }
}
