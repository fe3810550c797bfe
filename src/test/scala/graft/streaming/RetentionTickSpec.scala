package graft.streaming

import java.net.Socket
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The WireServer's opt-in retention tick (VERDICT r6 directive 8):
  * a long-lived listener ENFORCES `retention.ms` instead of accepting
  * the config and never applying it. The tick rides the accept loop
  * (bounded SO_TIMEOUT wakeups; no tick when disabled), schedules the
  * expiry off-loop, and is safe under full produce concurrency — the
  * data-dir rewrite takes [[Broker.maintenanceLock]]'s write side
  * while every wire produce holds the read side, so racing produces
  * can never lose staged data to a swap. */
class RetentionTickSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  private def recAt(ts: Long, s: String) =
    WireRecordV2(ts, s"k-$s".getBytes("UTF-8"), s.getBytes("UTF-8"))

  test("a long-lived listener expires configured topics without any explicit call") {
    val root = Files.createTempDirectory("graft-tick").toString
    val broker = new Broker(spark, root)
    broker.createTopic("aged", 1)
    // one hour of retention; the ancient record is far past it
    TopicLog.writeConfigOverrides(root, "aged",
      Map("retention.ms" -> (60L * 60 * 1000).toString))
    val server = new WireServer(broker, retentionTickMs = 300L).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val now = System.currentTimeMillis()
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 1, "cli", null, 1, 30000,
          Seq(("aged", Seq((0, Seq(recAt(1700000000000L, "ancient"),
            recAt(now, "fresh")))))))))
      def survivors(corr: Int): Seq[String] = {
        val (_, topics) = decodeFetchResponse(12, exchange(sock,
          encodeFetchRequest(12, corr, "cli", 100, 1, 1 << 20,
            Seq(("aged", Seq((0, 0L, 1 << 20)))))))
        topics.head._2.head._4.map(r => new String(r._2.value, "UTF-8"))
      }
      // no explicit applyRetention anywhere: the tick must do it (it
      // may well have fired already — produce itself takes longer
      // than one tick interval, so no "before" state is assertable)
      val deadline = System.currentTimeMillis() + 30000
      var corr = 3
      var got = survivors(corr)
      while (got != Seq("fresh") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        corr += 1
        got = survivors(corr)
      }
      assert(got === Seq("fresh"),
        "the tick expired the ancient record; the fresh one survives")
    } finally { sock.close(); server.close() }
  }

  test("the tick compacts a dirty compact-policy topic with no explicit call") {
    val root = Files.createTempDirectory("graft-tickcmp").toString
    val broker = new Broker(spark, root)
    broker.createTopic("kc", 1)
    TopicLog.writeConfigOverrides(root, "kc",
      Map("cleanup.policy" -> "compact"))
    val server = new WireServer(broker, retentionTickMs = 300L).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // three values under ONE key: a never-cleaned topic is 100%
      // dirty, so the tick's 0.5 gate must fire
      def keyed(ts: Long, v: String) =
        WireRecordV2(ts, "k".getBytes("UTF-8"), v.getBytes("UTF-8"))
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 1, "cli", null, 1, 30000,
          Seq(("kc", Seq((0, Seq(keyed(1700000000000L, "old"),
            keyed(1700000000001L, "mid"), keyed(1700000000002L, "new")))))))))
      def values(corr: Int): Seq[String] = {
        val (_, topics) = decodeFetchResponse(12, exchange(sock,
          encodeFetchRequest(12, corr, "cli", 100, 1, 1 << 20,
            Seq(("kc", Seq((0, 0L, 1 << 20)))))))
        topics.head._2.head._4.map(r => new String(r._2.value, "UTF-8"))
      }
      val deadline = System.currentTimeMillis() + 30000
      var corr = 3
      var got = values(corr)
      while (got != Seq("new") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        corr += 1
        got = values(corr)
      }
      assert(got === Seq("new"),
        "the tick compacted the duplicate keys; latest-per-key survives")
      // and the cleaner checkpoint now gates re-compaction
      assert(broker.topic("kc").dirtyRatio === 0.0)
    } finally { sock.close(); server.close() }
  }

  test("dirty ratio gates compaction: clean topics skip the rewrite") {
    val root = Files.createTempDirectory("graft-dirty").toString
    val broker = new Broker(spark, root)
    broker.createTopic("cl", 1)
    TopicLog.writeConfigOverrides(root, "cl",
      Map("cleanup.policy" -> "compact"))
    val log = broker.topic("cl")
    def produce(n: Int, tag: String): Unit = {
      import spark.implicits._
      log.produce((0 until n).toDF("i").select(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("k"),
          (org.apache.spark.sql.functions.col("i") % 3)
            .cast("string")).cast("binary").as("key"),
        org.apache.spark.sql.functions.lit(tag).cast("binary").as("value")),
        Partitioners.byLongKey(1, org.apache.spark.sql.functions.lit(0L)))
    }
    produce(30, "a")
    // never compacted: the whole log is dirty
    assert(log.dirtyRatio === 1.0)
    assert(broker.applyCompaction(0.5) === Seq("cl"))
    // freshly cleaned: nothing dirty, the gate skips the rewrite
    assert(log.dirtyRatio === 0.0)
    assert(broker.applyCompaction(0.5) === Seq.empty)
    // a small append dirties a little — still under the gate
    produce(2, "b")
    val small = log.dirtyRatio
    assert(small > 0.0 && small < 0.5, s"small append ratio $small")
    assert(broker.applyCompaction(0.5) === Seq.empty)
    // a large append crosses it
    produce(60, "c")
    assert(log.dirtyRatio > 0.5)
    assert(broker.applyCompaction(0.5) === Seq("cl"))
    // per-topic min.cleanable.dirty.ratio override wins over the arg
    TopicLog.writeConfigOverrides(root, "cl",
      Map("cleanup.policy" -> "compact",
        "min.cleanable.dirty.ratio" -> "0.01"))
    produce(2, "d")
    assert(broker.applyCompaction(0.5) === Seq("cl"),
      "the 0.01 override must compact what the 0.5 default would skip")
    // compaction left exactly the latest record per key
    val kept = log.read().collect()
      .map(r => new String(r.getAs[Array[Byte]]("key"), "UTF-8") ->
        new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toMap
    assert(kept === Map("k0" -> "d", "k1" -> "d", "k2" -> "c"))
  }

  test("ticks race concurrent wire producers without losing acked data") {
    val root = Files.createTempDirectory("graft-tick-race").toString
    val broker = new Broker(spark, root)
    broker.createTopic("racy", 2)
    TopicLog.writeConfigOverrides(root, "racy",
      Map("retention.ms" -> (60L * 60 * 1000).toString))
    // plant an ancient record the ticks will chew on while producing
    broker.handleProduce(encodeProduceRequest(9, 0, "seed", null, 1, 30000,
      Seq(("racy", Seq((0, Seq(recAt(1700000000000L, "ancient"))))))))
    val server = new WireServer(broker, retentionTickMs = 200L).start()
    val nThreads = 4
    val perThread = 6
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val threads = (0 until nThreads).map { i =>
      val t = new Thread(() => {
        start.await()
        val sock = new Socket("127.0.0.1", server.boundPort)
        try {
          for (b <- 0 until perThread) {
            val now = System.currentTimeMillis()
            val recs = (0 until 5).map(r => recAt(now, s"t$i-b$b-r$r"))
            val (_, res) = decodeProduceResponse(9, exchange(sock,
              encodeProduceRequest(9, b + 1, s"p$i", null, 1, 30000,
                Seq(("racy", Seq((i % 2, recs)))))))
            assert(res.head._2.head._2 === 0,
              s"thread $i batch $b errored ${res.head._2.head._2}")
          }
        } catch { case e: Throwable => failures.add(e) }
        finally sock.close()
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    // give the tick one more pass, then close (close waits out any
    // in-flight tick) and verify on the quiesced log
    Thread.sleep(1500)
    server.close()
    assert(failures.isEmpty,
      failures.toArray.map(_.toString).mkString("; "))
    val rows = broker.topic("racy").read()
      .selectExpr("cast(value as string) as v").collect().map(_.getString(0))
    // every acked fresh record survived the rewrites...
    assert(rows.count(_.startsWith("t")) === nThreads * perThread * 5,
      "no acked record was lost to a racing retention rewrite")
    // ...and the ancient seed did not (some tick ran meanwhile)
    assert(!rows.contains("ancient"))
  }

  test("retention.bytes sheds exactly the oldest files; the tick applies it") {
    val root = Files.createTempDirectory("graft-tickbytes").toString
    val broker = new Broker(spark, root)
    broker.createTopic("capped", 1)
    val server = new WireServer(broker, retentionTickMs = 300L).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // three separate produces → three files per the manifest, in
      // offset order: [0,1] [2,3] [4,5]
      val now = System.currentTimeMillis()
      Seq("a", "b", "c").zipWithIndex.foreach { case (tag, i) =>
        decodeProduceResponse(9, exchange(sock,
          encodeProduceRequest(9, i + 1, "cli", null, 1, 30000,
            Seq(("capped", Seq((0, Seq(recAt(now, s"$tag-0"),
              recAt(now, s"$tag-1")))))))))
      }
      val total = broker.topic("capped").partitionSizes()(0)
      // the config lands through the WIRE path (key 44) — the same
      // validator every config door shares must accept it
      val (_, alterRes) = decodeIncrementalAlterConfigsResponse(1,
        exchange(sock, encodeIncrementalAlterConfigsRequest(1, 10, "cli",
          Seq((2, "capped", Seq(("retention.bytes", 0, (total - 1).toString)))))))
      assert(alterRes === Seq((0, null, 2, "capped")))
      // ... and a bogus value is rejected by the shared validator
      val (_, badRes) = decodeIncrementalAlterConfigsResponse(1,
        exchange(sock, encodeIncrementalAlterConfigsRequest(1, 11, "cli",
          Seq((2, "capped", Seq(("retention.bytes", 0, "many")))))))
      assert(badRes.head._1 === 40)

      // DescribeConfigs echoes the override as a topic-level value
      val (_, desc) = decodeDescribeConfigsResponse(4, exchange(sock,
        encodeDescribeConfigsRequest(4, 12, "cli",
          Seq((2, "capped", Some(Seq("retention.bytes")))))))
      assert(desc.head._5 === Seq(("retention.bytes",
        (total - 1).toString, true)), "served as a DYNAMIC override")

      // the tick enforces the cap with no explicit call: dropping the
      // oldest file brings the partition under it, so exactly the
      // first produce's records [0,1] vanish; survivors keep offsets
      def survivors(corr: Int): Seq[(Long, String)] = {
        val (_, topics) = decodeFetchResponse(12, exchange(sock,
          encodeFetchRequest(12, corr, "cli", 100, 1, 1 << 20,
            Seq(("capped", Seq((0, 0L, 1 << 20)))))))
        topics.head._2.head._4.map(r =>
          (r._1, new String(r._2.value, "UTF-8")))
      }
      val deadline = System.currentTimeMillis() + 30000
      var corr = 20
      var got = survivors(corr)
      while (got.length != 4 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        corr += 1
        got = survivors(corr)
      }
      assert(got === Seq((2L, "b-0"), (3L, "b-1"), (4L, "c-0"),
        (5L, "c-1")),
        "size retention sheds whole oldest files; survivors keep offsets")
      // the newest file always survives, even if still over the cap:
      // cap far below one file's size must keep the last produce
      broker.topic("capped").enforceSizeRetention(1L)
      val after = broker.topic("capped").read()
        .selectExpr("offset", "cast(value as string) as v")
        .orderBy("offset").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(after.toSeq === Seq((4L, "c-0"), (5L, "c-1")),
        "the active-file rule: a cap below one file keeps the newest file")
    } finally { sock.close(); server.close() }
  }

  /** 300 one-record wire produces to `name`, alternating partitions. */
  private def produce300(sock: Socket, name: String): Unit =
    (1 to 300).foreach { i =>
      val (_, res) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, i, "cli", null, 1, 30000,
          Seq((name, Seq((i % 2, Seq(recAt(System.currentTimeMillis(), s"r$i")))))))))
      assert(res.head._2.head._2 === 0, s"produce $i errored")
    }

  test("the tick retires manifest history; a cold resolve equals the manifest before") {
    val root = Files.createTempDirectory("graft-tickvac").toString
    val broker = new Broker(spark, root)
    broker.createTopic("hist", 2)
    val server = new WireServer(broker, retentionTickMs = 200L).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      produce300(sock, "hist")
      val log = broker.topic("hist")
      val before = log.currentManifest().get
      // once produces stop, the next tick leaves the newest
      // keepManifests (10) versions
      val deadline = System.currentTimeMillis() + 30000
      while (log.manifestVersions().size > 10 &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(log.manifestVersions().size <= 10,
        s"${log.manifestVersions().size} versions after 300 produces")
      val cold = TopicLog.resolveManifestFull(
        java.nio.file.Paths.get(log.topicDir, "_manifests")).get
      assert((cold.files, cold.ends, cold.fileRanges) ===
        ((before.files, before.ends, before.fileRanges)))
      assert(cold.ends.values.sum === 300L)
    } finally { sock.close(); server.close() }
  }

  test("with the tick off, manifest history is left alone") {
    val root = Files.createTempDirectory("graft-notick").toString
    val broker = new Broker(spark, root)
    broker.createTopic("kept", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val log = broker.topic("kept")
      produce300(sock, "kept")
      Thread.sleep(1500)
      // v0 (the first produce's empty manifest), then one per produce
      assert(log.manifestVersions() === (0L to 300L))
    } finally { sock.close(); server.close() }
  }

  /** `n` records to partition 0 of `name`, one wire produce. */
  private def produceWire(broker: Broker, corr: Int, name: String,
      n: Int): Unit = {
    val recs = (1 to n).map(i => recAt(System.currentTimeMillis(), s"c$corr-$i"))
    val (_, res) = decodeProduceResponse(9, broker.handleProduce(
      encodeProduceRequest(9, corr, "cli", null, 1, 30000,
        Seq((name, Seq((0, recs)))))))
    assert(res.head._2.head._2 === 0, s"produce $corr errored")
  }

  /** Copies of a live data file, aged past vacuum's `minAgeMs`: to a
    * vacuum they are crash orphans to delete. */
  private def plantAgedOrphans(log: TopicLog, n: Int): Seq[java.nio.file.Path] = {
    val dd = java.nio.file.Paths.get(log.dataDir)
    val live = dd.resolve(log.currentManifest().get.files.head)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * TopicLog.DefaultVacuumMinAgeMs)
    (1 to n).map { i =>
      val f = live.resolveSibling(s"orphan-$i.parquet")
      Files.copy(live, f)
      Files.setLastModifiedTime(f, old)
      f
    }
  }

  test("history retirement deletes no data file and runs beside a DeleteRecords rewrite") {
    val root = Files.createTempDirectory("graft-retire").toString
    val broker = new Broker(spark, root)
    broker.createTopic("trunc", 1)
    (1 to 3).foreach(c => produceWire(broker, c, "trunc", 10))
    val log = broker.topic("trunc")
    val orphans = plantAgedOrphans(log, 20)
    assert(broker.retireManifestHistory() === Seq("trunc"))
    assert(orphans.forall(Files.exists(_)),
      "only an explicit vacuum deletes data files")
    // DeleteRecords lists the data dir and deletes every file in it:
    // a retirement deleting files in between would fail it half-done
    val retired = new ConcurrentLinkedQueue[Seq[String]]()
    val truncating = new java.util.concurrent.atomic.AtomicBoolean(true)
    val retirer = new Thread(() =>
      while (truncating.get) retired.add(broker.retireManifestHistory()))
    retirer.start()
    val (_, res) = try decodeDeleteRecordsResponse(2, broker.handleDeleteRecords(
      encodeDeleteRecordsRequest(2, 9, "adm", Seq(("trunc", Seq((0, 12L)))),
        30000)))
    finally { truncating.set(false); retirer.join(60000) }
    assert(res.head._2.head === ((0, 12L, 0)))
    assert(!retired.isEmpty)
    retired.forEach(r => assert(r === Seq("trunc")))
    val m = log.currentManifest().get
    assert(m.files.forall(f =>
      Files.exists(java.nio.file.Paths.get(log.dataDir, f))))
    assert(log.consumeForWire(0, 0L, 100).map(_.offset) === (12L until 30L))
  }

  test("a topic whose history retirement fails does not stop the others") {
    val root = Files.createTempDirectory("graft-retire-err").toString
    val broker = new Broker(spark, root)
    broker.createTopic("a-broken", 1)
    broker.createTopic("b-fine", 1)
    (1 to 12).foreach { c =>
      produceWire(broker, c, "a-broken", 1)
      produceWire(broker, c, "b-fine", 1)
    }
    // a version "file" that is a directory: resolving the topic fails
    Files.createDirectories(java.nio.file.Paths.get(
      broker.topic("a-broken").topicDir, "_manifests", "v999.json"))
    assert(broker.retireManifestHistory() === Seq("b-fine"))
    assert(broker.topic("b-fine").manifestVersions().size <= 10)
  }
}
