package graft.streaming

import java.net.Socket
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ShareFetch (key 78) / ShareAcknowledge (key 79) — the KIP-932
  * queue data path over the wire, serving the durable [[ShareGroup]]
  * state machine to a Kafka 4.x share consumer: codec round-trips, a
  * hand-laid golden frame, and the full share-session lifecycle over
  * a real TCP socket (acquire under locks → ack Accept/Release/
  * Reject → redelivery with bumped counts → INVALID_RECORD_STATE for
  * stale acks → session epoch discipline → close). The reference
  * roadmaps the consumer surface (ref README.md:47–50); queues are
  * its modern form. */
class ShareWireSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  private def mkBroker(n: Int): (Broker, TopicLog) = {
    val root = Files.createTempDirectory("graft-sharewire").toString
    val broker = new Broker(spark, root)
    val log = broker.createTopic("q", 1)
    import spark.implicits._
    log.produce((0 until n).toDF("i").select(
      col("i"),
      concat(lit("k"), col("i").cast("string")).cast("binary").as("key"),
      concat(lit("v"), col("i").cast("string")).cast("binary").as("value")),
      Partitioners.byLongKey(1, lit(0L)))
    (broker, log)
  }

  test("ShareFetch request matches the hand-laid golden frame") {
    // header v2: api_key 78, v0, corr 9, client "c", tags; body:
    // group "g", member "m", epoch 0, wait 500, min 1, max 64 MiB,
    // topics [id("t") → [partition 0, 1 MiB, no acks]], no forgotten
    val golden = (Array[Int](
      0x00, 0x00, 0x00, 0x3f, // frame size 63
      0x00, 0x4e, // api_key 78
      0x00, 0x00, // version 0
      0x00, 0x00, 0x00, 0x09, // correlation id 9
      0x00, 0x01, 0x63, // client id "c"
      0x00, // header tags
      0x02, 0x67, // group_id compact "g"
      0x02, 0x6d, // member_id compact "m"
      0x00, 0x00, 0x00, 0x00, // share_session_epoch 0
      0x00, 0x00, 0x01, 0xf4, // max_wait_ms 500
      0x00, 0x00, 0x00, 0x01, // min_bytes 1
      0x04, 0x00, 0x00, 0x00, // max_bytes 64 MiB
      0x02 // topics: compact array length 1
    ).map(_.toByte)
      ++ topicUuid("t")
      ++ Array[Int](
        0x02, // partitions: compact array length 1
        0x00, 0x00, 0x00, 0x00, // partition_index 0
        0x00, 0x10, 0x00, 0x00, // partition_max_bytes 1 MiB
        0x01, // acknowledgement_batches: empty
        0x00, // partition tags
        0x00, // topic tags
        0x01, // forgotten_topics_data: empty
        0x00 // body tags
      ).map(_.toByte))
    assert(encodeShareFetchRequest(9, "c", "g", "m", 0,
      Seq("t" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty)))) === golden)
  }

  test("ShareAcknowledge request matches the hand-laid golden frame") {
    // header v2: api_key 79, v0, corr 9, client "c", tags; body:
    // group "g", member "m", epoch 1, topics [id("t") → [partition 0,
    // one batch accepting offsets 0–2]]
    val golden = (Array[Int](
      0x00, 0x00, 0x00, 0x41, // frame size 65
      0x00, 0x4f, // api_key 79
      0x00, 0x00, // version 0
      0x00, 0x00, 0x00, 0x09, // correlation id 9
      0x00, 0x01, 0x63, // client id "c"
      0x00, // header tags
      0x02, 0x67, // group_id compact "g"
      0x02, 0x6d, // member_id compact "m"
      0x00, 0x00, 0x00, 0x01, // share_session_epoch 1
      0x02 // topics: compact array length 1
    ).map(_.toByte)
      ++ topicUuid("t")
      ++ Array[Int](
        0x02, // partitions: compact array length 1
        0x00, 0x00, 0x00, 0x00, // partition_index 0
        0x02, // acknowledgement_batches: compact array length 1
        0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, // first_offset 0
        0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x02, // last_offset 2
        0x02, 0x01, // acknowledge_types: [1] (accept)
        0x00, // batch tags
        0x00, // partition tags
        0x00, // topic tags
        0x00 // body tags
      ).map(_.toByte))
    assert(encodeShareAcknowledgeRequest(9, "c", "g", "m", 1,
      Seq("t" -> Seq(0 -> Seq(ShareAckBatch(0L, 2L, Seq(1)))))) === golden)
  }

  test("ShareFetch v1 request matches the hand-laid golden frame") {
    // v1 (AK 4.1 GA): top-level max_records + batch_size, NO
    // per-partition partition_max_bytes — record-count flow control
    val golden = (Array[Int](
      0x00, 0x00, 0x00, 0x43, // frame size 67
      0x00, 0x4e, // api_key 78
      0x00, 0x01, // version 1
      0x00, 0x00, 0x00, 0x09, // correlation id 9
      0x00, 0x01, 0x63, // client id "c"
      0x00, // header tags
      0x02, 0x67, // group_id compact "g"
      0x02, 0x6d, // member_id compact "m"
      0x00, 0x00, 0x00, 0x00, // share_session_epoch 0
      0x00, 0x00, 0x01, 0xf4, // max_wait_ms 500
      0x00, 0x00, 0x00, 0x01, // min_bytes 1
      0x04, 0x00, 0x00, 0x00, // max_bytes 64 MiB
      0x00, 0x00, 0x00, 0x64, // max_records 100 (v1)
      0x00, 0x00, 0x00, 0x32, // batch_size 50 (v1)
      0x02 // topics: compact array length 1
    ).map(_.toByte)
      ++ topicUuid("t")
      ++ Array[Int](
        0x02, // partitions: compact array length 1
        0x00, 0x00, 0x00, 0x00, // partition_index 0 (no max_bytes at v1)
        0x01, // acknowledgement_batches: empty
        0x00, // partition tags
        0x00, // topic tags
        0x01, // forgotten_topics_data: empty
        0x00 // body tags
      ).map(_.toByte))
    assert(encodeShareFetchRequest(9, "c", "g", "m", 0,
      Seq("t" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
      version = 1, maxRecords = 100, batchSize = 50) === golden)
    val rt = decodeShareFetchRequest(golden, topicIdResolverFor(Seq("t")))
    assert(rt.version === 1 && rt.maxRecords === 100 && rt.batchSize === 50)
    assert(rt.topics.head._2 === Seq(ShareFetchPartition(0, Int.MaxValue,
      Seq.empty)))
  }

  test("ShareFetch v1 flow control: max_records caps the whole response") {
    val (broker, _) = mkBroker(10)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // max_records 4 < the 10 available: exactly 4 acquire
      val r1 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(1, "cli", "fc", "m1", 0,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 4, batchSize = 100)),
        topicIdResolverFor(Seq("q")), version = 1)
      assert(r1._2 === 0)
      val p1 = r1._4.head._2.head
      assert(p1.records.map(_._1) === (0L until 4L))
      assert(p1.acquired === Seq(ShareAcquired(0L, 3L, 1)))
      // batch_size 2 with budget 10: the per-partition acquisition
      // still stops at 2
      val r2 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(2, "cli", "fc", "m1", 1,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 10, batchSize = 2)),
        topicIdResolverFor(Seq("q")), version = 1)
      assert(r2._4.head._2.head.records.map(_._1) === Seq(4L, 5L))
      // v1 acks ride like v0's; close applies them
      val r3 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(3, "cli", "fc", "m1", -1,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20,
            Seq(ShareAckBatch(0L, 5L, Seq(1)))))), version = 1)),
        topicIdResolverFor(Seq("q")), version = 1)
      assert(r3._2 === 0 && r3._4.head._2.head.ackErrorCode === 0)
      assert(broker.shareGroup("q", "fc").startOffset(0) === 6L)
    } finally { sock.close(); server.close() }
  }

  test("a hole the log no longer holds inside the acquired window archives; the SPSO passes it") {
    val root = Files.createTempDirectory("graft-sharewire").toString
    val broker = new Broker(spark, root)
    val log = broker.createTopic("h", 1)
    // k1 twice: compaction drops offset 1, a hole between 0 and 2
    log.produceDirect(Seq("k0", "k1", "k1", "k2").map(k =>
      (0, k.getBytes("UTF-8"), s"v-$k".getBytes("UTF-8"),
        Map.empty[String, Array[Byte]], 1700000000000L)))
    log.compact()
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val r1 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(1, "cli", "hg", "m1", 0,
          Seq("h" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 10, batchSize = 10)),
        topicIdResolverFor(Seq("h")), version = 1)
      val p1 = r1._4.head._2.head
      assert(p1.records.map(_._1) === Seq(0L, 2L, 3L))
      assert(p1.acquired === Seq(ShareAcquired(0L, 0L, 1), ShareAcquired(2L, 3L, 1)))
      // accepting what was served moves the SPSO past the archived hole
      val r2 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(2, "cli", "hg", "m1", -1,
          Seq("h" -> Seq(ShareFetchPartition(0, 1 << 20,
            Seq(ShareAckBatch(0L, 0L, Seq(1)), ShareAckBatch(2L, 3L, Seq(1)))))),
          version = 1)),
        topicIdResolverFor(Seq("h")), version = 1)
      assert(r2._4.head._2.head.ackErrorCode === 0)
      assert(broker.shareGroup("h", "hg").startOffset(0) === 4L)
    } finally { sock.close(); server.close() }
  }

  test("ShareFetch racing produces delivers every record: acquisition stops at the manifest it reads") {
    val root = Files.createTempDirectory("graft-sharerace").toString
    val broker = new Broker(spark, root)
    val log = broker.createTopic("race", 4)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val perPartition = 150
    @volatile var producing = true
    // one record per partition per commit, so commits land between a
    // pass's manifest resolve and its later partitions' acquisitions
    val producer = new Thread(() =>
      try (0 until perPartition).foreach { i =>
        log.produceDirect((0 until 4).map(p => (p, s"k$i".getBytes("UTF-8"),
          s"v$i".getBytes("UTF-8"), Map.empty[String, Array[Byte]],
          1700000000000L)))
      } finally producing = false)
    val got = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Long])
    try {
      producer.start()
      var acks = Map.empty[Int, Seq[ShareAckBatch]]
      var epoch = 0
      val deadline = System.currentTimeMillis() + 60000
      while ((producing || got.map(_.size).sum < 4 * perPartition) &&
          System.currentTimeMillis() < deadline) {
        val (_, err, _, topics) = decodeShareFetchResponse(exchange(sock,
          encodeShareFetchRequest(epoch + 1, "cli", "rg", "m1", epoch,
            Seq("race" -> (0 until 4).map(p =>
              ShareFetchPartition(p, 1 << 20, acks.getOrElse(p, Seq.empty)))),
            maxWaitMs = 20, version = 1, maxRecords = 40, batchSize = 40)),
          topicIdResolverFor(Seq("race")), version = 1)
        assert(err === 0)
        val parts = topics.flatMap(_._2)
        parts.foreach(pr => got(pr.partition) ++= pr.records.map(_._1))
        acks = parts.map(pr => pr.partition -> pr.acquired.map(a =>
          ShareAckBatch(a.firstOffset, a.lastOffset, Seq(1)))).toMap
        epoch += 1
      }
      producer.join()
      // an offset acquired past the pass's manifest would have read as
      // a hole and been archived, never delivered
      (0 until 4).foreach(p =>
        assert(got(p).sorted === (0L until perPartition.toLong), s"partition $p"))
    } finally { sock.close(); server.close() }
  }

  test("ShareFetch v1 response carries acquisition_lock_timeout_ms; max_records 0 is ack-only") {
    val (broker, _) = mkBroker(6)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val raw1 = exchange(sock,
        encodeShareFetchRequest(1, "cli", "lk", "m1", 0,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 3, batchSize = 100))
      // v1 (KIP-932 GA): top-level acquisition_lock_timeout_ms after
      // error_message = the group's share.record.lock.duration.ms —
      // default 30 s here; a 4.1 client parses its lock budget from it
      assert(shareFetchAcquisitionLockMs(raw1) === 30000)
      val r1 = decodeShareFetchResponse(raw1,
        topicIdResolverFor(Seq("q")), version = 1)
      assert(r1._2 === 0)
      assert(r1._4.head._2.head.records.map(_._1) === (0L until 3L))
      // max_records 0 = piggyback acks WITHOUT acquiring (remapping it
      // to "unlimited" would burn locks + delivery counts on records
      // the client never asked for) — and the empty answer is its
      // success, so it must not park in the long-poll either
      val t0 = System.currentTimeMillis()
      val r2 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(2, "cli", "lk", "m1", 1,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20,
            Seq(ShareAckBatch(0L, 2L, Seq(1)))))),
          version = 1, maxRecords = 0, maxWaitMs = 5000)),
        topicIdResolverFor(Seq("q")), version = 1)
      assert(System.currentTimeMillis() - t0 < 2500,
        "ack-only request parked in long-poll")
      val p2 = r2._4.head._2.head
      assert(p2.ackErrorCode === 0 && p2.records.isEmpty &&
        p2.acquired.isEmpty)
      assert(broker.shareGroup("q", "lk").startOffset(0) === 3L)
      // the lock advertisement follows group config, not a constant
      val (_, cfgRes) = decodeIncrementalAlterConfigsResponse(1,
        exchange(sock, encodeIncrementalAlterConfigsRequest(1, 9, "cli",
          Seq((ConfigResourceGroup, "lk2", Seq(
            ("share.record.lock.duration.ms", 0, "7500")))))))
      assert(cfgRes.head._1 === 0)
      val raw3 = exchange(sock,
        encodeShareFetchRequest(3, "cli", "lk2", "m2", 0,
          Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 1))
      assert(shareFetchAcquisitionLockMs(raw3) === 7500)
    } finally { sock.close(); server.close() }
  }

  test("ShareFetch and ShareAcknowledge codecs round-trip") {
    val acks = Seq(ShareAckBatch(3L, 7L, Seq(1)),
      ShareAckBatch(9L, 11L, Seq(2, 3, 1)))
    val req = decodeShareFetchRequest(
      encodeShareFetchRequest(4, "cli", "grp", "mem-1", 6,
        Seq("topic-a" -> Seq(ShareFetchPartition(2, 4096, acks)),
          "topic-b" -> Seq(ShareFetchPartition(0, 1024, Seq.empty))),
        forgotten = Seq("topic-b" -> Seq(1, 3)),
        maxWaitMs = 250, minBytes = 16, maxBytes = 1 << 20),
      topicIdResolverFor(Seq("topic-a", "topic-b")))
    assert(req.correlationId === 4)
    assert(req.groupId === "grp")
    assert(req.memberId === "mem-1")
    assert(req.sessionEpoch === 6)
    assert(req.maxWaitMs === 250 && req.minBytes === 16 &&
      req.maxBytes === (1 << 20))
    assert(req.topics === Seq(
      "topic-a" -> Seq(ShareFetchPartition(2, 4096, acks)),
      "topic-b" -> Seq(ShareFetchPartition(0, 1024, Seq.empty))))
    assert(req.forgotten === Seq("topic-b" -> Seq(1, 3)))

    val parts = Seq(ShareFetchPartResp(0, 0, null, 121, "stale", Seq(
      5L -> WireRecordV2(1700L, "k".getBytes, "v".getBytes,
        Seq("h" -> "x".getBytes)),
      7L -> WireRecordV2(1700L, null, "w".getBytes, Seq.empty)),
      Seq(ShareAcquired(5L, 5L, 1), ShareAcquired(7L, 7L, 2))))
    val (corr, err, msg, topics) = decodeShareFetchResponse(
      encodeShareFetchResponse(8, 0, null, Seq("t" -> parts),
        0, "127.0.0.1", 9092),
      topicIdResolverFor(Seq("t")))
    assert(corr === 8 && err === 0 && msg === null)
    assert(topics.map(_._1) === Seq("t"))
    val p = topics.head._2.head
    assert(p.partition === 0 && p.ackErrorCode === 121 &&
      p.ackErrorMessage === "stale")
    assert(p.records.map(_._1) === Seq(5L, 7L))
    assert(new String(p.records.head._2.value) === "v")
    assert(p.records.head._2.headers.map(h => (h._1, new String(h._2)))
      === Seq("h" -> "x"))
    assert(p.acquired === Seq(ShareAcquired(5L, 5L, 1),
      ShareAcquired(7L, 7L, 2)))

    val areq = decodeShareAcknowledgeRequest(
      encodeShareAcknowledgeRequest(5, "cli", "grp", "mem-1", 7,
        Seq("t" -> Seq(0 -> acks))),
      topicIdResolverFor(Seq("t")))
    assert(areq.sessionEpoch === 7)
    assert(areq.topics === Seq("t" -> Seq(0 -> acks)))
    val (ac, ae, am, at) = decodeShareAcknowledgeResponse(
      encodeShareAcknowledgeResponse(6, 0, null,
        Seq("t" -> Seq((0, 121, "nope"), (1, 0, null)))),
      topicIdResolverFor(Seq("t")))
    assert(ac === 6 && ae === 0 && am === null)
    assert(at === Seq("t" -> Seq((0, 121, "nope"), (1, 0, null))))
  }

  test("share-session lifecycle over a socket: fetch, ack, redeliver, close") {
    val (broker, _) = mkBroker(10)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def fetch(epoch: Int, member: String = "m1",
          acks: Seq[ShareAckBatch] = Seq.empty, corr: Int = 1) =
        decodeShareFetchResponse(exchange(sock,
          encodeShareFetchRequest(corr, "cli", "sg", member, epoch,
            Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, acks))))),
          topicIdResolverFor(Seq("q")))

      // ApiVersions advertises both share keys
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(0, "cli", "graft-test", "0")))
      assert(apis.apiKeys.filter(k => k._1 == 78 || k._1 == 79)
        .map(k => (k._1, k._2, k._3)) === Seq((78, 0, 1), (79, 0, 1)))

      // epoch 0 opens the session and acquires everything available
      val r1 = fetch(0)
      assert(r1._2 === 0)
      val p1 = r1._4.head._2.head
      assert(p1.errorCode === 0)
      assert(p1.records.map(_._1) === (0L until 10L))
      assert(p1.acquired === Seq(ShareAcquired(0L, 9L, 1)))
      assert(new String(p1.records.head._2.value) === "v0")

      // a second consumer's session sees nothing (all locked)
      val sock2 = new Socket("127.0.0.1", server.boundPort)
      try {
        val r2 = decodeShareFetchResponse(exchange(sock2,
          encodeShareFetchRequest(2, "cli", "sg", "m2", 0,
            Seq("q" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))))),
          topicIdResolverFor(Seq("q")))
        assert(r2._4.head._2.head.records.isEmpty)
        assert(r2._4.head._2.head.acquired.isEmpty)

        // ... and m2 acknowledging m1's records fails in-band: the
        // acquisition is bound to the holder (INVALID_RECORD_STATE)
        val a2 = decodeShareAcknowledgeResponse(exchange(sock2,
          encodeShareAcknowledgeRequest(3, "cli", "sg", "m2", 1,
            Seq("q" -> Seq(0 -> Seq(ShareAckBatch(0L, 2L, Seq(1))))))),
          topicIdResolverFor(Seq("q")))
        assert(a2._4.head._2.head._2 === 121)
      } finally sock2.close()

      // m1 accepts 0–4, releases 5–8, rejects 9 — all in one batch set
      val a1 = decodeShareAcknowledgeResponse(exchange(sock,
        encodeShareAcknowledgeRequest(4, "cli", "sg", "m1", 1,
          Seq("q" -> Seq(0 -> Seq(
            ShareAckBatch(0L, 4L, Seq(1)),
            ShareAckBatch(5L, 8L, Seq(2)),
            ShareAckBatch(9L, 9L, Seq(3))))))),
        topicIdResolverFor(Seq("q")))
      assert(a1._2 === 0)
      assert(a1._4.head._2.head === ((0, 0, null)))

      // next fetch redelivers ONLY the released 5–8, at count 2; the
      // rejected 9 is archived and the accepted 0–4 are terminal
      // (ShareFetch and ShareAcknowledge consume ONE epoch sequence:
      // the ack above took epoch 1, so this fetch is epoch 2)
      val r3 = fetch(2, corr = 5)
      val p3 = r3._4.head._2.head
      assert(p3.records.map(_._1) === (5L until 9L))
      assert(p3.acquired === Seq(ShareAcquired(5L, 8L, 2)))

      // acknowledging an already-terminal offset answers 121 in-band
      val aStale = decodeShareAcknowledgeResponse(exchange(sock,
        encodeShareAcknowledgeRequest(6, "cli", "sg", "m1", 3,
          Seq("q" -> Seq(0 -> Seq(ShareAckBatch(0L, 0L, Seq(1))))))),
        topicIdResolverFor(Seq("q")))
      assert(aStale._4.head._2.head._2 === 121)

      // epoch discipline: a skipped epoch answers 123 at the top level
      val rBad = fetch(7, corr = 7)
      assert(rBad._2 === 123)
      assert(rBad._4.isEmpty)

      // close (−1) carries the final accepts; nothing new is acquired
      val rClose = fetch(-1, acks = Seq(ShareAckBatch(5L, 8L, Seq(1))),
        corr = 8)
      assert(rClose._2 === 0)
      assert(rClose._4.head._2.head.ackErrorCode === 0)
      assert(rClose._4.head._2.head.records.isEmpty)

      // the session is gone: epoch 4 now answers SHARE_SESSION_NOT_FOUND
      val rGone = fetch(4, corr = 9)
      assert(rGone._2 === 122)

      // state survives in the share group: SPSO passed everything
      assert(broker.shareGroup("q", "sg").startOffset(0) === 10L)

      // ShareAcknowledge can NOT open a session (epoch 0 → 123)
      val aOpen = decodeShareAcknowledgeResponse(exchange(sock,
        encodeShareAcknowledgeRequest(10, "cli", "sg", "m9", 0,
          Seq("q" -> Seq(0 -> Seq(ShareAckBatch(0L, 0L, Seq(1))))))),
        topicIdResolverFor(Seq("q")))
      assert(aOpen._2 === 123)

      // unknown topic id answers 100 per partition, inside the session
      val rUnk = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(11, "cli", "sg", "m3", 0,
          Seq("nope" -> Seq(ShareFetchPartition(0, 1024, Seq.empty))))),
        topicIdResolverFor(Seq("q")))
      assert(rUnk._4.head._2.head.errorCode === 100)

      // malformed acknowledgement batches answer 42 per partition
      val rBadAck = decodeShareAcknowledgeResponse(exchange(sock,
        encodeShareAcknowledgeRequest(12, "cli", "sg", "m3", 1,
          Seq("q" -> Seq(0 -> Seq(ShareAckBatch(5L, 3L, Seq(1))))))),
        topicIdResolverFor(Seq("q")))
      assert(rBadAck._4.head._2.head._2 === 42)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("session cap evicts oldest; ack expansion is bounded per partition entry") {
    val (broker, _) = mkBroker(3)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // open MaxShareSessions+1 sessions (cheap: unknown-topic fetch
      // opens the session before any acquisition); the oldest evicts
      def open(member: String, corr: Int) =
        decodeShareFetchResponse(exchange(sock,
          encodeShareFetchRequest(corr, "cli", "evict", member, 0,
            Seq("ghost" -> Seq(ShareFetchPartition(0, 64, Seq.empty))))),
          topicIdResolverFor(Seq("q")))
      assert(open("m-first", 1)._2 === 0)
      (0 until Broker.MaxShareSessions).foreach { i =>
        assert(open(s"m-$i", 100 + i)._2 === 0)
      }
      // the first session was evicted: its epoch-1 continuation sees
      // SHARE_SESSION_NOT_FOUND and must reopen at epoch 0
      val gone = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(500, "cli", "evict", "m-first", 1,
          Seq("ghost" -> Seq(ShareFetchPartition(0, 64, Seq.empty))))),
        topicIdResolverFor(Seq("q")))
      assert(gone._2 === 122)
      assert(open("m-first", 501)._2 === 0)

      // acknowledgement expansion: many in-cap batches summing past
      // the per-entry cap answer 42 before anything expands
      val batches = (0 until 3).map(i =>
        ShareAckBatch(i * 5000L, i * 5000L + 4999L, Seq(1)))
      val r = decodeShareAcknowledgeResponse(exchange(sock,
        encodeShareAcknowledgeRequest(502, "cli", "evict", "m-first", 1,
          Seq("q" -> Seq(0 -> batches)))),
        topicIdResolverFor(Seq("q")))
      assert(r._4.head._2.head._2 === 42)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("poison records archive over the wire at the delivery budget") {
    val root = Files.createTempDirectory("graft-sharewire").toString
    val broker = new Broker(spark, root)
    val log = broker.createTopic("p", 1)
    import spark.implicits._
    log.produce(Seq(0).toDF("i").select(col("i"),
      lit("k").cast("binary").as("key"), lit("v").cast("binary").as("value")),
      Partitioners.byLongKey(1, lit(0L)))
    // tight budget so the wire loop exhausts it quickly
    broker.shareGroupsRegPut("p", "poison",
      new ShareGroup(log, "poison", maxDeliveryAttempts = 2))
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def fetch(epoch: Int, acks: Seq[ShareAckBatch] = Seq.empty) =
        decodeShareFetchResponse(exchange(sock,
          encodeShareFetchRequest(1, "cli", "poison", "m", epoch,
            Seq("p" -> Seq(ShareFetchPartition(0, 1024, acks))))),
          topicIdResolverFor(Seq("p")))
      val r1 = fetch(0)
      assert(r1._4.head._2.head.acquired === Seq(ShareAcquired(0L, 0L, 1)))
      // release → redelivered at count 2 (the budget)
      val r2 = fetch(1, acks = Seq(ShareAckBatch(0L, 0L, Seq(2))))
      assert(r2._4.head._2.head.acquired === Seq(ShareAcquired(0L, 0L, 2)))
      // release again → budget exhausted → archived, never redelivered
      val r3 = fetch(2, acks = Seq(ShareAckBatch(0L, 0L, Seq(2))))
      assert(r3._4.head._2.head.acquired.isEmpty)
      assert(broker.shareGroup("p", "poison").startOffset(0) === 1L)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("ListGroups lists share groups as type share; stats surface reports them") {
    val (broker, _) = mkBroker(4)
    // touch the group so durable state exists on disk
    val sg = broker.shareGroup("q", "listed")
    sg.drain(0, 10, 1700000000000L, "c")(_ => ())
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, err, groups) = decodeListGroupsResponse(5, exchange(sock,
        encodeListGroupsRequest(5, 1, "cli")))
      assert(err === 0)
      assert(groups.contains(("listed", "share", "Stable", "share")))
      // the types filter isolates them (kafka-share-groups.sh --list)
      val (_, _, onlyShare) = decodeListGroupsResponse(5, exchange(sock,
        encodeListGroupsRequest(5, 2, "cli", typesFilter = Seq("share"))))
      assert(onlyShare.map(_._1) === Seq("listed"))

      // a FRESH broker over the same root discovers the group from
      // its durable _share dir (no in-memory registry warm-up)
      val cold = new Broker(spark, broker.logRoot)
      assert(cold.listShareGroups() === Seq(("listed", "q")))
      val stats = cold.shareGroupStats(1700000000001L).collect()
      assert(stats.length === 1)
      val row = stats.head
      assert(row.getAs[String]("group_id") === "listed")
      assert(row.getAs[Long]("spso") === 4L)
      assert(row.getAs[Long]("acquired") === 0L)
      assert(row.getAs[Long]("lag") === 0L)
    } finally {
      sock.close()
      server.close()
    }
  }
}
