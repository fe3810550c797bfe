package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end over a REAL TCP socket: raw v0 Kafka frames in, framed
  * responses out, with the manifest-committed TopicLog as storage —
  * the full surface the reference prototype implements (accept loop +
  * framing + dispatch), driven byte-level. */
class WireServerSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  test("a raw socket client discovers, produces, fetches, and commits") {
    val root = Files.createTempDirectory("graft-wiresrv").toString
    val broker = new Broker(spark, root)
    broker.createTopic("tcp", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // ApiVersions: the server advertises its dispatch table
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "cli", "graft-test", "0")))
      assert(apis.correlationId === 1)
      assert(apis.apiKeys.map(_._1).toSet
        .intersect(Set(0, 1, 3, 8, 9, 18)) === Set(0, 1, 3, 8, 9, 18))

      // Metadata: topic visible with its partitions, this broker leads
      val meta = decodeMetadataResponseV0(exchange(sock,
        encodeMetadataRequestV0(2, "cli", None)))
      assert(meta.brokers === Seq((0, "127.0.0.1", server.boundPort)))
      assert(meta.topics.map(t => (t.name, t.partitions.length)) === Seq(("tcp", 2)))
      // ... and at v4 (rack/cluster_id/controller/is_internal fields),
      // the bootstrap version a modern client negotiates
      val meta4 = decodeMetadataResponse(4, exchange(sock,
        encodeMetadataRequest(4, 13, "cli", None)))
      assert(meta4.brokers === Seq((0, "127.0.0.1", server.boundPort)))
      assert(meta4.topics.map(t => (t.name, t.partitions.length)) === Seq(("tcp", 2)))

      // Produce over the socket → real offsets in the manifest log
      def rec(s: String) = WireRecord(null, s.getBytes("UTF-8"))
      val prodResp = decodeProduceResponseV0(exchange(sock,
        encodeProduceRequestV0(3, "cli", 1, 1000,
          Seq(("tcp", Seq((0, Seq(rec("a"), rec("b"))), (1, Seq(rec("c")))))))))
      assert(prodResp._2 === Seq(("tcp", Seq((0, 0, 0L), (1, 0, 0L)))))
      assert(broker.topic("tcp").read().count() === 3)

      // Fetch the records back over the same connection
      val fetched = decodeFetchResponseV0(exchange(sock,
        encodeFetchRequestV0(4, "cli", 100, 1, Seq(("tcp", Seq((0, 0L, 1 << 20)))))))
      val (_, _, hw, msgs) = fetched._2.head._2.head
      assert(hw === 2L)
      assert(msgs.map(m => new String(m._2.value, "UTF-8")) === Seq("a", "b"))

      // ListOffsets: latest (-1), earliest (-2), and by timestamp
      val lo = decodeListOffsetsResponseV0(exchange(sock,
        encodeListOffsetsRequestV0(9, "cli", Seq(("tcp", Seq(
          (0, -1L, 1), (0, -2L, 1), (1, -1L, 1), (9, -1L, 1)))))))
      assert(lo._2 === Seq(("tcp", Seq(
        (0, 0, Seq(2L)), (0, 0, Seq(0L)), (1, 0, Seq(1L)), (9, 3, Seq())))))
      // a timestamp in the far past answers the first offset; in the
      // far future, no offsets
      val past = decodeListOffsetsResponseV0(exchange(sock,
        encodeListOffsetsRequestV0(10, "cli", Seq(("tcp", Seq((0, 1L, 1)))))))
      assert(past._2.head._2.head === ((0, 0, Seq(0L))))
      val future = decodeListOffsetsResponseV0(exchange(sock,
        encodeListOffsetsRequestV0(11, "cli",
          Seq(("tcp", Seq((0, Long.MaxValue / 2, 1)))))))
      assert(future._2.head._2.head === ((0, 0, Seq())))

      // retention-aware EARLIEST: truncate partition 0's front, then
      // -2 must answer the first EXISTING offset, not 0 — and a
      // far-past negative timestamp must answer (not kill the
      // connection on micros overflow)
      broker.topic("tcp").truncateBefore(0, 1L)
      val afterTrunc = decodeListOffsetsResponseV0(exchange(sock,
        encodeListOffsetsRequestV0(12, "cli", Seq(("tcp", Seq(
          (0, -2L, 1), (0, Long.MinValue, 1)))))))
      assert(afterTrunc._2.head._2 === Seq((0, 0, Seq(1L)), (0, 0, Seq(1L))))

      // Commit + fetch offsets for a group
      exchange(sock, encodeOffsetCommitRequestV0(5, "cli", "g",
        Seq(("tcp", Seq((0, 2L, null))))))
      val offs = decodeOffsetFetchResponseV0(exchange(sock,
        encodeOffsetFetchRequestV0(6, "cli", "g", Seq(("tcp", Seq(0, 1))))))
      assert(offs._2 === Seq(("tcp", Seq((0, 2L, "", 0), (1, -1L, null, 0)))))
      assert(broker.topic("tcp").committed("g") === Map(0 -> 2L))

      // a SECOND connection sees the same log state
      val sock2 = new Socket("127.0.0.1", server.boundPort)
      try {
        val again = decodeFetchResponseV0(exchange(sock2,
          encodeFetchRequestV0(7, "cli2", 100, 1, Seq(("tcp", Seq((1, 0L, 1 << 20)))))))
        assert(again._2.head._2.head._4
          .map(m => new String(m._2.value, "UTF-8")) === Seq("c"))
      } finally sock2.close()
    } finally {
      sock.close()
      server.close()
    }
  }

  test("headers and timestamps survive the socket via Produce v3 + Fetch v4") {
    val root = Files.createTempDirectory("graft-wirev2").toString
    val broker = new Broker(spark, root)
    broker.createTopic("hdr", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def b(s: String) = s.getBytes("UTF-8")
      val records = Seq(
        WireRecordV2(1700000000123L, b("k1"), b("v1"),
          Seq(("trace", b("abc")), ("route", b("eu")))),
        WireRecordV2(1700000000456L, null, b("v2"), Seq(("trace", b("def")))),
        WireRecordV2(1700000000789L, b("k3"), b("v3")))
      val prod = decodeProduceResponse(3, exchange(sock,
        encodeProduceRequest(3, 30, "cli", null, 1, 1000,
          Seq(("hdr", Seq((0, records)))))))
      assert(prod._2 === Seq(("hdr", Seq((0, 0, 0L)))))

      // the log itself holds the headers (not just the wire echo)
      val stored = broker.topic("hdr").read()
        .orderBy("offset").collect()
      assert(stored.length === 3)
      val h0 = stored(0).getAs[Map[String, Array[Byte]]]("headers")
      assert(h0.keySet === Set("trace", "route"))
      assert(new String(h0("route"), "UTF-8") === "eu")

      // Fetch v4 returns magic-2 batches: headers + create-time stamps
      val fetched = decodeFetchResponse(4, exchange(sock,
        encodeFetchRequest(4, 31, "cli", 100, 1, 1 << 20,
          Seq(("hdr", Seq((0, 0L, 1 << 20)))))))
      val (_, err, hw, recs) = fetched._2.head._2.head
      assert(err === 0 && hw === 3L)
      assert(recs.map(_._1) === Seq(0L, 1L, 2L))
      assert(recs.head._2.headers.toMap.keySet === Set("trace", "route"))
      assert(new String(recs.head._2.headers.toMap.apply("trace"), "UTF-8") === "abc")
      assert(recs.map(_._2.timestampMs) ===
        Seq(1700000000123L, 1700000000456L, 1700000000789L))
      assert(recs(1)._2.key === null)
      assert(new String(recs(2)._2.value, "UTF-8") === "v3")

      // a v0 fetch of the same data still works (headers legitimately
      // absent — that format cannot carry them)
      val v0 = decodeFetchResponseV0(exchange(sock,
        encodeFetchRequestV0(32, "cli", 100, 1, Seq(("hdr", Seq((0, 0L, 1 << 20)))))))
      assert(v0._2.head._2.head._4.map(m => new String(m._2.value, "UTF-8")) ===
        Seq("v1", "v2", "v3"))

      // intermediate versions: v1 produce (throttle in response),
      // v2 fetch (throttle + message set)
      val p1 = decodeProduceResponse(1, exchange(sock,
        encodeProduceRequest(1, 33, "cli", null, 1, 1000,
          Seq(("hdr", Seq((0, Seq(WireRecordV2(-1L, null, b("v4"))))))))))
      assert(p1._2.head._2.head === ((0, 0, 3L)))
      val f2 = decodeFetchResponse(2, exchange(sock,
        encodeFetchRequest(2, 34, "cli", 100, 1, 1 << 20,
          Seq(("hdr", Seq((0, 3L, 1 << 20)))))))
      assert(f2._2.head._2.head._4.map(r => new String(r._2.value, "UTF-8")) === Seq("v4"))

      // FLEXIBLE versions a modern client negotiates: Produce v9
      // (compact encodings + tag buffers) and Fetch v12 (sessionless
      // full fetch) — headers still intact through the magic-2 batches
      val p9 = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 35, "cli", null, 1, 1000,
          Seq(("hdr", Seq((0, Seq(WireRecordV2(1700000001000L, b("k9"), b("v9"),
            Seq(("flex", b("yes"))))))))))))
      assert(p9._2.head._2.head === ((0, 0, 4L)))
      val f12 = decodeFetchResponse(12, exchange(sock,
        encodeFetchRequest(12, 36, "cli", 100, 1, 1 << 20,
          Seq(("hdr", Seq((0, 4L, 1 << 20)))))))
      val r12 = f12._2.head._2.head._4
      assert(r12.map(_._1) === Seq(4L))
      assert(new String(r12.head._2.headers.toMap.apply("flex"), "UTF-8") === "yes")
      assert(r12.head._2.timestampMs === 1700000001000L)
      // the mid-range versions share the v3/v4 wire bodies
      val f7 = decodeFetchResponse(7, exchange(sock,
        encodeFetchRequest(7, 37, "cli", 100, 1, 1 << 20,
          Seq(("hdr", Seq((0, 4L, 1 << 20)))))))
      assert(f7._2.head._2.head._4.map(_._1) === Seq(4L))
      val p5 = decodeProduceResponse(5, exchange(sock,
        encodeProduceRequest(5, 38, "cli", null, 1, 1000,
          Seq(("hdr", Seq((0, Seq(WireRecordV2(-1L, null, b("v5h"), Seq(("m", b("1"))))))))))))
      assert(p5._2.head._2.head === ((0, 0, 5L)))

      // acks=0 answers NOTHING — the connection stays in sync and the
      // next request's response matches ITS correlation id
      sock.getOutputStream.write(encodeProduceRequest(3, 39, "cli", null, 0, 1000,
        Seq(("hdr", Seq((0, Seq(WireRecordV2(-1L, null, b("fire")))))))))
      sock.getOutputStream.flush()
      val afterAcks0 = decodeProduceResponse(3, exchange(sock,
        encodeProduceRequest(3, 40, "cli", null, 1, 1000,
          Seq(("hdr", Seq((0, Seq(WireRecordV2(-1L, null, b("acked"))))))))))
      assert(afterAcks0._1 === 40, "acks=0 must not emit a response frame")
      // both records landed: the fire-and-forget one and the acked one
      assert(broker.topic("hdr").read().count() === 8)

      // a v2 (magic-1) produce keeps its CreateTime timestamp
      val msgTs = 1690000000555L
      // encode a magic-1 set by hand: decodeProduceRequest can't emit
      // one via encodeProduceRequest (it writes magic 0 for v0-v2)
      val m1body = {
        val bo = new java.io.ByteArrayOutputStream()
        bo.write(1); bo.write(0) // magic 1, attributes
        (56 to 0 by -8).foreach(s => bo.write(((msgTs >>> s) & 0xff).toInt))
        bo.write(Array[Byte](-1, -1, -1, -1)) // key null
        bo.write(Array[Byte](0, 0, 0, 2)); bo.write(b("m1")) // value
        bo.toByteArray
      }
      val crc1 = new java.util.zip.CRC32(); crc1.update(m1body)
      val m1set = {
        val bo = new java.io.ByteArrayOutputStream()
        (56 to 0 by -8).foreach(_ => bo.write(0)) // offset 0
        val sz = 4 + m1body.length
        bo.write(Array[Byte]((sz >>> 24).toByte, (sz >>> 16).toByte, (sz >>> 8).toByte, sz.toByte))
        val c = crc1.getValue.toInt
        bo.write(Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
        bo.write(m1body)
        bo.toByteArray
      }
      val v2req = {
        val bo = new java.io.ByteArrayOutputStream()
        def i16(v: Int) = { bo.write((v >>> 8) & 0xff); bo.write(v & 0xff) }
        def i32(v: Int) = { bo.write((v >>> 24) & 0xff); bo.write((v >>> 16) & 0xff)
          bo.write((v >>> 8) & 0xff); bo.write(v & 0xff) }
        i16(0); i16(2); i32(41) // Produce v2
        i16(3); bo.write(b("cli"))
        i16(1); i32(1000) // acks, timeout
        i32(1); i16(3); bo.write(b("hdr")) // 1 topic
        i32(1); i32(0) // 1 partition, index 0
        i32(m1set.length); bo.write(m1set)
        val payload = bo.toByteArray
        val framed = new java.io.ByteArrayOutputStream()
        framed.write(Array[Byte]((payload.length >>> 24).toByte, (payload.length >>> 16).toByte,
          (payload.length >>> 8).toByte, payload.length.toByte))
        framed.write(payload)
        framed.toByteArray
      }
      val p2 = decodeProduceResponse(2, exchange(sock, v2req))
      assert(p2._1 === 41 && p2._2.head._2.head._2 === 0)
      val lastTs = decodeFetchResponse(4, exchange(sock,
        encodeFetchRequest(4, 42, "cli", 100, 1, 1 << 20,
          Seq(("hdr", Seq((0, 8L, 1 << 20)))))))
        ._2.head._2.head._4.head._2.timestampMs
      assert(lastTs === msgTs, "magic-1 CreateTime must survive into the log")
    } finally {
      sock.close()
      server.close()
    }
  }

  test("a wire consumer joins, syncs an assignment, heartbeats, and survives churn") {
    val root = Files.createTempDirectory("graft-wiregrp").toString
    val broker = new Broker(spark, root)
    broker.createTopic("gt", 4)
    val server = new WireServer(broker).start()
    val sockA = new Socket("127.0.0.1", server.boundPort)
    val sockB = new Socket("127.0.0.1", server.boundPort)
    try {
      def b(s: String) = s.getBytes("UTF-8")
      // FindCoordinator first, as a real client would: a single-broker
      // graft always answers itself
      val (fcCorr, fcErr, fcNode, fcHost, fcPort) =
        decodeFindCoordinatorResponseV0(exchange(sockA,
          encodeFindCoordinatorRequestV0(39, "a", "wg")))
      assert(fcCorr === 39 && fcErr === 0 && fcNode === 0)
      assert(fcHost === "127.0.0.1" && fcPort === server.boundPort)
      // A joins with an empty member id and becomes leader
      val ja = decodeJoinGroupResponseV0(exchange(sockA,
        encodeJoinGroupRequestV0(40, "a", "wg", 30000, "", "consumer",
          Seq(("range", b("gt"))))))
      assert(ja.errorCode === 0 && ja.generationId === 1)
      assert(ja.leaderId === ja.memberId)
      assert(ja.members.map(_._1) === Seq(ja.memberId))
      // leader computes the assignment (library Assignors) and syncs it
      val full = Assignors.range(4, Seq(ja.memberId))
      val asgA = full(ja.memberId).map(p => s"gt:$p").mkString(",")
      val sa = decodeSyncGroupResponseV0(exchange(sockA,
        encodeSyncGroupRequestV0(41, "a", "wg", 1, ja.memberId,
          Seq((ja.memberId, b(asgA))))))
      assert(sa._2 === 0)
      assert(new String(sa._3, "UTF-8") === "gt:0,gt:1,gt:2,gt:3")
      assert(decodeErrorResponse(exchange(sockA,
        encodeHeartbeatRequestV0(42, "a", "wg", 1, ja.memberId)))._2 === 0)

      // B joins → rebalance; A's heartbeat reports it; A rejoins
      val jb = decodeJoinGroupResponseV0(exchange(sockB,
        encodeJoinGroupRequestV0(43, "b", "wg", 30000, "", "consumer",
          Seq(("range", b("gt"))))))
      assert(jb.errorCode === 0 && jb.generationId === 2)
      assert(decodeErrorResponse(exchange(sockA,
        encodeHeartbeatRequestV0(44, "a", "wg", 1, ja.memberId)))._2 === 27)
      val ja2 = decodeJoinGroupResponseV0(exchange(sockA,
        encodeJoinGroupRequestV0(45, "a", "wg", 30000, ja.memberId, "consumer",
          Seq(("range", b("gt"))))))
      assert(ja2.generationId === 2 && ja2.leaderId === ja.memberId)
      assert(ja2.members.map(_._1).toSet === Set(ja.memberId, jb.memberId))
      // leader distributes; follower receives its share
      val split = Assignors.range(4, ja2.members.map(_._1))
      val sync2 = ja2.members.map(_._1).map(id =>
        (id, b(split(id).map(p => s"gt:$p").mkString(","))))
      decodeSyncGroupResponseV0(exchange(sockA,
        encodeSyncGroupRequestV0(46, "a", "wg", 2, ja.memberId, sync2)))
      val sb = decodeSyncGroupResponseV0(exchange(sockB,
        encodeSyncGroupRequestV0(47, "b", "wg", 2, jb.memberId, Seq.empty)))
      assert(sb._2 === 0)
      val bShare = new String(sb._3, "UTF-8")
      assert(bShare.nonEmpty && bShare.startsWith("gt:"))
      assert(decodeErrorResponse(exchange(sockB,
        encodeHeartbeatRequestV0(48, "b", "wg", 2, jb.memberId)))._2 === 0)

      // DescribeGroups shows the live membership and assignments
      val (_, described) = decodeDescribeGroupsResponseV0(exchange(sockA,
        encodeDescribeGroupsRequestV0(49, "a", Seq("wg", "nope"))))
      assert(described.head.state === "Stable")
      assert(described.head.protocolType === "consumer")
      assert(described.head.members.map(_._1).toSet === Set(ja.memberId, jb.memberId))
      assert(described(1).state === "Dead")

      // A leaves; B rejoins as sole leader
      assert(decodeErrorResponse(exchange(sockA,
        encodeLeaveGroupRequestV0(50, "a", "wg", ja.memberId)))._2 === 0)
      val jb2 = decodeJoinGroupResponseV0(exchange(sockB,
        encodeJoinGroupRequestV0(51, "b", "wg", 30000, jb.memberId, "consumer",
          Seq(("range", b("gt"))))))
      assert(jb2.leaderId === jb.memberId)
      assert(jb2.members.map(_._1) === Seq(jb.memberId))
    } finally {
      sockA.close()
      sockB.close()
      server.close()
    }
  }

  test("admin APIs over the socket: create/delete topics, delete records, list groups") {
    val root = Files.createTempDirectory("graft-wireadmin").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def rec(s: String) = WireRecordV2(-1L, null, s.getBytes("UTF-8"))
      // CreateTopics: new topic lands; duplicate and bad partitions error
      val created = decodeTopicErrorsResponseV0(exchange(sock,
        encodeCreateTopicsRequestV0(60, "adm",
          Seq(("adm-t", 2, 1), ("adm-t", 2, 1), ("bad", 0, 1)), 1000)))
      assert(created._2.map(_._2) === Seq(0, 36, 37))
      assert(broker.topicExists("adm-t") && !broker.topicExists("bad"))
      // the created topic takes real produces
      decodeProduceResponse(3, exchange(sock,
        encodeProduceRequest(3, 61, "adm", null, 1, 1000,
          Seq(("adm-t", Seq((0, Seq(rec("a"), rec("b"), rec("c")))))))))
      assert(broker.topic("adm-t").read().count() === 3)

      // DeleteRecords truncates the front; -1 truncates to the end
      val dr = decodeDeleteRecordsResponseV0(exchange(sock,
        encodeDeleteRecordsRequestV0(62, "adm",
          Seq(("adm-t", Seq((0, 2L))), ("missing", Seq((0, 1L)))), 1000)))
      assert(dr._2 === Seq(("adm-t", Seq((0, 2L, 0))), ("missing", Seq((0, -1L, 3)))))
      assert(broker.topic("adm-t").logStartOffsets()(0) === 2L)

      // commit an offset so ListGroups sees an offsets-only group next
      // to nothing else; protocol_type is empty for it
      broker.topic("adm-t").commit("offline-g", Map(0 -> 2L))
      val lg = decodeListGroupsResponseV0(exchange(sock,
        encodeListGroupsRequestV0(63, "adm")))
      assert(lg._2 === 0)
      assert(lg._3.contains(("offline-g", "")))
      val (_, desc) = decodeDescribeGroupsResponseV0(exchange(sock,
        encodeDescribeGroupsRequestV0(64, "adm", Seq("offline-g"))))
      assert(desc.head.state === "Empty")

      // DescribeConfigs — the RPC kafka-topics.sh --describe sends
      // right after Metadata: topic + broker resources in one request,
      // static read-only echo back, unknown topic error 3 per
      // resource, key filter projects. v0 (legacy) and v4 (flexible).
      for (v <- Seq(0, 4)) {
        val (_, conf) = decodeDescribeConfigsResponse(v, exchange(sock,
          encodeDescribeConfigsRequest(v, 66, "adm", Seq(
            (ConfigResourceTopic, "adm-t", None),
            (ConfigResourceBroker, "0", Some(Seq("broker.id", "log.dirs"))),
            (ConfigResourceTopic, "ghost2", None)))))
        val byName = conf.map(r => (r._4, r)).toMap
        assert(byName("adm-t")._1 === 0)
        assert(byName("adm-t")._5.map(c => (c._1, c._2)).toMap
          .get("cleanup.policy") === Some("delete"))
        assert(byName("adm-t")._5.forall(!_._3), "defaults are not dynamic")
        assert(byName("0")._1 === 0)
        assert(byName("0")._5.map(_._1).sorted === Seq("broker.id", "log.dirs"))
        assert(byName("0")._5.map(c => (c._1, c._2)).toMap
          .apply("log.dirs") === root)
        assert(byName("ghost2")._1 === 3)
      }

      // DeleteTopics removes it; a fetch then reports unknown topic
      val del = decodeTopicErrorsResponseV0(exchange(sock,
        encodeDeleteTopicsRequestV0(65, "adm", Seq("adm-t", "ghost"), 1000)))
      assert(del._2 === Seq(("adm-t", 0), ("ghost", 3)))
      assert(!broker.topicExists("adm-t"))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("dynamic topic config: alter, incremental alter, describe round-trip, retention enforcement") {
    val root = Files.createTempDirectory("graft-wirecfg").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      broker.createTopic("cfg", 1)
      def describe() = decodeDescribeConfigsResponse(4, exchange(sock,
        encodeDescribeConfigsRequest(4, 100, "adm",
          Seq((ConfigResourceTopic, "cfg", None)))))
        ._2.head._5.map(c => c._1 -> ((c._2, c._3))).toMap

      // AlterConfigs v2 (flexible): validate_only approves without
      // applying; the real call REPLACES the whole override set
      val (_, vres) = decodeAlterConfigsResponse(2, exchange(sock,
        encodeAlterConfigsRequest(2, 101, "adm",
          Seq((ConfigResourceTopic, "cfg",
            Seq("retention.ms" -> "60000"))), validateOnly = true)))
      assert(vres === Seq((0, null, ConfigResourceTopic, "cfg")))
      assert(describe()("retention.ms") === (("-1", false)))
      val (_, ares) = decodeAlterConfigsResponse(2, exchange(sock,
        encodeAlterConfigsRequest(2, 102, "adm",
          Seq((ConfigResourceTopic, "cfg", Seq(
            "retention.ms" -> "60000", "compression.type" -> "gzip"))))))
      assert(ares.head._1 === 0)
      assert(describe()("retention.ms") === (("60000", true)))
      assert(describe()("compression.type") === (("gzip", true)))
      // unknown config key answers INVALID_CONFIG 40; unknown topic 3;
      // broker resource 42; nothing stored changes
      val (_, eres) = decodeAlterConfigsResponse(0, exchange(sock,
        encodeAlterConfigsRequest(0, 103, "adm", Seq(
          (ConfigResourceTopic, "cfg", Seq("flush.messages" -> "1")),
          (ConfigResourceTopic, "ghost", Seq("retention.ms" -> "1")),
          (ConfigResourceBroker, "0", Seq("log.dirs" -> "/x"))))))
      assert(eres.map(_._1) === Seq(40, 3, 42))
      assert(describe()("retention.ms") === (("60000", true)))

      // IncrementalAlterConfigs v1: SET one key, DELETE another —
      // the rest of the override set SURVIVES (the KIP-339 contract
      // the legacy API can't express); APPEND answers 42
      val (_, ires) = decodeIncrementalAlterConfigsResponse(1, exchange(sock,
        encodeIncrementalAlterConfigsRequest(1, 104, "adm",
          Seq((ConfigResourceTopic, "cfg", Seq(
            ("cleanup.policy", 0, "compact"),
            ("compression.type", 1, null)))))))
      assert(ires === Seq((0, null, ConfigResourceTopic, "cfg")))
      assert(describe()("cleanup.policy") === (("compact", true)))
      assert(describe()("compression.type") === (("producer", false)))
      assert(describe()("retention.ms") === (("60000", true)), "untouched override survives")
      val (_, apres) = decodeIncrementalAlterConfigsResponse(0, exchange(sock,
        encodeIncrementalAlterConfigsRequest(0, 105, "adm",
          Seq((ConfigResourceTopic, "cfg",
            Seq(("cleanup.policy", 2, "x")))))))
      assert(apres.head._1 === 42)
      // duplicate keys in one request are rejected, not op-order-raced
      val (_, dres) = decodeIncrementalAlterConfigsResponse(1, exchange(sock,
        encodeIncrementalAlterConfigsRequest(1, 107, "adm",
          Seq((ConfigResourceTopic, "cfg", Seq(
            ("retention.ms", 0, "1"), ("retention.ms", 1, null)))))))
      assert(dres.head._1 === 42)
      assert(describe()("retention.ms") === (("60000", true)))

      // retention.ms has an enforcement hook: records older than the
      // configured horizon expire on applyRetention
      val now = System.currentTimeMillis()
      def rec(ts: Long, s: String) = WireRecordV2(ts, null, s.getBytes("UTF-8"))
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 106, "adm", null, 1, 1000,
          Seq(("cfg", Seq((0, ProducedBatch(-1L, -1, -1, Seq(
            rec(now - 600000L, "ancient"), rec(now, "fresh"))))))))))
      assert(broker.topic("cfg").read().count() === 2)
      assert(broker.applyRetention(now) === Seq(("cfg", 60000L)))
      val vals = broker.topic("cfg").read().collect()
        .map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8")).toSeq
      assert(vals === Seq("fresh"))

      // max.message.bytes has the produce size gate: an oversized
      // wire payload answers MESSAGE_TOO_LARGE (10), appends nothing,
      // and a small produce on the same connection still acks
      val (_, mres) = decodeIncrementalAlterConfigsResponse(1, exchange(sock,
        encodeIncrementalAlterConfigsRequest(1, 108, "adm",
          Seq((ConfigResourceTopic, "cfg",
            Seq(("max.message.bytes", 0, "128")))))))
      assert(mres.head._1 === 0)
      val (_, big) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 109, "adm", null, 1, 1000,
          Seq(("cfg", Seq((0, ProducedBatch(-1L, -1, -1,
            Seq(rec(now, "y" * 500))))))))))
      assert(big === Seq(("cfg", Seq((0, 10, -1L)))))
      assert(broker.topic("cfg").read().count() === 1)
      val (_, small) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 110, "adm", null, 1, 1000,
          Seq(("cfg", Seq((0, ProducedBatch(-1L, -1, -1,
            Seq(rec(now, "z"))))))))))
      assert(small.head._2.head._2 === 0)
      assert(broker.topic("cfg").read().count() === 2)

      // a non-numeric value for a numeric config answers 40 before
      // any enforcement hook can meet it — as do enum values outside
      // the compression.type / cleanup.policy sets
      val (_, nres) = decodeAlterConfigsResponse(2, exchange(sock,
        encodeAlterConfigsRequest(2, 111, "adm",
          Seq((ConfigResourceTopic, "cfg",
            Seq("retention.ms" -> "sixty-seconds"))))))
      assert(nres.head._1 === 40)
      assert(describe()("retention.ms") === (("60000", true)))
      val (_, bres) = decodeAlterConfigsResponse(2, exchange(sock,
        encodeAlterConfigsRequest(2, 112, "adm", Seq(
          (ConfigResourceTopic, "cfg", Seq("compression.type" -> "brotli"))))))
      assert(bres.head._1 === 40)
      val (_, b2res) = decodeAlterConfigsResponse(2, exchange(sock,
        encodeAlterConfigsRequest(2, 113, "adm", Seq(
          (ConfigResourceTopic, "cfg", Seq("cleanup.policy" -> "compact,forever"))))))
      assert(b2res.head._1 === 40)

      // compression.type picks the topic's SERVING codec: after the
      // override, the raw fetch payload really carries a gzip batch
      // (deflate magic in the record path) and decodes to the same
      // records
      val (_, cset) = decodeIncrementalAlterConfigsResponse(1, exchange(sock,
        encodeIncrementalAlterConfigsRequest(1, 114, "adm",
          Seq((ConfigResourceTopic, "cfg",
            Seq(("compression.type", 0, "gzip")))))))
      assert(cset.head._1 === 0)
      val rawFetch = exchange(sock, encodeFetchRequest(12, 115, "adm",
        100, 1, 1 << 20, Seq(("cfg", Seq((0, 0L, 1 << 20))))))
      assert(rawFetch.sliding(2).exists(w =>
        w(0) == 0x1f.toByte && w(1) == 0x8b.toByte), "gzip magic present")
      val (_, gzTopics) = decodeFetchResponse(12, rawFetch)
      assert(gzTopics.head._2.head._4.map(r =>
        new String(r._2.value, "UTF-8")) === Seq("fresh", "z"))

      // cleanup.policy=compact gains the enforcement hook: duplicate
      // keys compact away on applyCompaction
      broker.createTopic("cmp", 1)
      def krec(k: String, v: String) =
        WireRecordV2(-1L, k.getBytes("UTF-8"), v.getBytes("UTF-8"))
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 116, "adm", null, 1, 1000,
          Seq(("cmp", Seq((0, ProducedBatch(-1L, -1, -1,
            Seq(krec("k", "old"), krec("k2", "keep"), krec("k", "new"))))))))))
      // (also DELETE cfg's earlier compact policy so the hook names
      // exactly the one topic asking for compaction)
      val (_, pset) = decodeIncrementalAlterConfigsResponse(1, exchange(sock,
        encodeIncrementalAlterConfigsRequest(1, 117, "adm", Seq(
          (ConfigResourceTopic, "cmp", Seq(("cleanup.policy", 0, "compact"))),
          (ConfigResourceTopic, "cfg", Seq(("cleanup.policy", 1, null)))))))
      assert(pset.map(_._1) === Seq(0, 0))
      assert(broker.applyCompaction() === Seq("cmp"))
      val kept = broker.topic("cmp").read().collect()
        .map(r => (new String(r.getAs[Array[Byte]]("key"), "UTF-8"),
          new String(r.getAs[Array[Byte]]("value"), "UTF-8"))).toMap
      assert(kept === Map("k" -> "new", "k2" -> "keep"))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("OffsetForLeaderEpoch answers the permanent epoch-0 contract at v0, v2, and v4") {
    val root = Files.createTempDirectory("graft-wireofle").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def rec(s: String) = WireRecordV2(-1L, null, s.getBytes("UTF-8"))
      broker.createTopic("ofle", 1)
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 90, "c", null, 1, 1000,
          Seq(("ofle", Seq((0, ProducedBatch(-1L, -1, -1,
            Seq(rec("a"), rec("b"), rec("c"))))))))))
      // v4 (flexible): epoch 0 answers (epoch 0, LEO); a future epoch
      // answers the undefined shape; an unknown topic answers 3
      val (_, t4) = decodeOffsetForLeaderEpochResponse(4, exchange(sock,
        encodeOffsetForLeaderEpochRequest(4, 91, "c",
          Seq(("ofle", Seq((0, -1, 0), (0, -1, 5))), ("ghost", Seq((0, -1, 0)))))))
      assert(t4 === Seq(
        ("ofle", Seq((0, 0, 0, 3L), (0, 0, -1, -1L))),
        ("ghost", Seq((3, 0, -1, -1L)))))
      // v2: a current_leader_epoch ahead of ours answers 75
      val (_, t2) = decodeOffsetForLeaderEpochResponse(2, exchange(sock,
        encodeOffsetForLeaderEpochRequest(2, 92, "c",
          Seq(("ofle", Seq((0, 1, 0)))))))
      assert(t2 === Seq(("ofle", Seq((75, 0, -1, -1L)))))
      // v0: no epoch field in the response body (decoder yields -1),
      // out-of-range partitions answer 3
      val (_, t0) = decodeOffsetForLeaderEpochResponse(0, exchange(sock,
        encodeOffsetForLeaderEpochRequest(0, 93, "c",
          Seq(("ofle", Seq((0, -1, 0), (7, -1, 0)))))))
      assert(t0 === Seq(("ofle", Seq((0, 0, -1, 3L), (3, 7, -1, -1L)))))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("partition growth, offset deletion, and cluster description over the socket") {
    val root = Files.createTempDirectory("graft-wireadmin2").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def rec(s: String) = WireRecordV2(-1L, null, s.getBytes("UTF-8"))
      broker.createTopic("grow", 2)

      // DescribeCluster: one broker, which is also the controller
      val (_, clusterId, controllerId, brokers) = decodeDescribeClusterResponse(
        exchange(sock, encodeDescribeClusterRequest(70, "adm")))
      assert(clusterId === "graft")
      assert(controllerId === 0)
      assert(brokers.map(b => (b._1, b._3)) === Seq((0, server.boundPort)))

      // CreatePartitions validate_only: approves without applying
      val (_, vres) = decodeCreatePartitionsResponse(1, exchange(sock,
        encodeCreatePartitionsRequest(1, 71, "adm", Seq(("grow", 4)),
          validateOnly = true)))
      assert(vres === Seq(("grow", 0, null)))
      assert(broker.topic("grow").numPartitions === 2)
      // real growth at flexible v3, with shrink + unknown topic errors
      val (_, gres) = decodeCreatePartitionsResponse(3, exchange(sock,
        encodeCreatePartitionsRequest(3, 72, "adm",
          Seq(("grow", 4), ("ghost", 8)))))
      assert(gres.map(r => (r._1, r._2)) === Seq(("grow", 0), ("ghost", 3)))
      assert(broker.topic("grow").numPartitions === 4)
      val (_, sres) = decodeCreatePartitionsResponse(3, exchange(sock,
        encodeCreatePartitionsRequest(3, 73, "adm", Seq(("grow", 3)))))
      assert(sres.head._2 === 37) // shrink refused, count stays
      assert(broker.topic("grow").numPartitions === 4)
      // the new partition takes real produces and serves fetches
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 74, "adm", null, 1, 1000,
          Seq(("grow", Seq((3, ProducedBatch(-1L, -1, -1, Seq(rec("p3"))))))))))
      val (_, f) = decodeFetchResponse(12, exchange(sock,
        encodeFetchRequest(12, 75, "adm", 100, 1, 1 << 20,
          Seq(("grow", Seq((3, 0L, 1 << 20)))))))
      assert(f.head._2.head._4.map(r => new String(r._2.value, "UTF-8")) === Seq("p3"))

      // OffsetDelete: unknown group answers 69 at the group level
      val (_, ge, _) = decodeOffsetDeleteResponse(exchange(sock,
        encodeOffsetDeleteRequest(76, "adm", "nobody", Seq(("grow", Seq(0))))))
      assert(ge === 69)
      // committed offsets delete per partition; the rest survive
      broker.topic("grow").commit("od-g", Map(0 -> 1L, 1 -> 5L))
      val (_, ok, dels) = decodeOffsetDeleteResponse(exchange(sock,
        encodeOffsetDeleteRequest(77, "adm", "od-g",
          Seq(("grow", Seq(0)), ("ghost", Seq(2))))))
      assert(ok === 0)
      assert(dels === Seq(("grow", Seq((0, 0))), ("ghost", Seq((2, 3)))))
      assert(broker.topic("grow").committed("od-g") === Map(1 -> 5L))
      // a group with live members protects its offsets (86)
      val jr = broker.coordinator.join("live-g", "", "cli", "127.0.0.1", 30000,
        "consumer", Seq(("range", Array.empty[Byte])))
      val mid = jr.memberId
      val jr2 = broker.coordinator.join("live-g", mid, "cli", "127.0.0.1", 30000,
        "consumer", Seq(("range", Array.empty[Byte])))
      assert(jr2.errorCode === 0)
      broker.topic("grow").commit("live-g", Map(1 -> 2L))
      val (_, le, lres) = decodeOffsetDeleteResponse(exchange(sock,
        encodeOffsetDeleteRequest(78, "adm", "live-g", Seq(("grow", Seq(1))))))
      assert(le === 0)
      assert(lres === Seq(("grow", Seq((1, 86)))))
      assert(broker.topic("grow").committed("live-g") === Map(1 -> 2L))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("ApiVersions version probing: v0 probe, future-version 35, re-probe") {
    val root = Files.createTempDirectory("graft-wireprobe").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // an old client opens with a v0 empty-body probe and gets the
      // full dispatch catalog in the non-flexible shape
      val r0 = decodeApiVersionsResponsePreV3(0, exchange(sock,
        encodeApiVersionsRequest(0, 1, "old-cli")))
      assert(r0.errorCode === 0)
      assert(r0.apiKeys === Broker.WireApis.map(t => (t._1, t._3, t._4)))
      // one table feeds the catalog and dispatch: its keys are unique,
      // and every advertised key but the SASL pair (answered by the
      // connection loop itself) has a handler
      val keys = WireServer.Apis.map(_.key)
      assert(keys.distinct === keys)
      val sasl = Set(SaslHandshake.key, SaslAuthenticate.key)
      r0.apiKeys.map(_._1).foreach { k =>
        assert((WireServer.Handlers(k) != null) === !sasl(k), s"api_key $k")
      }

      // a FUTURE client probes at v9: the broker answers the KIP-511
      // v0-shaped 35 naming its range instead of dropping the socket
      val payload = Array[Byte](0, 18, 0, 9, 0, 0, 0, 2, -1, -1, 7, 7)
      val r9 = decodeApiVersionsResponsePreV3(0, exchange(sock,
        Array[Byte](0, 0, 0, payload.length.toByte) ++ payload))
      assert(r9.errorCode === 35)
      val (_, _, maxSupported) = r9.apiKeys.head
      // ...and re-probes at the top of the advertised range — the
      // SAME connection, which therefore had to survive the miss
      val r3 = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequest(maxSupported, 3, "new-cli")))
      assert(r3.errorCode === 0)
      assert(r3.apiKeys.exists(_._1 === 18))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("DeleteGroups removes offsets-only groups, refuses live ones") {
    val root = Files.createTempDirectory("graft-wiredelgrp").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      broker.createTopic("dg-a", 2)
      broker.createTopic("dg-b", 1)

      // unknown group answers 69; the batch shape answers per group
      val (_, unk) = decodeDeleteGroupsResponse(0, exchange(sock,
        encodeDeleteGroupsRequest(0, 80, "adm", Seq("nobody"))))
      assert(unk === Seq(("nobody", 69)))

      // an offsets-only group deletes across EVERY topic it touched
      broker.topic("dg-a").commit("done-g", Map(0 -> 3L, 1 -> 7L))
      broker.topic("dg-b").commit("done-g", Map(0 -> 2L))
      val (_, del) = decodeDeleteGroupsResponse(0, exchange(sock,
        encodeDeleteGroupsRequest(0, 81, "adm", Seq("done-g", "ghost-g"))))
      assert(del === Seq(("done-g", 0), ("ghost-g", 69)))
      assert(broker.topic("dg-a").committed("done-g") === Map.empty)
      assert(broker.topic("dg-b").committed("done-g") === Map.empty)
      val (_, _, listed) = decodeListGroupsResponseV0(exchange(sock,
        encodeListGroupsRequestV0(82, "adm")))
      assert(!listed.exists(_._1 == "done-g"))
      // deleting again: the identity is gone, not just emptied
      val (_, again) = decodeDeleteGroupsResponse(0, exchange(sock,
        encodeDeleteGroupsRequest(0, 83, "adm", Seq("done-g"))))
      assert(again === Seq(("done-g", 69)))

      // a group with a live member refuses with NON_EMPTY_GROUP and
      // keeps both its offsets and its coordinator state
      val jr = broker.coordinator.join("live-dg", "", "cli", "127.0.0.1",
        30000, "consumer", Seq(("range", Array.empty[Byte])))
      val mid = jr.memberId
      assert(broker.coordinator.join("live-dg", mid, "cli", "127.0.0.1",
        30000, "consumer", Seq(("range", Array.empty[Byte]))).errorCode === 0)
      broker.topic("dg-a").commit("live-dg", Map(0 -> 9L))
      val (_, live) = decodeDeleteGroupsResponse(2, exchange(sock,
        encodeDeleteGroupsRequest(2, 84, "adm", Seq("live-dg"))))
      assert(live === Seq(("live-dg", 68)))
      assert(broker.topic("dg-a").committed("live-dg") === Map(0 -> 9L))
      assert(broker.coordinator.describe("live-dg").isDefined)

      // once the member leaves, flexible v2 deletes state + offsets
      assert(broker.coordinator.leave("live-dg", mid) === 0)
      val (_, gone) = decodeDeleteGroupsResponse(2, exchange(sock,
        encodeDeleteGroupsRequest(2, 85, "adm", Seq("live-dg"))))
      assert(gone === Seq(("live-dg", 0)))
      assert(broker.topic("dg-a").committed("live-dg") === Map.empty)
      assert(broker.coordinator.describe("live-dg").isEmpty)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("ListGroups v4/v5 filters and DescribeGroups v3-v5 fields over the socket") {
    val root = Files.createTempDirectory("graft-wiremg").toString
    val broker = new Broker(spark, root)
    broker.createTopic("mgt", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def b(s: String) = s.getBytes("UTF-8")
      // one live classic group (join + sync → Stable)
      val j = decodeJoinGroupResponseV0(exchange(sock,
        encodeJoinGroupRequestV0(1, "cli", "mg-classic", 30000, "",
          "consumer", Seq(("range", b("mgt"))))))
      assert(j.errorCode === 0)
      assert(decodeSyncGroupResponseV0(exchange(sock,
        encodeSyncGroupRequestV0(2, "cli", "mg-classic", 1, j.memberId,
          Seq((j.memberId, b("mgt:0,mgt:1"))))))._2 === 0)
      // one 848 group and one offsets-only group
      assert(broker.coordinator848.heartbeat("mg-848", "", 0, null, null,
        30000, Seq("mgt"), null, null, null, "cli",
        System.currentTimeMillis()).error === 0)
      broker.topic("mgt").commit("mg-offsets", Map(0 -> 1L))

      // v1 adds throttle; every group lists with its protocol type
      val (_, e1, g1) = decodeListGroupsResponse(1, exchange(sock,
        encodeListGroupsRequest(1, 3, "adm")))
      assert(e1 === 0)
      assert(g1.map(r => (r._1, r._2)).toSet === Set(
        ("mg-classic", "consumer"), ("mg-848", "consumer"),
        ("mg-offsets", "")))
      // v4: states ship, and the filter restricts (case-insensitive)
      val (_, _, g4) = decodeListGroupsResponse(4, exchange(sock,
        encodeListGroupsRequest(4, 4, "adm", statesFilter = Seq("empty"))))
      assert(g4.map(_._1).toSet === Set("mg-offsets"))
      val (_, _, g4all) = decodeListGroupsResponse(4, exchange(sock,
        encodeListGroupsRequest(4, 5, "adm")))
      assert(g4all.map(r => (r._1, r._3)).toSet === Set(
        ("mg-classic", "Stable"), ("mg-848", "Stable"),
        ("mg-offsets", "Empty")))
      // v5: group types ship and filter — the 848 group is "consumer"
      val (_, _, g5) = decodeListGroupsResponse(5, exchange(sock,
        encodeListGroupsRequest(5, 6, "adm", typesFilter = Seq("consumer"))))
      assert(g5.map(r => (r._1, r._4)) === Seq(("mg-848", "consumer")))
      val (_, _, g5c) = decodeListGroupsResponse(5, exchange(sock,
        encodeListGroupsRequest(5, 7, "adm", typesFilter = Seq("Classic"))))
      assert(g5c.map(_._1).toSet === Set("mg-classic", "mg-offsets"))

      // DescribeGroups v4: members carry a null instance id; v3+ the
      // authorized_operations word — MinValue unless requested, the
      // full group set (READ|DELETE|DESCRIBE) when it is
      for (v <- Seq(3, 4, 5)) {
        val (_, dNo) = decodeDescribeGroupsResponse(v, exchange(sock,
          encodeDescribeGroupsRequest(v, 10 + v, "adm", Seq("mg-classic"))))
        assert(dNo.head.group.state === "Stable")
        assert(dNo.head.group.members.map(_._1) === Seq(j.memberId))
        assert(dNo.head.authorizedOperations === Int.MinValue)
        if (v >= 4) assert(dNo.head.instanceIds === Seq(null))
        val (_, dYes) = decodeDescribeGroupsResponse(v, exchange(sock,
          encodeDescribeGroupsRequest(v, 20 + v, "adm", Seq("mg-classic"),
            includeAuthorizedOperations = true)))
        assert(dYes.head.authorizedOperations ===
          Broker.GroupAuthorizedOperations)
      }
      // v1 round-trips the assignment bytes the sync installed
      val (_, d1) = decodeDescribeGroupsResponse(1, exchange(sock,
        encodeDescribeGroupsRequest(1, 30, "adm", Seq("mg-classic", "nope"))))
      assert(new String(d1.head.group.members.head._5, "UTF-8")
        === "mgt:0,mgt:1")
      assert(d1(1).group.state === "Dead")
    } finally {
      sock.close()
      server.close()
    }
  }

  test("modern topic admin: CreateTopics v5/v7, DeleteTopics v6 by id, DeleteRecords v2") {
    val root = Files.createTempDirectory("graft-wireta").toString
    val broker = new Broker(spark, root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // v5 flexible create with a config override and broker defaults
      // (-1 partitions / -1 replication, the NewTopic(name) shape)
      val (_, c5) = decodeCreateTopicsResponse(5, exchange(sock,
        encodeCreateTopicsRequest(5, 1, "adm", Seq(
          CreatableTopic("ta-a", -1, -1, Seq.empty,
            Seq(("retention.ms", "60000"))),
          CreatableTopic("ta-bad", 2, 3, Seq.empty, Seq.empty),
          CreatableTopic("ta-conf", 1, 1, Seq.empty,
            Seq(("nope.config", "x")))), 5000)))
      assert(c5.map(t => (t.name, t.errorCode)) ===
        Seq(("ta-a", 0), ("ta-bad", 38), ("ta-conf", 40)))
      assert(c5.head.numPartitions === 1)
      assert(c5.head.configs.collect {
        case ("retention.ms", v, src) => (v, src) } === Seq(("60000", 1)))
      assert(c5.head.configs.collect {
        case ("cleanup.policy", v, src) => (v, src) } === Seq(("delete", 5)))
      assert(broker.topicExists("ta-a") && !broker.topicExists("ta-bad"))
      assert(TopicLog.configOverrides(root, "ta-a")
        === Map("retention.ms" -> "60000"))

      // validate_only checks without creating; manual assignments
      // create when they describe this broker, 39 when they don't
      val (_, cv) = decodeCreateTopicsResponse(7, exchange(sock,
        encodeCreateTopicsRequest(7, 2, "adm",
          Seq(CreatableTopic("ta-v", 2, 1, Seq.empty, Seq.empty)), 5000,
          validateOnly = true)))
      assert(cv.head.errorCode === 0 && !broker.topicExists("ta-v"))
      val (_, c7) = decodeCreateTopicsResponse(7, exchange(sock,
        encodeCreateTopicsRequest(7, 3, "adm", Seq(
          CreatableTopic("ta-asg", -1, -1, Seq((0, Seq(0)), (1, Seq(0))),
            Seq.empty),
          CreatableTopic("ta-asg2", -1, -1, Seq((0, Seq(0, 1))),
            Seq.empty)), 5000)))
      assert(c7.map(t => (t.name, t.errorCode)) ===
        Seq(("ta-asg", 0), ("ta-asg2", 39)))
      assert(c7.head.numPartitions === 2)
      assert(c7.head.topicId.toSeq === topicUuid("ta-asg").toSeq)
      assert(c7(1).topicId.toSeq === Seq.fill(16)(0: Byte))
      assert(broker.topic("ta-asg").numPartitions === 2)

      // DeleteRecords v2 flexible truncates and reports watermarks
      def rec(s: String) = WireRecord(null, s.getBytes("UTF-8"))
      decodeProduceResponseV0(exchange(sock,
        encodeProduceRequestV0(4, "adm", 1, 1000,
          Seq(("ta-a", Seq((0, Seq(rec("a"), rec("b"), rec("c")))))))))
      val (_, dr2) = decodeDeleteRecordsResponse(2, exchange(sock,
        encodeDeleteRecordsRequest(2, 5, "adm",
          Seq(("ta-a", Seq((0, 2L)))), 1000)))
      assert(dr2 === Seq(("ta-a", Seq((0, 2L, 0)))))
      assert(broker.topic("ta-a").logStartOffsets()(0) === 2L)

      // DeleteTopics v6: id-keyed delete resolves; an unknown id
      // answers 100 with the id echoed and a null name
      val ghost = Array.tabulate[Byte](16)(i => (i + 1).toByte)
      val (_, d6) = decodeDeleteTopicsResponse(6, exchange(sock,
        encodeDeleteTopicsRequest(6, 6, "adm", Seq(
          (null, topicUuid("ta-asg")), (null, ghost),
          ("ta-a", null)), 5000)))
      assert(d6.map(r => (r._1, r._3)) ===
        Seq(("ta-asg", 0), (null, 100), ("ta-a", 0)))
      assert(d6(1)._2.toSeq === ghost.toSeq)
      assert(!broker.topicExists("ta-asg") && !broker.topicExists("ta-a"))
      // v5 name-keyed: absent answers 3 with a message
      val (_, d5) = decodeDeleteTopicsResponse(5, exchange(sock,
        encodeDeleteTopicsRequest(5, 7, "adm", Seq(("ta-a", null)), 5000)))
      assert(d5.head._3 === 3 && d5.head._4 != null)
    } finally {
      sock.close()
      server.close()
    }
  }
}
