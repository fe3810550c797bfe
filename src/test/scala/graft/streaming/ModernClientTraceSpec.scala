package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The hand-derived conformance trace of an off-the-shelf modern
  * client (Java kafka-clients 3.x classic-protocol consumer +
  * producer) against graft's WireServer, replayed byte-for-byte over
  * a real TCP socket.
  *
  * No Kafka client library exists in this build environment (zero
  * dependency egress; /opt/spark/jars carries no kafka-clients), so
  * this spec encodes the NEGOTIATION a 3.x client performs instead:
  * the client sends ApiVersions v3, intersects each API's advertised
  * [min,max] with its own supported range, and uses
  * min(clientMax, brokerMax). The clientMax column below is the
  * public protocol surface of kafka-clients 3.7 (classic consumer
  * group protocol; KIP-848's v9+ group RPCs arrive with 3.8+/4.x):
  *
  *   API              clientMax   broker advertises   negotiated
  *   Metadata            12             0–12              12
  *   Produce             10             0–9                9
  *   InitProducerId       5             0–4                4
  *   FindCoordinator      4             0–4                4
  *   JoinGroup            9             0–9                9
  *   SyncGroup            5             0–5                5
  *   OffsetFetch          8             0–8                8
  *   ListOffsets          8             0–9                8
  *   OffsetForLeaderEpoch 4             0–4                4
  *   Fetch               16             0–16              16
  *   OffsetCommit         8             0–8                8
  *   Heartbeat            4             0–4                4
  *   LeaveGroup           5             0–5                5
  *
  * The trace then drives the full client lifecycle AT those
  * versions: bootstrap → InitProducerId (idempotence is the 3.x
  * producer DEFAULT, so this precedes the first produce) → idempotent
  * produce (magic-2, headers, pid/epoch/sequence) → the retry dedup →
  * coordinator lookup → the JoinGroup v4+ MEMBER_ID_REQUIRED two-step
  * → sync → offset restore → list offsets → fetch →
  * commit (generation-fenced) → heartbeat → leave. */
class ModernClientTraceSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  /** kafka-clients 3.7 classic-protocol maxima (public spec). */
  private val clientMax = Map(
    "Metadata" -> 12, "Produce" -> 10, "InitProducerId" -> 5,
    "FindCoordinator" -> 4,
    "JoinGroup" -> 9, "SyncGroup" -> 5, "OffsetFetch" -> 8,
    "ListOffsets" -> 8, "OffsetForLeaderEpoch" -> 4,
    "Fetch" -> 16, "OffsetCommit" -> 8,
    "Heartbeat" -> 4, "LeaveGroup" -> 5,
    "AddPartitionsToTxn" -> 4, "EndTxn" -> 3, "TxnOffsetCommit" -> 3)

  test("a 3.x client's negotiated session: produce, join, sync, fetch, commit, leave") {
    val root = Files.createTempDirectory("graft-trace").toString
    val broker = new Broker(spark, root)
    broker.createTopic("trace", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      // 1. ApiVersions v3 — the negotiation source of truth
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "trace-cli", "apache-kafka-java", "3.7.0")))
      val advertised = apis.apiKeys.map(k => k._1 -> (k._2, k._3)).toMap
      val names = Broker.WireApis.map(a => a._2 -> a._1).toMap
      def negotiated(api: String): Int = {
        val (min, max) = advertised(names(api))
        val v = math.min(clientMax(api), max)
        assert(v >= min, s"$api: negotiated v$v below broker floor $min")
        v
      }
      // the published negotiation table IS what the catalog yields
      assert(negotiated("Metadata") === 12)
      assert(negotiated("Produce") === 9)
      assert(negotiated("InitProducerId") === 4)
      assert(negotiated("FindCoordinator") === 4)
      assert(negotiated("JoinGroup") === 9)
      assert(negotiated("SyncGroup") === 5)
      assert(negotiated("OffsetFetch") === 8)
      assert(negotiated("ListOffsets") === 8)
      assert(negotiated("OffsetForLeaderEpoch") === 4)
      assert(negotiated("Fetch") === 16)
      assert(negotiated("OffsetCommit") === 8)
      assert(negotiated("Heartbeat") === 4)
      assert(negotiated("LeaveGroup") === 5)
      // a transactional 3.7 producer's three extra APIs negotiate too
      assert(negotiated("AddPartitionsToTxn") === 3)
      assert(negotiated("EndTxn") === 3)
      assert(negotiated("TxnOffsetCommit") === 3)

      // 2. Metadata v12: bootstrap view
      val meta = decodeMetadataResponse(12, exchange(sock,
        encodeMetadataRequest(12, 2, "trace-cli", None)))
      assert(meta.brokers === Seq((0, "127.0.0.1", server.boundPort)))
      assert(meta.topics.map(t => (t.name, t.partitions.length)) === Seq(("trace", 2)))

      // 3. InitProducerId v4: the default 3.x producer is IDEMPOTENT
      // (enable.idempotence=true since Kafka 3.0), so this is its
      // first request after bootstrap — a fresh (pid, epoch 0)
      val (_, initErr, pid, pEpoch) = decodeInitProducerIdResponse(4,
        exchange(sock,
          encodeInitProducerIdRequest(4, 17, "trace-cli", null, 60000)))
      assert(initErr === 0 && pid >= 0L && pEpoch === 0)

      // 4. Produce v9: flexible, magic-2, headers on the wire, each
      // partition's batch stamped (pid, epoch, sequence 0)
      def rec(k: String, v: String, hdr: (String, String)*) =
        WireRecordV2(1700000000000L, k.getBytes("UTF-8"), v.getBytes("UTF-8"),
          hdr.map { case (hk, hv) => hk -> hv.getBytes("UTF-8") })
      val idemReq = encodeProduceRequestBatches(9, 3, "trace-cli", null, 1,
        30000, Seq(("trace", Seq(
          (0, ProducedBatch(pid, pEpoch, 0,
            Seq(rec("k0", "v0", "h" -> "x"), rec("k1", "v1")))),
          (1, ProducedBatch(pid, pEpoch, 0, Seq(rec("k2", "v2"))))))))
      val produced = decodeProduceResponse(9, exchange(sock, idemReq))
      assert(produced._2 === Seq(("trace", Seq((0, 0, 0L), (1, 0, 0L)))))
      // ... a network-level RETRY of the same request (what the
      // client does on a lost ack) re-acks the ORIGINAL offsets and
      // appends nothing — the idempotence contract
      val retried = decodeProduceResponse(9, exchange(sock, idemReq))
      assert(retried._2 === Seq(("trace", Seq((0, 0, 0L), (1, 0, 0L)))))
      assert(broker.topic("trace").read().count() === 3)
      // ... and COMPRESSED legs: compression.type=gzip/lz4 are the
      // common production producer configs — each batch's records
      // section arrives compressed (codec bits 1/3) and decodes into
      // the same log
      val gzReq = encodeProduceRequestBatches(9, 30, "trace-cli", null, 1,
        30000, Seq(("trace", Seq(
          (0, ProducedBatch(pid, pEpoch, 2, Seq(rec("k3", "v3-gz", "hz" -> "y"))))))),
        CompressionGzip)
      val gzAck = decodeProduceResponse(9, exchange(sock, gzReq))
      assert(gzAck._2 === Seq(("trace", Seq((0, 0, 2L)))))
      val lz4Req = encodeProduceRequestBatches(9, 31, "trace-cli", null, 1,
        30000, Seq(("trace", Seq(
          (1, ProducedBatch(pid, pEpoch, 1, Seq(rec("k4", "v4-lz4"))))))),
        CompressionLz4)
      val lz4Ack = decodeProduceResponse(9, exchange(sock, lz4Req))
      assert(lz4Ack._2 === Seq(("trace", Seq((1, 0, 1L)))))
      assert(broker.topic("trace").read().count() === 5)

      // 4. FindCoordinator v4 (batched keys)
      val coords = decodeFindCoordinatorResponse(4, exchange(sock,
        encodeFindCoordinatorRequest(4, 4, "trace-cli", 0, Seq("trace-group"))))
      assert(coords._2 === Seq(("trace-group", 0, 0, "127.0.0.1", server.boundPort)))

      // 5. JoinGroup v9, empty member id → the MEMBER_ID_REQUIRED
      // two-step every modern client performs
      val sub: Array[Byte] = Array(0, 1, 0, 0) // opaque subscription bytes
      val first = decodeJoinGroupResponse(9, exchange(sock,
        encodeJoinGroupRequest(9, 5, "trace-cli", "trace-group", 10000, 30000,
          "", null, "consumer", Seq(("range", sub)))))
      assert(first.errorCode === GroupCoordinator.MemberIdRequired)
      assert(first.memberId.nonEmpty)
      val joined = decodeJoinGroupResponse(9, exchange(sock,
        encodeJoinGroupRequest(9, 6, "trace-cli", "trace-group", 10000, 30000,
          first.memberId, null, "consumer", Seq(("range", sub)))))
      assert(joined.errorCode === 0)
      assert(joined.memberId === first.memberId)
      assert(joined.leaderId === joined.memberId, "sole member leads")
      assert(joined.protocolType === "consumer")
      assert(joined.protocol === "range")
      assert(joined.members.map(_._1) === Seq(joined.memberId),
        "the leader sees the full roster")

      // 6. SyncGroup v5: the leader ships assignments; reads its own back
      val assignment: Array[Byte] = Array(0, 1, 0, 0, 0, 0, 0, 1, 0, 5)
      val (_, syncErr, _, _, got) = decodeSyncGroupResponse(5, exchange(sock,
        encodeSyncGroupRequest(5, 7, "trace-cli", "trace-group",
          joined.generationId, joined.memberId, null, "consumer", "range",
          Seq((joined.memberId, assignment)))))
      assert(syncErr === 0)
      assert(got.toSeq === assignment.toSeq)

      // 7. OffsetFetch v8 (batched groups): nothing committed yet → -1
      val before = decodeOffsetFetchResponse(8, exchange(sock,
        encodeOffsetFetchRequest(8, 8, "trace-cli",
          Seq(("trace-group", Some(Seq(("trace", Seq(0, 1)))))))))
      assert(before._2.head._3 ===
        Seq(("trace", Seq((0, -1L, null, 0), (1, -1L, null, 0)))))

      // 8. ListOffsets v8: earliest on both partitions
      val lo = decodeListOffsetsResponse(8, exchange(sock,
        encodeListOffsetsRequest(8, 9, "trace-cli",
          Seq(("trace", Seq((0, -2L, 1), (1, -2L, 1)))))))
      assert(lo._2.head._2.map(p => (p._1, p._2, p._4)) ===
        Seq((0, 0, 0L), (1, 0, 0L)))

      // 8b. OffsetForLeaderEpoch v4: before its first fetch, a
      // consumer holding positions with leader epochs VALIDATES them
      // (KIP-279 offset-validation) — Metadata v12 reported epoch 0,
      // so validation answers (epoch 0, LEO): no truncation, fetch
      // may proceed from the restored position
      val ofle = decodeOffsetForLeaderEpochResponse(4, exchange(sock,
        encodeOffsetForLeaderEpochRequest(4, 90, "trace-cli",
          Seq(("trace", Seq((0, 0, 0), (1, 0, 0)))))))
      assert(ofle._2 === Seq(("trace",
        Seq((0, 0, 0, 3L), (0, 1, 0, 2L)))))

      // 9. Fetch v16 (KIP-516 topic ids; KIP-903 replica-id-less
      // request): the request addresses the topic by its topic_id —
      // the one Metadata v12 reported — and records return as magic-2
      // batches: keys, values, AND headers survive
      val traceResolver = topicIdResolverFor(Seq("trace"))
      val fetched = decodeFetchResponse(16, exchange(sock,
        encodeFetchRequest(16, 10, "trace-cli", 500, 1, 1 << 20,
          Seq(("trace", Seq((0, 0L, 1 << 20), (1, 0L, 1 << 20)))))),
        traceResolver)
      val p0 = fetched._2.head._2.find(_._1 == 0).get
      assert(p0._4.map(r => (new String(r._2.key, "UTF-8"),
        new String(r._2.value, "UTF-8"))) ===
        Seq(("k0", "v0"), ("k1", "v1"), ("k3", "v3-gz")))
      assert(p0._4.head._2.headers.map { case (k, v) =>
        (k, new String(v, "UTF-8")) } === Seq(("h", "x")))
      // the gzip-produced record reads back like any other, header intact
      assert(p0._4.last._2.headers.map { case (k, v) =>
        (k, new String(v, "UTF-8")) } === Seq(("hz", "y")))
      val p1 = fetched._2.head._2.find(_._1 == 1).get
      assert(p1._4.map(r => new String(r._2.value, "UTF-8"))
        === Seq("v2", "v4-lz4"))

      // 10. OffsetCommit v8, fenced by (generation, member)
      val committed = decodeOffsetCommitResponse(8, exchange(sock,
        encodeOffsetCommitRequest(8, 11, "trace-cli", "trace-group",
          joined.generationId, joined.memberId, null,
          Seq(("trace", Seq((0, 2L, ""), (1, 1L, "")))))))
      assert(committed._2 === Seq(("trace", Seq((0, 0), (1, 0)))))
      // a STALE generation is fenced per partition
      val fenced = decodeOffsetCommitResponse(8, exchange(sock,
        encodeOffsetCommitRequest(8, 12, "trace-cli", "trace-group",
          joined.generationId + 7, joined.memberId, null,
          Seq(("trace", Seq((0, 2L, "")))))))
      assert(fenced._2 === Seq(("trace",
        Seq((0, GroupCoordinator.IllegalGeneration)))))

      // 11. OffsetFetch v8 again: the commit is visible
      val after = decodeOffsetFetchResponse(8, exchange(sock,
        encodeOffsetFetchRequest(8, 13, "trace-cli",
          Seq(("trace-group", None))))) // null topics = all committed
      assert(after._2.head._3 ===
        Seq(("trace", Seq((0, 2L, "", 0), (1, 1L, "", 0)))))

      // 12. Heartbeat v4 keeps the session; LeaveGroup v5 ends it
      assert(decodeHeartbeatResponse(4, exchange(sock,
        encodeHeartbeatRequest(4, 14, "trace-cli", "trace-group",
          joined.generationId, joined.memberId)))._2 === 0)
      val (_, leaveErr, leftMembers) = decodeLeaveGroupResponse(5, exchange(sock,
        encodeLeaveGroupRequest(5, 15, "trace-cli", "trace-group",
          Seq((joined.memberId, null, "shutdown")))))
      assert(leaveErr === 0)
      assert(leftMembers === Seq((joined.memberId, null, 0)))

      // a stale join after leaving is rejected AND creates no phantom
      val stale = decodeJoinGroupResponse(9, exchange(sock,
        encodeJoinGroupRequest(9, 16, "trace-cli", "ghost-group", 10000, 30000,
          "never-seen", null, "consumer", Seq(("range", sub)))))
      assert(stale.errorCode === GroupCoordinator.UnknownMemberId)
      assert(!broker.coordinator.listGroups().exists(_._1 == "ghost-group"))

      // 13. The TRANSACTIONAL producer trace at the negotiated
      // versions (transactional.id set → the 3.x client sends these
      // after bootstrap): InitProducerId v4 with the id → epoch-fenced
      // pid, AddPartitionsToTxn v3, produce v9 with transactional
      // magic-2 batches, TxnOffsetCommit v3 inside the transaction,
      // EndTxn v3 commit, and a read_committed Fetch v13 that sees the
      // committed records
      val (_, txInitErr, txPid, txEpoch) = decodeInitProducerIdResponse(4,
        exchange(sock, encodeInitProducerIdRequest(4, 20, "trace-cli",
          "trace-txn", 60000)))
      assert(txInitErr === 0 && txEpoch === 0)
      val (_, txAdded) = decodeAddPartitionsToTxnResponse(3, exchange(sock,
        encodeAddPartitionsToTxnRequest(3, 21, "trace-cli", "trace-txn",
          txPid, txEpoch, Seq(("trace", Seq(0))))))
      assert(txAdded === Seq(("trace", Seq((0, 0)))))
      val (_, txProd) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 22, "trace-cli", "trace-txn", 1, 30000,
          Seq(("trace", Seq((0, ProducedBatch(txPid, txEpoch, 0,
            Seq(rec("kt", "vt", "htx" -> "1")), transactional = true))))))))
      assert(txProd.head._2.head._2 === 0)
      val txBase = txProd.head._2.head._3
      val (_, txoc) = decodeTxnOffsetCommitResponse(3, exchange(sock,
        encodeTxnOffsetCommitRequest(3, 23, "trace-cli", "trace-txn",
          "trace-group", txPid, txEpoch,
          Seq(("trace", Seq((0, txBase + 1, "")))))))
      assert(txoc === Seq(("trace", Seq((0, 0)))))
      val (_, txEnd) = decodeEndTxnResponse(3, exchange(sock,
        encodeEndTxnRequest(3, 24, "trace-cli", "trace-txn", txPid, txEpoch,
          committed = true)))
      assert(txEnd === 0)
      val (_, rcTopics) = decodeFetchResponse(13, exchange(sock,
        encodeFetchRequest(13, 25, "trace-cli", 500, 1, 1 << 20,
          Seq(("trace", Seq((0, txBase, 1 << 20)))), 0, -1, Seq.empty, 1)),
        traceResolver)
      val rcRecs = rcTopics.head._2.head._4
      assert(rcRecs.map(r => new String(r._2.value, "UTF-8")) === Seq("vt"))
      assert(broker.topic("trace").committed("trace-group")
        .get(0).contains(txBase + 1))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("a secured 3.x client's first contact: negotiate, authenticate, then the data path") {
    // the sasl.jaas.config=PLAIN client sequence on a SASL_PLAINTEXT
    // listener: ApiVersions (allowed pre-auth) → SaslHandshake v1 →
    // SaslAuthenticate (at the negotiated version) → normal traffic
    val root = Files.createTempDirectory("graft-trace-sasl").toString
    val broker = new Broker(spark, root)
    broker.createTopic("sec-trace", 1)
    val server = new WireServer(broker,
      credentials = Map("svc-producer" -> "s3cr3t")).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "sec-cli", "apache-kafka-java", "3.7.0")))
      val advertised = apis.apiKeys.map(k => k._1 -> (k._2, k._3)).toMap
      // the broker advertises the SASL pair pre-auth — the client
      // needs them to know how to proceed
      assert(advertised(KafkaWire.SaslHandshake.key) === ((0, 1)))
      assert(advertised(KafkaWire.SaslAuthenticate.key) === ((0, 2)))

      val (_, hErr, mechs) = decodeSaslHandshakeResponse(exchange(sock,
        encodeSaslHandshakeRequest(1, 2, "sec-cli", "PLAIN")))
      assert(hErr === 0 && mechs === WireServer.Mechanisms)
      // kafka-clients sends SaslAuthenticate at the max advertised
      // version — v2, flexible
      val token = Array[Byte](0) ++ "svc-producer".getBytes("UTF-8") ++
        Array[Byte](0) ++ "s3cr3t".getBytes("UTF-8")
      val (_, aErr, _, _) = decodeSaslAuthenticateResponse(2, exchange(sock,
        encodeSaslAuthenticateRequest(2, 3, "sec-cli", token)))
      assert(aErr === 0)

      // authenticated: the full negotiated data path works on the
      // same connection — metadata, idempotent produce, fetch
      val meta = decodeMetadataResponse(12, exchange(sock,
        encodeMetadataRequest(12, 4, "sec-cli", None)))
      assert(meta.topics.map(_.name) === Seq("sec-trace"))
      val (_, _, pid, pEpoch) = decodeInitProducerIdResponse(4,
        exchange(sock,
          encodeInitProducerIdRequest(4, 5, "sec-cli", null, 60000)))
      val r = WireRecordV2(1700000000000L, "k".getBytes("UTF-8"),
        "guarded".getBytes("UTF-8"))
      val (_, prodRes) = decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 6, "sec-cli", null, 1, 30000,
          Seq(("sec-trace", Seq((0, ProducedBatch(pid, pEpoch, 0, Seq(r)))))))))
      assert(prodRes.head._2.head === ((0, 0, 0L)))
      val (_, fetched) = decodeFetchResponse(12, exchange(sock,
        encodeFetchRequest(12, 7, "sec-cli", 100, 1, 1 << 20,
          Seq(("sec-trace", Seq((0, 0L, 1 << 20)))), 0, -1, Seq.empty, 0)))
      assert(fetched.head._2.head._4
        .map(rr => new String(rr._2.value, "UTF-8")) === Seq("guarded"))
    } finally {
      sock.close()
      server.close()
    }
  }

  test("a 4.x client's group path: ConsumerGroupHeartbeat negotiated and driven") {
    // kafka-clients 4.x defaults to group.protocol=consumer (KIP-848):
    // after ApiVersions it checks the broker serves key 68 and then
    // drives membership through heartbeats alone — no JoinGroup/
    // SyncGroup barrier. This leg replays that negotiation and the
    // minimal lifecycle a 4.x consumer performs, with the offset
    // APIs it still shares with the classic path.
    val root = Files.createTempDirectory("graft-trace-848").toString
    val broker = new Broker(spark, root)
    broker.createTopic("t848", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "trace-4x", "apache-kafka-java", "4.0.0")))
      val advertised = apis.apiKeys.map(k => k._1 -> (k._2, k._3)).toMap
      // the 4.x decision point: key 68 present → new protocol usable
      // (max = 1, the verified KIP-848 schema ceiling; see KafkaWire)
      assert(advertised(KafkaWire.ConsumerGroupHeartbeat.key) === ((0, 1)))
      assert(advertised(KafkaWire.ConsumerGroupDescribe.key) === ((0, 0)))

      // enable.metrics.push defaults to true since 3.7: the client's
      // next move after ApiVersions is the telemetry subscription
      // handshake — an empty subscription ends it cleanly (no pushes)
      assert(advertised(KafkaWire.GetTelemetrySubscriptions.key) === ((0, 0)))
      val (_, tErr, tIid, _, _, tIvl, _, _, tMetrics) =
        decodeGetTelemetrySubscriptionsResponse(exchange(sock,
          encodeGetTelemetrySubscriptionsRequest(90, "trace-4x",
            new Array[Byte](16))))
      assert(tErr === 0 && !tIid.forall(_ == 0))
      assert(tMetrics === Seq.empty && tIvl > 0)

      // AdminClient 3.8+/4.x describeTopics goes through key 75
      val (_, dtp, dtpNext) = decodeDescribeTopicPartitionsResponse(
        exchange(sock, encodeDescribeTopicPartitionsRequest(91, "trace-4x",
          Seq("t848"), 2000, None)))
      assert(dtpNext === None)
      assert(dtp.head.name === "t848" && dtp.head.partitions.length === 2)
      assert(dtp.head.topicId === topicUuid("t848"))

      def rec(k: String, v: String) =
        WireRecordV2(1700000000000L, k.getBytes("UTF-8"), v.getBytes("UTF-8"))
      val resolver = topicIdResolverFor(Seq("t848"))
      // join: epoch 0, coordinator-generated member id, full grant —
      // at the negotiated v1 (min of client preference, broker max 1)
      val join = decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(2, "trace-4x", "g4x", "", 0,
          Seq("t848"), version = 1)), resolver)
      assert(join._2 === 0)
      val memberId = join._4
      assert(join._5 === 1)
      assert(join._7.map(_.flatMap(_._2).toSet) === Some(Set(0, 1)))
      // steady state: acknowledge ownership, then an idle heartbeat
      val ack = decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(3, "trace-4x", "g4x", memberId,
          1, null, Seq(("t848", Seq(0, 1))))), resolver)
      assert(ack._2 === 0 && ack._7 === None)

      // the 4.x consumer commits through the same OffsetCommit v8 path
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 4, "trace-4x", null, 1, 30000,
          Seq(("t848", Seq((0, Seq(rec("a", "va")))))))))
      val (_, committed) = decodeOffsetCommitResponse(8, exchange(sock,
        encodeOffsetCommitRequest(8, 5, "trace-4x", "g4x", -1, null, null,
          Seq(("t848", Seq((0, 1L, "")))))))
      assert(committed === Seq(("t848", Seq((0, 0)))))

      // ConsumerGroupDescribe: the admin view of the 848 group
      val (_, described) = decodeConsumerGroupDescribeResponse(exchange(sock,
        encodeConsumerGroupDescribeRequest(6, "trace-4x", Seq("g4x"))))
      assert(described.head.groupState === "Stable")
      assert(described.head.members.map(_.memberId) === Seq(memberId))

      // clean shutdown: leave at epoch -1
      val left = decodeConsumerGroupHeartbeatResponse(exchange(sock,
        encodeConsumerGroupHeartbeatRequest(7, "trace-4x", "g4x", memberId,
          -1)), resolver)
      assert(left._2 === 0 && left._5 === -1)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("a 4.x share consumer's data path: ShareFetch/ShareAcknowledge driven") {
    // kafka-console-share-consumer.sh (KIP-932, AK 4.0+): after
    // ApiVersions it requires keys 76/78/79, joins through
    // ShareGroupHeartbeat (the broker ISSUES the member id), then
    // loops ShareFetch (epoch 0 opens the share session under that
    // identity) with acknowledgements riding the next fetch, and
    // closes at epoch −1 + a leave heartbeat. This leg replays that
    // flow at the negotiated v0.
    val root = Files.createTempDirectory("graft-trace-share").toString
    val broker = new Broker(spark, root)
    broker.createTopic("tq", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "trace-share", "apache-kafka-java",
          "4.1.0")))
      val advertised = apis.apiKeys.map(k => k._1 -> (k._2, k._3)).toMap
      // the share consumer's decision point: membership + queue RPCs
      // (ShareFetch/ShareAcknowledge at the AK 4.1 maximum v1, so a
      // 4.1 share consumer negotiates v1 = min(1, 1) below)
      assert(advertised(KafkaWire.ShareGroupHeartbeat.key) === ((0, 0)))
      assert(advertised(KafkaWire.ShareFetch.key) === ((0, 1)))
      assert(advertised(KafkaWire.ShareAcknowledge.key) === ((0, 1)))

      // records arrive over the idempotent produce path first
      def rec(k: String, v: String) =
        WireRecordV2(1700000000000L, k.getBytes("UTF-8"), v.getBytes("UTF-8"))
      decodeProduceResponse(9, exchange(sock,
        encodeProduceRequest(9, 2, "trace-share", null, 1, 30000,
          Seq(("tq", Seq((0, Seq(rec("a", "va"), rec("b", "vb"),
            rec("c", "vc")))))))))

      val resolver = topicIdResolverFor(Seq("tq"))
      // join: the broker issues the member identity + the assignment
      val (_, jErr, _, memberId, _, _, jAsg) =
        decodeShareGroupHeartbeatResponse(exchange(sock,
          encodeShareGroupHeartbeatRequest(10, "trace-share", "sg4x", "",
            0, Seq("tq"))), resolver)
      assert(jErr === 0 && memberId.nonEmpty)
      assert(jAsg === Some(Seq("tq" -> Seq(0))))

      // epoch 0 opens the share session UNDER THE ISSUED IDENTITY —
      // at the negotiated v1, record-count flow control (max_records
      // + batch_size replace v0's per-partition byte cap)
      val r1 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(3, "trace-share", "sg4x", memberId, 0,
          Seq("tq" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1, maxRecords = 500, batchSize = 500)),
        resolver, version = 1)
      assert(r1._2 === 0)
      val p1 = r1._4.head._2.head
      assert(p1.records.map(r => new String(r._2.value, "UTF-8"))
        === Seq("va", "vb", "vc"))
      assert(p1.acquired === Seq(ShareAcquired(0L, 2L, 1)))

      // the processing loop's shape: the NEXT fetch carries the acks
      val r2 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(4, "trace-share", "sg4x", memberId, 1,
          Seq("tq" -> Seq(ShareFetchPartition(0, 1 << 20,
            Seq(ShareAckBatch(0L, 2L, Seq(1)))))),
          version = 1, maxRecords = 500, batchSize = 500)), resolver,
        version = 1)
      assert(r2._2 === 0)
      assert(r2._4.head._2.head.ackErrorCode === 0)
      assert(r2._4.head._2.head.records.isEmpty) // everything terminal

      // clean shutdown: epoch −1 closes the share session
      val r3 = decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(5, "trace-share", "sg4x", memberId, -1,
          Seq("tq" -> Seq(ShareFetchPartition(0, 1 << 20, Seq.empty))),
          version = 1)), resolver, version = 1)
      assert(r3._2 === 0)
      // the drained group is visible to admin tooling as type "share"
      val (_, _, groups) = decodeListGroupsResponse(5, exchange(sock,
        encodeListGroupsRequest(5, 6, "trace-share",
          typesFilter = Seq("share"))))
      assert(groups === Seq(("sg4x", "share", "Stable", "share")))
      assert(broker.shareGroup("tq", "sg4x").startOffset(0) === 3L)
    } finally {
      sock.close()
      server.close()
    }
  }
}
