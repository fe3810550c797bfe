package graft.streaming

import java.io.DataInputStream
import java.net.Socket
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The idempotent-producer path a default-config kafka-clients 3.x
  * producer drives (enable.idempotence defaults to true since Kafka
  * 3.0): InitProducerId (key 22) hands out (producer_id, epoch),
  * every record batch carries (pid, epoch, baseSequence), and the
  * broker's sequence bookkeeping turns a retried batch into an ack of
  * the ORIGINAL offsets — exactly-once produce over at-least-once
  * delivery. Golden frames hand-laid from the public protocol spec;
  * the socket test drives the whole loop byte-level. */
class IdempotentProducerSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def i16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
  private def i32(v: Int) =
    Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def i64(v: Long) = i32((v >> 32).toInt) ++ i32(v.toInt)

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  test("InitProducerId v0 framing matches the hand-laid golden bytes") {
    val reqBody =
      i16(22) ++ i16(0) ++ // api_key InitProducerId, api_version 0
        i32(7) ++ // correlation_id
        i16(3) ++ "cli".getBytes("UTF-8") ++ // client_id
        i16(-1) ++ // transactional_id: null (the idempotent path)
        i32(60000) // transaction_timeout_ms
    val goldenReq = i32(reqBody.length) ++ reqBody
    val encReq = encodeInitProducerIdRequest(0, 7, "cli", null, 60000)
    assert(encReq.sameElements(goldenReq),
      s"\n got: ${encReq.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${goldenReq.map("%02x".format(_)).mkString(" ")}")
    val dec = decodeInitProducerIdRequest(goldenReq)
    assert(dec.version === 0 && dec.correlationId === 7)
    assert(dec.transactionalId === null && dec.transactionTimeoutMs === 60000)

    val respBody =
      i32(7) ++ // correlation_id
        i32(0) ++ // throttle_time_ms
        i16(0) ++ // error_code
        i64(42L) ++ // producer_id
        i16(0) // producer_epoch
    val goldenResp = i32(respBody.length) ++ respBody
    val encResp = encodeInitProducerIdResponse(0, 7, 0, 42L, 0)
    assert(encResp.sameElements(goldenResp),
      s"\n got: ${encResp.map("%02x".format(_)).mkString(" ")}" +
        s"\nwant: ${goldenResp.map("%02x".format(_)).mkString(" ")}")
    assert(decodeInitProducerIdResponse(0, goldenResp) === ((7, 0, 42L, 0)))
  }

  test("InitProducerId v4 (flexible, KIP-360 fields) round-trips") {
    val enc = encodeInitProducerIdRequest(4, 9, "cli", null, 30000,
      currentProducerId = 11L, currentProducerEpoch = 2)
    val dec = decodeInitProducerIdRequest(enc)
    assert(dec.version === 4 && dec.correlationId === 9)
    assert(dec.transactionalId === null)
    assert(dec.currentProducerId === 11L && dec.currentProducerEpoch === 2)
    val resp = encodeInitProducerIdResponse(4, 9, 0, 5L, 3)
    assert(decodeInitProducerIdResponse(4, resp) === ((9, 0, 5L, 3)))
  }

  test("record batch v2 keeps producer coordinates through the codec") {
    val rec = WireRecordV2(1000L, null, "v".getBytes("UTF-8"))
    val enc = encodeRecordBatchV2(
      RecordBatchV2(0L, 1000L, Seq(rec), 42L, 1, 17))
    val dec = decodeRecordBatchV2(enc)
    assert(dec.producerId === 42L)
    assert(dec.producerEpoch === 1)
    assert(dec.baseSequence === 17)
    // ... and the non-idempotent default stays (-1, -1, -1)
    val plain = decodeRecordBatchV2(
      encodeRecordBatchV2(RecordBatchV2(0L, 1000L, Seq(rec))))
    assert(plain.producerId === -1L && plain.baseSequence === -1)
  }

  test("an idempotent producer gets exactly-once produce over the socket") {
    val root = Files.createTempDirectory("graft-idem").toString
    val broker = new Broker(spark, root)
    broker.createTopic("idem", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      def recs(ss: String*) =
        ss.map(s => WireRecordV2(1700000000000L, null, s.getBytes("UTF-8")))
      def produce(corr: Int, batch: ProducedBatch) =
        decodeProduceResponse(9, exchange(sock,
          encodeProduceRequestBatches(9, corr, "cli", null, 1, 30000,
            Seq(("idem", Seq((0, batch)))))))._2.head._2.head

      // the broker advertises key 22
      val apis = decodeApiVersionsResponseV3(exchange(sock,
        encodeApiVersionsRequestV3(1, "cli", "graft-test", "0")))
      assert(apis.apiKeys.exists { case (k, min, max) =>
        k === 22 && min === 0 && max === InitProducerId.maxVersion })

      // init → fresh (pid, epoch 0)
      val (_, err0, pid, epoch) = decodeInitProducerIdResponse(4,
        exchange(sock, encodeInitProducerIdRequest(4, 2, "cli", null, 60000)))
      assert(err0 === 0 && pid >= 0L && epoch === 0)

      // first batch (seq 0, 2 records) appends at base 0
      assert(produce(3, ProducedBatch(pid, epoch, 0, recs("a", "b")))
        === ((0, 0, 0L)))
      // the RETRY of that exact batch acks base 0 again — and writes
      // nothing
      assert(produce(4, ProducedBatch(pid, epoch, 0, recs("a", "b")))
        === ((0, 0, 0L)))
      assert(broker.topic("idem").read().count() === 2)

      // next in sequence (seq 2) appends at base 2
      assert(produce(5, ProducedBatch(pid, epoch, 2, recs("c")))
        === ((0, 0, 2L)))
      // a sequence GAP answers OUT_OF_ORDER_SEQUENCE_NUMBER (45)
      assert(produce(6, ProducedBatch(pid, epoch, 9, recs("x")))
        === ((0, 45, -1L)))
      // a STALE epoch answers INVALID_PRODUCER_EPOCH (47)
      assert(produce(7, ProducedBatch(pid, epoch - 1, 3, recs("x")))
        === ((0, 47, -1L)))
      // a fresh pid starting off zero answers 45 (unknown producer)
      assert(produce(8, ProducedBatch(pid + 1000L, 0, 5, recs("x")))
        === ((0, 45, -1L)))
      // a bumped epoch resets the sequence space to 0
      assert(produce(9, ProducedBatch(pid, epoch + 1, 0, recs("d")))
        === ((0, 0, 3L)))
      // nothing from the rejected sends landed
      assert(broker.topic("idem").read().count() === 4)

      // the retried duplicate did not disturb consumption: fetch sees
      // each record once, in offset order
      val fetched = decodeFetchResponse(12, exchange(sock,
        encodeFetchRequest(12, 10, "cli", 100, 1, 1 << 20,
          Seq(("idem", Seq((0, 0L, 1 << 20)))))))
      val vals = fetched._2.head._2.head._4
        .map { case (_, r) => new String(r.value, "UTF-8") }
      assert(vals === Seq("a", "b", "c", "d"))

      // a transactional init (round 6: transactions ARE served) binds
      // a stable pid; re-init bumps the epoch, fencing the previous
      // incarnation — TransactionsSpec drives the full EOS lifecycle
      val (_, txErr1, txPid1, txEp1) = decodeInitProducerIdResponse(4,
        exchange(sock, encodeInitProducerIdRequest(4, 11, "cli", "txn-1", 60000)))
      assert(txErr1 === 0)
      assert(txEp1 === 0)
      val (_, txErr2, txPid2, txEp2) = decodeInitProducerIdResponse(4,
        exchange(sock, encodeInitProducerIdRequest(4, 12, "cli", "txn-1", 60000)))
      assert(txErr2 === 0)
      assert(txPid2 === txPid1, "the transactional id keeps its pid")
      assert(txEp2 === txEp1 + 1, "re-init fences by bumping the epoch")
    } finally {
      sock.close()
      server.close()
    }
  }

  test("sequence arithmetic wraps at Int.MaxValue per the protocol") {
    val root = Files.createTempDirectory("graft-idem-seq").toString
    val broker = new Broker(spark, root)
    assert(broker.seqAdd(0, 1) === 1)
    assert(broker.seqAdd(Int.MaxValue - 1, 1) === Int.MaxValue)
    // [0, Int.MaxValue] is the sequence domain: MaxValue + 1 wraps to 0
    assert(broker.seqAdd(Int.MaxValue, 1) === 0)
    assert(broker.seqAdd(Int.MaxValue, 5) === 4)
    assert(broker.seqAdd(Int.MaxValue - 2, 10) === 7)
  }

  test("multi-batch payloads validate as a sequence chain") {
    val root = Files.createTempDirectory("graft-idem-chain").toString
    val broker = new Broker(spark, root)
    def b(seq: Int, n: Int) = ProducedBatch(7L, 0, seq,
      (0 until n).map(i => WireRecordV2(1L, null, Array[Byte](i.toByte))))

    // a chained payload (seq 0 ×2 recs, then seq 2 ×3) appends as one
    assert(broker.validateProducerBatches("t", 0, Seq(b(0, 2), b(2, 3)))
      === Broker.Append)
    broker.recordProducerBatches("t", 0, Seq(b(0, 2), b(2, 3)), 0L)
    // ... state now expects seq 5
    assert(broker.validateProducerBatches("t", 0, Seq(b(5, 1)))
      === Broker.Append)
    // a BROKEN chain (gap between the payload's own batches) rejects 45
    assert(broker.validateProducerBatches("t", 0, Seq(b(5, 1), b(9, 1)))
      === Broker.Reject(45))
    // a single-batch replay of a remembered batch is a Duplicate with
    // the original base offset ...
    assert(broker.validateProducerBatches("t", 0, Seq(b(0, 2)))
      === Broker.Duplicate(0L))
    assert(broker.validateProducerBatches("t", 0, Seq(b(2, 3)))
      === Broker.Duplicate(2L))
    // ... but a replay buried in a MULTI-batch payload is ambiguous
    // (part already appended, part new) → DUPLICATE_SEQUENCE_NUMBER
    assert(broker.validateProducerBatches("t", 0, Seq(b(2, 3), b(5, 1)))
      === Broker.Reject(46))
    // same baseSequence with a DIFFERENT record count is not the
    // remembered batch → out-of-order, not duplicate
    assert(broker.validateProducerBatches("t", 0, Seq(b(2, 1)))
      === Broker.Reject(45))
  }

  test("one request listing a partition twice with chained sequences appends both") {
    val root = Files.createTempDirectory("graft-idem-dup").toString
    val broker = new Broker(spark, root)
    def b(seq: Int, n: Int) = ProducedBatch(3L, 0, seq,
      (0 until n).map(i => WireRecordV2(1L, null, Array[Byte](i.toByte))))
    // entry B chains off entry A's provisional position — the same
    // contract the base-offset accounting supports for dup partitions
    assert(broker.validateProducerEntries("t", 1,
      Seq((0, Seq(b(0, 2))), (0, Seq(b(2, 3)))))
      === Seq(Broker.Append, Broker.Append))
    // a NON-chained second entry rejects alone; the first still appends
    assert(broker.validateProducerEntries("t", 1,
      Seq((0, Seq(b(0, 2))), (0, Seq(b(7, 1)))))
      === Seq(Broker.Append, Broker.Reject(45)))
    // a rejected FIRST entry leaves no provisional trace: the second
    // entry starting at 0 is still the valid fresh start
    assert(broker.validateProducerEntries("t", 1,
      Seq((0, Seq(b(5, 2))), (0, Seq(b(0, 2)))))
      === Seq(Broker.Reject(45), Broker.Append))
    // different partitions keep independent sequence spaces
    assert(broker.validateProducerEntries("t", 2,
      Seq((0, Seq(b(0, 2))), (1, Seq(b(0, 2)))))
      === Seq(Broker.Append, Broker.Append))
  }

  test("a v9 produce from a non-idempotent client is untouched by the gate") {
    val root = Files.createTempDirectory("graft-idem-plain").toString
    val broker = new Broker(spark, root)
    broker.createTopic("plain", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val rec = WireRecordV2(1700000000000L, null, "v".getBytes("UTF-8"))
      // the same non-idempotent batch twice: BOTH append (no producer
      // id → no dedup, at-least-once, exactly the pre-KIP-98 contract)
      (0 to 1).foreach { i =>
        val resp = decodeProduceResponse(9, exchange(sock,
          encodeProduceRequest(9, 20 + i, "cli", null, 1, 30000,
            Seq(("plain", Seq((0, Seq(rec))))))))
        assert(resp._2.head._2.head === ((0, 0, i.toLong)))
      }
      assert(broker.topic("plain").read().count() === 2)
    } finally {
      sock.close()
      server.close()
    }
  }
}
