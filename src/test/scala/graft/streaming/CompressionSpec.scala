package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Compressed record batches: all four public codecs (gzip, snappy,
  * lz4, zstd — via the same libraries the Kafka broker links, all on
  * the Spark classpath) round-trip end-to-end (produce decode + fetch
  * encode, per the public RecordBatch v2 layout — attributes bits 0–2
  * name the codec, the records section after the 61-byte header
  * compresses as one block, the CRC covers the stored compressed
  * form); the reserved codec ids (5–7) answer
  * UNSUPPORTED_COMPRESSION_TYPE (76) as a clean per-partition error,
  * and corrupt payloads CORRUPT_MESSAGE (2) — neither kills the
  * connection (ref roadmap Producer API, README.md:47). */
class CompressionSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def rec(s: String, hdrs: (String, String)*) =
    WireRecordV2(1700000000000L, s"k-$s".getBytes("UTF-8"), s.getBytes("UTF-8"),
      hdrs.map { case (k, v) => (k, v.getBytes("UTF-8")) })

  test("all four codecs round-trip through the batch codec and flag their codec bits") {
    val batch = RecordBatchV2(42L, 1700000000000L,
      Seq(rec("alpha", "h1" -> "v1"), rec("beta"), rec("gamma")))
    val plain = encodeRecordBatchV2(batch)
    // attributes INT16 sits after baseOffset(8)+length(4)+epoch(4)+
    // magic(1)+crc(4) = offset 21; codec bits 0–2
    assert((plain(22) & 0x07) === 0)
    for (codec <- Seq(CompressionGzip, CompressionSnappy, CompressionLz4,
        CompressionZstd)) {
      val packed = encodeRecordBatchV2(batch, codec)
      assert((packed(22) & 0x07) === codec)
      assert(!java.util.Arrays.equals(plain, packed))
      val decoded = decodeRecordBatchV2(packed)
      assert(decoded.baseOffset === 42L)
      assert(decoded.records.map(r => new String(r.value, "UTF-8"))
        === Seq("alpha", "beta", "gamma"))
      assert(decoded.records.head.headers.map { case (k, v) =>
        (k, new String(v, "UTF-8")) } === Seq("h1" -> "v1"))
    }
  }

  test("golden hand-laid gzip frame decodes (layout pinned independently of the encoder)") {
    // One record (key "k", value "zipped", one header "h"->"x"),
    // baseOffset 7, timestamp 1000 — records section built BY HAND
    // per the public varint layout, gzipped with java.util.zip
    // directly, headers laid field by field.
    def zig(out: ByteArrayOutputStream, value: Long): Unit = {
      var v = (value << 1) ^ (value >> 63)
      while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    val body = new ByteArrayOutputStream()
    body.write(0) // record attributes
    zig(body, 0) // timestampDelta
    zig(body, 0) // offsetDelta
    zig(body, 1); body.write('k') // key
    zig(body, 6); body.write("zipped".getBytes("UTF-8")) // value
    zig(body, 1) // one header
    zig(body, 1); body.write('h')
    zig(body, 1); body.write('x')
    val recBytes = {
      val r = new ByteArrayOutputStream()
      zig(r, body.size()); body.writeTo(r); r.toByteArray
    }
    val gzOut = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(gzOut)
    gz.write(recBytes); gz.close()
    val zipped = gzOut.toByteArray
    val afterCrc = ByteBuffer.allocate(2 + 4 + 8 + 8 + 8 + 2 + 4 + 4 + zipped.length)
    afterCrc.putShort(1) // attributes: gzip
    afterCrc.putInt(0) // lastOffsetDelta
    afterCrc.putLong(1000L) // baseTimestamp
    afterCrc.putLong(1000L) // maxTimestamp
    afterCrc.putLong(-1L); afterCrc.putShort(-1); afterCrc.putInt(-1) // pid/epoch/seq
    afterCrc.putInt(1) // recordCount
    afterCrc.put(zipped)
    val protectedBytes = afterCrc.array()
    val crc = new java.util.zip.CRC32C()
    crc.update(protectedBytes)
    val frame = ByteBuffer.allocate(8 + 4 + 4 + 1 + 4 + protectedBytes.length)
    frame.putLong(7L) // baseOffset
    frame.putInt(4 + 1 + 4 + protectedBytes.length) // batchLength
    frame.putInt(-1) // partitionLeaderEpoch
    frame.put(2.toByte) // magic
    frame.putInt(crc.getValue.toInt)
    frame.put(protectedBytes)
    val decoded = decodeRecordBatchV2(frame.array())
    assert(decoded.baseOffset === 7L)
    assert(decoded.records.map(r => new String(r.value, "UTF-8")) === Seq("zipped"))
    assert(decoded.records.head.timestampMs === 1000L)
    assert(decoded.records.head.headers.map { case (k, v) =>
      (k, new String(v, "UTF-8")) } === Seq("h" -> "x"))
  }

  /** Rewrite a valid uncompressed batch's codec bits and re-seal the
    * CRC — a well-formed frame naming a codec we can't decode. */
  private def withCodec(batch: Array[Byte], codec: Int): Array[Byte] = {
    val out = batch.clone()
    out(22) = ((out(22) & ~0x07) | codec).toByte
    val crc = new java.util.zip.CRC32C()
    crc.update(out, 21, out.length - 21)
    val c = crc.getValue.toInt
    out(17) = (c >>> 24).toByte; out(18) = (c >>> 16).toByte
    out(19) = (c >>> 8).toByte; out(20) = c.toByte
    out
  }

  test("reserved codec ids surface as per-partition error 76, not a dead decode") {
    val plain = encodeRecordBatchV2(RecordBatchV2(0L, 1000L, Seq(rec("x"))))
    for (codec <- Seq(5, 6, 7)) {
      val ex = intercept[UnsupportedCompressionException] {
        decodeRecordBatchV2(withCodec(plain, codec))
      }
      assert(ex.codec === codec)
    }
    // codec bits naming a REAL codec over a payload that isn't that
    // codec's framing fails as corruption (produce maps it to 2),
    // never as a wedged parse
    val ex = intercept[Exception] {
      decodeRecordBatchV2(withCodec(plain, CompressionZstd))
    }
    assert(!ex.isInstanceOf[UnsupportedCompressionException])
    // an untouched encode still decodes with no flagged partitions
    val okReq = decodeProduceRequest(encodeProduceRequestBatches(
      9, 5, "cli", null, 1, 1000,
      Seq(("t", Seq((0, ProducedBatch(-1L, -1, -1, Seq(rec("fine")))))))))
    assert(okReq.decodeErrors === Map.empty)
    assert(okReq.topics.head._2.head._2.head.records.nonEmpty)
  }

  test("compressed legacy message sets answer 76 cleanly") {
    // magic-0 message with gzip attribute bit: CRC-valid, codec unsupported
    val body = new ByteArrayOutputStream()
    body.write(0) // magic
    body.write(1) // attributes: gzip
    val kv = ByteBuffer.allocate(8).putInt(-1).putInt(-1).array()
    body.write(kv, 0, 8) // null key, null value
    val mb = body.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(mb)
    val set = ByteBuffer.allocate(12 + 4 + mb.length)
    set.putLong(0L); set.putInt(4 + mb.length)
    set.putInt(crc.getValue.toInt); set.put(mb)
    val ex = intercept[UnsupportedCompressionException] {
      decodeMessageSetV0(set.array())
    }
    assert(ex.codec === 1)
  }

  test("all four codecs produce and fetch over a real socket; reserved ids answer 76 in-band") {
    val root = Files.createTempDirectory("graft-gzip").toString
    val broker = new Broker(spark, root)
    broker.createTopic("gz", 2)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    def exchange(request: Array[Byte]): Array[Byte] = {
      sock.getOutputStream.write(request); sock.getOutputStream.flush()
      val in = new DataInputStream(sock.getInputStream)
      val size = in.readInt()
      val payload = new Array[Byte](size)
      in.readFully(payload)
      val framed = ByteBuffer.allocate(size + 4).putInt(size).put(payload)
      framed.array()
    }
    try {
      // one produce per codec at v9 → contiguous real offsets on p0
      val produce = encodeProduceRequestBatches(9, 1, "cli", null, 1, 1000,
        Seq(("gz", Seq((0, ProducedBatch(-1L, -1, -1,
          Seq(rec("one", "h" -> "w"), rec("two"))))))),
        CompressionGzip)
      val (_, res) = decodeProduceResponse(9, exchange(produce))
      assert(res === Seq(("gz", Seq((0, 0, 0L)))))
      for ((codec, name, base) <- Seq(
          (CompressionSnappy, "snapped", 2L),
          (CompressionLz4, "framed", 3L),
          (CompressionZstd, "dictless", 4L))) {
        val (_, r) = decodeProduceResponse(9, exchange(
          encodeProduceRequestBatches(9, 1, "cli", null, 1, 1000,
            Seq(("gz", Seq((0, ProducedBatch(-1L, -1, -1, Seq(rec(name))))))),
            codec)))
        assert(r === Seq(("gz", Seq((0, 0, base)))))
      }
      val allValues = Seq("one", "two", "snapped", "framed", "dictless")

      // fetch plain → every codec's records decoded into one log
      val fetch12 = encodeFetchRequest(12, 2, "cli", 100, 1, 1 << 20,
        Seq(("gz", Seq((0, 0L, 1 << 20)))))
      val (_, plainTopics) = decodeFetchResponse(12, exchange(fetch12))
      assert(plainTopics.head._2.head._4.map(r =>
        new String(r._2.value, "UTF-8")) === allValues)

      // fetch with the topic's `compression.type` (set through
      // IncrementalAlterConfigs) re-serving each codec: same records
      // and headers
      for (codec <- Seq("gzip", "zstd")) {
        val (_, set) = decodeIncrementalAlterConfigsResponse(1, exchange(
          encodeIncrementalAlterConfigsRequest(1, 3, "cli",
            Seq((ConfigResourceTopic, "gz", Seq(("compression.type", 0, codec)))))))
        assert(set.head._1 === 0)
        val raw = exchange(encodeFetchRequest(12, 3, "cli", 100, 1, 1 << 20,
          Seq(("gz", Seq((0, 0L, 1 << 20))))))
        val (_, codecTopics) = decodeFetchResponse(12, raw)
        assert(codecTopics.head._2.head._4.map(r =>
          new String(r._2.value, "UTF-8")) === allValues)
        assert(codecTopics.head._2.head._4.head._2.headers.map { case (k, v) =>
          (k, new String(v, "UTF-8")) } === Seq("h" -> "w"))
      }

      // a produce flagging a RESERVED codec id (5) answers 76 for that
      // partition IN-BAND; the connection then serves the next request
      val plainBatch = encodeRecordBatchV2(
        RecordBatchV2(0L, 1000L, Seq(rec("nope"))))
      val reserved = withCodec(plainBatch, 5)
      val reqOut = new ByteArrayOutputStream()
      // v3 produce (header v1, non-flexible): hand-lay the request so
      // the raw flagged payload ships as-is
      def i16(v: Int) = { reqOut.write(v >>> 8); reqOut.write(v & 0xff) }
      def i32(v: Int) = { (3 to 0 by -1).foreach(i => reqOut.write((v >>> (8 * i)) & 0xff)) }
      i16(0); i16(3); i32(4) // api key, version, correlation id
      i16(3); reqOut.write("cli".getBytes("UTF-8")) // client id
      i16(-1) // transactional id: null
      i16(1); i32(1000) // acks, timeout
      i32(1); i16(2); reqOut.write("gz".getBytes("UTF-8")) // one topic
      i32(2) // two partitions
      i32(0); i32(reserved.length); reqOut.write(reserved, 0, reserved.length) // p0
      i32(1); i32(plainBatch.length); reqOut.write(plainBatch, 0, plainBatch.length)
      val framed = new ByteArrayOutputStream()
      val reqBytes = reqOut.toByteArray
      (3 to 0 by -1).foreach(i => framed.write((reqBytes.length >>> (8 * i)) & 0xff))
      framed.write(reqBytes, 0, reqBytes.length)
      val (_, mixed) = decodeProduceResponse(3, exchange(framed.toByteArray))
      val parts = mixed.head._2.map(t => t._1 -> ((t._2, t._3))).toMap
      assert(parts(0)._1 === 76) // UNSUPPORTED_COMPRESSION_TYPE
      assert(parts(1)._1 === 0) // the clean partition appended
      // connection still alive: metadata answers
      val meta = decodeMetadataResponseV0(exchange(
        encodeMetadataRequestV0(9, "cli", None)))
      assert(meta.topics.map(_.name) === Seq("gz"))
      // p1 really landed; p0's flagged payload appended NOTHING
      assert(broker.topic("gz").read().where("partition = 1").count() === 1)
    } finally {
      sock.close(); server.close()
    }
  }
}
