package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The single-pass record-batch encoder against its contract: every
  * batch it writes decodes, CRC32C checked, back to its input under
  * every codec, and its uncompressed bytes equal a reference encoder
  * that lays the public RecordBatch v2 layout out one field at a time.
  * The shapes cover null keys and values, empty values, null header
  * values, non-ASCII header names, negative and very large timestamp
  * deltas, offset gaps, and 1 to 5,000 records. Seeded: the generated
  * inputs are the same every run. */
class RecordBatchEncoderSpec extends AnyFunSuite {
  import KafkaWire._

  private def check(name: String, p: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(org.scalacheck.rng.Seed(7L)),
      p)
    assert(res.passed, s"$name: $res")
  }

  private val Codecs = Seq(CompressionNone, CompressionGzip, CompressionSnappy,
    CompressionLz4, CompressionZstd)

  private val genBytes: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Array.emptyByteArray),
    4 -> Gen.chooseNum(1, 300).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))))
  private val genName: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)), Gen.const(""), Gen.const("trâce-é"),
    Gen.const("日本語"), Gen.const("😀k"))
  private val genHeaders: Gen[Seq[(String, Array[Byte])]] = Gen.frequency(
    2 -> Gen.const(Seq.empty),
    1 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.zip(genName, genBytes))))
  private val BaseTs = 1700000000000L
  /** record timestamps around the base: equal, a little either side,
    * and deltas that need a 9- or 10-byte varint */
  private val genTs: Gen[Long] = Gen.oneOf(
    Gen.const(BaseTs), Gen.chooseNum(BaseTs - 100000L, BaseTs + 100000L),
    Gen.const(-1L), Gen.const(0L), Gen.const(Long.MaxValue / 4),
    Gen.const(Long.MinValue / 4))
  private val genRecord: Gen[WireRecordV2] = for {
    ts <- genTs; k <- genBytes; v <- genBytes; h <- genHeaders
  } yield WireRecordV2(ts, k, v, h)
  /** ascending offsets from a base, with gaps */
  private def genOffsets(n: Int): Gen[Seq[Long]] = for {
    base <- Gen.chooseNum(0L, 1L << 40)
    gaps <- Gen.listOfN(n, Gen.frequency(4 -> Gen.const(1L), 1 -> Gen.chooseNum(2L, 1000L)))
  } yield gaps.scanLeft(base)(_ + _).take(n)
  private val genBatch: Gen[Seq[(Long, WireRecordV2)]] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 4 -> Gen.chooseNum(2, 40))
    offs <- genOffsets(n)
    recs <- Gen.listOfN(n, genRecord)
  } yield offs.zip(recs)

  /** The reference: each field appended in spec order, the CRC32C
    * over attributes..end, lengths from the finished sections. */
  private def reference(baseTs: Long, recs: Seq[(Long, WireRecordV2)],
      producerId: Long = -1L, producerEpoch: Int = -1, baseSequence: Int = -1,
      transactional: Boolean = false): Array[Byte] = {
    def zz(o: ByteArrayOutputStream, value: Long): Unit = {
      var v = (value << 1) ^ (value >> 63)
      while ((v & ~0x7fL) != 0L) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def bytes(o: ByteArrayOutputStream, b: Array[Byte]): Unit =
      if (b == null) zz(o, -1) else { zz(o, b.length); o.write(b) }
    def i16(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v >>> 8); o.write(v) }
    def i32(o: ByteArrayOutputStream, v: Int): Unit = { i16(o, v >>> 16); i16(o, v) }
    def i64(o: ByteArrayOutputStream, v: Long): Unit = { i32(o, (v >>> 32).toInt); i32(o, v.toInt) }
    val base = recs.head._1
    val records = new ByteArrayOutputStream()
    recs.foreach { case (off, r) =>
      val body = new ByteArrayOutputStream()
      body.write(0)
      zz(body, r.timestampMs - baseTs)
      zz(body, off - base)
      bytes(body, r.key)
      bytes(body, r.value)
      zz(body, r.headers.length)
      r.headers.foreach { case (k, v) => bytes(body, k.getBytes(UTF_8)); bytes(body, v) }
      zz(records, body.size)
      body.writeTo(records)
    }
    val tail = new ByteArrayOutputStream()
    i16(tail, if (transactional) 0x10 else 0)
    i32(tail, (recs.last._1 - base).toInt)
    i64(tail, baseTs)
    i64(tail, recs.map(_._2.timestampMs).foldLeft(-1L)(math.max))
    i64(tail, producerId)
    i16(tail, producerEpoch)
    i32(tail, baseSequence)
    i32(tail, recs.length)
    records.writeTo(tail)
    val crc = new java.util.zip.CRC32C()
    crc.update(tail.toByteArray)
    val out = new ByteArrayOutputStream()
    i64(out, base)
    i32(out, 9 + tail.size)
    i32(out, -1)
    out.write(2)
    i32(out, crc.getValue.toInt)
    tail.writeTo(out)
    out.toByteArray
  }

  private def same(a: Array[Byte], b: Array[Byte]): Boolean =
    (a == null && b == null) || (a != null && b != null && a.sameElements(b))

  private def sameRecords(got: Seq[(Long, WireRecordV2)],
      want: Seq[(Long, WireRecordV2)]): Boolean =
    got.length == want.length && got.zip(want).forall { case ((go, g), (wo, w)) =>
      go == wo && g.timestampMs == w.timestampMs && same(g.key, w.key) &&
        same(g.value, w.value) && g.headers.length == w.headers.length &&
        g.headers.zip(w.headers).forall { case ((gk, gv), (wk, wv)) =>
          gk == wk && same(gv, wv) }
    }

  test("every codec's batch decodes, CRC checked, back to its input") {
    check("round trip", Prop.forAll(genBatch, Gen.oneOf(Codecs)) { (recs, codec) =>
      sameRecords(decodeRecordBatchV2WithOffsets(
        encodeRecordBatchV2WithOffsets(BaseTs, recs, codec)), recs)
    })
  }

  test("uncompressed output equals the field-by-field reference encoding") {
    check("reference", Prop.forAll(genBatch) { recs =>
      encodeRecordBatchV2WithOffsets(BaseTs, recs).sameElements(reference(BaseTs, recs))
    })
  }

  test("producer coordinates and the transactional bit encode as the reference does") {
    val gen = for {
      recs <- genBatch
      pid <- Gen.chooseNum(-1L, Long.MaxValue)
      epoch <- Gen.chooseNum(-1, Short.MaxValue.toInt)
      seq <- Gen.chooseNum(-1, Int.MaxValue)
      txn <- Gen.oneOf(true, false)
    } yield (recs.zipWithIndex.map { case ((_, r), i) => (i.toLong, r) }, pid, epoch, seq, txn)
    check("producer batch", Prop.forAll(gen) { case (recs, pid, epoch, seq, txn) =>
      val batch = RecordBatchV2(0L, BaseTs, recs.map(_._2), pid, epoch, seq, txn)
      val enc = encodeRecordBatchV2(batch)
      val dec = decodeRecordBatchV2(enc)
      enc.sameElements(reference(BaseTs, recs, pid, epoch, seq, txn)) &&
        dec.producerId == pid && dec.producerEpoch == epoch &&
        dec.baseSequence == seq && dec.transactional == txn
    })
  }

  test("1 and 5,000 records with headers round-trip under every codec") {
    val rnd = new scala.util.Random(11L)
    def rec(i: Int) = WireRecordV2(BaseTs + rnd.between(-5000L, 5000L),
      if (i % 7 == 0) null else s"k$i".getBytes(UTF_8),
      if (i % 11 == 0) null else Array.fill(rnd.between(0, 120))(rnd.nextInt().toByte),
      if (i % 3 == 0) Seq("trace-é" -> s"t$i".getBytes(UTF_8), "n" -> null) else Seq.empty)
    Seq(1, 5000).foreach { n =>
      val recs = (0 until n).map(i => ((1L << 33) + 2L * i, rec(i)))
      Codecs.foreach { codec =>
        val dec = decodeRecordBatchV2WithOffsets(
          encodeRecordBatchV2WithOffsets(BaseTs, recs, codec))
        assert(sameRecords(dec, recs), s"$n records, codec $codec")
      }
      assert(encodeRecordBatchV2WithOffsets(BaseTs, recs)
        .sameElements(reference(BaseTs, recs)), s"$n records")
    }
  }

  test("a flipped byte anywhere the CRC covers fails the decode") {
    val recs = (0 until 20).map(i =>
      (100L + i, WireRecordV2(BaseTs + i, s"k$i".getBytes(UTF_8), s"v$i".getBytes(UTF_8))))
    Codecs.foreach { codec =>
      val enc = encodeRecordBatchV2WithOffsets(BaseTs, recs, codec)
      Seq(21, 40, 61, enc.length - 1).foreach { at =>
        val bad = enc.clone()
        bad(at) = (bad(at) ^ 0x5a).toByte
        intercept[IllegalArgumentException](decodeRecordBatchV2WithOffsets(bad))
      }
    }
  }
}
