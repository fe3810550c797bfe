package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream}
import java.net.Socket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** A minimal Kafka-protocol client, written from the public protocol
  * spec and independent of graft's own codecs: the load generator must
  * not share code with the server it measures. It speaks exactly the
  * requests the workloads send — CreateTopics v0, DeleteTopics v0,
  * Produce v9, Fetch v12, OffsetCommit v2, ShareGroupHeartbeat v0 and
  * ShareFetch v1. */
object Wire {
  /** A fetched record; `key` is null for a null key. */
  final case class Rec(offset: Long, timestampMs: Long, key: Array[Byte], value: Array[Byte])

  /** Topic ids as graft assigns them (a name-based UUID), so ShareFetch
    * can address a topic without a Metadata round trip. */
  def topicId(name: String): Array[Byte] = {
    val u = java.util.UUID.nameUUIDFromBytes(("graft-topic:" + name).getBytes(UTF_8))
    ByteBuffer.allocate(16).putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
  }

  final class W(flexible: Boolean) {
    val out = new ByteArrayOutputStream(256)
    def i8(v: Int): W = { out.write(v); this }
    def i16(v: Int): W = { out.write(v >> 8); out.write(v); this }
    def i32(v: Int): W = { i16(v >> 16); i16(v) }
    def i64(v: Long): W = { i32((v >> 32).toInt); i32(v.toInt) }
    def uvar(v: Int): W = {
      var x = v
      while ((x & ~0x7f) != 0) { out.write((x & 0x7f) | 0x80); x >>>= 7 }
      out.write(x); this
    }
    def raw(b: Array[Byte]): W = { out.write(b, 0, b.length); this }
    def str(s: String): W =
      if (s == null) { if (flexible) uvar(0) else i16(-1) }
      else {
        val b = s.getBytes(UTF_8)
        if (flexible) uvar(b.length + 1) else i16(b.length)
        raw(b)
      }
    def arr(n: Int): W = if (flexible) uvar(n + 1) else i32(n)
    def bytes(b: Array[Byte]): W = { if (flexible) uvar(b.length + 1) else i32(b.length); raw(b) }
    def tags(): W = if (flexible) uvar(0) else this
  }

  final class R(val buf: ByteBuffer, flexible: Boolean) {
    def i8(): Int = buf.get()
    def i16(): Int = buf.getShort
    def i32(): Int = buf.getInt
    def i64(): Long = buf.getLong
    def uvar(): Int = {
      var v, shift = 0
      var b = 0
      while ({ b = buf.get(); v |= (b & 0x7f) << shift; shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    def skip(n: Int): Unit = buf.position(buf.position() + n)
    def str(): String = {
      val n = if (flexible) uvar() - 1 else i16()
      if (n < 0) null else { val b = new Array[Byte](n); buf.get(b); new String(b, UTF_8) }
    }
    def arr(): Int = if (flexible) uvar() - 1 else i32()
    def bytes(): Array[Byte] = {
      val n = if (flexible) uvar() - 1 else i32()
      if (n < 0) null else { val b = new Array[Byte](n); buf.get(b); b }
    }
    def tags(): Unit = if (flexible) (0 until uvar()).foreach { _ => uvar(); skip(uvar()) }
  }

  private def varlong(o: ByteArrayOutputStream, v: Long): Unit = {
    var x = (v << 1) ^ (v >> 63)
    while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    o.write(x.toInt)
  }
  private def readVarlong(b: ByteBuffer): Long = {
    var v, shift = 0L
    var c = 0
    while ({ c = b.get(); v |= (c & 0x7fL) << shift; shift += 7; (c & 0x80) != 0 }) ()
    (v >>> 1) ^ -(v & 1)
  }

  /** One uncompressed magic-2 batch, non-idempotent. */
  def recordBatch(records: Seq[(Long, Array[Byte], Array[Byte])]): Array[Byte] = {
    val baseTs = records.head._1
    val body = new ByteArrayOutputStream()
    records.zipWithIndex.foreach { case ((ts, k, v), i) =>
      val r = new ByteArrayOutputStream()
      r.write(0)
      varlong(r, ts - baseTs)
      varlong(r, i)
      if (k == null) varlong(r, -1) else { varlong(r, k.length); r.write(k) }
      varlong(r, v.length); r.write(v)
      varlong(r, 0)
      varlong(body, r.size()); r.writeTo(body)
    }
    val tail = new W(false)
      .i16(0).i32(records.size - 1).i64(baseTs).i64(records.map(_._1).max)
      .i64(-1L).i16(-1).i32(-1).i32(records.size).raw(body.toByteArray).out.toByteArray
    val crc = new java.util.zip.CRC32C()
    crc.update(tail, 0, tail.length)
    new W(false).i64(0L).i32(4 + 1 + 4 + tail.length).i32(-1).i8(2)
      .i32(crc.getValue.toInt).raw(tail).out.toByteArray
  }

  /** Decodes a records block (concatenated batches; a partial trailing
    * batch is dropped, as byte-bounded responses may cut one). */
  def decodeRecords(block: Array[Byte]): Seq[Rec] = {
    val out = Seq.newBuilder[Rec]
    val b = ByteBuffer.wrap(block)
    while (b.remaining() >= 12) {
      val start = b.position()
      val base = b.getLong
      val len = b.getInt
      if (len > b.remaining()) { b.position(block.length) }
      else {
        val end = b.position() + len
        b.getInt; require(b.get() == 2, "not a magic-2 batch")
        val crc = b.getInt
        val check = new java.util.zip.CRC32C()
        check.update(block, b.position(), end - b.position())
        require(crc == check.getValue.toInt, "record batch CRC32C mismatch")
        require((b.getShort & 7) == 0, "compressed batch")
        b.getInt; val baseTs = b.getLong; b.getLong; b.getLong; b.getShort; b.getInt
        val n = b.getInt
        (0 until n).foreach { _ =>
          readVarlong(b); b.get()
          val ts = baseTs + readVarlong(b)
          val off = base + readVarlong(b)
          val kl = readVarlong(b).toInt
          val k = if (kl < 0) null else { val a = new Array[Byte](kl); b.get(a); a }
          val vl = readVarlong(b).toInt
          val v = new Array[Byte](math.max(vl, 0)); b.get(v)
          (0 until readVarlong(b).toInt).foreach { _ =>
            b.position(b.position() + readVarlong(b).toInt)
            b.position(b.position() + readVarlong(b).toInt)
          }
          out += Rec(off, ts, k, v)
        }
        require(b.position() == end, s"batch at $start: length mismatch")
      }
    }
    out.result()
  }

  /** One TCP connection, one request in flight. */
  final class Conn(port: Int, clientId: String) extends AutoCloseable {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private var corr = 0

    private def call(api: Int, ver: Int, flexible: Boolean)(body: W => Unit): R = {
      corr += 1
      val w = new W(flexible)
      w.i16(api).i16(ver).i32(corr)
      new W(false).str(clientId).out.writeTo(w.out)
      if (flexible) w.uvar(0)
      body(w)
      val req = w.out.toByteArray
      val frame = ByteBuffer.allocate(4).putInt(req.length).array()
      out.write(frame); out.write(req); out.flush()
      val n = in.readInt()
      val resp = new Array[Byte](n)
      in.readFully(resp)
      val r = new R(ByteBuffer.wrap(resp), flexible)
      require(r.i32() == corr, "correlation id mismatch")
      r.tags()
      r
    }

    def createTopic(name: String, partitions: Int): Int = {
      val r = call(19, 0, flexible = false) { w =>
        w.arr(1).str(name).i32(partitions).i16(1).arr(0).arr(0).i32(30000)
      }
      r.arr(); r.str(); r.i16()
    }

    def deleteTopic(name: String): Int = {
      val r = call(20, 0, flexible = false)(_.arr(1).str(name).i32(30000))
      r.arr(); r.str(); r.i16()
    }

    /** Produce v9, acks=1, one batch per listed partition; returns
      * (partition, error code, base offset) per partition. */
    def produce(topic: String, batches: Seq[(Int, Array[Byte])]): Seq[(Int, Int, Long)] = {
      val r = call(0, 9, flexible = true) { w =>
        w.str(null).i16(1).i32(30000).arr(1).str(topic).arr(batches.size)
        batches.foreach { case (p, b) => w.i32(p).bytes(b).tags() }
        w.tags().tags()
      }
      (0 until r.arr()).flatMap { _ =>
        r.str()
        val parts = (0 until r.arr()).map { _ =>
          val res = (r.i32(), r.i16(), r.i64())
          r.i64(); r.i64()
          (0 until r.arr()).foreach { _ => r.i32(); r.str(); r.tags() }
          r.str(); r.tags()
          res
        }
        r.tags()
        parts
      }
    }

    /** Fetch v12 (sessionless); per partition (error, high watermark,
      * records). */
    def fetch(topic: String, positions: Seq[(Int, Long)], maxWaitMs: Int,
        maxBytes: Int): Map[Int, (Int, Long, Seq[Rec])] = {
      val r = call(1, 12, flexible = true) { w =>
        w.i32(-1).i32(maxWaitMs).i32(1).i32(maxBytes).i8(0).i32(0).i32(-1)
          .arr(1).str(topic).arr(positions.size)
        positions.foreach { case (p, off) =>
          w.i32(p).i32(-1).i64(off).i32(-1).i64(-1L).i32(maxBytes).tags()
        }
        w.tags().arr(0).str("").tags()
      }
      r.i32(); require(r.i16() == 0, "fetch error"); r.i32()
      (0 until r.arr()).flatMap { _ =>
        r.str()
        val parts = (0 until r.arr()).map { _ =>
          val p = r.i32(); val err = r.i16(); val hw = r.i64()
          r.i64(); r.i64()
          (0 until r.arr()).foreach { _ => r.i64(); r.i64(); r.tags() }
          r.i32()
          val recs = Option(r.bytes()).map(decodeRecords).getOrElse(Seq.empty)
          r.tags()
          p -> (err, hw, recs)
        }
        r.tags()
        parts
      }.toMap
    }

    /** OffsetCommit v2 as a standalone consumer (generation -1). */
    def commit(group: String, topic: String, offsets: Map[Int, Long]): Seq[Int] = {
      val r = call(8, 2, flexible = false) { w =>
        w.str(group).i32(-1).str("").i64(-1L).arr(1).str(topic).arr(offsets.size)
        offsets.foreach { case (p, o) => w.i32(p).i64(o).str("") }
      }
      (0 until r.arr()).flatMap { _ => r.str(); (0 until r.arr()).map { _ => r.i32(); r.i16() } }
    }

    /** ShareGroupHeartbeat v0; returns (error, member id, epoch,
      * assigned partitions of the one subscribed topic, if sent). */
    def shareHeartbeat(group: String, memberId: String, epoch: Int,
        topic: String): (Int, String, Int, Option[Seq[Int]]) = {
      val r = call(76, 0, flexible = true) { w =>
        w.str(group).str(memberId).i32(epoch).str(null).arr(1).str(topic).tags()
      }
      r.i32(); val err = r.i16(); r.str()
      val mid = r.str(); val ep = r.i32(); r.i32()
      val asg = if (r.i8() < 0) None else Some {
        (0 until r.arr()).flatMap { _ =>
          r.skip(16); val ps = (0 until r.arr()).map(_ => r.i32()); r.tags(); ps
        }
      }
      (err, mid, ep, asg)
    }

    /** ShareFetch v1. `acks` are (partition, first, last) ranges to
      * accept; returns per partition (error, records, acquired
      * ranges (first, last)). */
    def shareFetch(group: String, memberId: String, sessionEpoch: Int, topic: String,
        partitions: Seq[Int], acks: Map[Int, Seq[(Long, Long)]], maxWaitMs: Int)
        : Map[Int, (Int, Seq[Rec], Seq[(Long, Long)])] = {
      val r = call(78, 1, flexible = true) { w =>
        w.str(group).str(memberId).i32(sessionEpoch).i32(maxWaitMs).i32(1).i32(8 << 20)
          .i32(Int.MaxValue).i32(Int.MaxValue)
          .arr(1).raw(topicId(topic)).arr(partitions.size)
        partitions.foreach { p =>
          val a = acks.getOrElse(p, Seq.empty)
          w.i32(p).arr(a.size)
          a.foreach { case (f, l) => w.i64(f).i64(l).arr(1).i8(1).tags() }
          w.tags()
        }
        w.tags().arr(0).tags()
      }
      r.i32(); val err = r.i16(); r.str(); r.i32()
      require(err == 0, s"share fetch error $err")
      val res = (0 until r.arr()).flatMap { _ =>
        r.skip(16)
        val parts = (0 until r.arr()).map { _ =>
          val p = r.i32(); val pe = r.i16(); r.str(); val ae = r.i16(); r.str()
          r.i32(); r.i32(); r.tags()
          val recs = Option(r.bytes()).map(decodeRecords).getOrElse(Seq.empty)
          val acq = (0 until r.arr()).map { _ =>
            val a = (r.i64(), r.i64()); r.i16(); r.tags(); a
          }
          r.tags()
          p -> (if (pe != 0) pe else ae, recs, acq)
        }
        r.tags()
        parts
      }.toMap
      res
    }

    def close(): Unit = sock.close()
  }
}
