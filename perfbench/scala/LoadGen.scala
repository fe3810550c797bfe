package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The wire load generator: a separate process that drives the broker
  * over TCP with closed-loop clients (each connection keeps one request
  * in flight) and checks every record it was acked.
  *
  * Work is counted, not timed: each round creates a fresh topic, sends a
  * fixed number of requests, verifies, and deletes the topic. Rounds
  * repeat until `seconds` have passed, so a faster broker runs more
  * rounds of the same size rather than a longer, larger log.
  *
  * Usage: LoadGen port=<p> workload=produce_small|produce_fetch
  *        seed=<n> seconds=<s> out=<file> [keep_last=1]
  *
  * With keep_last=1 the last measured round's topic is kept for the
  * broker's replay; every other topic is deleted before the next round.
  */
object LoadGen {
  val Partitions = 8
  val KeyBytes = 8
  val ValueBytes = 100
  /** Records in flight between the producers and the slower consumer
    * (`produce_fetch`): two requests' worth. */
  val Window = 16000L

  final class Failures {
    private val msgs = mutable.ArrayBuffer.empty[String]
    var count = 0L
    def add(m: String): Unit = synchronized { count += 1; if (msgs.size < 20) msgs += m }
    def list: Seq[String] = synchronized(msgs.toSeq)
  }

  /** A deterministic 8-byte key and 100-byte value: a function of
    * (seed, producer, request, record), so the same seed sends the same
    * bytes. */
  def record(seed: Long, producer: Int, req: Int, i: Int): (Array[Byte], Array[Byte]) = {
    val r = new java.util.SplittableRandom(seed * 1000003L + producer * 7919L + req * 131L + i)
    val k = new Array[Byte](KeyBytes)
    val v = new Array[Byte](ValueBytes)
    r.nextBytes(k)
    r.nextBytes(v)
    (k, v)
  }
  /** FNV-1a over the key, its length and the value. */
  def fnv(k: Array[Byte], v: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(x: Int): Unit = h = (h ^ (x & 0xff)) * 0x100000001b3L
    if (k == null) mix(0xff) else { k.foreach(mix(_)); mix(k.length) }
    v.foreach(mix(_))
    h
  }

  /** Expected content: partition → offset → value hash, filled from
    * produce acks; consumers check against it. */
  final class Ledger {
    private val parts = Array.fill(Partitions)(mutable.ArrayBuffer.empty[(Long, Array[Long])])
    def ack(p: Int, base: Long, hashes: Array[Long]): Unit = parts(p).synchronized { parts(p) += (base -> hashes) }
    /** Checks acks are contiguous from 0; returns per-partition arrays. */
    def settle(f: Failures): Array[Array[Long]] = parts.zipWithIndex.map { case (acks, p) =>
      val sorted = acks.sortBy(_._1)
      var next = 0L
      sorted.foreach { case (b, hs) =>
        if (b != next) f.add(s"partition $p: ack base $b, expected $next")
        next = b + hs.length
      }
      sorted.flatMap(_._2).toArray
    }
  }

  /** A consumer's view of one partition: must see offsets 0,1,2,… once
    * each, with the acked keys and values. */
  final class Seen(expect: Array[Array[Long]], f: Failures, who: String) {
    val next = Array.fill(Partitions)(0L)
    def see(p: Int, r: Wire.Rec): Unit = {
      if (r.offset != next(p)) f.add(s"$who partition $p: offset ${r.offset}, expected ${next(p)}")
      else if (r.offset >= expect(p).length || expect(p)(r.offset.toInt) != fnv(r.key, r.value))
        f.add(s"$who partition $p offset ${r.offset}: key or value mismatch")
      next(p) = r.offset + 1
    }
    def done: Boolean = next.indices.forall(p => next(p) >= expect(p).length)
  }

  final class Round(val records: Long, val wallS: Double, val produceS: Double,
      val consumeS: Double, val decay: Double, val requests: Int, val userBytes: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val port = opt("port").toInt
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val keepLast = opt.get("keep_last").contains("1")
    val small = workload match {
      case "produce_small" => true
      case "produce_fetch" => false
      case w => throw new IllegalArgumentException(s"unknown wire workload $w")
    }
    val failures = new Failures
    val produceRtt = new Samples
    val e2e = new Samples
    val shareE2e = new Samples
    var fetches, emptyFetches, commits, attempted = 0L
    val fetchLog = mutable.ArrayBuffer.empty[(Int, Long, Int)]

    val conns = (0 until 4).map(i => new Wire.Conn(port, s"bench-$i"))
    // keep_last: the previous measured topic, deleted when the next round starts
    var kept: Option[String] = None

    /** One round on a fresh topic; `measured` = record samples. */
    def round(tag: String, requests: Int, measured: Boolean): Round = {
      val topic = s"bench-$tag"
      val ledger = new Ledger
      kept.foreach(t => require(conns(0).deleteTopic(t) == 0, s"delete $t failed"))
      kept = None
      require(conns(0).createTopic(topic, Partitions) == 0, s"create $topic failed")
      val t0 = System.nanoTime()
      var producedAt = 0L
      var consumedAt = 0L
      val doneTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      var userBytes = 0L
      def produceLoop(c: Wire.Conn, producer: Int, next: () => Int, recs: Int, parts: Int => Seq[Int]): Unit = {
        var i = next()
        while (i >= 0) {
          val now = System.currentTimeMillis()
          val vals = parts(i).map(p => p -> (0 until recs).map(j => record(seed, producer, i * Partitions + p, j)))
          val batches = vals.map { case (p, kvs) => p -> Wire.recordBatch(kvs.map { case (k, v) => (now, k, v) }) }
          val s = System.nanoTime()
          val res = c.produce(topic, batches)
          val e = System.nanoTime()
          synchronized { attempted += 1; userBytes += recs.toLong * (KeyBytes + ValueBytes) * vals.size }
          if (measured) produceRtt.add((e - s) / 1e6)
          if (res.map(_._1).sorted != vals.map(_._1).sorted) failures.add(s"produce $topic: partitions ${res.map(_._1)} answered")
          res.foreach { case (p, err, base) =>
            if (err != 0) failures.add(s"produce $topic/$p error $err")
            else vals.find(_._1 == p).foreach { case (_, vs) => ledger.ack(p, base, vs.map { case (k, v) => fnv(k, v) }.toArray) }
          }
          doneTimes.add(e)
          i = next()
        }
      }
      if (small) {
        // 4 connections share one request counter; request i goes to
        // partition i mod 8, so consecutive requests rotate partitions
        val ctr = new AtomicInteger(0)
        val next = () => { val i = ctr.getAndIncrement(); if (i < requests) i else -1 }
        val ts = conns.zipWithIndex.map { case (c, k) =>
          thread(s"producer-$k")(produceLoop(c, k, next, 10, i => Seq(i % Partitions)))
        }
        ts.foreach(_.join())
        producedAt = System.nanoTime()
        consumedAt = producedAt
      } else {
        // two producers, each request 1,000 records to every partition
        // (one produce request per partition batch set), plus a
        // fetch consumer and a share consumer following the log
        val perProducer = requests / 2
        val prodDone = new java.util.concurrent.CountDownLatch(2)
        // the loop closes through the consumers: a producer sends its
        // next request only while fewer than Window records are unread
        // by either consumer, so latency is not a backlog that grows
        // with the round
        val sent, readByConsumer, readByShare = new AtomicLong(0)
        def nextFor(ctr: AtomicInteger)(): Int = {
          while (sent.get - math.min(readByConsumer.get, readByShare.get) >= Window) Thread.sleep(1)
          val i = ctr.getAndIncrement()
          if (i < perProducer) { sent.addAndGet(1000L * Partitions); i } else -1
        }
        val producers = (0 until 2).map { k =>
          val ctr = new AtomicInteger(0)
          thread(s"producer-$k") {
            try produceLoop(conns(k), k, nextFor(ctr), 1000, _ => 0 until Partitions)
            finally prodDone.countDown()
          }
        }
        val expected = new java.util.concurrent.atomic.AtomicReference[Array[Array[Long]]](null)
        val settle = thread("settle") { prodDone.await(); producedAt = System.nanoTime(); expected.set(ledger.settle(failures)) }
        val total = perProducer.toLong * 2 * 1000 * Partitions
        val consumer = thread("consumer") {
          val c = conns(2)
          val pos = Array.fill(Partitions)(0L)
          val got = mutable.ArrayBuffer.empty[(Int, Wire.Rec, Long)]
          var n = 0L
          var lastCommit = System.nanoTime()
          while (n < total) {
            val res = c.fetch(topic, pos.indices.map(p => p -> pos(p)), 500, 8 << 20)
            val now = System.currentTimeMillis()
            var any = false
            res.foreach { case (p, (err, _, recs)) =>
              if (err != 0) failures.add(s"fetch $topic/$p error $err")
              val fresh = recs.filter(_.offset >= pos(p))
              if (fresh.nonEmpty) {
                any = true
                if (measured) fetchLog.synchronized(fetchLog += ((p, pos(p), fresh.size)))
                fresh.foreach { r => got += ((p, r, now)); if (measured) e2e.add((now - r.timestampMs).toDouble) }
                pos(p) = fresh.last.offset + 1
                n += fresh.size
                readByConsumer.set(n)
              }
            }
            synchronized { fetches += 1; if (!any) emptyFetches += 1; attempted += 1 }
            if (System.nanoTime() - lastCommit > 1e9) {
              val errs = c.commit(s"cg-$tag", topic, pos.indices.map(p => p -> pos(p)).toMap)
              synchronized { commits += 1; attempted += 1 }
              if (errs.exists(_ != 0)) failures.add(s"offset commit errors $errs")
              lastCommit = System.nanoTime()
            }
          }
          consumedAt = System.nanoTime()
          settle.join()
          val seen = new Seen(expected.get, failures, "consumer")
          got.foreach { case (p, r, _) => seen.see(p, r) }
          if (!seen.done) failures.add("consumer missed records")
        }
        val share = thread("share") {
          val c = conns(3)
          var (err, member, epoch, asg) = c.shareHeartbeat(s"sg-$tag", "", 0, topic)
          var tries = 0
          while (err == 0 && asg.forall(_.size < Partitions) && tries < 50) {
            Thread.sleep(20); tries += 1
            val r = c.shareHeartbeat(s"sg-$tag", member, epoch, topic)
            err = r._1; epoch = r._3; if (r._4.isDefined) asg = r._4
          }
          if (err != 0 || asg.forall(_.size < Partitions)) failures.add(s"share group join failed: error $err")
          val perPart = Array.fill(Partitions)(mutable.ArrayBuffer.empty[Wire.Rec])
          var acks = Map.empty[Int, Seq[(Long, Long)]]
          var n = 0L
          var sessionEpoch = 0
          var lastBeat = System.nanoTime()
          while (n < total && err == 0) {
            val res = c.shareFetch(s"sg-$tag", member, sessionEpoch, topic, 0 until Partitions, acks, 500)
            sessionEpoch += 1
            synchronized { attempted += 1 }
            val now = System.currentTimeMillis()
            acks = res.map { case (p, (e, recs, acq)) =>
              if (e != 0) failures.add(s"share fetch $topic/$p error $e")
              val acquired = acq.flatMap { case (f, l) => recs.filter(r => r.offset >= f && r.offset <= l) }
              acquired.foreach { r => perPart(p) += r; if (measured) shareE2e.add((now - r.timestampMs).toDouble) }
              n += acquired.size
              readByShare.set(n)
              p -> acq
            }.filter(_._2.nonEmpty)
            if (System.nanoTime() - lastBeat > 1e9) {
              val r = c.shareHeartbeat(s"sg-$tag", member, epoch, topic)
              if (r._1 != 0) failures.add(s"share heartbeat error ${r._1}")
              lastBeat = System.nanoTime()
            }
          }
          // the last acquired records are acknowledged with a final fetch
          if (acks.nonEmpty) c.shareFetch(s"sg-$tag", member, sessionEpoch, topic, 0 until Partitions, acks, 0)
          settle.join()
          val seen = new Seen(expected.get, failures, "share consumer")
          perPart.zipWithIndex.foreach { case (rs, p) => rs.sortBy(_.offset).foreach(seen.see(p, _)) }
          if (!seen.done) failures.add("share consumer missed records")
        }
        producers.foreach(_.join()); settle.join(); consumer.join(); share.join()
      }
      val t1 = System.nanoTime()
      if (small) {
        // read everything back once, two partitions per connection:
        // offsets contiguous, log end equal to the acked count, values
        // equal to what was sent
        val expect = ledger.settle(failures)
        val seen = new Seen(expect, failures, "read-back")
        conns.zipWithIndex.map { case (c, k) =>
          thread(s"read-back-$k") {
            val mine = (k until Partitions by conns.size).map(p => p -> 0L).toMap
            var pos = mine
            var tries = 0
            while (pos.exists { case (p, o) => o < expect(p).length } && tries < 100) {
              c.fetch(topic, pos.toSeq, 0, 8 << 20).foreach { case (p, (err, hw, recs)) =>
                if (err != 0) failures.add(s"read-back $topic/$p error $err")
                if (hw != expect(p).length) failures.add(s"partition $p log end $hw != acked ${expect(p).length}")
                recs.filter(_.offset >= pos(p)).foreach { r => seen.see(p, r); pos = pos.updated(p, r.offset + 1) }
              }
              tries += 1
            }
          }
        }.foreach(_.join())
        if (!seen.done) failures.add("read-back missed records")
      }
      if (keepLast && measured) kept = Some(topic)
      else require(conns(0).deleteTopic(topic) == 0, s"delete $topic failed")
      val done = doneTimes.asScala.map(_.longValue).toArray.sorted
      val fifth = math.max(1, done.length / 5)
      val decay =
        if (done.length < 10) 1.0
        else {
          val first = (done(fifth - 1) - t0).toDouble
          val last = (done.last - done(done.length - 1 - fifth)).toDouble
          first / last
        }
      val recs = if (small) requests * 10L else (requests / 2) * 2L * 1000 * Partitions
      new Round(recs, (t1 - t0) / 1e9, (producedAt - t0) / 1e9, (consumedAt - t0) / 1e9, decay,
        done.length, userBytes)
    }

    val requests = if (small) 200 else 6
    val setupStart = System.nanoTime()
    // a full round warms the broker's JIT before its CPU time is counted;
    // after a shorter one, the first measured round still ran about 15%
    // slower than the next ones
    round("warm", requests, measured = false)
    val warmS = (System.nanoTime() - setupStart) / 1e9
    // the caller marks the broker's measurement start, then says go
    println("WARM_DONE"); Console.flush()
    scala.io.StdIn.readLine()
    // at least two rounds, as in QueryRunner; three for produce_fetch,
    // whose rounds vary more from one to the next (producers and
    // long-polling consumers interleave differently each time)
    val minRounds = if (small) 2 else 3
    val rounds = mutable.ArrayBuffer.empty[Round]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lastTopic = ""
    do {
      lastTopic = s"bench-r${rounds.size}"
      rounds += round(s"r${rounds.size}", requests, measured = true)
    } while (System.nanoTime() < deadline || rounds.size < minRounds)
    conns.foreach(_.close())

    val rec = new Json
    rec.num("warm_s", warmS)
    rec.str("last_topic", lastTopic)
    rec.int("rounds", rounds.size)
    rec.int("attempted", attempted)
    rec.int("failed", failures.count)
    rec.strs("failures", failures.list)
    rec.num("work_s", Stats.median(rounds.map(_.wallS).toSeq))
    rec.obj("round_s", rounds.zipWithIndex.map { case (r, i) => s"r$i" -> r.wallS }.toSeq)
    rec.num("produce_rec_per_s", Stats.median(rounds.map(r => r.records / r.produceS).toSeq))
    rec.num("produce_p50_ms", produceRtt.pct(50))
    rec.num("produce_p99_ms", produceRtt.pct(99))
    rec.int("produce_samples", produceRtt.size)
    rec.num("topiclog.produce_decay", Stats.median(rounds.map(_.decay).toSeq))
    rec.int("last_round_requests", rounds.last.requests)
    rec.int("last_round_user_bytes", rounds.last.userBytes)
    if (!small) {
      rec.num("consume_rec_per_s", Stats.median(rounds.map(r => r.records / r.consumeS).toSeq))
      rec.num("e2e_p50_ms", e2e.pct(50))
      rec.num("e2e_p99_ms", e2e.pct(99))
      rec.int("e2e_samples", e2e.size)
      rec.num("share_e2e_p50_ms", shareE2e.pct(50))
      rec.num("share_e2e_p99_ms", shareE2e.pct(99))
      rec.int("share_e2e_samples", shareE2e.size)
      rec.num("broker.fetch_empty_frac", emptyFetches.toDouble / math.max(fetches, 1))
      rec.int("offset_commits", commits)
    }
    Files.writeString(Paths.get(opt("out")), rec.render())
    val fl = fetchLog.map { case (p, o, n) => s"$p $o $n" }.mkString("\n")
    Files.writeString(Paths.get(opt("out") + ".fetches"), fl)
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setUncaughtExceptionHandler((_, e) => { e.printStackTrace(); sys.exit(3) })
    t.start()
    t
  }
}

/** Thread-safe latency samples. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = synchronized { xs += v }
  def size: Int = synchronized(xs.size)
  def pct(p: Double): Double = synchronized { if (xs.isEmpty) Double.NaN else Stats.pct(xs.toSeq, p) }
}
