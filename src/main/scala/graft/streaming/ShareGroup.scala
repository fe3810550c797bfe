package graft.streaming

import java.nio.file.Paths
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** KIP-932 share-group (queue) semantics over a [[TopicLog]] — the
  * Kafka 4.x "Queues for Kafka" consumption model the reference's
  * roadmap category implies (ref README.md:47–50): unlike a classic
  * consumer group (partition-exclusive ownership, one consumer per
  * partition), a share group hands out RECORDS under short acquisition
  * locks, so any number of consumers drain one partition
  * cooperatively, with per-record acknowledgement, redelivery, and a
  * bounded delivery-attempt budget.
  *
  * The per-record state machine is KIP-932's:
  *
  *   Available --acquire--> Acquired --accept--> Acked (terminal)
  *                            |  \----reject--> Archived (terminal)
  *                            \---release / lock-expiry--> Available
  *
  *  - `acquire` hands out the earliest Available records, bumps each
  *    record's delivery count, and locks them until `now +
  *    acquisitionLockMs`; a record whose delivery count has exhausted
  *    `maxDeliveryAttempts` is ARCHIVED instead of redelivered (the
  *    poison-message guard).
  *  - Lock expiry is lazy, on any group access (the engine's
  *    no-background-threads contract, SURVEY §4): an expired lock
  *    returns the record to Available with its count kept.
  *  - The share-partition start offset (SPSO) advances past records
  *    in a terminal state, exactly like Kafka's; the in-flight window
  *    is capped at `maxInFlightRecords` past the SPSO, which BOUNDS
  *    every state map (the delivery window is metadata a real broker
  *    also holds in memory — same class as fetch-session state).
  *  - Every operation that changes state write-throughs a full-state
  *    snapshot (`<topicDir>/_share/<group>/v{N}.json`, the
  *    TxnStore/manifest hard-link CAS), so acquisition locks, delivery
  *    counts, and the SPSO survive a restart: a reopened group
  *    redelivers exactly the un-acked records, never the acked ones.
  *    An operation that changes nothing (a long-poll retry on a
  *    caught-up partition) writes nothing.
  *
  * Time is an explicit `now` parameter throughout (the coordinator
  * idiom): deterministic, testable, and replayable.
  */
final class ShareGroup(log: TopicLog, val groupId: String,
    val maxDeliveryAttempts: Int = 5,
    val acquisitionLockMs: Long = 30000L,
    val maxInFlightRecords: Int = 200,
    /** `share.auto.offset.reset`: where a group with NO durable state
      * begins. false = earliest (offset 0 — graft's default: an
      * embedded drain wants the whole log), true = latest (each
      * SPSO starts at the log end, only records produced after the
      * group's creation deliver — Kafka's share-group default). A
      * reopened group ignores this; its snapshot is the truth. */
    val startAtLatest: Boolean = false) {

  import ShareGroup._

  /** offset → (lockExpiryMs, deliveryCount, holder) — the holder is
    * the acquiring consumer's id (KIP-932 binds acquisition to the
    * share session): an acknowledgement from anyone else fails that
    * offset in-band, so a consumer whose lock lapsed and whose record
    * was re-acquired elsewhere can never ack over the new holder. */
  private val acquired =
    Array.fill(log.numPartitions)(mutable.Map.empty[Long, (Long, Int, String)])
  /** offsets returned to Available with a nonzero delivery count */
  private val available =
    Array.fill(log.numPartitions)(mutable.Map.empty[Long, Int])
  /** terminal states not yet passed by the SPSO: 'a' acked, 'x' archived */
  private val terminal =
    Array.fill(log.numPartitions)(mutable.Map.empty[Long, Char])
  private val spso = Array.fill(log.numPartitions)(0L)
  /** Per partition, a lower bound on the earliest lock expiry among
    * its acquired offsets: no lock lapses before it, so lock expiry
    * skips its scan until then. Long.MinValue = unknown (scan). */
  private val expiryBound = Array.fill(log.numPartitions)(Long.MinValue)
  private var version = 0L

  private val stateDir = new VersionedDir(Paths.get(log.topicDir, "_share",
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      groupId.getBytes("UTF-8"))))

  // reload the newest snapshot — a reopened group continues exactly;
  // a FRESH group honors share.auto.offset.reset (latest = SPSOs at
  // the log end as of creation, persisted immediately so the choice
  // is durable and a restart can't re-run the reset over new data)
  stateDir.readLatest(ShareStore.parse) match {
    case Some((v, st)) =>
      version = v
      st.foreach { p =>
        if (log.hasPartition(p.partition)) {
          spso(p.partition) = p.spso
          acquired(p.partition) ++= p.acquired
          available(p.partition) ++= p.available
          terminal(p.partition) ++= p.terminal
        }
      }
    case None if startAtLatest =>
      val ends = log.logEndOffsets()
      (0 until log.numPartitions).foreach { p =>
        spso(p) = ends.getOrElse(p, 0L)
      }
      persist()
    case None => ()
  }

  /** Inside [[batched]], mutations mark dirty instead of snapshotting;
    * one snapshot covers the whole unit on exit. */
  private var deferPersist = false
  private var dirtyDeferred = false

  /** Run several mutations as ONE durability unit — a single CAS
    * snapshot covers them all (the per-request persistence a broker
    * applies to share state: a ShareFetch's acknowledgements and
    * acquisitions across every partition land as one write, not one
    * per operation). Reentrant on the group's own monitor; keep the
    * body to METADATA mutations — holding the monitor across a data
    * read would convoy other consumers. */
  def batched[T](f: => T): T = synchronized {
    if (deferPersist) f // nested: the outer unit owns the snapshot
    else {
      deferPersist = true
      try f finally {
        deferPersist = false
        if (dirtyDeferred) { dirtyDeferred = false; persist() }
      }
    }
  }

  private def persist(): Unit = {
    if (deferPersist) { dirtyDeferred = true; return }
    version += 1
    val body = ShareStore.render(version, log.numPartitions, i =>
      ShareStore.PState(i, spso(i), acquired(i), available(i), terminal(i)))
    try {
      stateDir.link(version, body)
      // each snapshot is FULL state, so only the newest matters; keep
      // a one-version window behind it (a reader resolving the old max
      // mid-commit) and drop the rest — without this a long-running
      // group leaks one file per acquire/acknowledge forever
      stateDir.prune(version - 1)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // a second live writer claimed this version: the share-group
        // state machine is single-writer per (topic, group) — record
        // states can't be merged after the fact, so fail LOUDLY
        // rather than silently fork the delivery history
        throw new IllegalStateException(
          s"concurrent ShareGroup writer for group '$groupId' " +
            s"(version $version already committed) — one broker owns " +
            "a share group's delivery state, as in KIP-932")
    }
  }

  /** Lazy lock expiry: an expired acquisition returns to Available
    * (count kept); exhausted counts archive right away. The scan of
    * the partition's acquired offsets runs only once `now` reaches
    * [[expiryBound]], and leaves the bound at the earliest lock that
    * stays. */
  private def expireLocks(p: Int, now: Long): Boolean = {
    if (now < expiryBound(p)) return advanceSpso(p)
    val dead = mutable.ArrayBuffer.empty[Long]
    var earliest = Long.MaxValue
    acquired(p).foreach { case (off, (exp, _, _)) =>
      if (exp <= now) dead += off else earliest = math.min(earliest, exp)
    }
    expiryBound(p) = earliest
    dead.foreach { off =>
      val dc = acquired(p)(off)._2
      acquired(p).remove(off)
      if (dc >= maxDeliveryAttempts) terminal(p)(off) = 'x'
      else available(p)(off) = dc
    }
    advanceSpso(p) | dead.nonEmpty
  }

  /** Moves the SPSO past terminal records; true when it moved. */
  private def advanceSpso(p: Int): Boolean = {
    val from = spso(p)
    while (terminal(p).contains(spso(p))) {
      terminal(p).remove(spso(p))
      spso(p) += 1
    }
    spso(p) != from
  }

  /** Acquire up to `maxRecords` of the earliest Available records in
    * the partition: locked until `now + acquisitionLockMs`, delivery
    * counts bumped; records that have exhausted their attempts are
    * archived in passing (and never returned). The scan is bounded by
    * the in-flight window, so state stays O(maxInFlightRecords). */
  def acquire(partition: Int, maxRecords: Int, now: Long,
      consumerId: String = ""): Seq[AcquiredRecord] =
    acquireBelow(partition, log.logEndOffsets().getOrElse(partition, 0L),
      maxRecords, now, consumerId)

  /** [[acquire]] below `end`, the partition's log end in the manifest
    * the caller will read the acquired records from. The end must come
    * from that same manifest: an end resolved later can acquire records
    * an older manifest does not hold, and a reader that finds no
    * record for an acquired offset archives it as a hole. */
  def acquireBelow(partition: Int, end: Long, maxRecords: Int, now: Long,
      consumerId: String): Seq[AcquiredRecord] = synchronized {
    val p = partition
    var changed = expireLocks(p, now)
    val windowEnd = math.min(end, spso(p) + maxInFlightRecords)
    val out = Seq.newBuilder[AcquiredRecord]
    var got = 0
    var off = spso(p)
    while (off < windowEnd && got < maxRecords) {
      if (!acquired(p).contains(off) && !terminal(p).contains(off)) {
        val dc = available(p).getOrElse(off, 0)
        if (dc >= maxDeliveryAttempts) { // poison: archive, skip
          available(p).remove(off)
          terminal(p)(off) = 'x'
          changed = true
        } else {
          available(p).remove(off)
          acquired(p)(off) = (now + acquisitionLockMs, dc + 1, consumerId)
          expiryBound(p) = math.min(expiryBound(p), now + acquisitionLockMs)
          out += AcquiredRecord(off, dc + 1, now + acquisitionLockMs)
          got += 1
        }
      }
      off += 1
    }
    if (advanceSpso(p) | changed | got > 0) persist()
    out.result()
  }

  /** Per-record acknowledgement of ACQUIRED records: `Accept` → acked
    * (terminal), `Release` → available for redelivery, `Reject` →
    * archived (terminal). Returns per-offset success; acknowledging a
    * record that is not currently acquired (never acquired, lock
    * expired, already terminal) fails that offset alone — KIP-932's
    * INVALID_RECORD_STATE, in-band per record. */
  def acknowledge(partition: Int, acks: Seq[(Long, AckType)],
      now: Long, consumerId: String = ""): Seq[(Long, Boolean)] = synchronized {
    val results = Seq.newBuilder[(Long, Boolean)]
    ackRanges(partition, acks.map { case (off, ack) =>
      (off, off, (_: Long) => ack) }, now, consumerId)(
      (off, ok) => results += off -> ok)
    results.result()
  }

  /** [[acknowledge]] over offset RANGES: each `(first, last, ackAt)`
    * acknowledges offsets first..last, offset `o` as `ackAt(o)` — the
    * wire's acknowledgement batches, applied without a per-offset
    * list. Returns how many offsets failed. */
  def acknowledgeRanges(partition: Int,
      ranges: Seq[(Long, Long, Long => AckType)], now: Long,
      consumerId: String = ""): Long = synchronized {
    var failed = 0L
    ackRanges(partition, ranges, now, consumerId)((_, ok) =>
      if (!ok) failed += 1)
    failed
  }

  /** The one acknowledgement pass both entry points share: expire
    * lapsed locks, apply every range in order (each offset's outcome
    * to `result`), advance the SPSO, and persist only when something
    * changed. */
  private def ackRanges(p: Int, ranges: Seq[(Long, Long, Long => AckType)],
      now: Long, consumerId: String)(result: (Long, Boolean) => Unit)
      : Unit = {
    var changed = expireLocks(p, now)
    ranges.foreach { case (first, last, ackAt) =>
      var off = first
      while (off <= last) {
        val ok = ackOne(p, off, ackAt(off), consumerId)
        changed |= ok
        result(off, ok)
        off += 1
      }
    }
    if (advanceSpso(p) | changed) persist()
  }

  /** One acknowledgement; false unless `off` is acquired by
    * `consumerId` (never acquired, lapsed and re-acquired elsewhere,
    * or terminal). */
  private def ackOne(p: Int, off: Long, ack: AckType,
      consumerId: String): Boolean =
    acquired(p).get(off) match {
      case Some((_, dc, holder)) if holder == consumerId =>
        acquired(p).remove(off)
        ack match {
          case Accept => terminal(p)(off) = 'a'
          case Reject => terminal(p)(off) = 'x'
          case Release =>
            if (dc >= maxDeliveryAttempts) terminal(p)(off) = 'x'
            else available(p)(off) = dc
        }
        true
      case _ => false
    }

  /** The data for a set of acquired offsets — partition-pruned,
    * range-bounded read of the backing log. Acquisitions are almost
    * always a CONTIGUOUS run (the earliest-Available scan hands them
    * out in order), and a contiguous run needs only the [lo, hi]
    * range bound — no per-offset membership predicate, so the plan
    * stays O(1) in the batch size instead of compiling a
    * batch-length IN list. Sparse sets (redelivery mixes) keep the
    * exact membership filter on top of the range. */
  def records(partition: Int, offsets: Seq[Long]): DataFrame = {
    val lo = offsets.minOption.getOrElse(0L)
    val hi = offsets.maxOption.getOrElse(-1L)
    val base = log.consume(partition, lo,
      maxRecords = math.min(math.max(0L, hi - lo + 1), Int.MaxValue).toInt)
      .filter(col("offset") <= hi)
    if (offsets.nonEmpty && hi - lo + 1 == offsets.distinct.size) base
    else base.filter(col("offset").isInCollection(offsets))
  }

  /** At-least-once processing loop over a partition: acquire a
    * batch, hand its records to `process`, ACCEPT on success /
    * RELEASE on failure (then rethrow — the caller's retry loop
    * re-drains, redelivery counts climb, and a poison batch's
    * records eventually hit the delivery budget and archive instead
    * of looping forever). Returns the number of records accepted.
    * Time advances one tick per batch from the caller's `now` — the
    * loop stays deterministic and replayable like everything else. */
  def drain(partition: Int, batchSize: Int, now: Long,
      consumerId: String = "")(process: DataFrame => Unit): Long = {
    var accepted = 0L
    var tick = now
    var batch = acquire(partition, batchSize, tick, consumerId)
    while (batch.nonEmpty) {
      val offs = batch.map(_.offset)
      try process(records(partition, offs))
      catch {
        case e: Throwable =>
          acknowledge(partition, offs.map(_ -> (Release: AckType)), tick,
            consumerId)
          throw e
      }
      // count only acks that LANDED: a lock that lapsed mid-process
      // and was re-acquired elsewhere fails its offset in-band, and
      // that record is the other consumer's to accept, not ours
      accepted += acknowledge(partition, offs.map(_ -> (Accept: AckType)),
        tick, consumerId).count(_._2)
      tick += 1
      batch = acquire(partition, batchSize, tick, consumerId)
    }
    accepted
  }

  /** Share-partition start offset: everything below is terminal. */
  def startOffset(partition: Int): Long = synchronized { spso(partition) }

  /** Reset the partition's SPSO to `offset` and DISCARD all delivery
    * state behind the new position — acquisition locks, redelivery
    * counts, unpassed terminal marks (the
    * `kafka-share-groups.sh --reset-offsets` semantics: the caller
    * has already established the group is empty, so no live lock is
    * being yanked). Clamped to [0, log end]; persists like any other
    * mutation, so the reset survives a restart. Returns the offset
    * that landed. */
  def resetStartOffset(partition: Int, offset: Long): Long = synchronized {
    val end = log.logEndOffsets().getOrElse(partition, 0L)
    val target = math.max(0L, math.min(offset, end))
    spso(partition) = target
    acquired(partition).clear()
    available(partition).clear()
    terminal(partition).clear()
    persist()
    target
  }

  /** (spso, in-flight acquired, redeliverable, terminal-not-yet-passed). */
  def stats(partition: Int, now: Long): (Long, Int, Int, Int) = synchronized {
    expireLocks(partition, now)
    (spso(partition), acquired(partition).size, available(partition).size,
      terminal(partition).size)
  }
}

object ShareGroup {
  /** One acquisition: the record's offset, its delivery count AFTER
    * this acquisition, and when the lock lapses. */
  case class AcquiredRecord(offset: Long, deliveryCount: Int,
      lockExpiresAt: Long)

  sealed trait AckType
  /** Processed successfully — terminal. */
  case object Accept extends AckType
  /** Not processed; make it available for redelivery. */
  case object Release extends AckType
  /** Poison/unprocessable — archive without redelivery. */
  case object Reject extends AckType
}

/** The codec of [[ShareGroup]]'s full-state snapshots, linked into a
  * [[VersionedDir]]. All-numeric payload
  * (offsets, expiries, counts, 'a'/'x' flags), rendered per
  * partition as compact colon/semicolon strings.
  *
  * Each state list is a run list: consecutive offsets with equal
  * values render as one `first-last:<value>` entry (acquired
  * `first-last:expiry:count:holder`, available `first-last:count`,
  * terminal `first-last:flag`), so a snapshot costs O(runs), not
  * O(records in flight). A one-offset run renders as `offset:<value>`,
  * the per-offset form earlier snapshots hold throughout, so those
  * still load. */
private[streaming] object ShareStore {

  /** One partition's state, one map entry per offset. */
  case class PState(partition: Int, spso: Long,
      acquired: collection.Map[Long, (Long, Int, String)],
      available: collection.Map[Long, Int],
      terminal: collection.Map[Long, Char])

  // consumer ids are caller-chosen strings: base64-armored in the
  // snapshot (the TxnStore idiom) so the regex parser never meets a
  // delimiter inside a value
  private def b64(s: String): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(Base64.getUrlDecoder.decode(s), "UTF-8")

  /** `m` as `;`-separated runs in offset order, each value written by
    * `value`. */
  private def renderRuns[V](sb: StringBuilder, m: collection.Map[Long, V],
      value: V => String): Unit = {
    val offs = m.keysIterator.toArray
    java.util.Arrays.sort(offs)
    var i = 0
    while (i < offs.length) {
      val v = m(offs(i))
      var j = i
      while (j + 1 < offs.length && offs(j + 1) == offs(j) + 1 &&
          m(offs(j + 1)) == v) j += 1
      if (i > 0) sb += ';'
      sb.append(offs(i))
      if (j > i) sb.append('-').append(offs(j))
      sb.append(':').append(value(v))
      i = j + 1
    }
  }

  private[streaming] def render(version: Long, nPartitions: Int,
      state: Int => PState): String = {
    val sb = new StringBuilder(s"""{"version":$version,"partitions":[""")
    (0 until nPartitions).foreach { i =>
      val p = state(i)
      if (i > 0) sb += ','
      sb.append(s"""{"p":${p.partition},"spso":${p.spso},"acq":"""")
      renderRuns[(Long, Int, String)](sb, p.acquired,
        { case (e, d, h) => s"$e:$d:${b64(h)}" })
      sb.append("\",\"avail\":\"")
      renderRuns[Int](sb, p.available, _.toString)
      sb.append("\",\"term\":\"")
      renderRuns[Char](sb, p.terminal, _.toString)
      sb.append("\"}")
    }
    sb.append("]}").toString
  }

  private val PartRe =
    ("""\{"p":(\d+),"spso":(\d+),"acq":"([^"]*)","avail":"([^"]*)",""" +
      """"term":"([^"]*)"\}""").r

  /** A run list expanded to one entry per offset, each run's value
    * parsed from its fields after the offsets by `value`. */
  private def parseRuns[V](list: String)(value: Array[String] => V)
      : Map[Long, V] =
    list.split(';').iterator.filter(_.nonEmpty).flatMap { t =>
      val f = t.split(':')
      val v = value(f.tail)
      val dash = f(0).indexOf('-')
      val (lo, hi) =
        if (dash < 0) (f(0).toLong, f(0).toLong)
        else (f(0).take(dash).toLong, f(0).drop(dash + 1).toLong)
      (lo to hi).iterator.map(_ -> v)
    }.toMap

  private[streaming] def parse(s: String): Seq[PState] =
    PartRe.findAllMatchIn(s).map { m =>
      val acq = parseRuns(m.group(3)) {
        case Array(e, d, h) => (e.toLong, d.toInt, unb64(h))
        case Array(e, d) => (e.toLong, d.toInt, "")
      }
      val av = parseRuns(m.group(4))(f => f(0).toInt)
      val tm = parseRuns(m.group(5))(f => f(0).head)
      PState(m.group(1).toInt, m.group(2).toLong, acq, av, tm)
    }.toSeq
}
