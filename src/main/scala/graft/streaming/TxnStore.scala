package graft.streaming

import java.util.Base64

/** Durable snapshot of the transaction coordinator — what makes
  * read_committed semantics survive a broker restart (SURVEY §4).
  *
  * Kafka persists this state in the __transaction_state log plus
  * per-segment .txnindex files; graft's analog is a [[VersionedDir]],
  * as for the topic manifest: each coordinator mutation renders the
  * FULL state (bounded: MaxTxnStates transactions,
  * MaxAbortedRangesPerPartition ranges per partition — both
  * LRU/pruned) and links it as
  * `_txn/v{N}.json` under the log root. Readers resolve the max
  * version; the link is atomic, so a crash can never expose a torn
  * snapshot. A restarted broker reloads: aborted ranges keep
  * filtering, open-transaction first offsets keep capping the LSO,
  * epoch fencing keeps fencing, and the pid counter never re-issues
  * a pid (the high-water mark rides every snapshot).
  *
  * Single-writer by design: one broker process owns a transactional
  * pid space, exactly as one Kafka coordinator owns a transactional
  * id — the CAS exists for atomicity and for honest failure if two
  * brokers are ever misconfigured over one root (the loser re-reads
  * and re-renders, latest state wins; there is no disjoint-writer
  * merge to do, unlike the data manifest).
  *
  * Arbitrary strings (transactional ids, group ids, offset metadata,
  * topic names) are base64-armored so the hand-rolled regex parser —
  * the same idiom as TopicLog.parseVersion — never meets a quote or
  * delimiter inside a value. */
private[streaming] object TxnStore {

  /** One transactional id's coordinator state, as persisted. */
  case class PersistedTxn(id: String, pid: Long, epoch: Int, open: Boolean,
      partitions: Seq[(String, Int)],
      firstOffsets: Map[(String, Int), Long],
      lastOffsets: Map[(String, Int), Long],
      pendingOffsets: Map[String, Map[(String, Int), (Long, String)]])

  /** The full coordinator snapshot: pid high-water mark, every
    * remembered transactional id (LRU order preserved — the sequence
    * IS the recency order), and the per-partition aborted ranges. */
  case class State(nextPid: Long, txns: Seq[PersistedTxn],
      aborted: Map[(String, Int), Seq[(Long, Long)]])

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), "UTF-8")

  private def tpKey(tp: (String, Int)): String = s"${b64(tp._1)}:${tp._2}"
  private def parseTp(s: String): (String, Int) = {
    val i = s.lastIndexOf(':')
    (unb64(s.substring(0, i)), s.substring(i + 1).toInt)
  }

  private[streaming] def render(version: Long, st: State): String = {
    val txns = st.txns.map { t =>
      val parts = t.partitions.map(tpKey).mkString(",")
      val first = t.firstOffsets.toSeq.sortBy(_._1)
        .map { case (tp, o) => s"${tpKey(tp)}=$o" }.mkString(",")
      val last = t.lastOffsets.toSeq.sortBy(_._1)
        .map { case (tp, o) => s"${tpKey(tp)}=$o" }.mkString(",")
      val pending = t.pendingOffsets.toSeq.sortBy(_._1).flatMap {
        case (g, m) => m.toSeq.sortBy(_._1).map { case (tp, (off, meta)) =>
          s"${b64(g)}|${b64(tp._1)}|${tp._2}|$off|${b64(meta)}"
        }
      }.mkString(";")
      s"""{"id":"${b64(t.id)}","pid":${t.pid},"epoch":${t.epoch},""" +
        s""""open":${t.open},"parts":"$parts","first":"$first",""" +
        s""""last":"$last","pending":"$pending"}"""
    }.mkString(",")
    val aborted = st.aborted.toSeq.sortBy(_._1).map { case (tp, ranges) =>
      s""""${tpKey(tp)}":"${ranges.map(r => s"${r._1},${r._2}").mkString(";")}""""
    }.mkString(",")
    s"""{"version":$version,"nextPid":${st.nextPid},""" +
      s""""txns":[$txns],"aborted":{$aborted}}"""
  }

  private val TxnRe =
    ("""\{"id":"([^"]*)","pid":(\d+),"epoch":(-?\d+),"open":(true|false),""" +
      """"parts":"([^"]*)","first":"([^"]*)","last":"([^"]*)",""" +
      """"pending":"([^"]*)"\}""").r

  private[streaming] def parse(s: String): State = {
    val nextPid = "\"nextPid\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(0L)
    val txnsBlock = "\"txns\":\\[([\\s\\S]*?)\\]".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    val txns = TxnRe.findAllMatchIn(txnsBlock).map { m =>
      def kvs(block: String): Map[(String, Int), Long] =
        if (block.isEmpty) Map.empty
        else block.split(',').map { e =>
          val i = e.lastIndexOf('=')
          parseTp(e.substring(0, i)) -> e.substring(i + 1).toLong
        }.toMap
      val pending = {
        val entries = if (m.group(8).isEmpty) Seq.empty
          else m.group(8).split(';').toSeq.map { e =>
            // limit -1: an empty metadata b64 is a trailing empty field
            val Array(g, t, p, off, meta) = e.split("\\|", -1)
            (unb64(g), (unb64(t), p.toInt), off.toLong,
              if (meta.isEmpty) "" else unb64(meta))
          }
        entries.groupBy(_._1).map { case (g, es) =>
          g -> es.map { case (_, tp, off, meta) => tp -> ((off, meta)) }.toMap
        }
      }
      PersistedTxn(unb64(m.group(1)), m.group(2).toLong, m.group(3).toInt,
        m.group(4) == "true",
        if (m.group(5).isEmpty) Seq.empty
        else m.group(5).split(',').toSeq.map(parseTp),
        kvs(m.group(6)), kvs(m.group(7)), pending)
    }.toSeq
    val abortedBlock = "\"aborted\":\\{([^}]*)\\}".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    val aborted = "\"([^\"]+)\":\"([^\"]*)\"".r.findAllMatchIn(abortedBlock)
      .map { m =>
        val ranges = if (m.group(2).isEmpty) Seq.empty[(Long, Long)]
          else m.group(2).split(';').toSeq.map { r =>
            val Array(a, b) = r.split(','); (a.toLong, b.toLong)
          }
        parseTp(m.group(1)) -> ranges
      }.toMap
    State(nextPid, txns, aborted)
  }
}
