package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedDeque

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.streaming.{Broker, KafkaWire, TopicLog, WireServer}

/** Handler wall times, recorded only when tracing. */
final class Timings {
  private val xs = new ConcurrentLinkedDeque[Double]
  def time[T](on: Boolean)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally xs.add((System.nanoTime() - t0) / 1e6)
    }
  def clear(): Unit = xs.clear()
  def pct(p: Double): Double = if (xs.isEmpty) 0.0 else Stats.pct(xs.asScala.toSeq, p)
}

/** The broker with its three data-path handlers timed from outside. */
final class TimedBroker(spark: SparkSession, root: String, trace: Boolean)
    extends Broker(spark, root) {
  val produce, fetch, shareFetch = new Timings
  /** The most recent produce frames, replayed by the codec and
    * TopicLog legs of the report. */
  val produceFrames = new ConcurrentLinkedDeque[Array[Byte]]
  @volatile var tracing = false

  override def handleProduce(requestBytes: Array[Byte]): Array[Byte] = {
    if (tracing) {
      produceFrames.add(requestBytes)
      if (produceFrames.size > BrokerMain.MaxReplay) produceFrames.poll()
    }
    produce.time(tracing)(super.handleProduce(requestBytes))
  }
  override def handleFetch(requestBytes: Array[Byte]): Array[Byte] =
    fetch.time(tracing)(super.handleFetch(requestBytes))
  override def handleShareFetch(requestBytes: Array[Byte], host: String, port: Int): Array[Byte] =
    shareFetch.time(tracing)(super.handleShareFetch(requestBytes, host, port))
}

/** The broker process: a Spark session, a [[TimedBroker]] on a fresh
  * log root and a WireServer on an ephemeral port. Prints `READY <port>`
  * and then follows commands on stdin:
  *  - `mark`: measurement starts (clears timings, notes GC and CPU time);
  *  - `report <out> <topic> <requests> <user_bytes> <fetch_log>`: writes
  *    the broker-side record (and, when tracing, the replay legs over
  *    the kept topic) and exits.
  *
  * Usage: BrokerMain root=<dir> trace=0|1 local=<dir>
  */
object BrokerMain {
  val MaxReplay = 300

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val root = opt("root")
    val trace = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val broker = new TimedBroker(spark, root, trace)
    val server = new WireServer(broker).start()
    println(s"READY ${server.boundPort}")
    Console.flush()

    val in = new BufferedReader(new InputStreamReader(System.in))
    var gcAtMark = 0L
    var cpuAtMark, jitAtMark = 0.0
    var done = false
    while (!done) {
      val line = in.readLine()
      if (line == null) done = true
      else line.split(" ").toList match {
        case "mark" :: Nil =>
          Seq(broker.produce, broker.fetch, broker.shareFetch).foreach(_.clear())
          broker.produceFrames.clear()
          broker.tracing = trace
          gcAtMark = Jvm.gcMillis()
          cpuAtMark = Jvm.cpuSeconds()
          jitAtMark = Jvm.jitCpuSeconds()
          println("MARKED"); Console.flush()
        case "report" :: out :: topic :: requests :: userBytes :: fetchLog :: Nil =>
          broker.tracing = false
          val rec = new Json
          rec.num("cpu_s_total", Jvm.cpuSeconds() - cpuAtMark)
          rec.num("jit_cpu_s_total", Jvm.jitCpuSeconds() - jitAtMark)
          rec.num("jvm.gc_pause_ms", (Jvm.gcMillis() - gcAtMark).toDouble)
          if (trace) {
            rec.num("broker.produce_ms_p50", broker.produce.pct(50))
            rec.num("broker.produce_ms_p99", broker.produce.pct(99))
            rec.num("broker.fetch_ms_p50", broker.fetch.pct(50))
            rec.num("broker.share_fetch_ms_p50", broker.shareFetch.pct(50))
            new Replay(spark, root, broker).run(rec, topic, requests.toInt, userBytes.toLong,
              Paths.get(fetchLog))
          }
          rec.num("heap_live_mb", Jvm.liveHeapMb())
          Files.writeString(Paths.get(out), rec.render())
          println("REPORTED"); Console.flush()
          done = true
        case other => System.err.println(s"unknown command: ${other.mkString(" ")}")
      }
    }
    server.close()
    spark.stop()
    sys.exit(0) // no lingering non-daemon thread may keep the process alive
  }
}

/** The traced run's replay legs: graft's own codecs and TopicLog calls,
  * timed on the request shapes and fetch positions the run recorded. */
final class Replay(spark: SparkSession, root: String, broker: TimedBroker) {
  private def msP50(f: () => Unit, n: Int): Double =
    Stats.median((1 to n).map { _ => val t = System.nanoTime(); f(); (System.nanoTime() - t) / 1e6 })

  private def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else { val s = Files.walk(dir); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }

  /** [min, max] of a data file's offset column, from its footer. */
  private def offsetRange(file: Path): (Long, Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val st = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "offset").map(_.getStatistics)
      (st.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        st.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
    } finally r.close()
  }

  def run(rec: Json, topic: String, requests: Int, userBytes: Long, fetchLog: Path): Unit = {
    // KafkaWire produce decode, on the recorded frames
    val frames = broker.produceFrames.asScala.toSeq
    val decoded = frames.map(KafkaWire.decodeProduceRequest)
    val recsPerPass = decoded.map(_.topics.flatMap(_._2).flatMap(_._2).map(_.records.size).sum).sum
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < 3e8.toLong) { frames.foreach(KafkaWire.decodeProduceRequest); passes += 1 }
    rec.num("kafkawire.produce_decode_us_per_rec", (System.nanoTime() - t0) / 1e3 / (passes.toDouble * recsPerPass))

    // TopicLog.produceDirect on a fresh topic, one call per recorded request
    val replay = TopicLog.create(spark, root, "bench-replay", LoadGen.Partitions)
    val rows = decoded.map(_.topics.flatMap(_._2).flatMap { case (p, batches) =>
      batches.flatMap(_.records).map(r => (p, r.key, r.value, Map.empty[String, Array[Byte]], r.timestampMs))
    })
    val produceMs = rows.zipWithIndex.map { case (rs, i) =>
      val t = System.nanoTime()
      replay.produceDirect(rs)
      val ms = (System.nanoTime() - t) / 1e6
      if (i == 0) rec.num("topiclog.end_offsets_ms_start", msP50(() => replay.logEndOffsets(), 5))
      ms
    }
    rec.num("topiclog.produce_direct_ms_p50", Stats.median(produceMs))
    rec.num("topiclog.end_offsets_ms_end", msP50(() => replay.logEndOffsets(), 5))

    // the run's own last topic: files, manifest versions, bytes on disk
    val log = TopicLog.open(spark, root, topic)
    val data = filesUnder(Paths.get(log.dataDir)).filter(_.toString.endsWith(".parquet"))
    rec.num("topiclog.files_per_request", data.size.toDouble / requests)
    rec.num("topiclog.manifest_versions", log.manifestVersions().size.toDouble)
    rec.num("topiclog.bytes_per_user_byte",
      filesUnder(Paths.get(log.topicDir)).map(Files.size).sum.toDouble / userBytes)

    // consumeDirect + fetch encode at the consumer's recorded positions
    val fetches = Files.readAllLines(fetchLog).asScala.filter(_.nonEmpty)
      .map(_.split(" ")).map(a => (a(0).toInt, a(1).toLong, a(2).toInt)).take(BrokerMain.MaxReplay).toSeq
    if (fetches.nonEmpty) {
      val ranges = data.map { f =>
        val part = f.getParent.getFileName.toString.stripPrefix("partition=").toInt
        (part, offsetRange(f))
      }
      rec.num("topiclog.files_per_fetch", fetches.map { case (p, off, n) =>
        ranges.count { case (q, (lo, hi)) => q == p && hi >= off && lo <= off + n - 1 }.toDouble
      }.sum / fetches.size)
      val read = fetches.map { case (p, off, n) =>
        val t = System.nanoTime()
        val rs = log.consumeForWire(p, off, n)
        ((System.nanoTime() - t) / 1e6, p, rs)
      }
      rec.num("topiclog.consume_direct_ms_p50", Stats.median(read.map(_._1)))
      val shaped = read.map { case (_, p, rs) =>
        Seq((topic, Seq((p, 0, rs.last.offset + 1,
          rs.map(r => (r.offset, KafkaWire.WireRecordV2(r.timestampMs, r.key, r.value, r.headers)))))))
      }
      val nRecs = read.map(_._3.size).sum
      var encPasses = 0
      val e0 = System.nanoTime()
      while (encPasses < 3 || System.nanoTime() - e0 < 3e8.toLong) {
        shaped.foreach(t => KafkaWire.encodeFetchResponse(12, 1, t)); encPasses += 1
      }
      rec.num("kafkawire.fetch_encode_us_per_rec", (System.nanoTime() - e0) / 1e3 / (encPasses.toDouble * nRecs))
    } else Seq("topiclog.files_per_fetch", "topiclog.consume_direct_ms_p50",
        "kafkawire.fetch_encode_us_per_rec").foreach(rec.num(_, 0.0))
    broker.deleteTopic(topic)
    broker.deleteTopic("bench-replay")
  }
}
