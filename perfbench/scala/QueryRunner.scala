package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Runs a list of `graft.SparkEntry.queries` in one Spark session and
  * writes one JSON record of timings, output digests and, when traced,
  * the per-layer numbers the [[Layers]] listeners gathered.
  *
  * Every execution (warm and timed) consumes the query's full output
  * through an order-insensitive digest — row count plus the sum of
  * `xxhash64` over every column — and compares it with the committed
  * reference, so a pass is both measured and checked.
  *
  * Usage: QueryRunner data=<dir> queries=a,b,c seconds=<s> trace=0|1
  *        refs=<file of name=count:sum lines> out=<file> local=<dir>
  */
object QueryRunner {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val refs = Files.readString(Paths.get(opt("refs"))).split("\n")
      .filter(l => l.contains("=") && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1).trim }.toMap
    val cpus = Runtime.getRuntime.availableProcessors().toString

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
    if (trace) builder.config("spark.sql.queryExecutionListeners", classOf[PlanningListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val layers = if (trace) Some(new Layers(spark.sparkContext)) else None

    val mismatches = mutable.ArrayBuffer.empty[String]
    def runChecked(name: String): Double = {
      val t0 = System.nanoTime()
      val got = try digest(graft.SparkEntry.queries(name)(spark, data)) catch {
        case e: Throwable => s"error:${e.getClass.getSimpleName}:${e.getMessage}".take(200)
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (!refs.get(name).contains(got)) mismatches += s"$name got=$got want=${refs.getOrElse(name, "none")}"
      s
    }

    // set-up: JVM start → session → one warm execution of every query
    // (GraftCaches builds, topic materialization, JIT)
    val warm = names.map(runChecked)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val gcBefore = Jvm.gcMillis()
    val cpuBefore = Jvm.cpuSeconds()
    val jitBefore = Jvm.jitCpuSeconds()
    layers.foreach(_.reset())
    val passStart = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[Seq[Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // at least two passes, so that a pass's share of leftover JIT work
    // does not depend on whether one pass fits in `seconds`
    do passes += names.map(runChecked) while (System.nanoTime() < deadline || passes.size < 2)
    val passEnd = System.currentTimeMillis()
    val gcMs = Jvm.gcMillis() - gcBefore
    val cpuS = Jvm.cpuSeconds() - cpuBefore
    val jitS = Jvm.jitCpuSeconds() - jitBefore

    val perQuery = names.indices.map(i => Stats.median(passes.map(_(i)).toSeq))
    val totals = passes.map(_.sum).toSeq
    val rec = new Json
    rec.num("setup_s", setupS)
    rec.num("query_total_s", Stats.median(totals))
    rec.num("cpu_s", cpuS / passes.size)
    rec.num("jit_cpu_s", jitS / passes.size)
    rec.num("query_geomean_s", math.exp(perQuery.map(math.log).sum / perQuery.size))
    rec.num("query_p50_ms", Stats.pct(perQuery, 50) * 1e3)
    rec.num("query_max_ms", perQuery.max * 1e3)
    rec.int("passes", passes.size)
    rec.int("n_queries_run", names.size * (passes.size + 1))
    rec.int("attempted", names.size * (passes.size + 1))
    rec.int("failed", mismatches.size)
    rec.strs("mismatches", mismatches.toSeq)
    rec.obj("per_query_s", names.zip(perQuery))
    rec.obj("warm_s", names.zip(warm))
    rec.num("jvm.gc_pause_ms", gcMs.toDouble / passes.size)
    layers.foreach { l =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      l.report(rec, passStart, passEnd, passes.size, cpus.toInt)
    }
    rec.num("heap_live_mb", Jvm.liveHeapMb())
    Files.writeString(Paths.get(opt("out")), rec.render())
    graft.operators.GraftCaches.releaseAll()
    spark.stop()
    sys.exit(0) // no lingering non-daemon thread may keep the process alive
  }

  /** Row count and the DECIMAL sum of a per-row xxhash64 over every
    * column: consumes the whole output, ignores row order. Maps are not
    * hashable, so they are hashed through their JSON form. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.indices.map { i =>
      val c = col(s"_c$i")
      df.schema.fields(i).dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val renamed = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}

