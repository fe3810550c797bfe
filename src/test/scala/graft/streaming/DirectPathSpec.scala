package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-direct storage paths (no Spark job): `produceDirect`
  * (parquet-hadoop writer + the same CAS commit as produce()) and
  * `consumeDirect`/`consumeForWire` (manifest-range-pruned parquet
  * reads). The invariant under test is INTERCHANGEABILITY: records
  * written by either path read identically through BOTH the Spark
  * reader and the direct reader — offsets, keys, values, headers,
  * timestamps — including topics whose files MIX the two vintages
  * (Spark INT96 timestamps beside direct INT64 micros). */
class DirectPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-direct").toString

  /** The one data file a single-partition, single-produce topic holds. */
  private def onlyDataFile(root: String): Path = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    assert(files.size === 1, files)
    files.head
  }

  private def directRows(ids: Range, p: Int = 0)
      : Seq[(Int, Array[Byte], Array[Byte], Map[String, Array[Byte]], Long)] =
    ids.map { i =>
      (p, s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"),
        if (i % 3 == 0) Map("h1" -> s"x$i".getBytes("UTF-8"), "h0" -> null)
        else null,
        1700000000000L + i)
    }

  test("produceDirect round-trips through the Spark reader") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d1", 2)
    val ends = log.produceDirect(
      directRows(0 until 10, p = 0) ++ directRows(0 until 5, p = 1))
    assert(ends === Map(0 -> 10L, 1 -> 5L))

    val rows = log.read().orderBy("partition", "offset").collect()
    assert(rows.length === 15)
    val r3 = rows(3) // partition 0, offset 3
    assert(r3.getAs[Int]("partition") === 0)
    assert(r3.getAs[Long]("offset") === 3L)
    assert(new String(r3.getAs[Array[Byte]]("key"), "UTF-8") === "k3")
    assert(new String(r3.getAs[Array[Byte]]("value"), "UTF-8") === "v3")
    val h3 = r3.getAs[Map[String, Array[Byte]]]("headers")
    assert(h3.keySet === Set("h0", "h1"))
    assert(h3("h0") === null)
    assert(new String(h3("h1"), "UTF-8") === "x3")
    assert(r3.getAs[java.sql.Timestamp]("ts").getTime === 1700000000003L)
    // non-multiple-of-3 rows carry a NULL headers map
    assert(rows(4).isNullAt(rows(4).fieldIndex("headers")))
  }

  test("mixed Spark and direct files read identically through both readers") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d2", 1)
    // vintage 1: the Spark path (INT96 timestamps)
    log.produce(
      (0 until 6).toDF("i").select(
        concat(lit("sk"), col("i")).cast("binary").as("key"),
        concat(lit("sv"), col("i")).cast("binary").as("value"),
        lit(new java.sql.Timestamp(1700000100000L)).as("ts")),
      Partitioners.byLongKey(1, lit(0L)))
    // vintage 2: the direct path (INT64 micros)
    log.produceDirect(directRows(6 until 12))
    assert(log.logEndOffsets() === Map(0 -> 12L))

    // Spark reader sees one coherent log across vintages
    val sparkRows = log.consume(0, 0)
      .select("offset", "key", "value", "ts").collect()
    assert(sparkRows.map(_.getAs[Long]("offset")).toSeq === (0L until 12L))
    assert(new String(sparkRows(7).getAs[Array[Byte]]("value"), "UTF-8") === "v7")
    assert(sparkRows(3).getAs[java.sql.Timestamp]("ts").getTime === 1700000100000L)
    assert(sparkRows(7).getAs[java.sql.Timestamp]("ts").getTime === 1700000000007L)

    // direct reader agrees byte-for-byte
    val direct = log.consumeDirect(0, 0, 100).get
    assert(direct.map(_.offset) === (0L until 12L))
    assert(direct(3).timestampMs === 1700000100000L)
    assert(direct(7).timestampMs === 1700000000007L)
    assert(new String(direct(0).key, "UTF-8") === "sk0")
    assert(new String(direct(11).value, "UTF-8") === "v11")
    assert(direct(9).headers.map { case (k, _) => k } === Seq("h0", "h1"))
  }

  test("consumeDirect range semantics match consume() across files") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d3", 1)
    // five produce calls -> five files, ranges [0,9], [10,19], ...
    (0 until 5).foreach(b => log.produceDirect(directRows(b * 10 until (b + 1) * 10)))
    assert(log.logEndOffsets() === Map(0 -> 50L))

    def sparkOffsets(from: Long, max: Int): Seq[Long] =
      log.consume(0, from, max).select("offset").collect()
        .map(_.getLong(0)).toSeq

    // window spanning a file boundary
    assert(log.consumeDirect(0, 7, 6).get.map(_.offset) === (7L until 13L))
    assert(sparkOffsets(7, 6) === (7L until 13L))
    // maxRecords caps mid-file; later files never contribute
    assert(log.consumeDirect(0, 0, 3).get.map(_.offset) === Seq(0L, 1L, 2L))
    // explicit toOffset bound
    assert(log.consumeDirect(0, 15, 100, toOffset = 22L).get
      .map(_.offset) === (15L to 22L))
    // past the end: empty, not an error
    assert(log.consumeDirect(0, 99, 10).get.isEmpty)
    // empty/invalid windows
    assert(log.consumeDirect(0, 5, 0).get.isEmpty)
    assert(log.consumeDirect(0, 9, 10, toOffset = 3L).get.isEmpty)
    // consumeForWire serves the same rows
    assert(log.consumeForWire(0, 7, 6).map(_.offset) === (7L until 13L))
  }

  test("produceDirect respects the CAS protocol: interleaved with produce()") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d4", 2)
    log.produceDirect(directRows(0 until 4, p = 0))
    log.produce(
      (0 until 6).toDF("i").select(col("i"),
        concat(lit("k"), col("i")).cast("binary").as("key"),
        concat(lit("v"), col("i")).cast("binary").as("value")),
      Partitioners.byLongKey(2, col("i"))) // 3 per partition
    log.produceDirect(directRows(0 until 2, p = 1))
    val ends = log.logEndOffsets()
    assert(ends === Map(0 -> 7L, 1 -> 5L))
    // no gaps, no dups, per partition
    val chk = log.read().groupBy("partition")
      .agg(count(lit(1)).as("n"), countDistinct("offset").as("d"),
        max("offset").as("hi")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(chk(0) === ((7L, 7L, 6L)))
    assert(chk(1) === ((5L, 5L, 4L)))
    // a request listing one partition twice appends in request order
    val before = log.logEndOffsets()(0)
    log.produceDirect(Seq(
      (0, "a".getBytes, "first".getBytes, null, 1L),
      (0, "b".getBytes, "second".getBytes, null, 2L)))
    val tail = log.consumeForWire(0, before, 10)
    assert(tail.map(r => new String(r.value, "UTF-8")) ===
      Seq("first", "second"))
  }

  test("readStream tails direct-written files beside Spark-written ones") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d6", 1)
    log.produceDirect(directRows(0 until 8))
    val q = log.readStream()
      .groupBy("partition").agg(count(lit(1)).as("n"), max("ts").as("m"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("d6_counts")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("d6_counts").collect()(0).getLong(1) === 8L)
      // a Spark-vintage produce lands in the NEXT micro-batch
      log.produce(
        (0 until 5).toDF("i").select(
          concat(lit("k"), col("i")).cast("binary").as("key"),
          concat(lit("v"), col("i")).cast("binary").as("value")),
        Partitioners.byLongKey(1, lit(0L)))
      q.processAllAvailable()
      val r = spark.table("d6_counts").collect()(0)
      assert(r.getLong(1) === 13L)
      // the direct files' INT64 timestamps decoded through the
      // streaming (DSv2) reader too
      assert(r.getAs[java.sql.Timestamp]("m").getTime >= 1700000000007L)
    } finally q.stop()
  }

  test("crash before produceDirect's manifest commit: orphans invisible, retry exact") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d7", 1)
    log.produceDirect(directRows(0 until 6))
    val endsBefore = log.logEndOffsets()

    log.failpointBeforeCommit = true
    intercept[IllegalStateException] { log.produceDirect(directRows(6 until 10)) }
    log.failpointBeforeCommit = false

    // cold reopen: the crashed append is invisible everywhere — same
    // CAS guarantee as the Spark path (ManifestSpec's leg)
    val reopened = TopicLog.open(spark, root, "d7")
    assert(reopened.logEndOffsets() === endsBefore)
    assert(reopened.read().count() === 6)
    assert(reopened.consumeDirect(0, 0, 100).get.map(_.offset) === (0L until 6L))
    // the moved-but-uncommitted files vacuum as orphans
    assert(reopened.vacuum(minAgeMs = 0) > 0)
    // the retry lands exactly once, offsets contiguous
    reopened.produceDirect(directRows(6 until 10))
    assert(reopened.consumeDirect(0, 0, 100).get.map(_.offset) === (0L until 10L))
    assert(reopened.consumeForWire(0, 6, 10).map(r =>
      new String(r.value, "UTF-8")) === Seq("v6", "v7", "v8", "v9"))
  }

  test("produceDirect rejects out-of-range partitions without committing") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d5", 1)
    intercept[IllegalArgumentException] {
      log.produceDirect(Seq((1, "k".getBytes, "v".getBytes, null, 1L)))
    }
    assert(log.logEndOffsets().getOrElse(0, 0L) === 0L)
    assert(log.read().count() === 0L)
  }

  test("produceDirect writes no .crc sidecar and records each file's exact range") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d10", 3)
    log.produceDirect(directRows(0 until 4, p = 0) ++ directRows(0 until 3, p = 2))
    // one request lists partition 0 twice, around partition 1
    log.produceDirect(directRows(0 until 2, p = 0) ++ directRows(0 until 5, p = 1) ++
      directRows(2 until 6, p = 0))
    assert(log.logEndOffsets() === Map(0 -> 10L, 1 -> 5L, 2 -> 3L))

    val topicDir = Paths.get(log.topicDir)
    val all = Files.walk(topicDir).iterator.asScala.toList
    val sidecars = all.filter(_.getFileName.toString.endsWith(".crc"))
      .filter(f => f.startsWith(topicDir.resolve("data")) ||
        f.startsWith(topicDir.resolve("_staging")))
    assert(sidecars.isEmpty, sidecars)
    // produceDirect writes in place, so a sidecar would show above;
    // check the writer on its own too
    val dir = Files.createTempDirectory("graft-direct-write")
    TopicLog.writeDirect(dir.resolve("f.parquet"),
      Iterator((0L, "k".getBytes, "v".getBytes, null, 1L)))
    assert(Files.list(dir).iterator.asScala.map(_.getFileName.toString).toList ===
      List("f.parquet"))

    val m = log.currentManifest().get
    assert(m.files.size === 4)
    m.files.foreach { f =>
      assert(m.fileRanges.get(f) ===
        Some(TopicLog.offsetRangeOf(Paths.get(log.dataDir).resolve(f))), f)
    }
    assert(m.files.filter(_.startsWith("partition=0/")).map(m.fileRanges).sorted ===
      Seq((0L, 3L), (4L, 9L)))
  }

  test("writeDirect writes offsets, values and header values without a dictionary") {
    import org.apache.parquet.column.Encoding
    val file = Files.createTempDirectory("graft-direct-dict").resolve("f.parquet")
    // every column repeats a few values, so a dictionary would pay off
    // on each: only the writer's per-column setting decides (unique
    // values would fall back to PLAIN with the dictionary on, too)
    TopicLog.writeDirect(file, (0 until 500).iterator.map { i =>
      ((i / 125).toLong, s"k${i % 4}".getBytes("UTF-8"),
        s"value-${i % 4}".getBytes("UTF-8"),
        Map("h" -> s"h${i % 4}".getBytes("UTF-8")), 1700000000000L)
    })
    val r = TopicLog.openFooter(new org.apache.hadoop.fs.Path(file.toString))
    val encodings = try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c.getEncodings.asScala.toSet).toMap
    finally r.close()
    def dictionary(col: String) = encodings(col).exists(_.usesDictionary)
    Seq("offset", "value", "headers.key_value.value").foreach { col =>
      assert(!dictionary(col) && encodings(col).contains(Encoding.PLAIN),
        s"$col: ${encodings(col)}")
    }
    Seq("key", "ts").foreach(col => assert(dictionary(col), s"$col: ${encodings(col)}"))
  }

  test("a produceDirect whose write throws leaves no staging and commits nothing") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d11", 2)
    log.produceDirect(directRows(0 until 4, p = 0))
    val endsBefore = log.logEndOffsets()
    val versionsBefore = log.manifestVersions()

    // a null header name fails partition 1's write; partition 0's
    // write in the same request succeeds and is staged beside it
    val nullName: Map[String, Array[Byte]] = Map((null: String) -> "x".getBytes)
    intercept[NullPointerException] {
      log.produceDirect(directRows(4 until 8, p = 0) ++
        Seq((1, "k".getBytes, "v".getBytes, nullName, 1L)))
    }

    val staging = Paths.get(log.topicDir).resolve("_staging")
    val left =
      if (Files.exists(staging)) Files.walk(staging).iterator.asScala.toList.tail
      else Nil
    assert(left.isEmpty, left)
    assert(log.manifestVersions() === versionsBefore)
    assert(log.logEndOffsets() === endsBefore)
    assert(log.vacuum(minAgeMs = 0) === 0, "a failed write must leave no orphans")
    log.produceDirect(directRows(4 until 8, p = 0))
    assert(log.consumeDirect(0, 0, 100).get.map(_.offset) === (0L until 8L))
  }

  test("direct reads and footer reads parse no Hadoop default XML") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d8", 1)
    log.produceDirect(directRows(0 until 10))
    // this test is about the parquet read path: empty the log tail
    TopicLog.evictTail(log.topicDir)
    val file = onlyDataFile(root)
    // warm: load the shared conf before the counted reads
    TopicLog.readDirect(file, 0L, Long.MaxValue)
    TopicLog.offsetRangeOf(file)

    // a new Configuration finds its default resources through the
    // constructing thread's context loader: count those lookups
    val lookups = new AtomicInteger
    val counting = new ClassLoader(Thread.currentThread.getContextClassLoader) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") lookups.incrementAndGet()
        super.getResource(name)
      }
    }
    var readLookups = -1
    var failure: Throwable = null
    val t = new Thread(() =>
      try {
        (0 until 20).foreach { _ =>
          assert(TopicLog.readDirect(file, 0L, Long.MaxValue).map(_.offset) ===
            (0L until 10L))
          assert(TopicLog.offsetRangeOf(file) === ((0L, 9L)))
        }
        readLookups = lookups.get
        // control: a default conf built on this thread IS counted
        new org.apache.hadoop.conf.Configuration().size()
      } catch { case e: Throwable => failure = e })
    t.setContextClassLoader(counting)
    t.start()
    t.join()
    if (failure != null) throw failure
    assert(readLookups === 0)
    assert(lookups.get > 0)
  }

  test("reads verify a data file's .crc sidecar: corruption raises, not records") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d9", 1)
    log.produceDirect(directRows(0 until 10))
    assert(log.consumeForWire(0, 0, 100).map(_.offset) === (0L until 10L))
    // this test is about the parquet read path: empty the log tail
    TopicLog.evictTail(log.topicDir)
    val file = onlyDataFile(root)
    // rewrite the committed file through Hadoop's checksummed local
    // filesystem so it carries a sidecar; reads must check it
    val bytes = Files.readAllBytes(file)
    val out = org.apache.hadoop.fs.FileSystem
      .getLocal(new org.apache.hadoop.conf.Configuration())
      .create(new org.apache.hadoop.fs.Path(file.toString), true)
    try out.write(bytes) finally out.close()
    assert(Files.exists(file.resolveSibling(s".${file.getFileName}.crc")))
    assert(log.consumeForWire(0, 0, 100).map(_.offset) === (0L until 10L))

    // flip one byte just past the leading "PAR1" magic (column data),
    // leaving the sidecar as it was
    bytes(4) = (bytes(4) ^ 0xff).toByte
    Files.write(file, bytes)

    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    def failsChecksum(t: Throwable): Boolean =
      chain(t).exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException])
    val viaWire = intercept[Exception] { log.consumeForWire(0, 0, 100) }
    assert(failsChecksum(viaWire), viaWire)
    val direct = intercept[Exception] { TopicLog.readDirect(file, 0L, Long.MaxValue) }
    assert(failsChecksum(direct), direct)
  }

  /** A record as comparable values: byte arrays by content, null kept
    * apart from empty. */
  private def canon(rs: Seq[TopicLog.DirectRecord]) =
    rs.map(r => (r.offset, r.timestampMs, Option(r.key).map(_.toSeq),
      Option(r.value).map(_.toSeq),
      r.headers.map { case (k, v) => (k, Option(v).map(_.toSeq)) }))

  /** Requests whose records cover every shape a record can take. */
  private def tailProduces(log: TopicLog): Unit = {
    val unsorted: Map[String, Array[Byte]] =
      Map("zeta" -> "z".getBytes,
        "\u00e4-\u043a\u043b\u044e\u0447" -> "\u00fc".getBytes("UTF-8"),
        "alpha" -> null)
    log.produceDirect(Seq(
      (0, null, Array.emptyByteArray, null, 0L),
      (0, "k".getBytes, "v".getBytes, unsorted, -1L),
      (0, Array.emptyByteArray, null, Map.empty[String, Array[Byte]], 1700000000000L),
      (1, null, "only".getBytes, unsorted, 0L)))
    // one request lists partition 0 twice, around partition 1
    log.produceDirect(directRows(0 until 4, p = 0) ++ directRows(0 until 3, p = 1) ++
      directRows(4 until 7, p = 0))
    log.produceDirect(directRows(7 until 12, p = 0))
  }

  test("the log tail serves exactly what a cold parquet read returns") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d12", 2)
    tailProduces(log)
    assert(log.logEndOffsets() === Map(0 -> 15L, 1 -> 4L))
    assert(TopicLog.tailBytes(Some(log.topicDir)) > 0)

    val m = log.currentManifest().get
    assert(m.files.size === 5)
    val whole = m.files.map { f =>
      val file = Paths.get(log.dataDir).resolve(f)
      val (lo, hi) = m.fileRanges(f)
      val windows = Seq(
        (lo, hi), (lo, Long.MaxValue), // the whole file
        (lo + (hi - lo) / 2, lo + (hi - lo) / 2), (hi, hi), // one offset
        (lo + 1, lo), // empty
        (hi + 1, hi + 5), (hi + 1, Long.MaxValue)) // past the end
      windows.foreach { case (from, to) =>
        val cold = TopicLog.readDirectFile(file, from, to)
        assert(canon(TopicLog.readDirect(file, from, to)) === canon(cold),
          s"$f [$from, $to]")
      }
      file -> canon(TopicLog.readDirectFile(file, lo, hi))
    }
    assert(whole.map(_._2.size).sum === 19)

    // the wire read equals the Spark consume() path
    def viaSpark(p: Int, from: Long, max: Int, to: Long) =
      log.consume(p, from, max).filter(col("offset") <= to)
        .select("offset", "key", "value", "headers", "ts").collect().toSeq
        .map { r =>
          TopicLog.DirectRecord(r.getAs[Long]("offset"),
            r.getAs[java.sql.Timestamp]("ts").getTime,
            r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value"),
            Option(r.getAs[Map[String, Array[Byte]]]("headers"))
              .map(_.toSeq.sortBy(_._1)).getOrElse(Seq.empty))
        }
    for {
      (p, end) <- Seq(0 -> 15L, 1 -> 4L)
      (from, max, to) <- Seq((0L, 100, Long.MaxValue), (2L, 100, end - 2), // whole, inner
        (1L, 1, Long.MaxValue), (end - 1, 100, end - 1), // one offset
        (1L, 0, Long.MaxValue), (3L, 100, 2L), // empty
        (end, 100, Long.MaxValue)) // past the end
    } assert(canon(log.consumeForWire(p, from, max, to)) ===
      canon(viaSpark(p, from, max, to)), s"$p [$from, $to] max $max")

    // with the files gone only the tail can answer: every read above
    // that a cold read matched was served from memory
    whole.foreach { case (file, expected) =>
      Files.delete(file)
      assert(canon(TopicLog.readDirect(file, 0L, Long.MaxValue)) === expected)
    }
  }

  test("the log tail is evicted when the topic is dropped") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d13", 2)
    val other = TopicLog.create(spark, root, "d13x", 1)
    tailProduces(log)
    other.produceDirect(directRows(0 until 3))
    val otherHeld = TopicLog.tailBytes(Some(other.topicDir))
    assert(TopicLog.tailBytes(Some(log.topicDir)) > 0)
    assert(otherHeld > 0)
    TopicLog.drop(root, "d13")
    assert(TopicLog.tailBytes(Some(log.topicDir)) === 0L)
    // a topic whose name extends the dropped one's keeps its entries
    assert(TopicLog.tailBytes(Some(other.topicDir)) === otherHeld)
  }

  test("maintenance rewrites evict the topic's log tail") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d14", 2)
    tailProduces(log)
    val before = canon(log.consumeForWire(0, 0, 100))
    assert(before.map(_._1) === (0L until 15L))
    log.compactFiles()
    assert(TopicLog.tailBytes(Some(log.topicDir)) === 0L)
    assert(canon(log.consumeForWire(0, 0, 100)) === before)

    log.produceDirect(directRows(15 until 20, p = 0))
    assert(TopicLog.tailBytes(Some(log.topicDir)) > 0)
    log.truncateBefore(0, 5)
    assert(TopicLog.tailBytes(Some(log.topicDir)) === 0L)
    val after = log.consumeForWire(0, 0, 100)
    assert(canon(after) === before.drop(5) ++ canon(directRows(15 until 20, p = 0)
      .zipWithIndex.map { case ((_, k, v, h, ts), i) =>
        TopicLog.DirectRecord(15L + i, ts, k, v,
          Option(h).map(_.toSeq.sortBy(_._1)).getOrElse(Seq.empty))
      }))
    assert(canon(log.consumeForWire(1, 0, 100)).map(_._1) === (0L until 4L))
  }

  test("a produceDirect that does not commit adds nothing to the log tail") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d15", 1)
    val dir = Some(log.topicDir)
    log.produceDirect(directRows(0 until 4))
    val held = TopicLog.tailBytes(dir)
    assert(held > 0)

    log.failpointBeforeCommit = true
    intercept[IllegalStateException] { log.produceDirect(directRows(4 until 8)) }
    log.failpointBeforeCommit = false
    assert(TopicLog.tailBytes(dir) === held)

    // lose the CAS to a competing producer on the same partition
    val rival = TopicLog.open(spark, root, "d15")
    var afterRival = -1L
    log.interleaveHook = () => {
      log.interleaveHook = () => ()
      rival.produceDirect(directRows(4 until 6))
      afterRival = TopicLog.tailBytes(dir)
    }
    intercept[TopicLog.ConcurrentProduceException] {
      log.produceDirect(directRows(4 until 9))
    }
    assert(afterRival > held)
    assert(TopicLog.tailBytes(dir) === afterRival)
    assert(log.consumeForWire(0, 0, 100).map(_.offset) === (0L until 6L))
  }

  test("the log tail stays within its byte budget") {
    val root = tmpRoot()
    val log = TopicLog.create(spark, root, "d16", 1)
    val dir = Some(log.topicDir)
    // records of one size, so every 10-record file holds the same bytes
    def rows(n: Int) = Seq.fill(n)((0, "key".getBytes, "value".getBytes,
      Map("h" -> "x".getBytes), 1L))
    val saved = TopicLog.TailBudgetBytes
    try {
      log.produceDirect(rows(10))
      val perFile = TopicLog.tailBytes(dir)
      TopicLog.TailBudgetBytes = perFile * 3 + perFile / 2
      (1 until 8).foreach { _ =>
        log.produceDirect(rows(10))
        assert(TopicLog.tailBytes() <= TopicLog.TailBudgetBytes)
      }
      // the three newest files are held, the rest evicted
      assert(TopicLog.tailBytes(dir) === perFile * 3)
      // a file over the budget is not held at all
      log.produceDirect(rows(40))
      assert(TopicLog.tailBytes(dir) === perFile * 3)
      assert(TopicLog.tailBytes() <= TopicLog.TailBudgetBytes)
      assert(log.consumeForWire(0, 0, 200).map(_.offset) === (0L until 120L))
    } finally TopicLog.TailBudgetBytes = saved
  }
}
