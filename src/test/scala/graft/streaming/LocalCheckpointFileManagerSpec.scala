package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Streams

/** Marks the end of a fork-guard window in a JFR stream. */
@jdk.jfr.Name("graft.ForkGuardMark")
class ForkGuardMark extends jdk.jfr.Event

/** [[LocalCheckpointFileManager]]: the same publish semantics as
  * Spark's default checkpoint manager, without forking a process. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toString), new Configuration())

  private def publish(fm: LocalCheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  private def tree(dir: NioPath): Seq[String] =
    Files.walk(dir).iterator().asScala.map(p => dir.relativize(p).toString).toSeq

  test("a no-overwrite publish onto an existing file fails as Hadoop's and keeps the original") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val fm = manager(dir)
    val dst = new Path(dir.toString, "1")
    publish(fm, dst, "first", overwrite = false)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      publish(fm, dst, "second", overwrite = false)
    }
    assert(Files.readString(dir.resolve("1")) === "first")
    assert(names(dir) === Set("1"), "the losing publish's temp file must be gone")
  }

  test("an overwrite publish replaces the file and drops a stale Hadoop .crc") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val dst = new Path(dir.toString, "1")
    // written the way Spark's default manager leaves it: data + sidecar
    val hadoop = FileSystem.getLocal(new Configuration())
    val o = hadoop.create(dst, true)
    o.write("old bytes".getBytes(UTF_8))
    o.close()
    val staleCrc = Files.readAllBytes(dir.resolve(".1.crc"))

    publish(manager(dir), dst, "new bytes!", overwrite = true)
    assert(names(dir) === Set("1"))
    def readBack() = {
      val in = hadoop.open(dst)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    assert(readBack() === "new bytes!")
    // the sidecar is what a reader would have checked the new bytes against
    Files.write(dir.resolve(".1.crc"), staleCrc)
    intercept[ChecksumException](readBack())
  }

  test("cancel() leaves nothing behind") {
    val dir = Files.createTempDirectory("graft-lcfm")
    val out = manager(dir).createAtomic(new Path(dir.toString, "1"),
      overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a non-file: path gets Spark's FileContext-based manager") {
    // a viewfs mount over a local dir: a non-local scheme with no cluster
    val dir = Files.createTempDirectory("graft-lcfm")
    val conf = new Configuration()
    conf.set("fs.viewfs.mounttable.graftcp.link./ckpt", dir.toUri.toString)
    val fm = new LocalCheckpointFileManager(new Path("viewfs://graftcp/ckpt"), conf)
    assert(!fm.isLocal)
    val out = fm.createAtomic(new Path("viewfs://graftcp/ckpt/1"), overwriteIfPossible = false)
    out.write("via hadoop".getBytes(UTF_8))
    out.close()
    assert(Files.readString(dir.resolve("1")) === "via hadoop")
    // Hadoop's checksummed file system wrote the sidecar; the local
    // manager never does
    assert(names(dir) === Set("1", ".1.crc"))
    publish(manager(dir), new Path(dir.toString, "2"), "via nio", overwrite = false)
    assert(names(dir) === Set("1", ".1.crc", "2"))
  }

  private def startJoin(ss: SparkSession, topic: String, ckpt: NioPath,
      out: NioPath): StreamingQuery =
    JoinDrainFixture.join(ss.readStream.format("graft-topic").load(topic))
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()

  private def defaultManagerSession(): SparkSession = {
    val ss = Streams.drainSession(spark)
    ss.conf.unset(ManagerKey)
    ss
  }

  for ((first, firstSession) <- Seq(
      "graft's manager" -> (() => Streams.drainSession(spark)),
      "Spark's default manager" -> (() => defaultManagerSession())))
    test(s"a watermarked join started under $first resumes under graft's and equals the batch join") {
      val root = Files.createTempDirectory("graft-lcfm-join").toString
      val log = TopicLog.create(spark, root, "t", 2)
      val ckpt = Files.createTempDirectory("graft-lcfm-ckpt")
      val out = Files.createTempDirectory("graft-lcfm-out")
      JoinDrainFixture.produce(spark, log, 0 until 60)
      val q1 = startJoin(firstSession(), s"$root/t", ckpt, out)
      q1.awaitTermination()
      assert(q1.recentProgress.count(_.numInputRows > 0) === 1)
      // Hadoop's `.<name>.crc` sidecars, not Spark's own `<name>.crc` checksums
      val sidecars = tree(ckpt).filter(p => p.split('/').last.startsWith(".") && p.endsWith(".crc"))
      if (first.startsWith("Spark")) assert(sidecars.nonEmpty) else assert(sidecars === Nil)

      JoinDrainFixture.produce(spark, log, 60 until 120)
      val q2 = startJoin(Streams.drainSession(spark), s"$root/t", ckpt, out)
      q2.awaitTermination()
      assert(q2.recentProgress.exists(_.numInputRows > 0), "the restart must resume with new data")

      val streamed = JoinDrainFixture.pairs(spark.read.parquet(out.toString))
      val batch = JoinDrainFixture.pairs(JoinDrainFixture.batchJoin(log.read()))
      assert(streamed === batch)
      assert(batch.size === 120)
    }

  /** Processes started while `body` runs whose command names `dir`. */
  private def spawnsNaming(dir: NioPath)(body: => Unit): Int = {
    val seen = new AtomicInteger
    val marked = new CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[ForkGuardMark])
      rs.onEvent("jdk.ProcessStart", (e: jdk.jfr.consumer.RecordedEvent) =>
        if (Option(e.getString("command")).exists(_.contains(dir.toString)))
          seen.incrementAndGet())
      rs.onEvent("graft.ForkGuardMark", (_: jdk.jfr.consumer.RecordedEvent) =>
        marked.countDown())
      rs.startAsync()
      body
      new ForkGuardMark().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the JFR stream never caught up")
    } finally rs.close()
    seen.get
  }

  test("fork guard: a drain's checkpoint I/O spawns no process under graft's manager") {
    val root = Files.createTempDirectory("graft-lcfm-fork").toString
    val log = TopicLog.create(spark, root, "t", 2)
    JoinDrainFixture.produce(spark, log, 0 until 40)
    def drain(ss: SparkSession): Int = {
      val ckpt = Files.createTempDirectory("graft-lcfm-fork-ckpt")
      val out = Files.createTempDirectory("graft-lcfm-fork-out")
      spawnsNaming(ckpt) {
        val q = startJoin(ss, s"$root/t", ckpt, out)
        q.awaitTermination()
        assert(q.recentProgress.exists(_.numInputRows > 0))
      }
    }
    assert(drain(Streams.drainSession(spark)) === 0)
    // positive control: the guard does see Hadoop's forks
    assert(drain(defaultManagerSession()) > 0)
  }
}
