package graft.streaming

import java.net.Socket
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Group commit of concurrent wire produces ([[Broker.appendGrouped]]):
  * requests that queue behind an in-flight commit to the same topic
  * commit together as one manifest version, and each still gets
  * exactly its own offsets. A member whose append fails answers
  * KAFKA_STORAGE_ERROR alone, and a group that loses the manifest CAS to an outside writer is
  * retried. */
class GroupCommitWireSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def values(producer: Int, request: Int, n: Int): Seq[Array[Byte]] =
    (0 until n).map(k => s"$producer:$request:$k".getBytes("UTF-8"))

  private def produceRequest(corr: Int, topic: String, p: Int,
      vs: Seq[Array[Byte]]): Array[Byte] =
    encodeProduceRequest(9, corr, "cli", null, 1, 30000,
      Seq((topic, Seq((p, vs.map(v => WireRecordV2(1700000000000L, null, v)))))))

  /** The one (partition, error, base offset) answer of a one-entry
    * produce. */
  private def ack(resp: Array[Byte]): (Int, Int, Long) =
    decodeProduceResponse(9, resp)._2.head._2.head

  private def rows(p: Int, vs: Seq[Array[Byte]]): Seq[Broker.DirectRow] =
    vs.map(v => (p, null: Array[Byte], v, null: Map[String, Array[Byte]], 1700000000000L))

  /** `writes` (partition, base offset, values) tile each partition's
    * log from 0 to its end with no gap or overlap, every record sits
    * at its acked offset, and the data dir holds only the manifest's
    * files. */
  private def assertExactlyOnce(log: TopicLog,
      writes: Seq[(Int, Long, Seq[Array[Byte]])]): Unit = {
    val ends = log.logEndOffsets()
    (0 until log.numPartitions).foreach { p =>
      val mine = writes.filter(_._1 == p).sortBy(_._2)
      var next = 0L
      mine.foreach { case (_, base, vs) =>
        assert(base === next, s"partition $p: acks not contiguous")
        next += vs.size
      }
      assert(ends.getOrElse(p, 0L) === next, s"partition $p: log end")
      val read = log.consumeForWire(p, 0, Int.MaxValue)
      assert(read.map(_.offset) === (0L until next), s"partition $p: offsets")
      val at = read.map(r => r.offset -> new String(r.value, "UTF-8")).toMap
      mine.foreach { case (_, base, vs) =>
        vs.zipWithIndex.foreach { case (v, i) =>
          assert(at(base + i) === new String(v, "UTF-8"), s"partition $p offset ${base + i}")
        }
      }
    }
    val dd = Paths.get(log.dataDir)
    val onDisk = Files.walk(dd).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).map(dd.relativize(_).toString).toSet
    assert(onDisk === log.currentManifest().get.files.toSet)
  }

  /** Wait, up to a minute, until `n` produces of `topic` queue behind
    * the commit in flight. */
  private def awaitQueued(broker: Broker, topic: String, n: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (broker.queuedProduces(topic) < n) {
      assert(System.nanoTime() < deadline, s"$n produces never queued")
      Thread.sleep(1)
    }
  }

  test("concurrent wire producers commit in groups, each acked at its own offsets") {
    val root = Files.createTempDirectory("graft-group").toString
    val broker = new Broker(spark, root)
    broker.createTopic("gc", 2)
    val server = new WireServer(broker).start()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val runs = (0 until 8).map { prod =>
        Future {
          val sock = new Socket("127.0.0.1", server.boundPort)
          try {
            start.await()
            (0 until 50).map { req =>
              val p = (prod + req) % 2
              val vs = values(prod, req, 3)
              val (ap, err, base) =
                ack(WireTestClient.exchange(sock, produceRequest(req, "gc", p, vs)))
              assert(ap === p && err === 0, s"producer $prod request $req")
              (p, base, vs)
            }
          } finally sock.close()
        }
      }
      start.countDown()
      val acked = runs.flatMap(Await.result(_, 5.minutes))
      val log = broker.topic("gc")
      assertExactlyOnce(log, acked)
      // one version per commit, plus v0: fewer versions than requests
      // means some commits carried several requests
      val versions = log.manifestVersions().size
      assert(versions < acked.size,
        s"$versions manifest versions for ${acked.size} requests: no group formed")
    } finally { server.close(); pool.shutdownNow() }
  }

  test("a group member whose append fails gets the error alone; the others ack") {
    val root = Files.createTempDirectory("graft-group").toString
    val broker = new Broker(spark, root)
    broker.createTopic("gf", 2)
    val log = broker.topic("gf")
    // partition 1's data dir is a file, so every write to it fails
    Files.createDirectories(Paths.get(log.dataDir))
    Files.createFile(Paths.get(log.dataDir, "partition=1"))
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // (producer, partition): the partition-1 member poisons its group
      val members = Seq((1, 0), (2, 1), (3, 0))
      var answers = Seq.empty[Future[Try[(Int, Int, Long)]]]
      val opener = broker.topic("gf")
      opener.interleaveHook = () => {
        opener.interleaveHook = () => ()
        answers = members.map { case (prod, p) =>
          Future(Try(ack(broker.handleProduce(
            produceRequest(prod, "gf", p, values(prod, 0, 4))))))
        }
        // all three queue behind this commit, so they commit as one group
        awaitQueued(broker, "gf", members.size)
      }
      val openerValues = values(0, 0, 2)
      val openerEnds = broker.appendGrouped("gf", opener, rows(0, openerValues))
      val outcomes = answers.map(Await.result(_, 1.minute))

      assert(outcomes(1).get._2 === 56, outcomes(1))
      assert(outcomes(0).get._2 === 0 && outcomes(2).get._2 === 0, outcomes)
      assertExactlyOnce(log, Seq(
        (0, openerEnds(0) - 2, openerValues),
        (0, outcomes(0).get._3, values(1, 0, 4)),
        (0, outcomes(2).get._3, values(3, 0, 4))))
      // the opener's commit, then the two good members alone
      assert(log.manifestVersions().size === 4)
    } finally pool.shutdownNow()
  }

  test("a group that loses the CAS to an outside writer is retried; every record lands once") {
    val root = Files.createTempDirectory("graft-group").toString
    TopicLog.create(spark, root, "gl", 2)
    val outside = TopicLog.open(spark, root, "gl")
    val outsideValues = Seq(0, 1).map(p => p -> values(99, p, 3)).toMap
    @volatile var outsideEnds = Map.empty[Int, Long]
    val armed = new AtomicBoolean(false)
    // every handle the broker opens commits the outside writer's
    // records mid-commit, once armed: the group then loses its CAS
    val broker = new Broker(spark, root) {
      override def topic(name: String): TopicLog = {
        val t = super.topic(name)
        t.interleaveHook = () =>
          if (armed.compareAndSet(true, false))
            outsideEnds = outside.produceDirect(
              Seq(0, 1).flatMap(p => rows(p, outsideValues(p))))
        t
      }
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val members = Seq((1, 0), (2, 1), (3, 0), (4, 1))
      var answers = Seq.empty[Future[(Int, Int, Long)]]
      val opener = TopicLog.open(spark, root, "gl")
      opener.interleaveHook = () => {
        opener.interleaveHook = () => ()
        answers = members.map { case (prod, p) =>
          Future(ack(broker.handleProduce(
            produceRequest(prod, "gl", p, values(prod, 0, 5)))))
        }
        awaitQueued(broker, "gl", members.size)
        armed.set(true)
      }
      val openerValues = values(0, 0, 2)
      val openerEnds = broker.appendGrouped("gl", opener, rows(0, openerValues))
      val acks = answers.map(Await.result(_, 1.minute))

      assert(!armed.get && outsideEnds.nonEmpty, "the outside writer never committed")
      acks.zip(members).foreach { case ((ap, err, _), (prod, p)) =>
        assert(ap === p && err === 0, s"producer $prod")
      }
      val log = TopicLog.open(spark, root, "gl")
      assertExactlyOnce(log,
        Seq((0, openerEnds(0) - 2, openerValues)) ++
          Seq(0, 1).map(p => (p, outsideEnds(p) - 3, outsideValues(p))) ++
          acks.zip(members).map { case ((p, _, base), (prod, _)) =>
            (p, base, values(prod, 0, 5))
          })
    } finally pool.shutdownNow()
  }
}
