package graft.streaming

import java.net.Socket
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Topic lifecycle races over a live WireServer: a DeleteTopics that
  * lands while a handler opens the topic, two CreateTopics for one
  * name, and CreatePartitions racing each other or a delete. Each
  * race must answer the handler's own error code and leave the
  * connection serving; none may throw out of the handler, which
  * closes the connection. A source guard keeps every handler on the
  * one lookup ([[Broker.topicOpt]]) and the one partition-range
  * check ([[TopicLog.hasPartition]]). */
class TopicRaceSpec extends AnyFunSuite {
  import KafkaWire._
  lazy val spark = TestSpark.spark

  private def exchange(sock: Socket, request: Array[Byte]): Array[Byte] =
    WireTestClient.exchange(sock, request)

  private def apiVersionsOk(sock: Socket, corr: Int): Boolean =
    decodeApiVersionsResponsePreV3(0,
      exchange(sock, encodeApiVersionsRequest(0, corr, "cli"))).errorCode == 0

  /** A broker whose next open of the armed topic first deletes it: the
    * open then finds no `_meta.json`, as when a DeleteTopics lands
    * between a handler's lookup and its read. */
  private class DroppingBroker(root: String) extends Broker(spark, root) {
    @volatile var armed: String = null
    override def topic(name: String): TopicLog = {
      if (name == armed) { armed = null; deleteTopic(name) }
      super.topic(name)
    }
  }

  test("a topic deleted while a handler opens it answers unknown-topic; the connection survives") {
    val root = Files.createTempDirectory("graft-race-delete").toString
    val broker = new DroppingBroker(root)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    val parts = Seq(0, 1)
    /** Recreate "r", arm the drop, run one request, and check the drop
      * really happened inside it. */
    def raced[T](request: => T): T = {
      if (!broker.topicExists("r")) broker.createTopic("r", 2)
      broker.armed = "r"
      val out = request
      assert(broker.armed === null, "the handler never opened the topic")
      out
    }
    try {
      val (_, produced) = raced(decodeProduceResponse(9, exchange(sock,
        encodeProduceRequestBatches(9, 1, "cli", null, 1, 1000,
          Seq(("r", parts.map(p => (p, ProducedBatch(-1L, -1, -1,
            Seq(WireRecordV2(1L, null, Array[Byte](1))))))))))))
      assert(produced === Seq(("r", parts.map(p => (p, 3, -1L)))))

      val (_, fetched) = raced(decodeFetchResponse(12, exchange(sock,
        encodeFetchRequest(12, 2, "cli", 0, 0, 1 << 20,
          Seq(("r", parts.map(p => (p, 0L, 1 << 20))))))))
      assert(fetched.map { case (t, ps) => (t, ps.map(p => (p._1, p._2))) }
        === Seq(("r", parts.map(p => (p, 3)))))

      val (_, listed) = raced(decodeListOffsetsResponse(1, exchange(sock,
        encodeListOffsetsRequest(1, 3, "cli",
          Seq(("r", parts.map(p => (p, -1L, 1))))))))
      assert(listed.map { case (t, ps) => (t, ps.map(p => (p._1, p._2))) }
        === Seq(("r", parts.map(p => (p, 3)))))

      val (_, committed) = raced(decodeOffsetCommitResponse(8, exchange(sock,
        encodeOffsetCommitRequest(8, 4, "cli", "g", -1, "", null,
          Seq(("r", parts.map(p => (p, 5L, ""))))))))
      assert(committed === Seq(("r", parts.map(p => (p, 3)))))

      val (_, offsets) = raced(decodeOffsetFetchResponse(8, exchange(sock,
        encodeOffsetFetchRequest(8, 5, "cli", Seq(("g", Some(Seq(("r", parts)))))))))
      assert(offsets.map { case (g, err, ts) =>
        (g, err, ts.map { case (t, ps) => (t, ps.map(p => (p._1, p._4))) }) }
        === Seq(("g", 0, Seq(("r", parts.map(p => (p, 3)))))))

      val (_, deleted) = raced(decodeDeleteRecordsResponse(1, exchange(sock,
        encodeDeleteRecordsRequest(1, 6, "cli",
          Seq(("r", parts.map(p => (p, 0L)))), 1000))))
      assert(deleted === Seq(("r", parts.map(p => (p, -1L, 3)))))

      val (_, epochs) = raced(decodeOffsetForLeaderEpochResponse(2, exchange(sock,
        encodeOffsetForLeaderEpochRequest(2, 7, "cli",
          Seq(("r", parts.map(p => (p, 0, 0))))))))
      assert(epochs.map { case (t, ps) => (t, ps.map(p => (p._2, p._1))) }
        === Seq(("r", parts.map(p => (p, 3)))))

      val shared = raced(decodeShareFetchResponse(exchange(sock,
        encodeShareFetchRequest(8, "cli", "sg", "m1", 0,
          Seq("r" -> parts.map(p => ShareFetchPartition(p, 1024, Seq.empty))),
          maxWaitMs = 0)),
        topicIdResolverFor(Seq("r"))))
      assert(shared._2 === 0)
      assert(shared._4.map { case (t, ps) => (t, ps.map(p => (p.partition, p.errorCode))) }
        === Seq(("r", parts.map(p => (p, 100)))))

      assert(apiVersionsOk(sock, 9))
    } finally { sock.close(); server.close() }
  }

  test("a CreateTopics that loses the create to a rival answers 36 and keeps the rival's topic") {
    val root = Files.createTempDirectory("graft-race-create").toString
    // a rival CreateTopics for the same name, with another count,
    // lands between the existence check and this create
    val broker = new Broker(spark, root) {
      override def createTopic(name: String, numPartitions: Int): TopicLog = {
        super.createTopic(name, numPartitions + 3)
        super.createTopic(name, numPartitions)
      }
    }
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, created) = decodeCreateTopicsResponse(5, exchange(sock,
        encodeCreateTopicsRequest(5, 1, "adm", Seq(
          CreatableTopic("ct", 2, -1, Seq.empty,
            Seq(("retention.ms", "60000")))), 5000)))
      assert(created.map(t => (t.name, t.errorCode, t.numPartitions))
        === Seq(("ct", 36, -1)))
      assert(broker.topic("ct").numPartitions === 5)
      assert(TopicLog.configOverrides(root, "ct").isEmpty)
      assert(apiVersionsOk(sock, 2))
    } finally { sock.close(); server.close() }
  }

  test("concurrent CreatePartitions answer 0 or 37 and never shrink the topic") {
    val root = Files.createTempDirectory("graft-race-expand").toString
    val broker = new Broker(spark, root)
    broker.createTopic("cp", 2)
    val server = new WireServer(broker).start()
    val counts = 3 to 10
    val pool = Executors.newFixedThreadPool(counts.size)
    val start = new CountDownLatch(1)
    try {
      val answers = counts.map { count =>
        pool.submit(() => {
          val sock = new Socket("127.0.0.1", server.boundPort)
          try {
            start.await()
            val (_, res) = decodeCreatePartitionsResponse(1, exchange(sock,
              encodeCreatePartitionsRequest(1, count, "adm", Seq(("cp", count)))))
            (count, res.head._2)
          } finally sock.close()
        })
      }
      start.countDown()
      val got = answers.map(_.get(60, TimeUnit.SECONDS))
      assert(got.map(_._2).toSet.subsetOf(Set(0, 37)), got)
      val grown = got.collect { case (count, 0) => count }
      assert(grown.nonEmpty)
      assert(broker.topic("cp").numPartitions === grown.max)
    } finally { pool.shutdownNow(); server.close() }
  }

  test("a CreatePartitions whose topic is deleted after the lookup answers 3") {
    val root = Files.createTempDirectory("graft-race-expand-delete").toString
    val broker = new Broker(spark, root) {
      override def topic(name: String): TopicLog = {
        val log = super.topic(name)
        deleteTopic(name)
        log
      }
    }
    broker.createTopic("gone", 1)
    val server = new WireServer(broker).start()
    val sock = new Socket("127.0.0.1", server.boundPort)
    try {
      val (_, res) = decodeCreatePartitionsResponse(1, exchange(sock,
        encodeCreatePartitionsRequest(1, 1, "adm", Seq(("gone", 2)))))
      assert(res.map(r => (r._1, r._2)) === Seq(("gone", 3)))
      assert(apiVersionsOk(sock, 2))
    } finally { sock.close(); server.close() }
  }

  test("handlers reach a topic through topicOpt and check partitions through hasPartition") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"${src.toAbsolutePath} not found")
    // a Broker member starts at a two-space `def`; nested defs sit deeper
    val members = Files.readString(src.resolve("graft/streaming/Broker.scala"))
      .split("""\n(?=  (?:private(?:\[\w+\])? )?(?:override )?def )""").toSeq
    val checkThenOpen = members.flatMap { body =>
      """topicExists\(([^()]+)\)""".r.findAllMatchIn(body).map(_.group(1))
        .filter { arg =>
          val q = java.util.regex.Pattern.quote(arg)
          s"""\\b(?:topic|topicOpt)\\($q\\)""".r.findFirstIn(body).isDefined
        }
        .map(arg => body.linesIterator.next().trim + s" checks then opens $arg")
    }
    assert(checkThenOpen === Seq.empty)

    // anywhere: a comparison against a partition count; in the
    // broker package also the two-sided `p >= 0 && p < n` and
    // `p < 0 || p >= n` shapes over any count
    val countCheck = """(?:<(?!=)|>=)\s*(?:\w+\.)*numPartitions\b""".r
    val twoSided = """\b(\w+) >= 0 && \1 < |\b(\w+) < 0 \|\| \2 >= """.r
    val walk = Files.walk(src)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = files.flatMap { f =>
      val name = src.relativize(f).toString
      Files.readAllLines(f).asScala.filter { l =>
        countCheck.findFirstIn(l).isDefined ||
          name.startsWith("graft/streaming/") && twoSided.findFirstIn(l).isDefined
      }.map(l => (name, l.trim))
    }
    assert(found === List(("graft/streaming/TopicLog.scala", "p >= 0 && p < numPartitions")))
  }
}
