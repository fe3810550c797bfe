package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.ShareGroup._

/** The durable form of share-group state: run-length snapshots that
  * still load the per-offset form earlier snapshots hold, and a
  * snapshot only when an operation changed something. */
class ShareStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val T0 = 1700000000000L

  private def stateDir(log: TopicLog, group: String): Path =
    Paths.get(log.topicDir, "_share", java.util.Base64.getUrlEncoder
      .withoutPadding.encodeToString(group.getBytes("UTF-8")))

  private def versions(log: TopicLog, group: String): Seq[Long] = {
    val dir = stateDir(log, group)
    if (!Files.exists(dir)) Seq.empty
    else TopicLog.listDir(dir).map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }.sorted
  }

  /** A two-partition snapshot in the per-offset form, as the
    * per-offset renderer wrote it: holders "c" (Yw), "d" (ZA) and ""
    * (offset 9). */
  private val PerOffsetSnapshot =
    """{"version":7,"partitions":[{"p":0,"spso":3,"acq":""" +
      """"3:1700000030000:1:Yw;4:1700000030000:1:Yw;6:1700000031000:2:ZA;""" +
      """9:1700000030000:1:","avail":"5:1;7:2","term":"8:a"},""" +
      """{"p":1,"spso":0,"acq":"","avail":"","term":""}]}"""

  test("a snapshot in the per-offset form loads to identical state") {
    val parsed = ShareStore.parse(PerOffsetSnapshot)
    assert(parsed === Seq(
      ShareStore.PState(0, 3L,
        Map(3L -> ((T0 + 30000, 1, "c")), 4L -> ((T0 + 30000, 1, "c")),
          6L -> ((T0 + 31000, 2, "d")), 9L -> ((T0 + 30000, 1, ""))),
        Map(5L -> 1, 7L -> 2), Map(8L -> 'a')),
      ShareStore.PState(1, 0L, Map.empty, Map.empty, Map.empty)))
    // re-rendered in the run form, the state is unchanged
    assert(ShareStore.parse(ShareStore.render(8, 2, parsed(_))) === parsed)

    // a group reopened from it holds that state
    val root = Files.createTempDirectory("graft-sharestore").toString
    val log = TopicLog.create(spark, root, "q", 2)
    Files.createDirectories(stateDir(log, "g"))
    Files.writeString(stateDir(log, "g").resolve("v7.json"), PerOffsetSnapshot)
    val sg = new ShareGroup(log, "g")
    assert(sg.stats(0, T0 + 1) === ((3L, 4, 2, 1)))
    assert(sg.stats(1, T0 + 1) === ((0L, 0, 0, 0)))
    // holders survive: "c" may acknowledge 3, not "d"'s 6
    assert(sg.acknowledge(0, Seq(3L -> Accept, 6L -> Accept), T0 + 2, "c") ===
      Seq(3L -> true, 6L -> false))
    assert(sg.acknowledge(0, Seq(9L -> Accept), T0 + 2, "") === Seq(9L -> true))
    assert(versions(log, "g").last === 9L)
  }

  test("the run form round-trips through render and parse") {
    val e = T0 + 30000
    val acquired = (100L to 1699L).map { o =>
      o -> (if (o == 500) (e, 2, "consumer-1")
        else if (o >= 900 && o <= 909) (e, 1, "x")
        else (e, 1, "consumer-1"))
    }.toMap
    val available = (2000L to 2009L).map(_ -> 3).toMap + (2011L -> 1)
    val terminal = (50L to 59L).map(_ -> 'a').toMap + (60L -> 'x')
    val st = ShareStore.PState(0, 50L, acquired, available, terminal)
    val body = ShareStore.render(3, 1, _ => st)
    assert(ShareStore.parse(body) === Seq(st))
    assert(body.contains(""""acq":"100-499:1700000030000:1:Y29uc3VtZXItMQ;""" +
      """500:1700000030000:2:Y29uc3VtZXItMQ;501-899:1700000030000:1:Y29uc3VtZXItMQ;""" +
      """900-909:1700000030000:1:eA;910-1699:1700000030000:1:Y29uc3VtZXItMQ""""))
    assert(body.contains(""""avail":"2000-2009:3;2011:1","term":"50-59:a;60:x""""))
    assert(body.length < 400, s"${body.length} bytes for 1,600 acquired records")
  }

  test("an operation that changes nothing writes no new version") {
    val root = Files.createTempDirectory("graft-sharestore").toString
    val log = TopicLog.create(spark, root, "q", 1)
    log.produceDirect((0 until 5).map(i =>
      (0, s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"),
        Map.empty[String, Array[Byte]], T0)))
    val sg = new ShareGroup(log, "n")
    def newest = versions(log, "n").lastOption.getOrElse(0L)
    assert(sg.acquire(0, 10, T0, "c").map(_.offset) === (0L to 4L))
    val afterAcquire = newest
    assert(afterAcquire === 1L)
    // caught up: nothing to acquire, no lock lapsed
    assert(sg.acquire(0, 10, T0 + 1, "c").isEmpty)
    assert(sg.batched(sg.acquire(0, 10, T0 + 1, "c")).isEmpty)
    // acknowledgements that all fail change nothing either
    assert(sg.acknowledge(0, Seq(0L -> Accept), T0 + 2, "other") === Seq(0L -> false))
    assert(sg.acknowledgeRanges(0, Seq((0L, 4L, (_: Long) => Accept)), T0 + 3,
      "other") === 5L)
    assert(newest === afterAcquire)
    // one that lands writes one version
    assert(sg.acknowledgeRanges(0, Seq((0L, 4L, (_: Long) => Accept)), T0 + 4,
      "c") === 0L)
    assert(newest === afterAcquire + 1)
    assert(sg.startOffset(0) === 5L)
    assert(sg.acquire(0, 10, T0 + 5, "c").isEmpty)
    assert(newest === afterAcquire + 1)
  }
}
