package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The manifest commit protocol: crash-safety (a produce that dies
  * between the data append and the offset publish leaves NO drift),
  * multi-writer conflict detection, orphan GC, and atomic streaming
  * batch ids. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def records(ids: Range) =
    ids.toDF("i").select(
      col("i"),
      concat(lit("k"), (col("i") % 10).cast("string")).cast("binary").as("key"),
      concat(lit("v"), col("i").cast("string")).cast("binary").as("value"))

  private def newLog(n: Int = 4): TopicLog =
    TopicLog.create(spark, Files.createTempDirectory("graft-manifest").toString, "t", n)

  private def part = Partitioners.byLongKey(4, col("i"))

  test("crash between data append and offset publish: no drift, orphans invisible") {
    val log = newLog()
    log.produce(records(0 until 100), part)
    val endsBefore = log.logEndOffsets()

    log.failpointBeforeCommit = true
    intercept[IllegalStateException] { log.produce(records(100 until 140), part) }
    log.failpointBeforeCommit = false

    // reopen cold — the crashed produce must be invisible everywhere
    val reopened = TopicLog.open(spark, log.root, log.topic)
    assert(reopened.logEndOffsets() === endsBefore, "offsets drifted after crash")
    assert(reopened.read().count() === 100, "torn read: uncommitted files visible")
    assert(spark.read.format("graft-topic").load(log.topicDir).count() === 100,
      "DSv2 scan sees uncommitted files")

    // the orphaned files exist on disk until vacuumed
    assert(reopened.vacuum(minAgeMs = 0) > 0, "crash must have left orphan files")
    assert(reopened.vacuum(minAgeMs = 0) === 0)

    // retrying the produce lands exactly once, offsets contiguous
    reopened.produce(records(100 until 140), part)
    assert(reopened.read().count() === 140)
    val perPart = reopened.read().groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"), max("offset").as("hi"),
        countDistinct("offset").as("d")).collect()
    perPart.foreach { r =>
      assert(r.getLong(2) === 0L)                 // lo
      assert(r.getLong(3) === r.getLong(1) - 1)   // hi = n-1
      assert(r.getLong(4) === r.getLong(1))       // all distinct
    }
  }

  test("concurrent producer on overlapping partitions is detected and aborted cleanly") {
    val log = newLog()
    log.produce(records(0 until 40), part)
    val competitor = TopicLog.open(spark, log.root, log.topic)

    log.interleaveHook = () => {
      log.interleaveHook = () => ()
      competitor.produce(records(1000 until 1040), part)
    }
    intercept[TopicLog.ConcurrentProduceException] {
      log.produce(records(100 until 140), part)
    }

    // competitor's batch committed; loser's files were removed
    assert(log.read().count() === 80)
    assert(log.vacuum(minAgeMs = 0) === 0, "conflict path must clean its own files")
    // loser retries from the fresh manifest and succeeds
    log.produce(records(100 until 140), part)
    assert(log.read().count() === 120)
    val d = log.read().groupBy("partition")
      .agg(count(lit(1)).as("n"), countDistinct("offset").as("d")).collect()
    d.foreach(r => assert(r.getLong(1) === r.getLong(2), "duplicate offsets"))
  }

  test("concurrent producers on DISJOINT partitions both land, neither rewinds the other") {
    val log = newLog()
    log.produce(records(0 until 40), part) // 10 per partition
    val competitor = TopicLog.open(spark, log.root, log.topic)

    // while `log` produces to partitions {0,1}, the competitor commits
    // to partitions {2,3}: the merge path must preserve the
    // competitor's advanced ends, not overwrite them with log's stale
    // base snapshot (the rewind would re-assign duplicate offsets)
    log.interleaveHook = () => {
      log.interleaveHook = () => ()
      competitor.produce(records(1000 until 1020), // even ids → 2*i
        pmod(col("i"), lit(2L)).cast("int") + lit(2))
    }
    log.produce(records(100 until 120), pmod(col("i"), lit(2L)).cast("int"))

    val ends = log.logEndOffsets()
    assert(ends === Map(0 -> 20L, 1 -> 20L, 2 -> 20L, 3 -> 20L),
      s"merge rewound a concurrent end: $ends")
    assert(log.read().count() === 80)

    // next produce to the competitor's partitions must NOT reuse offsets
    log.produce(records(2000 until 2008), pmod(col("i"), lit(4L)).cast("int"))
    val d = log.read().groupBy("partition")
      .agg(count(lit(1)).as("n"), countDistinct("offset").as("d"),
        max("offset").as("hi")).collect()
    d.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"duplicate offsets in partition ${r.getInt(0)}")
      assert(r.getLong(3) === r.getLong(1) - 1, "offset gap or overlap")
    }
  }

  test("vacuum leaves fresh unreferenced files for in-flight producers (age guard)") {
    val log = newLog()
    log.produce(records(0 until 40), part)

    // a crashed produce leaves fresh orphans — exactly what an
    // IN-FLIGHT produce's just-moved files look like
    log.failpointBeforeCommit = true
    intercept[IllegalStateException] { log.produce(records(40 until 60), part) }
    log.failpointBeforeCommit = false

    assert(log.vacuum() === 0, "default vacuum must spare fresh files")
    assert(log.read().count() === 40)

    // backdate the orphans past the retention window → now GC'd
    import scala.jdk.CollectionConverters._
    val live = log.currentManifest().get.files.toSet
    val dd = java.nio.file.Paths.get(log.dataDir)
    java.nio.file.Files.walk(dd).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && !live.contains(dd.relativize(f).toString))
      .foreach(f => java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - TopicLog.DefaultVacuumMinAgeMs - 1000)))
    assert(log.vacuum() > 0, "aged orphans must be GC'd")
    assert(log.vacuum() === 0)
    assert(log.read().count() === 40)
  }

  test("writer epochs survive reopen, guard replays per writer, and retire when stale") {
    val log = newLog()
    assert(log.produceIdempotentFor("qA", records(0 until 8), epoch = 0, part))
    assert(log.produceIdempotentFor("qB", records(100 until 104), epoch = 0, part),
      "a different writer's epoch 0 is NOT a replay of qA's")
    assert(!log.produceIdempotentFor("qA", records(0 until 8), epoch = 0, part),
      "qA's replay of its own epoch must be skipped")
    assert(log.read().count() === 12)

    // epoch state round-trips the manifest serialization (epoch@version)
    val reopened = TopicLog.open(spark, log.root, log.topic)
    assert(!reopened.produceIdempotentFor("qA", records(0 until 8), epoch = 0, part))
    assert(reopened.produceIdempotentFor("qA", records(8 until 12), epoch = 1, part))

    // a writer idle past the retirement horizon is dropped from the manifest
    val saved = TopicLog.WriterRetirementVersions
    TopicLog.WriterRetirementVersions = 4
    try {
      (0 until 5).foreach(i => log.produce(records(200 + i * 2 until 202 + i * 2), part))
      val writers = log.currentManifest().get.writerEpochs
      assert(!writers.contains("qA") && !writers.contains("qB"),
        s"stale writers not retired: ${writers.keys}")
    } finally TopicLog.WriterRetirementVersions = saved
  }

  test("streaming batch id commits atomically with the data") {
    val log = newLog()
    assert(log.produceIdempotent(records(0 until 40), batchId = 0, part))
    assert(!log.produceIdempotent(records(0 until 40), batchId = 0, part), "replay applied twice")
    assert(log.read().count() === 40)

    // crash during batch 1: neither data nor batch id must be visible
    log.failpointBeforeCommit = true
    intercept[IllegalStateException] { log.produceIdempotent(records(40 until 60), 1, part) }
    log.failpointBeforeCommit = false
    assert(log.read().count() === 40)

    // the checkpoint replays batch 1 — applied exactly once
    assert(log.produceIdempotent(records(40 until 60), 1, part))
    assert(!log.produceIdempotent(records(40 until 60), 1, part))
    assert(log.read().count() === 60)
  }

  test("produce to a nonexistent partition fails fast, losing nothing") {
    val log = newLog(n = 4)
    log.produce(records(0 until 20), part)
    // partitioner routes id 100 to partition 22 — out of range for 4
    val err = intercept[IllegalArgumentException] {
      log.produce(records(100 until 101), pmod(col("i"), lit(26L)).cast("int"))
    }
    assert(err.getMessage.contains("nonexistent partition"))
    assert(log.read().count() === 20, "failed produce must not change the log")
    assert(log.vacuum(minAgeMs = 0) === 0, "failed produce must not leave orphans")
  }

  test("vacuum retires old manifest versions but never the current one") {
    val log = newLog()
    (0 until 15).foreach(i => log.produce(records(i * 4 until i * 4 + 4), part))
    val before = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"${log.topicDir}/_manifests")).count()
    assert(before >= 15)
    log.vacuum(keepManifests = 3)
    val after = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"${log.topicDir}/_manifests")).count()
    assert(after === 3)
    // the topic remains fully readable and appendable
    assert(log.read().count() === 60)
    log.produce(records(60 until 64), part)
    assert(log.read().count() === 64)
  }

  test("produce commits are O(batch) deltas; checkpoints anchor resolution") {
    val log = newLog()
    (0 until 30).foreach(i => log.produce(records(i * 2 until i * 2 + 2), part))
    val dir = java.nio.file.Paths.get(s"${log.topicDir}/_manifests")

    // v0 (migration snapshot) and v25 (interval checkpoint) are full;
    // ordinary produce versions carry only their own adds
    assert(TopicLog.isSnapshotVersion(dir, 0))
    assert(TopicLog.isSnapshotVersion(dir, TopicLog.CheckpointInterval))
    assert(!TopicLog.isSnapshotVersion(dir, 1))
    assert(!TopicLog.isSnapshotVersion(dir, 30))
    val v30 = java.nio.file.Files.readString(dir.resolve("v30.json"))
    assert(v30.contains("\"adds\"") && !v30.contains("\"files\""))
    // a delta names at most this batch's files (2 records → ≤2 files,
    // each appearing once in `adds` and once in `ranges`), never the
    // whole topic's
    val named = "partition=\\d+/[^\"]+\\.parquet".r.findAllIn(v30).toSeq
    assert(named.distinct.size <= 2 && named.size <= 4,
      s"delta lists more than its own adds: $v30")
    // every add carries its offset range for planning-time pruning
    assert(v30.contains("\"ranges\""))

    // resolution across the checkpoint boundary sees every commit
    assert(log.read().count() === 60)
    assert(log.logEndOffsets().values.sum === 60L)

    // explicit checkpoint materializes a snapshot; a fresh reader
    // resolves identically
    log.checkpoint()
    val cur = log.currentManifest().get
    assert(TopicLog.isSnapshotVersion(dir, cur.version))
    val reopened = TopicLog.open(spark, log.root, log.topic)
    assert(reopened.read().count() === 60)
    assert(reopened.logEndOffsets() === log.logEndOffsets())
  }

  test("incremental manifest resolve equals a cold resolve after every commit") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-manifest").toString
    val a = TopicLog.create(spark, root, "t", 4)
    val b = TopicLog.open(spark, root, "t")
    val dir = Paths.get(s"${a.topicDir}/_manifests")
    // the cached resolve against the full walk, which leaves the cache alone
    def same(step: String): Unit = {
      val cold = TopicLog.resolveManifestFull(dir)
      assert(cold.isDefined, step)
      assert(TopicLog.resolveManifest(dir) === cold, step)
    }
    def direct(ids: Range) = ids.map { i =>
      (i % 4, s"k$i".getBytes, s"v$i".getBytes, null: Map[String, Array[Byte]],
        1700000000000L + i)
    }
    def rawDelete(d: String): Unit =
      Files.walk(Paths.get(d)).iterator.asScala.toList.reverse.foreach(Files.delete(_))

    // two writers on one topic, both produce paths, across a checkpoint
    // interval (its snapshot resets the file list mid-replay)
    (0 until TopicLog.CheckpointInterval.toInt + 3).foreach { i =>
      if (i % 3 == 0) a.produce(records(i * 4 until i * 4 + 4), part)
      else (if (i % 2 == 0) a else b).produceDirect(direct(i * 4 until i * 4 + 4))
      same(s"produce $i")
    }
    a.checkpoint(); same("checkpoint")
    b.produceDirect(direct(200 until 204)); same("produce after checkpoint")
    a.vacuum(keepManifests = 3, minAgeMs = 0); same("vacuum, keep 3")
    b.produceDirect(direct(204 until 208)); same("produce after vacuum")
    // keeping one version retires the version the cache was resolved at
    val cachedAt = TopicLog.resolveManifest(dir).get.version
    a.vacuum(keepManifests = 1, minAgeMs = 0)
    assert(!Files.exists(dir.resolve(s"v$cachedAt.json")))
    same("vacuum, keep 1")
    a.compactFiles(); same("compactFiles")
    b.produceDirect(direct(208 until 212)); same("produce after compactFiles")
    assert(a.read().count() === 4L * (TopicLog.CheckpointInterval + 3) + 12)

    // raw delete (not TopicLog.drop, which evicts) and re-create
    rawDelete(a.topicDir)
    val c = TopicLog.create(spark, root, "t", 4)
    c.produceDirect(direct(0 until 4)); same("re-created")

    // a topic of the same name moved into place with a longer, then a
    // shorter history than the cached one: the cached version file is
    // there but holds other bytes, then it is not there at all
    def replaceWith(produces: Int): Unit = {
      val side = Files.createTempDirectory("graft-manifest-side").toString
      val other = TopicLog.create(spark, side, "t", 4)
      (0 until produces).foreach(i => other.produceDirect(direct(i * 4 until i * 4 + 4)))
      rawDelete(c.topicDir)
      Files.move(Paths.get(other.topicDir), Paths.get(c.topicDir))
      same(s"replaced by a topic of $produces produces")
      assert(c.logEndOffsets() === Map(0 -> produces.toLong, 1 -> produces.toLong,
        2 -> produces.toLong, 3 -> produces.toLong))
    }
    replaceWith(4)
    replaceWith(2)
  }

  test("a probing resolve equals the full resolve after outside commits, retirement and re-creation") {
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft-manifest")
    // the same topic seen through a symlinked root: resolves and
    // commits there use their own cache entry, so to this process's
    // view of `root` they are another process's
    val linked = Files.createSymbolicLink(
      Files.createTempDirectory("graft-manifest-link").resolve("root"), root)
    val a = TopicLog.create(spark, root.toString, "t", 2)
    val b = TopicLog.open(spark, linked.toString, "t")
    val dir = Paths.get(s"${a.topicDir}/_manifests")
    def same(step: String): Unit = {
      val full = TopicLog.resolveManifestFull(dir)
      assert(full.isDefined, step)
      assert(TopicLog.resolveManifest(dir) === full, step)
    }
    def direct(ids: Range) = ids.map { i =>
      (i % 2, s"k$i".getBytes, s"v$i".getBytes, null: Map[String, Array[Byte]],
        1700000000000L + i)
    }

    a.produceDirect(direct(0 until 4)); same("own commit")
    (1 to 5).foreach(i => b.produceDirect(direct(i * 4 until i * 4 + 4)))
    same("commits by a second handle")

    // the cached head goes stale while the other side commits past
    // it and retires history beyond it
    val stale = TopicLog.resolveManifest(dir).get.version
    (6 until 40).foreach(i => b.produceDirect(direct(i * 4 until i * 4 + 4)))
    b.retireHistory(keepManifests = 3)
    assert(!Files.exists(dir.resolve(s"v$stale.json")))
    same("retireHistory past a stale cached head")
    a.produceDirect(direct(160 until 164)); same("own commit after retirement")
    assert(a.read().count() === 164L)

    // dropped and re-created on the other side: a version of the
    // cached head's number holds other bytes, then it is gone
    def recreate(produces: Int): Unit = {
      TopicLog.drop(linked.toString, "t")
      val c = TopicLog.create(spark, linked.toString, "t", 2)
      (0 until produces).foreach(i => c.produceDirect(direct(i * 4 until i * 4 + 4)))
    }
    val head = TopicLog.resolveManifest(dir).get.version
    recreate(head.toInt + 1)
    assert(Files.exists(dir.resolve(s"v$head.json")))
    same("re-created past the cached head")
    assert(a.logEndOffsets() === Map(0 -> 2L * (head + 1), 1 -> 2L * (head + 1)))
    recreate(1)
    same("re-created below the cached head")
    assert(a.logEndOffsets() === Map(0 -> 2L, 1 -> 2L))
  }

  test("file compaction coalesces small produce files, content-identical") {
    val log = newLog()
    (0 until 12).foreach(i => log.produce(records(i * 5 until i * 5 + 5), part))
    def fileCount: Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(log.dataDir)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val before = log.read().orderBy("partition", "offset").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        new String(r.getAs[Array[Byte]]("value"))))
    val filesBefore = fileCount
    assert(filesBefore >= 12, s"expected one file per produce per partition, got $filesBefore")
    log.compactFiles()
    assert(fileCount < filesBefore / 2, "compaction must coalesce files")
    val after = log.read().orderBy("partition", "offset").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        new String(r.getAs[Array[Byte]]("value"))))
    assert(after === before, "compaction changed the data")
    // still appendable at the same ends
    log.produce(records(60 until 65), part)
    assert(log.read().count() === 65)
  }

  test("concurrent group commits on disjoint partitions never lose updates") {
    val log = newLog()
    // two consumers of one group each commit their own partition 20
    // times, interleaved by the scheduler; the CAS loop must merge
    // every commit (the old read-modify-write lost whichever write
    // raced) — and the final state must hold BOTH consumers' last
    // offsets
    val t1 = new Thread(() => (1 to 20).foreach(i => log.commit("g", Map(0 -> i.toLong))))
    val t2 = new Thread(() => (1 to 20).foreach(i => log.commit("g", Map(1 -> i.toLong))))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(log.committed("g") === Map(0 -> 20L, 1 -> 20L))
    // commits may rewind their OWN partitions (Kafka semantics)
    log.commit("g", Map(0 -> 3L))
    assert(log.committed("g") === Map(0 -> 3L, 1 -> 20L))
    assert(log.listGroups() === Seq("g"))
  }

  test("legacy flat group files migrate through the versioned commit path") {
    val log = newLog()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"${log.topicDir}/_groups"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${log.topicDir}/_groups/old.json"), """{"0":7,"2":9}""")
    assert(log.committed("old") === Map(0 -> 7L, 2 -> 9L))
    log.commit("old", Map(1 -> 4L))
    assert(log.committed("old") === Map(0 -> 7L, 1 -> 4L, 2 -> 9L))
    assert(log.listGroups() === Seq("old"))
  }

  test("compaction and retention keep the manifest coherent") {
    val log = newLog()
    log.produce(records(0 until 100), part) // keys i % 10 → 10 distinct keys
    val ends = log.logEndOffsets()
    log.compact()
    // key = i%10, partition = i%4 → i mod lcm(4,10)=20 fixes the pair,
    // and all 20 residues give distinct (partition, key) combinations
    assert(log.read().count() === 20, "latest per (partition, key)")
    assert(log.logEndOffsets() === ends, "compaction must not rewind the log end")
    // produce after compaction continues from the same ends
    log.produce(records(100 until 104), part)
    assert(log.logEndOffsets().values.sum === ends.values.sum + 4)
    assert(log.vacuum(minAgeMs = 0) === 0)
  }
}
