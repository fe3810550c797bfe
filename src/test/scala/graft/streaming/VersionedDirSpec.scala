package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one CAS protocol behind every `v<N>.json` directory: link,
  * list, read the newest, prune, and skip past a rival. */
class VersionedDirSpec extends AnyFunSuite {

  private def fresh(): VersionedDir =
    new VersionedDir(Files.createTempDirectory("graft-versioned").resolve("store"))

  private def names(d: VersionedDir): Set[String] =
    TopicLog.listDir(d.dir).map(_.getFileName.toString).toSet

  test("link of an existing version throws and leaves no temp file behind") {
    val d = fresh()
    d.link(1, "first")
    intercept[FileAlreadyExistsException](d.link(1, "second"))
    assert(names(d) === Set("v1.json"))
    assert(Files.readString(d.file(1)) === "first")
    assert(d.versions === Seq(1L) && d.latest === Some(1L))
  }

  test("an absent dir has no versions, and readLatest answers None") {
    val d = fresh()
    assert(d.versions.isEmpty && d.latest.isEmpty)
    assert(d.readLatest(identity).isEmpty)
    d.prune(10) // nothing to prune, no dir to list
    assert(!Files.exists(d.dir))
  }

  test("readLatest survives the newest version being pruned between listing and read") {
    val d = fresh()
    d.link(1, "one")
    d.link(2, "two")
    var reads = 0
    val got = d.readLatest { body =>
      reads += 1
      if (reads == 1) {
        // a rival links v3 and prunes v2 after this reader listed v2:
        // its read then finds v2 gone, as parse is told here
        d.link(3, "three")
        d.prune(3)
        throw new NoSuchFileException(d.file(2).toString)
      }
      body
    }
    assert(got === Some((3L, "three")))
    assert(reads === 2)
  }

  test("publish skips past a version a rival handle linked") {
    val dir = Files.createTempDirectory("graft-versioned").resolve("store")
    val a = new VersionedDir(dir)
    val b = new VersionedDir(dir)
    assert(a.publish(0, 2)(v => s"a$v") === 1L)
    // b still believes the store is empty: v1 is taken, so it renders
    // again past a's version
    assert(b.publish(0, 2)(v => s"b$v") === 2L)
    assert(a.readLatest(identity) === Some((2L, "b2")))
    assert(a.publish(1, 2)(v => s"a$v") === 3L)
    assert(a.versions.sorted === Seq(1L, 2L, 3L))
    assert(a.publish(3, 0)(v => s"a$v") === 4L)
    assert(names(a) === Set("v4.json"))
  }

  test("a writer killed between link and prune: the newest reloads, the next publish retires the rest") {
    val d = fresh()
    // linked, never pruned: what a writer leaves when it dies after
    // each link
    (1L to 6L).foreach(v => d.link(v, s"state$v"))
    val (v, body) = d.readLatest(identity).get
    assert((v, body) === ((6L, "state6")))
    assert(d.publish(v, 2)(n => s"state$n") === 7L)
    assert(d.versions.sorted === Seq(5L, 6L, 7L))
    assert(d.readLatest(identity) === Some((7L, "state7")))
  }

  test("file names that are not versions are ignored") {
    val d = fresh()
    d.link(2, "two")
    Files.writeString(d.dir.resolve("vnext.json"), "x")
    Files.writeString(d.dir.resolve("v3.json.bak"), "x")
    Files.writeString(d.dir.resolve("_meta.json"), "x")
    assert(d.versions === Seq(2L))
    d.prune(3)
    assert(names(d) === Set("vnext.json", "v3.json.bak", "_meta.json"))
  }

  test("the link protocol and the version scan live only in VersionedDir") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"${src.toAbsolutePath} not found")
    val scan = """(?s)startsWith\("v"\).{0,120}?endsWith\("\.json"\)""".r
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = offenders.filter { f =>
      val s = Files.readString(f)
      s.contains("Files.createLink") || scan.findFirstIn(s).isDefined
    }.map(src.relativize(_).toString)
    assert(found === List("graft/streaming/VersionedDir.scala"))
  }
}
