package graft.streaming

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path}

/** A directory of immutable, numbered versions `v<N>.json`, each
  * published by an atomic hard link — the one copy of the CAS protocol
  * behind the topic manifests, group offsets, share-group state,
  * materialized views and the broker's stores (ACLs, quotas, tokens,
  * SCRAM credentials, transactions, features); Structured Streaming's
  * `HDFSMetadataLog` plays the same part for its offset and commit
  * logs. The link either creates `v<N>.json` whole or fails because a
  * rival already holds it, so a reader never sees a torn version.
  *
  * Each caller keeps its own codec and its own answer to a lost link:
  * full-state stores skip past the rival and republish ([[publish]]),
  * group offsets and views re-read and re-merge, share groups fail
  * loudly. */
private[graft] final class VersionedDir(val dir: Path) {

  def file(v: Long): Path = dir.resolve(s"v$v.json")

  /** Publish `body` as version `v`: write a temp file, hard-link it to
    * `v<N>.json`, delete the temp file. Throws
    * FileAlreadyExistsException when `v` already exists. */
  def link(v: Long, body: String): Unit = {
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp", ".json")
    Files.writeString(tmp, body)
    VersionedDir.linkOnce(tmp, file(v))
  }

  /** The versions on disk, unordered; none when the dir is absent. */
  def versions: Seq[Long] =
    if (!Files.exists(dir)) Nil
    else TopicLog.listDir(dir).flatMap(p => VersionedDir.versionOf(p.getFileName.toString))

  def latest: Option[Long] = versions.maxOption

  /** The newest version and its body as `parse` reads it. A version
    * pruned between the listing and the read re-resolves from a fresh
    * listing, up to 5 times. */
  def readLatest[T](parse: String => T): Option[(Long, T)] = {
    var attempts = 0
    while (attempts < 5) {
      latest match {
        case None => return None
        case Some(v) =>
          try return Some((v, parse(Files.readString(file(v)))))
          catch { case _: NoSuchFileException => attempts += 1 }
      }
    }
    None
  }

  /** Delete every version below `keepFrom`. */
  def prune(keepFrom: Long): Unit =
    versions.foreach(v => if (v < keepFrom) Files.deleteIfExists(file(v)))

  /** Link `render(v)` at the first version above `after` that no rival
    * holds — a lost link skips past the newest version on disk and
    * renders again, so the latest state wins — then prune all but the
    * `keepBehind` versions below it. Returns the version linked. */
  @annotation.tailrec
  def publish(after: Long, keepBehind: Long)(render: Long => String): Long = {
    val v = after + 1
    val linked =
      try { link(v, render(v)); true }
      catch { case _: FileAlreadyExistsException => false }
    if (!linked) publish(math.max(v, latest.getOrElse(0L)), keepBehind)(render)
    else { prune(v - keepBehind); v }
  }
}

private[graft] object VersionedDir {

  /** Publish the written file `tmp` as `dst` by a hard link, then
    * delete `tmp`: `dst` appears whole or not at all, and a `dst` that
    * already exists fails the link with FileAlreadyExistsException and
    * is left as it was. */
  def linkOnce(tmp: Path, dst: Path): Unit =
    try Files.createLink(dst, tmp)
    finally Files.deleteIfExists(tmp)

  /** `N` for a file named `v<N>.json`. */
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.substring(1, name.length - ".json".length).toLongOption
    else None
}
