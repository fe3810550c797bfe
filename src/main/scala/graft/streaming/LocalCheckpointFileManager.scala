package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's checkpoint file manager, publishing through `java.nio` on
  * the local file system. Structured Streaming makes every epoch
  * durable by writing offset-log, commit-log, state-store and checksum
  * files through a `CheckpointFileManager`; Spark's default,
  * [[FileContextBasedCheckpointFileManager]], goes through Hadoop's
  * local file system, which without `libhadoop` forks `chmod` on every
  * create and mkdir and `readlink` four times per rename (the file, the
  * destination and their `.crc` sidecars). This manager does the same
  * publishes without a fork:
  *
  *  - a file is written to the temp path Spark names next to its
  *    destination, then published atomically: an overwriting publish
  *    renames it over the destination (`ATOMIC_MOVE`); any other
  *    hard-links it to the destination and deletes it, as
  *    [[VersionedDir.linkOnce]] does, so a destination that exists
  *    fails with Hadoop's `FileAlreadyExistsException` (what
  *    `HDFSMetadataLog` catches to detect a concurrent writer) and is
  *    left as it was;
  *  - a publish drops the destination's Hadoop `.<name>.crc` sidecar
  *    first, so a checkpoint started under Spark's default manager
  *    stays readable: Hadoop would check the new bytes against it;
  *  - reads, listings and deletes stay Hadoop's (none of them forks).
  *
  * A path on any other file system (`hdfs:`, `s3a:`, …) gets Spark's
  * default manager unchanged: every override hands it to `super`.
  * Spark instantiates the class by name with this constructor when
  * `spark.sql.streaming.checkpointFileManagerClass` names it in the
  * session's conf. */
class LocalCheckpointFileManager(checkpointPath: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(checkpointPath, hadoopConf) {

  /** Spark's own locality test: the path's FileContext is Hadoop's
    * local file system (`file:`, or scheme-less under a local default
    * file system). */
  private val local = isLocal

  private def onDisk(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit =
    if (local) nio(Files.createDirectories(onDisk(p))) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!local) super.createCheckpointDirectory()
    else {
      val qualified = fc.makeQualified(checkpointPath)
      nio(Files.createDirectories(onDisk(qualified)))
      qualified
    }

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else new FSDataOutputStream(
      new BufferedOutputStream(nio(Files.newOutputStream(onDisk(p))), 64 * 1024), null)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else nio {
      val (from, to) = (onDisk(src), onDisk(dst))
      val crc = to.resolveSibling(s".${to.getFileName}.crc")
      if (overwriteIfPossible) {
        Files.deleteIfExists(crc)
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      } else {
        if (!Files.exists(to)) Files.deleteIfExists(crc)
        VersionedDir.linkOnce(from, to)
      }
    }

  /** `java.nio`'s two expected failures as the Hadoop exceptions Spark
    * and its callers catch. */
  private def nio[T](body: => T): T =
    try body
    catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage).initCause(e)
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(e.getMessage).initCause(e)
    }
}
