package graft.core

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint files (offset and commit logs, state-store delta
  * and snapshot files, `_spark_metadata`) written with java.nio on the
  * local filesystem.
  *
  * Every micro-batch writes at least two log files through
  * `createAtomic`: a temp file, then a rename. Without Hadoop's native
  * library, the local FileSystem forks `chmod` for each file it creates
  * and FileContext forks `readlink` for each rename — about 40 ms of
  * shell commands per log file, which set the pub/sub round trip. Here
  * the temp file is written and renamed through NIO; listing, reading,
  * existence checks, mkdirs and deletes stay with Spark's
  * `FileSystemBasedCheckpointFileManager`, and reads still go through
  * Hadoop's checksummed local filesystem (a file without a `.crc`
  * sidecar is read unverified, as Hadoop always has).
  *
  * Paths on any other filesystem (HDFS, S3, ...) get the manager Spark
  * picks when no manager class is configured: cluster behaviour is
  * unchanged. Registered by [[Sessions.tune]].
  *
  * Rename contract (what `HDFSMetadataLog` and the state stores rely on):
  *  - a no-overwrite rename onto an existing file throws Hadoop's
  *    `FileAlreadyExistsException` (how two queries sharing one
  *    checkpoint are detected); it is an atomic hard link, so the
  *    checkpoint directory must be on a filesystem with hard links;
  *  - an overwrite rename is one atomic `rename(2)`;
  *  - a rename onto a file drops the target's `.crc` sidecar, which
  *    would no longer match the new contents.
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (NioCheckpointFileManager.onLocalFs(path, hadoopConf))
      new NioCheckpointFileManager.Local(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(NioCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object NioCheckpointFileManager {
  /** The SQL/Hadoop key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's local filesystem: a `file:` path, or a scheme-less one
    * while the default filesystem is local.
    */
  private[graft] def onLocalFs(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private def nio(p: Path) = Paths.get(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = nio(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(f)), null)
    }

    override def renameTempFile(src: Path, dst: Path,
        overwriteIfPossible: Boolean): Unit = {
      val (from, to) = (nio(src), nio(dst))
      val crc = to.resolveSibling(s".${to.getFileName}.crc")
      if (overwriteIfPossible) {
        // sidecar first: a reader in between sees the old contents
        // unverified rather than new contents against an old checksum
        Files.deleteIfExists(crc)
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } else {
        try Files.createLink(to, from)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(from)
            throw new FileAlreadyExistsException(
              s"Failed to rename $src to $dst as destination already exists")
        }
        Files.delete(from)
        Files.deleteIfExists(crc)
      }
    }
  }
}
