package graft

import java.io.File

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EventEnvelope, NioCheckpointFileManager}
import graft.streaming.PubSub

/** The checkpoint file manager `Sessions.tune` registers: the rename
  * contract Spark's metadata logs and state stores rely on, and which
  * manager each kind of path gets.
  */
class CheckpointFileManagerSpec extends AnyFunSuite with LocalSparkSuite {

  private val Key = NioCheckpointFileManager.ConfKey

  private def conf(): Configuration = {
    val c = new Configuration()
    c.set(Key, classOf[NioCheckpointFileManager].getName)
    c
  }

  /** A manager over a fresh local directory, and that directory. */
  private def fresh(): (CheckpointFileManager, File) = {
    val dir = new File(tempPath("fm"))
    val fm = CheckpointFileManager.create(new Path(dir.toURI), conf())
    fm.mkdirs(new Path(dir.toURI))
    (fm, dir)
  }

  private def write(fm: CheckpointFileManager, f: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(f, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def read(fm: CheckpointFileManager, f: Path): String =
    Using.resource(fm.open(f))(in => new String(in.readAllBytes(), "UTF-8"))

  test("createAtomic: invisible until close, then exactly the file") {
    val (fm, dir) = fresh()
    val f = new Path(dir.toURI.resolve("0"))
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    assert(!fm.exists(f))
    out.close()
    assert(fm.exists(f) && read(fm, f) == "v1")
    assert(dir.list().toSet == Set("0"))
  }

  test("cancel() leaves nothing behind") {
    val (fm, dir) = fresh()
    val out = fm.createAtomic(new Path(dir.toURI.resolve("0")),
      overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(dir.list().isEmpty)
  }

  test("a no-overwrite rename onto an existing file throws " +
      "FileAlreadyExistsException and keeps the first file") {
    val (fm, dir) = fresh()
    val f = new Path(dir.toURI.resolve("0"))
    write(fm, f, "first", overwrite = false)
    intercept[FileAlreadyExistsException](
      write(fm, f, "second", overwrite = false))
    assert(read(fm, f) == "first")
    assert(dir.list().toSet == Set("0"))
  }

  test("an overwrite rename replaces the file and drops its stale .crc") {
    val (fm, dir) = fresh()
    val f = new Path(dir.toURI.resolve("0"))
    // Hadoop's checksummed local filesystem writes the .crc sidecar
    val local = FileSystem.getLocal(new Configuration())
    Using.resource(local.create(f))(_.write("old contents".getBytes("UTF-8")))
    assert(new File(dir, ".0.crc").exists())
    write(fm, f, "new", overwrite = true)
    assert(!new File(dir, ".0.crc").exists())
    assert(read(fm, f) == "new")
    assert(Using.resource(local.open(f))(in =>
      new String(in.readAllBytes(), "UTF-8")) == "new")
  }

  test("a Sessions.tune session writes its checkpoints through the " +
      "NIO manager") {
    val ckpt = tempPath("session")
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    assert(CheckpointFileManager.create(new Path(ckpt), hadoopConf)
      .isInstanceOf[NioCheckpointFileManager])
    val ps = new PubSub(spark)
    val t = ps.topic[Int]("fm-session")
    val q = t.stream.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (_: Dataset[EventEnvelope[Int]], _: Long) => () }
      .start()
    t.publishValues(1, 2, 3)
    q.processAllAvailable()
    q.stop()
    ps.close()
    // Spark's default local manager would have left .0.crc sidecars
    val offsets = new File(ckpt, "offsets").list().toSet
    val commits = new File(ckpt, "commits").list().toSet
    assert(offsets.contains("0") && commits.contains("0"))
    assert(!(offsets ++ commits).exists(_.endsWith(".crc")))
  }

  test("a non-local scheme gets the manager Spark picks on its own") {
    val c = conf()
    // a local filesystem under another name: local in behaviour, but
    // not `file:`, so it must not take the NIO path
    c.set("fs.graftraw.impl", classOf[RawLocalFileSystem].getName)
    val p = new Path("graftraw://" + tempPath("raw"))
    val fm = CheckpointFileManager.create(p, c)
      .asInstanceOf[NioCheckpointFileManager]
    val unset = new Configuration(c)
    unset.unset(Key)
    assert(fm.delegate.getClass ==
      CheckpointFileManager.create(p, unset).getClass)

    assert(NioCheckpointFileManager.onLocalFs(new Path("/a/b"), c))
    val hdfsDefault = new Configuration(c)
    hdfsDefault.set("fs.defaultFS", "hdfs://namenode:8020")
    assert(!NioCheckpointFileManager.onLocalFs(new Path("/a/b"), hdfsDefault))
    assert(NioCheckpointFileManager.onLocalFs(new Path("file:/a/b"),
      hdfsDefault))
  }
}
