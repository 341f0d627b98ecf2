package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

import graft.core.NioCheckpointFileManager
import graft.streaming._

/** Checkpoints stay resumable across the checkpoint-manager switch, both
  * ways: a directory written by Spark's default manager (with `.crc`
  * sidecars) resumes under graft's NIO manager, and one written by the
  * NIO manager resumes with the manager key unset. Delivery across the
  * restart is exactly once.
  */
class CheckpointResumeSpec extends AnyFunSuite with LocalSparkSuite {

  private val Key = NioCheckpointFileManager.ConfKey
  private val Nio = Some(classOf[NioCheckpointFileManager].getName)

  private def use(manager: Option[String]): Unit =
    manager.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))

  private def crcFiles(root: String): Seq[String] =
    Using.resource(Files.walk(new File(root).toPath))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".crc")).toList)

  /** Runs a continuous query under `first`, restarts it under `second`,
    * and returns what it delivered plus the `.crc` sidecars the first
    * manager left.
    */
  private def resume(topic: String, first: Option[String],
      second: Option[String]): (Seq[Int], Seq[String]) = {
    val root = tempPath(topic)
    spark.conf.set("spark.sql.streaming.checkpointLocation", root)
    try {
      use(first)
      val ps = new PubSub(spark)
      val received = mutable.Buffer.empty[Int]
      val q = QueryBuilder[Int](ps)
        .from(topic)
        .connectTo(TypedOps.filter[Int](_ => true))
        .build()
        .subscribe(evs => received.synchronized {
          received ++= evs.map(_.content)
        })
        .run()
      val t = ps.topic[Int](topic)
      (1 to 3).foreach { i => t.publishValues(i); q.drain() }
      val sidecars = crcFiles(root)
      use(second)
      q.restart()
      (4 to 6).foreach { i => t.publishValues(i); q.drain() }
      q.close()
      ps.close()
      (received.synchronized(received.toList), sidecars)
    } finally use(Nio)
  }

  test("a checkpoint written by Spark's default manager resumes under " +
      "the NIO manager, exactly once") {
    val (got, sidecars) = resume("resume-from-default", None, Nio)
    assert(sidecars.nonEmpty, "the default manager wrote no .crc sidecars")
    assert(got.sorted == (1 to 6))
  }

  test("a checkpoint written by the NIO manager resumes under Spark's " +
      "default manager, exactly once") {
    val (got, sidecars) = resume("resume-from-nio", Nio, None)
    assert(sidecars.isEmpty, sidecars)
    assert(got.sorted == (1 to 6))
  }
}
