package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.core.Sessions
import graft.streaming.QueryRepository

/** The tuned local session a suite runs on, and a temp root private to
  * the suite. The root holds the session's default streaming checkpoint
  * location, its warehouse, and every path a test takes from
  * [[tempPath]]. afterAll closes the continuous queries, stops the
  * session and deletes the root.
  */
trait LocalSparkSuite extends BeforeAndAfterAll { this: Suite =>

  /** Threads of the local master, and the shuffle partitions. */
  protected def cores: Int = 4

  /** Suite-specific session settings, applied before [[Sessions.tune]]. */
  protected def configure(b: SparkSession.Builder): SparkSession.Builder = b

  protected lazy val spark: SparkSession =
    Sessions.tune(configure(SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.streaming.checkpointLocation", tempPath("ckpt"))
      .config("spark.sql.warehouse.dir", tempPath("warehouse"))), cores)
      .getOrCreate()

  private var root: Option[Path] = None
  private val seq = new AtomicInteger

  /** A fresh path under the suite's temp root; nothing exists there yet. */
  protected def tempPath(name: String): String = synchronized {
    val r = root.getOrElse {
      val created = Files.createTempDirectory("graft-spec-")
      root = Some(created)
      created
    }
    r.resolve(s"$name-${seq.incrementAndGet()}").toString
  }

  override protected def afterAll(): Unit =
    try {
      QueryRepository.closeAll()
      spark.stop()
    } finally {
      try super.afterAll()
      finally synchronized {
        root.foreach(r => Using.resource(Files.walk(r))(
          _.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))))
        root = None
      }
    }
}
