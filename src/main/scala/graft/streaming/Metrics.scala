package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query in/out event counters (reference: stream metrics,
  * pkg/pubsub/stream.go:144-195; drain-barrier test
  * stream_test.go:275-300). Spark's StreamingQueryProgress already
  * carries numInputRows/processedRowsPerSecond per source — this listener
  * folds them into the reference's counter shape.
  *
  * It also keeps each query's batch phase durations (progress
  * `durationMs`, see [[MetricsListener.Phases]]): the last value and the
  * median over the most recent [[MetricsListener.Window]] batches.
  * Progress events of triggers that ran no batch (idle polls, which
  * report no `addBatch`) are left out of the phases so they don't dilute
  * the medians.
  */
final class MetricsListener extends StreamingQueryListener {

  private val in = mutable.Map.empty[java.util.UUID, Long]
  private val batches = mutable.Map.empty[java.util.UUID, Long]
  private val phaseMs =
    mutable.Map.empty[(java.util.UUID, String), mutable.Queue[Long]]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val id = e.progress.id
    in(id) = in.getOrElse(id, 0L) + e.progress.numInputRows
    batches(id) = batches.getOrElse(id, 0L) + 1
    val d = e.progress.durationMs
    if (d.containsKey("addBatch"))
      MetricsListener.Phases.filter(d.containsKey).foreach { p =>
        val q = phaseMs.getOrElseUpdate((id, p), mutable.Queue.empty[Long])
        q += d.get(p).longValue
        if (q.size > MetricsListener.Window) q.dequeue()
      }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def eventsIn(queryId: java.util.UUID): Long =
    synchronized(in.getOrElse(queryId, 0L))
  def batchCount(queryId: java.util.UUID): Long =
    synchronized(batches.getOrElse(queryId, 0L))
  def totalEventsIn: Long = synchronized(in.values.sum)

  /** The query's batch phase durations, keyed by phase name; a phase
    * its batches never reported is absent.
    */
  def phases(queryId: java.util.UUID): Map[String, PhaseStats] =
    synchronized {
      MetricsListener.Phases.flatMap { p =>
        phaseMs.get((queryId, p)).map { q =>
          val sorted = q.toVector.sorted
          val n = sorted.size
          val median =
            if (n % 2 == 1) sorted(n / 2).toDouble
            else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
          p -> PhaseStats(q.last, median, n)
        }
      }.toMap
    }
}

/** One batch phase of one query: the last batch's duration, the median
  * over the `samples` most recent batches, in milliseconds.
  */
final case class PhaseStats(lastMs: Long, medianMs: Double, samples: Int)

object MetricsListener {
  /** The `durationMs` phases kept: the whole trigger, then planning,
    * the sink, and the offset-log and commit-log writes.
    */
  val Phases: Seq[String] = Seq("triggerExecution", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")

  /** Batches per query and phase that the medians cover. */
  val Window = 256
}

object Metrics {
  /** Install a metrics listener on the session and return it. */
  def install(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.streams.addListener(l)
    l
  }
}
