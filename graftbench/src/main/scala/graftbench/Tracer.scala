package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Client spans come from timing graft's
  * public calls on the client thread; batch, job and stage records come
  * from a StreamingQueryListener and a SparkListener registered on the
  * run's own session. All of it stays in memory until exit; run.py nests
  * the listener records under the client span that was open when they
  * started and derives self times from the tree.
  */
final class Tracer(run: Run) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var active = false

  def span[A](name: String, attrs: Map[String, Any])(body: => A): A =
    if (!active) body
    else {
      val s = synchronized {
        val s = Span(spans.size, open.headOption.fold(-1)(_.id), name,
          run.nowNs, 0L, attrs)
        spans += s
        open.push(s)
        s
      }
      try body finally synchronized {
        s.endNs = run.nowNs
        open.pop()
      }
    }

  def record(name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any]): Unit = if (active) synchronized {
    spans += Span(spans.size, open.headOption.fold(-1)(_.id), name,
      startNs, endNs, attrs)
  }

  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var events = 0L // listener events seen, to tell when the bus is idle

  private val streamingListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Tracer.this.synchronized {
        events += 1
        batches += Map(
          "batch_id" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap,
          "input_rows" -> p.numInputRows)
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        events += 1
        jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start_ms" -> e.time,
          "end_ms" -> e.time)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        events += 1
        jobs.get(e.jobId).foreach(_("end_ms") = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        events += 1
        taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      Tracer.this.synchronized {
        events += 1
        val durs = taskMs.remove((i.stageId, i.attemptNumber()))
          .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        stages += Map(
          "id" -> i.stageId,
          "submit_ms" -> i.submissionTime.getOrElse(0L),
          "end_ms" -> i.completionTime.getOrElse(0L),
          "tasks" -> i.numTasks,
          "task_time_ms" -> (if (m == null) 0L else m.executorRunTime),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> (if (m == null) 0L
            else m.memoryBytesSpilled + m.diskBytesSpilled),
          "max_task_ms" -> durs.lastOption.getOrElse(0L),
          "median_task_ms" ->
            (if (durs.isEmpty) 0L else durs(durs.size / 2)))
      }
    }
  }

  private def spark = SparkSession.active

  def start(): Unit = {
    spark.streams.addListener(streamingListener)
    spark.sparkContext.addSparkListener(sparkListener)
    active = true
  }

  /** Stop tracing once the listener bus has delivered what it holds:
    * no new event for three polls in a row.
    */
  def stop(): Unit = {
    active = false
    var seen = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(25)
      val now = synchronized(events)
      if (now == seen) quiet += 1 else { quiet = 0; seen = now }
    }
    spark.streams.removeListener(streamingListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def snapshot: Map[String, Any] = synchronized(Map(
    "spans" -> spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)),
    "batches" -> batches.toSeq,
    "jobs" -> jobs.values.toSeq.map(_.toMap),
    "stages" -> stages.toSeq))
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, var endNs: Long, attrs: Map[String, Any])
}
