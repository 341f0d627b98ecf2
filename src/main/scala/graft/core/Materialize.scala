package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Materialize-once: the only code that caches, checkpoints or releases
  * an intermediate frame. Its two kinds differ in when storage may go.
  *
  *  - A PIN ([[pin]]) is `cache()`. It keeps its lineage, so a released
  *    pin is recomputed by any later action; it may therefore be
  *    released after the result's FIRST action ([[releaseAfterFirstUse]]):
  *    bounded executor storage over repeat-action speed.
  *  - A CHECKPOINT ([[checkpoint]]) is `localCheckpoint`. It truncates
  *    the lineage and cannot be recomputed, so it is freed only when
  *    nothing reads it any more: a superseded loop generation, or a frame
  *    abandoned on a throw path ([[freeOnThrow]]). One the returned plan
  *    still reads is left to Spark's ContextCleaner, which drops it once
  *    the frame is garbage collected.
  *
  * Eagerness is chosen per call: eager runs one job now; lazy
  * materializes inside the first action that reads the frame.
  */
object Materialize {

  /** Cache `df`; with `eager`, count it now so that every join planned
    * over it sees the InMemoryRelation's measured bytes. Catalyst's
    * size-only estimate carries a scan's bytes through `explode`
    * unchanged, so an exploded corpus-sized frame can plan as a
    * broadcast build: at mult=300 the shingle self-join aborted at the
    * 8 GiB broadcast limit (SCALE.md, "The repair is a stats fix"). The
    * count is one more job, not more work: the first action would fill
    * the cache anyway.
    */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val pinned = df.cache()
    if (eager) pinned.count()
    pinned
  }

  /** `localCheckpoint(eager)`: cut `df`'s lineage. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    df.localCheckpoint(eager)

  /** True when `df` is itself a checkpoint (its analyzed plan is the
    * LogicalRDD `localCheckpoint` returns); a frame derived from one is
    * not.
    */
  def isCheckpoint(df: DataFrame): Boolean = checkpointRdd(df).nonEmpty

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Release `df`'s storage now, whichever kind it is. A checkpoint's
    * blocks belong to its RDD, which `unpersist()` on the frame does not
    * reach. Free a checkpoint only when no live frame reads it.
    */
  def free(df: DataFrame): Unit = {
    checkpointRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist()
    }
    ()
  }

  /** Run `body`; if it throws, free `frames` and rethrow. */
  def freeOnThrow[A](frames: DataFrame*)(body: => A): A =
    try body
    catch { case e: Throwable => frames.foreach(free); throw e }

  /** Release `pins` after the first successful action whose analyzed
    * plan contains `result`'s (a derived frame's action counts). An
    * operator cannot release before it returns, since its lazy result
    * reads the pins, and never releasing leaks executor storage across a
    * long-lived session.
    *
    * @throws IllegalArgumentException if a frame is a checkpoint: it
    *   could not be recomputed, so a second action would fail
    */
  def releaseAfterFirstUse(result: DataFrame, pins: DataFrame*)
      : DataFrame = {
    pins.foreach(p => require(!isCheckpoint(p),
      "releaseAfterFirstUse takes pins only: a released checkpoint " +
        "cannot be recomputed, so later actions on the result would fail"))
    val session = result.sparkSession
    val target = result.queryExecution.analyzed
    val done = new AtomicBoolean(false)
    lazy val listener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.exists(_.sameResult(target)) &&
            done.compareAndSet(false, true)) {
          pins.foreach(free)
          session.listenerManager.unregister(listener)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    result
  }
}
