package graft.streaming

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Dataset

import graft.core.EventEnvelope

/** Fluent query builder + continuous-query lifecycle (reference:
  * pkg/processing/query_builder.go:31-243 and continuous_query.go).
  *
  * The reference's builder defers stream/operator creation into closures
  * and materializes them on Build; here the "plan" IS the composed
  * Dataset (Catalyst is the plan IR — SURVEY §3.1), and Build/Run manage
  * the StreamingQuery handles. Multi-input frontiers union homogeneous
  * streams (the reference's fan-in, query_builder.go:183-189); DAG
  * fan-out is a native property of reusing a Dataset value
  * (CreateFanOutStream, :139-155).
  */
final class QueryBuilder[T: TypeTag] private[streaming] (
    val pubsub: PubSub,
    private val frontier: Seq[Dataset[EventEnvelope[T]]]) {

  /** Add another source stream to the frontier (reference From/AddInput,
    * query_builder.go:64-84).
    */
  def from(topicName: String): QueryBuilder[T] =
    new QueryBuilder[T](pubsub,
      frontier :+ pubsub.topic[T](topicName).stream)

  def fromDataset(ds: Dataset[EventEnvelope[T]]): QueryBuilder[T] =
    new QueryBuilder[T](pubsub, frontier :+ ds)

  /** Merge another builder's frontier into this one (reference Merge,
    * query_builder.go:87-122).
    */
  def merge(other: QueryBuilder[T]): QueryBuilder[T] =
    new QueryBuilder[T](pubsub, frontier ++ other.frontier)

  /** Pipe the frontier through an operator (reference ConnectTo,
    * query_builder.go:124-137). A multi-stream frontier is fanned in by
    * union first — the reference's FanInOperatorEngine consumes the whole
    * frontier the same way.
    */
  def connectTo[U: TypeTag](op: TypedOps.Op[T, U]): QueryBuilder[U] = {
    require(frontier.nonEmpty, "no input streams — call from() first")
    new QueryBuilder[U](pubsub, Seq(op(fanIn)))
  }

  /** The unioned frontier (reference fan-in merge). */
  def fanIn: Dataset[EventEnvelope[T]] =
    frontier.reduceLeft(_ unionByName _)

  /** Fan the current frontier out through an operator into n independent
    * downstream builders (reference CreateFanOutStream,
    * query_builder.go:139-155). In Spark a Dataset value IS the fan-out
    * point — each returned builder reuses the same upstream plan, and
    * Catalyst/micro-batching evaluate the shared prefix per sink.
    */
  def fanOut[U: TypeTag](op: TypedOps.Op[T, U], n: Int): Seq[QueryBuilder[U]] = {
    require(n > 0)
    val out = op(fanIn)
    Seq.fill(n)(new QueryBuilder[U](pubsub, Seq(out)))
  }

  /** Validate the single-terminal-stream rule and produce the runnable
    * query (reference Build, query_builder.go:197-243; ErrAmbiguousOutput
    * :208-210).
    */
  def build(): ContinuousQuery[T] = {
    if (frontier.size != 1)
      throw new IllegalStateException(
        s"ambiguous output: ${frontier.size} terminal streams (expected 1)")
    new ContinuousQuery[T](pubsub, frontier.head)
  }
}

object QueryBuilder {
  /** NewBuilder (reference: query_builder.go:31-37). */
  def apply[T: TypeTag](pubsub: PubSub): QueryBuilder[T] =
    new QueryBuilder[T](pubsub, Seq.empty)
}

/** A built continuous query: subscribe sinks, run, close (reference:
  * TypedContinuousQuery, continuous_query.go:34-161). Subscriptions
  * attach PubSub subscriber sinks; Run starts them; Close stops them. The
  * global registry mirrors the reference's QueryRepository
  * (query_repository.go:65-78).
  */
final class ContinuousQuery[T] private[streaming] (
    val pubsub: PubSub,
    val output: Dataset[EventEnvelope[T]]) {

  private val callbacks =
    mutable.ListBuffer.empty[Seq[EventEnvelope[T]] => Unit]
  private val subscriptions = mutable.ListBuffer.empty[Subscription[T]]
  private var running = false
  private val queryId = java.util.UUID.randomUUID().toString

  private def ckptName(i: Int) = s"graft-query-$queryId-cb$i"

  /** Attach a consumer to the terminal stream (reference Subscribe,
    * continuous_query.go:103-116). Effective on (next) Run.
    */
  def subscribe(cb: Seq[EventEnvelope[T]] => Unit): ContinuousQuery[T] =
    synchronized {
      callbacks += cb
      if (running) subscriptions += pubsub.subscribe(output,
        Some(ckptName(callbacks.size - 1)), releaseOnClose = false)(cb)
      this
    }

  /** Start all sinks (reference Run, continuous_query.go:118-139). */
  def run(): ContinuousQuery[T] = synchronized {
    if (!running) {
      running = true
      // releaseOnClose=false: restart() re-runs these sinks over the
      // same consumer, resuming from committed offsets — close() here
      // is not necessarily terminal for the underlying source
      callbacks.zipWithIndex.foreach { case (cb, i) =>
        subscriptions += pubsub.subscribe(output, Some(ckptName(i)),
          releaseOnClose = false)(cb)
      }
      QueryRepository.register(this)
    }
    this
  }

  /** Wait until all published events have flowed through every sink. */
  def drain(): Unit = synchronized(subscriptions.toList)
    .foreach(_.drain())

  /** Drain-stop-restart — the Spark analogue of the reference's hot
    * stream migration (migrateStream waits for the old coordinator to
    * drain before swapping, stream.go:109-123, 179-189). Publishers keep
    * publishing into the topic throughout; events landing between stop
    * and restart are delivered by the restarted sinks' first batch.
    */
  def restart(): ContinuousQuery[T] = {
    drain()
    close()
    run()
  }

  /** Stop sinks and deregister (reference Close,
    * continuous_query.go:142-161).
    */
  def close(): Unit = synchronized {
    subscriptions.foreach(_.close())
    subscriptions.clear()
    running = false
    QueryRepository.deregister(this)
  }
}

/** Global registry of running queries (reference: QueryRepository,
  * pkg/processing/query_repository.go).
  */
object QueryRepository {
  private val queries = mutable.Set.empty[ContinuousQuery[_]]
  def register(q: ContinuousQuery[_]): Unit = synchronized { queries += q }
  def deregister(q: ContinuousQuery[_]): Unit = synchronized { queries -= q }
  def all: Set[ContinuousQuery[_]] = synchronized(queries.toSet)
  def closeAll(): Unit = synchronized(queries.toList).foreach(_.close())
}
