package graft.streaming

/** Spec access to the subscription sink's package-private state. */
object SinkProbe {
  /** Subscriptions the sink's registry holds. */
  def registered: Int = CallbackSink.registered

  /** Times `s`'s deserializer was bound. */
  def binds(s: Subscription[_]): Int = CallbackSink.binds(s.sinkId)

  /** The sink `s`'s query reported in its last progress, and the name the
    * graft sink gives itself.
    */
  def reportedSink(s: Subscription[_]): String =
    s.query.lastProgress.sink.description
  def graftSink(s: Subscription[_]): String = CallbackSink.describe(s.sinkId)

  /** Where `s`'s query keeps its checkpoint. */
  def checkpointRoot(s: Subscription[_]): String = s.query
    .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
    .streamingQuery.resolvedCheckpointRoot
}
