package graft.streaming

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{Column, SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The streaming sink behind every PubSub subscription: a DSv2
  * `STREAMING_WRITE` table whose tasks copy their rows into the
  * `WriterCommitMessage` and whose driver-side `commit(epochId, messages)`
  * decodes them and hands them to the subscription's callback.
  *
  * It replaces `foreachBatch { batch.collect() }`, which built, analysed,
  * optimized and planned a second Dataset over every micro-batch just to
  * collect it: that driver work was most of a round trip's `addBatch`,
  * while the batch's one task took a couple of milliseconds. Here the
  * micro-batch's own plan runs the write job, and the typed deserializer
  * is bound once, at subscribe time, against the subscribed Dataset's
  * analyzed output.
  *
  * `DataStreamWriter` builds a provider by class name, so the callback
  * cannot travel with the provider; [[start]] registers it under a
  * per-subscription id passed as a sink option, and the provider looks it
  * up once when the query starts. `Subscription.close` calls [[release]]
  * on every path.
  *
  * Delivery is what the foreachBatch sink did: the callback runs on the
  * stream thread, after the batch's job and before its commit-log entry,
  * so a restarted query over the same checkpoint re-runs an undelivered
  * batch and never a delivered one. Rows reach `deliver` in partition
  * order, each partition in its input order.
  */
private[streaming] final class CallbackSink extends TableProvider {
  import CallbackSink._

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    target(options.get(IdOption)).schema

  // the writer passes the query's schema; no inference round trip
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SinkTable(properties.get(IdOption), target(properties.get(IdOption)))
}

private[streaming] object CallbackSink {
  private val IdOption = "subscription"
  private val nextId = new AtomicLong

  /** One subscription's driver end: its rows' schema, their deserializer
    * bound once, and the delivery of one micro-batch's decoded rows.
    */
  private final class Target[A](ds: Dataset[A], deliver: Seq[A] => Unit,
      val tempCheckpoint: Option[Path]) {
    val binds = new AtomicInteger
    private val attrs = ds.queryExecution.analyzed.output
    val schema: StructType = ds.queryExecution.analyzed.schema
    private val decode: InternalRow => A = {
      binds.incrementAndGet()
      encoderFor(ds.encoder).resolveAndBind(attrs).createDeserializer()
    }
    def commit(messages: Array[WriterCommitMessage]): Unit =
      deliver(messages.iterator.flatMap { case m: Rows => m.rows.iterator }
        .map(decode).toVector)
  }

  private val targets = new ConcurrentHashMap[String, Target[_]]()

  private def target(id: String): Target[_] = Option(targets.get(id))
    .getOrElse(throw new IllegalStateException(
      s"no live subscription '$id' for ${classOf[CallbackSink].getName}"))

  /** Start `ds` into a new sink. Every committed micro-batch reaches
    * `deliver` on the stream thread, decoded, empty batches included.
    * `checkpoint` is the query's checkpoint location; without one, and
    * without a session default, the query gets a temporary one that
    * [[release]] deletes. Returns the query and the id to release.
    */
  def start[A](ds: Dataset[A], checkpoint: Option[String])(
      deliver: Seq[A] => Unit): (StreamingQuery, String) = {
    val temp =
      if (checkpoint.isEmpty && ds.sparkSession.conf
          .getOption("spark.sql.streaming.checkpointLocation").isEmpty)
        Some(Files.createTempDirectory("graft-subscription-"))
      else None
    val id = s"sub-${nextId.incrementAndGet()}"
    targets.put(id, new Target(ds, deliver, temp))
    try {
      val w = ds.writeStream.format(classOf[CallbackSink].getName)
        .outputMode("append")
        .option(IdOption, id)
      val q = checkpoint.orElse(temp.map(_.toString))
        .fold(w)(c => w.option("checkpointLocation", c))
        .start()
      (q, id)
    } catch {
      case e: Throwable => release(id); throw e
    }
  }

  /** Forget a subscription's callback and delete its temporary
    * checkpoint; idempotent. Call after its query has stopped.
    */
  def release(id: String): Unit =
    Option(targets.remove(id)).flatMap(_.tempCheckpoint)
      .filter(Files.exists(_)).foreach(dir =>
      Using.resource(Files.walk(dir))(
        _.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))))

  /** Live subscriptions in the registry. */
  def registered: Int = targets.size

  /** Times the subscription's deserializer was bound: 1 while it lives. */
  def binds(id: String): Int = target(id).binds.get

  /** The table's name, which the query's progress reports as its sink. */
  def describe(id: String): String = s"GraftCallbackSink[$id]"

  private final class SinkTable(id: String, t: Target[_])
      extends SupportsWrite {
    override def name(): String = describe(id)
    override def toString: String = name()
    override def columns(): Array[Column] =
      t.schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable))
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

    // Spark asks for a new write on every micro-batch; hand out the same
    // one, after checking that the rows still match the bound decoder
    private val epochs = new StreamingWrite {
      private val factory = new RowsWriterFactory(t.schema)
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = factory
      // the writers only copy rows, so a retried task needs no arbitration
      override def useCommitCoordinator(): Boolean = false
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = t.commit(messages)
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = ()
    }
    private val write = new Write {
      override def description(): String = name()
      override def toStreaming(): StreamingWrite = epochs
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      if (info.schema() != t.schema)
        throw new IllegalStateException(
          s"${name()}: micro-batch schema ${info.schema().simpleString} " +
            s"differs from the subscribed ${t.schema.simpleString}")
      new WriteBuilder { override def build(): Write = write }
    }
  }

  /** One task's rows, copied, on their way to the driver. */
  private final class Rows(val rows: Array[UnsafeRow])
    extends WriterCommitMessage

  private final class RowsWriterFactory(schema: StructType)
      extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private val rows = mutable.ArrayBuffer.empty[UnsafeRow]
      private lazy val toUnsafe = UnsafeProjection.create(schema)
      override def write(r: InternalRow): Unit = rows += (r match {
        case u: UnsafeRow => u.copy()
        case other => toUnsafe(other).copy()
      })
      override def commit(): WriterCommitMessage = new Rows(rows.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
