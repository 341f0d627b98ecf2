package graft

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming._

/** Checkpoint compatibility of the six window sequencers: the state each
  * one writes, read back through Spark's `statestore` data source, has
  * the group-key schema of its variant (`Int` for the global ones,
  * `String` for the keyed ones) and the `CountingState`/`GaplessState`
  * value schema, with a timeout column only on the fan-in pair, whose
  * windows close through event-time timeouts. A change to either breaks
  * resuming from a checkpoint written before it.
  */
class SequencerStateSchemaSpec extends AnyFunSuite with LocalSparkSuite {

  private val base = 1700000000000L
  private val key = (e: EventEnvelope[String]) => e.content.take(1)

  /** Runs `build` over a few events into a checkpoint and returns the
    * (key, value) schemas of its state store.
    */
  private def stateSchemas(name: String)(
      build: Dataset[EventEnvelope[String]] => Dataset[_])
      : (StructType, StructType) = {
    val ps = new PubSub(spark)
    try {
      val t = ps.topic[String](s"state-schema-$name")
      val ckpt = tempPath(s"ckpt-$name")
      val q = build(t.stream).writeStream.outputMode("append")
        .format("noop").option("checkpointLocation", ckpt).start()
      t.publish(Seq("a1" -> 1, "b1" -> 3, "a2" -> 35).map { case (v, s) =>
        EventEnvelope.at(new Timestamp(base + s * 1000L), v)
      })
      q.processAllAvailable()
      q.stop()
      val state = spark.read.format("statestore").load(ckpt)
      assert(state.count() > 0, s"$name wrote no state")
      def struct(c: String) = state.schema(c).dataType.asInstanceOf[StructType]
      (struct("key"), struct("value"))
    } finally ps.close()
  }

  private val envelope = ArrayType(StructType(Seq(
    StructField("stamp", StructType(Seq(
      StructField("start_time", TimestampType),
      StructField("end_time", TimestampType),
      StructField("meta", MapType(StringType, StringType))))),
    StructField("content", StringType))), containsNull = true)

  private val countingState = Seq(
    "seen" -> LongType, "head" -> LongType, "win" -> LongType,
    "buf" -> envelope)

  private val gaplessState = Seq(
    "originMs" -> LongType, "nextBucket" -> LongType,
    "maxSeenMs" -> LongType, "buf" -> envelope)

  /** Names and types only: nullability follows the encoder. */
  private def shape(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case m: MapType => MapType(shape(m.keyType), shape(m.valueType))
    case other => other
  }

  /** (entry point, group-key type, state fields, whether the state row
    * carries an event-time timeout, the sequencer).
    */
  private val sequencers: Seq[(String, DataType, Seq[(String, DataType)],
      Boolean, Dataset[EventEnvelope[String]] => Dataset[_])] = Seq(
    ("countingWindows", IntegerType, countingState, false,
      ds => StatefulOps.countingWindows[String](2, 2)(ds)),
    ("countingWindowsByKey", StringType, countingState, false,
      ds => StatefulOps.countingWindowsByKey[String](2, 2)(key)(ds)),
    ("temporalBatchesGapless", IntegerType, gaplessState, false,
      ds => StatefulOps.temporalBatchesGapless[String](10000L)(ds)),
    ("temporalBatchesGaplessByKey", StringType, gaplessState, false,
      ds => StatefulOps.temporalBatchesGaplessByKey[String](10000L)(key)(ds)),
    ("temporalBatchesGaplessMulti", IntegerType, gaplessState, true,
      ds => StatefulOps.temporalBatchesGaplessMulti[String](10000L)(Seq(ds))),
    ("temporalBatchesGaplessMultiByKey", StringType, gaplessState, true,
      ds => StatefulOps.temporalBatchesGaplessMultiByKey[String](10000L)(
        key)(Seq(ds))))

  for ((entry, keyType, state, timeout, build) <- sequencers)
    test(s"$entry keeps its state key and value schemas") {
      val (k, v) = stateSchemas(entry)(build)
      assert(shape(k) == StructType(Seq(StructField("value", keyType))))
      val expected = StructType(state.map { case (n, t) => StructField(n, t) })
      assert(shape(v("groupState").dataType) == shape(expected))
      assert(v.fieldNames.toSeq ==
        Seq("groupState") ++ (if (timeout) Seq("timeoutTimestamp") else Nil))
      if (timeout) assert(v("timeoutTimestamp").dataType == LongType)
    }
}
