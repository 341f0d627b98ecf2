package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.streaming.StatefulOps

/** Every window-sequencer entry point of `StatefulOps` rejects a bad
  * argument by name, before it builds a plan: a bad count or shift for
  * the counting pair; a bad length, slide or lateness for the four
  * gapless ones; an empty fan-in for the two multi-input ones.
  */
class SequencerArgsSpec extends AnyFunSuite with LocalSparkSuite {

  private lazy val ds: Dataset[EventEnvelope[String]] =
    spark.emptyDataset(ExpressionEncoder[EventEnvelope[String]]())

  private val key = (e: EventEnvelope[String]) => e.content

  private def counting(n: Int, shift: Int): Seq[(String, () => Any)] = Seq(
    "countingWindows" -> (() => StatefulOps.countingWindows(n, shift)(ds)),
    "countingWindowsByKey" ->
      (() => StatefulOps.countingWindowsByKey(n, shift)(key)(ds)))

  private def gapless(lengthMs: Long, slideMs: Long, latenessMs: Long,
      inputs: () => Seq[Dataset[EventEnvelope[String]]] = () => Seq(ds))
      : Seq[(String, () => Any)] = {
    val single = Seq(
      "temporalBatchesGapless" -> (() => StatefulOps.temporalBatchesGapless(
        lengthMs, slideMs, latenessMs = latenessMs)(ds)),
      "temporalBatchesGaplessByKey" -> (() =>
        StatefulOps.temporalBatchesGaplessByKey(
          lengthMs, slideMs, latenessMs = latenessMs)(key)(ds)))
    val fanIn = Seq(
      "temporalBatchesGaplessMulti" -> (() =>
        StatefulOps.temporalBatchesGaplessMulti(
          lengthMs, slideMs, latenessMs = latenessMs)(inputs())),
      "temporalBatchesGaplessMultiByKey" -> (() =>
        StatefulOps.temporalBatchesGaplessMultiByKey(
          lengthMs, slideMs, latenessMs = latenessMs)(key)(inputs())))
    single ++ fanIn
  }

  /** (the bad argument's name, the entry points called with it). */
  private val badArgs: Seq[(String, Seq[(String, () => Any)])] = Seq(
    "n" -> counting(n = 0, shift = 1),
    "n" -> counting(n = -3, shift = 1),
    "shift" -> counting(n = 2, shift = 0),
    "lengthMs" -> gapless(lengthMs = 500L, slideMs = 0L, latenessMs = 0L),
    "slideMs" -> gapless(lengthMs = 10000L, slideMs = -1000L, latenessMs = 0L),
    "slideMs" -> gapless(lengthMs = 10000L, slideMs = 500L, latenessMs = 0L),
    "latenessMs" -> gapless(lengthMs = 10000L, slideMs = 0L, latenessMs = -1L),
    "inputs" -> gapless(lengthMs = 10000L, slideMs = 0L, latenessMs = 0L,
      inputs = () => Seq.empty).filter(_._1.contains("Multi")))

  for (((arg, calls), row) <- badArgs.zipWithIndex; (entry, call) <- calls)
    test(s"$entry names the bad $arg in its error (case $row)") {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.matches(s"requirement failed: $arg\\b.*"),
        e.getMessage)
    }
}
