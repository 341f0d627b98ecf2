package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.EventEnvelope
import graft.streaming.{PubSub, QueryBuilder, TypedOps}

/** The README's publish → drain usage as a closed loop: each round
  * publishes 1 000 seeded Double events into a topic read by
  * `from(topic).connectTo(greater).connectTo(map)` and drains the query.
  * Every event above the threshold must reach the subscriber exactly
  * once with the mapped value.
  */
object PubSubRoundtrip extends Workload {
  val name = "pubsub_roundtrip"
  val EventsPerRound = 1000
  val Threshold = 100.0
  // round latency keeps falling for about the first hundred rounds as
  // the JIT compiles the per-batch path; a fixed count of untimed rounds
  // starts every run's timed window at the same point of that curve
  // (past its steep part: a hundred rounds cost more set-up time than the
  // benchmark's time budget allows)
  val WarmupRounds = 50
  def mapped(x: Double): Double = x * 2.0 + 1.0

  def run(spark: SparkSession, run: Run): Unit = {
    val rnd = new scala.util.Random(run.seed)
    val ps = new PubSub(spark)
    val topic = ps.topic[Double]("roundtrip")
    val delivered = mutable.ArrayBuffer.empty[Double]
    @volatile var lastCallbackNs = 0L
    val query = run.timeSetup("streaming.subscribe_s") {
      QueryBuilder[Double](ps).from("roundtrip")
        .connectTo(TypedOps.greater(Threshold))
        .connectTo(TypedOps.map[Double, Double](mapped))
        .build()
        .subscribe { evs =>
          delivered.synchronized(delivered ++= evs.map(_.content))
          lastCallbackNs = run.nowNs
        }
        .run()
    }
    var published = 0L

    def round(i: Int): Long = {
      val values = Array.fill(EventsPerRound)(rnd.nextDouble() * 1000.0)
      val events = values.toSeq.map { v =>
        published += 1
        EventEnvelope.at(new Timestamp(1700000000000L + published), v)
      }
      delivered.synchronized(delivered.clear())
      run.span("round", "round" -> i) {
        run.span("publish")(topic.publish(events))
        val drainStart = run.nowNs
        run.span("drain")(query.drain())
        run.spanAt("callback", drainStart, lastCallbackNs.max(drainStart))
      }
      val expect = values.filter(_ > Threshold).map(mapped).sorted
      val got = delivered.synchronized(delivered.toArray).sorted
      run.check(java.util.Arrays.equals(expect, got),
        s"round $i: expected ${expect.length} events (sum ${expect.sum}), " +
          s"got ${got.length} (sum ${got.sum})")
      EventsPerRound
    }

    run.beginWarmup()
    (0 until WarmupRounds).foreach(i => round(-1 - i))
    run.endSetup() // the heap holds the warm-up's 50 000 events here
    run.measure()(round)
    query.close()
  }
}
