package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.operators.Drift
import graft.streaming._

/** Streaming per-window PSI drift (TemporalOps.qualityDriftByWindow):
  * per-window bin counts must equal the batch binning of the same
  * documents, and a window whose quality mix shifts away from the
  * baseline must score a higher PSI total than one matching it.
  */
class DriftStreamSpec extends AnyFunSuite with LocalSparkSuite {

  private val base = 1700000000000L
  private def ts(sec: Int) = new Timestamp(base + sec * 1000L)

  test("windowed drift: bin counts match batch binning per window, and " +
      "the shifted window's PSI total exceeds the matching window's") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val baseline = Drift.fitBaseline(docs, col("text"))
    val fixtureTexts = docs.select("text").as[String].take(40).toSeq
    val junk = (1 to 40).map(i => s"!!!$i ???$i ;;;$i")

    val ps = new PubSub(spark)
    val t = ps.topic[String](s"drift-${System.nanoTime()}")
    val out = TemporalOps.qualityDriftByWindow("10 seconds", baseline)(t.stream)
    val buf = mutable.Buffer.empty[Row]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }.start()
    // window [0,10): fixture-like mix; window [10,20): junk-heavy
    t.publish(fixtureTexts.zipWithIndex.map { case (x, i) =>
      EventEnvelope.at(ts(i % 10), x)
    })
    t.publish(junk.zipWithIndex.map { case (x, i) =>
      EventEnvelope.at(ts(10 + i % 10), x)
    })
    t.publish(Seq(EventEnvelope.at(ts(60), "flush")))
    q.processAllAvailable()
    q.stop(); ps.close()

    def rowsOf(winSec: Int) = buf
      .filter(_.getAs[Timestamp]("window_start") == ts(winSec))
    val w0 = rowsOf(0)
    val w1 = rowsOf(10)
    assert(w0.size == Drift.Bins && w1.size == Drift.Bins,
      s"expected ${Drift.Bins} rows per closed window: ${buf.size}")

    // batch model of the bin counts for each window's documents
    def batchBins(texts: Seq[String]): Map[Long, Long] =
      texts.toDF("text").select(Drift.qualityBin(col("text")).as("b"))
        .groupBy("b").count().as[(Long, Long)].collect().toMap
    val exp0 = batchBins(fixtureTexts)
    val exp1 = batchBins(junk)
    w0.foreach(r => assert(r.getAs[Long]("n_bin") ==
      exp0.getOrElse(r.getAs[Long]("bin"), 0L), s"w0 bins diverged: $w0"))
    w1.foreach(r => assert(r.getAs[Long]("n_bin") ==
      exp1.getOrElse(r.getAs[Long]("bin"), 0L), s"w1 bins diverged: $w1"))

    val psi0 = w0.map(_.getAs[Double]("psi_term")).sum
    val psi1 = w1.map(_.getAs[Double]("psi_term")).sum
    assert(psi1 > psi0 + 0.25,
      s"junk window PSI ($psi1) did not clearly exceed the matching " +
        s"window's ($psi0)")
    assert(psi0 < 0.25, s"baseline-matching window over the alert line: $psi0")
  }
}
