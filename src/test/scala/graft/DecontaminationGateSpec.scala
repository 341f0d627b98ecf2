package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.operators.Decontamination
import graft.streaming._

/** Streaming decontamination gate (TypedOps.decontaminationGate):
  * planted-overlap semantics and stream-vs-batch passage parity on the
  * fixture corpus.
  */
class DecontaminationGateSpec extends AnyFunSuite with LocalSparkSuite {

  private def stream(texts: Seq[String], buckets: Set[Long],
      minShared: Int): Seq[String] = {
    val ps = new PubSub(spark)
    val t = ps.topic[String](s"decon-${System.nanoTime()}")
    val out = TypedOps.decontaminationGate(buckets, 3, minShared)(t.stream)
    val buf = mutable.Buffer.empty[String]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    texts.grouped(101).foreach { batch =>
      t.publish(batch.map(EventEnvelope.of).toSeq)
      q.processAllAvailable()
    }
    q.stop(); ps.close()
    buf.toSeq
  }

  test("planted overlaps: >=2 shared 3-gram shingles drops, 1 passes, " +
      "disjoint passes") {
    import spark.implicits._
    val evalText = "w1 w2 w3 w4 w5" // shingles: w1w2w3, w2w3w4, w3w4w5
    val buckets = Decontamination.fitBuckets(
      Seq(evalText).toDF("text"), col("text"))
    assert(buckets.size == 3)
    val twoShared = "x0 w1 w2 w3 w4 x9" // shares w1w2w3 + w2w3w4
    val oneShared = "x0 x1 w1 w2 w3 x9" // shares only w1w2w3
    val disjoint = "y1 y2 y3 y4 y5"
    val passed = stream(Seq(twoShared, oneShared, disjoint), buckets, 2)
    assert(!passed.contains(twoShared), "contaminated doc passed the gate")
    assert(passed.toSet == Set(oneShared, disjoint), s"got $passed")
  }

  test("stream passage equals the batch filter on the fixture corpus " +
      "with the src19 eval suite") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val buckets = Decontamination.fitBuckets(
      docs.where(col("source") === "src19"), col("text"))
    val train = docs.where(col("source") =!= "src19")
    val expected = train
      .where(Decontamination.hitCount(col("text"), buckets) < 2)
      .select("text").as[String].collect().toSet
    val dropped = train.count() - expected.size
    assert(dropped > 0,
      "fixture produced no contaminated train docs — parity would be vacuous")
    val passed = stream(
      train.select("text").as[String].collect().toSeq, buckets, 2)
    assert(passed.toSet == expected,
      s"stream passed ${passed.size}, batch ${expected.size}")
  }
}
