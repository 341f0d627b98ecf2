package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.operators.Importance
import graft.streaming._

/** The two DSIR formulations must agree everywhere: the fitted-artifact
  * map-literal fold (Importance.logw) against the all-in-one distributed
  * plan (q_importance_weights), and the streaming gate against the batch
  * filter on the same documents.
  */
class ImportanceGateSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val lm =
    Importance.fit(docs, col("text"), col("source") === "src0")

  test("the fitted map-literal fold reproduces q_importance_weights' " +
      "logw for every document") {
    import spark.implicits._
    val viaQuery = SparkEntry.queries("q_importance_weights")(spark, dir)
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    val viaArtifact = docs
      .select(col("doc_id"), Importance.logw(col("text"), lm).as("w"))
      .as[(Long, Double)].collect().toMap
    assert(viaQuery.nonEmpty)
    // the query omits token-less docs; the column scores them as 0.0
    viaQuery.foreach { case (id, w) =>
      assert(viaArtifact(id) == w, s"doc $id: artifact ${viaArtifact(id)} != query $w")
    }
  }

  test("an unseen bucket falls back to the smoothed default, not zero") {
    // at sf0.001 not every bucket is observed; the default must be the
    // smoothed log-ratio (a nonzero integer unless tt == ts)
    assert(lm.dw.size <= Importance.Buckets)
    assert(lm.default != 0L,
      "smoothed default is zero — target and source totals would have to tie")
  }

  test("the streaming gate passes exactly the documents the batch " +
      "filter passes") {
    import spark.implicits._
    val threshold = {
      // median logw: a threshold that actually splits the corpus
      val ws = docs.select(Importance.logw(col("text"), lm).as("w"))
        .as[Double].collect().sorted
      ws(ws.length / 2)
    }
    val expected = docs
      .where(Importance.logw(col("text"), lm) >= threshold)
      .select("text").as[String].collect().toSet
    assert(expected.nonEmpty && expected.size < docs.count(),
      "threshold failed to split the corpus — the parity check would be vacuous")

    val ps = new PubSub(spark)
    val t = ps.topic[String](s"impgate-${System.nanoTime()}")
    val out = TypedOps.importanceGate(lm, threshold)(t.stream)
    val buf = mutable.Buffer.empty[String]
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[EventEnvelope[String]], _: Long) =>
        buf.synchronized { buf ++= b.collect().map(_.content) }; ()
      }.start()
    val texts = docs.select("text").as[String].collect()
    texts.grouped(97).foreach { batch =>
      t.publish(batch.map(EventEnvelope.of).toSeq)
      q.processAllAvailable()
    }
    q.stop(); ps.close()
    assert(buf.toSet == expected,
      s"gate passed ${buf.size} docs, batch filter ${expected.size}")
  }
}
