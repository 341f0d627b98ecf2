package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.Ann

/** Offline k-means trainer (Ann.kmeansTrain): Lloyd's invariants —
  * within-cluster SSE never increases across iterations, training is
  * deterministic, empty clusters carry their previous centroid — plus
  * the payoff claim: trained centroids beat the naive id-sample
  * centroids on IVF recall against brute force.
  */
class KMeansSpec extends AnyFunSuite with LocalSparkSuite {

  private val SfDir = "/root/testdata/sf0.001"

  private def emb: DataFrame =
    graft.queries.Tables.load(spark, SfDir, "embeddings")

  /** Total within-cluster squared-L2 against a centroid frame. */
  private def sse(centroids: DataFrame): Double = {
    val cn = centroids.select(col("cluster_id"), col("cvec"),
      VectorFunctions.dot(col("cvec"), col("cvec")).as("cn"))
    emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vn", VectorFunctions.dot(col("v"), col("v")))
      .crossJoin(broadcast(cn))
      .select(col("vec_id"),
        (col("vn") - lit(2.0) * VectorFunctions.dot(col("v"), col("cvec")) +
          col("cn")).as("d2"))
      .groupBy("vec_id").agg(min("d2").as("d2"))
      .agg(sum("d2")).head.getDouble(0)
  }

  test("Lloyd iterations never increase the within-cluster SSE") {
    val k = 8
    val sses = (0 to 3).map(i => sse(Ann.kmeansTrain(emb, k, i)))
    sses.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"SSE increased across an iteration: $sses")
    }
    // and training genuinely moves: the id-sample init is not already
    // a fixed point on this fixture
    assert(sses.last < sses.head, s"training never improved: $sses")
  }

  test("training is deterministic: two runs produce identical centroids") {
    val a = Ann.kmeansTrain(emb, 8, 2).orderBy("cluster_id").collect()
    val b = Ann.kmeansTrain(emb, 8, 2).orderBy("cluster_id").collect()
    assert(a.map(_.getLong(0)).sameElements(b.map(_.getLong(0))))
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra.getSeq[Double](1) == rb.getSeq[Double](1),
        s"centroid drift for cluster ${ra.getLong(0)}")
    }
  }

  test("an empty cluster keeps its previous centroid instead of vanishing") {
    // plant an init with one unreachable centroid: far outside the data
    // shell, so no vector assigns to it
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val far = Seq.fill(dim)(1e9)
    val near = emb.orderBy("vec_id").limit(1)
      .select(transform(col("embedding"), _.cast("double"))).head
      .getSeq[Double](0)
    import scala.jdk.CollectionConverters._
    val initDf = spark.createDataFrame(
      List(Row(0L, near), Row(1L, far)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val out = Ann.kmeansTrain(emb, 2, 1, init = Some(initDf))
      .orderBy("cluster_id").collect()
    assert(out.length == 2, "the empty cluster was dropped")
    assert(out(1).getSeq[Double](1) == far.toSeq,
      "the empty cluster's centroid moved")
  }

  test("trained centroids cut quantization distortion, balance cells, " +
      "and keep IVF recall healthy") {
    val k = 8
    val naive = Ann.kmeansTrain(emb, k, 0) // id-sample init, untouched
    val trained = Ann.kmeansTrain(emb, k, 3)
    // distortion: the objective Lloyd minimizes — must strictly improve
    assert(sse(trained) < sse(naive),
      s"training did not cut distortion: ${sse(naive)} -> ${sse(trained)}")
    // balance: the IVF scale property (worst cell bounds the worst
    // probe cost); id-sample cells are lopsided on this fixture
    def maxCell(cent: DataFrame): Long = {
      val cells = cent.select(col("cluster_id").as("cell_id"),
        col("cvec").as("cell_emb"))
      Ann.assignCells(emb, cells)
        .groupBy("cell_id").count().agg(max("count")).head.getLong(0)
    }
    assert(maxCell(trained) <= maxCell(naive),
      "training made the worst cell bigger")
    // recall floor: balanced cells cover fewer vectors per probe, so
    // superiority over the lopsided init is NOT guaranteed — but the
    // trained index must stay a usable ANN index
    val queries = emb.where(col("vec_id") < 16)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = Ann.bruteForceTopK(emb, queries, 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = trained.select(col("cluster_id").as("cell_id"),
      col("cvec").as("cell_emb"))
    val got = Ann.ivfTopK(emb, queries, cells, 10, 2)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"trained recall unreasonably low: $recall")
  }
}
