package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EventEnvelope
import graft.operators.Ann
import graft.streaming.{AnnStream, PubSub}
import graft.streaming.AnnStream.{AnnHit, VecQuery}

/** Streaming IVF ANN (AnnStream.ivfQueryRelay): micro-batched query
  * waves against a once-assigned corpus must produce EXACTLY the batch
  * ivfTopK results, across multiple waves (query-many), with each hit
  * stamped by its originating query.
  */
class AnnStreamSpec extends AnyFunSuite with LocalSparkSuite {

  test("stream hits equal batch ivfTopK wave-for-wave over a " +
      "once-assigned corpus, stamps carried from the query events") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // same centroid fixture as q_ann_ivf (vec_id % 37 stride)
    val centroids = emb.where(col("vec_id") % 37 === 0 &&
        col("vec_id") < 37L * 64)
      .select((col("vec_id") / 37).cast("long").as("cell_id"),
        col("embedding").as("cell_emb"))
      .cache()
    // assign ONCE; both waves and the batch comparator reuse it
    val cells = Ann.assignCells(emb, centroids).cache()
    val qvecs = emb.where(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble))
      .toMap

    val ps = new PubSub(spark)
    val in = ps.topic[VecQuery]("ann-queries")
    val out = ps.topic[AnnHit]("ann-hits")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[EventEnvelope[AnnHit]]
    val sink = out.stream.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[AnnHit]], _: Long) =>
          got.synchronized { got ++= b.collect() }; ()
      }.start()
    val relay = AnnStream.ivfQueryRelay(in, out, cells, centroids,
      k = 5, nprobe = 4)

    def batchExpected(ids: Seq[Long]): Set[(Long, Long, Double, Long)] = {
      import spark.implicits._
      val queries = ids.map(id => (id, qvecs(id))).toDF("q_id", "q_emb")
      Ann.ivfTopKFromCells(cells, queries, centroids, 5, 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    }
    def wave(base: Long, ids: Seq[Long]): Map[Long, Timestamp] = {
      val stamps = ids.zipWithIndex
        .map { case (id, i) => id -> new Timestamp(base + i) }.toMap
      in.publish(ids.map(id =>
        EventEnvelope.at(stamps(id), VecQuery(id, qvecs(id)))))
      relay.processAllAvailable()
      sink.processAllAvailable()
      stamps
    }

    // wave 1
    val ids1 = (0L until 8L).toSeq
    val st1 = wave(1700000000000L, ids1)
    val hits1 = got.synchronized(got.toList)
    assert(hits1.map(e => (e.content.qId, e.content.vecId,
      e.content.score, e.content.rn)).toSet == batchExpected(ids1))
    assert(hits1.nonEmpty)
    hits1.foreach(e =>
      assert(e.stamp.start_time == st1(e.content.qId),
        s"hit for q ${e.content.qId} must carry the query's stamp"))

    // wave 2 — no re-assignment of the corpus between waves
    val ids2 = (8L until 16L).toSeq
    wave(1700000100000L, ids2)
    val hits2 = got.synchronized(got.toList).drop(hits1.size)
    assert(hits2.map(e => (e.content.qId, e.content.vecId,
      e.content.score, e.content.rn)).toSet == batchExpected(ids2))

    // wave 3 — at-least-once redelivery: the SAME qId arrives twice in
    // one micro-batch. The relay must dedup the wave (first event in
    // event-time order wins), so the hit set equals one query's batch
    // results — no duplicate rows consuming top-k ranks — and every
    // hit carries the FIRST arrival's stamp.
    val dupBase = 1700000200000L
    val preWave3 = got.synchronized(got.size)
    in.publish(Seq(
      EventEnvelope.at(new Timestamp(dupBase), VecQuery(3L, qvecs(3L))),
      EventEnvelope.at(new Timestamp(dupBase + 7), VecQuery(3L, qvecs(3L)))))
    relay.processAllAvailable()
    sink.processAllAvailable()
    val hits3 = got.synchronized(got.toList).drop(preWave3)
    assert(hits3.map(e => (e.content.qId, e.content.vecId,
      e.content.score, e.content.rn)).toSet == batchExpected(Seq(3L)))
    assert(hits3.size == batchExpected(Seq(3L)).size,
      s"redelivered qId produced duplicate hit rows: ${hits3.size}")
    hits3.foreach(e => assert(e.stamp.start_time.getTime == dupBase,
      "hit must carry the first arrival's stamp"))

    relay.stop()
    sink.stop()
    ps.close()
  }

  test("ivfQueryRelay serves a wave from Artifacts-LOADED cells with " +
      "hits identical to the in-memory assignment") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") % 37 === 0 &&
        col("vec_id") < 37L * 64)
      .select((col("vec_id") / 37).cast("long").as("cell_id"),
        col("embedding").as("cell_emb"))
      .cache()
    val assigned = Ann.assignCells(emb, centroids)
    val root = tempPath("ivfcells")
    graft.core.Artifacts.saveIvfCells(spark, root, 1, assigned)
    // a "fresh query session": everything the relay serves comes from
    // the artifact store, no corpus-wide assignment pass of its own
    val cells = graft.core.Artifacts.loadIvfCells(spark, root)

    val qvecs = emb.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    val ps = new PubSub(spark)
    val in = ps.topic[VecQuery]("ann-queries-loaded")
    val out = ps.topic[AnnHit]("ann-hits-loaded")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[EventEnvelope[AnnHit]]
    val sink = out.stream.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[AnnHit]], _: Long) =>
          got.synchronized { got ++= b.collect() }; ()
      }.start()
    val relay = AnnStream.ivfQueryRelay(in, out, cells, centroids,
      k = 5, nprobe = 4)
    val ids = (0L until 8L).toSeq
    in.publish(ids.map(id => EventEnvelope.at(
      new Timestamp(1700000300000L + id), VecQuery(id, qvecs(id)))))
    relay.processAllAvailable()
    sink.processAllAvailable()

    import spark.implicits._
    val queries = ids.map(id => (id, qvecs(id))).toDF("q_id", "q_emb")
    val expected = Ann
      .ivfTopKFromCells(assigned, queries, centroids, 5, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val streamed = got.synchronized(got.toList)
      .map(e => (e.content.qId, e.content.vecId, e.content.score,
        e.content.rn)).toSet
    assert(streamed.nonEmpty && streamed == expected)

    relay.stop()
    sink.stop()
    ps.close()
  }

  test("semDedupGate: first arrival wins within and across micro-batches, " +
      "cells are independent, stamps ride through") {
    import graft.streaming.AnnStream.VecDoc
    val cents = Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 1.0, 0.0, 0.0))
    val ps = new PubSub(spark)
    val in = ps.topic[VecDoc]("semdedup-in")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[EventEnvelope[VecDoc]]
    val gated = AnnStream.semDedupGate(cents, thresholdQ = 9900L)(in.stream)
    val sink = gated.writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[EventEnvelope[VecDoc]], _: Long) =>
          got.synchronized { got ++= b.collect() }; ()
      }.start()

    def send(evs: Seq[(Long, Seq[Double], Long)]): Unit = {
      in.publish(evs.map { case (id, v, t) =>
        EventEnvelope.at(new Timestamp(t), VecDoc(id, v)) })
      sink.processAllAvailable()
    }

    // wave 1: 0 and 1 are a 0.9987-cosine pair in cell 0 (0 earlier by
    // event time); 2 is alone in cell 1
    send(Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0), 1000L),
      (1L, Seq(9.8, 0.5, 0.0, 0.0), 1001L),
      (2L, Seq(0.0, 10.0, 0.0, 0.0), 1002L)))
    val w1 = got.synchronized(got.toList)
    assert(w1.map(_.content.vecId).toSet == Set(0L, 2L),
      s"wave 1 admitted ${w1.map(_.content.vecId)}")
    assert(w1.find(_.content.vecId == 0L).get.stamp.start_time.getTime
      == 1000L)

    // wave 2: 3 duplicates the ADMITTED 0 (cross-batch state); 4 is the
    // diagonal (cos 0.707 to everything) -> admitted into cell 0
    send(Seq(
      (3L, Seq(10.1, 0.05, 0.0, 0.0), 2000L),
      (4L, Seq(6.0, 6.0, 0.0, 0.0), 2001L)))
    val w2 = got.synchronized(got.toList).drop(w1.size)
    assert(w2.map(_.content.vecId).toSet == Set(4L),
      s"wave 2 admitted ${w2.map(_.content.vecId)}")

    // wave 3: a near-copy of the SUPPRESSED 1 is still suppressed (0
    // holds the cell), and a near-copy of the admitted diagonal 4 is
    // suppressed by 4's state entry
    send(Seq(
      (5L, Seq(9.79, 0.51, 0.0, 0.0), 3000L),
      (6L, Seq(6.01, 5.99, 0.0, 0.0), 3001L)))
    val w3 = got.synchronized(got.toList).drop(w1.size + w2.size)
    assert(w3.isEmpty, s"wave 3 admitted ${w3.map(_.content.vecId)}")

    sink.stop()
    ps.close()
  }
}
