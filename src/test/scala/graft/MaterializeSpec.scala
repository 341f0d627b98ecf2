package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Materialize

/** End-to-end proof that `Materialize` releases what it should, and only
  * that.
  *
  * The LSH-family operators pin intermediate projections (cache) so the
  * self-join's two sides share one computation; the listener must release
  * the pin after the caller's FIRST action or a long-lived session
  * accumulates executor storage. The listener matches on the analyzed
  * plan (`sameResult`), so the risky regressions are (a) AQE replanning
  * and (b) a caller materializing a DERIVED frame rather than the
  * returned one — both covered here. AQE is ON throughout (Sessions.tune
  * default), and the storage check is `getPersistentRDDs`, the same
  * executor-storage ledger a leak would grow. Checkpoints are the other
  * kind: they cannot be recomputed, so the release-after-first-use path
  * must refuse them and a checkpoint the result still reads must survive
  * every later action.
  */
class MaterializeSpec extends AnyFunSuite with LocalSparkSuite {

  private val SfDir = "/root/testdata/sf0.001"

  /** QueryExecutionListener callbacks ride the listener bus — they land
    * shortly AFTER the action returns, so poll before asserting.
    */
  private def assertStorageReleased(what: String): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"$what left ${left.size} persistent RDD(s) pinned after its " +
        s"first action: ${left.values.map(_.name).mkString("; ")}")
  }

  /** Guard against a vacuous pass: the operator must actually be USING a
    * pinned (in-memory) stage in its physical plan, otherwise an emptied
    * storage ledger proves nothing.
    */
  private def assertPlanUsesCache(df: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("TableCacheQueryStage"),
      s"$what no longer reads a cached stage — hygiene test is vacuous:\n$plan")
  }

  test("q_minhash_lsh releases both pinned stages after its first action") {
    val df = SparkEntry.queries("q_minhash_lsh")(spark, SfDir)
    assertPlanUsesCache(df, "q_minhash_lsh")
    df.count()
    assertStorageReleased("q_minhash_lsh")
  }

  test("q_embed_neardup_auto releases the banded projection after its " +
      "first action") {
    val df = SparkEntry.queries("q_embed_neardup_auto")(spark, SfDir)
    assertPlanUsesCache(df, "q_embed_neardup_auto")
    df.count()
    assertStorageReleased("q_embed_neardup_auto")
  }

  test("release fires when the caller materializes a DERIVED plan, not " +
      "the returned frame itself") {
    // a caller-side projection wraps the operator's analyzed plan in a
    // Project node — the listener's subtree sameResult match must still
    // find it (a top-level-only match would silently revert to the leak)
    val derived = SparkEntry.queries("q_ngram_jaccard")(spark, SfDir)
      .select("a", "b")
    derived.count()
    assertStorageReleased("q_ngram_jaccard (derived projection)")
  }

  /** Poll (the release is asynchronous) until the ledger is back at
    * `size`.
    */
  private def awaitPersistentRdds(size: Int, what: String): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.getPersistentRDDs.size > size &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.size == size,
      s"$what left ${spark.sparkContext.getPersistentRDDs.size - size} " +
        "persistent RDD(s) behind")
  }

  test("releaseAfterFirstUse rejects a checkpoint frame") {
    val src = spark.range(0, 100).toDF("id")
    for (eager <- Seq(true, false)) {
      val ck = Materialize.checkpoint(src, eager)
      assert(Materialize.isCheckpoint(ck))
      val e = intercept[IllegalArgumentException] {
        Materialize.releaseAfterFirstUse(ck.where(col("id") > 3), ck)
      }
      assert(e.getMessage.contains("checkpoint"))
      Materialize.free(ck)
    }
    // a pin passes, and a frame DERIVED from a checkpoint is no checkpoint
    val pin = Materialize.pin(src, eager = false)
    assert(!Materialize.isCheckpoint(pin))
    val ck = Materialize.checkpoint(src, eager = false)
    assert(!Materialize.isCheckpoint(ck.where(col("id") > 3)))
    Materialize.free(ck)
    Materialize.releaseAfterFirstUse(pin.where(col("id") > 3), pin).count()
    assertStorageReleased("releaseAfterFirstUse over a pin")
  }

  test("free returns getPersistentRDDs to its prior size for a pin and " +
      "for an eager checkpoint") {
    val src = spark.range(0, 1000).toDF("id")
    val before = spark.sparkContext.getPersistentRDDs.size
    val pin = Materialize.pin(src.where(col("id") % 3 === 0), eager = true)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1,
      "an eager pin must be materialized on return")
    Materialize.free(pin)
    awaitPersistentRdds(before, "free(pin)")
    val ck = Materialize.checkpoint(src.where(col("id") % 3 === 1),
      eager = true)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1,
      "an eager checkpoint must be materialized on return")
    Materialize.free(ck)
    awaitPersistentRdds(before, "free(checkpoint)")
  }

  // last in the suite: the checkpoint the result reads stays live (it is
  // the ContextCleaner's), so the ledger is not empty afterwards
  test("a lazily checkpointed headliner (q_heavy_hitters) survives two " +
      "actions on derived frames") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, SfDir)
    val top = df.where(col("est_n") > 0).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val tokens = df.select("token").collect().map(_.getString(0)).toSet
    assert(top.nonEmpty && top.size <= 20)
    assert(tokens == top.map(_._1))
    val again = df.orderBy(col("token")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == top)
  }
}
