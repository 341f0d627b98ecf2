package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** End-to-end proof that `CacheHygiene.unpersistAfterFirstUse` fires.
  *
  * The LSH-family operators pin intermediate projections (cache) so the
  * self-join's two sides share one computation; the listener must release
  * the pin after the caller's FIRST action or a long-lived session
  * accumulates executor storage. The listener matches on the analyzed
  * plan (`sameResult`), so the risky regressions are (a) AQE replanning
  * and (b) a caller materializing a DERIVED frame rather than the
  * returned one — both covered here. AQE is ON throughout (Sessions.tune
  * default), and the storage check is `getPersistentRDDs`, the same
  * executor-storage ledger a leak would grow.
  */
class CacheHygieneSpec extends AnyFunSuite with LocalSparkSuite {

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
}
