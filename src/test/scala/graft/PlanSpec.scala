package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the scale claims SCALE.md makes:
  * the physical plan properties that make a query survive 100x, pinned
  * so a refactor can't silently lose them.
  */
class PlanSpec extends AnyFunSuite with LocalSparkSuite {

  private val SfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, SfDir)
      .queryExecution.executedPlan.toString

  test("seeded series correlation broadcasts the seed side " +
      "(no shuffle of the big side for the join)") {
    val plan = planOf("q_series_correlation_seeded")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast hour-join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"big-side shuffle join crept in:\n$plan")
  }

  test("all-pairs series correlation joins on the hour bucket " +
      "(equi-join, never a cross product)") {
    val plan = planOf("q_series_correlation")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unbounded pair generation in:\n$plan")
  }

  test("brute-force ANN broadcasts the tiny query side") {
    val plan = planOf("q_ann_cosine")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected broadcast of the query side in:\n$plan")
  }

  test("media frame sampling never reads the payload bytes column") {
    val plan = planOf("q_media_frames")
    // column pruning must reach the scan: the binary payload is the
    // whole table weight, and frame planning is metadata-only
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(!_.contains("bytes")),
      s"payload column read by a metadata-only query:\n$readSchemas")
  }

  test("embedding near-dup candidates come from a band equi-join " +
      "carrying ids only, never an all-pairs product") {
    val plan = planOf("q_embed_neardup_auto")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs embedding comparison in:\n$plan")
    // the self-join must key on the band hash, not compare vectors
    assert(plan.contains("band"), s"band key missing from join in:\n$plan")
    // column pruning must survive the clone union: the embeddings scan
    // reads (vec_id, embedding) only — the label column never leaves
    // the footer (at 100 TB an unpruned third column is real IO)
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(!_.contains("label")),
      s"label column read by the near-dup scan:\n$readSchemas")
  }

  test("dimension joins broadcast the small side (no big-side shuffle)") {
    for (q <- Seq("q_revenue_nation", "q_brand_volume")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: expected dim tables broadcast in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: fact-side shuffle join crept in:\n$plan")
    }
  }

  test("filter family pushes its predicate into the parquet scan") {
    // numeric comparisons reach the scan as data filters; events.ts is
    // read via the nanos loader, so check the value predicates
    for ((q, colName) <- Seq(
        "q_filter_greater" -> "value",
        "q_filter_smaller" -> "value")) {
      val plan = planOf(q)
      assert(s"PushedFilters: \\[[^\\]]*$colName".r.findFirstIn(plan).isDefined,
        s"$q: $colName predicate not pushed to the scan in:\n$plan")
    }
    // contains() pushes as StringContains on the documents scan
    val containsPlan = planOf("q_filter_contains")
    assert("PushedFilters: \\[[^\\]]*[Cc]ontains".r
      .findFirstIn(containsPlan).isDefined,
      s"q_filter_contains: substring predicate not pushed:\n$containsPlan")
  }

  test("windowed top-k pushes the rank limit below the exchange " +
      "(partial per-partition top-k, full per-hour lists never shuffle)") {
    val plan = planOf("q_window_topk")
    val limits = "WindowGroupLimit".r.findAllIn(plan).size
    assert(limits >= 2, s"expected partial+final WindowGroupLimit in:\n$plan")
  }

  test("contamination check broadcasts the eval shingles " +
      "(train side joins map-side, no shuffle of the corpus)") {
    val plan = planOf("q_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the eval side broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$plan")
  }

  test("corpus shuffle windows per shard, never a single global sort") {
    val plan = planOf("q_corpus_shuffle")
    // the Sort feeding WindowExec must be partitioned by shard (hash
    // exchange), not a single-partition global ordering
    assert(plan.contains("hashpartitioning"),
      s"expected shard-hash partitioning before the window in:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"global single-partition stage in:\n$plan")
  }

  test("repetition metrics stay combiner-friendly: no per-doc global " +
      "sort, partial aggregation before every exchange") {
    val plan = planOf("q_repetition")
    assert(!plan.contains("SinglePartition"),
      s"global single-partition stage in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unkeyed join crept into the doc-stats join:\n$plan")
  }

  test("classifier gradient step is one partial-aggregated exchange " +
      "(5 doubles shuffle, never rows) and the scorer is map-only") {
    val grad = planOf("q_logreg_step")
    assert(grad.contains("partial"),
      s"gradient aggregation must combine map-side:\n$grad")
    // only the (tiny) aggregation exchanges; the corpus itself never
    // shuffles — the posexplode/profile work all happens in the scan
    // stage below the partial agg
    assert("Exchange hashpartitioning".r.findAllIn(grad).size <= 1,
      s"more than the single agg exchange in:\n$grad")
    val score = planOf("q_quality_classifier")
    assert(!score.contains("Exchange"),
      s"scoring must be a pure scan-stage projection:\n$score")
  }

  test("chunking is map-only: no exchange at all") {
    val plan = planOf("q_chunking")
    assert(!plan.contains("Exchange"),
      s"chunking should be a pure per-row explode, found a shuffle:\n$plan")
  }

  test("PII scrubbing is a single scan stage with pruned columns") {
    val plan = planOf("q_pii_redact")
    assert(!plan.contains("Exchange"),
      s"per-row redaction must not shuffle:\n$plan")
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!rs.contains("c_acctbal"),
      s"unpruned scan reads c_acctbal:\n$rs")
  }

  test("exact embed near-dup broadcasts the capped cohort side " +
      "and pushes the fixed-count cap into the scan") {
    val plan = planOf("q_embed_neardup_exact")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the deterministic cohort broadcast in:\n$plan")
    // the cap is a COUNT (vec_id < 4*K), so it must reach the scan as a
    // pushed range predicate — that is what bounds the broadcast side
    // by construction at any corpus size
    assert("PushedFilters: \\[[^\\]]*LessThan\\(vec_id".r
      .findFirstIn(plan).isDefined,
      s"fixed-count cohort cap not pushed to the scan in:\n$plan")
  }

  test("asof join plans as one key shuffle + running window — no join " +
      "operator, no per-row range probe") {
    val plan = planOf("q_asof_join")
    val joinOps = ("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct)").r
    assert(joinOps.findFirstIn(plan).isEmpty,
      s"asof join degraded to a join operator:\n$plan")
    assert(plan.contains("Window") &&
      plan.contains("hashpartitioning(user_id"),
      s"expected the running-last window over a user_id shuffle in:\n$plan")
  }

  test("range join plans as a bucketed equi-join (residual range filter, " +
      "never a theta join)") {
    val plan = planOf("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range predicate planned as a theta join:\n$plan")
    assert(plan.contains("_bucket"),
      s"bucket key missing from the join in:\n$plan")
  }

  test("pricing summary pushes the date filter into the scan") {
    val plan = planOf("q1_pricing")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"l_shipdate filter not pushed to the scan in:\n$plan")
    // and the scan must not read all 16 lineitem columns
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!rs.contains("l_comment"),
      s"unpruned scan reads l_comment:\n$rs")
  }

  test("BM25 broadcasts every statistics side and plans top-50 as " +
      "TakeOrderedAndProject, never a global sort") {
    val plan = planOf("q_bm25")
    assert(plan.contains("BroadcastHashJoin"),
      s"df side not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 fell back to a global sort in:\n$plan")
  }

  test("dup-span detection joins on the window key with one row per " +
      "window on the frequency side — no all-pairs shape") {
    val plan = planOf("q_dup_spans")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs span comparison in:\n$plan")
  }

  test("bloom-prefiltered contamination broadcasts ONLY the bucket set; " +
      "the exact verification join is not a broadcast of eval shingles") {
    val plan = planOf("q_contamination_bloom")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket prefilter not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi contamination join in:\n$plan")
  }

  test("postings cap runs before the collect: the rank filter appears " +
      "below the final aggregate, bounding every posting build") {
    val plan = planOf("q_postings")
    assert(plan.contains("row_number"), s"rank cap missing in:\n$plan")
    // rank + collect share the token partitioning: no extra exchange
    // between the window and the aggregation
    assert(!plan.contains("SinglePartition"),
      s"postings build funneled to one partition:\n$plan")
  }

  test("quality calibration windows per source, never a single " +
      "global rank") {
    val plan = planOf("q_quality_calibrate")
    assert(!plan.contains("SinglePartition"),
      s"global-rank funnel in:\n$plan")
  }

  test("importance weighting broadcasts the bucket LMs: the token stream " +
      "reaches the scoring join with zero shuffles") {
    val plan = planOf("q_importance_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the <=256-row LM broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus-side token stream is being shuffled for the join:\n$plan")
  }

  test("incremental admission: no all-pairs join, and the candidate " +
      "pipeline is not duplicated across the two near flags") {
    val plan = planOf("q_corpus_delta")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in the delta admission:\n$plan")
    // the DF-cap anti-join appears once per candidate-join side (no
    // cross-side CSE) — but NOT doubled again per reject flag: both
    // near flags must come from ONE aggregation over one pipeline
    val antiJoins = "LeftAnti".r.findAllIn(plan).size
    assert(antiJoins <= 2,
      s"candidate pipeline duplicated ($antiJoins anti-joins):\n$plan")
  }

  test("the end-to-end corpus build composes without an all-pairs join " +
      "or a global sort") {
    val plan = planOf("q_corpus_build")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in the corpus build:\n$plan")
    assert(!plan.contains("GlobalLimit") || !plan.contains("Sort "),
      s"unexpected global sort in:\n$plan")
  }

  test("semantic dedup mines pairs on the cell equi-join only — the " +
      "sole nested-loop is the bounded centroid broadcast") {
    val plan = planOf("q_semdedup")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cartesian in semDedup:\n$plan")
    // centroid assignment is corpus x broadcast(<=64 rows): a
    // BroadcastNestedLoopJoin there is the designed bounded shape; the
    // PAIR stage must be an equi-join on cell_id
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi-join pair stage in:\n$plan")
  }

  test("PQ ADC search never carries raw vectors into the scoring join: " +
      "the distance table rides as a broadcast") {
    val plan = planOf("q_pq_topk")
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cartesian in pqTopK:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected the per-query distance-table broadcast in:\n$plan")
  }

  /** The candidate-generation pin must be MATERIALIZED when the query
    * frame is handed back, before any action plans the self-join —
    * that is what gives the join planner the cache's true size instead
    * of the scan-derived estimate (which ignores explode fan-out and
    * walks corpus-sized frames under the broadcast threshold; at
    * mult=300 the resulting corpus-sized broadcast build aborts at the
    * 8 GiB hard limit — Materialize.pin, eager). The observable
    * contract at any SF: building the frame (NO action on it) leaves a
    * new fully-cached RDD behind.
    */
  private def assertPinnedAtBuild(name: String): Unit = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    SparkEntry.queries(name)(spark, SfDir) // build only — no action
    val fresh = spark.sparkContext.getRDDStorageInfo
      .filter(i => !before(i.id) && i.numCachedPartitions > 0)
    assert(fresh.exists(i => i.numCachedPartitions == i.numPartitions),
      s"$name: no fully-materialized pin after frame build " +
        s"(fresh cached RDDs: ${fresh.map(i =>
          s"${i.id}:${i.numCachedPartitions}/${i.numPartitions}").mkString(",")})")
    spark.catalog.clearCache()
  }

  test("jaccard candidate generation materializes its shingle-set pin " +
      "at frame-build time (join planning sees true sizes)") {
    assertPinnedAtBuild("q_ngram_jaccard")
  }

  test("MinHash-LSH materializes its banded pin at frame-build time") {
    assertPinnedAtBuild("q_minhash_lsh")
  }

  test("SimHash materializes its block pin at frame-build time") {
    assertPinnedAtBuild("q_simhash")
  }

  test("incremental admission materializes its shingle-index pin at " +
      "frame-build time") {
    assertPinnedAtBuild("q_corpus_delta")
  }

  test("jaccard STAR consolidation has no candidate self-join: one " +
      "window over the exploded shingles, joins only for verification") {
    // the scale contract of jaccardStarEdges (q_dedup_keepers_star):
    // candidate generation is a per-bucket window min — ONE
    // hash-partition of the exploded (doc_id, shingle-hash) rows, no
    // join at all — so a hot boilerplate bucket is linear, where the
    // all-pairs form's self-join is quadratic. The only joins in the
    // whole edge plan are the two verify join-backs to the full sets.
    import spark.implicits._
    val sets = Seq(
      (1L, (0 until 10).map(i => s"c$i") :+ "x1"),
      (2L, (0 until 10).map(i => s"c$i") :+ "x2"))
      .toDF("doc_id", "sh")
    val plan = graft.queries.SimilarityQueries
      .jaccardStarEdgesFrom(sets, 8000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"),
      s"per-bucket window min missing from:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unbounded pair generation in:\n$plan")
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).toList
    assert(joins.size == 2,
      s"expected exactly the two verify join-backs, got ${joins.size} " +
        s"join nodes in:\n$plan")
  }
}
