package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.core.Materialize

/** Connected components over an undirected edge list — the near-dup
  * CONSOLIDATION step: pair-mining (shingle/MinHash/SimHash/embedding
  * paths) says which documents match; components turn matches into a
  * dedup decision (every document labeled with the min doc id of its
  * duplicate cluster; keep one representative per label).
  *
  * Algorithm: iterative min-label propagation. Each round every vertex
  * takes the minimum label among itself and its neighbors; fixpoint in
  * O(diameter) rounds (near-dup clusters are shallow — a handful of
  * rounds even at corpus scale; the alternating large/small-star
  * optimization would cut worst-case rounds to O(log n) if ever needed).
  *
  * Scale shape: each round is one equi-join on vertex id + one min
  * aggregation — no collect of vertices or edges; the driver sees only a
  * 1-row convergence probe per round. Labels are localCheckpoint'ed
  * every round: iterative DataFrame loops otherwise accumulate lineage
  * that re-executes from scratch each round and overflows the planner.
  * Deterministic output (min ids), independent of partitioning.
  */
object Components {

  /** (doc_id, component_id) for every vertex of `edges` (columns a, b).
    * component_id = min doc_id reachable, i.e. the cluster
    * representative.
    *
    * Storage discipline: superseded label generations are freed as soon
    * as the next one materializes, so the loop holds at most two label
    * checkpoints (plus the symmetrized edges) at any moment instead of
    * one per round. The RETURNED frame reads the last generation, so
    * that checkpoint is left to Spark's ContextCleaner (see
    * [[graft.core.Materialize]]).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // Symmetrize with ONE pass over the mining plan: exploding each
    // directed edge into both orientations materializes the (typically
    // expensive) pair-mining subtree exactly once inside a single
    // checkpoint job — the old checkpoint(directed) + union-of-two-
    // branches form paid a second materialization job for the same id
    // pairs (guide §2.4: do fewer passes).
    val sym = Materialize.checkpoint(edges
      .select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")), eager = true)
    // Label init fused with round 1: every vertex appears as `a` in the
    // symmetrized list, so one aggregation both enumerates the vertex
    // set (the old distinct) and computes round 1's propagation result
    // min(self, neighbors) — the old identity init spent a full
    // join+union+agg round to reach this same state (guide §1.2: remove
    // unnecessary passes). Equivalence: min-label propagation from the
    // identity labeling after one round assigns exactly
    // min(v, min over neighbors) to v.
    val obs0 = Observation()
    var labels = Materialize.checkpoint(sym.groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("label"))
      .select(col("a").as("doc_id"), col("label"))
      .observe(obs0, sum(col("label").cast("decimal(38,0)")).as("s")),
      eager = true)
    // Convergence signal: per-vertex labels are non-increasing under min
    // propagation and the vertex set is fixed, so sum(label) is strictly
    // decreasing until the fixpoint and constant at it. Observed DURING
    // the checkpoint materialization (CollectMetricsExec in the same
    // plan), so each round is exactly ONE job — the old probe was a
    // second join+count job per round, which at small SF doubled the
    // scheduling-floor cost of the loop. Decimal(38,0) sum: exact, and
    // immune to ANSI bigint-overflow traps on huge vertex sets.
    // The init IS round 1, so its observed sum seeds the comparison: a
    // graph whose init already sits at the fixpoint (diameter-1
    // clusters — the common near-dup shape) is confirmed by ONE loop
    // round instead of two.
    var prevSum: Option[Any] = Some(obs0.get("s"))
    var changed = true
    var rounds = 0
    while (changed) {
      rounds += 1
      val obs = Observation()
      val prop = Materialize.checkpoint(labels.as("l")
        .join(sym.as("e"), col("l.doc_id") === col("e.a"))
        .select(col("e.b").as("doc_id"), col("l.label"))
        .union(labels)
        .groupBy("doc_id").agg(min("label").as("label"))
        .observe(obs, sum(col("label").cast("decimal(38,0)")).as("s")),
        eager = true)
      val roundSum = obs.get("s")
      changed = !prevSum.contains(roundSum)
      prevSum = Some(roundSum)
      Materialize.free(labels) // superseded generation — prop is material
      labels = prop
    }
    Materialize.free(sym) // the fixpoint labels no longer need the edges
    // one line of driver-side observability: with the init fused as
    // round 1 and its sum observed, loop rounds = propagation diameter
    // (the last round doubles as the fixpoint confirmation)
    System.err.println(s"[components] converged in $rounds loop rounds")
    labels.select(col("doc_id"), col("label").as("component_id"))
  }
}
