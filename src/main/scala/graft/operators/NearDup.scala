package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Det

/** The stages every batch near-duplicate path shares: candidates →
  * verify → keep. The exact shingle join, MinHash-LSH, the text and
  * embedding stars, the keeper queries and incremental admission compose
  * these; their DuckDB twins build the matching CTEs from one helper
  * each in [[graft.queries.SimilarityQueries]]. Frames are keyed by an
  * id column (doc_id or vec_id); candidates and edges are (a, b) id
  * pairs. No stage pins anything: the caller that owns a pin releases it.
  */
object NearDup {

  /** (doc_id, carry..., s): one row per (document, shingle) of a
    * (doc_id, sh) frame, keyed by the shingle's 64-bit xxhash64, so the
    * candidate joins shuffle 8-byte keys instead of ~30-byte 5-grams
    * (~4x less key volume). A collision can only merge two shingles'
    * document frequencies or emit a false candidate, which the exact
    * verify over the full STRING sets removes; the string-shingle DuckDB
    * oracles hash-compare green at every measured scale, pinning the
    * fixtures collision-free.
    */
  def shingleHashes(sets: DataFrame, carry: String*): DataFrame = {
    val keep = ("doc_id" +: carry).map(col)
    sets.select(keep :+ explode(col("sh")).as("s0"): _*)
      .select(keep :+ xxhash64(col("s0")).as("s"): _*)
  }

  /** `hashes` without the shingles held by more than `maxDf` rows (a
    * shingle in d documents is d·(d-1)/2 all-pairs candidates). The hot
    * set is small and broadcast, so the cap never shuffles the exploded
    * rows again. It bounds candidate generation only; verify still
    * scores the full sets.
    */
  def capDocFreq(hashes: DataFrame, maxDf: Int): DataFrame = {
    val hot = hashes.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("s")
    hashes.join(broadcast(hot), Seq("s"), "left_anti")
  }

  /** All-pairs candidates: the self-join of `banded` on its bucket
    * `keys`, one (a, b) row per distinct id pair, a < b. `collide`
    * filters the joined rows (sides `x` and `y`) before the distinct
    * shuffle. Quadratic in bucket size: callers bound the buckets.
    */
  def bucketPairs(banded: DataFrame, id: String, keys: Seq[String],
      collide: Option[Column]): DataFrame = {
    val joined = banded.as("x").join(banded.as("y"),
      keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col(s"x.$id") < col(s"y.$id"))
    collide.fold(joined)(joined.where)
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b"))
      .distinct()
  }

  /** Star candidates: (a = bucket min id, b = member) for every non-min
    * member of each bucket, distinct. One hash-partition for the window
    * min and no self-join, so a c-member bucket costs O(c), not C(c,2),
    * and a hot bucket needs no cap or guard.
    *
    * The contract of every star consumer: verified star edges are a
    * CONNECTIVITY WITNESS for keepers/components, not the full
    * above-threshold pair set. Their components equal those of the
    * verified all-pairs graph whenever each bucket's above-threshold
    * relation is a union of cliques containing the bucket min (true for
    * near-duplicate clusters). In adversarial geometry (b, c below
    * threshold vs the bucket min but above it vs each other) a star can
    * miss a bridge: it REFINES, never over-merges, since every edge is
    * exactly verified. JaccardStarSpec and NearDupSpec pin keeper-set
    * equality on the fixtures and the refinement caveat; the all-pairs
    * forms stay the oracle anchors where their output fits.
    */
  def starEdges(banded: DataFrame, id: String, keys: Seq[String])
      : DataFrame =
    banded
      .withColumn("m",
        min(col(id)).over(Window.partitionBy(keys.map(col): _*)))
      .where(col(id) =!= col("m"))
      .select(col("m").as("a"), col(id).as("b"))
      .distinct()

  /** Verify join-back: each candidate joins `payload`'s `value` twice
    * (as `<value>a`, `<value>b`) and is kept iff its Det.r4q-quantized
    * `similarity` is >= the integer `minQ` (no cut compares doubles).
    * Emits (a, b, `out` = q / 10000, the double Det.r4 yields).
    */
  def verify(cands: DataFrame, payload: DataFrame, id: String,
      value: String, similarity: (Column, Column) => Column, minQ: Long,
      out: String): DataFrame = {
    def side(s: String) =
      payload.select(col(id).as(s), col(value).as(value + s))
    cands.join(side("a"), "a").join(side("b"), "b")
      .select(col("a"), col("b"),
        Det.r4q(similarity(col(value + "a"), col(value + "b"))).as("q"))
      .where(col("q") >= minQ)
      .select(col("a"), col("b"), (col("q") / 10000).as(out))
  }

  /** (doc_id, component_id = min id of its component) for each vertex
    * of the (a, b) edges; vertices on no edge are omitted.
    */
  def components(edges: DataFrame): DataFrame =
    Components.connectedComponents(edges.select(col("a"), col("b")))

  /** The vertices of `edges` that are not their component's min id. */
  def dropped(edges: DataFrame): DataFrame =
    components(edges).where(col("doc_id") =!= col("component_id"))

  /** `docs` without the [[dropped]] ids of `edges`. */
  def keepers(docs: DataFrame, edges: DataFrame): DataFrame =
    docs.join(dropped(edges), Seq("doc_id"), "left_anti")
}
