package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash families for MinHash / SimHash sketching.
  *
  * Strategy: hash each token ONCE (md5 for MinHash — engine-portable,
  * so the DuckDB oracle reproduces the sketch exactly), then derive the
  * k MinHash functions as modular double-hash transforms of digest
  * slices (`h_i = (a + i·b) mod P`, P = 2^31-1). This is the standard
  * trick that turns k hash passes over the text into one pass plus k
  * cheap integer ops — the difference between O(k·len) and O(len + k)
  * per document, which matters at 100 TB.
  */
object HashFunctions {

  /** Modulus of the band-hash fold: the same Mersenne prime as the
    * signature hash range, so every intermediate product stays < 2^52
    * — exact under Spark's ANSI arithmetic AND DuckDB's BIGINT.
    */
  val BandHashMod: Long = graft.expressions.MinHashSignature.P

  /** Multiplier of the band-hash fold (prime, > any rowsPerBand). */
  val BandHashMult: Long = 1000003L

  /** MinHash signature (array<long> of length k) over an array of string
    * shingles; values in [0, P) with P = 2^31-1. Empty shingle sets get
    * the out-of-range sentinel P in every slot (such docs band together
    * and are discarded by the exact-Jaccard verify stage: j = 0).
    *
    * Implemented as the native one-pass expression
    * graft.expressions.MinHashSignature: each shingle is md5-digested
    * once, each of the k hash functions is an exact-integer double-hash
    * step off that digest — O(len + k) per shingle with no per-element
    * Catalyst dispatch (the Column-composed k-subtree formulation pays
    * k interpreted lambda passes), and every value is reproducible in
    * DuckDB digit-for-digit (q_minhash_lsh is hash-compared, not
    * rows-only).
    */
  def minhashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    graft.expressions.MinHashSignature(shingles, k, seed)

  /** Group a k-length signature into `bands` band-hash values for LSH
    * banding: two documents collide on a band iff that band's signature
    * rows are all equal (up to fold collisions, which the exact verify
    * stage discards). Returns array<struct<band:int, h:long>>.
    *
    * The band hash is a left fold `h = (h·M + v) mod P` over the band's
    * signature rows — exact 64-bit integer arithmetic (signature values
    * < 2^31, M ≈ 2^20, so products < 2^52), reproducible in the DuckDB
    * oracle, and still a single codegen'd arithmetic expression with no
    * string building. IMPORTANT: pass a MATERIALIZED signature column
    * (from a cached/checkpointed stage), not the raw minhashSignature
    * expression: lambda-based expressions get no common-subexpression
    * elimination, so an inline signature would be recomputed once per
    * band.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands > 0 && rowsPerBand > 0,
      s"lshBands: bands=$bands and rowsPerBand=$rowsPerBand must be > 0")
    val entries = (0 until bands).map { b =>
      val elems = (1 to rowsPerBand).map(r =>
        element_at(signature, b * rowsPerBand + r))
      val bh = elems.reduceLeft((acc, v) =>
        (acc * lit(BandHashMult) + v) % lit(BandHashMod))
      struct(lit(b).as("band"), bh.as("h"))
    }
    array(entries: _*)
  }

  /** 64-bit band hashes for STREAMING LSH suppression. Same banding
    * semantics as [[lshBands]] (two docs collide on a band iff that
    * band's signature rows are all equal, up to hash collisions), but
    * the band hash is xxhash64 over (band, rows...) instead of the
    * mod-P fold. The two variants exist because their consumers have
    * different failure modes: the batch path (q_minhash_lsh) verifies
    * every band candidate with exact Jaccard, so a 31-bit fold
    * collision costs only a wasted verify AND buys digit-for-digit
    * DuckDB reproducibility; the streaming gate
    * (TypedOps.nearDupWithinWatermark) SUPPRESSES on band collision
    * with no verify stage, so chance false-suppression must stay at
    * the ~n/2^64 floor, not ~16n/2^31 — material over an
    * ingest-flood horizon. Returns array<struct<band:int, h:bigint>>.
    */
  def lshBands64(signature: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands > 0 && rowsPerBand > 0,
      s"lshBands64: bands=$bands and rowsPerBand=$rowsPerBand must be > 0")
    val entries = (0 until bands).map { b =>
      val elems = (1 to rowsPerBand).map(r =>
        element_at(signature, b * rowsPerBand + r))
      struct(lit(b).as("band"), xxhash64(lit(b) +: elems: _*).as("h"))
    }
    array(entries: _*)
  }

  /** 64-bit SimHash over token hashes: bit j of the result is the sign of
    * sum over tokens of (+1 if bit j of xxhash64(token) else -1).
    * Near-duplicate docs land within small Hamming distance.
    */
  def simhash64(tokens: Column): Column =
    graft.expressions.SimHashExpr(tokens)

  /** Hamming distance between two long-encoded bit vectors. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity of two string arrays treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }
}
