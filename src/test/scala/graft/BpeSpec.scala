package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.BpeEncode
import graft.operators.Bpe

/** Pins the BPE trainer and encoder against an in-spec reference
  * implementation (the no_oracle justification for q_bpe_vocab /
  * q_bpe_encode — same pattern as LshRecallSpec for the seeded sketches):
  * the distributed trainer must equal the naive single-machine trainer
  * merge-for-merge, and the encode expression must equal the naive
  * greedy-apply on every corpus word plus adversarial cases.
  */
class BpeSpec extends AnyFunSuite with LocalSparkSuite {

  // reference implementation: BpeModel (shared with BpePropertiesSpec)
  private def refTrain(wc: Map[String, Long], k: Int): Seq[(String, String)] =
    BpeModel.train(wc, k)

  private def refEncode(word: String, merges: Seq[(String, String)]): Vector[String] =
    BpeModel.encode(word, merges)

  private def wcDf(wc: Map[String, Long]): DataFrame = {
    import spark.implicits._
    wc.toSeq.toDF("word", "cnt")
  }

  // --- trainer ---------------------------------------------------------

  private val sennrich = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("trainer on the classic fixture: first merges are (e,s) then (es,t), " +
      "and the whole sequence equals the reference implementation") {
    val got = Bpe.train(wcDf(sennrich), 8).map(m => (m.left, m.right))
    assert(got.take(2) == Seq(("e", "s"), ("es", "t")))
    assert(got == refTrain(sennrich, 8))
  }

  test("distributed trainer equals the reference on the sf0.001 corpus " +
      "vocabulary (32 merges)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = Bpe.wordCounts(docs, col("text"))
    val local = wc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Bpe.train(wc, 32).map(m => (m.left, m.right))
    assert(got == refTrain(local, 32))
  }

  test("checkpoint cadence does not change the learned merges, and the " +
      "loop leaves no pinned checkpoint blocks behind") {
    val a = Bpe.train(wcDf(sennrich), 7, checkpointEvery = 2)
    val b = Bpe.train(wcDf(sennrich), 7, checkpointEvery = 100)
    assert(a == b)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "train() must free every checkpoint generation it creates")
  }

  test("batched rounds never lose to sequential and stay exact on the " +
      "real corpus vocabulary (measured occupancy for SCALE.md)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = Bpe.wordCounts(docs, col("text"))
    val (merges, rounds) = Bpe.trainRounds(wc, 64, maxBatch = 16)
    assert(merges.size == 64)
    val occupancy = merges.size.toDouble / rounds
    info(f"64 merges in $rounds rounds (occupancy $occupancy%.1f " +
      f"merges/round at maxBatch=16)")
    // Exactness-preserving batches stay NARROW on natural text (top
    // pairs chain: each round's runners-up consume the winner's
    // symbols), so batching is a bounded win — strictly fewer jobs
    // than sequential, but nowhere near maxBatch wide. That measured
    // fact is why trainLocal (below) is the production path for large
    // merge tables; SCALE.md records the figure.
    assert(rounds < 64, s"batching must beat 64 sequential rounds, got $rounds")
    // and the batched sequence is still the sequential sequence
    assert(merges == Bpe.train(wc, 64, maxBatch = 1))
  }

  test("trainLocal equals the distributed trainer and the reference on " +
      "the corpus vocabulary, with zero per-merge Spark jobs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = Bpe.wordCounts(docs, col("text"))
    val local = wc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val got = Bpe.trainLocal(wc, 64)
    val jobs =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
    // a single guarded limit(maxVocabRows+1).collect() (the overflow
    // guard rides with the collect — no separate count job), a couple
    // of AQE jobs at most — independent of the 64 merges
    assert(jobs <= 8, s"trainLocal ran $jobs jobs; training must not " +
      "touch the cluster per merge")
    assert(got.map(m => (m.left, m.right)) == refTrain(local, 64))
    assert(got == Bpe.train(wc, 64))
  }

  test("trainLocal refuses a vocabulary above maxVocabRows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = Bpe.wordCounts(docs, col("text"))
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(wc, 4, maxVocabRows = 10)
    }
    assert(e.getMessage.contains("maxVocabRows"))
  }

  test("trainer stops early when the vocabulary runs out of pairs") {
    val tiny = Map("ab" -> 3L, "a" -> 9L)
    val got = Bpe.train(wcDf(tiny), 10)
    assert(got.map(m => (m.left, m.right)) == Seq(("a", "b")))
  }

  // --- encoder ---------------------------------------------------------

  test("encode expression equals the reference greedy apply on every " +
      "corpus word, and round-trips (concat == word)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wc = Bpe.wordCounts(docs, col("text"))
    val merges = Bpe.train(wc, 24)
    val pairs = merges.map(m => (m.left, m.right))
    val got = wc.select(col("word"),
      BpeEncode(col("word"), pairs).as("toks"))
      .as[(String, Seq[String])].collect()
    assert(got.nonEmpty)
    got.foreach { case (w, toks) =>
      assert(toks == refEncode(w, pairs), s"mismatch on '$w'")
      assert(toks.mkString("") == w, s"round-trip failed on '$w'")
    }
  }

  test("encode: rank priority beats positional order, and left==right " +
      "pairs consume left-to-right") {
    import spark.implicits._
    def enc(w: String, ms: Seq[(String, String)]): Seq[String] =
      Seq(w).toDF("w").select(BpeEncode(col("w"), ms).as("t"))
        .as[Seq[String]].head()
    // rank 0 = (b,c): in "abc" the lower-rank pair wins even though
    // (a,b) appears first positionally
    assert(enc("abc", Seq(("b", "c"), ("a", "b"))) == Seq("a", "bc"))
    // greedy left-to-right on aaa: [aa, a], never [a, aa]
    assert(enc("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // merged symbols participate in later merges
    assert(enc("abab", Seq(("a", "b"), ("ab", "ab"))) == Seq("abab"))
    // empty merge table = character split
    assert(enc("xyz", Seq.empty) == Seq("x", "y", "z"))
    // encoding never invents symbols: closure of chars + merge outputs
    val ms = Seq(("a", "b"), ("ab", "c"))
    val vocab = Set("a", "b", "c", "d", "ab", "abc")
    assert(enc("abcd", ms).forall(vocab.contains))
  }

  test("encodeTokens flattens per-word encodings in document order") {
    import spark.implicits._
    val merges = Seq(Bpe.Merge(0, "a", "b"))
    val got = Seq("ab ba ab").toDF("text")
      .select(Bpe.encodeTokens(col("text"), merges).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("ab", "b", "a", "ab"))
  }
}
