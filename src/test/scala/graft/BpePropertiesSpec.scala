package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.BpeEncode
import graft.operators.Bpe

/** Naive single-machine BPE — the executable model both BPE specs pin
  * the distributed implementation against.
  */
object BpeModel {

  def mergeOnce(v: Vector[String], l: String, r: String): Vector[String] = {
    val out = ArrayBuffer[String]()
    var i = 0
    while (i < v.length) {
      if (i + 1 < v.length && v(i) == l && v(i + 1) == r) { out += l + r; i += 2 }
      else { out += v(i); i += 1 }
    }
    out.toVector
  }

  def train(wc: Map[String, Long], k: Int): Seq[(String, String)] = {
    var syms: Map[Vector[String], Long] =
      wc.groupBy { case (w, _) => w.map(_.toString).toVector }
        .map { case (v, m) => v -> m.values.sum }
    val merges = ArrayBuffer[(String, String)]()
    var round = 0
    var done = false
    while (round < k && !done) {
      val counts = collection.mutable.Map[(String, String), Long]()
      syms.foreach { case (v, cnt) =>
        v.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + cnt
          case _ =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (l, r) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += ((l, r))
        syms = syms.groupBy { case (v, _) => mergeOnce(v, l, r) }
          .map { case (v, m) => v -> m.values.sum }
      }
      round += 1
    }
    merges.toSeq
  }

  def encode(word: String, merges: Seq[(String, String)]): Vector[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      val present = syms.sliding(2).collect {
        case Seq(a, b) if rank.contains((a, b)) => rank((a, b))
      }.toSeq
      if (present.isEmpty) done = true
      else {
        val (l, r) = merges(present.min)
        syms = mergeOnce(syms, l, r)
        if (syms.length < 2) done = true
      }
    }
    syms
  }
}

/** Seeded random sweep over vocabulary shapes the corpus fixture never
  * produces — short alphabets (forcing repeated-char pairs and long
  * merge chains), zipf-ish counts, tie-heavy count plateaus — pinning
  * distributed train and the encode expression against BpeModel on
  * every draw.
  */
class BpePropertiesSpec extends AnyFunSuite with LocalSparkSuite {

  private def randomVocab(rng: scala.util.Random, alphabet: String,
      nWords: Int, maxLen: Int): Map[String, Long] =
    (1 to nWords).map { i =>
      val len = 1 + rng.nextInt(maxLen)
      val w = (1 to len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      w -> (1L + rng.nextInt(12).toLong) // plateaus force tiebreaks
    }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).sum }

  test("distributed trainer equals the model on random tie-heavy " +
      "vocabularies over tiny alphabets") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val vocab = randomVocab(rng, alphabet = "ab" + ("c" * (trial % 2)),
        nWords = 30, maxLen = 7)
      val wc = vocab.toSeq.toDF("word", "cnt")
      val got = Bpe.train(wc, 12).map(m => (m.left, m.right))
      val want = BpeModel.train(vocab, 12)
      assert(got == want, s"trial $trial diverged on vocab $vocab")
      // the in-memory indexed trainer must hit the same sequence on the
      // same tie-heavy draws (its TreeSet tie-break and delta updates
      // are the parts a plateau stresses)
      val loc = Bpe.trainInMemory(vocab.toArray, 12).map(m => (m.left, m.right))
      assert(loc == want, s"trial $trial trainInMemory diverged on $vocab")
    }
  }

  test("batched rounds reproduce the sequential merge sequence " +
      "merge-for-merge (maxBatch=16 vs maxBatch=1) on random " +
      "interaction-heavy vocabularies") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val vocab = randomVocab(rng, "abcd", nWords = 60, maxLen = 9)
      val wc = vocab.toSeq.toDF("word", "cnt")
      val batched = Bpe.train(wc, 24, maxBatch = 16).map(m => (m.left, m.right))
      val sequential = Bpe.train(wc, 24, maxBatch = 1).map(m => (m.left, m.right))
      assert(batched == sequential, s"trial $trial diverged on $vocab")
    }
    // aliasing-prone draws: a 2-letter alphabet with long words and a
    // deep merge budget maximizes multi-char symbols whose concat can
    // equal a pre-existing symbol — the residual subtlety the train
    // scaladoc documents lives exactly here
    for (trial <- 1 to 2) {
      val vocab = randomVocab(rng, "ab", nWords = 40, maxLen = 10)
      val wc = vocab.toSeq.toDF("word", "cnt")
      val batched = Bpe.train(wc, 32, maxBatch = 16).map(m => (m.left, m.right))
      val sequential = Bpe.train(wc, 32, maxBatch = 1).map(m => (m.left, m.right))
      assert(batched == sequential, s"aliasing trial $trial diverged on $vocab")
    }
  }

  test("merge-table serialization round-trips symbols containing " +
      "delimiter characters (space, comma, percent)") {
    val table = Seq(("e", ","), ("e,", "x"), ("%", "2"),
      ("a b", ","), ("%20", "%2C"), ("plain", "sym"))
    assert(BpeEncode.parseMerges(BpeEncode.serializeMerges(table)) == table)
    // undelimited symbols keep the human-readable legacy form
    assert(BpeEncode.serializeMerges(Seq(("a", "b"), ("ab", "c"))) == "a b,ab c")
  }

  test("encode expression equals the model for random words under a " +
      "random trained merge table (repeated-char chains included)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = randomVocab(rng, "aab", nWords = 40, maxLen = 8)
    val merges = BpeModel.train(vocab, 16)
    val words = (1 to 120).map { _ =>
      val len = 1 + rng.nextInt(10)
      (1 to len).map(_ => "ab" (rng.nextInt(2))).mkString
    }.distinct
    val got = words.toDF("w")
      .select(col("w"), BpeEncode(col("w"), merges).as("t"))
      .as[(String, Seq[String])].collect().toMap
    words.foreach { w =>
      val want = BpeModel.encode(w, merges)
      assert(got(w) == want, s"'$w': ${got(w)} != $want")
      assert(got(w).mkString("") == w, s"round-trip broke on '$w'")
    }
  }
}
