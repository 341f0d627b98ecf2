package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental

/** The shingle document-frequency cap under a GENUINELY hot shingle.
  *
  * The driver fixtures never exercise the cap (max observed DF is 4 at
  * every SF) and IncrementalPropertiesSpec's random corpora stay far
  * below DF 50, so until this spec the cap branch — now keyed by the
  * 64-bit shingle HASH, not the string — had no in-JVM coverage at all.
  * Planted here:
  *
  *  - a boilerplate 5-gram present in >50 documents must be excluded
  *    from candidate generation (no pair may form through it alone);
  *  - a true near-dup pair must still be found through its NON-hot
  *    shared shingles, with Jaccard computed on the FULL string sets
  *    (hot shingle included in inter/na/nb — the cap bounds candidate
  *    generation only, never the score);
  *  - the documented recall caveat must actually happen: a document
  *    whose shared shingles are ALL hot produces no candidate and is
  *    admitted, even though its true Jaccard clears the threshold.
  */
class HotShingleCapSpec extends AnyFunSuite with LocalSparkSuite {

  private val NGram = 5
  private val MaxDf = 50

  private def shingles(text: String): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < NGram) Set.empty
    else toks.sliding(NGram).map(_.mkString(" ")).toSet
  }

  private def jq(a: Set[String], b: Set[String]): Long = {
    val inter = a.intersect(b).size
    val union = a.size + b.size - inter
    math.floor(inter.toDouble / union * 10000 + 0.5).toLong
  }

  private val Boiler = "lorem ipsum dolor sit amet"

  /** 60 docs sharing ONLY the boilerplate 5-gram (DF 60 > cap 50), plus
    * one near-dup pair (1000, 1001) that also carries the boilerplate
    * but matches through 50+ private shingles.
    */
  private def corpus: Seq[(Long, String)] = {
    val boilerOnly = (0L until 60L).map { i =>
      i -> s"$Boiler u${i}a u${i}b u${i}c u${i}d u${i}e"
    }
    val sharedTail = (0 until 60).map(j => s"s$j").mkString(" ")
    Seq(1000L -> s"$Boiler $sharedTail endone",
      1001L -> s"$Boiler $sharedTail endtwo") ++ boilerOnly
  }

  test("q_ngram_jaccard: hot shingle generates no pair; the true " +
      "near-dup pair survives with full-set string Jaccard") {
    import spark.implicits._
    val dir = tempPath("hotshingle")
    corpus.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // the planted boilerplate really is over the cap
    val df = corpus.flatMap { case (_, t) => shingles(t) }
      .groupBy(identity).map { case (_, xs) => xs.size }.max
    assert(corpus.count { case (_, t) => shingles(t)(Boiler) } == 62)
    assert(df == 62 && df > MaxDf)

    val rows = SparkEntry.queries("q_ngram_jaccard")(spark, dir)
      .select("a", "b", "inter", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    val sa = shingles(corpus.find(_._1 == 1000L).get._2)
    val sb = shingles(corpus.find(_._1 == 1001L).get._2)
    assert(jq(sa, sb) >= 8000, s"fixture bug: planted pair jq=${jq(sa, sb)}")
    // exactly the planted pair — nothing formed through the hot shingle
    val expected = Set((1000L, 1001L, sa.intersect(sb).size.toLong,
      sa.size.toLong, sb.size.toLong))
    assert(rows == expected, s"got $rows, want $expected")
    // and the score counts the hot shingle: inter includes Boiler
    assert(sa.intersect(sb)(Boiler))
  }

  test("admit: a delta doc whose shared shingles are all hot is " +
      "accepted — the cap's documented recall caveat, observed") {
    import spark.implicits._
    // 55 IDENTICAL existing docs: every one of their shingles has
    // DF >= 55 once the delta's near-copy joins the count
    val base = (0 until 40).map(j => s"w$j").mkString(" ")
    val existing = (0L until 55L).map(i => (i, base)).toDF("doc_id", "text")
    val mutated = base.split(" ").dropRight(1).mkString(" ") + " zz"
    val delta = Seq((9000L, mutated)).toDF("doc_id", "text")

    // true Jaccard clears the threshold — only the cap can hide it
    assert(jq(shingles(base), shingles(mutated)) >= 8000)

    val out = Incremental.admit(existing, delta, NGram, MaxDf, 0.8)
      .as[(Long, String)].collect().toMap
    assert(out == Map(9000L -> "accepted"))

    // control: with the cap lifted the same document is caught
    val outUncapped =
      Incremental.admit(existing, delta, NGram, maxDf = 1000, 0.8)
        .as[(Long, String)].collect().toMap
    assert(outUncapped == Map(9000L -> "near_dup_existing"))
  }
}
