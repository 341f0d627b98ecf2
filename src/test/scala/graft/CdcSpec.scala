package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cdc

/** The CDC boundary-stability property SCALE.md claims: an insertion
  * perturbs only the chunk it lands in — chunks before and after hash
  * identically — while fixed-stride chunking re-aligns everything
  * downstream of the edit and loses the shared-chunk signal.
  */
class CdcSpec extends AnyFunSuite with LocalSparkSuite {

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // 120 deterministic pseudo-words: long enough for ~8 chunks at mask 16
  private val words = (0 until 120).map(i => s"w${(i * 37 + 11) % 211}")
  private val original = words.mkString(" ")
  private val inserted =
    (words.take(60) ++ Seq("INSERTED") ++ words.drop(60)).mkString(" ")

  private def hashes(text: String): Seq[String] =
    Cdc.chunks(docsDf(Seq((0L, text))), col("text"))
      .select("chunk_md5").collect().map(_.getString(0)).toSeq

  test("an inserted token perturbs at most the chunks touching the edit; " +
      "everything else re-aligns") {
    val a = hashes(original)
    val b = hashes(inserted)
    assert(a.size >= 4, s"fixture too short to be meaningful: ${a.size} chunks")
    // multiset intersection: shared chunks survive the edit
    val shared = a.groupBy(identity).map { case (h, hs) =>
      math.min(hs.size, b.count(_ == h))
    }.sum
    assert(shared >= a.size - 3,
      s"CDC lost re-alignment: ${a.size} chunks, only $shared shared after " +
        "a single-token insertion")
    assert(a.toSet != b.toSet, "the edit must change at least one chunk")
  }

  test("fixed-stride chunking loses the downstream chunks after the same " +
      "edit (the contrast that motivates CDC)") {
    def strideHashes(text: String): Seq[String] = {
      val toks = text.split(" ").toSeq
      toks.grouped(16).map(c => c.mkString(" ")).toSeq
    }
    val a = strideHashes(original)
    val b = strideHashes(inserted)
    val editChunk = 60 / 16 // chunk index containing the insertion
    val sharedAfterEdit = a.zipWithIndex.drop(editChunk + 1)
      .count { case (c, _) => b.contains(c) }
    assert(sharedAfterEdit == 0,
      "fixed stride unexpectedly re-aligned after an insertion — " +
        "the CDC contrast claim would be wrong")
  }

  test("identical documents produce identical chunk sequences " +
      "(the dedup signal q_cdc_chunks counts)") {
    val out = Cdc.chunks(
      docsDf(Seq((1L, original), (2L, original))), col("text"))
      .groupBy("chunk_md5").agg(countDistinct("doc_id").as("nd"))
      .select("nd").collect().map(_.getLong(0))
    assert(out.nonEmpty && out.forall(_ == 2L))
  }
}
