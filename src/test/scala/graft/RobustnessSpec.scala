package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashFunctions, TextFunctions}
import graft.streaming._

/** Negative paths and distributed-determinism invariants. */
class RobustnessSpec extends AnyFunSuite with LocalSparkSuite {

  import spark.implicits._

  test("control plane rejects unknown operators and content types") {
    val ps = new PubSub(spark)
    assertThrows[IllegalArgumentException](ControlPlane.build(ps,
      ControlPlane.parse(
        """{"source":{"topic":"x","type":"double"},
           "operators":[{"op":"frobnicate"}]}""".replace("\n", ""))))
    assertThrows[IllegalArgumentException](ControlPlane.build(ps,
      ControlPlane.parse(
        """{"source":{"topic":"x","type":"matrix"},"operators":[]}""")))
    assertThrows[IllegalArgumentException](
      SelectionPolicy.fromJson("""{"type":"MysteryWindow"}"""))
    ps.close()
  }

  test("builder: connectTo before from fails fast") {
    val ps = new PubSub(spark)
    assertThrows[IllegalArgumentException](
      QueryBuilder[Int](ps).connectTo(TypedOps.even[Int]))
    ps.close()
  }

  test("sketch signatures are partition-invariant") {
    val docs = (0 until 64).map(i =>
      (i.toLong, s"some text body number $i with shared tokens " * 3))
      .toDF("doc_id", "text")

    def sigs(parts: Int): Map[Long, (Long, Seq[Long])] = docs
      .repartition(parts)
      .select(col("doc_id"),
        HashFunctions.simhash64(TextFunctions.tokens(col("text"))).as("sh"),
        HashFunctions.minhashSignature(
          TextFunctions.wordShingles(col("text"), 3), 16).as("mh"))
      .as[(Long, Long, Seq[Long])].collect()
      .map { case (id, sh, mh) => id -> (sh, mh) }.toMap

    assert(sigs(1) == sigs(13)) // partitioning must not change signatures
  }

  test("operators tolerate NULL and empty text") {
    val df = Seq(Some(""), None, Some("   "), Some("ok token"))
      .toDF("text")
    val out = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .collect()
    // empty/whitespace -> 0 tokens; NULL propagates as NULL, no crash
    assert(out.length == 4)
    val nonNull = df.where(col("text").isNotNull)
      .select(TextFunctions.tokenCount(col("text"))).as[Int].collect()
    assert(nonNull.sorted.toSeq == Seq(0, 0, 2))
  }
}
