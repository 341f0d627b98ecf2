package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Verify failure contract: a throwing query must show up LOUDLY in
  * the dump — as an `__error` marker parquet (so the driver's DuckDB
  * compare reports a mismatch, not an absence) and in errors.json —
  * never as a silently missing ledger entry. Round 11 lost 32 queries
  * exactly this way (events fixture regression + swallow-and-log-only
  * error handling); this spec is the regression pin for the fix.
  */
class VerifyContractSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def cores = 2
  import spark.implicits._

  test("a throwing query leaves an __error marker and an errors.json " +
      "entry; healthy queries dump normally") {
    val out = tempPath("verify-contract")
    val qs = Map[String, (SparkSession, String) => DataFrame](
      "q_ok" -> ((s, _) => { import s.implicits._; Seq(1, 2).toDF("x") }),
      "q_boom" -> ((_, _) =>
        throw new IllegalStateException("planted failure: fixture drift")))
    val failed = Verify.dumpAll(spark, "/nonexistent", out, qs)
    Verify.writeErrors(out, failed)

    assert(failed.keySet == Set("q_boom"))
    assert(failed("q_boom").contains("planted failure"))
    // healthy query dumped as real data
    val ok = spark.read.parquet(s"$out/q_ok")
    assert(ok.columns.toSeq == Seq("x") && ok.count() == 2)
    // broken query dumped as a marker the driver's compare will flag:
    // one row, single __error column carrying the message
    val marker = spark.read.parquet(s"$out/q_boom")
    assert(marker.columns.toSeq == Seq("__error"))
    assert(marker.as[String].head().contains("planted failure"))
    // errors.json is valid JSON with the failure recorded
    val errTxt = Files.readString(Paths.get(s"$out/errors.json"))
    assert(errTxt.contains("\"q_boom\"") &&
      errTxt.contains("planted failure"))
  }

  test("jstr escapes control characters so builder-authored SQL cannot " +
      "corrupt oracle_sql.json") {
    assert(Verify.jstr("a\tb\nc\"d\\e" + 1.toChar + "f") ==
      "\"a\\tb\\nc\\\"d\\\\e\\u0001f\"")
  }
}
