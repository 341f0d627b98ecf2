package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}

/** DSL-vs-SQL parity for every function GraftExtensions injects: the SQL
  * name must resolve (the injection wiring) and produce bit-identical
  * results to the Scala API (same Expression underneath). Runs on the
  * sf0.001 fixture so values are real, not toy.
  */
class SqlFunctionsSpec extends AnyFunSuite with LocalSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def assertParity(sqlExpr: String, dsl: org.apache.spark.sql.Column,
      table: String = "documents"): Unit = {
    graft.queries.Tables.load(spark, dir, table).createOrReplaceTempView(table)
    val mismatches = spark.table(table)
      .select(expr(sqlExpr).as("via_sql"), dsl.as("via_dsl"))
      .where(not(col("via_sql") <=> col("via_dsl")))
      .count()
    assert(mismatches === 0L, s"$sqlExpr diverges from the DSL column")
  }

  test("graft_simhash64 == HashFunctions.simhash64") {
    assertParity("graft_simhash64(split(trim(text), '\\\\s+'))",
      HashFunctions.simhash64(TextFunctions.tokens(col("text"))))
  }

  test("graft_lang_id == TextFunctions.langId") {
    assertParity("graft_lang_id(text)", TextFunctions.langId(col("text")))
  }

  test("graft_fingerprint == TextFunctions.fingerprint") {
    assertParity("graft_fingerprint(text)",
      TextFunctions.fingerprint(col("text")))
  }

  test("graft_word_shingles == TextFunctions.wordShingles") {
    assertParity("graft_word_shingles(text, 5)",
      TextFunctions.wordShingles(col("text"), 5))
  }

  test("graft_minhash == HashFunctions.minhashSignature") {
    assertParity("graft_minhash(graft_word_shingles(text, 5), 64, 42)",
      HashFunctions.minhashSignature(
        TextFunctions.wordShingles(col("text"), 5), 64, 42L))
  }

  test("graft_text_profile == TextProfileExpr") {
    assertParity("graft_text_profile(text)",
      ColumnBridge.column(graft.expressions.TextProfileExpr(
        ColumnBridge.expression(col("text")))))
  }

  test("graft_cosine and graft_dot == VectorFunctions on embeddings") {
    graft.queries.Tables.load(spark, dir, "embeddings")
      .createOrReplaceTempView("embeddings")
    val v = col("embedding").cast("array<double>")
    val mismatches = spark.table("embeddings")
      .select(
        expr("graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>))").as("sql_dot"),
        VectorFunctions.dot(v, v).as("dsl_dot"),
        expr("graft_cosine(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>))").as("sql_cos"),
        VectorFunctions.cosine(v, v).as("dsl_cos"))
      .where(not(col("sql_dot") <=> col("dsl_dot")) ||
        not(col("sql_cos") <=> col("dsl_cos")))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_hyperplane_bands == VectorFunctions.hyperplaneBands") {
    graft.queries.Tables.load(spark, dir, "embeddings")
      .createOrReplaceTempView("embeddings")
    val v = col("embedding").cast("array<double>")
    val mismatches = spark.table("embeddings")
      .select(
        expr("graft_hyperplane_bands(CAST(embedding AS ARRAY<DOUBLE>), 64, 16, 8, 42)").as("via_sql"),
        VectorFunctions.hyperplaneBands(v, 64, 16, 8, 42L).as("via_dsl"))
      .where(not(col("via_sql") <=> col("via_dsl")))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_ngram_score / graft_ngram_buckets == the Scala " +
      "QualityModel kernels (serialized-weights round trip included)") {
    import graft.operators.QualityModel
    val rng = new scala.util.Random(77)
    val w = QualityModel.NgramWeights(rng.nextGaussian(),
      IndexedSeq.fill(QualityModel.NgramBuckets)(rng.nextGaussian()))
    val ser = QualityModel.NgramWeights.serialize(w)
    assert(QualityModel.NgramWeights.parse(ser) == w,
      "serialize/parse must round-trip bit-lossless")
    // SQL-side tokens: the exact TextFunctions.tokens tree in SQL form
    val sqlToks = "CASE WHEN length(trim(text)) = 0 " +
      "THEN CAST(array() AS ARRAY<STRING>) " +
      "ELSE split(trim(text), '\\\\s+') END"
    val mismatches = spark.table("documents")
      .select(
        expr(s"graft_ngram_score($sqlToks, '$ser')").as("s_sql"),
        QualityModel.ngramScore(col("text"), w).as("s_dsl"),
        expr(s"graft_ngram_buckets($sqlToks)").as("b_sql"),
        QualityModel.bigramBuckets(col("text")).as("b_dsl"))
      .where(not(col("s_sql") <=> col("s_dsl")) ||
        not(col("b_sql") <=> col("b_dsl")))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_cms_buckets matches the aggregator's probe coordinates") {
    assertParity("graft_cms_buckets(text, 4, 2048)",
      ColumnBridge.column(graft.expressions.CmsBuckets(
        ColumnBridge.expression(col("text")), 4, 2048)))
  }

  test("graft_bpe_encode == BpeEncode with the parsed merge table") {
    assertParity("graft_bpe_encode(text, 'a b,ab c,b a')",
      ColumnBridge.column(graft.expressions.BpeEncode(
        ColumnBridge.expression(col("text")),
        Seq(("a", "b"), ("ab", "c"), ("b", "a")))))
  }

  test("graft_quality_model == QualityModel.score with the parsed " +
      "weights (serialize round-trips)") {
    import graft.operators.QualityModel
    val w = QualityModel.Weights(Seq(-1.0, 1.2, 0.8, -2.0, 0.5))
    assert(QualityModel.Weights.parse(QualityModel.Weights.serialize(w)) == w)
    assertParity(
      s"graft_quality_model(text, '${QualityModel.Weights.serialize(w)}')",
      QualityModel.score(col("text"), w))
  }

  test("graft_importance_logw == Importance.logw with the parsed LM") {
    val lm = graft.operators.Importance.Lm(
      Map(3L -> 120L, 200L -> -45L, 17L -> 9999L), -7L)
    assertParity("graft_importance_logw(text, '3:120,200:-45,17:9999', -7)",
      graft.operators.Importance.logw(col("text"), lm))
  }

  test("shape parameters must be literals") {
    graft.queries.Tables.load(spark, dir, "documents")
      .createOrReplaceTempView("documents")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(text, CAST(n_chars AS INT)) " +
        "FROM documents").collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("wrong argument count is a clean arity error naming the function, " +
      "never an IndexOutOfBoundsException") {
    graft.queries.Tables.load(spark, dir, "documents")
      .createOrReplaceTempView("documents")
    for ((call, fn, arity) <- Seq(
        ("graft_dot(embedding)", "graft_dot", 2),
        ("graft_minhash(text)", "graft_minhash", 3),
        ("graft_simhash64(text, 1)", "graft_simhash64", 1))) {
      val table = if (call.contains("embedding")) "embeddings" else "documents"
      if (table == "embeddings")
        graft.queries.Tables.load(spark, dir, "embeddings")
          .createOrReplaceTempView("embeddings")
      val e = intercept[Exception] {
        spark.sql(s"SELECT $call FROM $table").collect()
      }
      assert(!e.isInstanceOf[IndexOutOfBoundsException] &&
        !Option(e.getCause).exists(_.isInstanceOf[IndexOutOfBoundsException]),
        s"$fn surfaced an index error: $e")
      assert(e.getMessage.contains(fn) &&
        e.getMessage.contains(s"expects $arity argument"),
        s"$fn arity error unclear: ${e.getMessage}")
    }
  }
}
