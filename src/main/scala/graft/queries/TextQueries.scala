package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.TextFunctions
import graft.operators.Ops
import graft.queries.Det.sqlTokens

/** Text-analysis queries over the `documents` table: tokenization
  * (reference Tokenize, pkg/processing/default_operators.go:264-268 /
  * FlatMap :221-242) plus the training-data-pipeline operators (token
  * stats, quality scoring, language ID, fingerprinting).
  *
  * Everything is a per-row codegen'd expression inside the scan stage —
  * the only shuffles are the final aggregations. At 100 TB these scale
  * linearly with input bytes and are bound by parquet decode, not compute.
  */
object TextQueries {

  /** QualityModel's fixed anchor weights (q_quality_classifier). */
  private val ClassifierW = Seq(-1.0, 1.2, 0.8, -2.0, 0.5)

  /** DuckDB reproduction of QualityModel.features + the weak label:
    * (doc_id, y, f0..f4), identical integer counts and IEEE divisions
    * as the Spark side (the same profile arithmetic q_quality oracles).
    */
  private lazy val classifierFeatureSql = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as", "was", "at", "by", "be",
      "this").map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
      CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
      1.0 AS f0,
      least(CAST(nt AS DOUBLE) / 50.0, 1.0) AS f1,
      CASE WHEN nt > 0 THEN CAST(nstop AS DOUBLE) / nt ELSE 0.0 END AS f2,
      CASE WHEN nchars > 0 THEN CAST(npunct AS DOUBLE) / nchars
        ELSE 0.0 END AS f3,
      least(CAST(nchars AS DOUBLE) / 400.0, 1.0) AS f4
    FROM (SELECT doc_id, source,
        CAST(len(toks) AS BIGINT) AS nt,
        CAST(len(list_filter(toks,
          x -> list_contains($stop, lower(x)))) AS BIGINT) AS nstop,
        CAST(len(text) AS BIGINT) AS nchars,
        CAST(len(text) - len(regexp_replace(text,
          '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS npunct
      FROM (SELECT doc_id, source, text, $sqlTokens AS toks
        FROM documents
        WHERE text IS NOT NULL AND source IS NOT NULL) t) m"""
  }

  /** DuckDB reproduction of TextFunctions.langId: marker-word argmax with
    * (score, lang) lexicographic tie-break via list max over structs.
    */
  private lazy val langidOracleSql: String = {
    val markers = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "with", "for", "was"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "zu"),
      "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "des"),
      "es" -> Seq("el", "la", "los", "las", "es", "una", "que", "por", "con", "para"),
      "it" -> Seq("il", "la", "che", "di", "non", "una", "per", "sono", "con", "del"))
    val structs = markers.map { case (lang, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""struct_pack(score := CAST(len(list_filter(
         list_transform($sqlTokens, t -> lower(t)),
         t -> list_contains($arr, t))) AS INTEGER), lang := '$lang')"""
    }.mkString(",\n")
    s"""SELECT doc_id,
      CASE WHEN g.score > 0 THEN g.lang ELSE 'unknown' END AS lang_pred
      FROM (SELECT doc_id,
        list_aggregate([$structs], 'max') AS g FROM documents) t"""
  }

  def defs: Map[String, QueryDef] = Map(
    // Tokenize / FlatMap: 1:N explode, one row per token.
    "q_tokenize" -> QueryDef(
      (s, dir) => Ops.tokenize(col("text"), "token")(
        Tables.load(s, dir, "documents")).select("doc_id", "token"),
      Some(s"SELECT doc_id, unnest($sqlTokens) AS token FROM documents")),

    // Global word count — tokenize + group (the reference's word-count
    // example collapsed over all windows).
    "q_wordcount" -> QueryDef(
      (s, dir) => Ops.tokenize(col("text"), "token")(
        Tables.load(s, dir, "documents"))
        .groupBy("token").agg(count(lit(1)).as("n")),
      Some(s"""SELECT token, count(*) AS n FROM (
        SELECT unnest($sqlTokens) AS token FROM documents) t
        GROUP BY token"""),
      bench = true),

    // Token statistics: exact token count + approximate BPE token count
    // (ceil(len/4) subwords per word) + punctuation count.
    "q_token_stats" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.approxBpeTokenCount(col("text")).as("n_bpe"),
          TextFunctions.punctCount(col("text")).cast("long").as("n_punct")),
      Some(s"""SELECT doc_id,
        CAST(len($sqlTokens) AS BIGINT) AS n_tokens,
        CAST(coalesce(list_sum(list_transform($sqlTokens,
          t -> greatest(CAST(ceil(len(t) / 4.0) AS BIGINT), 1))), 0)
          + (len(text) - len(regexp_replace(text,
              '[.,;:!?''"()\\[\\]{}-]', '', 'g'))) AS BIGINT) AS n_bpe,
        CAST(len(text) - len(regexp_replace(text,
          '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS n_punct
        FROM documents""")),

    // Language ID: marker-word argmax with (score, lang) lexicographic
    // tie-break — greatest() over structs reproduces Spark's array_max
    // over struct(score, lang) exactly.
    "q_langid" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred")),
      Some(langidOracleSql),
      bench = true),

    // Language-ID evaluation: confusion matrix of predictions against the
    // fixture's ground-truth lang column — the model-evaluation shape of
    // a training-data pipeline (one scan + one tiny-group aggregation).
    "q_langid_confusion" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n")),
      Some(
        s"""SELECT d.lang AS lang, p.lang_pred AS lang_pred, count(*) AS n
          FROM ($langidOracleSql) p JOIN documents d USING (doc_id)
          GROUP BY 1, 2""")),

    // Quality score: composite of length / stopword-ratio / punctuation
    // heuristics; identical double expression order on both engines.
    "q_quality" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality")),
      Some {
        val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
          "it", "that", "for", "on", "with", "as", "was", "at", "by", "be",
          "this").map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS nt,
          CAST(len(list_filter(toks, x -> list_contains($stop, lower(x)))) AS BIGINT) AS nstop,
          CAST(len(text) AS BIGINT) AS nchars,
          CAST(len(text) - len(regexp_replace(text,
            '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS npunct
          FROM t)
        SELECT doc_id, floor((
          least(CAST(nt AS DOUBLE) / 50.0, 1.0) +
          least((CASE WHEN nt > 0 THEN CAST(nstop AS DOUBLE) / nt ELSE 0.0 END) * 4.0, 1.0) +
          greatest(1.0 - (CASE WHEN nchars > 0 THEN CAST(npunct AS DOUBLE) / nchars ELSE 0.0 END) * 5.0, 0.0)
        ) / 3.0 * 10000 + 0.5) / 10000 AS quality FROM m"""
      }),

    // One logistic-regression gradient step of the TRAINABLE quality
    // classifier (operators.QualityModel — the fastText-style
    // model-based corpus filter), from zero weights over the weak label
    // source='src0'. Fully oracled with NO transcendental risk:
    // sigmoid(0) is exactly 0.5, features are ratios of exact integer
    // counts (one IEEE division each), and the per-dimension sums go
    // through DECIMAL(28,10) (order-independent, the q_embed_centroid
    // pattern). The anchor pins the trainer's aggregation exactly;
    // QualityModelSpec pins the iterative descent on top.
    "q_logreg_step" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && col("source").isNotNull)
        import graft.operators.QualityModel
        val err = (QualityModel.score(col("text"), QualityModel.Weights.zero)
          - (col("source") === "src0").cast("double")).as("err")
        docs.select(err,
            posexplode(QualityModel.features(col("text"))).as(Seq("pos", "x")))
          .groupBy(col("pos").cast("long").as("pos"))
          .agg(Det.r4(
            sum((col("err") * col("x")).cast("decimal(28,10)"))
              .cast("double") / count(lit(1))).as("grad"))
      },
      Some(s"""WITH f AS ($classifierFeatureSql),
        g AS (SELECT
          ${(0 until 5).map(j => s"floor(CAST(sum(CAST((0.5 - y) * f$j " +
            s"AS DECIMAL(28,10))) AS DOUBLE) / count(*) " +
            s"* 10000 + 0.5) / 10000 AS g$j").mkString(", ")}
          FROM f)
        SELECT CAST(p.pos AS BIGINT) AS pos,
          CASE p.pos WHEN 0 THEN g0 WHEN 1 THEN g1 WHEN 2 THEN g2
            WHEN 3 THEN g3 ELSE g4 END AS grad
        FROM g, (VALUES (0), (1), (2), (3), (4)) p(pos)""")),

    // One zero-weight gradient step of the HASHED-BIGRAM quality
    // classifier (QualityModel.ngramGradient — the content-feature
    // fastText/CCNet-class model the 5 profile ratios approximate).
    // Fully oracled with the same no-transcendental trick as
    // q_logreg_step: sigmoid(0) is exactly 0.5, the sparse features are
    // integer bigram counts per md5-derived bucket (the
    // q_importance_weights two-hex-digit idiom), the per-bucket sums go
    // through DECIMAL(28,10), and the bias bucket (-1, one occurrence
    // per document) doubles as the denominator N — so the whole sparse
    // gradient is one explode+groupBy plus a tiny unpartitioned window
    // over <= 257 grouped rows.
    "q_logreg_ngram_step" -> QueryDef(
      (s, dir) => {
        import graft.operators.QualityModel
        val docs = Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && col("source").isNotNull)
        // one tokenize+md5 pass: bucket ids materialize once and feed
        // both the error term and the exploded sparse features (see
        // QualityModel.ngramGradient — this is the same fused frame)
        val zeroW = QualityModel.NgramWeights.zero
        val err = (graft.expressions.NgramScoreFromBuckets(
            col("__bb"), zeroW.bias, zeroW.w.toArray)
          - (col("source") === "src0").cast("double")).as("err")
        val g = docs
          .withColumn("__bb", QualityModel.bigramBuckets(col("text")))
          .select(err, explode(concat(array(lit(-1L)),
            col("__bb"))).as("b"))
          .groupBy("b")
          .agg(sum(col("err").cast("decimal(28,10)")).cast("double").as("s"),
            count(lit(1)).as("c"))
        val w = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        g.select(col("b"),
          Det.r4(col("s") /
            max(when(col("b") === -1L, col("c"))).over(w)).as("grad"))
      },
      Some(s"""WITH d AS (SELECT
            CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
            $sqlTokens AS toks
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
        ex AS (SELECT y, unnest(list_prepend(CAST(-1 AS BIGINT),
            list_transform(
              list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1]),
              bg -> CAST(
                (instr('0123456789abcdef', substr(md5(bg), 1, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(bg), 2, 1)) - 1
                AS BIGINT)))) AS b
          FROM d),
        g AS (SELECT b,
            CAST(sum(CAST(0.5 - y AS DECIMAL(28,10))) AS DOUBLE) AS s,
            count(*) AS c
          FROM ex GROUP BY b)
        SELECT b, ${Det.sqlR4("s / (max(CASE WHEN b = -1 THEN c END) OVER ())")} AS grad
        FROM g""")),

    // The classifier's map-only scorer under a FIXED weight vector —
    // the cross-engine anchor for QualityModel.score's sigmoid
    // projection (identical feature order and left-to-right
    // accumulation on both engines; pure projection, so there is no
    // membership cut for a last-ulp exp difference to flip).
    "q_quality_classifier" -> QueryDef(
      (s, dir) => {
        import graft.operators.QualityModel
        Tables.load(s, dir, "documents")
          .where(col("text").isNotNull && col("source").isNotNull)
          .select(col("doc_id"),
            Det.r4(QualityModel.score(col("text"),
              QualityModel.Weights(ClassifierW))).as("model_score"))
      },
      Some(s"""WITH f AS ($classifierFeatureSql)
        SELECT doc_id, floor((1.0 / (1.0 + exp(-(
          ${ClassifierW.zipWithIndex
            .map { case (w, j) => s"f$j * $w" }.mkString(" + ")}))))
          * 10000 + 0.5) / 10000 AS model_score
        FROM f""")),

    // SQL-surface parity for the native-expression catalog: the same
    // engine capabilities reachable with zero Scala — the functions are
    // injected via SparkSessionExtensions (GraftExtensions), so a pure
    // SQL user (JDBC, spark-sql shell, notebook) runs the identical
    // one-pass expressions. Oracled by composing the fingerprint/langid
    // oracle forms, so this also cross-checks the injection wiring.
    "q_sql_functions" -> QueryDef(
      (s, dir) => {
        Tables.load(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql("""SELECT doc_id, graft_fingerprint(text) AS fp,
          graft_lang_id(text) AS lang_pred,
          CAST(size(graft_word_shingles(text, 3)) AS BIGINT) AS n_shingles
          FROM documents""")
      },
      Some(s"""SELECT f.doc_id AS doc_id, f.fp, l.lang_pred, s.n_shingles
        FROM (SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, len(text)), i -> ascii(text[i]))),
            (acc, c) -> (CAST(acc AS BIGINT) * 257 + c) % 1000000007) AS fp
          FROM documents) f
        JOIN ($langidOracleSql) l ON f.doc_id = l.doc_id
        JOIN (SELECT doc_id,
          CAST(greatest(len($sqlTokens) - 2, 0) AS BIGINT) AS n_shingles
          FROM documents) s ON f.doc_id = s.doc_id""")),

    // Repetition metrics (Gopher-style quality filters: distinct-token
    // ratio, most-common-token coverage, most-common-2-gram coverage,
    // plus the derived keep/drop flag). Scale shape: explode -> count per
    // (doc, token|gram) -> per-doc max/sum — two combiner-friendly
    // shuffles keyed by (doc_id, term), never a per-row O(L^2) scan of
    // long documents; the final join is doc_id-keyed. All ratios are
    // long/long divides quantized with the deterministic floor form.
    "q_repetition" -> QueryDef(
      (s, dir) => {
        // One-pass per-row profile (RepetitionProfileExpr): every
        // statistic is a function of a single document's own tokens, so
        // nothing here needs a shuffle — the old two-branch form
        // exchanged every token occurrence AND every 2-gram occurrence
        // of the corpus on (doc_id, token) keys, re-aggregated both,
        // and joined (4 exchanges + a join for per-row arithmetic;
        // guide §2.4). Row membership is unchanged: docs with zero
        // tokens (or NULL text) produced no exploded rows before, and
        // are filtered the same way here. The five profile integers
        // are exact counts; the ratio/keep arithmetic below is the
        // IDENTICAL IEEE op sequence as before, so the oracle-compared
        // doubles are bit-equal.
        val p = graft.expressions.RepetitionProfileExpr(col("text"))
        val distinctRatio =
          Det.r4(col("n_distinct").cast("double") / col("n_tokens"))
        val topTokenFrac =
          Det.r4(col("top_n").cast("double") / col("n_tokens"))
        // the old left join yielded NULL top_g/n_grams for gram-less
        // docs, coalesced to 0.0; n_grams == 0 is exactly that case
        val topGramFrac = Det.r4(when(col("n_grams") > 0,
          col("top_g").cast("double") / col("n_grams")).otherwise(lit(0.0)))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), p.as("p"))
          .where(col("p").isNotNull && col("p.n_tokens") > 0)
          .select(col("doc_id"), col("p.n_tokens").as("n_tokens"),
            col("p.n_distinct").as("n_distinct"),
            col("p.top_n").as("top_n"), col("p.n_grams").as("n_grams"),
            col("p.top_g").as("top_g"))
          .select(col("doc_id"), col("n_tokens"),
            distinctRatio.as("distinct_ratio"),
            topTokenFrac.as("top_token_frac"),
            topGramFrac.as("top_2gram_frac"),
            // Gopher-ish keep rule, computed on the already-quantized
            // ratios so the flag is cross-engine deterministic.
            when(distinctRatio >= 0.2 && topGramFrac <= 0.18, 1)
              .otherwise(0).cast("int").as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
          $sqlTokens AS toks
          FROM documents),
        tc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_n
          FROM (SELECT doc_id, token, count(*) AS c FROM
            (SELECT doc_id, unnest(toks) AS token FROM t) GROUP BY 1, 2)
          GROUP BY 1),
        gc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
            CAST(max(c) AS BIGINT) AS top_g
          FROM (SELECT doc_id, gram, count(*) AS c FROM
            (SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(toks) - 1, 0)),
                i -> list_aggregate(toks[i:i+1], 'string_agg', ' '))) AS gram
              FROM t) GROUP BY 1, 2)
          GROUP BY 1),
        m AS (SELECT tc.doc_id AS doc_id, n_tokens,
            floor(CAST(n_distinct AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS distinct_ratio,
            floor(CAST(top_n AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS top_token_frac,
            floor(coalesce(CAST(top_g AS DOUBLE) / n_grams, 0.0) * 10000 + 0.5) / 10000 AS top_2gram_frac
          FROM tc LEFT JOIN gc ON tc.doc_id = gc.doc_id)
        SELECT doc_id, n_tokens, distinct_ratio, top_token_frac,
          top_2gram_frac,
          CAST(CASE WHEN distinct_ratio >= 0.2 AND top_2gram_frac <= 0.18
            THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM m"""),
      bench = true),

    // Fixed-size token chunking with overlap (context-window packing's
    // sibling: one training sample per chunk, stride < length so chunks
    // overlap). Per-row explode of chunk indices + array slices — no
    // shuffle at all; at 100 TB this is a map-only pass whose output
    // partitioning follows the input. Chunk starts advance by stride
    // while they remain inside the document.
    "q_chunking" -> QueryDef(
      (s, dir) => {
        val len = 32
        val stride = 24
        val t = TextFunctions.tokens(col("text"))
        val n = size(t)
        // floor((n-1)/stride) is the last chunk index; guard n==0 (the
        // sequence() descending trap on empty docs).
        val lastIdx =
          floor((col("n") - 1).cast("double") / stride).cast("int")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), t.as("toks"), n.as("n"))
          .where(col("n") > 0)
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), lastIdx)).as("i"))
          .select(col("doc_id"), col("i").cast("long").as("chunk_id"),
            slice(col("toks"), col("i") * stride + 1, lit(len)).as("chunk"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).cast("long").as("n_chunk_tokens"),
            element_at(col("chunk"), 1).as("head_token"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
          $sqlTokens AS toks
          FROM documents),
        c AS (SELECT doc_id, toks,
            unnest(generate_series(0, CAST(floor((len(toks) - 1) / 24.0) AS INTEGER))) AS i
          FROM t WHERE len(toks) > 0)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
          CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
          toks[i * 24 + 1] AS head_token
        FROM c""")),

    // PII / identifier scrubbing: mask email addresses then long digit
    // runs (account numbers, phone digits) with typed placeholders and
    // count the redactions. Pure per-row regex work inside the scan
    // stage — at 100 TB this is parquet-decode-bound with zero shuffle.
    // The pattern subset (classes, alternation, bounded quantifiers) is
    // identical under Java regex and RE2, so DuckDB oracles it verbatim.
    "q_pii_redact" -> QueryDef(
      (s, dir) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val digits = "[0-9]{6,}"
        val noEmail = regexp_replace(col("c_name"), lit(email), lit("[EMAIL]"))
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"),
            regexp_replace(noEmail, lit(digits), lit("[ID]")).as("scrubbed"),
            (regexp_count(col("c_name"), lit(email)) +
              regexp_count(noEmail, lit(digits))).cast("long")
              .as("n_redactions"))
      },
      Some("""SELECT c_custkey,
        regexp_replace(
          regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '[0-9]{6,}', '[ID]', 'g') AS scrubbed,
        CAST(len(regexp_extract_all(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          + len(regexp_extract_all(
              regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
              '[0-9]{6,}')) AS BIGINT) AS n_redactions
        FROM customer""")),

    // Rolling-hash fingerprint: polynomial base-257 mod 1e9+7 over the
    // character codes — reproducible in plain SQL arithmetic, so fully
    // oracle-checked.
    "q_fingerprint" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, len(text)), i -> ascii(text[i]))),
          (acc, c) -> (CAST(acc AS BIGINT) * 257 + c) % 1000000007) AS fp
        FROM documents""")),

    // BM25 keyword search (Robertson/Sparck-Jones, the +1 idf variant):
    // top-50 documents for a fixed query-term set. Scale shape: the
    // query-term filter runs map-side BEFORE the shuffle (>95% of tokens
    // die in the scan stage), the per-(doc,term) tf agg is combiner-
    // friendly, and every statistics side (df: |q| rows, N/avgdl: 1 row)
    // joins back by broadcast — the corpus never shuffles twice. Top-50
    // plans as TakeOrderedAndProject, not a global sort. Per-term
    // contributions are floor-quantized to integer 1e-4 units and summed
    // as longs, so the score is order-of-addition independent and
    // bit-identical cross-engine.
    "q_bm25" -> QueryDef(
      (s, dir) => {
        val terms = Seq("spark", "query", "window", "fast",
          "vector", "stream", "merge", "filter")
        // ONE tokenize pass for the whole query: the cached frame carries
        // dl (for the corpus stats) plus only the query-term occurrences
        // (for tf/df) — a per-doc row of a few bytes. The previous shape
        // cached the post-explode tf frame and then ran a SECOND full
        // corpus tokenize for the stats aggregation (two regex-split
        // scans of every document; guide §1.2 "don't compute things
        // twice", §8 "decide with small rows"). filter-then-explode vs
        // explode-then-where is multiplicity-preserving, so tf/df/stats
        // are unchanged.
        val docs = Materialize.pin(Tables.load(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).as("dl"),
            filter(col("toks"), t => t.isin(terms: _*)).as("qtoks")),
          eager = false)
        val stats = docs.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("token"))
          .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val result = tf.join(broadcast(dfT), "token")
          .crossJoin(broadcast(stats))
          .withColumn("c", floor(
            log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
              (col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))) *
              10000 + 0.5))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"),
            (sum("c") / 10000.0).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(50)
        Materialize.releaseAfterFirstUse(result, docs)
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        d AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
        stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM t),
        tf AS (SELECT doc_id, dl, token, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS token FROM d)
          WHERE token IN ('spark', 'query', 'window', 'fast',
            'vector', 'stream', 'merge', 'filter')
          GROUP BY 1, 2, 3),
        dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        c AS (SELECT doc_id, CAST(floor(
            ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
              (tf * 2.2) /
              (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) *
              10000 + 0.5) AS BIGINT) AS c
          FROM tf JOIN dft USING (token), stats)
        SELECT doc_id, count(*) AS n_terms, sum(c) / 10000.0 AS score
        FROM c GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 50"""),
      bench = true),

    // Cross-document repeated-span detection (exact substring dedup a la
    // "Deduplicating Training Data Makes Language Models Better": 8-token
    // windows shared by >=2 documents, reported as per-doc duplicated-
    // window coverage). Scale shape: windows are distinct per doc before
    // the shuffle; the window-frequency side has ONE row per window key
    // (no skew amplification), and both the frequency agg and the join
    // hash-partition on the window so the exchange is reused. Docs
    // shorter than the window emit nothing (documented contract).
    "q_dup_spans" -> QueryDef(
      (s, dir) => {
        // eager pin: the frame feeds both the frequency agg and the join
        // probe, AND the join plans on its measured size (from the scan
        // estimate, `freq`'s broadcast build aborted on
        // spark.driver.maxResultSize at mult=300)
        val sh = Materialize.pin(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), explode(array_distinct(
              TextFunctions.wordShingles(col("text"), 8))).as("w")),
          eager = true)
        val freq = sh.groupBy("w").agg(count(lit(1)).as("nd"))
        val result = sh.join(freq, "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("nd") >= 2, 1).otherwise(0)).cast("long").as("n_dup"))
          .select(col("doc_id"), col("n_windows"), col("n_dup"),
            Det.r4(col("n_dup").cast("double") / col("n_windows"))
              .as("dup_frac"))
        Materialize.releaseAfterFirstUse(result, sh)
      },
      Some(s"""WITH t AS (SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks) - 7, 0)),
            i -> list_aggregate(toks[i:i+7], 'string_agg', ' '))) AS ws
          FROM (SELECT doc_id, $sqlTokens AS toks FROM documents)),
        sh AS (SELECT doc_id, unnest(ws) AS w FROM t),
        freq AS (SELECT w, count(*) AS nd FROM sh GROUP BY 1)
        SELECT doc_id, count(*) AS n_windows,
          CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          ${Det.sqlR4("CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS dup_frac
        FROM sh JOIN freq USING (w) GROUP BY doc_id""")),

    // Inverted-index construction, first posting shard: token -> document
    // frequency + the first 20 doc ids (ascending). The row_number cap
    // runs BEFORE collect_list, so no task ever materializes an unbounded
    // posting (a hot token's full posting list is exactly what kills a
    // naive collect at 100 TB); df keeps the full count from a separate
    // combiner-friendly agg over the same token-partitioned exchange. A
    // production index range-shards each token's posting further; this
    // query is shard 0 of that layout.
    "q_postings" -> QueryDef(
      (s, dir) => {
        // eager pin: feeds the df agg and the rank-capped collect (no
        // subplan sharing without it), and the df-join below plans on
        // measured size (the q_dup_spans abort at mult=300)
        val sh = Materialize.pin(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), explode(array_distinct(
              TextFunctions.tokens(col("text")))).as("token")),
          eager = true)
        val dfT = sh.groupBy("token").agg(count(lit(1)).as("df"))
        val capped = sh
          .withColumn("rn", row_number().over(
            Window.partitionBy("token").orderBy("doc_id")))
          .where(col("rn") <= 20)
          .groupBy("token")
          .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("posting"))
        val result = dfT.join(capped, "token").where(col("df") >= 5)
        Materialize.releaseAfterFirstUse(result, sh)
      },
      Some(s"""WITH sh AS (SELECT doc_id, unnest(list_distinct($sqlTokens)) AS token
          FROM documents),
        d AS (SELECT token, count(*) AS df FROM sh GROUP BY 1),
        c AS (SELECT token, doc_id,
            row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
          FROM sh),
        p AS (SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
          FROM c WHERE rn <= 20 GROUP BY 1)
        SELECT d.token AS token, df, posting
        FROM d JOIN p USING (token) WHERE df >= 5""")),

    // Content-defined chunking (CDC) dedup: chunk boundaries fall where
    // the rolling prefix hash of the token stream hits h % 16 == 0 — so
    // boundaries are CONTENT-anchored and survive insertions/deletions
    // (the property fixed-stride chunking lacks: one shifted token
    // re-aligns every downstream chunk). Chunks shared by >= 2 docs are
    // the dup signal, as in storage CDC systems. One O(n) per-row
    // aggregate computes the boundary set (token fingerprints reuse the
    // oracled q_fingerprint polynomial, so the whole boundary function
    // is cross-engine exact); the chunk frame is cached (feeds the
    // frequency agg + the join) and released after the first action.
    // The HOF lambdas get no codegen — the per-row cost is the token
    // count, amortized against the shuffle they feed.
    "q_cdc_chunks" -> QueryDef(
      (s, dir) => {
        // eager pin for the same two reasons as q_dup_spans: reuse
        // across the frequency agg + join, and a join planned against
        // the chunk frame's measured bytes instead of the scan guess
        val ch = Materialize.pin(
          graft.operators.Cdc.chunks(
            Tables.load(s, dir, "documents"), col("text")), eager = true)
        val freq = ch.distinct()
          .groupBy("chunk_md5").agg(count(lit(1)).as("nd"))
        val result = ch.join(freq, "chunk_md5")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1).otherwise(0)).cast("long")
              .as("n_dup_chunks"))
        Materialize.releaseAfterFirstUse(result, ch)
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents
          WHERE len($sqlTokens) > 0),
        f AS (SELECT doc_id, toks, list_transform(toks, w ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, len(w)), i -> ascii(w[i]))),
              (acc, c) -> (CAST(acc AS BIGINT) * 257 + c) % 1000000007)) AS fps
          FROM t),
        pref AS (SELECT doc_id, i,
            list_reduce(list_prepend(CAST(0 AS BIGINT), fps[1:i]),
              (a, x) -> (CAST(a AS BIGINT) * 257 + x) % 1000000007) AS h
          FROM (SELECT doc_id, fps,
            unnest(generate_series(1, len(fps))) AS i FROM f)),
        b AS (SELECT doc_id, 0 AS p FROM t
          UNION
          SELECT doc_id, i FROM pref WHERE h % 16 = 0
          UNION
          SELECT doc_id, len(toks) FROM t),
        seg AS (SELECT doc_id, p AS s,
            lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS e FROM b),
        ch AS (SELECT seg.doc_id AS doc_id,
            list_aggregate(toks[s + 1:e], 'string_agg', ' ') AS chunk
          FROM seg JOIN t ON seg.doc_id = t.doc_id WHERE e IS NOT NULL),
        freq AS (SELECT chunk, count(*) AS nd FROM
          (SELECT DISTINCT doc_id, chunk FROM ch) GROUP BY 1)
        SELECT doc_id, count(*) AS n_chunks,
          CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM ch JOIN freq USING (chunk) GROUP BY 1"""),
      bench = false),

    // Unigram-LM negative-log-likelihood scoring (the perplexity-filter
    // family: score each document by how surprising its tokens are under
    // a language model — here the corpus' own unigram MLE, the classic
    // CCNet-style quality dial). Scale shape: per-(doc,token) counts are
    // one combiner-friendly shuffle; the vocabulary LM (token -> -ln p,
    // integer-quantized) is a broadcast — at real corpus scale a
    // million-type vocab is tens of MB, firmly broadcastable — and the
    // per-doc score is a second keyed agg summing LONGS (count x
    // quantized nll), so the result is addition-order independent and
    // bit-identical cross-engine. Docs with zero tokens emit nothing.
    "q_unigram_nll" -> QueryDef(
      (s, dir) => {
        // The per-(doc,token) counts feed the vocabulary LM AND the
        // scoring join, but deliberately NOT cached: tf is CORPUS-sized
        // (one row per distinct doc-token pair), so materializing it
        // costs a corpus-scale write — measurably slower than the
        // second scan+explode pass here, and storage pressure at 100 TB
        // (unlike q_bm25's tf, which the query-term filter makes tiny).
        // The production contract is coarser anyway: a vocabulary LM is
        // a reusable OFFLINE artifact (like kmeansTrain centroids) —
        // compute `nll` once, persist as a table, and the scoring pass
        // becomes single-scan by construction.
        val tf = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        // The vocabulary is materialized ONCE (localCheckpoint, the
        // Packing.globalCumsum pattern: storage released when the frame
        // is GC'd), so the totals agg and the nll projection read the
        // same rows without re-planning the scan+explode+tf chain a
        // THIRD time (exchange reuse across branches measurably does
        // not fire — the q_importance_weights lesson). n_total then
        // rides a scalar agg + 1-row broadcast instead of the r18
        // unpartitioned window, whose single-partition WindowExec
        // serialized the ENTIRE vocab frame (10⁸-10⁹ distinct tokens at
        // corpus scale) through one task (guide §2.4/§5 — the "No
        // Partition Defined" WARN was this). Same exact long sum, same
        // arithmetic, same rows.
        // lazy: the materialization rides the first consuming job
        // (the 1-row totals broadcast build) instead of a separate
        // construction-time job
        val vocab = Materialize.checkpoint(
          tf.groupBy("token").agg(sum("c").as("n")), eager = false)
        val nll = vocab
          .crossJoin(broadcast(vocab.agg(sum("n").as("n_total"))))
          .select(col("token"),
            floor(-log(col("n") / col("n_total")) * 10000 + 0.5)
              .as("nll_i4"))
        tf.join(broadcast(nll), "token")
          .groupBy("doc_id")
          .agg(sum(col("c") * col("nll_i4")).as("sn"),
            sum("c").as("n_tokens"))
          .select(col("doc_id"), col("n_tokens"),
            Det.r4(col("sn") / (col("n_tokens") * 10000.0)).as("avg_nll"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($sqlTokens) AS token
          FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2),
        vocab AS (SELECT token, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM vocab),
        nll AS (SELECT token,
            CAST(floor(-ln(n / n_total) * 10000 + 0.5) AS BIGINT) AS nll_i4
          FROM vocab, tot)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          ${Det.sqlR4("sum(c * nll_i4) / (sum(c) * 10000.0)")} AS avg_nll
        FROM tf JOIN nll USING (token) GROUP BY doc_id""")),

    // Bigram-LM surprisal — the stronger perplexity proxy (conditional
    // P(t_i | t_{i-1}) = corpus bigram count / head count): mean
    // per-bigram negative log-likelihood per document, integer-quantized
    // like the unigram form so the sums are addition-order independent.
    // Scale shape: per-(doc, bigram) counts are one combiner-friendly
    // shuffle; the LM table joins by SHUFFLE equi-join, NOT broadcast —
    // a web-scale bigram vocabulary is orders beyond broadcastable (the
    // deliberate contrast with q_unigram_nll's broadcast vocab), and the
    // production contract is the same offline-LM artifact note. Docs
    // with < 2 tokens emit nothing.
    "q_bigram_nll" -> QueryDef(
      (s, dir) => {
        val tf2 = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("text"), 2)).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        // The bigram LM is materialized ONCE (localCheckpoint, the
        // q_unigram_nll treatment), so the head-total branch reads the
        // checkpoint instead of re-planning the scan+shingle+tf2 chain
        // (runtime exchange reuse measurably does not fire across such
        // branches — the r18 lesson that first motivated a window
        // here). Head totals then come from a partial-aggregated
        // groupBy + BROADCAST join rather than the r18 h-partitioned
        // window: stopword head tokens concentrate bigrams, and a hot
        // head in a WindowExec partition CANNOT be split (no partial
        // aggregation, no AQE rescue), while the agg combines hot heads
        // map-side and the broadcast attach never shuffles cb at all
        // (guide §2.5). Head totals are UNIGRAM-vocab-sized (one row
        // per distinct head token) — broadcastable by exactly the
        // q_unigram_nll vocab argument; the bg-keyed LM join below
        // stays a shuffle join (a web-scale BIGRAM vocabulary remains
        // orders beyond broadcastable). Measured (20M synthetic bigram
        // rows, min of 3; SCALE.md "Retired measurement mains"):
        // window 12.1 s at a 90%-one-head corpus vs 3.2 s for this
        // form; 5.3 vs 3.4 s at 30%; 2.5 vs 3.2 s on balanced heads —
        // the window wins only when no head is hot, and a Zipfian
        // corpus always has hot heads. Same exact long sums, same
        // arithmetic, same rows.
        // lazy checkpoint: materializes inside the head-total broadcast
        // build, not as a separate construction-time job
        val cb = Materialize.checkpoint(tf2.groupBy("bg")
          .agg(sum("c").as("nb"))
          .withColumn("h", element_at(split(col("bg"), " "), 1)), eager = false)
        val nll = cb
          .join(broadcast(cb.groupBy("h").agg(sum("nb").as("nh"))), "h")
          .select(col("bg"),
            floor(-log(col("nb") / col("nh")) * 10000 + 0.5).as("nll_i4"))
        tf2.join(nll, "bg")
          .groupBy("doc_id")
          .agg(sum(col("c") * col("nll_i4")).as("sn"),
            sum("c").as("n_bigrams"))
          .select(col("doc_id"), col("n_bigrams"),
            Det.r4(col("sn") / (col("n_bigrams") * 10000.0)).as("avg_nll"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlTokens AS toks FROM documents),
        bi AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(toks) - 1, 0)),
            i -> list_aggregate(toks[i:i+1], 'string_agg', ' '))) AS bg
          FROM t),
        tf2 AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
        cb AS (SELECT bg, CAST(sum(c) AS BIGINT) AS nb,
            string_split(bg, ' ')[1] AS h
          FROM tf2 GROUP BY 1),
        ch AS (SELECT h, CAST(sum(nb) AS BIGINT) AS nh FROM cb GROUP BY 1),
        nll AS (SELECT bg,
            CAST(floor(-ln(nb / nh) * 10000 + 0.5) AS BIGINT) AS nll_i4
          FROM cb JOIN ch USING (h))
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          ${Det.sqlR4("sum(c * nll_i4) / (sum(c) * 10000.0)")} AS avg_nll
        FROM tf2 JOIN nll USING (bg) GROUP BY doc_id""")),

    // Quality-score calibration: per-source percent_rank deciles with
    // per-cell counts and mean score. The rank window partitions by
    // source, so every source calibrates in parallel (no global sort);
    // the mean sums exact integer 1e-4 units (the quality score is
    // already floor-quantized, so quality*10000+0.5 floors back to the
    // exact integer) — order-of-addition independent cross-engine.
    // percent_rank is (rank-1)/(n-1) as a double in both engines, so the
    // decile boundary arithmetic is the identical IEEE-754 sequence.
    "q_quality_calibrate" -> QueryDef(
      (s, dir) => {
        val pr = percent_rank().over(
          Window.partitionBy("source").orderBy("qi"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            floor(TextFunctions.qualityScore(col("text")) * 10000 + 0.5)
              .as("qi"))
          .withColumn("decile",
            least(floor(pr * 10), lit(9L)).cast("int"))
          .groupBy("source", "decile")
          .agg(count(lit(1)).as("n"),
            Det.r4(sum("qi") / (count(lit(1)) * 10000.0)).as("mean_quality"))
      },
      Some {
        val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
          "it", "that", "for", "on", "with", "as", "was", "at", "by", "be",
          "this").map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, source, text, $sqlTokens AS toks FROM documents),
        m AS (SELECT doc_id, source,
          CAST(len(toks) AS BIGINT) AS nt,
          CAST(len(list_filter(toks, x -> list_contains($stop, lower(x)))) AS BIGINT) AS nstop,
          CAST(len(text) AS BIGINT) AS nchars,
          CAST(len(text) - len(regexp_replace(text,
            '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS BIGINT) AS npunct
          FROM t),
        q AS (SELECT doc_id, source, CAST(floor((
          least(CAST(nt AS DOUBLE) / 50.0, 1.0) +
          least((CASE WHEN nt > 0 THEN CAST(nstop AS DOUBLE) / nt ELSE 0.0 END) * 4.0, 1.0) +
          greatest(1.0 - (CASE WHEN nchars > 0 THEN CAST(npunct AS DOUBLE) / nchars ELSE 0.0 END) * 5.0, 0.0)
        ) / 3.0 * 10000 + 0.5) AS BIGINT) AS qi FROM m),
        r AS (SELECT source, qi,
          CAST(least(floor(percent_rank() OVER
            (PARTITION BY source ORDER BY qi) * 10), 9) AS INTEGER) AS decile
          FROM q)
        SELECT source, decile, count(*) AS n,
          ${Det.sqlR4("sum(qi) / (count(*) * 10000.0)")} AS mean_quality
        FROM r GROUP BY 1, 2"""
      }))
}
