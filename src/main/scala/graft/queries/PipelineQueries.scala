package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.{Aggregators, TextFunctions}
import graft.queries.Det.sqlTokens

/** Training-data pipeline mechanics: vocabulary stats, deterministic
  * sampling/splitting, sequence packing, and embedding quantization.
  * Everything deterministic (hash- or order-based, never RNG at runtime)
  * so results are reproducible across engines, partitionings, and reruns
  * — the property a 100 TB data pipeline needs for auditability.
  */
object PipelineQueries {

  // Count-Min grid shape shared by q_heavy_hitters' Spark plan and its
  // DuckDB twin.
  private val CmsDepth = 4
  private val CmsWidth = 2048

  /** One row (idAs, s) per distinct word-3-gram shingle of each document
    * of `d`: the unit the q_contamination* queries match on.
    */
  private def shingles3(d: DataFrame, idAs: String): DataFrame =
    d.select(col("doc_id").as(idAs),
      explode(array_distinct(
        TextFunctions.wordShingles(col("text"), 3))).as("s"))

  /** The q_contamination* oracles' `docs` CTE: each document's source
    * and distinct word-3-gram shingle list.
    */
  private val contaminationDocsSql =
    SimilarityQueries.shingleSetsSql(3, "documents", "source")

  /** DuckDB twin of q_contamination, and of q_contamination_bloom, whose
    * prefilter must never change the answer.
    */
  private val contaminationOracle =
    s"""WITH docs AS ($contaminationDocsSql),
        ev AS (SELECT doc_id AS eval_doc, unnest(sh) AS s FROM docs
          WHERE source = 'src19'),
        tr AS (SELECT doc_id AS train_doc, unnest(sh) AS s FROM docs
          WHERE source <> 'src19')
        SELECT train_doc, eval_doc, count(*) AS n_shared
        FROM tr JOIN ev USING (s)
        GROUP BY 1, 2 HAVING count(*) >= 2"""

  def defs: Map[String, QueryDef] = Map(
    // Heavy hitters: top-k vocabulary with deterministic tiebreak.
    "q_top_tokens" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some(s"""SELECT token, count(*) AS n FROM (
          SELECT unnest($sqlTokens) AS token FROM documents) t
        GROUP BY token ORDER BY n DESC, token LIMIT 20""")),

    // Heavy hitters via the Count-Min sketch, in ONE corpus pass (r19;
    // guide §1.2 — the r18 form ran TWO full scan+tokenize passes, one
    // for the typed CountMinSketch aggregator's grid and one for the
    // candidate distinct). The per-token counts tf (one combiner-
    // friendly exchange — the same per-token rows the old candidate
    // distinct already shuffled, plus 8 bytes of count) are
    // checkpointed once at VOCAB scale (the q_unigram_nll pattern,
    // firmly not the corpus-scale stream cache the old scaladoc
    // rejected); the grid is then rebuilt from tf — cell (r, b) of the
    // CMS is EXACTLY the sum of counts of the tokens CmsBuckets hashes
    // there (the aggregator increments per occurrence; grouping
    // occurrences by token first changes the addition order of the
    // same integers) — and estimation stays the broadcast probe join.
    // Probed cells are always present in the sparse grid (a candidate's
    // own count makes its 4 cells non-zero). CMS guarantees est >=
    // exact with error <= 2N/width w.h.p.; AnalyticsSpec pins the
    // bounds and the top-20 overlap vs exact q_top_tokens. FULLY
    // ORACLED (round 11): the row hashes are the md5-sliced
    // double-hash family (Md5DoubleHash, the q_minhash_lsh recipe), so
    // the oracle below rebuilds the ENTIRE grid — every counter, every
    // probe, the min — in exact BIGINT arithmetic and the sketch is
    // hash-compared end to end.
    "q_heavy_hitters" -> QueryDef(
      (s, dir) => {
        // LAZY checkpoint: construction must run zero jobs (the r4
        // closure-capture contract, pinned by AnalyticsSpec); the vocab
        // materializes once inside the first action and both the grid
        // and probe branches read that one copy
        val tf = Materialize.checkpoint(Tables.load(s, dir, "documents")
          .select(explode(TextFunctions.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("c")), eager = false)
        val buckets = tf.select(col("token"), col("c"),
          posexplode(graft.expressions.CmsBuckets(col("token"),
            CmsDepth, CmsWidth)).as(Seq("r", "b")))
        val grid = buckets.groupBy("r", "b").agg(sum("c").as("cnt"))
        buckets.select(col("token"), col("r"), col("b"))
          .join(broadcast(grid), Seq("r", "b"))
          .groupBy("token").agg(min(col("cnt")).as("est_n"))
          .orderBy(col("est_n").desc, col("token"))
          .limit(20)
      },
      Some {
        val p = graft.expressions.MinHashSignature.P
        s"""WITH toks AS (
            SELECT unnest($sqlTokens) AS token FROM documents),
          hp AS (SELECT token,
              ${Det.sqlMd5Int48("token", 1)} % $p AS a,
              ${Det.sqlMd5Int48("token", 13)} % ${p - 1} + 1 AS b
            FROM toks),
          hb AS (SELECT token, r.r AS r, (a + r.r * b) % $p % $CmsWidth AS bkt
            FROM hp,
              (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r) r),
          grid AS (SELECT r, bkt, count(*) AS cnt FROM hb GROUP BY r, bkt),
          cand AS (SELECT DISTINCT token, r, bkt FROM hb),
          est AS (SELECT token, min(cnt) AS est_n
            FROM cand JOIN grid USING (r, bkt) GROUP BY token)
          SELECT token, est_n FROM est
          ORDER BY est_n DESC, token LIMIT 20"""
      },
      // promoted to the timed headliner set (round 13): the full-catalog
      // radar saw it as a top residual cost; a regression here must not
      // hide between rounds
      bench = true),

    // Deterministic stratified sample: 3 docs per source, selected by
    // content-hash order (md5 — reproducible in any engine; no RNG).
    "q_stratified_sample" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("source")
          .orderBy(md5(col("text").cast("binary")), col("doc_id"))
        Tables.load(s, dir, "documents")
          .withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= 3)
          .select("source", "doc_id", "rk")
      },
      Some("""SELECT source, doc_id, rk FROM (
          SELECT source, doc_id, row_number() OVER (
            PARTITION BY source ORDER BY md5(text), doc_id) AS rk
          FROM documents) t
        WHERE rk <= 3""")),

    // Deterministic train/eval split by content hash: stable under
    // re-partitioning and re-runs, unlike randomSplit.
    "q_hash_split" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("split",
          when(substring(md5(col("text").cast("binary")), 1, 1)
            .isin("0", "1", "2"), "eval").otherwise("train"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long"))
            .as("n_tokens")),
      Some(s"""SELECT CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2')
          THEN 'eval' ELSE 'train' END AS split,
        count(*) AS n_docs,
        CAST(sum(CAST(len($sqlTokens) AS BIGINT)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1""")),

    // Sequence packing: bin documents (in doc_id order) into ~4096-token
    // bins by cumulative token count — the packing step before LLM
    // training. The global cumsum is the two-pass partition-offset form
    // (graft.operators.Packing): per-partition window cumsums run in
    // parallel and only one total per partition reaches the driver — no
    // single-partition WindowExec at any scale.
    "q_token_packing" -> QueryDef(
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        graft.operators.Packing
          .globalCumsum(toks, col("doc_id"), col("n_tok"), "cum")
          .withColumn("bin", ((col("cum") - 1).cast("double") / 4096)
            .cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      },
      Some(s"""WITH c AS (
          SELECT doc_id, CAST(len($sqlTokens) AS BIGINT) AS n_tok,
            sum(CAST(len($sqlTokens) AS BIGINT)) OVER (
              ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        SELECT CAST(floor(CAST(cum - 1 AS DOUBLE) / 4096) AS BIGINT) AS bin,
          count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM c GROUP BY 1"""),
      bench = true),

    // Benchmark-contamination detection: train docs sharing >= 2 word
    // trigrams with any doc of the held-out eval source (src19 stands in
    // for a benchmark set). The eval side's exploded shingles are tiny
    // at any corpus scale (benchmarks are small) and BROADCAST, so the
    // 100 TB train side is a map-side equi-join — no shuffle, no
    // all-pairs. The overlap count is exact and deterministic.
    "q_contamination" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val ev = shingles3(docs.where(col("source") === "src19"), "eval_doc")
        val tr = shingles3(docs.where(col("source") =!= "src19"), "train_doc")
        tr.join(broadcast(ev), "s")
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
      },
      Some(contaminationOracle),
      bench = true),

    // Containment decontamination score — the normalized dial on top of
    // q_contamination's raw shared counts: what FRACTION of an eval
    // document's shingles a train document contains (the standard
    // "contaminated if containment >= tau" decision). Same broadcast
    // eval side; the per-eval-doc set size joins from a <=|eval|-row
    // broadcast, so the normalization adds no shuffle.
    "q_contamination_score" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val evalDocs = docs.where(col("source") === "src19")
        val ev = shingles3(evalDocs, "eval_doc")
        val evSizes = evalDocs.select(col("doc_id").as("eval_doc"),
          size(array_distinct(TextFunctions.wordShingles(col("text"), 3)))
            .cast("long").as("n_eval"))
        val tr = shingles3(docs.where(col("source") =!= "src19"), "train_doc")
        tr.join(broadcast(ev), "s")
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(evSizes), "eval_doc")
          .select(col("train_doc"), col("eval_doc"), col("n_shared"),
            Det.r4(col("n_shared").cast("double") / col("n_eval"))
              .as("containment"))
          .where(col("containment") >= 0.1)
      },
      Some(s"""WITH docs AS ($contaminationDocsSql),
        ev AS (SELECT doc_id AS eval_doc, unnest(sh) AS s FROM docs
          WHERE source = 'src19'),
        evn AS (SELECT doc_id AS eval_doc, CAST(len(sh) AS BIGINT) AS n_eval
          FROM docs WHERE source = 'src19'),
        tr AS (SELECT doc_id AS train_doc, unnest(sh) AS s FROM docs
          WHERE source <> 'src19'),
        shared AS (SELECT train_doc, eval_doc, count(*) AS n_shared
          FROM tr JOIN ev USING (s) GROUP BY 1, 2)
        SELECT train_doc, eval_doc, n_shared,
          ${Det.sqlR4("CAST(n_shared AS DOUBLE) / n_eval")} AS containment
        FROM shared JOIN evn USING (eval_doc)
        WHERE ${Det.sqlR4("CAST(n_shared AS DOUBLE) / n_eval")} >= 0.1""")),

    // Decontamination, bloom-prefiltered scale path: identical result to
    // q_contamination, different plan contract for when the eval suite
    // outgrows a broadcast. A k=1 blocked bloom filter expressed with
    // public codegen'd functions — the DISTINCT xxhash64%2^20 bucket set
    // of eval shingles (<=4 MB at any eval size: the domain caps it) is
    // the only broadcast side; train shingles die map-side on bucket
    // membership before ANY wide exchange, and the exact verification
    // join is a plain shuffle equi-join sized by the bloom survivors
    // (FPR = |eval buckets|/2^20), not by the corpus. The oracle is
    // q_contamination's own: prefilter + exact verify must never change
    // the answer.
    "q_contamination_bloom" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // eager pin: the eval shingles feed the bucket build AND the
        // exact verification join, which plans on their measured
        // exploded size (the q_dup_spans cold-stats hazard)
        val ev = Materialize.pin(
          shingles3(docs.where(col("source") === "src19"), "eval_doc"),
          eager = true)
        val tr = shingles3(docs.where(col("source") =!= "src19"), "train_doc")
        val buckets = ev
          .select(pmod(xxhash64(col("s")), lit(1048576L)).as("b")).distinct()
        val result = tr
          .withColumn("b", pmod(xxhash64(col("s")), lit(1048576L)))
          .join(broadcast(buckets), "b").drop("b")
          .join(ev, "s")
          .groupBy("train_doc", "eval_doc")
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
        Materialize.releaseAfterFirstUse(result, ev)
      },
      Some(contaminationOracle)),

    // Population-stability drift monitor between two corpus snapshots
    // (the doc_id % 3 split stands in for yesterday-vs-today, as in
    // q_corpus_delta): quality scores binned to a fixed 5-bin grid,
    // per-bin share in each snapshot, and the PSI term
    // (p - q) * ln(p/q) with add-half-count smoothing so empty bins
    // stay finite. PSI > 0.25 is the standard retrain/alert line —
    // emitting per-bin terms keeps the query's output auditable (the
    // total is one SUM away). Scale shape: two combiner-friendly
    // bin counts + a 5-row join; the scan dominates at any size. The
    // ln is evaluated on identical doubles in both engines and the
    // result r4-floored — same determinism contract as the LM queries.
    "q_quality_drift" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumn("bin", graft.operators.Drift.qualityBin(col("text")))
        val a = docs.where(col("doc_id") % 3 =!= 0)
          .groupBy("bin").agg(count(lit(1)).as("na"))
        val b = docs.where(col("doc_id") % 3 === 0)
          .groupBy("bin").agg(count(lit(1)).as("nb"))
        val bins = s.range(0, 5).select(col("id").as("bin"))
        val ta = a.agg(coalesce(sum("na"), lit(0L)).as("ta"))
        val tb = b.agg(coalesce(sum("nb"), lit(0L)).as("tb"))
        val joined = bins
          .join(a, Seq("bin"), "left").join(b, Seq("bin"), "left")
          .crossJoin(broadcast(ta.crossJoin(tb)))
          .select(col("bin"),
            ((coalesce(col("na"), lit(0L)) + 0.5) /
              (col("ta") + 2.5)).as("p"),
            ((coalesce(col("nb"), lit(0L)) + 0.5) /
              (col("tb") + 2.5)).as("q"))
        joined.select(col("bin"),
          Det.r4(col("p")).as("p_share"),
          Det.r4(col("q")).as("q_share"),
          Det.r4((col("p") - col("q")) * log(col("p") / col("q")))
            .as("psi_term"))
      },
      Some(s"""WITH sc AS (SELECT doc_id,
          -- inner floor = the r4 quantization; OUTER floor before the
          -- BIGINT cast because DuckDB's double->BIGINT cast ROUNDS
          -- (half-even) where Spark's floor truncates
          least(CAST(floor(floor((
            least(CAST(len($sqlTokens) AS DOUBLE) / 50.0, 1.0)
            + least((CASE WHEN len($sqlTokens) > 0
              THEN CAST(len(list_filter(list_transform(
                  $sqlTokens, t -> lower(t)),
                  t -> list_contains(['the','a','an','and','or','of','to',
                    'in','is','it','that','for','on','with','as','was','at',
                    'by','be','this'], t))) AS DOUBLE)
                / len($sqlTokens)
              ELSE 0.0 END) * 4.0, 1.0)
            + greatest(1.0 - (CASE WHEN len(text) > 0
              THEN CAST(len(text) - len(regexp_replace(text,
                '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE) / len(text)
              ELSE 0.0 END) * 5.0, 0.0)
          ) / 3.0 * 10000 + 0.5) / 10000 * 5) AS BIGINT), 4) AS bin
          FROM documents),
        a AS (SELECT bin, count(*) AS na FROM sc
          WHERE doc_id % 3 <> 0 GROUP BY 1),
        b AS (SELECT bin, count(*) AS nb FROM sc
          WHERE doc_id % 3 = 0 GROUP BY 1),
        t AS (SELECT
          (SELECT CAST(coalesce(sum(na), 0) AS BIGINT) FROM a) AS ta,
          (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) FROM b) AS tb),
        g AS (SELECT unnest(generate_series(0, 4)) AS bin),
        j AS (SELECT g.bin,
            (coalesce(na, 0) + 0.5) / (ta + 2.5) AS p,
            (coalesce(nb, 0) + 0.5) / (tb + 2.5) AS q
          FROM g LEFT JOIN a ON g.bin = a.bin
            LEFT JOIN b ON g.bin = b.bin, t)
        SELECT CAST(bin AS BIGINT) AS bin,
          ${Det.sqlR4("p")} AS p_share, ${Det.sqlR4("q")} AS q_share,
          ${Det.sqlR4("(p - q) * ln(p / q)")} AS psi_term
        FROM j""")),

    // Deterministic distributed corpus shuffle: the pre-training
    // randomize-and-shard step, with NO RNG and NO global sort. Shard =
    // first md5 hex digit (16-way split); order within shard = md5 then
    // id. Each shard's window sorts independently (partition-parallel) —
    // a global row_number would funnel 100 TB through one task.
    "q_corpus_shuffle" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("shard").orderBy(col("hx"), col("doc_id"))
        Tables.load(s, dir, "documents")
          .withColumn("hx", md5(col("text").cast("binary")))
          .withColumn("shard",
            (expr("instr('0123456789abcdef', substring(hx, 1, 1))") - 1)
              .cast("int"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .select("doc_id", "shard", "rk")
      },
      Some("""SELECT doc_id,
        CAST(instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1
          AS INTEGER) AS shard,
        CAST(row_number() OVER (
          PARTITION BY instr('0123456789abcdef', substr(md5(text), 1, 1))
          ORDER BY md5(text), doc_id) AS BIGINT) AS rk
        FROM documents"""),
      // headliner since round 13 (full-catalog-radar top residual)
      bench = true),

    // Domain mixing: per-source deterministic sampling rates (the
    // data-mixture step of a pretraining pipeline). The keep decision is
    // a pure function of (text, source) — md5-uniform u in [0,256) vs
    // the source's rate — so the mixture is reproducible across engines,
    // partitionings, and reruns; integer arithmetic only.
    "q_domain_mix" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "documents")
        .withColumn("hx", md5(col("text").cast("binary")))
        .withColumn("v",
          (expr("instr('0123456789abcdef', substring(hx, 1, 1))") - 1) * 16 +
            (expr("instr('0123456789abcdef', substring(hx, 2, 1))") - 1))
        .withColumn("rate_pct",
          (regexp_extract(col("source"), "src(\\d+)", 1).cast("int") % 4 + 1)
            * 20)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("v") * 100 < col("rate_pct") * 256, 1))
            .as("n_kept")),
      Some("""SELECT source, count(*) AS n_docs,
        count(*) FILTER (WHERE
          ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
            + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 100
          < (CAST(regexp_extract(source, 'src(\d+)', 1) AS INTEGER) % 4 + 1)
            * 20 * 256) AS n_kept
        FROM documents GROUP BY source""")),

    // Temperature-weighted domain mixing (alpha = 0.5): the data-mixture
    // rebalancing every pretraining pipeline runs — sampling rate per
    // source proportional to n^alpha / n, i.e. upsample small domains,
    // downsample dominant ones, targeting half the corpus. Alpha is 0.5
    // DELIBERATELY: sqrt is IEEE-correctly-rounded on every engine
    // (a general pow differs in the last ulp between libm
    // implementations), the sqrt-sum goes through DECIMAL so partial-agg
    // order cannot change the rounding, and the per-doc keep decision is
    // integer (md5 byte vs floor(rate*256)) — the whole mixture is
    // bit-reproducible across engines and partitionings. Plan: two
    // one-row-per-source aggs + a broadcast join back onto the corpus;
    // the docs side never shuffles.
    "q_domain_temperature" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val counts = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(
          sum(col("n_docs")).cast("double").as("total"),
          sum(sqrt(col("n_docs").cast("double")).cast("decimal(28,12)"))
            .cast("double").as("sum_sqrt"))
        val rates = counts.crossJoin(broadcast(tot))
          .withColumn("thresh",
            floor(least(lit(1.0),
              sqrt(col("n_docs").cast("double")) / col("sum_sqrt") *
                (col("total") * 0.5) / col("n_docs")) * 256)
              .cast("long"))
          .select("source", "thresh")
        docs
          .withColumn("hx", md5(col("text").cast("binary")))
          .withColumn("v",
            (expr("instr('0123456789abcdef', substring(hx, 1, 1))") - 1) * 16 +
              (expr("instr('0123456789abcdef', substring(hx, 2, 1))") - 1))
          .join(broadcast(rates), "source")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            first(col("thresh")).as("thresh"),
            count(when(col("v") < col("thresh"), 1)).as("n_kept"))
      },
      Some("""WITH counts AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
          CAST(sum(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,12)))
            AS DOUBLE) AS sum_sqrt FROM counts),
        rates AS (SELECT source,
          CAST(floor(least(1.0,
            sqrt(CAST(n_docs AS DOUBLE)) / sum_sqrt * (total * 0.5) / n_docs)
            * 256) AS BIGINT) AS thresh
          FROM counts, tot)
        SELECT d.source AS source, count(*) AS n_docs,
          any_value(r.thresh) AS thresh,
          count(*) FILTER (WHERE
            (instr('0123456789abcdef', substr(md5(d.text), 1, 1)) - 1) * 16
              + instr('0123456789abcdef', substr(md5(d.text), 2, 1)) - 1
            < r.thresh) AS n_kept
        FROM documents d JOIN rates r USING (source)
        GROUP BY 1""")),

    // Per-source corpus report — the health dashboard every training-data
    // pipeline ships: volume, token mass, exact-duplicate rate, dominant
    // language. Two combiner-friendly aggregations (per-source stats;
    // per-(source,lang) counts argmaxed) joined on the tiny source key —
    // at 100 TB both shuffles carry one row per group, never documents;
    // the md5 distinct shuffles 16-byte digests.
    "q_corpus_report" -> QueryDef(
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long")).as("n_tokens"),
          countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
        val topLang = docs.groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
          .groupBy("source")
          // (count, lang) struct max = most docs, ties to the greater
          // lang code — mirrored exactly by the oracle's ORDER BY
          .agg(max_by(col("lang"), struct(col("c"), col("lang")))
            .as("top_lang"))
        base.join(topLang, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_unique"),
            Det.r4((col("n_docs") - col("n_unique")).cast("double") /
              col("n_docs")).as("dup_pct"),
            col("top_lang"))
      },
      Some(s"""WITH base AS (SELECT source, count(*) AS n_docs,
          CAST(sum(len($sqlTokens)) AS BIGINT) AS n_tokens,
          count(DISTINCT md5(text)) AS n_unique
          FROM documents GROUP BY source),
        lt AS (SELECT source, lang AS top_lang FROM (
          SELECT source, lang,
            row_number() OVER (PARTITION BY source
              ORDER BY count(*) DESC, lang DESC) AS rn
          FROM documents GROUP BY source, lang) t WHERE rn = 1)
        SELECT b.source AS source, n_docs, n_tokens, n_unique,
          floor(CAST(n_docs - n_unique AS DOUBLE) / n_docs * 10000 + 0.5)
            / 10000 AS dup_pct,
          top_lang
        FROM base b JOIN lt ON b.source = lt.source""")),

    // Symmetric int8 quantization of embeddings (per-vector absmax
    // scale): 4x storage reduction for ANN candidate stages. Checksum +
    // scale are oracle-compared; quantization arithmetic is the
    // deterministic floor form.
    "q_embed_quantize" -> QueryDef(
      (s, dir) => Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          array_max(transform(col("embedding"),
            x => abs(x.cast("double")))).as("absmax"),
          col("embedding"))
        .select(col("vec_id"),
          Det.r4(col("absmax")).as("scale"),
          aggregate(
            transform(col("embedding"), x =>
              floor(x.cast("double") / col("absmax") * 127 + 0.5)
                .cast("long")),
            lit(0L), (acc, v) => acc + v).as("q_checksum")),
      Some("""SELECT vec_id,
        floor(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))) * 10000 + 0.5) / 10000 AS scale,
        CAST(coalesce(list_sum(list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE)
            / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
            * 127 + 0.5) AS BIGINT))), 0) AS BIGINT) AS q_checksum
        FROM embeddings"""),
      bench = true),

    // DSIR-style importance weighting for data selection (Xie et al.
    // 2023, "Data Selection for Language Models via Importance
    // Resampling"): score every document by how much more likely its
    // hashed-unigram bag is under a TARGET distribution (here: the
    // 'src0' slice, standing in for the high-quality domain) than under
    // the SOURCE distribution (everything else). logw(d) = sum over
    // tokens of [log P_tgt(bucket) - log P_src(bucket)] with add-one
    // smoothing over B=256 md5-derived buckets.
    //
    // Scale shape: both bucket LMs are <= B rows AT ANY CORPUS SIZE (the
    // hashing is what makes DSIR tractable at web scale) — a broadcast
    // join against the token stream, so scoring adds zero shuffles
    // beyond the final doc_id aggregation. Like the unigram LM, the
    // production contract is an OFFLINE artifact: fit the two LMs once,
    // persist B rows, and the scoring pass is single-scan. Log-probs
    // are integer-quantized (i4) before summation so the per-doc sum is
    // addition-order independent; the md5 bucket and every arithmetic
    // step are reproduced exactly in the oracle (bucket = first two md5
    // hex digits, the same hex-digit trick as q_corpus_shuffle).
    "q_importance_weights" -> QueryDef(
      (s, dir) => {
        val B = 256
        // ONE corpus explode pass; everything downstream re-aggregates
        // the (doc, bucket) matrix, which is bounded at docs x B rows.
        // (The naive form — separate target/source aggregations plus a
        // scoring pass — re-ran the corpus explode three times and went
        // superlinear at the third scale point; this shape measured
        // ~4x faster there.) The matrix is corpus-keyed, so like
        // q_unigram_nll's tf it is deliberately NOT cached — the single
        // explode feeding two consumers (LM build via re-agg, scoring)
        // is cheaper than materializing a corpus-scale cache; the LM
        // side collapses to <=2B rows before its second use.
        val tb = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(TextFunctions.tokens(col("text"))).as("token"))
          .select(col("doc_id"),
            (col("source") === "src0").as("is_tgt"),
            conv(substring(md5(col("token").cast("binary")), 1, 2), 16, 10)
              .cast("long").as("b"))
          .groupBy("doc_id", "is_tgt", "b").agg(count(lit(1)).as("c"))
        // union+re-aggregate instead of a full-outer join: the two
        // <=B-row sides fuse without any join operator (a full outer
        // cannot broadcast-build and would plan a sort-merge join)
        val counts = tb
          .groupBy("b").agg(
            sum(when(col("is_tgt"), col("c")).otherwise(0L)).as("ct"),
            sum(when(!col("is_tgt"), col("c")).otherwise(0L)).as("cs"))
        // totals via a global window over the <=B-row counts frame: the
        // old separate `counts.agg` + crossJoin(broadcast) branch was a
        // THIRD corpus explode+md5 subtree in the plan (exchange reuse
        // across it is a runtime maybe, not a guarantee); the window
        // keeps lm a single linear subtree of counts, so the corpus is
        // tokenized at most twice and the totals are free (256 rows
        // through one single-partition window). Same long sums, same
        // downstream arithmetic.
        val w = org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val lm = counts
          .withColumn("tt", sum("ct").over(w))
          .withColumn("ts", sum("cs").over(w))
          .select(col("b"),
            (floor(log((col("ct") + 1) /
              (col("tt") + lit(B.toDouble))) * 10000 + 0.5) -
             floor(log((col("cs") + 1) /
              (col("ts") + lit(B.toDouble))) * 10000 + 0.5)).as("dw_i4"))
        tb.join(broadcast(lm), "b")
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"), sum(col("c") * col("dw_i4")).as("sw"))
          .select(col("doc_id"), col("n_tokens"),
            Det.r4(col("sw") / 10000.0).as("logw"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source,
            unnest($sqlTokens) AS token FROM documents),
        tb AS (SELECT doc_id, source,
            (instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16 +
            (instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1) AS b
          FROM toks),
        tgt AS (SELECT b, count(*) AS ct FROM tb
          WHERE source = 'src0' GROUP BY 1),
        src AS (SELECT b, count(*) AS cs FROM tb
          WHERE source <> 'src0' GROUP BY 1),
        tot AS (SELECT
            (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS tt,
            (SELECT CAST(coalesce(sum(cs), 0) AS BIGINT) FROM src) AS ts),
        lm AS (SELECT coalesce(tgt.b, src.b) AS b,
            CAST(floor(ln((coalesce(ct, 0) + 1) / (tt + 256.0))
              * 10000 + 0.5) AS BIGINT)
          - CAST(floor(ln((coalesce(cs, 0) + 1) / (ts + 256.0))
              * 10000 + 0.5) AS BIGINT) AS dw_i4
          FROM tgt FULL OUTER JOIN src ON tgt.b = src.b, tot)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          ${Det.sqlR4("sum(dw_i4) / 10000.0")} AS logw
        FROM tb JOIN lm USING (b) GROUP BY doc_id"""),
      bench = true))
}
