#!/usr/bin/env python3
"""Scale-grade oracle compare for the recursive-reach TEXT-dedup family
(q_neardup_components, q_dedup_keepers, q_corpus_build) — driver-side.

All three ledger oracles share one WITH RECURSIVE skeleton: the
DF-capped shingle-join Jaccard `pairs` CTE, then a recursive
min-reachable-id `reach` closure that materializes O(c^2) rows per
component. At mult=1000 the combined queries OOM-kill DuckDB (130 GB
RSS solo for q_corpus_build). This checker re-derives the SAME
semantics with a linear toolchain, running the expensive pair pass
ONCE for the whole family:

 - DuckDB runs q_ngram_jaccard's ledger oracle, read from the
   oracle_sql.json that graft.Verify writes to <outDir> (word 5-gram
   shingles, df<=50 candidate cap, exact-Jaccard >= 0.8 verify) — the
   `pairs` CTE of all three ledger oracles — returning the edge list;
 - connected components run in PYTHON via union-find with
   union-by-min-id (root IS the min-label the recursive CTE computes),
   O(E alpha), an independent implementation of the consolidation;
 - each consumer's TAIL logic then runs as the ledger oracle's own
   non-recursive SQL over the labels table: components compares the
   labels directly, keepers anti-joins the non-min members, and
   corpus_build runs its exact-dedup + quality-gate + 24-stride
   chunking tail verbatim with `dropids` bound to the labels;
 - every result is compared against the Spark dump with DuckDB
   EXCEPT ALL in both directions — exact, dtype-strict — and a
   wrap-format report JSON is written per query for the assembler.

Mirrors queries/SimilarityQueries.scala (keep each tail verbatim in
sync with the ledger oracle_sql entries; the pairs SQL is the ledger's
own).

The pairs table IS q_ngram_jaccard's declared output, so the same pass
also certifies that query (its compare here is the ledger SQL itself
run to a table, then EXCEPT ALL — no reimplementation at all).

usage: check_textdedup_scale.py <sfDir> <outDir> [repDir]
           [q_ngram_jaccard,q_neardup_components,q_dedup_keepers,q_corpus_build]
exit 0 + "MATCH" iff every requested compare has zero diffs both
directions; per-query verdicts also land in repDir/<q>.json.
"""
import json
import os
import shutil
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

if len(sys.argv) < 3:
    sys.exit(__doc__)
sfdir, outdir = sys.argv[1], sys.argv[2]
repdir = sys.argv[3] if len(sys.argv) > 3 else None
QUERIES = (sys.argv[4].split(",") if len(sys.argv) > 4 else
           ["q_ngram_jaccard", "q_neardup_components", "q_dedup_keepers",
            "q_corpus_build"])

SPILL_DIR = f"/tmp/duckdb-textdedup-spill-{os.getpid()}"
import atexit
atexit.register(shutil.rmtree, SPILL_DIR, ignore_errors=True)
import signal
for _sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
    signal.signal(_sig, lambda s, f: sys.exit(128 + s))

con = duckdb.connect()
con.sql(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '90GB')}'")
os.makedirs(SPILL_DIR, exist_ok=True)
con.sql(f"SET temp_directory='{SPILL_DIR}'")
con.sql("SET threads=16")
con.sql("SET preserve_insertion_order=false")

docs = f"{sfdir}/documents.parquet"
pat = f"{docs}/*.parquet" if os.path.isdir(docs) else docs
con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pat}'")

# --- the shared pairs CTE: q_ngram_jaccard's ledger oracle itself ---
pairs_sql = json.load(open(f"{outdir}/oracle_sql.json"))["q_ngram_jaccard"]
t0 = time.time()
con.sql(f"CREATE TABLE pairs_full AS {pairs_sql}")
edges = con.sql("SELECT a, b FROM pairs_full").fetchall()
print(f"[textdedup] {len(edges)} verified edges "
      f"in {time.time() - t0:.1f}s", flush=True)

# --- union-find by min id: root == min-reachable label ---
parent = {}


def find(x):
    r = x
    while parent[r] != r:
        r = parent[r]
    while parent[x] != r:
        parent[x], x = r, parent[x]
    return r


for a, b in edges:
    if a not in parent:
        parent[a] = a
    if b not in parent:
        parent[b] = b
    ra, rb = find(a), find(b)
    if ra != rb:
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        parent[hi] = lo

labels = sorted((d, find(d)) for d in parent)
comp_pq = f"{SPILL_DIR}/comp.parquet"
pq.write_table(pa.table({
    "doc_id": pa.array([d for d, _ in labels], pa.int64()),
    "component_id": pa.array([c for _, c in labels], pa.int64()),
}), comp_pq)
con.sql(f"CREATE VIEW comp AS SELECT * FROM '{comp_pq}'")
print(f"[textdedup] {len(labels)} labeled docs "
      f"({time.time() - t0:.1f}s)", flush=True)

# --- each consumer's non-recursive tail over the labels ---
TAILS = {
    "q_ngram_jaccard": "SELECT * FROM pairs_full",
    "q_neardup_components": "SELECT * FROM comp",
    "q_dedup_keepers": """
        SELECT doc_id FROM documents WHERE doc_id NOT IN (
          SELECT doc_id FROM comp WHERE doc_id <> component_id)""",
    "q_corpus_build": r"""
        WITH dropids AS (
          SELECT doc_id FROM comp WHERE doc_id <> component_id),
        exact AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text, row_number() OVER
              (PARTITION BY coalesce(md5(text), 'null:' || doc_id)
               ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1),
        qm AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS nt,
          CAST(len(list_filter(tk, x -> list_contains(['the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it', 'that', 'for', 'on', 'with', 'as', 'was', 'at', 'by', 'be', 'this'], lower(x)))) AS BIGINT) AS nstop,
          CAST(len(text) AS BIGINT) AS nchars,
          CAST(len(text) - len(regexp_replace(text,
            '[.,;:!?''"()\[\]{}-]', '', 'g')) AS BIGINT) AS npunct
          FROM (SELECT doc_id, text,
            list_filter(regexp_split_to_array(text, '\s+'),
              x -> len(x) > 0) AS tk FROM exact) tq),
        qual AS (SELECT doc_id, CAST(floor((
          least(CAST(nt AS DOUBLE) / 50.0, 1.0) +
          least((CASE WHEN nt > 0 THEN CAST(nstop AS DOUBLE) / nt ELSE 0.0 END) * 4.0, 1.0) +
          greatest(1.0 - (CASE WHEN nchars > 0 THEN CAST(npunct AS DOUBLE) / nchars ELSE 0.0 END) * 5.0, 0.0)
        ) / 3.0 * 10000 + 0.5) AS BIGINT) AS quality_q FROM qm),
        clean AS (
          SELECT e.doc_id, e.text FROM exact e
          JOIN qual q ON e.doc_id = q.doc_id
          WHERE e.doc_id NOT IN (SELECT doc_id FROM dropids)
            AND q.quality_q >= 6000),
        ct AS (SELECT doc_id,
            list_filter(regexp_split_to_array(text, '\s+'),
              x -> len(x) > 0) AS toks
          FROM clean),
        cc AS (SELECT doc_id, toks,
            unnest(generate_series(0,
              CAST(floor((len(toks) - 1) / 24.0) AS INTEGER))) AS i
          FROM ct WHERE len(toks) > 0)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
          CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_chunk_tokens,
          toks[i * 24 + 1] AS head_token
        FROM cc""",
}

all_ok = True
for q in QUERIES:
    tq = time.time()
    con.sql(f"CREATE OR REPLACE TABLE oracle_{q} AS {TAILS[q]}")
    spark_pat = f"{outdir}/{q}/*.parquet"
    n_spark = con.sql(f"SELECT count(*) FROM '{spark_pat}'").fetchone()[0]
    n_oracle = con.sql(f"SELECT count(*) FROM oracle_{q}").fetchone()[0]
    d1 = con.sql(f"SELECT count(*) FROM (SELECT * FROM '{spark_pat}' "
                 f"EXCEPT ALL SELECT * FROM oracle_{q})").fetchone()[0]
    d2 = con.sql(f"SELECT count(*) FROM (SELECT * FROM oracle_{q} "
                 f"EXCEPT ALL SELECT * FROM '{spark_pat}')").fetchone()[0]
    ok = n_spark == n_oracle and d1 == 0 and d2 == 0
    all_ok = all_ok and ok
    print(f"[textdedup] {q}: spark={n_spark} oracle={n_oracle} "
          f"d1={d1} d2={d2} -> {'MATCH' if ok else 'MISMATCH'} "
          f"({time.time() - tq:.1f}s)", flush=True)
    if repdir:
        json.dump({"sf_dir": sfdir, "ok": int(ok), "failed": int(not ok),
                   "queries": {q: {
                       "rows": n_spark if ok else -1, "match": ok,
                       "detail": "checker: tools/check_textdedup_scale.py "
                                 "(verbatim pairs CTE + union-find labels "
                                 "+ verbatim non-recursive tail; EXCEPT "
                                 "ALL both directions"
                                 + ("" if ok else
                                    f"; d1={d1} d2={d2}") + ")"}}},
                  open(os.path.join(repdir, f"{q}.json"), "w"),
                  indent=1, sort_keys=True)
    con.sql(f"DROP TABLE oracle_{q}")

print("MATCH" if all_ok else "MISMATCH")
sys.exit(0 if all_ok else 1)
