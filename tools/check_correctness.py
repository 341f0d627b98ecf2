#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet
results Verify dumped, runs each oracle SQL in DuckDB over the same
scale-factor tables, and compares (schema by sorted column names, values
as sorted row multisets).

usage: check_correctness.py <sfDir> <outDir> [--json <path>]
           [--only q_a,q_b] [--resume <prior.json>] [--native q_a,q_b]
           [--chunked [--stride N]]
exit 0 iff every checked query matches.

--chunked: the queries in RECIPES run a scale recipe instead of their
single-shot ledger oracle. A big mult fixture breaks those oracles in
DuckDB (a recursive reach closure, an O(n^2) lambda fold, per-token
signature streams or a per-element cosine that no memory cap fits), and
each recipe re-derives the ledger's exact semantics with a linear or
chunked toolchain. Its verdict goes through the same compare and the
same report as every other query. Without the flag, and for every other
query, the ledger SQL runs as is.

--stride N: the sub-block cutover (SCALE.md "Oracle cutover rule") for
the pair recipes q_minhash_lsh_auto, q_simhash and q_embed_neardup_auto.
They verify only the pairs whose ids are multiples of N (both ids; the
smaller one for q_embed_neardup_auto), with every plan still sized from
the full corpus. Default 1, the full compare. The other recipes always
compare in full. Passing at stride 1 and at stride N on the same dump
also validates the sub-block oracle: it then equals the full oracle
restricted to the sub-block.

Resilience (learned at mult=100, twice): one heavyweight oracle hitting
DuckDB's buffer-manager limit used to POISON the shared connection —
every later query failed with the same OutOfMemoryException and dozens
of false FAILs had to be re-adjudicated by hand. Now every query runs
with one retry on a FRESH connection, and connections are opened with
an explicit thread cap + spill dir (threads=16 is what fits the
q_simhash oracle's materialized CTEs in the buffer budget on a
128 GiB host; DuckDB's default thread count scales the per-operator
memory footprint with it).
"""
import argparse
import json
import math
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa


def comma_list(s):
    return {q.strip() for q in s.split(",") if q.strip()}


ap = argparse.ArgumentParser(
    description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
ap.add_argument("sfdir")
ap.add_argument("outdir")
ap.add_argument("--json", dest="json_out", metavar="PATH")
# One-query-per-process isolation: a DuckDB segfault (observed on a
# mult=300 media oracle) kills the whole gate, so the harness can
# drive each remaining query in its own process and merge reports.
ap.add_argument("--only", type=comma_list, default=set(), metavar="Q,…")
ap.add_argument("--resume", metavar="PRIOR_JSON")
# DuckDB-native compare (EXCEPT ALL both directions over materialized
# temp tables) for queries whose result is too big for the pandas
# frame compare: at mult=1000 q_tokenize is ~271M rows — two pandas
# frames plus their sorts would not fit even a 128 GiB host, while
# DuckDB's hash-based set ops stream and spill. Dtype strictness is
# preserved by comparing the LIMIT-0 pandas dtypes of both sides
# (the same conversion the frame compare would have hashed).
ap.add_argument("--native", type=comma_list, default=set(),
                metavar="Q,…")
ap.add_argument("--chunked", action="store_true")
ap.add_argument("--stride", type=int, default=1, metavar="N")
args = ap.parse_args()
if args.stride < 1:
    ap.error("--stride must be at least 1")
sfdir, outdir, json_out = args.sfdir, args.outdir, args.json_out
only, native, STRIDE = args.only, args.native, args.stride

# Per-process spill dir: a fixed path let concurrent gate processes
# (parallel --only batches at big mults) race on each other's temp
# files — DuckDB terminates the whole process when a spill file it
# owns disappears under it. Removed at exit: heavy oracles can leave
# multi-GB spill files behind, and at big mults those compete with
# Spark shuffles for the one disk across gate runs.
SPILL_DIR = f"/tmp/duckdb-gate-spill-{os.getpid()}"
import atexit
import shutil
import signal
atexit.register(shutil.rmtree, SPILL_DIR, ignore_errors=True)
# atexit does NOT run on signals: a SIGTERM'd gate left a 60 GB spill
# dir behind (r17). Route the termination signals through sys.exit so
# the atexit hook fires; SIGKILL still leaks, which only a next-run
# sweep could catch.
for _sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
    signal.signal(_sig, lambda s, f: sys.exit(128 + s))


def fresh_connection():
    """New connection with the fixture views + bounded resources."""
    c = duckdb.connect()
    c.sql("SET threads=16")
    # GRAFT_DUCKDB_MEM caps the buffer budget when the gate shares the
    # host with a running Spark dump (incremental checking at big mults)
    # — without it DuckDB assumes 80% of RAM and the OS OOM killer can
    # take out the Spark process mid-dump.
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if mem:
        c.sql(f"SET memory_limit='{mem}'")
    os.makedirs(SPILL_DIR, exist_ok=True)
    c.sql(f"SET temp_directory='{SPILL_DIR}'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # driver fixtures are single parquet files; ScaleFixture (mult=N)
        # tables are Spark directory-parquet — glob those
        p = f"{sfdir}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    return c


con = fresh_connection()
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = bad = 0
report = {}

# --resume <prior.json>: skip queries a previous (crashed) run already
# verified green, re-running only the rest. Written because a gate run
# at mult=300 died 46 queries in (a cornered 114 MiB numpy allocation
# escaped through the except-handler's fresh_connection()) and the
# report — only written at exit back then — lost every finished result.
resume = {}
if args.resume:
    resume = {k: v for k, v in
              json.load(open(args.resume))["queries"].items()
              if v.get("match")}


def flush_report():
    """Incremental checkpoint after EVERY query: a crash mid-run keeps
    all finished verdicts resumable."""
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sfdir, "ok": ok, "failed": bad,
                       "queries": report}, f, indent=1, sort_keys=True)


def record(name, rows, match, detail=""):
    report[name] = {"rows": rows, "match": match, "detail": detail}
    flush_report()


def rebuild_connection(c):
    """Teardown + rebuild that cannot raise out of an except handler:
    under real memory pressure the rebuild itself can OOM — back off
    and retry a few times, then re-raise (nothing else to do)."""
    try:
        c.close()
    except Exception:
        pass
    import gc
    import time
    for backoff in (0, 5, 30):
        time.sleep(backoff)
        gc.collect()
        try:
            return fresh_connection()
        except Exception:
            continue
    return fresh_connection()


def compare(c, name, where):
    """Exact compare of the dump against the `want` relation on c,
    without pandas frames: sorted column names, LIMIT-0 pandas dtypes,
    counts, then EXCEPT ALL in both directions (NULL-safe by SQL set-op
    semantics). `where` restricts the dump to a recipe's sub-block.
    Returns (rows, match, detail); detail is empty on a match."""
    c.sql(f"""CREATE TEMP TABLE got AS SELECT * FROM
        read_parquet('{outdir}/{name}/*.parquet') WHERE {where}""")
    gd = c.sql("SELECT * FROM got LIMIT 0").df()
    wd = c.sql("SELECT * FROM want LIMIT 0").df()
    gcols, wcols = sorted(gd.columns), sorted(wd.columns)
    if gcols != wcols:
        return -1, False, f"columns {gcols} != {wcols}"
    gt = [str(gd[cn].dtype) for cn in gcols]
    wt = [str(wd[cn].dtype) for cn in wcols]
    if gt != wt:
        return -1, False, f"dtypes {gt} != {wt}"
    ng = c.sql("SELECT count(*) FROM got").fetchone()[0]
    nw = c.sql("SELECT count(*) FROM want").fetchone()[0]
    if ng != nw:
        return ng, False, f"rows {ng} != {nw}"
    cols = ", ".join(f'"{cn}"' for cn in gcols)
    d1 = c.sql(f"""SELECT count(*) FROM (SELECT {cols} FROM got
        EXCEPT ALL SELECT {cols} FROM want)""").fetchone()[0]
    d2 = c.sql(f"""SELECT count(*) FROM (SELECT {cols} FROM want
        EXCEPT ALL SELECT {cols} FROM got)""").fetchone()[0]
    if d1 or d2:
        return ng, False, f"value mismatch: got-want {d1}, want-got {d2}"
    return ng, True, ""


def checked(name, build, tag):
    """Runs build(c, ledger_sql) on a fresh connection — it leaves the
    expected rows in `want` and returns the dump's sub-block predicate —
    then compares. Returns (rows, match, detail)."""
    c = fresh_connection()
    try:
        if tag == "chunked":
            # a recipe's rows are compared as a multiset, and dropping
            # insertion order lowers DuckDB's memory on the big slices
            c.sql("SET preserve_insertion_order=false")
        rows, match, detail = compare(c, name, build(c, oracle[name]))
        return rows, match, detail or tag
    except Exception as e:
        return -1, False, f"{type(e).__name__}: {e}"[:300]
    finally:
        try:
            c.close()
        except Exception:
            pass


def ledger(c, sql):
    """The oracle SQL's rows as `want`, compared against the whole dump."""
    c.sql(f"CREATE TEMP TABLE want AS {sql}")
    return "TRUE"


def pair_block(*cols):
    """The dump's sub-block predicate at STRIDE over the given ids."""
    return " AND ".join(f"{col} % {STRIDE} = 0" for col in cols)


def union_chunks(c, table, n, chunk_sql):
    """`table` from chunk_sql(0) with chunks 1..n-1 appended: its schema
    is the SQL's own. Chunking bounds each statement's memory and never
    changes the union."""
    c.sql(f"CREATE TEMP TABLE {table} AS {chunk_sql(0)}")
    for k in range(1, n):
        # wrapped: DuckDB's INSERT rejects a MATERIALIZED CTE in place
        c.sql(f"INSERT INTO {table} SELECT * FROM ({chunk_sql(k)})")


def components(edges):
    """Union-find by min id over (a, b) edges, with path compression:
    {node: the smallest id of its component}, the min-reachable label
    that the ledger oracles' recursive reach CTEs compute. Union by min
    keeps every root the minimum of its component."""
    parent = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def long_columns(**cols):
    return pa.table({k: pa.array(list(v), pa.int64())
                     for k, v in cols.items()})


# --- q_media_audiohash -------------------------------------------------
# The ledger oracle unnests ~850M synthetic samples at mult=1000 in one
# generate_series pass; DuckDB dies on it at any cap. Per-doc `ahash`
# is self-contained (synthesized from doc_id and n_chars alone), so the
# recipe runs the ledger CTEs verbatim on doc_id % AUDIO_CHUNKS slices,
# then the global n_same / rep_id windows once over all slices.
AUDIO_CHUNKS = 24


def audiohash(c, _):
    union_chunks(c, "hs", AUDIO_CHUNKS, lambda k: f"""
      WITH m AS (SELECT doc_id, n_chars + 16 AS n
            FROM documents
            WHERE doc_id % 3 = 1 AND doc_id % {AUDIO_CHUNKS} = {k}),
          sm AS (SELECT doc_id, i * 64 // n AS w,
              abs((doc_id * 31 + i * 7) % 4096 - 2048) AS a
            FROM m, unnest(generate_series(0, n - 1)) AS t(i)),
          bk AS (SELECT doc_id, w, sum(a) AS bs, count(*) AS bn
            FROM sm GROUP BY 1, 2),
          tot AS (SELECT doc_id, sum(bs) AS ts, sum(bn) AS tn
            FROM bk GROUP BY 1)
      SELECT b.doc_id,
          string_agg(CASE WHEN b.bs * t.tn > t.ts * b.bn
            THEN '1' ELSE '0' END, '' ORDER BY b.w) AS ahash
        FROM bk b JOIN tot t USING (doc_id) GROUP BY b.doc_id""")
    c.sql("""CREATE TEMP TABLE want AS
      SELECT doc_id AS media_id, ahash,
          CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same,
          CAST(min(doc_id) OVER (PARTITION BY ahash) AS BIGINT) AS rep_id
        FROM hs""")
    return "TRUE"


# --- q_ewma --------------------------------------------------------------
# The ledger oracle folds a per-user `list(value ORDER BY ts, event_id)`
# with lambda list_reduces and re-reduces every prefix for the alert
# count: O(n^2) lambda evaluations per user, which DuckDB's lambda
# executor dies on at mult=1000. The recipe external-sorts in the
# oracle's exact order (total, by the unique event_id), streams record
# batches, and folds the recurrence per user in Python: ewma starts at
# the first value; for each later x, alert iff x > 1.5*ewma, then
# ewma = 0.5*ewma + 0.5*x. That is list_reduce unrolled — same IEEE
# doubles, same operation order — before the shared
# floor(x*10000+0.5)/10000 rounding.
def ewma(c, _):
    reader = c.sql("SELECT user_id, value FROM events ORDER BY "
                   "user_id, ts, event_id").fetch_arrow_reader(1 << 20)
    uid, n_events, final, n_alerts = [], [], [], []
    cur, e, n, alerts = None, 0.0, 0, 0

    def flush():
        uid.append(cur)
        n_events.append(n)
        final.append(math.floor(e * 10000 + 0.5) / 10000)
        n_alerts.append(alerts)

    for batch in reader:
        uids = batch.column(0).to_numpy(zero_copy_only=False)
        vals = batch.column(1).to_numpy(zero_copy_only=False)
        for u, x in zip(uids.tolist(), vals.tolist()):
            if u != cur:  # users are contiguous after the sort
                if cur is not None:
                    flush()
                cur, e, n, alerts = u, x, 1, 0
            else:
                if x > 1.5 * e:
                    alerts += 1
                e = 0.5 * e + 0.5 * x
                n += 1
    if cur is not None:
        flush()
    c.register("want", pa.table({
        "user_id": pa.array(uid, pa.int64()),
        "n_events": pa.array(n_events, pa.int64()),
        "final_ewma": pa.array(final, pa.float64()),
        "n_alerts": pa.array(n_alerts, pa.int64())}))
    return "TRUE"


# --- q_semdedup ----------------------------------------------------------
# At mult=1000 (~31k vectors per cell) the ledger oracle evaluates ~3e10
# intra-cell pair cosines through per-element list lambdas. The recipe
# runs centroid affinities and intra-cell cosines as chunked float64
# BLAS products. Every quantized comparison the semantics depend on —
# the r4 affinity behind the cell argmax and the drop key, and the
# SEMDEDUP_THRESHOLD_Q pair cut — is guarded by a boundary band: a value
# within BAND of a floor(x*10000+0.5) boundary (or of the cut) is
# recomputed in the oracle's sequential summation order, so BLAS
# reassociation (error ~1e-9 here) never flips a comparison silently.
# Drop rule: sort cell members by (quantized aff, vec_id); a member is
# dropped iff a member with a strictly lower key has quantized cosine
# >= the cut. Only the exact path (`SPARK_GRAFT_SEMDEDUP_MAXCELL` above
# the largest cell) has these all-pairs semantics.
SEMDEDUP_THRESHOLD_Q = 3500
N_CENTS = 64
CENT_STRIDE = 37
BAND = 1e-6  # on the x*10000+0.5 scale


def seq_q(u, v):
    """The oracle's exact arithmetic: sequential double sums, then
    floor(dot/(sqrt(nu)*sqrt(nv)) * 10000 + 0.5)."""
    dot = nu = nv = 0.0
    for a, b in zip(u.tolist(), v.tolist()):
        dot += a * b
        nu += a * a
        nv += b * b
    return math.floor(dot / (math.sqrt(nu) * math.sqrt(nv)) * 10000 + 0.5)


def semdedup(c, _):
    tbl = c.sql("SELECT vec_id, embedding FROM embeddings "
                "ORDER BY vec_id").fetch_arrow_table()
    ids = tbl.column("vec_id").to_numpy()
    # fixed-length lists: flat values + reshape beats to_pylist by ~100x
    flat = tbl.column("embedding").combine_chunks().values.to_numpy(
        zero_copy_only=False)
    n = len(ids)
    X32 = flat.astype(np.float32).reshape(n, -1)
    X = X32.astype(np.float64)
    cmask = (ids % CENT_STRIDE == 0) & (ids < CENT_STRIDE * N_CENTS)
    cid = (ids[cmask] // CENT_STRIDE).astype(np.int64)
    order = np.argsort(cid)
    cid, C = cid[order], X[cmask][order]
    if not (cid == np.arange(len(cid))).all():
        raise ValueError("centroid ids not dense")
    norm_x = np.sqrt(np.einsum("ij,ij->i", X, X))
    norm_c = np.sqrt(np.einsum("ij,ij->i", C, C))

    # assignment: argmax over (quantized aff, -cell_id)
    cell = np.empty(n, dtype=np.int64)
    affq = np.empty(n, dtype=np.int64)
    CH = 1 << 18
    for lo in range(0, n, CH):
        hi = min(lo + CH, n)
        V = (X[lo:hi] @ C.T) / np.outer(norm_x[lo:hi], norm_c) * 10000 + 0.5
        Q = np.floor(V).astype(np.int64)
        for i, j in zip(*np.nonzero(np.abs(V - np.rint(V)) < BAND)):
            Q[i, j] = seq_q(X32[lo + i], C[j])
        best = np.argmax(Q, axis=1)  # first max = lowest cell_id tie-break
        cell[lo:hi] = best
        affq[lo:hi] = Q[np.arange(hi - lo), best]

    # intra-cell drop pass. floor(cos*10000+0.5) >= THRESHOLD_Q iff
    # cos >= CUT, so the scan compares raw cosines once; the band falls
    # back to the oracle's sequential arithmetic near the cut.
    CUT = (SEMDEDUP_THRESHOLD_Q - 0.5) / 10000.0
    dropped = np.zeros(n, dtype=np.int64)
    for k in range(N_CENTS):
        members = np.nonzero(cell == k)[0]
        if len(members) < 2:
            continue
        m = members[np.lexsort((ids[members], affq[members]))]
        Xn = X[m] / norm_x[m][:, None]  # normalized rows: matmul = cosine
        dm = np.zeros(len(m), dtype=bool)
        # Early-terminating block scan: columns advance in ascending key
        # order, and a member leaves the undecided set the moment any
        # lower-key above-cut neighbor is seen. On dense cells (this
        # fixture drops >99% of members, mostly to the lowest keys) the
        # undecided set collapses after the first blocks.
        und = np.arange(1, len(m))
        B = 2048
        for b0 in range(0, len(m), B):
            if und.size == 0:
                break
            rows = und[und > b0]
            if rows.size == 0:
                continue
            b1 = min(b0 + B, len(m))
            S = Xn[rows] @ Xn[b0:b1].T
            for i, j in zip(*np.nonzero(np.abs(S - CUT) < 1e-9)):
                # the exact verdict for a boundary pair
                exact = seq_q(X32[m[rows[i]]], X32[m[b0 + j]])
                S[i, j] = CUT if exact >= SEMDEDUP_THRESHOLD_Q else CUT - 1
            lower = np.arange(b0, b1)[None, :] < rows[:, None]
            dm[rows[((S >= CUT) & lower).any(axis=1)]] = True
            und = und[~dm[und]]
        dropped[m[dm]] = 1
    c.register("want", long_columns(vec_id=ids, cell_id=cell,
                                    dropped=dropped))
    return "TRUE"


# --- q_simhash -----------------------------------------------------------
# The ledger oracle materializes the per-token md5 stream for the whole
# corpus (docs x tokens rows); at mult=300 that OOMs outside the buffer
# budget. Signatures are per-doc independent, so the recipe runs the
# ledger's signature SQL on doc_id slices (whitespace tokens, md5 nibble
# digit counts, 2*ones-n bit majority with ties -> 0, MSB-first 64-bit
# signature folded into four 16-bit blocks), then the block self-join
# and the Hamming <= 3 verify over the assembled signature table. At
# --stride N only the docs with doc_id % N = 0 get a signature, which is
# the full oracle restricted: banding is per signature.
SIMHASH_CHUNKS = 16
SIMHASH_SIG = r"""
WITH docs AS MATERIALIZED (
    SELECT doc_id, text FROM documents
    WHERE doc_id % {stride} = 0 AND (doc_id // {stride}) % {n} = {k}),
  tb AS MATERIALIZED (
    SELECT doc_id, md5(tok) AS mh FROM
      (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text,
        '\s+'), t -> len(t) > 0)) AS tok FROM docs)),
  ntok AS (SELECT doc_id, count(*) AS n FROM tb GROUP BY 1),
  digc AS (
    SELECT doc_id, p.p AS pos,
      instr('0123456789abcdef', substr(mh, p.p + 1, 1)) - 1 AS dv,
      count(*) AS cnt
    FROM tb, (SELECT unnest(generate_series(0, 15)) AS p) p
    GROUP BY 1, 2, 3),
  bitones AS (
    SELECT doc_id, 60 - 4 * pos + b.b AS j,
      sum(CASE WHEN (dv // CAST(power(2, b.b) AS BIGINT)) % 2 = 1
        THEN cnt ELSE 0 END) AS ones
    FROM digc, (SELECT unnest(generate_series(0, 3)) AS b) b
    GROUP BY 1, 2),
  bits AS (
    SELECT d.doc_id, j.j AS j,
      coalesce(2 * bo.ones - nt.n, 0) AS c
    FROM docs d
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
    LEFT JOIN bitones bo ON bo.doc_id = d.doc_id AND bo.j = j.j
    LEFT JOIN ntok nt ON nt.doc_id = d.doc_id),
  sig AS MATERIALIZED (
    SELECT doc_id,
      list(CASE WHEN c > 0 THEN 1 ELSE 0 END ORDER BY j) AS bv
    FROM bits GROUP BY doc_id),
  blocks AS (
    SELECT doc_id, i.i AS blk,
      CAST(list_sum(list_transform(generate_series(1, 16),
        q -> bv[16 * i.i + q] * CAST(power(2, q - 1) AS BIGINT)))
        AS BIGINT) AS v
    FROM sig, (SELECT unnest(generate_series(0, 3)) AS i) i)
SELECT doc_id,
  max(CASE WHEN blk = 0 THEN v END) AS v0,
  max(CASE WHEN blk = 1 THEN v END) AS v1,
  max(CASE WHEN blk = 2 THEN v END) AS v2,
  max(CASE WHEN blk = 3 THEN v END) AS v3
FROM blocks GROUP BY doc_id
"""
HAMMING = """CAST(
    bit_count(xor(sa.v0, sb.v0)) + bit_count(xor(sa.v1, sb.v1)) +
    bit_count(xor(sa.v2, sb.v2)) + bit_count(xor(sa.v3, sb.v3))
    AS INTEGER)"""


def simhash(c, _):
    union_chunks(c, "sigc", SIMHASH_CHUNKS, lambda k: SIMHASH_SIG.format(
        n=SIMHASH_CHUNKS, k=k, stride=STRIDE))
    c.sql(f"""CREATE TEMP TABLE want AS
        WITH blocks AS MATERIALIZED (
            SELECT doc_id, i.i AS blk,
              CASE i.i WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                ELSE v3 END AS v
            FROM sigc, (SELECT unnest(generate_series(0, 3)) AS i) i),
          cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM blocks x JOIN blocks y
              ON x.blk = y.blk AND x.v = y.v AND x.doc_id < y.doc_id)
        SELECT a, b, {HAMMING} AS dist
        FROM cand
        JOIN sigc sa ON a = sa.doc_id
        JOIN sigc sb ON b = sb.doc_id
        WHERE {HAMMING} <= 3""")
    return pair_block("a", "b")


# --- q_minhash_lsh_auto --------------------------------------------------
# The signature stage is linear in total token volume (~35 min of oracle
# CPU at mult=300). The sub-block oracle is the ledger oracle with ONE
# surgical change: the `docs` CTE keeps doc_id % STRIDE = 0. Everything
# else — the auto-plan sizing, whose `nn` CTE counts the FULL documents
# table, included — is the ledger text, so the plan under test is the
# production plan and the oracle mines exactly the pairs whose BOTH
# endpoints fall in the subset. LshPlanOracleSpec pins that NEEDLE
# occurs exactly once in the ledger oracle.
NEEDLE = "AS toks FROM documents))"


def minhash(c, sql):
    if sql.count(NEEDLE) != 1:
        raise ValueError("oracle SQL drifted; update the NEEDLE surgery")
    ledger(c, sql.replace(
        NEEDLE, f"AS toks FROM documents WHERE doc_id % {STRIDE} = 0))"))
    return pair_block("a", "b")


# --- q_embed_neardup_auto, q_embed_keepers_auto -------------------------
# Both run on the corpus augmented with planted clones (every
# CLONE_STRIDE-th vec_id re-emitted as vec_id + CLONE_ID_OFFSET with
# component 1 negated), with the band scheme sized by Ann.lshPlan's
# algebra from the augmented count — recomputed here in SQL, never
# taken from the Spark side (q_lsh_plan pins it cross-engine) — and the
# md5-derived ±1 planes 'hp:42:<band>:<bit>:0' of
# expressions/HyperplaneBands.scala. The near-dup answer is millions of
# pairs at big mults, so its candidates are mined in slices of the
# smaller id; the keepers oracle's recursive fixpoint materializes
# O(c^2) reach rows per c-member component, so that recipe verifies
# star edges (one per bucket member, to the bucket min) and takes the
# components by union-find.
CLONE_STRIDE = 50
CLONE_ID_OFFSET = 100000000001
EMBED_THRESHOLD = 0.95
EMBED_THRESHOLD_Q = 9500
EMBED_CHUNKS = 8
LSH_PLAN = f"""
    WITH nn AS (SELECT count(*) AS n FROM aug),
    pp AS (SELECT 1.0 - acos({EMBED_THRESHOLD}) / pi() AS p),
    sized AS (
      SELECT CAST(bs.bits AS INTEGER) AS bits,
        CASE WHEN power(pp.p, bs.bits) >= 1.0 THEN 1
          ELSE least(64, greatest(1, CAST(ceil(
            ln(1.0 - 0.999) / ln(1.0 - power(pp.p, bs.bits)))
            AS INTEGER))) END AS bands
      FROM pp, generate_series(6, 24) bs(bits)),
    sized2 AS (
      SELECT s.bits, s.bands,
        1.0 - power(1.0 - power(pp.p, s.bits), s.bands) AS recall
      FROM sized s, pp),
    init AS (
      SELECT least(24, greatest(6, CAST(ceil(
        ln(greatest(1.0, CAST(nn.n AS DOUBLE) / 256.0)) / ln(2.0))
        AS INTEGER))) AS initbits
      FROM nn)
    SELECT s.bits, s.bands FROM sized2 s
    WHERE s.bits = coalesce(
      (SELECT max(x.bits) FROM sized2 x, init i
       WHERE x.bits <= i.initbits AND x.recall >= 0.999),
      CAST(6 AS INTEGER))"""


def dot(a, b):
    return f"""list_sum(list_transform(generate_series(1, 64),
       k -> CAST({a}[k] AS DOUBLE) * CAST({b}[k] AS DOUBLE)))"""


def embed_bands(c):
    """`aug`, its plan-sized per-band bucket hashes `bands`
    (vec_id, band, h), signatures computed in vec_id slices."""
    c.sql(f"""CREATE TEMP VIEW aug AS
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {CLONE_ID_OFFSET} AS vec_id,
          list_concat([-embedding[1]], embedding[2:64]) AS embedding
        FROM embeddings WHERE vec_id % {CLONE_STRIDE} = 0""")
    bits, bands = c.sql(LSH_PLAN).fetchone()
    # hex digit k/4 of the plane's md5, bit 3 - k%4, signs component k
    c.sql(f"""CREATE TEMP TABLE planesig AS
        SELECT tb.band, ti.bit,
          md5('hp:42:' || tb.band || ':' || ti.bit || ':0') AS dg
        FROM generate_series(0, {bands - 1}) tb(band),
             generate_series(0, {bits - 1}) ti(bit)""")
    union_chunks(c, "bands", EMBED_CHUNKS, lambda k: f"""
        SELECT vec_id, band,
          CAST(sum(CASE WHEN s >= 0
            THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
            ELSE 0 END) AS BIGINT) AS h
        FROM (
          SELECT e.vec_id, p.band, p.bit,
            list_sum(list_transform(generate_series(1, 64), k ->
              CASE WHEN ((instr('0123456789abcdef',
                    substr(p.dg, CAST(1 + (k - 1) // 4 AS INTEGER), 1)) - 1)
                  >> CAST(3 - ((k - 1) % 4) AS INTEGER)) & 1 = 1
                THEN CAST(e.embedding[k] AS DOUBLE)
                ELSE -CAST(e.embedding[k] AS DOUBLE) END)) AS s
          FROM aug e CROSS JOIN planesig p
          WHERE e.vec_id % {EMBED_CHUNKS} = {k}) t
        GROUP BY 1, 2""")


def verified(c, cand, vec_filter=""):
    """The quantized-cosine verify: `vecs` (the aug rows passing
    vec_filter, with norms) joined to the (a, b) pairs of `cand`; keeps
    a, b, score_q at or above the cut."""
    c.sql(f"""CREATE TEMP TABLE vecs AS
        SELECT vec_id, embedding, sqrt({dot('embedding', 'embedding')}) AS nrm
        FROM aug {vec_filter}""")
    return f"""SELECT * FROM (
          SELECT c.a, c.b,
            CAST(floor(({dot('ex.embedding', 'ey.embedding')} /
              (ex.nrm * ey.nrm)) * 10000 + 0.5) AS BIGINT) AS score_q
          FROM {cand} c
          JOIN vecs ex ON ex.vec_id = c.a
          JOIN vecs ey ON ey.vec_id = c.b) t
        WHERE score_q >= {EMBED_THRESHOLD_Q}"""


def embed_neardup(c, _):
    embed_bands(c)
    pairs = verified(c, "cand")
    union_chunks(c, "want", EMBED_CHUNKS, lambda k: f"""
        WITH cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.h = y.h AND x.vec_id < y.vec_id
          WHERE x.vec_id % {STRIDE} = 0
            AND (x.vec_id // {STRIDE}) % {EMBED_CHUNKS} = {k})
        SELECT a, b, score_q / 10000 AS score FROM ({pairs})""")
    return pair_block("a")


def embed_keepers(c, _):
    embed_bands(c)
    c.sql("""CREATE TEMP TABLE cand AS
        SELECT DISTINCT m AS a, vec_id AS b FROM (
          SELECT vec_id, min(vec_id) OVER (PARTITION BY band, h) AS m
          FROM bands) st
        WHERE vec_id <> m""")
    pairs = verified(c, "cand", "WHERE vec_id IN "
                     "(SELECT a FROM cand UNION SELECT b FROM cand)")
    keeper = components(c.sql(f"SELECT a, b FROM ({pairs})").fetchall())
    c.register("want", long_columns(vec_id=keeper.keys(),
                                    keeper_id=keeper.values()))
    return "TRUE"


# --- q_ngram_jaccard, q_neardup_components, q_dedup_keepers,
# q_corpus_build ----------------------------------------------------------
# The three consumers' ledger oracles share one skeleton: the DF-capped
# shingle-join Jaccard `pairs` CTE (q_ngram_jaccard's own oracle), then
# a recursive min-reachable-id closure that materializes O(c^2) rows
# per component (130 GB RSS for q_corpus_build alone at mult=1000). The
# recipe runs q_ngram_jaccard's ledger oracle once per process, keeps
# it as parquet in the spill dir, takes the labels by union-find, and
# runs each consumer's non-recursive ledger tail over them.
text = {}


def text_pass(c):
    """Views `pairs_full` (q_ngram_jaccard's ledger rows) and `comp`
    (doc_id, component_id), computed by the first textdedup recipe of
    the run and reused by the rest."""
    path = f"{SPILL_DIR}/text_pairs.parquet"
    if "comp" not in text:
        c.sql(f"COPY ({oracle['q_ngram_jaccard']}) TO '{path}' "
              "(FORMAT parquet)")
        text["comp"] = components(
            c.sql(f"SELECT a, b FROM '{path}'").fetchall())
    c.sql(f"CREATE TEMP VIEW pairs_full AS SELECT * FROM '{path}'")
    comp = text["comp"]
    c.register("comp", long_columns(doc_id=comp.keys(),
                                    component_id=comp.values()))


TEXT_TAILS = {
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


def text_tail(tail):
    def build(c, _):
        text_pass(c)
        return ledger(c, tail)
    return build


RECIPES = {
    "q_media_audiohash": audiohash,
    "q_ewma": ewma,
    "q_semdedup": semdedup,
    "q_simhash": simhash,
    "q_minhash_lsh_auto": minhash,
    "q_embed_neardup_auto": embed_neardup,
    "q_embed_keepers_auto": embed_keepers,
    **{q: text_tail(tail) for q, tail in TEXT_TAILS.items()},
}


for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    if name in resume:
        r = resume[name]
        print(f"ok   {name} ({r['rows']} rows) [resumed]")
        record(name, r["rows"], True, r.get("detail", ""))
        ok += 1
        continue
    if (args.chunked and name in RECIPES) or name in native:
        tag = "chunked" if args.chunked and name in RECIPES else "native"
        rows, match, detail = checked(
            name, RECIPES[name] if tag == "chunked" else ledger, tag)
        print(f"{'ok  ' if match else 'FAIL'} {name} ({rows} rows) "
              f"[{tag}]{'' if match else ': ' + detail}")
        record(name, rows, match, detail)
        if match:
            ok += 1
        else:
            bad += 1
        continue
    got = want = None
    err = None
    for attempt in (1, 2):
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
            err = None
            break
        except Exception as e:
            err = e
            # the failed attempt may have poisoned the connection
            # (DuckDB OOM leaves it unusable) — rebuild before the
            # retry AND for whatever query comes next
            con = rebuild_connection(con)
    if err is not None:
        print(f"FAIL {name}: {type(err).__name__}: {err}")
        record(name, -1, False, f"{type(err).__name__}: {err}"[:300])
        bad += 1
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
        record(name, len(got), False,
               f"columns {list(got.columns)} != {list(want.columns)}")
        bad += 1
        continue
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} != {len(w)}")
        record(name, len(g), False, f"rows {len(g)} != {len(w)}")
        bad += 1
        continue
    try:
        import pandas as pd
        # dtype-strict to mirror the driver's hash, which distinguishes
        # e.g. DuckDB HUGEINT sums from Spark BIGINT even at equal values.
        pd.testing.assert_frame_equal(g, w, check_dtype=True,
                                      check_exact=True)
        print(f"ok   {name} ({len(g)} rows)")
        record(name, len(g), True)
        ok += 1
    except AssertionError as e:
        print(f"FAIL {name}: value mismatch\n{str(e)[:500]}")
        diff = g.compare(w) if g.shape == w.shape else None
        if diff is not None and not diff.empty:
            print(diff.head(5).to_string())
        record(name, len(g), False, f"value mismatch: {str(e)[:300]}")
        bad += 1

print(f"\n{ok} ok, {bad} failed, "
      f"{len(oracle)} oracled of total declared")
flush_report()
sys.exit(1 if bad else 0)
