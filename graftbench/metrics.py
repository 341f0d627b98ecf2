"""Turn one run's raw record (written by the JVM) into reported metrics.

Pure functions only, so that tests/test_metrics.py can pin the rules:
percentile selection with the ten-beyond rule, span nesting and self
time, metric-name validation and the output schema.
"""

import json
import math
import os
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

MODULES = ("similarity", "pipeline", "text", "relational", "join", "window",
           "analytics", "tokenizer", "multimodal")

END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("heap_used_mb", "MB"),
]

# per-layer metrics, in the order reported;
# queries.<module>.ms and queries.<query>.ms follow (see per_layer_names)
PER_LAYER = [
    ("streaming.batch.wal_commit_ms", "ms"),
    ("streaming.batch.commit_offsets_ms", "ms"),
    ("streaming.batch.query_planning_ms", "ms"),
    ("streaming.batch.trigger_ms", "ms"),
    ("streaming.batch.latest_offset_ms", "ms"),
    ("streaming.batch.add_batch_ms", "ms"),
    ("streaming.batches_per_round", "count"),
    ("streaming.round_trigger_ms", "ms"),
    ("streaming.trigger_share", "share"),
    ("streaming.publish_ms", "ms"),
    ("streaming.callback_ms", "ms"),
    ("streaming.drain_ms", "ms"),
    ("streaming.subscribe_ms", "ms"),
    ("streaming.outside_batches_ms", "ms"),
    ("queries.build_ms", "ms"),
    ("queries.exec_ms", "ms"),
    ("queries.outside_jobs_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_time_s", "s"),
    ("spark.driver_share", "share"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_skew_max", "ratio"),
    ("core.session_s", "s"),
    ("setup.warmup_s", "s"),
    ("host.probe_ms", "ms"),
    ("host.steal_share", "share"),
    ("jvm.gc_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected", "batch_headliners-sf0.01.json")


def expected_batch():
    """The pinned row counts and content hashes of the headline queries."""
    if not os.path.exists(EXPECTED_PATH):
        return None
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def query_names():
    """The headline queries: the keys of the pinned batch results."""
    return sorted(expected_batch()["queries"])


def per_layer_names(queries):
    return ([n for n, _ in PER_LAYER] +
            [f"queries.{m}.ms" for m in MODULES] +
            [f"queries.{q}.ms" for q in queries])


def layer_units(queries):
    """Name -> unit of the per-layer metrics a traced run reports."""
    units = dict(PER_LAYER)
    for n in per_layer_names(queries):
        units.setdefault(n, "ms")
    return units


def valid_name(name):
    return bool(NAME_RE.fullmatch(name))


# ---- percentiles --------------------------------------------------------

def tail_rank(n, q, beyond=10):
    """1-based rank of the q-quantile of n sorted samples, nearest-rank,
    moved down until at least `beyond` samples lie above it, but never
    below the median rank. With n >= beyond / (1 - q) samples this is the
    plain q-quantile; with fewer the value reported is the highest one
    that still has `beyond` samples beyond it, so one slow sample cannot
    become the reported tail."""
    if n < 1:
        raise ValueError("no samples")
    median = math.ceil(0.5 * n)
    rank = min(math.ceil(q * n), n - beyond)
    return max(rank, median)


def percentile(samples, q, beyond=10):
    """The q-quantile by `tail_rank`, as the mean of the samples within
    n // 10 ranks of it on each side: with a few dozen samples from
    unlike operations (40 different queries) the single order statistic
    jumps across gaps between neighbouring samples from run to run."""
    xs = sorted(samples)
    r, h = tail_rank(len(xs), q, beyond), len(xs) // 10
    window = xs[max(0, r - 1 - h):min(len(xs), r + h)]
    return sum(window) / len(window)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- spans --------------------------------------------------------------

def listener_spans(raw):
    """Batch, job and stage records as spans in epoch nanoseconds."""
    out = []
    for b in raw.get("batches", []):
        d = b["duration_ms"]
        start = b["start_ms"] * 1000000
        out.append({"name": "batch", "start_ns": start,
                    "end_ns": start + d.get("triggerExecution", 0) * 1000000,
                    "attrs": b})
    for j in raw.get("jobs", []):
        out.append({"name": "job", "start_ns": j["start_ms"] * 1000000,
                    "end_ns": j["end_ms"] * 1000000, "attrs": j})
    for s in raw.get("stages", []):
        if s["submit_ms"] and s["end_ms"]:
            out.append({"name": "stage", "start_ns": s["submit_ms"] * 1000000,
                        "end_ns": s["end_ms"] * 1000000, "attrs": s})
    return out


def nest(spans):
    """Give every span a `children` list by time containment: a span's
    parent is the innermost span still open just after its start (a span
    ending exactly where another starts does not contain it). Client spans
    win ties with listener spans that start in the same instant, since
    they caused them. Returns the roots."""
    kind = {"round": 0, "query": 0, "publish": 1, "drain": 1, "build": 1,
            "exec": 1, "callback": 2, "batch": 3, "job": 4, "stage": 5}
    order = sorted(spans, key=lambda s: (s["start_ns"], -s["end_ns"],
                                         kind.get(s["name"], 9)))
    roots, stack = [], []
    for s in order:
        s["children"] = []
        while stack and stack[-1]["end_ns"] <= s["start_ns"]:
            stack.pop()
        # a listener span may outlive the client span that caused it by
        # the listener's millisecond rounding: nest on the start alone
        if stack:
            stack[-1]["children"].append(s)
        else:
            roots.append(s)
        stack.append(s)
    return roots


def self_ns(span, inner=None):
    """Duration minus the union of the `inner` spans' time inside it
    (by default its children): the span's self time."""
    lo, hi = span["start_ns"], span["end_ns"]
    cover, cur_a, cur_b = 0, None, None
    inner = span["children"] if inner is None else inner
    for c in sorted(inner, key=lambda c: c["start_ns"]):
        a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                cover += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        cover += cur_b - cur_a
    return (hi - lo) - cover


def walk(spans):
    for s in spans:
        yield s
        yield from walk(s["children"])


def descendants(span, name):
    return [s for s in walk(span["children"]) if s["name"] == name]


# ---- summaries ----------------------------------------------------------

def phase(raw, name):
    for p in raw["phases"]:
        if p["name"] == name:
            return p
    return None


def end_to_end(raw):
    p = phase(raw, "plain")
    xs = p["samples_ms"]
    return {
        "setup_s": raw["setup_s"],
        "items_per_s": p["items"] / p["seconds"],
        "latency_p50_ms": percentile(xs, 0.5),
        "latency_p90_ms": percentile(xs, 0.9),
        "heap_used_mb": raw["heap_used_mb"],
    }


def context(raw):
    """Host state beside the run: not gated, for telling drift from
    regression. Taken from the untraced phase."""
    p = phase(raw, "plain")
    return {"samples": len(p["samples_ms"]),
            "host.probe_ms": statistics.mean(p["probe_ms"]),
            "host.probe_ms_before": p["probe_ms"][0],
            "host.probe_ms_after": p["probe_ms"][-1],
            "host.steal_share": p["steal_share"],
            "jvm.gc_ms": p["gc_ms"],
            "setup_parts": raw["setup_parts"]}


def per_layer(raw, queries):
    """Per-layer metrics of a traced run; layers the workload does not
    exercise read 0."""
    m = dict.fromkeys(per_layer_names(queries), 0.0)
    traced = phase(raw, "traced")
    roots = nest([dict(s) for s in raw.get("spans", [])] +
                 listener_spans(raw))
    ops = [s for s in walk(roots) if s["name"] in ("round", "query")]
    n_ops = max(1, len(ops))

    batches = raw.get("batches", [])

    def dur(key):
        return median([b["duration_ms"][key] for b in batches
                       if key in b["duration_ms"]])

    if batches:
        m["streaming.batch.wal_commit_ms"] = dur("walCommit")
        m["streaming.batch.commit_offsets_ms"] = dur("commitOffsets")
        m["streaming.batch.query_planning_ms"] = dur("queryPlanning")
        m["streaming.batch.trigger_ms"] = dur("triggerExecution")
        m["streaming.batch.latest_offset_ms"] = dur("latestOffset")
        m["streaming.batch.add_batch_ms"] = dur("addBatch")
    rounds = [s for s in ops if s["name"] == "round"]
    if rounds:
        per_round = [descendants(r, "batch") for r in rounds]
        m["streaming.batches_per_round"] = median([len(b) for b in per_round])
        m["streaming.round_trigger_ms"] = median(
            [sum(b["attrs"]["duration_ms"].get("triggerExecution", 0)
                 for b in bs) for bs in per_round])
        m["streaming.outside_batches_ms"] = median(
            [self_ns(r, bs) / 1e6 for r, bs in zip(rounds, per_round)])
        p50 = percentile(traced["samples_ms"], 0.5)
        m["streaming.trigger_share"] = m["streaming.round_trigger_ms"] / p50
        for key, name in (("publish", "streaming.publish_ms"),
                          ("callback", "streaming.callback_ms"),
                          ("drain", "streaming.drain_ms")):
            m[name] = median([(s["end_ns"] - s["start_ns"]) / 1e6
                              for r in rounds for s in descendants(r, key)])
    parts = raw["setup_parts"]
    m["streaming.subscribe_ms"] = parts.get("streaming.subscribe_s", 0) * 1e3

    queries_run = [s for s in ops if s["name"] == "query"]
    if queries_run:
        def child_ms(q, key):
            return sum((c["end_ns"] - c["start_ns"]) / 1e6
                       for c in q["children"] if c["name"] == key)
        m["queries.build_ms"] = median([child_ms(q, "build")
                                        for q in queries_run])
        m["queries.exec_ms"] = median([child_ms(q, "exec")
                                       for q in queries_run])
        m["queries.outside_jobs_ms"] = median(
            [self_ns(q, descendants(q, "job")) / 1e6 for q in queries_run])
        by_module, by_query = {}, {}
        for q in queries_run:
            ms = (q["end_ns"] - q["start_ns"]) / 1e6
            by_module.setdefault(q["attrs"]["module"], []).append(ms)
            by_query.setdefault(q["attrs"]["query"], []).append(ms)
        for mod, xs in by_module.items():
            if f"queries.{mod}.ms" in m:
                m[f"queries.{mod}.ms"] = median(xs)
        for q, xs in by_query.items():
            if f"queries.{q}.ms" in m:
                m[f"queries.{q}.ms"] = median(xs)

    stages = raw.get("stages", [])
    task_ms = sum(s["task_time_ms"] for s in stages)
    m["spark.jobs"] = len(raw.get("jobs", [])) / n_ops
    m["spark.stages"] = len(stages) / n_ops
    m["spark.tasks"] = sum(s["tasks"] for s in stages) / n_ops
    m["spark.task_time_s"] = task_ms / 1e3 / n_ops
    if traced and traced["seconds"] > 0:
        m["spark.driver_share"] = 1 - task_ms / 1e3 / (
            traced["seconds"] * raw["cores"])
    m["spark.shuffle_write_mb"] = sum(
        s["shuffle_write_bytes"] for s in stages) / 2**20 / n_ops
    m["spark.spill_mb"] = sum(s["spill_bytes"] for s in stages) / 2**20 / n_ops
    skews = [s["max_task_ms"] / s["median_task_ms"] for s in stages
             if s["tasks"] > 1 and s["median_task_ms"] > 0]
    m["spark.task_skew_max"] = max(skews, default=0.0)

    m["core.session_s"] = parts.get("core.session_s", 0.0)
    m["setup.warmup_s"] = parts.get("setup.warmup_s", 0.0)
    ctx = context(raw)
    for k in ("host.probe_ms", "host.steal_share", "jvm.gc_ms"):
        m[k] = ctx[k]
    m["trace.overhead_ms"] = paired_overhead(
        phase(raw, "plain")["samples_ms"], traced["samples_ms"])
    return m


def paired_overhead(plain, traced):
    """The tracing overhead from interleaved pairs (sample k of each half
    is one pair; even pairs ran untraced first, odd pairs traced first):
    the mean of the median traced-minus-untraced difference over the
    pairs of each order, so that what the second run of a pair gains
    from the first cancels."""
    d = [t - p for p, t in zip(plain, traced)]
    return statistics.mean(median(h) for h in (d[0::2], d[1::2]) if h)


def summarize(raw, traced, queries=None):
    """The final result object (`correct` and `failed` as the JVM saw
    them; the caller adds the pinned-value comparison)."""
    if traced:
        queries = query_names() if queries is None else queries
        units = layer_units(queries)
        values = per_layer(raw, queries)
    else:
        units = dict(END_TO_END)
        values = end_to_end(raw)
    return {"correct": raw["failed"] == 0, "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                        for k in units}}


def batch_mismatches(observed, expected):
    """Messages for every headline query whose row count or content hash
    differs from the pinned value, or that is missing on either side."""
    if expected is None:
        return ["no pinned batch results (run with --pin to create them)"]
    want = expected["queries"]
    got = {o["query"]: o for o in observed}
    bad = []
    for q in sorted(set(want) | set(got)):
        if q not in got:
            bad.append(f"{q}: pinned but not run")
        elif q not in want:
            bad.append(f"{q}: run but not pinned")
        elif (int(got[q]["rows"]), str(got[q]["hash"])) != (
                int(want[q]["rows"]), str(want[q]["hash"])):
            bad.append(f"{q}: rows/hash {got[q]['rows']}/{got[q]['hash']}, "
                       f"pinned {want[q]['rows']}/{want[q]['hash']}")
    return bad


def check_result(result, names):
    """Schema of the printed result: exactly the four keys, whole-number
    counts, and exactly `names` as metrics, each a finite number with a
    unit. Returns a list of problems (empty when the result is valid)."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
        return problems
    if not isinstance(result["correct"], bool):
        problems.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool):
            problems.append(f"{k} is not a whole number")
    if isinstance(result["attempted"], int) and result["attempted"] < 1:
        problems.append("attempted < 1")
    got = result["metrics"]
    if set(got) != set(names):
        problems.append("metric names differ: missing "
                        f"{sorted(set(names) - set(got))}, extra "
                        f"{sorted(set(got) - set(names))}")
    for n, v in got.items():
        if not valid_name(n):
            problems.append(f"bad metric name {n!r}")
        if set(v) != {"value", "unit"}:
            problems.append(f"{n}: keys {sorted(v)}")
        elif not isinstance(v["value"], (int, float)) or not math.isfinite(
                v["value"]):
            problems.append(f"{n}: value {v['value']!r}")
    return problems
