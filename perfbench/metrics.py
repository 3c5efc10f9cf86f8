"""Turns the scenario driver's run file into the benchmark's metrics.

Pure functions over the JSON the Scala driver writes (`spans`, `ops`,
`jobs`, `counters`, `gauges`, ...), so the arithmetic is testable without
Spark.
"""
import json
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# percentiles a tail may be reported at, highest first
TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)


def tail_percentile(n):
    """Highest candidate percentile with at least ten samples beyond it,
    or None when even the median has fewer than ten beyond it."""
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated percentile of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> self time in ns: its duration minus the part of it that
    its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(
        [(c["t0"], c["t1"]) for c in children.get(s["id"], [])], s["t0"], s["t1"])
        for s in spans}


def subtree(spans, root_id):
    """Ids of a span and all its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def no_job_share(span, jobs):
    """Share of a span's wall time during which none of `jobs` ran."""
    lo, hi = span["e0"], span["e1"]
    if hi <= lo:
        return 0.0
    return 1.0 - union_length([(j["e0"], j["e1"]) for j in jobs], lo, hi) / (hi - lo)


def median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def end_to_end(run):
    """Metrics a user sees, from an untraced run."""
    ops = [o for o in run["ops"] if o["timed"]]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    return {
        "setup_s": median(run["setup_s"]),
        "batch_s": sum(o["ms"] for o in ops if o["kind"] == "batch") / 1000.0,
        "read_p50_ms": median(reads),
        "read_rps": len(reads) / (sum(reads) / 1000.0) if reads else 0.0,
        "store_bytes": float(run["timed"]["store_bytes"]),
        "peak_rss_mb": float(run["gauges"]["peak_rss_mb"]),
    }


def read_tail(run):
    """The timed reads' count, and their tail by the ten-beyond rule."""
    reads = [o["ms"] for o in run["ops"] if o["timed"] and o["kind"] == "read"]
    p = tail_percentile(len(reads))
    return {"n": len(reads), "p": p, "ms": percentile(reads, p) if p else None}


BATCH_STEPS = {
    "chunking": "chunking.s",
    "embedding": "embedding.s",
    "stores.bm25": "stores.build_s.bm25",
    "stores.ivf": "stores.build_s.ivf",
    "stores.ivfpq": "stores.build_s.ivfpq",
    "compact": "deltastore.compact_s",
}
SERVE_TYPES = ("ivf", "ivfpq", "bm25", "rrf")
CURATE_STEPS = ("minhash", "resolve", "semdedup", "components", "pagerank", "quality")
COUNTERS = {
    "sched.stages": ("stages", 1.0),
    "sched.tasks": ("tasks", 1.0),
    "exec.task_run_s": ("task_run_ms", 1e-3),
    "exec.task_cpu_s": ("task_cpu_ns", 1e-9),
    "exec.gc_s": ("gc_ms", 1e-3),
    "shuffle.read_bytes": ("shuffle_read_bytes", 1.0),
    "shuffle.write_bytes": ("shuffle_write_bytes", 1.0),
    "spill.bytes": ("spill_bytes", 1.0),
    "tables.scan_bytes": ("scan_bytes", 1.0),
}


def per_layer(run):
    """Per-layer metrics of a traced run; a layer the workload does not
    exercise reads 0."""
    spans = [s for s in run["spans"] if s["timed"]]
    by_id = {s["id"]: s for s in spans}
    jobs = run["jobs"]
    counters = run["counters"]
    timed = next(s for s in spans if s["name"] == "timed")
    inside = subtree(spans, timed["id"])

    def jobs_of(span_id):
        ids = subtree(spans, span_id)
        return [j for j in jobs if j["span"] in ids]

    def counter(ids, key, scale=1.0):
        return sum(counters.get(str(i), {}).get(key, 0) for i in ids) * scale

    out = {name: 0.0 for name in LAYER_METRICS}
    for o in (o for o in run["ops"] if o["timed"]):
        if o["name"] in BATCH_STEPS:
            out[BATCH_STEPS[o["name"]]] += o["ms"] / 1000.0
        if o["name"].startswith("write."):
            out["deltastore.write_s"] += o["ms"] / 1000.0
        if o["name"].startswith("curate."):
            out[o["name"] + ".s"] += o["ms"] / 1000.0

    def spans_named(pred):
        return [s for s in spans if pred(s["name"])]

    for t in SERVE_TYPES:
        ss = spans_named(lambda n, t=t: n == f"serve.{t}")
        out[f"serve.{t}.p50_ms"] = median([(s["t1"] - s["t0"]) / 1e6 for s in ss])
        out[f"serve.{t}.jobs"] = median([len(jobs_of(s["id"])) for s in ss])
    for c in CURATE_STEPS:
        ss = spans_named(lambda n, c=c: n == f"curate.{c}")
        out[f"curate.{c}.jobs"] = float(sum(len(jobs_of(s["id"])) for s in ss))
    mor = spans_named(lambda n: n.startswith("read.") and n.endswith("_mor"))
    out["deltastore.read_jobs"] = median([len(jobs_of(s["id"])) for s in mor])
    out["deltastore.mor_read_p50_ms"] = median([(s["t1"] - s["t0"]) / 1e6 for s in mor])
    out["deltastore.compacted_read_p50_ms"] = median(
        [(s["t1"] - s["t0"]) / 1e6 for s in spans_named(lambda n: n == "read.ivf_compacted")])
    for g in ("deltastore.segment_bytes", "deltastore.segment_rows",
              "deltastore.segments_folded", "ann_recall_at_3"):
        out[g] = float(run["gauges"].get(g, 0.0))
    out["stores.bytes_written"] = float(run["timed"]["graft_store_bytes"])

    out["sched.jobs"] = float(len([j for j in jobs if j["span"] in inside]))
    for name, (key, scale) in COUNTERS.items():
        out[name] = counter(inside, key, scale)
    out["driver.planning_ms"] = sum(s.get("planning_ms", 0.0) for s in spans)
    out["driver.no_job_share"] = no_job_share(timed, [j for j in jobs if j["span"] in inside])
    out["plan.exchanges"] = float(sum(s.get("exchanges", 0) for s in spans))
    out["plan.joins"] = float(sum(s.get("joins", 0) for s in spans))

    selfs = self_times(spans)
    out["trace.timed_s"] = (timed["t1"] - timed["t0"]) / 1e9
    out["trace.self_sum_s"] = sum(selfs[i] for i in inside) / 1e9
    out["trace.harness_self_s"] = sum(
        selfs[i] for i in inside if by_id[i]["name"] in PHASES) / 1e9
    return out


# spans that only group calls: their self time is the harness's own
PHASES = {"timed", "ingest", "serve", "maintain", "curate", "lookup"}


def _load_layer_names():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


LAYER_METRICS = _load_layer_names()
