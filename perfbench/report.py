"""Traced-run report: runs one workload untraced and traced with the same
seed and prints, as markdown, the per-span table of the traced run and
the tracing overhead.

    python3 perfbench/report.py --workload curate_batch --seed 1
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def run_once(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--trace", str(trace), "--keep"],
                       stdout=subprocess.PIPE, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    with open(detail["run_file"]) as f:
        run = json.load(f)
    shutil.rmtree(os.path.dirname(detail["run_file"]), ignore_errors=True)
    return run, json.loads(lines[-1])


def span_rows(run):
    """Per span name over the timed part: calls, wall, self time, jobs,
    stages and tasks counted inside it, and the share of its wall with no
    Spark job running."""
    spans = [s for s in run["spans"] if s["timed"]]
    selfs = metrics.self_times(spans)
    rows = {}
    for s in spans:
        ids = metrics.subtree(spans, s["id"])
        jobs = [j for j in run["jobs"] if j["span"] in ids]
        r = rows.setdefault(s["name"], dict(calls=0, wall=0.0, self=0.0, jobs=0, stages=0,
                                            tasks=0, shuffle=0, busy_ms=0.0, wall_ms=0.0))
        r["calls"] += 1
        r["wall"] += (s["t1"] - s["t0"]) / 1e9
        r["self"] += selfs[s["id"]] / 1e9
        r["jobs"] += len(jobs)
        for i in ids:
            c = run["counters"].get(str(i), {})
            r["stages"] += c.get("stages", 0)
            r["tasks"] += c.get("tasks", 0)
            r["shuffle"] += c.get("shuffle_read_bytes", 0)
        r["busy_ms"] += metrics.union_length([(j["e0"], j["e1"]) for j in jobs], s["e0"], s["e1"])
        r["wall_ms"] += s["e1"] - s["e0"]
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    plain, plain_line = run_once(a.workload, a.seed, 0)
    traced, traced_line = run_once(a.workload, a.seed, 1)
    print(f"#### {a.workload}, seed {a.seed}\n")
    print("| span | calls | wall s | self s | jobs | stages | tasks | no-job share | shuffle KiB |")
    print("|---|---:|---:|---:|---:|---:|---:|---:|---:|")
    for name, r in span_rows(traced).items():
        idle = 1.0 - r["busy_ms"] / r["wall_ms"] if r["wall_ms"] else 0.0
        print(f"| {name} | {r['calls']} | {r['wall']:.2f} | {r['self']:.2f} | {r['jobs']} | "
              f"{r['stages']} | {r['tasks']} | {idle:.2f} | {r['shuffle'] / 1024:.0f} |")
    layer = metrics.per_layer(traced)
    untraced_s = plain["timed"]["timed_s"]
    print(f"\nTimed part: untraced {untraced_s:.2f} s, traced {layer['trace.timed_s']:.2f} s "
          f"(tracing overhead {layer['trace.timed_s'] / untraced_s - 1:+.1%}). Self times of "
          f"the spans on the blocking path sum to {layer['trace.self_sum_s']:.2f} s, "
          f"{layer['trace.self_sum_s'] / untraced_s:.1%} of the untraced wall; the harness's "
          f"own share is {layer['trace.harness_self_s']:.3f} s. "
          f"driver.no_job_share = {layer['driver.no_job_share']:.2f}. Outputs correct: "
          f"{plain_line['correct'] and traced_line['correct']}.\n")


if __name__ == "__main__":
    main()
