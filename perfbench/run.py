"""Scenario benchmark of graft: one workload per run.

    python3 perfbench/run.py --workload rag_ingest_serve --seed 1 --seconds 10 --trace 0

Builds graft and the scenario driver from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
driver in a fresh warehouse under .bench_build/, checks the outputs, and
prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> (input scale, read rounds every run serves whatever --seconds says)
WORKLOADS = {"rag_ingest_serve_maintain": ("rag", 2), "curate_batch": ("curate", 1)}
DEFAULT_SEED = 1
HELD_OUT_SEED = 1009
SETUPS = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_equal(a, b, rel=1e-9):
    """Row-set equality of two frames, floats within a relative tolerance."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False, f"shape {sorted(a.columns)}x{len(a)} vs {sorted(b.columns)}x{len(b)}"
    a, b = canon(a), canon(b)
    def missing(u):
        return u is None or (isinstance(u, float) and math.isnan(u))

    for c in a.columns:
        for u, v in zip(a[c].tolist(), b[c].tolist()):
            if missing(u) or missing(v):
                same = missing(u) and missing(v)
            elif isinstance(u, float) or isinstance(v, float):
                same = math.isclose(float(u), float(v), rel_tol=rel, abs_tol=rel)
            else:
                same = u == v
            if not same:
                return False, f"col {c}: {u!r} != {v!r}"
    return True, ""


def oracle_checks(run, data_dir):
    """Compare each result the driver left against its DuckDB recompute
    over the generated inputs."""
    import duckdb
    import pandas as pd
    out = []
    if not run["oracles"]:
        return out
    con = duckdb.connect()
    for t in gen.SHIFTED:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for o in run["oracles"]:
        try:
            ok, detail = frames_equal(pd.read_parquet(o["path"]), con.execute(o["sql"]).df())
        except Exception as e:  # a failing recompute is a failed check
            ok, detail = False, repr(e)
        out.append({"name": o["name"] + ".oracle", "ok": ok, "detail": detail})
    con.close()
    return out


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    classpath = build.build()
    nproc = os.cpu_count() or 1
    # one core stays free for the driver thread, the JIT and the GC: on a
    # 4-core machine runs spread less than with every core running tasks
    cpus = max(1, min(3, nproc - 1))
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "checks"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        data = os.path.join(run_dir, "data")
        scale, rounds = WORKLOADS[a.workload]
        rows = gen.generate(data, a.seed, scale)
        out = os.path.join(run_dir, "run.json")
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-XX:+UseSerialGC", "-Xmx1g", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                  "-cp", ":".join(classpath), "graftbench.Harness",
                  f"workload={a.workload}", f"data={data}", f"out={out}",
                  f"checks={os.path.join(run_dir, 'checks')}",
                  f"warehouse={os.path.join(run_dir, 'warehouse')}",
                  f"local={os.path.join(run_dir, 'local')}",
                  f"seconds={a.seconds}", f"rounds={rounds}", f"setups={SETUPS}",
                  f"trace={a.trace}", f"seed={a.seed}", f"cpus={cpus}"])
        t0 = time.time()
        with open(os.path.join(run_dir, "driver.log"), "w") as log:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "driver.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            raise SystemExit(f"perfbench: driver exited with {p.returncode}")
        with open(out) as f:
            run = json.load(f)
        checks = run["checks"] + oracle_checks(run, data)
        ops = [o for o in run["ops"] if o["timed"]]
        attempted = len(ops) + len(checks)
        failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
        values = metrics.per_layer(run) if a.trace else metrics.end_to_end(run)
        units = {m["name"]: m["unit"] for m in spec()["per_layer" if a.trace else "end_to_end"]}
        detail = {
            "workload": a.workload, "seed": a.seed, "rows": rows, "trace": a.trace,
            "nproc": nproc, "cpus": cpus, "loadavg": loadavg(),
            "run_wall_s": time.time() - t0, "timed_s": run["timed"]["timed_s"],
            "setup_s_all": run["setup_s"], "read_tail": metrics.read_tail(run),
            "failed_ops_frac": failed / attempted,
            "ops": [(o["name"], round(o["ms"], 1), o["ok"]) for o in ops],
            "checks": checks,
        }
        if a.keep:
            detail["run_file"] = out
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
