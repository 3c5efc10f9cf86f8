"""Build file of the benchmark: compiles graft (`src/main/scala`) and the
scenario driver (`perfbench/scala`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/`. A build is skipped when the
hash of every source file matches the last one.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
SCALA_VERSION = "2.13.17"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))
    return main, bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    return [os.path.join(BUILD, "classes"), os.path.join(JARS, "*")]


def build():
    """Compile if the sources changed; return the runtime class path."""
    main, bench = sources()
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    stamp = os.path.join(BUILD, "stamp")
    want = digest(main + bench)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classpath()
    out = os.path.join(BUILD, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                        for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", os.path.join(JARS, "*")]
    r = subprocess.run(cmd + main + bench, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(want)
    return classpath()


if __name__ == "__main__":
    print(":".join(build()))
