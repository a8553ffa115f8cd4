#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(perfbench.Main), which generates the workload's inputs from the seed,
sets up, measures for the given seconds and checks the outputs. This
script samples /proc/loadavg around the run, prints every metric by name
with its unit, and prints the result JSON as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; a traced run also writes its spans
to .bench_build/results/. The exit code is not 0 when the program is
missing, the build fails, or the run fails or times out.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HOME = pathlib.Path(__file__).resolve().parent
ROOT = HOME.parent
BUILD = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main"
CLASSES = HOME / "target" / "scala-2.13" / "classes"
STAMP = HOME / "target" / "perfbench.stamp"
WORKLOADS = ("ingest_backlog", "query_mix")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, to tell when to rebuild."""
    h = hashlib.sha256()
    files = [HOME / "build.sbt", HOME / "project" / "build.properties"]
    for top in (PROGRAM, HOME / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    log("compiling the program and the benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HOME, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit(f"[perfbench] build failed (exit {r.returncode})")
    STAMP.write_text(digest)
    log(f"build took {time.time() - t0:.1f} s")


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-goldens", action="store_true",
                    help="query_mix: write perfbench/goldens.json from this run's results")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if not (PROGRAM / "scala").is_dir():
        sys.exit(f"[perfbench] no program sources under {PROGRAM.relative_to(ROOT)}; "
                 "run from the root of a checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not pathlib.Path(spark_home, "jars").is_dir():
        sys.exit("[perfbench] SPARK_HOME must point at the Spark installation")
    build()

    BUILD.mkdir(exist_ok=True)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    out.unlink(missing_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{CLASSES}{os.pathsep}{pathlib.Path(spark_home, 'jars')}/*",
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(os.cpu_count()),
           "--work", str(work), "--home", str(HOME), "--out", str(out)]
    if a.write_goldens:
        cmd += ["--write-goldens", str(HOME / "goldens.json")]

    load0 = loadavg()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1 = loadavg()
    if code != 0 or not out.exists():
        sys.exit(f"[perfbench] run failed ({'timed out' if code is None else f'exit {code}'})")

    r = json.loads(out.read_text())
    got = dict(r["metrics"])
    got["host.load1.start"] = {"value": load0, "unit": "load"}
    got["host.load1.end"] = {"value": load1, "unit": "load"}
    missing = [n for n in names if n not in got]
    if missing:
        sys.exit(f"[perfbench] run did not measure: {', '.join(missing)}")
    for line in r["lines"]:
        print(line)
    print(f"host load1 start={load0:.2f} end={load1:.2f} cores={os.cpu_count()}")
    print(f"failed_frac {r['failed'] / r['attempted']:.6g} ratio "
          f"({r['failed']} of {r['attempted']} operations)")
    for n in names:
        print(f"metric {n} {got[n]['value']:.6g} {got[n]['unit']}")
    result = {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {n: got[n] for n in names},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
