#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 graftbench/run.py --workload upload --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt and writes the
analytics tables (once per source state; classpath and tables are cached
under graftbench/work/), runs one workload
in a fresh JVM and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are the per-layer metrics of a run with the benchmark's listeners
attached, and trace.overhead_s is its op_s minus the median op_s of the
untraced runs made in this checkout (one is made first if there is none).

The op count of each workload is fixed in the benchmark (never a time
budget); --seconds is accepted for the calling convention and recorded.
Exits non-zero, printing no result, if the build fails, and non-zero
after printing the result if any op failed or any output was wrong.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
TABLES = WORK / "tables"
WORKLOADS = ("upload", "analytics")

# The same JVM flags on both sides of any comparison; min heap = max heap.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
             "-Dspark.callstack.depth=200"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project",
             HERE / "src" / "main", HERE / "build.sbt", HERE / "project"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts
            and "project" not in p.relative_to(r).parts[:-1])
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    WORK.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.exists() else ""))
    log("building engine and benchmark with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export graftbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = out.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or "graftbench" not in cp or " " in cp:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    # The analytics tables depend on no run seed: write them once per build.
    shutil.rmtree(TABLES, ignore_errors=True)
    run_jvm(cp, "analytics", 0, 0, extra=["--generate", str(TABLES)])
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, workload, seed, trace, history=None, extra=()):
    """One workload run in a fresh JVM; returns its RESULT object. The
    op_s of a correct run is appended to `history`."""
    work = WORK / "runs" / f"{workload}-{seed}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graftbench.Main", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace), "--work", str(work),
           "--tables", str(TABLES),
           "--digests", str(HERE / "expected_digests.json"), *extra]
    try:
        out = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, timeout=170)
    finally:
        spans = work / f"spans-{workload}.jsonl"
        if spans.exists():
            (WORK / "traces").mkdir(exist_ok=True)
            shutil.copy(spans, WORK / "traces" / f"{workload}-{seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    sys.stderr.write("".join(
        l + "\n" for l in out.stderr.splitlines() if "[graftbench]" in l
        or (result is None or not result["correct"]) and "Exception" in l))
    if result is None:
        raise SystemExit(f"{workload} run printed no result "
                         f"(exit {out.returncode})")
    if history and result["correct"]:
        with open(history, "a") as f:
            f.write(f"{result['metrics']['op_s']['value']}\n")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build()
    # op_s of every correct untraced run in this checkout, per workload:
    # the reference a traced run's overhead is measured against.
    history = WORK / f"untraced-op_s-{args.workload}.txt"
    if args.trace:
        if not history.exists():
            run_jvm(cp, args.workload, args.seed, 0, history)
        result = run_jvm(cp, args.workload, args.seed, 1)
        m = result["metrics"]
        if history.exists() and "op_s" in m:
            reference = statistics.median(
                float(x) for x in history.read_text().split())
            m["trace.overhead_s"] = {"value": m["op_s"]["value"] - reference,
                                     "unit": "s"}
        names = [x["name"] for x in spec["per_layer"]]
    else:
        result = run_jvm(cp, args.workload, args.seed, 0, history)
        names = [x["name"] for x in spec["end_to_end"]]
    have = result["metrics"]
    missing = [n for n in names if n not in have]
    if missing:
        log(f"metrics not measured: {missing}")
        result["correct"] = False
    out = {"correct": result["correct"], "attempted": result["attempted"],
           "failed": result["failed"],
           "metrics": {n: have[n] for n in names if n in have}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
