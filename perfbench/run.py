#!/usr/bin/env python3
"""Layered lakehouse benchmark: one seeded workload per run, end to end or traced.

Usage:
  python3 perfbench/run.py --workload lake_query|lake_write|pipeline \
      --seed N --seconds S --trace 0|1 [--scale SF]

Builds the program and the harness (perfbench/build.py), runs the workload in
one JVM on local[<cores>], checks every op's output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, and the spans and per-class split are kept under
.bench_run/traces/. Every result of the pipeline workload is also checked
here against DuckDB (twins.py). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import twins  # noqa: E402

ROOT = build.ROOT
DEFAULT_SCALE = 0.01
LIMIT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 2


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["lake_query", "lake_write", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE)
    # for the smoke test: checks one op against a deliberately wrong result
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    started = time.monotonic()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_run" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    n = cores()
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-Duser.timezone=UTC",
              f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
              "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", str(a.scale), "--cores", str(n),
              "--out", str(out), "--work", str(work),
              "--corrupt-expected", "1" if a.corrupt_expected else "0"])
    budget = LIMIT_S - (time.monotonic() - started)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=max(budget, 30))
    except subprocess.TimeoutExpired:
        proc.kill()
        log, _ = proc.communicate()
        print(log[-3000:], file=sys.stderr)
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    for line in log.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line[:200]:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not out.exists():
        print(log[-4000:], file=sys.stderr)
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    res = json.loads(out.read_text())

    if a.workload == "pipeline":
        t0 = time.monotonic()
        bad = twins.check(work / "pipeline-results", corrupt=a.corrupt_expected)
        res["info"]["twins_check_s"] = {"value": time.monotonic() - t0, "unit": "s"}
        for op, why in sorted(bad.items()):
            print(f"perfbench: op {op} is wrong: {why}", file=sys.stderr)
        res["failed"] += len(bad)

    if res["failed"]:
        res["correct"] = False
    res["info"]["failed_share"]["value"] = res["failed"] / max(res["attempted"], 1)
    kept = ROOT / ".bench_run" / "traces"
    kept.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for f in work.glob("result.json*"):
        shutil.copy(f, kept / f.name.replace("result.json", stem + ".json"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"# workload={a.workload} seed={a.seed} trace={a.trace} scale={a.scale} "
          f"cores={n} setup_runs_s={res['setup_runs_s']}")
    untraced = kept / f"{a.workload}-seed{a.seed}-trace0.json"
    if a.trace and untraced.exists():
        # tracing overhead: this traced run against the untraced run of the
        # same workload and seed in this checkout
        base = json.loads(untraced.read_text())["end_to_end"]
        print(f"# trace.overhead_gmean_latency_ms "
              f"{res['metrics']['trace.gmean_latency_ms']['value'] - base['gmean_latency_ms']['value']:.4f} ms")
        print(f"# trace.overhead_ops_per_s "
              f"{res['metrics']['trace.ops_per_s']['value'] - base['ops_per_s']['value']:.4f} 1/s")
    for k, m in res["end_to_end"].items():
        print(f"# {k} {m['value']:.4f} {m['unit']}")
    for k, m in res["info"].items():
        print(f"# {k} {m['value']:.4f} {m['unit']}".rstrip())
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
