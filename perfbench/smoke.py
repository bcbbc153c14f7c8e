#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny instance (scale 0.001) of
each workload, lake_query included (it is run by hand, see README.md):

  * an end-to-end run and a traced run each emit exactly the metrics that
    BENCHMARK.json declares, with the declared units, and pass their checks;
  * a run told to compare one op against a deliberately wrong expected
    result reports it as failed (correct = false, failed >= 1).

Usage: python3 perfbench/smoke.py   (exit code 0 when every check holds)
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = ["python3", str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--scale", "0.001"]
    if corrupt:
        cmd.append("--corrupt-expected")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[2:])} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in ["lake_query", "lake_write", "pipeline"]:
        for trace in (0, 1):
            try:
                r = run(w, trace)
            except AssertionError as e:
                problems.append(str(e))
                continue
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(r)}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                wrong = sorted(k for k in got if k in declared[trace] and got[k] != declared[trace][k])
                problems.append(f"{w} trace={trace}: missing {missing}, extra {extra}, wrong units {wrong}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={r['correct']} "
                                f"attempted={r['attempted']} failed={r['failed']}")
            print(f"{w} trace={trace}: {r['attempted']} ops, {len(got)} metrics", flush=True)
        try:
            r = run(w, 0, corrupt=True)
            if r["correct"] or r["failed"] < 1:
                problems.append(f"{w}: a wrong expected result was not reported as failed")
            print(f"{w} wrong expectation: correct={r['correct']} failed={r['failed']}", flush=True)
        except AssertionError as e:
            problems.append(str(e))
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
