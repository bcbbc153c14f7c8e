#!/usr/bin/env python3
"""Interleaved A/B pairs of one perfbench workload across two checkouts.

Usage:
  python3 tools/ab_pairs.py --parent DIR --change DIR --workload W \
      --seeds 1 2 3 ... --seconds S [--trace 0|1] [--log-dir DIR]

For each seed it runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace T` once in each checkout, alternating which side goes
first (parent first on even pair indexes, change first on odd ones), so
drifting host load falls on both sides alike. For every metric of the last
JSON line it prints the median [q1, q3] of each side and how many pairs the
change won and lost ("better" per BENCHMARK.json of the change checkout;
equal values count for neither; figures of the `#` lines are listed too),
then the failed ops of each side. Every run that exits non-zero is
printed with the tail of its log, and the tool exits 1 if any run failed.
It only calls perfbench; it changes nothing under perfbench/.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout: Path, workload: str, seed: int, seconds: float, trace: int,
        log: Path) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    with open(log, "w") as out:
        proc = subprocess.run(cmd, cwd=checkout, stdout=out, stderr=subprocess.STDOUT)
    lines = log.read_text().splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except json.JSONDecodeError:
                pass
            break
    if result is None:
        return proc.returncode, None
    metrics = {k: v["value"] if isinstance(v, dict) else v
               for k, v in result.get("metrics", {}).items()}
    # the "# name value unit" lines carry the per-class figures too
    for line in lines:
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "#" and parts[1] not in metrics:
            try:
                metrics[parts[1]] = float(parts[2])
            except ValueError:
                pass
    result["metrics"] = metrics
    return proc.returncode, result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log-dir", type=Path, default=Path("ab_logs"))
    a = ap.parse_args()
    a.log_dir.mkdir(parents=True, exist_ok=True)

    better = {m["name"]: m["better"]
              for key in ("end_to_end", "per_layer")
              for m in json.loads((a.change / "BENCHMARK.json").read_text()).get(key, [])}
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    results: dict[str, list[dict | None]] = {"parent": [], "change": []}
    failures = []
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            log = a.log_dir / f"{a.workload}-{side}-seed{seed}.log"
            code, res = run(sides[side], a.workload, seed, a.seconds, a.trace, log)
            print(f"pair {i + 1} seed {seed} {side}: exit {code}", flush=True)
            if code != 0:
                failures.append((side, seed, code, log))
            results[side].append(res)

    metrics = sorted({k for rs in results.values() for r in rs if r
                      for k in r.get("metrics", {})})
    print(f"\n{a.workload}: {len(a.seeds)} pairs")
    print(f"{'metric':40s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'wins':>5s} {'losses':>6s}")
    for m in metrics:
        pv = [r["metrics"][m] for r in results["parent"] if r and m in r["metrics"]]
        cv = [r["metrics"][m] for r in results["change"] if r and m in r["metrics"]]
        if not pv or not cv:
            continue
        sign = 1 if better.get(m, "lower") == "higher" else -1
        wins = losses = 0
        for p, c in zip(results["parent"], results["change"]):
            if not p or not c or m not in p["metrics"] or m not in c["metrics"]:
                continue
            d = sign * (c["metrics"][m] - p["metrics"][m])
            wins += d > 0
            losses += d < 0
        fmt = "{:.4g} [{:.4g}, {:.4g}]"
        print(f"{m:40s} {fmt.format(*quartiles(pv)):>30s} {fmt.format(*quartiles(cv)):>30s}"
              f" {wins:5d} {losses:6d}")
    for side in ("parent", "change"):
        failed = [r.get("failed", 0) if r else None for r in results[side]]
        print(f"failed ops, {side}: {failed}")
    for side, seed, code, log in failures:
        tail = "\n".join(log.read_text().splitlines()[-30:])
        print(f"\n{side} seed {seed} exited {code}; log {log}:\n{tail}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
