"""Repeat benchmark runs over seeds and report each metric's spread.

    python3 perfbench/sweep.py --workloads analytics curation ingest \\
        --seeds 1-10 --seconds 10 [--trace 0] [--out sweep.json]

For every workload and metric it prints the median of the runs and the
quartile spread (Q3 - Q1 of ``statistics.quantiles(values, n=4)``) as a
share of the median, plus each run's wall time. ``--out`` writes that
summary and every run's result line as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies (user nice system idle iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    runs: dict[str, list[dict]] = {}
    for w in args.workloads:
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                   str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t0, cpu0 = time.perf_counter(), cpu_times()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            delta = [b - a for a, b in zip(cpu0, cpu_times())]
            # share of CPU time the hypervisor gave to other guests
            steal = 100.0 * delta[7] / max(1, sum(delta))
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            res = json.loads(lines[-1])
            res["wall_s"] = wall
            res["steal_pct"] = steal
            res["summary"] = lines[-2] if len(lines) > 1 else ""
            runs.setdefault(w, []).append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {seed}: wall {wall:.1f}s steal {steal:.1f}% correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    print()
    for w, rs in runs.items():
        walls = [r["wall_s"] for r in rs]
        print(f"{w}: {len(rs)} runs, wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for name in rs[0]["metrics"]:
            med, sp = spread([r["metrics"][name]["value"] for r in rs])
            print(f"  {name:40s} median {med:12.5g}  IQR/median {sp:.4f}")
    if args.out:
        summary = {
            w: {
                name: dict(zip(("median", "spread"),
                               spread([r["metrics"][name]["value"] for r in rs])),
                           unit=rs[0]["metrics"][name]["unit"])
                for name in rs[0]["metrics"]
            }
            for w, rs in runs.items()
        }
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
