#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end
metric's median and quartile spread (IQR / median), the statistic the
benchmark's bounds are judged against.

    python3 perfbench/spread.py --workloads market_serve --seeds 1 2 3 4 5
    python3 perfbench/spread.py --seeds $(seq 1 10) --out perfbench/results/record.json

Runs one at a time from the repository root; ``--cores`` is passed on
to ``run.py`` (``--cores 1`` gives the single-threaded reference).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int, cores: int | None, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["summary"] = lines[-2] if len(lines) > 1 else ""
    return out


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--cores", type=int)
    p.add_argument("--out")
    args = p.parse_args()
    bench = spec()
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"cores": args.cores or len(os.sched_getaffinity(0)),
              "seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        runs = [run_once(wl, s, bench["run_seconds"], args.cores) for s in args.seeds]
        for s, r in zip(args.seeds, runs):
            print(f"{wl} seed={s} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}  {r['summary']}", flush=True)
        rows = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            rows[name] = {
                "median": statistics.median(vals),
                "spread": spread(vals) if len(vals) >= 2 else 0.0,
                "bound": bounds[name],
                "values": vals,
            }
            print(f"  {name:<12} median={rows[name]['median']:.4g} "
                  f"spread={rows[name]['spread']:.3f} bound={bounds[name]}", flush=True)
        record["workloads"][wl] = {
            "seeds": args.seeds,
            "wall_s": [r["wall_s"] for r in runs],
            "correct": all(r["correct"] for r in runs),
            "metrics": rows,
            "summaries": [r["summary"] for r in runs],
        }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
