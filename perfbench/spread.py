"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload legis_refresh --seeds 1-10 [--trace 0]

For every metric it prints the median and (Q3 - Q1) / median over the
runs, the quartiles being ``statistics.quantiles(values, n=4)``, plus
each run's wall time. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

from stats import quartile_spread

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m.get("bound") for m in BENCH["end_to_end"]}


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="append each run's full standard output to this file")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*BENCH["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(BENCH["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if args.log:
            with open(args.log, "a") as f:
                f.write(proc.stdout + proc.stderr[-2000:] * (proc.returncode != 0))
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last)
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
                         if k in BOUNDS)
        print(f"seed {seed}: exit {proc.returncode} wall {walls[-1]:.1f}s "
              f"correct {res.get('correct')} failed {res.get('failed')} {shown}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = quartile_spread(vs) if len(vs) >= 2 and med else float("nan")
        print(f"{k:40s} median {med:12.4f} spread {spread:7.4f} bound {BOUNDS.get(k)}")
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
