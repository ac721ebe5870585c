"""Run the benchmark over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload delta_upsert --seeds 1-10 --seconds 6

Runs ``perfbench/run.py`` once per seed, one run at a time, from the current
directory (the repository root). Prints one line per run, then per metric
its median over the runs and its spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. ``--json`` also writes the raw values to a file.
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


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="6")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--json", help="write the raw per-run values here")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls, bad = [], 0
    for seed in _seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", args.seconds,
                            "--trace", args.trace], capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            bad += 1
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            continue
        out = json.loads(lines[-1])
        if not out["correct"]:
            bad += 1
            print(f"seed {seed}: incorrect: {lines[-2][:1500]}", flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        shown = {k: round(v["value"], 4) for k, v in out["metrics"].items()}
        print(f"seed {seed} wall {walls[-1]:.1f}s {shown}", flush=True)
    print(f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s; "
          f"{bad} bad runs")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, _q2, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{k:24s} median {med:14.4f}  spread {(q3 - q1) / med if med else 0.0:.3f}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "values": values, "walls": walls}, fh)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
