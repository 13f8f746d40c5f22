#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median, quartiles
and spread (inter-quartile distance ÷ median, from
``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload rollup_cascade --seeds 1-10 [--trace 0] [--out FILE]

Runs are sequential (never two Spark sessions at once), from the checkout
root, with ``run_seconds`` from BENCHMARK.json.  ``--out`` appends one JSON
line per run and one summary line per workload.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]

    def emit(record: dict) -> None:
        line = json.dumps(record)
        print(line, flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(line + "\n")

    for workload in args.workload:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            start = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            emit({"workload": workload, "seed": seed, "rc": proc.returncode,
                  "wall_s": round(time.perf_counter() - start, 1), "result": result})
            for name, m in (result or {}).get("metrics", {}).items():
                values.setdefault(name, []).append(m["value"])
        summary = {}
        for name, xs in values.items():
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}
        emit({"workload": workload, "runs": len(args.seeds), "summary": summary})
    return 0


if __name__ == "__main__":
    sys.exit(main())
