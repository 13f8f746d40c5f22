#!/usr/bin/env python
"""Single-core kernel-engine profiler — no Spark, no host-throttle noise.

Replays the exact per-series evaluation loop the Arrow workers run
(`extract.compute_series_features`: a compiled plan run by `_run_series`)
on a deterministic corpus shaped like `sources/synthetic.tokens_corpus`
(lengths 16..2048, integral values) and reports

  * ms/series (the controlled engine-speed number BASELINE.md tracks), and
  * per-kernel cumulative milliseconds, sorted — the hotspot list.

Usage:  python scripts/profile_kernels.py [n_docs] [family]
        family in {efficient, comprehensive, minimal}; default efficient.

The per-kernel split times each plan entry separately (same order, same
inputs) — the sum is within noise of the fused loop it mirrors.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def corpus(n_docs: int, seed: int = 7) -> list[np.ndarray]:
    """Deterministic (doc length, values) population mirroring
    tokens_corpus: lengths log-uniform-ish in [16, 2048], integral token
    ids — the value regime of perfbench's tokens_extract workload."""
    rng = np.random.RandomState(seed)
    lengths = np.exp(
        rng.uniform(np.log(16), np.log(2048), size=n_docs)
    ).astype(int)
    return [
        rng.randint(0, 50_000, size=n).astype(np.float64) for n in lengths
    ]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    family = sys.argv[2] if len(sys.argv) > 2 else "efficient"

    from tsfresh_spark import settings as S
    from tsfresh_spark.extract import _CompiledPlan, compute_series_features

    fc = {
        "efficient": S.efficient_settings,
        "comprehensive": S.comprehensive_settings,
        "minimal": S.minimal_settings,
    }[family]()

    series = corpus(n_docs)
    total_values = int(sum(len(s) for s in series))

    # warm: numpy/pandas import costs, JIT-ish caches
    for s in series[:16]:
        for _ in compute_series_features(s, "t", fc):
            pass

    # fused end-to-end pass — the headline number
    t0 = time.perf_counter()
    n_feat = 0
    for s in series:
        for _ in compute_series_features(s, "t", fc):
            n_feat += 1
    wall = time.perf_counter() - t0
    print(
        f"{family}: {n_docs} series, {total_values} values, "
        f"{n_feat} features -> {wall:.2f} s  "
        f"({1000 * wall / n_docs:.3f} ms/series, "
        f"{total_values / wall:,.0f} tokens/s/core)"
    )

    # per-entry split on a subsample (keeps the split pass ~= one full pass)
    sub = series[:: max(1, n_docs // 500)]
    plan = _CompiledPlan(fc, "t")
    per: dict[str, float] = {}
    for s in sub:
        pds = pd.Series(s)
        for name, info, parameter_list, prefix, names, batched in plan.entries:
            if info.requires_timestamps:
                continue  # the fused loop skips these on a RangeIndex too
            x = pds if info.input == "series" else s
            t0 = time.perf_counter()
            if info.fctype == "combiner":
                for _ in info.func(x, param=parameter_list):
                    pass
            elif parameter_list:
                if batched is not None:
                    for _ in batched(x, parameter_list):
                        pass
                else:
                    for p in parameter_list:
                        info.func(x, **p)
            else:
                info.func(x)
            per[name] = per.get(name, 0.0) + time.perf_counter() - t0
    split_total = sum(per.values())
    print(f"\nper-kernel split over {len(sub)} series "
          f"(split wall {split_total:.2f} s):")
    for name, sec in sorted(per.items(), key=lambda kv: -kv[1])[:25]:
        print(f"  {1000 * sec / len(sub):9.3f} ms/series  "
              f"{100 * sec / split_total:5.1f}%  {name}")


if __name__ == "__main__":
    main()
