#!/usr/bin/env python
"""spark-submit entry point: run the rollup tier cascade over a points or
tokens table — the north-rule deployment shape.

    python scripts/package.py
    spark-submit --master <cluster> --py-files dist/tsfresh_spark.zip \
        scripts/job_rollup.py --input <parquet> --output <path> \
        --job-id daily-2026-08-16 --settings efficient

Input schemas accepted:
  points: (doc_id string, source string, ts long|timestamp, value double)
  tokens: (doc_id string, tokens array<int>, n_tok int, source string) —
          positions become the time axis.

Re-running with the same --job-id resumes from the last committed tier.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--job-id", required=True)
    ap.add_argument(
        "--settings", choices=["comprehensive", "efficient", "minimal"],
        default="efficient",
    )
    ap.add_argument("--base-step-seconds", type=int, default=60)
    ap.add_argument("--gap-method", choices=["ffill", "linear"], default="ffill")
    ap.add_argument("--id-col", default="doc_id", help="series id column")
    ap.add_argument("--kind-col", default="source", help="series kind column")
    ap.add_argument("--ts-col", default="ts")
    ap.add_argument("--value-col", default="value")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # plain builder: master/conf come from spark-submit
    spark = SparkSession.builder.appName("tsfresh_spark-rollup").getOrCreate()

    from tsfresh_spark import settings as settings_mod
    from tsfresh_spark.operators.rollup import RollupEngine

    df = spark.read.parquet(args.input)
    idc, kc = args.id_col, args.kind_col
    if "tokens" in df.columns:
        points = df.select(
            idc,
            kc,
            F.posexplode("tokens").alias("ts", "value"),
        ).select(
            idc, kc, F.col("ts").cast("long"),
            F.col("value").cast("double"),
        )
    else:
        points = df.select(
            idc,
            kc,
            F.col(args.ts_col).cast("timestamp").cast("long").alias("ts"),
            F.col(args.value_col).cast("double").alias("value"),
        )

    eng = RollupEngine(
        spark,
        args.output,
        settings=getattr(settings_mod, f"{args.settings}_settings")(),
        id_cols=(idc, kc),
        base_step_seconds=args.base_step_seconds,
        gap_method=args.gap_method,
    )
    paths = eng.run(points, job_id=args.job_id)
    summary = {
        tier: {
            "path": path,
            "committed": tier in eng.manifest.committed_tiers(args.job_id),
            "partitions": len(eng.manifest.tier_metrics(args.job_id, tier)),
        }
        for tier, path in paths.items()
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
