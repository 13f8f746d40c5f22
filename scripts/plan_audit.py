#!/usr/bin/env python
"""Physical-plan audit: capture ``explain("formatted")`` for the
representative queries and assert the plan properties the 100-TB design
depends on.  Writes PLAN_AUDIT.md (checked in — the review artifact) and
exits non-zero if any contract regresses.

Run: ``python scripts/plan_audit.py`` (uses sf0.01; plans are shape-stable
across SFs — only statistics change).
"""

from __future__ import annotations

import itertools
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def headline(plan: str, max_ops: int = 40) -> str:
    """The operator tree only (drop the per-node detail section)."""
    head = plan.split("\n\n")[0]
    lines = head.splitlines()
    return "\n".join(lines[:max_ops])


def _nodes(plan: str) -> list[tuple[int, str, str]]:
    """(depth, operator, Exchange arguments or "") of every node in a
    formatted plan's tree, top down."""
    head, _, details = plan.partition("\n\n")
    args = dict(re.findall(r"\((\d+)\) Exchange\n(?:.*\n)*?Arguments: (.*)", details))
    nodes = []
    for line in head.splitlines():
        m = re.match(r"^([ :+\-]*)(\w+) \((\d+)\)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2), args.get(m.group(3), "")))
    return nodes


def _below(nodes: list, i: int) -> list:
    """The nodes of the subtree under ``nodes[i]``, top down."""
    return list(itertools.takewhile(lambda n: n[0] > nodes[i][0], nodes[i + 1 :]))


def _feeds(plan: str, op: str) -> list[str]:
    """For each ``op`` node, the arguments of the first Exchange below it
    ("" when none)."""
    nodes = _nodes(plan)
    return [
        next((a for _, n, a in _below(nodes, i) if n == "Exchange"), "")
        for i, (_, name, _) in enumerate(nodes)
        if name == op
    ]


def _range_above(plan: str, op: str) -> bool:
    """Whether a range-partitioned Exchange sits anywhere above an ``op``."""
    nodes = _nodes(plan)
    return any(
        n == op
        for i, (_, name, arg) in enumerate(nodes)
        if name == "Exchange" and arg.startswith("rangepartitioning")
        for _, n, _ in _below(nodes, i)
    )


def run_audit(
    spark, sf_dir: str = SF_DIR, write_md: bool = True
) -> list[str]:
    """Audit every plan contract against ``spark``; returns the list of
    failed contracts (empty == all green).  ``write_md`` regenerates the
    checked-in PLAN_AUDIT.md — the CLI path does, the in-suite test
    (tests/test_plan_audit.py) only asserts."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em

    sections = []
    failures = []

    def audit(name, df, contracts, note):
        plan = formatted(df)
        for desc, pred in contracts:
            ok = pred(plan)
            if not ok:
                failures.append(f"{name}: {desc}")
        checks = "\n".join(
            f"- {'✅' if pred(plan) else '❌'} {desc}" for desc, pred in contracts
        )
        sections.append(
            f"## {name}\n\n{note}\n\n{checks}\n\n```\n{headline(plan)}\n```\n"
        )

    # 1. shuffle-free tokens extraction (the flagship path).  The tokens
    # table is materialized first (as any real deployment stores it) so the
    # audit sees the extraction plan, not the one-off table-build shuffle.
    from tsfresh_spark.extract import extract_features_tokens
    from tsfresh_spark.settings import efficient_settings, minimal_settings
    from tsfresh_spark.sources.tables import events_tokens

    tok_path = "/tmp/plan_audit_tokens.parquet"
    events_tokens(spark, sf_dir).write.mode("overwrite").parquet(tok_path)
    toks = spark.read.parquet(tok_path)
    audit(
        "extract_features_tokens (kernels, map output)",
        extract_features_tokens(toks, efficient_settings(), output="map"),
        [
            ("no Exchange anywhere (narrow map)", lambda p: "Exchange" not in p),
            ("single Arrow stage (MapInArrow)", lambda p: p.count("MapInArrow") <= 2),
        ],
        "The north-star workload: each row is a complete series, so feature "
        "extraction is a narrow Arrow map — no shuffle at ANY corpus size.",
    )

    # 2. grouped long-format extraction: exactly one shuffle, pinned
    from tsfresh_spark.extract import extract_features_long

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("id"),
        F.col("event_type").alias("kind"),
        F.col("ts").alias("time"),
        F.col("value"),
    )
    audit(
        "extract_features_long",
        extract_features_long(ev, minimal_settings()),
        [
            ("exactly one Exchange (the group shuffle)", lambda p: len(re.findall(r"\bExchange\b", p.split("\n\n")[0])) == 1),
            (
                "explicit round-robin/hash repartition pins the parallelism (AQE byte-coalescing would starve the compute-bound kernel stage)",
                lambda p: "REPARTITION_BY_NUM" in p or "RoundRobinPartitioning" in p or "hashpartitioning" in p,
            ),
            (
                "series collected by an aggregate feeding MapInArrow, no FlatMapGroupsInPandas",
                lambda p: "ObjectHashAggregate" in p and "MapInArrow" in p and "FlatMapGroupsInPandas" not in p,
            ),
        ],
        "The reference's own Spark binding groups the same way: one shuffle "
        "co-locates each (id, kind) series, an aggregate collects it into "
        "one sorted array, and the shared Arrow executor evaluates the "
        "arrays.  The shuffle is pinned so AQE cannot coalesce the "
        "compute-bound kernel stage onto 2 cores.",
    )

    # 3. scan hygiene: filter + projection pushed into the parquet scan of
    # the events table, the input of the long path and the rollup tiers
    ev_scan = spark.read.parquet(f"{sf_dir}/events.parquet")
    pruned = ev_scan.filter(F.col("user_id") < 100).select("user_id", "value")
    audit(
        "events scan (filter + projection)",
        pruned,
        [
            ("filter pushed to scan", lambda p: "PushedFilters: [IsNotNull(user_id), LessThan(user_id,100)]" in p),
            ("schema pruned to 2 columns", lambda p: "ReadSchema: struct<user_id:bigint,value:double>" in p),
        ],
        "Catalyst pushdown sanity on the raw table.",
    )

    # 4. rollup cascade: one explicit-count range exchange feeds one window map
    from tsfresh_spark.operators.rollup import RollupEngine

    eng = RollupEngine(
        spark,
        "/tmp/plan_audit_unused",
        settings={"length": None, "mean": None},
        id_cols=("user_id", "event_type"),
        base_step_seconds=3600,
    )
    pts = em._events_long(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("ts"),
        F.col("v").cast("double").alias("value"),
    )
    audit(
        "RollupEngine.cascade (every tier in one window map)",
        eng.cascade(pts),
        [
            (
                "exactly one Exchange end-to-end",
                lambda p: len(re.findall(r"\bExchange\b", p.split("\n\n")[0])) == 1,
            ),
            (
                "exactly one window map (MapInArrow)",
                lambda p: [n for _, n, _ in _nodes(p)].count("MapInArrow") == 1,
            ),
            (
                "an explicit-count range Exchange on the series id feeds the map",
                lambda p: all(
                    a.startswith("rangepartitioning(user_id") and "REPARTITION_BY_NUM" in a
                    for a in _feeds(p, "MapInArrow")
                ),
            ),
            (
                "no range Exchange above the window map (its sample job would re-run the map)",
                lambda p: not _range_above(p, "MapInArrow"),
            ),
            (
                "no pandas map and no Arrow scalar UDF",
                lambda p: not any(
                    op in p for op in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython")
                ),
            ),
        ],
        "The whole cascade = a range Exchange on the series id with an "
        "explicit count (one partition per core), which the groupBy that "
        "collects each series into a sorted array reuses; then one "
        "mapInArrow window map cuts raw, gap-fills base and cuts every "
        "feature tier from the filled grid, so it runs once, on every core.  "
        "The tier write's byte-sized hash Exchange (not part of this frame) "
        "sits above the map and samples nothing.",
    )

    if write_md:
        body = (
            "# PLAN AUDIT — physical plans of the representative queries\n\n"
            f"Generated by `scripts/plan_audit.py` at `{sf_dir}` (plans are "
            "shape-stable across SFs).  Every ✅ is also enforced as a hard "
            "assertion — the script exits non-zero on regression, and the "
            "same contracts run inside the suite "
            "(tests/test_plan_audit.py + tests/test_plans.py).\n\n"
            + "\n".join(sections)
        )
        md_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLAN_AUDIT.md",
        )
        with open(md_path, "w") as f:
            f.write(body)
    return failures


def main() -> int:
    from tsfresh_spark.session import build_session

    spark = build_session(
        "plan-audit", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    failures = run_audit(spark, SF_DIR, write_md=True)
    spark.stop()
    if failures:
        print("PLAN CONTRACT FAILURES:")
        for x in failures:
            print(" -", x)
        return 1
    print("plan audit OK — PLAN_AUDIT.md written")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
