"""Rollup engine: tier cascade, payload fidelity (token-array equality
invariant), cascade==direct feature equality, and manifest-based resume."""

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.functions.codec import decode_series
from tsfresh_spark.operators.rollup import DAY, RollupEngine, TierSpec
from tsfresh_spark.settings import minimal_settings


@pytest.fixture(scope="module")
def raw_points(spark):
    rows = []
    rng = np.random.RandomState(7)
    for doc, source in [("d1", "web"), ("d2", "code")]:
        t = 0
        for _ in range(300):
            t += int(rng.randint(30, 600))  # irregular 30s..10min gaps
            rows.append((doc, source, t, float(rng.randint(0, 1000))))
    return spark.createDataFrame(
        rows, "doc_id string, source string, ts long, value double"
    )


@pytest.fixture(scope="module")
def engine(spark, raw_points, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rollup"))
    eng = RollupEngine(
        spark,
        base,
        settings=minimal_settings(),
        base_step_seconds=60,
        tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
    )
    eng.paths = eng.run(raw_points, job_id="job-A")
    return eng


def test_all_tiers_written_and_committed(engine):
    assert set(engine.paths) == {"raw", "base", "1h", "1d"}
    for path in engine.paths.values():
        assert os.path.isdir(path)
    assert engine.manifest.committed_tiers("job-A") == {"raw", "base", "1h", "1d"}


def test_manifest_metrics_match_data(spark, engine):
    for tier in ["raw", "base", "1h", "1d"]:
        metrics = engine.manifest.tier_metrics("job-A", tier)
        assert metrics, tier
        total = sum(m["row_count"] for m in metrics)
        actual = spark.read.parquet(engine.paths[tier]).count()
        assert total == actual, tier
        assert all(m["byte_count"] > 0 for m in metrics)
        assert all(tier in m["lineage"] for m in metrics)


def test_raw_tier_preserves_points_bitexact(spark, engine, raw_points):
    """Token-array equality invariant end-to-end through the codec."""
    stored = spark.read.parquet(engine.paths["raw"]).toPandas()
    want = raw_points.toPandas()
    for (doc, source), group in want.groupby(["doc_id", "source"]):
        group = group.sort_values("ts")
        got_ts, got_vals = [], []
        sub = stored[(stored.doc_id == doc) & (stored.source == source)].sort_values(
            "window_start"
        )
        for payload in sub.payload:
            ts, vals = decode_series(bytes(payload))
            got_ts.extend(ts.tolist())
            got_vals.extend(vals.tolist())
        assert got_ts == group.ts.tolist()
        assert got_vals == group.value.tolist()


def test_base_tier_regular_grid(spark, engine):
    stored = spark.read.parquet(engine.paths["base"]).toPandas()
    for payload in stored.payload:
        ts, vals = decode_series(bytes(payload))
        assert np.all(np.diff(ts) == 60)  # regular 1-minute grid
        assert not np.isnan(vals).any()  # ffill leaves no interior holes


def test_cascade_equals_direct(spark, engine):
    """1d features (computed from 1h payloads) must equal features computed
    directly from the base grid — bit-for-bit."""
    base_pts = {}
    for _, row in spark.read.parquet(engine.paths["base"]).toPandas().iterrows():
        ts, vals = decode_series(bytes(row.payload))
        key = (row.doc_id, row.source)
        base_pts.setdefault(key, []).append((ts, vals))
    day = spark.read.parquet(engine.paths["1d"]).toPandas()
    checked = 0
    for _, row in day.iterrows():
        ts_all = np.concatenate(
            [t for t, _ in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        val_all = np.concatenate(
            [v for _, v in sorted(base_pts[(row.doc_id, row.source)], key=lambda p: p[0][0])]
        )
        mask = (ts_all >= row.window_start) & (ts_all < row.window_start + DAY)
        direct = dict(
            compute_series_features(val_all[mask], row.source, minimal_settings())
        )
        got = dict(row.features)
        assert got.keys() == direct.keys()
        for k in direct:
            assert got[k] == direct[k] or (
                np.isnan(got[k]) and np.isnan(direct[k])
            ), (k, got[k], direct[k])
        checked += 1
    assert checked >= 2


def test_resume_skips_committed_tiers(spark, engine, raw_points):
    mtimes = {
        tier: os.path.getmtime(path) for tier, path in engine.paths.items()
    }
    eng2 = RollupEngine(
        spark,
        engine.base_path,
        settings=minimal_settings(),
        base_step_seconds=60,
        tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
    )
    paths2 = eng2.run(raw_points, job_id="job-A")
    assert paths2 == engine.paths
    for tier, path in paths2.items():
        assert os.path.getmtime(path) == mtimes[tier], f"{tier} was rewritten"


@pytest.mark.parametrize(
    "change",
    [
        lambda pts: pts.where(F.col("doc_id") == "d1"),  # fewer rows
        # as many rows, one series' values moved
        lambda pts: pts.withColumn(
            "value", F.when(F.col("doc_id") == "d1", F.col("value")).otherwise(F.col("value") + 1)
        ),
    ],
    ids=["fewer_rows", "same_count"],
)
def test_resume_rejects_a_different_input(spark, engine, raw_points, change):
    """Each COMMIT carries its input's fingerprint: a re-run of a committed
    job_id with a different input raises, naming the job_id, and writes no
    tier and no COMMIT; the same input again writes no new COMMIT."""
    def commits():
        return (
            spark.read.parquet(engine.manifest.path).filter(F.col("partition_id") == -1).count()
        )

    mtimes = {tier: os.path.getmtime(path) for tier, path in engine.paths.items()}
    before = commits()
    with pytest.raises(ValueError, match="job-A"):
        engine.run(change(raw_points), job_id="job-A")
    assert commits() == before
    engine.run(raw_points, job_id="job-A")
    assert commits() == before
    assert {t: os.path.getmtime(p) for t, p in engine.paths.items()} == mtimes


def test_fresh_job_id_recomputes(spark, engine, raw_points):
    assert engine.manifest.committed_tiers("job-B") == set()


def _base_points(spark, path):
    """The stored base tier as {(doc_id, source): (ts, values)}, day chunks
    concatenated in time order."""
    chunks = {}
    for row in spark.read.parquet(path).toPandas().sort_values("window_start").itertuples():
        chunks.setdefault((row.doc_id, row.source), []).append(decode_series(bytes(row.payload)))
    return {
        key: (np.concatenate([t for t, _ in c]), np.concatenate([v for _, v in c]))
        for key, c in chunks.items()
    }


def _tier(frame, name):
    """One tier of a :meth:`RollupEngine.cascade` frame, as it is stored."""
    return frame.where(F.col("tier") == name).drop("tier")


def _same_feature(got, want) -> bool:
    """Bit-for-bit; a NULL read back stands for NaN."""
    if got is None:
        return bool(np.isnan(want))
    return np.float64(got).tobytes() == np.float64(want).tobytes()


def test_wider_than_day_tier_equals_base_slice(spark, raw_points, tmp_path_factory):
    """Windows that do not divide a day — a multiple of it (7d) or neither
    (36h) — span several stored base day chunks.  Each row holds exactly
    its slice of the decoded base grid: point count, payload and features
    bit for bit."""
    base = str(tmp_path_factory.mktemp("rollup7d"))
    widths = {"7d": 7 * DAY, "36h": 36 * 3600}
    eng = RollupEngine(
        spark,
        base,
        settings=minimal_settings(),
        base_step_seconds=3600,
        tiers=[TierSpec(name, w) for name, w in widths.items()],
    )
    paths = eng.run(raw_points, job_id="job-7d")
    base_pts = _base_points(spark, paths["base"])
    for name, width in widths.items():
        tier = spark.read.parquet(paths[name]).toPandas()
        assert len(tier) >= 2  # both series produce at least one window
        assert (tier.window_start % width == 0).all()
        for row in tier.itertuples():
            ts_all, val_all = base_pts[(row.doc_id, row.source)]
            mask = (ts_all >= row.window_start) & (ts_all < row.window_start + width)
            assert row.n_points == mask.sum()
            w_ts, w_vals = decode_series(bytes(row.payload))
            assert np.array_equal(w_ts, ts_all[mask])
            assert w_vals.tobytes() == val_all[mask].tobytes()
            direct = dict(
                compute_series_features(val_all[mask], row.source, minimal_settings())
            )
            got = dict(row.features)
            assert got.keys() == direct.keys()
            for k in direct:
                assert _same_feature(got[k], direct[k]), (name, k, got[k], direct[k])
        # every base point lands in exactly one window
        n_points = tier.groupby(["doc_id", "source"]).n_points.sum()
        assert n_points.to_dict() == {k: len(t) for k, (t, _) in base_pts.items()}


def test_nan_feature_is_stored_as_null(spark):
    """A window whose feature is NaN stores NULL in ``features``."""
    rows = [("d1", "web", 60 * k, 0.0 if k < 60 else 2.0) for k in range(120)]
    points = spark.createDataFrame(rows, "doc_id string, source string, ts long, value double")
    eng = RollupEngine(
        spark, "/tmp/rollup_nan_unused", settings={"variation_coefficient": None},
        base_step_seconds=60,
    )
    tier = _tier(eng.cascade(points), "1h").orderBy("window_start").collect()
    assert [r["features"] for r in tier] == [
        {"web__variation_coefficient": None}, {"web__variation_coefficient": 0.0},
    ]


def _gapfill_reference_base(raw_points, step, method):
    """The base tier rebuilt from the public window-function operators:
    last point per bucket, a ``sequence()`` grid from the first to the last
    bucket, ``fill_forward``/``fill_linear``, then day chunks encoded on the
    driver.  Returns {(doc_id, source, window_start): (n_points, payload)}."""
    from tsfresh_spark.functions.codec import encode_series
    from tsfresh_spark.operators.gapfill import fill_forward, fill_linear

    idc = ["doc_id", "source"]
    observed = raw_points.withColumn(
        "bucket", (F.col("ts") - F.pmod("ts", F.lit(step))).cast("long")
    ).groupBy(*idc, "bucket").agg(F.max_by("value", "ts").alias("value"))
    bounds = observed.groupBy(*idc).agg(
        F.min("bucket").alias("_a"), F.max("bucket").alias("_b")
    )
    grid = bounds.select(
        *idc, F.explode(F.sequence("_a", "_b", F.lit(step))).alias("bucket")
    ).join(observed, [*idc, "bucket"], "left")
    fill = {"ffill": fill_forward, "linear": fill_linear}[method]
    filled = fill(grid, id_cols=idc, order_col="bucket", value_col="value")
    pdf = filled.filter(F.col("value").isNotNull()).toPandas()
    pdf["day"] = pdf.bucket - pdf.bucket % DAY
    ref = {}
    for (doc, source, day), g in pdf.sort_values("bucket").groupby(
        ["doc_id", "source", "day"]
    ):
        ts = g.bucket.to_numpy(np.int64)
        ref[(doc, source, int(day))] = (
            len(ts), encode_series(ts, g.value.to_numpy(np.float64)),
        )
    return ref


@pytest.mark.parametrize("method", ["ffill", "linear"])
def test_compact_base_tier_bitexact(spark, raw_points, method):
    """The one-shuffle base tier must reproduce the public gapfill window
    operators over a sequence() grid byte-for-byte (payloads included)."""
    eng = RollupEngine(
        spark, "/tmp/rollup_base_ab_unused", settings=minimal_settings(),
        base_step_seconds=300, gap_method=method,
    )
    base = _tier(eng.cascade(raw_points), "base")
    got = {
        (r.doc_id, r.source, r.window_start): (r.n_points, bytes(r.payload))
        for r in base.toPandas().itertuples()
    }
    want = _gapfill_reference_base(raw_points, 300, method)
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], (key, method)
    # and the cascade plan (of a frame not yet run) has exactly one
    # exchange and runs no pandas grouped map
    plan = eng.cascade(raw_points)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" not in plan


def test_base_tier_tied_timestamps_deterministic(spark, tmp_path_factory):
    """A bucket whose last timestamp is tied keeps the point the raw tier
    stores last in (ts, value) order, whatever order the points arrive in.
    A NULL value tied with a number is stored first, so the number stands
    for its bucket."""
    schema = "doc_id string, source string, ts long, value double"
    a = spark.createDataFrame(
        [("d1", "web", 10, 1.0), ("d1", "web", 50, 5.0), ("d1", "web", 130, 3.0),
         ("d2", "web", 10, 1.0), ("d2", "web", 70, 2.0), ("d2", "web", 190, None)],
        schema,
    )
    b = spark.createDataFrame(
        [("d1", "web", 50, 2.0), ("d1", "web", 170, 4.0), ("d1", "web", 170, 0.5),
         ("d2", "web", 70, None), ("d2", "web", 130, 3.0)],
        schema,
    )
    d1 = a.union(b).filter("doc_id = 'd1'")
    expected = sorted((r.ts, r.value) for r in d1.collect())
    payloads = {}
    for order, points in [("ab", a.union(b)), ("ba", b.union(a))]:
        eng = RollupEngine(
            spark, str(tmp_path_factory.mktemp(f"ties_{order}")),
            settings=minimal_settings(), base_step_seconds=60, tiers=[],
        )
        paths = eng.run(points.coalesce(1), job_id=f"job-ties-{order}")
        raw = {
            r.doc_id: decode_series(bytes(r.payload))
            for r in spark.read.parquet(paths["raw"]).collect()
        }
        ts, vals = raw["d1"]
        assert list(zip(ts.tolist(), vals.tolist())) == expected
        ts, vals = raw["d2"]
        assert ts.tolist() == [10, 70, 70, 130, 190]
        assert np.array_equal(vals, [1.0, np.nan, 2.0, 3.0, np.nan], equal_nan=True)
        for r in spark.read.parquet(paths["base"]).collect():
            payloads[order, r.doc_id] = bytes(r.payload)
    for doc, want in [("d1", [5.0, 5.0, 4.0]), ("d2", [1.0, 2.0, 3.0, 3.0])]:
        assert payloads["ab", doc] == payloads["ba", doc]
        ts, vals = decode_series(payloads["ab", doc])
        assert ts.tolist() == list(range(0, 60 * len(want), 60))
        assert vals.tolist() == want, doc


def test_retention_ages_out_old_windows(spark, raw_points, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rollup_ret"))
    eng = RollupEngine(
        spark, base, settings=minimal_settings(), base_step_seconds=3600,
        tiers=[TierSpec("1h", 3600)],
    )
    eng.run(raw_points, job_id="job-ret")
    tier_df = spark.read.parquet(eng.tier_path("1h")).toPandas()
    cutoff_candidates = sorted(tier_df.window_start.unique())
    # keep only the newest half of the windows
    mid = cutoff_candidates[len(cutoff_candidates) // 2]
    max_ts = int(tier_df.window_start.max()) + 3600
    result = eng.apply_retention(
        "1h", keep_seconds=max_ts - mid, now_ts=max_ts, job_id="job-ret"
    )
    assert result["after"] < result["before"]
    remaining = spark.read.parquet(eng.tier_path("1h")).toPandas()
    assert (remaining.window_start >= mid).all()
    assert result["after"] == len(remaining)
    # the manifest carries the retention lineage with before->after counts
    metrics = eng.manifest.tier_metrics("job-ret", "1h")
    assert any("retention(cutoff=" in m["lineage"] for m in metrics)
    # ... and only the latest commit's per-file rows: they add up to what
    # is stored, not to the original plus the retention commit
    assert all("retention(cutoff=" in m["lineage"] for m in metrics)
    assert sum(m["row_count"] for m in metrics) == len(remaining)
    # untouched windows are byte-identical (payloads survive the rewrite)
    old_rows = tier_df[tier_df.window_start >= mid].sort_values(
        ["doc_id", "source", "window_start"]
    )
    new_rows = remaining.sort_values(["doc_id", "source", "window_start"])
    assert [bytes(p) for p in old_rows.payload] == [bytes(p) for p in new_rows.payload]


def test_tier_without_payload_matches_with_payload(spark, raw_points):
    """cascade(with_payload=False) must be identical to the payload-bearing
    form in every column except payload (which comes back NULL on every
    tier) — the flag only skips the Gorilla encode of bytes the caller
    discards."""
    eng = RollupEngine(
        spark,
        "/tmp/rollup_nopayload_unused",
        settings=minimal_settings(),
        id_cols=("doc_id", "source"),
        base_step_seconds=60,
    )
    with_p = eng.cascade(raw_points).toPandas()
    without_p = eng.cascade(raw_points, with_payload=False).toPandas()
    assert set(with_p.tier) == {"raw", "base", "1h", "1d"}
    key = ["tier", "doc_id", "source", "window_start"]
    a = with_p.sort_values(key).reset_index(drop=True)
    b = without_p.sort_values(key).reset_index(drop=True)
    assert b.payload.isna().all()
    pd.testing.assert_frame_equal(
        a.drop(columns=["payload"]), b.drop(columns=["payload"]),
        check_exact=True,
    )


def test_commit_counts_come_from_footers(spark, raw_points, tmp_path_factory):
    """Per-file manifest rows and COMMIT totals equal a read-back count per
    file; zero-row part files are skipped; the COMMIT time is the wall
    clock's (perfbench derives per-tier wall time from it)."""
    import time

    base = str(tmp_path_factory.mktemp("rollup_footers"))
    eng = RollupEngine(
        spark, base, settings=minimal_settings(), base_step_seconds=3600,
        tiers=[TierSpec("1d", DAY)],
    )
    eng.run(raw_points, job_id="job-F")
    path = eng.tier_path("1d")
    # Spark writes no file for an empty partition: add a zero-row part file
    spark.read.parquet(path).limit(0).write.mode("append").parquet(path)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    empty = [f for f in parts if spark.read.parquet(os.path.join(path, f)).count() == 0]
    assert empty and len(empty) < len(parts)

    eng.manifest.record_tier("job-F", "1d", path, "1d<-recount")
    now = time.time()
    for tier in ("raw", "base", "1d"):
        per_file = (
            spark.read.parquet(eng.tier_path(tier))
            .groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        want = {r["file"].rsplit("/", 1)[-1]: r["count"] for r in per_file}
        metrics = eng.manifest.tier_metrics("job-F", tier)
        got = {m["lineage"].rsplit(" file=", 1)[1]: m["row_count"] for m in metrics}
        assert got == want, tier
        (commit,) = (
            spark.read.parquet(eng.manifest.path)
            .filter(
                (F.col("job_id") == "job-F")
                & (F.col("tier") == tier)
                & (F.col("partition_id") == -1)
            )
            .orderBy(F.col("committed_at").desc())
            .select("row_count", "lineage", F.col("committed_at").cast("double").alias("at"))
            .take(1)
        )
        assert commit["row_count"] == sum(want.values()), tier
        assert commit["lineage"].endswith(f"COMMIT files={len(want)}"), tier
    assert set(empty).isdisjoint(got)
    assert commit["lineage"].startswith("1d<-recount")
    assert abs(commit["at"] - now) < 5


def test_tier_features_equal_kernels_on_window_copies(spark):
    """Each window's features equal the kernels on a fresh copy of that
    window, bit for bit.  Every series starts mid-hour, so its first 1h
    window is odd-length and the later windows start 8 bytes off a 16-byte
    boundary of the decoded day — where a BLAS dot (abs_energy) would sum
    in another order."""
    settings = {"abs_energy": None, "mean": None}
    rng = np.random.default_rng(11)
    rows = []
    for i in range(8):
        start = 31 * 60 + i * 120  # first windows of 29, 27, ... points
        for k in range(6 * 60):
            rows.append((f"s{i}", "web", start + 60 * k, float(rng.normal())))
    rows = pd.DataFrame(rows, columns=["doc_id", "source", "ts", "value"])
    rows["value"] = rows.groupby("doc_id")["value"].cumsum()
    points = spark.createDataFrame(rows, "doc_id string, source string, ts long, value double")
    eng = RollupEngine(
        spark, "/tmp/rollup_window_copies_unused", settings=settings, base_step_seconds=60
    )
    tier = _tier(eng.cascade(points), "1h").collect()
    assert len(tier) == 8 * 7
    for r in tier:
        _, w_vals = decode_series(bytes(r["payload"]))
        want = dict(compute_series_features(np.array(w_vals), r["source"], settings))
        assert set(r["features"]) == set(want)
        for name, value in want.items():
            assert np.float64(r["features"][name]).tobytes() == np.float64(value).tobytes(), (
                r["doc_id"], r["window_start"], name,
            )


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"base_step_seconds": 0}, "base_step_seconds"),
        ({"base_step_seconds": -60}, "base_step_seconds"),
        ({"gap_method": "bfill"}, "gap_method"),
        ({"tiers": [TierSpec("1h", 0)]}, "window_seconds"),
        ({"tiers": [TierSpec("1h", 3600), TierSpec("1h", DAY)]}, "duplicate"),
        ({"tiers": [TierSpec("raw", 3600)]}, "reserved"),
        ({"tiers": [TierSpec("base", DAY)]}, "reserved"),
    ],
)
def test_bad_settings_rejected_before_run(spark, kwargs, match):
    """Bad settings fail when the engine is built, before any tier commits."""
    with pytest.raises(ValueError, match=match):
        RollupEngine(spark, "/tmp/rollup_invalid_unused", settings=minimal_settings(), **kwargs)


def _stage_graph(spark, stage_id: int) -> str:
    """The stage's RDD operation graph (one cluster per physical operator)
    as the status store holds it, in dot form."""
    graph = spark.sparkContext._jsc.sc().statusStore().operationGraphForStage(stage_id)
    return spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)


def test_each_window_map_runs_once_on_every_core(spark, tmp_path, monkeypatch):
    """The cascade's one window map runs in exactly one completed stage of
    the one tier write, on max(shuffle partitions, defaultParallelism)
    tasks, and no range exchange sits above it in the write plan (its
    sample job would run the map a second time).  A wider-than-day tier
    rides along, so no tier takes another path.  Twice as many series as
    partitions, so a range split on doc_id can fill every partition."""
    from pyspark.sql.readwriter import DataFrameWriter

    from tsfresh_spark.plans.profiling import StageProfiler

    n = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    rng = np.random.RandomState(5)
    rows = [
        (f"d{i:02d}", "web", int(t), float(v))
        for i in range(2 * n)
        for t, v in zip(np.cumsum(rng.randint(30, 900, 200)), rng.randint(0, 100, 200))
    ]
    points = spark.createDataFrame(rows, "doc_id string, source string, ts long, value double")
    write, seen = DataFrameWriter.parquet, []

    def profiled(self, path, *args, **kwargs):
        plan = self._df._jdf.queryExecution().executedPlan().toString()
        with StageProfiler(spark) as prof:
            write(self, path, *args, **kwargs)
        seen.append((path, plan, prof.stages))

    monkeypatch.setattr(DataFrameWriter, "parquet", profiled)
    eng = RollupEngine(
        spark, str(tmp_path), settings=minimal_settings(), base_step_seconds=3600,
        tiers=[TierSpec("1h", 3600), TierSpec("36h", 36 * 3600)],
    )
    eng.run(points, job_id="job-layout")
    monkeypatch.undo()
    writes = [(plan, stages) for path, plan, stages in seen if not path.endswith("manifest")]
    assert len(writes) == 1, [path for path, _, _ in seen]
    ((plan, stages),) = writes
    assert "MapInArrow" in plan
    assert "rangepartitioning" not in plan.split("MapInArrow")[0], plan
    maps = [
        (m.num_tasks, _stage_graph(spark, m.stage_id).count('label="MapInArrow"'))
        for m in stages
        if m.status == "COMPLETE"
    ]
    assert [m for m in maps if m[1]] == [(n, 1)], maps


def test_empty_job_commits_empty_tiers(spark, tmp_path):
    """A job with no points commits every tier with 0 rows, and each tier
    reads back as an empty frame with the stored columns."""
    points = spark.createDataFrame([], "doc_id string, source string, ts long, value double")
    eng = RollupEngine(spark, str(tmp_path), settings=minimal_settings())
    paths = eng.run(points, job_id="job-empty")
    assert set(paths) == {"raw", "base", "1h", "1d"}
    assert eng.manifest.committed_tiers("job-empty") == set(paths)
    for tier, path in paths.items():
        stored = spark.read.parquet(path)
        assert stored.columns == [
            "doc_id", "source", "window_start", "n_points", "features", "payload",
        ], tier
        assert stored.count() == 0, tier
        assert eng.manifest.tier_metrics("job-empty", tier) == [], tier
    commits = (
        spark.read.parquet(eng.manifest.path)
        .filter((F.col("job_id") == "job-empty") & (F.col("partition_id") == -1))
        .collect()
    )
    assert sorted(r["tier"] for r in commits) == sorted(paths)
    assert all(r["row_count"] == 0 for r in commits)


def _tier_rows(spark, path) -> list:
    """A stored tier's rows, comparable across runs: sorted, payloads as
    bytes, features as sorted items."""
    return sorted(
        (r.doc_id, r.source, r.window_start, r.n_points,
         None if r.payload is None else bytes(r.payload),
         None if r.features is None else sorted(r.features.items()))
        for r in spark.read.parquet(path).collect()
    )


def test_resume_after_a_failed_commit(spark, raw_points, tmp_path_factory, monkeypatch):
    """A crash between the write and the second tier's COMMIT leaves only
    raw committed.  A re-run of the same job_id writes only the uncommitted
    tiers: the committed raw files stay untouched (names and mtimes), and
    every tier ends up equal to a clean run's."""
    from tsfresh_spark.plans.manifest import Manifest

    def engine(name):
        return RollupEngine(
            spark, str(tmp_path_factory.mktemp(name)), settings=minimal_settings(),
            base_step_seconds=60, tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
        )

    clean = engine("clean")
    clean.run(raw_points, job_id="job-C")
    eng = engine("crash")
    record, calls = Manifest.record_tier, []

    def record_or_crash(self, job_id, tier, *args):
        calls.append(tier)
        if len(calls) == 2:
            raise RuntimeError("crash before the COMMIT")
        return record(self, job_id, tier, *args)

    monkeypatch.setattr(Manifest, "record_tier", record_or_crash)
    with pytest.raises(RuntimeError, match="crash before the COMMIT"):
        eng.run(raw_points, job_id="job-C")
    monkeypatch.undo()
    assert calls == ["raw", "base"]
    assert eng.manifest.committed_tiers("job-C") == {"raw"}

    def files(tier):
        path = eng.tier_path(tier)
        return {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}

    raw_files, base_files = files("raw"), files("base")
    paths = eng.run(raw_points, job_id="job-C")
    assert eng.manifest.committed_tiers("job-C") == {"raw", "base", "1h", "1d"}
    assert files("raw") == raw_files
    parts = [f for f in files("base") if f.startswith("part-")]
    assert parts and base_files.keys().isdisjoint(parts)  # rewritten
    raw_commits = (
        spark.read.parquet(eng.manifest.path)
        .filter((F.col("tier") == "raw") & (F.col("partition_id") == -1))
        .count()
    )
    assert raw_commits == 1
    for tier, path in paths.items():
        assert _tier_rows(spark, path) == _tier_rows(spark, clean.tier_path(tier)), tier
