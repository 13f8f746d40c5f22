"""The rollup / downsample / retention engine (BASELINE.json north rule).

Tier cascade over a corpus of (doc_id, source) series:

    raw   — archival of the original irregular points, Gorilla-compressed in
            per-day chunks (no features);
    base  — ("1m") gap-filled regular grid at ``base_step``: the canonical
            series every higher tier aggregates; stored compressed per day;
    1h/1d — continuous aggregates: per (doc_id, source, window) the feature
            vector (tsfresh calculator family via the kernel library) over
            the base-grid points inside the window, plus the compressed
            point payload.

Each tier has one physical path.  Raw groups the points per (series, day)
(one shuffle).  Base groups them per series (one shuffle) and buckets,
grids, fills and day-chunks each series in numpy inside one
``applyInPandas`` call.  Feature tiers read the BASE tier's compressed
day-chunks, never the raw input: day-aligned windows split each payload
inside a narrow ``mapInPandas`` (zero shuffle); wider windows decode +
regroup (one shuffle).  Every tier row comes from one window-row builder
(:func:`_window_rows`) under one stored schema.  The codec is bit-exact, so
"cascade" and "direct" produce identical features (asserted in tests).
Every tier write is range-laid-out (repartitionByRange on doc_id, sorted
within partitions) and recorded in the manifest with per-file row/byte
metrics and a COMMIT record; a re-run of the same job_id skips committed
tiers (resume from checkpoint).

Timestamps are epoch seconds (int64) throughout the engine — integer window
arithmetic (``ts - ts % step``) is exact, codegen-friendly, and avoids
timezone semantics entirely.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsfresh_spark.extract import compute_series_features
from tsfresh_spark.functions.codec import encode_series
from tsfresh_spark.plans.manifest import Manifest

DAY = 86400


@dataclass
class TierSpec:
    name: str
    window_seconds: int
    compute_features: bool = True


DEFAULT_TIERS = [
    TierSpec("1h", 3600),
    TierSpec("1d", DAY),
]


@dataclass
class RollupEngine:
    spark: SparkSession
    base_path: str
    settings: dict
    id_cols: tuple[str, str] = ("doc_id", "source")
    base_step_seconds: int = 60
    gap_method: str = "ffill"
    tiers: list[TierSpec] = field(default_factory=lambda: list(DEFAULT_TIERS))
    range_partitions: int | None = None

    def __post_init__(self):
        self.manifest = Manifest(self.spark, self.base_path)

    # ------------------------------------------------------------------ io

    def tier_path(self, tier: str) -> str:
        return f"{self.base_path.rstrip('/')}/tier={tier}"

    def _write(self, df: DataFrame, tier: str) -> str:
        path = self.tier_path(tier)
        doc_col = self.id_cols[0]
        out = df
        if self.range_partitions:
            out = out.repartitionByRange(self.range_partitions, doc_col)
        else:
            out = out.repartitionByRange(doc_col)
        out = out.sortWithinPartitions(doc_col, "window_start")
        out.write.mode("overwrite").parquet(path)
        return path

    # ------------------------------------------------------- point shuttling

    def _chunk_points(self, points: DataFrame, window_seconds: int) -> DataFrame:
        """points (id..., ts long, value double) → one row per window with
        its ``ts``/``value`` arrays in (ts, value) order."""
        idc = list(self.id_cols)
        bucketed = points.withColumn(
            "window_start", (F.col("ts") - F.pmod("ts", F.lit(window_seconds))).cast("long")
        )
        return bucketed.groupBy(*idc, "window_start").agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("pts")
        ).select(*idc, F.col("pts.ts").alias("ts"), F.col("pts.value").alias("value"))

    def decode_points(self, stored: DataFrame) -> DataFrame:
        """Decode a tier frame's payload column back to (id..., ts, value)."""
        from tsfresh_spark.functions.codec import (
            decompress_timestamps_udf,
            decompress_values_udf,
        )

        idc = list(self.id_cols)
        arrays = stored.select(
            *idc,
            decompress_timestamps_udf()(F.col("payload")).alias("ts_arr"),
            decompress_values_udf()(F.col("payload")).alias("val_arr"),
        )
        return arrays.select(
            *idc,
            F.explode(F.arrays_zip("ts_arr", "val_arr")).alias("p"),
        ).select(*idc, F.col("p.ts_arr").alias("ts"), F.col("p.val_arr").alias("value"))

    def _tier_schema(self, frame: DataFrame) -> str:
        """The stored schema every tier shares: id_cols (typed as in
        ``frame``) + window_start, n_points, features, payload."""
        id_field_types = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in frame.schema.fields
            if f.name in self.id_cols
        )
        return (
            f"{id_field_types}, window_start long, n_points long, "
            "features map<string,double>, payload binary"
        )

    def _map_windows(
        self,
        frame: DataFrame,
        window_seconds: int,
        *,
        with_features: bool,
        with_payload: bool = True,
    ) -> DataFrame:
        """Narrow map: each row of ``frame`` (id_cols + either ``ts``/``value``
        arrays or a ``payload`` decoded here) becomes one tier row per
        ``window_seconds`` window its points fall in — no shuffle."""
        from tsfresh_spark.functions.codec import decode_series

        idc = list(self.id_cols)
        kind_col = self.id_cols[1]
        settings = self.settings if with_features else None
        encoded = "payload" in frame.columns

        def run(batches):
            for pdf in batches:
                if encoded:
                    series = (decode_series(bytes(p)) for p in pdf["payload"].values)
                else:
                    series = zip(pdf["ts"].values, pdf["value"].values)
                rows = []
                for (ts, values), *ids in zip(series, *(pdf[c].values for c in idc)):
                    id_map = dict(zip(idc, ids))
                    rows += _window_rows(
                        id_map, ts, values, window_seconds,
                        kind=str(id_map[kind_col]), settings=settings,
                        with_payload=with_payload,
                    )
                if rows:
                    yield pd.DataFrame(rows)

        cols = ["payload"] if encoded else ["ts", "value"]
        return frame.select(*idc, *cols).mapInPandas(run, self._tier_schema(frame))

    # ------------------------------------------------------- tier computation

    def _archive_tier(self, points: DataFrame) -> DataFrame:
        """raw archival: per-day compressed chunks, no features."""
        return self._map_windows(self._chunk_points(points, DAY), DAY, with_features=False)

    def compute_base(self, points: DataFrame) -> DataFrame:
        """Public: the gap-filled, payload-encoded base tier for raw
        ``points`` (id_cols + ts:long epoch-seconds + value:double), without
        touching tier storage — the building block ``run()`` persists.

        One shuffle: the points are grouped per series and one
        ``applyInPandas`` call does bucket → grid → fill → day-chunk →
        encode in numpy.  Each ``base_step`` bucket keeps its last point in
        (ts, value) order — the order the raw tier stores — so a tied last
        timestamp resolves the same way whatever order the shuffle delivers.
        The grid spans the first..last observed bucket, so linear fill is
        interior-only and ffill is a forward index scan; both equal the
        public ``gapfill`` operators over a ``sequence()`` grid byte for
        byte (tests/test_rollup.py).
        """
        idc = list(self.id_cols)
        step = self.base_step_seconds
        method = self.gap_method
        if method not in ("ffill", "linear"):
            raise ValueError(f"unsupported gap_method {method!r}")

        def per_series(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            order = np.lexsort((pdf["value"].values, pdf["ts"].values))
            ts = pdf["ts"].values[order].astype(np.int64)
            vals = pdf["value"].values[order].astype(np.float64)
            bucket = ts - ts % step
            # last observation per bucket: in (ts, value) order the last
            # index of each bucket run wins
            change = np.concatenate([bucket[1:] != bucket[:-1], [True]])
            ub = bucket[change]
            uv = vals[change]
            grid = np.arange(ub[0], ub[-1] + step, step, dtype=np.int64)
            pos = (ub - ub[0]) // step
            filled = np.full(len(grid), np.nan)
            filled[pos] = uv
            if method == "ffill":
                idx = np.where(~np.isnan(filled), np.arange(len(filled)), 0)
                np.maximum.accumulate(idx, out=idx)
                filled = filled[idx]
            else:
                # linear, interior-only by construction; op-for-op identical
                # to fill_linear's prev + (next-prev)*(pos-pt)/(nt-pt)
                j = np.searchsorted(ub, grid, side="right") - 1
                prev_t, prev_v = ub[j], uv[j]
                nxt = np.minimum(j + 1, len(ub) - 1)
                next_t, next_v = ub[nxt], uv[nxt]
                observed = grid == prev_t
                with np.errstate(all="ignore"):
                    interp = prev_v + (next_v - prev_v) * (
                        grid - prev_t
                    ).astype(np.float64) / (next_t - prev_t).astype(np.float64)
                filled = np.where(observed, prev_v, interp)
            return pd.DataFrame(_window_rows(dict(zip(idc, key)), grid, filled, DAY))

        from tsfresh_spark.plans.partitioning import pin_group_partitions

        # pin the grouping shuffle: AQE byte-coalescing would run this
        # compute-bound stage on 1-2 cores for small-byte inputs
        pinned = pin_group_partitions(points, *idc)
        return pinned.groupBy(*idc).applyInPandas(
            per_series, schema=self._tier_schema(points)
        )

    def compute_tier(
        self,
        base: DataFrame,
        window_seconds: int,
        *,
        with_payload: bool = True,
    ) -> DataFrame:
        """Public: one feature tier at ``window_seconds`` from a base-tier
        frame (as returned by :meth:`compute_base` or read back from tier
        storage) — the same call ``run()`` persists.

        Day-aligned windows (``DAY % window_seconds == 0``) live inside one
        stored day chunk, so each payload is decoded and split at window
        boundaries inside a narrow ``mapInPandas``: zero shuffle.  Wider
        windows decode the points and regroup them per window (one
        shuffle).  ``with_payload=False`` skips re-encoding the per-window
        Gorilla payloads (the column comes back NULL): a consumer that only
        reads ``features``/``n_points`` — e.g. a report query — should not
        pay the bit-packing cost for bytes it immediately discards.
        Features and every other column are identical either way
        (tests/test_rollup.py)."""
        if DAY % window_seconds == 0:
            frame = base
        else:
            frame = self._chunk_points(self.decode_points(base), window_seconds)
        return self._map_windows(
            frame, window_seconds, with_features=True, with_payload=with_payload
        )

    # ------------------------------------------------------------- retention

    def apply_retention(
        self, tier: str, *, keep_seconds: int, now_ts: int, job_id: str
    ) -> dict:
        """Drop windows older than ``now_ts - keep_seconds`` from a tier.

        Classic retention ladder: raw keeps days, base weeks, 1h months, 1d
        forever.  Parquet backend rewrites the filtered tier (atomic via
        staging path + rename); on Iceberg this maps to a metadata-only
        ``DELETE WHERE window_start < cutoff``.  The manifest records the
        cut with row counts before/after (read from the Parquet footers, no
        count job), so lineage shows what was aged out and when.
        """
        cutoff = now_ts - keep_seconds
        path = self.tier_path(tier)
        before = sum(n for _, n, _ in self.manifest.footer_counts(path))
        kept = self.spark.read.parquet(path).filter(F.col("window_start") >= F.lit(cutoff))
        staging = f"{path}.retention-staging"
        kept.write.mode("overwrite").parquet(staging)

        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(conf)
        fs.delete(hpath, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(staging), hpath)

        after = sum(n for _, n, _ in self.manifest.footer_counts(path))
        self.manifest.record_tier(
            job_id, tier, path, f"retention(cutoff={cutoff}) {before}->{after}"
        )
        return {"tier": tier, "cutoff": cutoff, "before": before, "after": after}

    # -------------------------------------------------------------- pipeline

    def run(self, raw_points: DataFrame, job_id: str) -> dict[str, str]:
        """Run the cascade; returns {tier_name: path}.  ``raw_points`` must
        have columns id_cols + (ts: long epoch seconds, value: double).

        Resume: tiers already holding a COMMIT record for this job_id are
        skipped; downstream tiers read their stored payloads.
        """
        committed = self.manifest.committed_tiers(job_id)
        out: dict[str, str] = {}

        from tsfresh_spark.plans.profiling import StageProfiler

        def do_tier(name: str, compute, lineage: str):
            if name in committed:
                out[name] = self.tier_path(name)
                return False
            # profile the tier's stages (scoped by a job tag, so the cost is
            # O(stages of this tier) and other threads' jobs stay out) and
            # persist the summary with the COMMIT lineage — the per-tier
            # compute/shuffle/spill record the 100-TB tuning loop reads.
            with StageProfiler(self.spark) as prof:
                self._write(compute(), name)
            s = prof.summary()
            lineage = (
                f"{lineage} profile(run_ms={s['executor_run_time_ms']},"
                f"cpu_ms={s['executor_cpu_time_ms']},"
                f"shuffle_w={s['shuffle_write_bytes']},"
                f"shuffle_r={s['shuffle_read_bytes']},"
                f"spill={s['memory_spilled_bytes'] + s['disk_spilled_bytes']},"
                f"stages={s['num_stages']},tasks={s['num_tasks']})"
            )
            self.manifest.record_tier(job_id, name, self.tier_path(name), lineage)
            out[name] = self.tier_path(name)
            return True

        do_tier("raw", lambda: self._archive_tier(raw_points), "raw<-input")
        do_tier("base", lambda: self.compute_base(raw_points), "base<-input(gapfill)")
        for spec in self.tiers:
            do_tier(
                spec.name,
                lambda spec=spec: self.compute_tier(
                    self.spark.read.parquet(self.tier_path("base")), spec.window_seconds
                ),
                f"{spec.name}<-base",
            )
        return out


def _window_rows(
    id_map: dict,
    ts: np.ndarray,
    values: np.ndarray,
    window_seconds: int,
    *,
    kind: str | None = None,
    settings: dict | None = None,
    with_payload: bool = True,
) -> list[dict]:
    """Cut one series' sorted ``(ts, values)`` at ``window_seconds``
    boundaries into tier rows: ids, window start, point count, the feature
    map (when ``settings`` is given) and the encoded payload (when
    ``with_payload``)."""
    if len(ts) == 0:
        return []
    w = ts - ts % window_seconds
    cuts = np.flatnonzero(np.diff(w)) + 1
    starts = np.concatenate([[0], cuts])
    ends = np.concatenate([cuts, [len(ts)]])
    return [
        {
            **id_map,
            "window_start": int(w[s]),
            "n_points": int(e - s),
            "features": (
                None
                if settings is None
                else dict(compute_series_features(values[s:e], kind, settings))
            ),
            "payload": encode_series(ts[s:e], values[s:e]) if with_payload else None,
        }
        for s, e in zip(starts, ends)
    ]
