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

The whole cascade is one ``mapInArrow`` window map over per-series arrays
(:meth:`RollupEngine.cascade`).  For each Arrow batch of whole series the
map cuts raw at day boundaries from the sorted input arrays, gap-fills each
series once onto the base grid and cuts base at day boundaries, then cuts
every tier's windows from that same filled grid, features from the shared
executor (``extract._feature_map``).  Every row carries its ``tier``.  A
feature window is thus exactly its slice of the base grid that the base
tier stores, day-aligned or wider; the codec is bit-exact, so a tier
recomputed from the stored base payloads equals the stored tier
(tests/test_rollup.py).

Two layouts, two exchanges.  The compute layout: a range exchange on
doc_id with an explicit count of max(shuffle partitions,
defaultParallelism), which the per-series ``groupBy`` reuses, feeds the
map, so it runs once, on every core.  The whole cascade of a series runs in
one task: a job with fewer series than cores leaves cores idle.  The file
layout: ``_write`` hash-partitions the map output on doc_id with no count,
sorted within partitions, and AQE sizes the files by bytes; one
``partitionBy("tier")`` write with dynamic partition overwrite lands each
tier under ``tier=<name>`` and leaves every other directory of the base
path alone.  No range exchange ever sits above the map: range partitioning
samples its input with a separate job, which would run the map twice.
Each written tier is then recorded in the manifest with per-file row/byte
metrics and a COMMIT record that carries the input's fingerprint: one
small Parquet file per tier, created through the Hadoop FS API, so a
commit runs no Spark job.  A re-run of the same job_id with the same
input writes only the uncommitted tiers (resume from checkpoint; the map
is deterministic), and one with a different input is refused.

Timestamps are epoch seconds (int64) throughout the engine — integer window
arithmetic (``ts - ts % step``) is exact, codegen-friendly, and avoids
timezone semantics entirely.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsfresh_spark.extract import _feature_map
from tsfresh_spark.functions.codec import encode_series
from tsfresh_spark.plans.manifest import Manifest, hadoop_fs
from tsfresh_spark.plans.partitioning import one_wave_partitions

DAY = 86400
_FEATURES = pa.map_(pa.string(), pa.float64())
_TIER_COLUMNS = (
    "window_start long, n_points long, features map<string,double>, payload binary, tier string"
)


@dataclass
class TierSpec:
    name: str
    window_seconds: int


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

    def __post_init__(self):
        # reject bad settings before run() commits any tier
        if self.base_step_seconds <= 0:
            raise ValueError(f"base_step_seconds must be positive, got {self.base_step_seconds}")
        if self.gap_method not in ("ffill", "linear"):
            raise ValueError(f"unsupported gap_method {self.gap_method!r}")
        names = [spec.name for spec in self.tiers]
        for spec in self.tiers:
            if spec.window_seconds <= 0:
                raise ValueError(f"tier {spec.name!r}: window_seconds must be positive")
            if spec.name in ("raw", "base"):
                raise ValueError(f"tier name {spec.name!r} is reserved for the tier it reads")
            if names.count(spec.name) > 1:
                raise ValueError(f"duplicate tier name {spec.name!r}")
        self.manifest = Manifest(self.spark, self.base_path)

    # ------------------------------------------------------------------ io

    def tier_path(self, tier: str) -> str:
        return f"{self.base_path.rstrip('/')}/tier={tier}"

    def _write(self, frame: DataFrame, tiers: list[str]) -> None:
        """Persist the ``tiers`` of a :meth:`cascade` frame in one write.

        File layout: hash on ``doc_id`` with no count, so AQE sizes the
        files by bytes (one file per tier for a small job), each sorted by
        (doc_id, window_start); a hash exchange samples nothing, so the
        window map below it runs once.  The tiers' old directories are
        deleted first, so a tier holds only this write's windows even when
        it gets no rows; dynamic partition overwrite then writes only the
        ``tier=<name>`` directories that get rows and leaves ``manifest/``
        and the committed tiers alone.  A job with no points gives no tier
        a row, so each then gets a schema-only file and reads back as an
        empty frame."""
        fs, path = hadoop_fs(self.spark, self.base_path)
        for name in tiers:
            fs.delete(path(self.tier_path(name)), True)
        doc_col = self.id_cols[0]
        out = frame.where(F.col("tier").isin(tiers)).repartition(doc_col)
        (
            out.sortWithinPartitions("tier", doc_col, "window_start")
            .write.partitionBy("tier")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.base_path)
        )
        for name in tiers:
            if not fs.exists(path(self.tier_path(name))):
                frame.limit(0).drop("tier").write.parquet(self.tier_path(name))

    # ---------------------------------------------------- compute layout

    def _spread(self, points: DataFrame) -> DataFrame:
        """Range-partition raw points on ``doc_id`` ahead of the per-series
        ``groupBy``: the range sample reads only the input, and the
        aggregate reuses the exchange (range on ``doc_id`` clusters every
        key set that contains it).  An explicit count, one task per core
        (:func:`one_wave_partitions`), so AQE keeps it: byte-coalescing
        would run a small compute-bound map on one core."""
        return points.repartitionByRange(one_wave_partitions(self.spark), self.id_cols[0])

    def _chunk_points(self, points: DataFrame) -> DataFrame:
        """points (id..., ts long, value double) → one row per series with
        its ``ts``/``value`` arrays in (ts, value) order; a NULL value sorts
        first among points tied on ``ts``."""
        return points.groupBy(*self.id_cols).agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("pts")
        ).select(*self.id_cols, F.col("pts.ts").alias("ts"), F.col("pts.value").alias("value"))

    # ------------------------------------------------------------ cascade

    def cascade(self, points: DataFrame, *, with_payload: bool = True) -> DataFrame:
        """Public: every tier of raw ``points`` (id_cols + ts: long epoch
        seconds + value: double) in one frame, without touching tier
        storage — the frame ``run()`` persists.  Each row is one window of
        one series, tagged with its ``tier``: ``raw`` and ``base`` (day
        chunks, NULL ``features``) and every ``TierSpec`` in ``tiers``
        (features under ``settings``); select one with
        ``.where(F.col("tier") == name)``.

        One shuffle: the points are range-partitioned on ``doc_id`` into
        one partition per core (:meth:`_spread`), ``groupBy(ids)`` reuses
        that exchange to collect each series into one array sorted by
        (ts, value), as the raw tier stores it, and one window map cuts
        every tier from it, once, on every core.  Base buckets each series
        onto the ``base_step`` grid; each bucket keeps its last point in
        that order, so a tied last timestamp resolves the same way whatever
        order the shuffle delivers.  The grid spans the first..last
        observed bucket, so linear fill is interior-only and ffill is a
        forward index scan; both equal the public ``gapfill`` operators
        over a ``sequence()`` grid byte for byte (tests/test_rollup.py).

        ``with_payload=False`` skips encoding the Gorilla payloads on every
        tier (the column comes back NULL): a consumer that only reads
        ``features``/``n_points`` — e.g. a report query — should not pay
        the bit-packing cost for bytes it immediately discards.  Every
        other column is identical either way (tests/test_rollup.py)."""
        idc = list(self.id_cols)
        step, method, settings = self.base_step_seconds, self.gap_method, self.settings
        cuts = [(spec.name, spec.window_seconds) for spec in self.tiers]

        def windows(name, ids, offsets, ts, values, window_seconds, feature_settings=None):
            """One tier's record batch: every row cut at ``window_seconds``
            boundaries, with its point count, its features under
            ``feature_settings`` and its encoded payload; a column not
            wanted is a typed NULL column."""
            rows, starts, bounds = _cut_windows(offsets, ts, window_seconds)
            features, payload = pa.nulls(len(rows), _FEATURES), pa.nulls(len(rows), pa.binary())
            if feature_settings is not None:
                slices = pa.ListArray.from_arrays(bounds.astype(np.int32), values)
                features = _feature_map(ids[1].take(rows), slices, feature_settings)
            if with_payload:
                chunks = [encode_series(ts[a:b], values[a:b]) for a, b in zip(bounds, bounds[1:])]
                payload = pa.array(chunks, pa.binary())
            return pa.RecordBatch.from_arrays(
                [*(c.take(rows) for c in ids), pa.array(starts), pa.array(np.diff(bounds)),
                 features, payload, pa.repeat(name, len(rows))],
                [*idc, "window_start", "n_points", "features", "payload", "tier"],
            )

        def run(batches):
            for batch in batches:
                ids = batch.columns[: len(idc)]
                # aligned list columns; NULL values become NaN
                ts, values = (np.asarray(batch.column(c).flatten()) for c in ("ts", "value"))
                offsets = batch.column("ts").offsets.to_numpy()
                offsets = offsets - offsets[0]
                yield windows("raw", ids, offsets, ts, values, DAY)
                offsets, ts, values = _flatten(
                    _fill_series(ts[a:b], values[a:b], step, method)
                    for a, b in zip(offsets[:-1], offsets[1:])
                )
                yield windows("base", ids, offsets, ts, values, DAY)
                for name, window_seconds in cuts:
                    yield windows(name, ids, offsets, ts, values, window_seconds, settings)

        series = self._chunk_points(self._spread(points))
        id_schema = ", ".join(
            f"{c} {series.schema[c].dataType.simpleString()}" for c in idc
        )
        return series.mapInArrow(run, f"{id_schema}, {_TIER_COLUMNS}")

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

        fs, hpath = hadoop_fs(self.spark, self.base_path)
        fs.delete(hpath(path), True)
        fs.rename(hpath(staging), hpath(path))

        after = sum(n for _, n, _ in self.manifest.footer_counts(path))
        self.manifest.record_tier(
            job_id, tier, path, f"retention(cutoff={cutoff}) {before}->{after}"
        )
        return {"tier": tier, "cutoff": cutoff, "before": before, "after": after}

    # -------------------------------------------------------------- pipeline

    def run(self, raw_points: DataFrame, job_id: str) -> dict[str, str]:
        """Run the cascade; returns {tier_name: path}.  ``raw_points`` must
        have columns id_cols + (ts: long epoch seconds, value: double).

        One write persists every tier not yet committed for this job_id,
        then each gets its COMMIT.  Resume: committed tiers are skipped and
        their files left untouched; the rest are recomputed from
        ``raw_points``.

        Every COMMIT lineage carries the input's fingerprint,
        ``input(rows=<count>,xxhash64=<bit_xor of the rows' xxhash64>)``,
        one aggregate over ``raw_points``.  A ``job_id`` committed for a
        different input raises ``ValueError`` before anything is written,
        instead of resuming to the other input's tiers; a COMMIT without a
        fingerprint (a retention commit) is accepted.  The aggregate runs
        in a second thread, beside the manifest read and the write: on its
        own it is one more Spark job, about 0.25 s on ``local[4]``, which a
        job's whole cascade of a few seconds would wait for.
        """
        from tsfresh_spark.plans.profiling import StageProfiler

        lineage = {"raw": "raw<-input", "base": "base<-input(gapfill)"}
        names = ["raw", "base", *(spec.name for spec in self.tiers)]

        def fingerprint() -> str:
            rows, digest = raw_points.agg(
                F.count(F.lit(1)),
                F.coalesce(F.bit_xor(F.xxhash64(*self.id_cols, "ts", "value")), F.lit(0)),
            ).first()
            return f"input(rows={rows},xxhash64={digest})"

        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(fingerprint)
            commits = self.manifest.commits(job_id)
            stale = sorted(
                tier
                for tier, lineages in commits.items()
                if any(
                    "input(rows=" in text and pending.result() not in text for text in lineages
                )
            )
            if stale:
                raise ValueError(
                    f"job_id {job_id!r} committed tiers {stale} for a different input "
                    f"than this {pending.result()}; use a new job_id for new input"
                )
            todo = [name for name in names if name not in commits]
            if todo:
                # profile the write's stages (scoped by a job tag, so the
                # cost is O(stages of this job) and other threads' jobs,
                # the fingerprint's among them, stay out) and persist the
                # summary with every COMMIT lineage: the one shared pass's
                # compute/shuffle/spill, which the 100-TB tuning loop reads.
                with StageProfiler(self.spark) as prof:
                    self._write(self.cascade(raw_points), todo)
                s = prof.summary()
                profile = (
                    f"profile(run_ms={s['executor_run_time_ms']},"
                    f"cpu_ms={s['executor_cpu_time_ms']},"
                    f"shuffle_w={s['shuffle_write_bytes']},"
                    f"shuffle_r={s['shuffle_read_bytes']},"
                    f"spill={s['memory_spilled_bytes'] + s['disk_spilled_bytes']},"
                    f"stages={s['num_stages']},tasks={s['num_tasks']})"
                )
                for name in todo:
                    self.manifest.record_tier(
                        job_id, name, self.tier_path(name),
                        f"{lineage.get(name, f'{name}<-base')} {profile} {pending.result()}",
                    )
        return {name: self.tier_path(name) for name in names}


def _flatten(series) -> tuple:
    """Flat ``(offsets, ts, values)`` of ``(ts, values)`` pairs — the window
    map's batch layout: row ``i`` is ``ts[offsets[i]:offsets[i + 1]]``."""
    series = list(series)
    offsets = np.zeros(len(series) + 1, np.int64)
    np.cumsum([len(t) for t, _ in series], out=offsets[1:])
    ts = np.concatenate([np.empty(0, np.int64), *(t for t, _ in series)])
    return offsets, ts, np.concatenate([np.empty(0), *(v for _, v in series)])


def _fill_series(ts: np.ndarray, vals: np.ndarray, step: int, method: str):
    """One series' sorted points on a regular ``step`` grid from its first to
    its last bucket: each bucket keeps its last point, and holes (NaN
    included) are filled forward or linearly."""
    bucket = ts - ts % step
    # last observation per bucket: the last index of each bucket run wins
    change = np.concatenate([bucket[1:] != bucket[:-1], [True]])
    ub, uv = bucket[change], vals[change]
    grid = np.arange(ub[0], ub[-1] + step, step, dtype=np.int64)
    filled = np.full(len(grid), np.nan)
    filled[(ub - ub[0]) // step] = uv
    if method == "ffill":
        idx = np.where(~np.isnan(filled), np.arange(len(filled)), 0)
        np.maximum.accumulate(idx, out=idx)
        return grid, filled[idx]
    # linear, interior-only by construction; op-for-op identical to
    # fill_linear's prev + (next-prev)*(pos-pt)/(nt-pt)
    j = np.searchsorted(ub, grid, side="right") - 1
    prev_t, prev_v = ub[j], uv[j]
    nxt = np.minimum(j + 1, len(ub) - 1)
    next_t, next_v = ub[nxt], uv[nxt]
    observed = grid == prev_t
    with np.errstate(all="ignore"):
        interp = prev_v + (next_v - prev_v) * (
            grid - prev_t
        ).astype(np.float64) / (next_t - prev_t).astype(np.float64)
    return grid, np.where(observed, prev_v, interp)


def _cut_windows(offsets, ts, window_seconds: int):
    """Cut every row at ``window_seconds`` boundaries in one pass.  Returns
    each window's row, its start and the flat ``bounds`` (window ``k`` is
    ``bounds[k]:bounds[k + 1]``)."""
    w = ts - ts % window_seconds
    head = np.zeros(len(ts), bool)
    head[1:] = w[1:] != w[:-1]
    head[offsets[:-1][offsets[:-1] < len(ts)]] = True
    starts = np.flatnonzero(head)
    rows = np.searchsorted(offsets, starts, side="right") - 1
    return rows, w[starts], np.append(starts, len(ts))
