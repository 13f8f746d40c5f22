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

Every tier is one ``mapInArrow`` window map over per-series arrays or
stored payloads: it cuts a whole Arrow batch into windows in one pass and
builds the tier's record batch directly, features from the shared executor
(``extract._feature_map``).  Raw groups the points per (series, day), base
per series (base gap-fills in the map).  Feature tiers read the BASE tier's
compressed day-chunks, never the raw input: day-aligned windows split each
payload in the map; wider windows decode + regroup.  The codec is
bit-exact, so "cascade" and "direct" produce identical features (asserted
in tests).

Two layouts, two exchanges per tier.  The compute layout: one exchange
with an explicit count of max(shuffle partitions, defaultParallelism)
feeds every window map, so the map runs once, on every core — a range
exchange on doc_id under the raw and base ``groupBy`` (which reuses it),
round-robin over the stored base payloads for day-aligned tiers, a hash
pin of the decoded points for wider ones.  The file layout: ``_write``
hash-partitions the map output on doc_id with no count, sorted within
partitions, and AQE sizes the files by bytes.  No range exchange ever sits
above a map: range partitioning samples its input with a separate job,
which would run the map twice.  Each write is recorded in the manifest with
per-file row/byte metrics and a COMMIT record; a re-run of the same job_id
skips committed tiers (resume from checkpoint).

Timestamps are epoch seconds (int64) throughout the engine — integer window
arithmetic (``ts - ts % step``) is exact, codegen-friendly, and avoids
timezone semantics entirely.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tsfresh_spark.extract import _feature_map
from tsfresh_spark.functions.codec import decode_series, encode_series
from tsfresh_spark.plans.manifest import Manifest

DAY = 86400
_FEATURES = pa.map_(pa.string(), pa.float64())
_TIER_COLUMNS = "window_start long, n_points long, features map<string,double>, payload binary"


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

    def _write(self, df: DataFrame, tier: str) -> str:
        """File layout: hash on ``doc_id`` with no count, so AQE sizes the
        files by bytes (one file per tier for a small job), each sorted by
        (doc_id, window_start).  A hash exchange samples nothing, so the
        window map below it runs once."""
        path = self.tier_path(tier)
        doc_col = self.id_cols[0]
        out = df.repartition(doc_col).sortWithinPartitions(doc_col, "window_start")
        out.write.mode("overwrite").parquet(path)
        return path

    # ---------------------------------------------------- compute layout

    def _spread_count(self) -> int:
        """Partitions a window map runs on: every core, and at least the
        session's shuffle partitions.  An explicit count, so AQE keeps it
        (byte-coalescing would run a small compute-bound map on one core)."""
        sc = self.spark.sparkContext
        return max(int(self.spark.conf.get("spark.sql.shuffle.partitions")), sc.defaultParallelism)

    def _spread(self, points: DataFrame) -> DataFrame:
        """Range-partition raw points on ``doc_id`` ahead of a per-series
        ``groupBy``: the range sample reads only the input, and the
        aggregate reuses the exchange (range on ``doc_id`` clusters every
        key set that contains it)."""
        return points.repartitionByRange(self._spread_count(), self.id_cols[0])

    # ------------------------------------------------------- point shuttling

    def _chunk_points(self, points: DataFrame, *keys: str | Column) -> DataFrame:
        """points (id..., ts long, value double) → one row per group of
        ``keys`` with its ``ts``/``value`` arrays in (ts, value) order; a
        NULL value sorts first among points tied on ``ts``."""
        return points.groupBy(*keys).agg(
            F.array_sort(F.collect_list(F.struct("ts", "value"))).alias("pts")
        ).select(*self.id_cols, F.col("pts.ts").alias("ts"), F.col("pts.value").alias("value"))

    def _id_schema(self, frame: DataFrame) -> str:
        return ", ".join(f"{c} {frame.schema[c].dataType.simpleString()}" for c in self.id_cols)

    def decode_points(self, stored: DataFrame) -> DataFrame:
        """Decode a tier frame's payload column back to (id..., ts, value)
        rows — each payload once, in a narrow ``mapInArrow``."""
        names = [*self.id_cols, "ts", "value"]

        def run(batches):
            for batch in batches:
                offsets, ts, values = _decode(batch.column("payload"))
                rows = np.repeat(np.arange(batch.num_rows), np.diff(offsets))
                ids = [c.take(rows) for c in batch.columns[:-1]]
                yield pa.RecordBatch.from_arrays([*ids, pa.array(ts), pa.array(values)], names)

        return stored.select(*self.id_cols, "payload").mapInArrow(
            run, f"{self._id_schema(stored)}, ts long, value double"
        )

    def _map_windows(
        self,
        frame: DataFrame,
        window_seconds: int,
        *,
        settings: dict | None = None,
        with_payload: bool = True,
        fill_step: int | None = None,
    ) -> DataFrame:
        """Narrow ``mapInArrow``: each row of ``frame`` (id_cols + either
        sorted ``ts``/``value`` arrays or a stored ``payload``) becomes one
        tier row per ``window_seconds`` window its points fall in — no
        shuffle.  ``fill_step`` first gap-fills each row onto that grid (the
        base tier).  Each window gets its point count, its feature map under
        ``settings`` and its encoded payload (``with_payload``); a column not
        wanted comes back as a typed NULL column.  Every tier shares this
        stored schema."""
        idc = list(self.id_cols)
        method = self.gap_method
        encoded = "payload" in frame.columns

        def run(batches):
            for batch in batches:
                ids = batch.columns[: len(idc)]
                if encoded:
                    offsets, ts, values = _decode(batch.column("payload"))
                else:  # aligned list columns; NULL values become NaN
                    ts, values = (np.asarray(batch.column(c).flatten()) for c in ("ts", "value"))
                    offsets = batch.column("ts").offsets.to_numpy()
                    offsets = offsets - offsets[0]
                if fill_step:
                    offsets, ts, values = _flatten(
                        _fill_series(ts[a:b], values[a:b], fill_step, method)
                        for a, b in zip(offsets[:-1], offsets[1:])
                    )
                rows, starts, bounds = _cut_windows(offsets, ts, window_seconds)
                features, payload = pa.nulls(len(rows), _FEATURES), pa.nulls(len(rows), pa.binary())
                if settings is not None:
                    windows = pa.ListArray.from_arrays(bounds.astype(np.int32), values)
                    features = _feature_map(ids[1].take(rows), windows, settings)
                if with_payload:
                    cuts = zip(bounds, bounds[1:])
                    chunks = [encode_series(ts[a:b], values[a:b]) for a, b in cuts]
                    payload = pa.array(chunks, pa.binary())
                yield pa.RecordBatch.from_arrays(
                    [*(c.take(rows) for c in ids), pa.array(starts), pa.array(np.diff(bounds)),
                     features, payload],
                    [*idc, "window_start", "n_points", "features", "payload"],
                )

        cols = ["payload"] if encoded else ["ts", "value"]
        schema = f"{self._id_schema(frame)}, {_TIER_COLUMNS}"
        return frame.select(*idc, *cols).mapInArrow(run, schema)

    # ------------------------------------------------------- tier computation

    def _archive_tier(self, points: DataFrame) -> DataFrame:
        """raw archival: per-day compressed chunks, no features."""
        chunks = self._chunk_points(self._spread(points), *self.id_cols, _window_start(DAY))
        return self._map_windows(chunks, DAY)

    def compute_base(self, points: DataFrame) -> DataFrame:
        """Public: the gap-filled, payload-encoded base tier for raw
        ``points`` (id_cols + ts:long epoch-seconds + value:double), without
        touching tier storage — the building block ``run()`` persists.

        One shuffle: the points are range-partitioned on ``doc_id`` into
        one partition per core (:meth:`_spread`), ``groupBy(ids)`` reuses
        that exchange to collect each series into one array sorted by
        (ts, value), as the raw tier stores it, and the window map buckets,
        grids, fills and day-chunks it, once, on every core.  Each
        ``base_step`` bucket keeps its last point in that order, so a tied
        last timestamp resolves the same way whatever order the shuffle
        delivers.  The grid spans the first..last observed bucket,
        so linear fill is interior-only and ffill is a forward index scan;
        both equal the public ``gapfill`` operators over a ``sequence()``
        grid byte for byte (tests/test_rollup.py).
        """
        series = self._chunk_points(self._spread(points), *self.id_cols)
        return self._map_windows(series, DAY, fill_step=self.base_step_seconds)

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
        stored day chunk, so the window map decodes each payload and splits
        it at window boundaries.  The base rows are first dealt round-robin
        into one partition per core (a base tier stored as one file scans
        as one split): that exchange moves only the compressed payloads and
        samples nothing, so the map runs once even over a base frame that
        is not stored.  Wider windows decode the points, hash them on
        (ids, window) into one partition per core and regroup them per
        window before the same window map.  Either way one exchange, with
        an explicit count, feeds the map.

        ``with_payload=False`` skips re-encoding the per-window Gorilla
        payloads (the column comes back NULL): a consumer that only reads
        ``features``/``n_points`` — e.g. a report query — should not pay
        the bit-packing cost for bytes it immediately discards.
        Features and every other column are identical either way
        (tests/test_rollup.py)."""
        n = self._spread_count()
        if DAY % window_seconds == 0:
            frame = base.repartition(n)
        else:
            points = self.decode_points(base).withColumn(
                "window_start", _window_start(window_seconds)
            )
            keys = [*self.id_cols, "window_start"]
            frame = self._chunk_points(points.repartition(n, *keys), *keys)
        return self._map_windows(
            frame, window_seconds, settings=self.settings, with_payload=with_payload
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


def _window_start(window_seconds: int) -> Column:
    return (F.col("ts") - F.pmod("ts", F.lit(window_seconds))).cast("long").alias("window_start")


def _flatten(series) -> tuple:
    """Flat ``(offsets, ts, values)`` of ``(ts, values)`` pairs — the window
    map's batch layout: row ``i`` is ``ts[offsets[i]:offsets[i + 1]]``."""
    series = list(series)
    offsets = np.zeros(len(series) + 1, np.int64)
    np.cumsum([len(t) for t, _ in series], out=offsets[1:])
    ts = np.concatenate([np.empty(0, np.int64), *(t for t, _ in series)])
    return offsets, ts, np.concatenate([np.empty(0), *(v for _, v in series)])


def _decode(payloads: pa.Array) -> tuple:
    return _flatten(map(decode_series, payloads.to_pylist()))


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
