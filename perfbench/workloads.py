"""The benchmark's workloads.

Each workload makes its inputs from the seed (the program only ever sees the
generated frames), runs one job per call to :meth:`job` (the timed part),
reads back whatever the job left behind in :meth:`observe`, and verifies it
in :meth:`check`.  :meth:`layer_metrics` runs the per-layer probes of a
traced run.

Every call into a program layer sits inside a tracer span named
``<layer>.<function>``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import warnings
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from checks import SinkResult, compare_features, sink

KERNEL_MODULES = ("statistics", "ordered", "spectral", "entropy", "model")
TIERS = ("raw", "base", "1h", "1d")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------- kernels


def kernel_probe(tracer, series: list[tuple[np.ndarray, str]], settings: dict, reps: int = 3) -> dict:
    """Single-threaded, driver-side kernel timing on ``series``.

    ``kernels.ms_per_series`` times ``compute_series_features`` as a whole.
    The per-module figures call every registry kernel of the settings
    directly, clearing the cross-kernel caches after each call, so they do
    not sum to the whole."""
    from tsfresh_spark.extract import compute_series_features
    from tsfresh_spark.kernels.entropy import clear_cheb_cache
    from tsfresh_spark.kernels.helpers import clear_psd_cache
    from tsfresh_spark.kernels.registry import get_kernel
    from tsfresh_spark.kernels.spectral import clear_rfft_cache

    n = len(series)
    for x, kind in series[:1]:  # compile the settings plan outside the timing
        list(compute_series_features(x, kind, settings))
    whole = []
    for _ in range(reps):
        with tracer.span("kernels.compute_series_features", series=n):
            a = time.perf_counter()
            for x, kind in series:
                list(compute_series_features(x, kind, settings))
            whole.append(time.perf_counter() - a)

    by_module: dict[str, list] = {m: [] for m in KERNEL_MODULES}
    for name, params in settings.items():
        info = get_kernel(name)
        module = info.func.__module__.rsplit(".", 1)[-1]
        if info.available and not info.requires_timestamps and module in by_module:
            by_module[module].append((info, params))
    inputs = [(x, pd.Series(x)) for x, _ in series]
    per_module = {}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        for module, kernels in by_module.items():
            totals = []
            for _ in range(reps):
                with tracer.span(f"kernels.{module}", series=n, kernels=len(kernels)):
                    a = time.perf_counter()
                    for x, xs in inputs:
                        for info, params in kernels:
                            arg = xs if info.input == "series" else x
                            if info.fctype == "combiner":
                                list(info.func(arg, param=params))
                            elif params:
                                for p in params:
                                    info.func(arg, **p)
                            else:
                                info.func(arg)
                            clear_cheb_cache()
                            clear_psd_cache()
                            clear_rfft_cache()
                    totals.append(time.perf_counter() - a)
            per_module[module] = 1000.0 * _median(totals) / n if kernels else 0.0

    out = {"kernels.ms_per_series": 1000.0 * _median(whole) / n}
    for module in KERNEL_MODULES:
        out[f"kernels.{module}.ms_per_series"] = per_module[module]
    return out


# ------------------------------------------------------------------ workloads


class Workload:
    name = ""
    points = 0  # input points (tokens or observations) per job
    feature_series = 0  # compute_series_features calls per job

    def __init__(self, spark, seed: int, size: str, work_dir: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.work_dir = work_dir
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.reference = None

    def generate(self, tracer) -> None:
        raise NotImplementedError

    def job(self, tracer):
        raise NotImplementedError

    def observe(self, out, tracer):
        return out

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def corrupt(self, out) -> None:
        raise NotImplementedError

    def layer_metrics(self, tracer, jobs: list) -> dict:
        raise NotImplementedError


class _ExtractWorkload(Workload):
    """Shared by the two read-only extraction workloads: the sink digests
    the whole output and returns the sampled series, which are compared
    with ``compute_series_features`` recomputed on the driver."""

    id_col = ""
    kernel_sample = 8

    def _extract(self, settings: dict):
        raise NotImplementedError

    def _series(self, ids) -> dict:
        """id → (values, kind) for the given ids, read from the input."""
        raise NotImplementedError

    def _features(self, sample_row_list) -> dict:
        raise NotImplementedError

    def _run(self, tracer, settings: dict, label: str) -> SinkResult:
        with tracer.span(label):
            df = self._extract(settings)
        with tracer.span("sink.digest"):
            return sink(df, self.id_col, self.sample_ids)

    def job(self, tracer) -> SinkResult:
        return self._run(tracer, self.settings, self.extract_span)

    def check(self, out: SinkResult) -> list[str]:
        from tsfresh_spark.extract import compute_series_features

        if self.reference is None:
            self.reference = out.digest
            self.expected = {
                sid: dict(compute_series_features(x, kind, self.settings))
                for sid, (x, kind) in self._series(self.sample_ids).items()
            }
        errors = []
        if out.digest != self.reference:
            errors.append(f"digest {out.digest} != first job's {self.reference}")
        got = self._features(out.sample)
        for sid, want in self.expected.items():
            errors += compare_features(f"series {sid}", got.get(sid), want)
        return errors

    def layer_metrics(self, tracer, jobs: list) -> dict:
        shuttle = []
        self._run(tracer, {}, "extract.shuttle")  # warm the empty plan
        for _ in range(3):
            a = time.perf_counter()
            self._run(tracer, {}, "extract.shuttle")
            shuttle.append(time.perf_counter() - a)
        n = min(self.kernel_sample, len(self.all_ids))
        ids = sorted(self.rng.choice(self.all_ids, n, replace=False).tolist())
        series = list(self._series(ids).values())
        out = kernel_probe(tracer, series, self.settings)
        out["extract.shuttle_s"] = _median(shuttle)
        out["extract.rows_out"] = float(jobs[-1]["out"].rows)
        return out


class TokensExtract(_ExtractWorkload):
    """North-star corpus shape through the shuffle-free ``mapInPandas``
    path with map output."""

    name = "tokens_extract"
    id_col = "doc_id"
    extract_span = "extract.extract_features_tokens"
    sizes = {"full": 200_000, "smoke": 12_000}  # tokens per job

    def generate(self, tracer) -> None:
        from tsfresh_spark.settings import efficient_settings
        from tsfresh_spark.sources.synthetic import tokens_corpus

        budget = self.sizes[self.size]
        self.settings = efficient_settings()
        # One corpus slice per core, each cut after the doc that reaches its
        # share of the token budget: every seed brings the same work, spread
        # evenly over the tasks.  The seed picks where the slices start.
        share = budget // self.cores
        self.span = share // 256  # candidate docs per slice, ~5x what a share needs
        self.first = self.seed * self.cores * self.span
        with tracer.span("sources.tokens_corpus"):
            lengths = np.array([
                r["n_tok"]
                for r in tokens_corpus(self.spark, self.cores * self.span, start_id=self.first)
                .orderBy("doc_id").select("n_tok").collect()
            ]).reshape(self.cores, self.span).cumsum(axis=1)
            if (lengths[:, -1] < share).any():
                raise RuntimeError("token budget not reached by the candidate docs")
            counts = [int(np.searchsorted(row, share)) + 1 for row in lengths]
            self.all_ids = [
                f"doc{self.first + p * self.span + i:010d}"
                for p, n in enumerate(counts) for i in range(n)
            ]
            self._load(self.cores)
        self.sample_ids = sorted(self.rng.choice(self.all_ids, 4, replace=False).tolist())
        self.feature_series = len(self.all_ids)

    def _load(self, partitions: int) -> None:
        """Cache the chosen docs as the job's input.  With one partition per
        core, range partition p holds exactly slice p, so the filter leaves
        one balanced partition per core."""
        from tsfresh_spark.sources.synthetic import tokens_corpus

        self.input = (
            tokens_corpus(
                self.spark, self.cores * self.span, start_id=self.first, n_partitions=partitions
            )
            .filter(F.col("doc_id").isin(self.all_ids))
            .cache()
        )
        self.points = int(self.input.agg(F.sum("n_tok")).collect()[0][0])

    def rebind(self, spark) -> None:
        """Load the same docs into another session, in one partition."""
        self.spark = spark
        self._load(1)

    def _extract(self, settings: dict):
        from tsfresh_spark.extract import extract_features_tokens

        return extract_features_tokens(self.input, settings, output="map")

    def _series(self, ids) -> dict:
        rows = self.input.filter(F.col("doc_id").isin(list(ids))).collect()
        return {
            r["doc_id"]: (np.asarray(r["tokens"], dtype=np.int64), str(r["source"]))
            for r in rows
        }

    def _features(self, sample) -> dict:
        return {r["doc_id"]: r["features"] for r in sample}

    def corrupt(self, out: SinkResult) -> None:
        feats = out.sample[0]["features"]
        name = sorted(feats)[0]
        feats[name] = (feats[name] or 0.0) + 1.0


class LongGroupedExtract(_ExtractWorkload):
    """Many short series in long format through the grouping shuffle and
    ``applyInPandas``."""

    name = "long_grouped_extract"
    id_col = "id"
    extract_span = "extract.extract_features_long"
    sizes = {"full": 250, "smoke": 16}
    length = 64
    kernel_sample = 32

    def generate(self, tracer) -> None:
        from tsfresh_spark.settings import efficient_settings
        from tsfresh_spark.sources.synthetic import random_walks

        n_ids = self.sizes[self.size]
        self.settings = efficient_settings()
        with tracer.span("sources.random_walks"):
            self.input = random_walks(self.spark, n_ids, self.length, seed=self.seed).cache()
            self.points = self.input.count()
        self.all_ids = list(range(n_ids))
        self.sample_ids = sorted(self.rng.choice(self.all_ids, 4, replace=False).tolist())
        self.feature_series = n_ids

    def _extract(self, settings: dict):
        from tsfresh_spark.extract import extract_features_long

        return extract_features_long(self.input, settings)

    def _series(self, ids) -> dict:
        pdf = self.input.filter(F.col("id").isin(list(ids))).toPandas()
        return {
            int(sid): (g.sort_values("time")["value"].to_numpy(np.float64), str(g["kind"].iloc[0]))
            for sid, g in pdf.groupby("id")
        }

    def _features(self, sample) -> dict:
        out: dict = {}
        for r in sample:
            out.setdefault(r["id"], {})[r["variable"]] = r["value"]
        return out

    def corrupt(self, out: SinkResult) -> None:
        row = out.sample[0]
        row["value"] = (row["value"] or 0.0) + 1.0


# --------------------------------------------------------------------- rollup

DAY = 86400
STEP = 60
EPOCH0 = 1_700_006_400  # a UTC day boundary
SOURCES = ["web", "code", "wiki", "books", "news"]
SOURCE_P = [0.5, 0.25, 0.1, 0.1, 0.05]
JOB_ID = "perfbench"


@dataclass
class RollupOutput:
    engine: object
    started: float  # epoch seconds at submit
    commits: list[dict] = field(default_factory=list)
    tiers: dict = field(default_factory=dict)
    raw_min_window: int | None = None
    resume_s: float = 0.0
    commits_after_resume: int = 0
    commit_s: list[float] = field(default_factory=list)


class RollupCascade(Workload):
    """Irregular points through the raw → base → 1h → 1d cascade, every
    tier written and committed, then raw retention."""

    name = "rollup_cascade"
    sizes = {"full": 32, "smoke": 2}
    days = 3

    def generate(self, tracer) -> None:
        from tsfresh_spark.settings import minimal_settings

        self.settings = minimal_settings()
        n_series = self.sizes[self.size]
        with tracer.span("sources.rollup_points"):
            frames = [self._series_points(i) for i in range(n_series)]
            self.pdf = pd.concat(frames, ignore_index=True)
            self.input = self.spark.createDataFrame(
                self.pdf, "doc_id string, source string, ts long, value double"
            ).cache()
            self.points = self.input.count()
        self.now_ts = EPOCH0 + (self.days + 1) * DAY
        self.sample_ids = sorted(
            self.rng.choice(self.pdf["doc_id"].unique(), 2, replace=False).tolist()
        )
        self.k = 0

    def _series_points(self, i: int) -> pd.DataFrame:
        """One series: a 60 s slot grid over ``days`` days from a random
        offset, about 8% of slots dropped singly plus a few dropped runs of
        5-60 minutes, each kept slot jittered by 0-59 s."""
        rng = self.rng
        start = EPOCH0 + int(rng.integers(0, 6 * 3600))
        n = self.days * DAY // STEP
        keep = rng.random(n) > 0.08
        for a in rng.integers(0, n, size=6):
            keep[a : a + int(rng.integers(5, 61))] = False
        keep[0] = True
        slots = np.flatnonzero(keep)
        ts = start + slots * STEP + rng.integers(0, STEP, size=len(slots))
        values = np.round(100.0 + np.cumsum(rng.normal(0.0, 0.5, size=len(slots))), 2)
        return pd.DataFrame(
            {
                "doc_id": f"series{i:04d}",
                "source": SOURCES[int(rng.choice(len(SOURCES), p=SOURCE_P))],
                "ts": ts.astype(np.int64),
                "value": values,
            }
        )

    def job(self, tracer) -> RollupOutput:
        from tsfresh_spark.operators.rollup import RollupEngine

        self.k += 1
        base = os.path.join(self.work_dir, f"rollup-{self.k}")
        engine = RollupEngine(self.spark, base, settings=self.settings)
        out = RollupOutput(engine=engine, started=time.time())
        with tracer.span("rollup.run"):
            engine.run(self.input, job_id=JOB_ID)
        with tracer.span("rollup.apply_retention"):
            engine.apply_retention("raw", keep_seconds=DAY, now_ts=self.now_ts, job_id=JOB_ID)
        return out

    # ---------------------------------------------------------- read back

    def _commits(self, engine) -> list[dict]:
        rows = (
            self.spark.read.parquet(engine.manifest.path)
            .filter(F.col("partition_id") == -1)
            .select(
                "tier", "row_count", "byte_count", "lineage",
                F.col("committed_at").cast("double").alias("at"),
            )
            .orderBy("at")
            .collect()
        )
        return [r.asDict() for r in rows]

    def observe(self, out: RollupOutput, tracer) -> RollupOutput:
        engine = out.engine
        with tracer.span("manifest.read_commits"):
            out.commits = self._commits(engine)
        for tier in TIERS:
            with tracer.span("sink.digest", tier=tier):
                out.tiers[tier] = sink(
                    self.spark.read.parquet(engine.tier_path(tier)), "doc_id", self.sample_ids
                )
        with tracer.span("sink.min_window"):
            raw = self.spark.read.parquet(engine.tier_path("raw"))
            out.raw_min_window = raw.agg(F.min("window_start")).collect()[0][0]
        with tracer.span("rollup.run.resume"):
            a = time.perf_counter()
            engine.run(self.input, job_id=JOB_ID)
            out.resume_s = time.perf_counter() - a
        out.commits_after_resume = len(self._commits(engine))
        if tracer.enabled:
            # the manifest probe: a COMMIT of the written 1d tier under a
            # scratch job id, taken here while the tiers are still on disk
            for i in range(3):
                with tracer.span("manifest.record_tier"):
                    a = time.perf_counter()
                    engine.manifest.record_tier(
                        f"{JOB_ID}-probe{i}", "1d", engine.tier_path("1d"), "probe"
                    )
                    out.commit_s.append(time.perf_counter() - a)
        # keep only the newest job's tiers on disk: every later read of an
        # older job goes to what this method left in memory
        prev = os.path.join(self.work_dir, f"rollup-{self.k - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return out

    # -------------------------------------------------------------- checks

    def _expected_grid(self, doc_id: str) -> tuple[np.ndarray, np.ndarray]:
        """Independent numpy ffill of the input: last observation per 60 s
        bucket, a regular grid from the first to the last bucket, gaps
        carried forward."""
        pts = self.pdf[self.pdf["doc_id"] == doc_id].sort_values("ts")
        ts = pts["ts"].to_numpy(np.int64)
        vals = pts["value"].to_numpy(np.float64)
        bucket = ts - ts % STEP
        last = np.r_[bucket[1:] != bucket[:-1], True]
        ub, uv = bucket[last], vals[last]
        grid = np.arange(ub[0], ub[-1] + STEP, STEP, dtype=np.int64)
        filled = np.full(len(grid), np.nan)
        filled[(ub - ub[0]) // STEP] = uv
        idx = np.where(np.isnan(filled), 0, np.arange(len(grid)))
        np.maximum.accumulate(idx, out=idx)
        return grid, filled[idx]

    def _source(self, doc_id: str) -> str:
        return str(self.pdf.loc[self.pdf["doc_id"] == doc_id, "source"].iloc[0])

    def check(self, out: RollupOutput) -> list[str]:
        from tsfresh_spark.extract import compute_series_features
        from tsfresh_spark.functions.codec import decode_series

        errors = []
        digest = tuple(out.tiers[t].digest for t in TIERS)
        if self.reference is None:
            self.reference = digest
        elif digest != self.reference:
            errors.append(f"tier digests {digest} != first job's {self.reference}")

        latest = {c["tier"]: c for c in out.commits}  # ordered by commit time
        for tier in TIERS:
            if tier not in latest:
                errors.append(f"tier {tier} has no COMMIT")
            elif latest[tier]["row_count"] != out.tiers[tier].rows:
                errors.append(
                    f"tier {tier}: COMMIT rows {latest[tier]['row_count']} != "
                    f"{out.tiers[tier].rows} stored"
                )
        cutoff = self.now_ts - DAY
        if out.raw_min_window is not None and out.raw_min_window < cutoff:
            errors.append(f"raw keeps window {out.raw_min_window} < cutoff {cutoff}")
        if out.commits_after_resume != len(out.commits):
            errors.append(
                f"resume wrote {out.commits_after_resume - len(out.commits)} new COMMIT rows"
            )

        for doc_id in self.sample_ids:
            grid, filled = self._expected_grid(doc_id)
            kind = self._source(doc_id)
            base = sorted(
                (r for r in out.tiers["base"].sample if r["doc_id"] == doc_id),
                key=lambda r: r["window_start"],
            )
            decoded = [decode_series(bytes(r["payload"])) for r in base]
            ts = np.concatenate([d[0] for d in decoded]) if decoded else np.array([], np.int64)
            vals = np.concatenate([d[1] for d in decoded]) if decoded else np.array([])
            if not (np.array_equal(ts, grid) and vals.tobytes() == filled.tobytes()):
                errors.append(f"{doc_id}: decoded base grid differs from numpy ffill")
                continue
            for tier, width in (("1h", 3600), ("1d", DAY)):
                for r in out.tiers[tier].sample:
                    if r["doc_id"] != doc_id:
                        continue
                    ws = r["window_start"]
                    w_ts, w_vals = decode_series(bytes(r["payload"]))
                    inside = (grid >= ws) & (grid < ws + width)
                    if not (np.array_equal(w_ts, grid[inside]) and w_vals.tobytes() == filled[inside].tobytes()):
                        errors.append(f"{doc_id} {tier}@{ws}: window payload differs")
                        continue
                    want = dict(compute_series_features(w_vals, kind, self.settings))
                    errors += compare_features(f"{doc_id} {tier}@{ws}", r["features"], want)
                    if r["n_points"] != len(w_ts):
                        errors.append(f"{doc_id} {tier}@{ws}: n_points {r['n_points']}")
        return errors

    def corrupt(self, out: RollupOutput) -> None:
        from tsfresh_spark.functions.codec import decode_series, encode_series

        row = out.tiers["base"].sample[0]
        ts, vals = decode_series(bytes(row["payload"]))
        vals[len(vals) // 2] += 1.0
        row["payload"] = encode_series(ts, vals)

    # ------------------------------------------------------- layer probes

    def _tier_figures(self, out: RollupOutput) -> dict:
        """Per-tier wall time from the COMMIT timestamps, task time and
        shuffle bytes from the ``profile(...)`` lineage the engine records."""
        figs = {}
        prev = out.started
        for c in out.commits:
            tier = c["tier"]
            if tier in figs or "profile(" not in c["lineage"]:
                continue
            prof = dict(
                kv.split("=")
                for kv in c["lineage"].split("profile(", 1)[1].split(")", 1)[0].split(",")
            )
            figs[tier] = {
                "wall_s": c["at"] - prev,
                "task_s": int(prof["run_ms"]) / 1000.0,
                "shuffle_bytes": float(int(prof["shuffle_w"])),
            }
            prev = c["at"]
        return figs

    def stored_bytes(self, out: RollupOutput) -> int:
        latest = {c["tier"]: c for c in out.commits}
        return sum(int(c["byte_count"]) for c in latest.values())

    def layer_metrics(self, tracer, jobs: list) -> dict:
        from tsfresh_spark.functions.codec import decode_series, encode_series

        traced = [j for j in jobs if j["traced"] and j["out"] is not None]
        last = traced[-1]["out"]
        m: dict = {}
        per_tier = [self._tier_figures(j["out"]) for j in traced]
        for tier in TIERS:
            for key in ("wall_s", "task_s", "shuffle_bytes"):
                m[f"rollup.{tier}.{key}"] = _median([f[tier][key] for f in per_tier if tier in f])
        m["rollup.retention_s"] = _median(tracer.durations("rollup.apply_retention", "job"))
        m["rollup.stored_bytes_per_point"] = self.stored_bytes(last) / self.points

        # codec on this run's own base-tier day chunks
        chunks = [bytes(r["payload"]) for r in last.tiers["base"].sample]
        decoded = [decode_series(c) for c in chunks]
        n_points = sum(len(t) for t, _ in decoded)
        enc, dec = [], []
        for _ in range(5):
            with tracer.span("codec.encode_series", points=n_points):
                a = time.perf_counter()
                for ts, vals in decoded:
                    encode_series(ts, vals)
                enc.append(time.perf_counter() - a)
            with tracer.span("codec.decode_series", points=n_points):
                a = time.perf_counter()
                for c in chunks:
                    decode_series(c)
                dec.append(time.perf_counter() - a)
        m["codec.encode_us_per_point"] = 1e6 * _median(enc) / n_points
        m["codec.decode_us_per_point"] = 1e6 * _median(dec) / n_points
        m["codec.bytes_per_point"] = sum(len(c) for c in chunks) / n_points

        # manifest: COMMITs under a scratch job id and resumes of a fully
        # committed job, both taken in observe()
        done = [j["out"] for j in jobs if j["out"] is not None]
        m["manifest.commit_s"] = _median([t for out in done for t in out.commit_s])
        m["manifest.resume_s"] = _median([out.resume_s for out in done])

        # kernels on the windows the feature tiers compute for the sample
        series = []
        for tier in ("1h", "1d"):
            for r in last.tiers[tier].sample:
                series.append((decode_series(bytes(r["payload"]))[1], self._source(r["doc_id"])))
        m.update(kernel_probe(tracer, series, self.settings))
        self.feature_series = last.tiers["1h"].rows + last.tiers["1d"].rows
        return m


WORKLOADS = {w.name: w for w in (TokensExtract, LongGroupedExtract, RollupCascade)}
