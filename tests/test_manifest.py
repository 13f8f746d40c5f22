"""The manifest's commit file and its read: a COMMIT runs no Spark job,
files written by Spark's own Parquet writer and commit files read as one
frame, and a commit that fails before its rename leaves no row."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from tsfresh_spark.operators.rollup import DAY, RollupEngine, TierSpec
from tsfresh_spark.plans import manifest as manifest_module
from tsfresh_spark.plans.manifest import MANIFEST_SCHEMA, Manifest, hadoop_fs
from tsfresh_spark.plans.profiling import StageProfiler
from tsfresh_spark.settings import minimal_settings


@pytest.fixture(scope="module")
def raw_points(spark):
    rng = np.random.RandomState(11)
    rows = [
        (doc, source, int(t), float(v))
        for doc, source in [("d1", "web"), ("d2", "code")]
        for t, v in zip(np.cumsum(rng.randint(30, 600, 200)), rng.randint(0, 1000, 200))
    ]
    return spark.createDataFrame(rows, "doc_id string, source string, ts long, value double")


def _engine(spark, base) -> RollupEngine:
    return RollupEngine(
        spark, str(base), settings=minimal_settings(), base_step_seconds=60,
        tiers=[TierSpec("1h", 3600), TierSpec("1d", DAY)],
    )


@pytest.fixture(scope="module")
def engine(spark, raw_points, tmp_path_factory):
    eng = _engine(spark, tmp_path_factory.mktemp("manifest"))
    eng.run(raw_points, job_id="job-M")
    return eng


def _jobs(spark, fn) -> tuple[int, list]:
    """The number of Spark jobs and the stages that this thread runs in
    ``fn()``."""
    with StageProfiler(spark) as prof:
        fn()
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    return len(tracker.getJobIdsForTag(prof.tag)), prof.stages


# the package's commit: _spark_append builds its rows with it, also while
# a test has patched Manifest.record_tier to _spark_append
_RECORD = Manifest.record_tier


def _spark_append(self: Manifest, job_id, tier, data_path, lineage) -> None:
    """A manifest commit as earlier versions wrote it: the same rows,
    appended by a one-task Spark write job."""
    scratch = Manifest(self.spark, f"{self.base_path}/legacy-{tier}-{os.urandom(4).hex()}")
    _RECORD(scratch, job_id, tier, data_path, lineage)
    pdf = pq.read_table(scratch.path).to_pandas()
    (
        self.spark.createDataFrame(pdf, MANIFEST_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(self.path)
    )


def test_commit_runs_no_spark_job(spark, engine):
    jobs, stages = _jobs(
        spark, lambda: engine.manifest.record_tier("job-P", "1d", engine.tier_path("1d"), "probe")
    )
    assert (jobs, stages) == (0, [])
    assert engine.manifest.committed_tiers("job-P") == {"1d"}


def test_rollup_job_runs_five_fewer_spark_jobs(spark, raw_points, tmp_path, monkeypatch):
    """A whole job, ``run()`` plus ``apply_retention``, commits five times:
    each commit is one Spark job fewer than a Spark-written append."""

    def job(name):
        eng = _engine(spark, tmp_path / name)
        eng.run(raw_points, job_id="job-J")
        eng.apply_retention("raw", keep_seconds=DAY, now_ts=10 * DAY, job_id="job-J")

    now, _ = _jobs(spark, lambda: job("file"))
    monkeypatch.setattr(Manifest, "record_tier", _spark_append)
    before, _ = _jobs(spark, lambda: job("spark"))
    assert before - now == 5, (before, now)


def test_spark_written_and_commit_files_read_as_one_frame(spark, engine, tmp_path):
    manifest = Manifest(spark, str(tmp_path))
    _spark_append(manifest, "job-X", "old", engine.tier_path("1h"), "1h<-spark")
    manifest.record_tier("job-X", "new", engine.tier_path("1d"), "1d<-file")
    files = sorted(f for f in os.listdir(manifest.path) if f.endswith(".parquet"))
    assert len(files) == 2, files
    want = spark.createDataFrame([], MANIFEST_SCHEMA).schema.simpleString()
    for frame in (
        spark.read.schema(MANIFEST_SCHEMA).parquet(manifest.path),
        spark.read.parquet(manifest.path),
        *(spark.read.parquet(os.path.join(manifest.path, f)) for f in files),
    ):
        assert frame.schema.simpleString() == want
    commits = (
        spark.read.parquet(manifest.path)
        .filter(F.col("partition_id") == -1)
        .select("tier", "row_count")
        .collect()
    )
    stored = {t: spark.read.parquet(engine.tier_path(t)).count() for t in ("1h", "1d")}
    assert sorted(commits) == sorted([("old", stored["1h"]), ("new", stored["1d"])])
    assert manifest.committed_tiers("job-X") == {"old", "new"}
    for tier, data in (("old", "1h"), ("new", "1d")):
        metrics = manifest.tier_metrics("job-X", tier)
        assert metrics and sum(m["row_count"] for m in metrics) == stored[data], tier


def test_failed_rename_leaves_no_row(spark, raw_points, engine, tmp_path, monkeypatch):
    """A commit that fails after its bytes are written and before the
    rename leaves a hidden ``_tmp-`` file and no manifest row; a re-run
    commits every tier, and the tiers equal a clean run's."""
    eng = _engine(spark, tmp_path)
    renames = []

    class CrashOnSecondRename:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, src, dst):
            renames.append(src.getName())
            if len(renames) == 2:
                raise RuntimeError("crash before the rename")
            return self.fs.rename(src, dst)

    def crashing_fs(spark, path):
        fs, hpath = hadoop_fs(spark, path)
        return CrashOnSecondRename(fs), hpath

    monkeypatch.setattr(manifest_module, "hadoop_fs", crashing_fs)
    with pytest.raises(RuntimeError, match="crash before the rename"):
        eng.run(raw_points, job_id="job-R")
    monkeypatch.undo()
    leftover = [f for f in os.listdir(eng.manifest.path) if f.startswith("_tmp-")]
    assert leftover == [renames[1]]
    assert os.path.getsize(os.path.join(eng.manifest.path, renames[1])) > 0
    rows = spark.read.parquet(eng.manifest.path).collect()
    assert {r["tier"] for r in rows} == {"raw"}
    assert eng.manifest.committed_tiers("job-R") == {"raw"}

    eng.run(raw_points, job_id="job-R")
    assert eng.manifest.committed_tiers("job-R") == {"raw", "base", "1h", "1d"}
    assert spark.read.parquet(eng.manifest.path).filter(F.col("partition_id") == -1).count() == 4
    for tier in ("raw", "base", "1h", "1d"):
        assert _rows(spark, eng.tier_path(tier)) == _rows(spark, engine.tier_path(tier)), tier


def _rows(spark, path) -> list:
    """A stored tier's rows, sorted, with features as sorted items."""
    return sorted(
        (*r[:4], r.payload, sorted((r.features or {}).items()))
        for r in spark.read.parquet(path).collect()
    )


def test_no_manifest_reads_as_nothing_committed_without_a_job(spark, tmp_path):
    manifest = Manifest(spark, str(tmp_path / "fresh"))
    out = {}
    jobs, _ = _jobs(spark, lambda: out.update(commits=manifest.commits("job-N")))
    assert (out["commits"], jobs) == ({}, 0)
    assert manifest.tier_metrics("job-N", "raw") == []
    # a manifest that holds only a partial crash leftover commits nothing
    os.makedirs(manifest.path)
    with open(os.path.join(manifest.path, "_tmp-0.parquet"), "wb") as fh:
        fh.write(b"PAR1")
    assert manifest.commits("job-N") == {}
