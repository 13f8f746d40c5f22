"""Manifest / checkpoint table: per-partition lineage + row/byte metrics with
a commit protocol, so a killed rollup job resumes from the last committed
tier (BASELINE.json north_rule; no analog in the reference).

Layout under a base path (any Hadoop-visible filesystem):

    {base}/manifest/part-*.parquet      — append-only manifest rows
    {base}/tier=<name>/...              — tier data

Manifest row schema (FIXTURES.md F6):

    job_id string, tier string, partition_id int, row_count long,
    byte_count long, committed_at timestamp, lineage string

``partition_id == -1`` is the tier-level COMMIT record; its presence is the
resume criterion.  Data is written before its commit record (write-ahead on
data), so a crash between the two leaves a re-runnable, never a corrupt,
tier.

A commit costs O(files of the tier): per-file row counts come from the
Parquet footers and byte counts from the file listing (Hadoop FS API, no
read-back job), and the rows are appended from an Arrow-built local frame.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "job_id string, tier string, partition_id int, row_count long, "
    "byte_count long, committed_at timestamp, lineage string"
)
MANIFEST_COLUMNS = [field.split()[0] for field in MANIFEST_SCHEMA.split(", ")]

COMMIT_PARTITION_ID = -1


class Manifest:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.path = f"{self.base_path}/manifest"

    # -- read side ---------------------------------------------------------

    def _read(self) -> DataFrame | None:
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except Exception:
            return None

    def commits(self, job_id: str) -> dict[str, list[str]]:
        """``{tier: [lineage, ...]}`` of every COMMIT record of ``job_id``."""
        df = self._read()
        if df is None:
            return {}
        rows = (
            df.filter(
                (F.col("job_id") == job_id)
                & (F.col("partition_id") == COMMIT_PARTITION_ID)
            )
            .select("tier", "lineage")
            .collect()
        )
        out: dict[str, list[str]] = {}
        for r in rows:
            out.setdefault(r["tier"], []).append(r["lineage"])
        return out

    def committed_tiers(self, job_id: str) -> set[str]:
        return set(self.commits(job_id))

    def tier_metrics(self, job_id: str, tier: str) -> list[dict]:
        """Per-file rows of the latest commit of ``(job_id, tier)`` — all
        rows of one :meth:`record_tier` share its ``committed_at``."""
        df = self._read()
        if df is None:
            return []
        rows = df.filter(
            (F.col("job_id") == job_id) & (F.col("tier") == tier)
        ).collect()
        if not rows:
            return []
        latest = max(r["committed_at"] for r in rows)
        return [
            r.asDict()
            for r in rows
            if r["committed_at"] == latest
            and r["partition_id"] != COMMIT_PARTITION_ID
        ]

    # -- write side --------------------------------------------------------

    def footer_counts(self, data_path: str) -> list[tuple[str, int, int]]:
        """``(file, rows, bytes)`` per non-empty part file of a written tier:
        rows from the Parquet footer, bytes from the listing, both through
        the Hadoop FS API, so any scheme works and no Spark job runs."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(data_path)
        out = []
        for status in p.getFileSystem(conf).listStatus(p):
            name = status.getPath().getName()
            if not (status.isFile() and name.startswith("part-")):
                continue
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
            )
            try:
                rows = int(reader.getRecordCount())
            finally:
                reader.close()
            if rows:
                out.append((name, rows, int(status.getLen())))
        return sorted(out)

    def record_tier(
        self, job_id: str, tier: str, data_path: str, lineage: str
    ) -> None:
        """Append per-file partition metrics + the tier COMMIT record.

        Row counts come from the written files' Parquet footers, so they
        are what is actually on storage, not what the writing job believed;
        zero-row files get no record.  The rows go through an Arrow-built
        local frame: one small write job, no Python worker.
        """
        files = self.footer_counts(data_path)
        # tz-aware, so the stored instant is right whatever the session zone
        now = pd.Timestamp.now(tz="UTC")
        rows = [
            (job_id, tier, idx, n_rows, n_bytes, now, f"{lineage} file={name}")
            for idx, (name, n_rows, n_bytes) in enumerate(files)
        ]
        total_rows = sum(r[3] for r in rows)
        total_bytes = sum(r[4] for r in rows)
        rows.append(
            (
                job_id,
                tier,
                COMMIT_PARTITION_ID,
                total_rows,
                total_bytes,
                now,
                f"{lineage} COMMIT files={len(files)}",
            )
        )
        pdf = pd.DataFrame(rows, columns=MANIFEST_COLUMNS)
        (
            self.spark.createDataFrame(pdf, MANIFEST_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )
