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

A commit costs O(files of the tier) and runs no Spark job: per-file row
counts come from the Parquet footers and byte counts from the file listing
(Hadoop FS API, no read-back job), and the rows go to storage as one
Parquet file built in memory with pyarrow and created through the Hadoop
FS API, as a table format commits a snapshot by creating one file.  Files
written by Spark's own Parquet writer, as earlier versions appended them,
read together with these as one frame.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "job_id string, tier string, partition_id int, row_count long, "
    "byte_count long, committed_at timestamp, lineage string"
)
# the same columns as Parquet types: committed_at is a UTC instant, which
# Spark reads as its session-zone ``timestamp``
_ARROW_TYPES = {
    "string": pa.string(),
    "int": pa.int32(),
    "long": pa.int64(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}
_ARROW_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[kind]) for name, kind in map(str.split, MANIFEST_SCHEMA.split(", "))]
)

COMMIT_PARTITION_ID = -1


def hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop filesystem of ``path`` and the Hadoop ``Path`` class."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


class Manifest:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.path = f"{self.base_path}/manifest"

    # -- read side ---------------------------------------------------------

    def _read(self) -> DataFrame | None:
        """The manifest rows, or None when no manifest directory exists.

        Existence is a Hadoop FS ``exists`` check (a few ms, no Spark path
        resolution), not a catch-all around the read: a manifest that
        exists but cannot be read raises, where reading the failure as
        "nothing committed" would make ``run()`` delete and rewrite
        committed tiers.  A directory that holds only a crashed commit's
        ``_tmp-`` file reads as no rows."""
        fs, path = hadoop_fs(self.spark, self.path)
        if not fs.exists(path(self.path)):
            return None
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

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
        zero-row files get no record.  The rows of one call are one Parquet
        file, serialised in memory with pyarrow, created through the Hadoop
        FS API with overwrite off as ``_tmp-<uuid>.parquet`` and renamed to
        ``part-<uuid>.parquet``: no Spark job runs.  Spark readers skip
        ``_``-prefixed files, so a crash before the rename leaves a hidden
        leftover and no row; on a local filesystem or HDFS the rename makes
        the file visible whole or not at all.  On an object store a rename
        is a copy, so a reader racing the commit could see a partial file.
        """
        files = self.footer_counts(data_path)
        # tz-aware, so the stored instant is right whatever the session zone
        now = datetime.now(timezone.utc)
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
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table(list(zip(*rows)), schema=_ARROW_SCHEMA), buf)
        fs, path = hadoop_fs(self.spark, self.path)
        name = f"{uuid.uuid4().hex}.parquet"
        tmp = path(self.path, f"_tmp-{name}")
        out = fs.create(tmp, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        if not fs.rename(tmp, path(self.path, f"part-{name}")):
            raise OSError(f"manifest commit: could not rename {tmp.toString()} to part-{name}")
