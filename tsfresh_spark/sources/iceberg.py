"""Iceberg table integration (gated — the runtime jar is not bundled in this
sandbox; every call degrades explicitly, never silently).

The engine's production input (BASELINE.json input_hint) is an Iceberg table
``(doc_id string, tokens array<int>, n_tok int, source string)``.  With the
``iceberg-spark-runtime`` jar + a catalog conf, the reads below give
snapshot-isolated scans with partition pruning and metadata-only planning;
tier writes use range distribution for clustered files.

Recommended session conf (spark-submit):

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.lake.type=hadoop
    --conf spark.sql.catalog.lake.warehouse=<path>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_tokens_table(
    spark: SparkSession, table: str, *, snapshot_id: int | None = None
) -> DataFrame:
    """Scan the pre-tokenized corpus table; column pruning + partition
    pruning happen in Iceberg's planning, so select only what you need
    downstream.  Falls back to a parquet path when the identifier looks like
    a filesystem location."""
    if "/" in table:
        return spark.read.parquet(table)
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; add the "
            "iceberg-spark-runtime package (see module docstring) or pass a "
            "parquet path"
        )
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.format("iceberg").load(table)


def write_tier(
    df: DataFrame,
    table: str,
    *,
    mode: str = "append",
) -> None:
    """Range-distributed tier write.  Iceberg: ``write.distribution-mode=
    range`` + sorted files.  A parquet path is written as ``df`` is laid
    out; ``RollupEngine._write`` lays a tier out by hash on ``doc_id`` with
    AQE-sized files, sorted within them, because a range exchange would
    sample — and so run twice — the window map that produces the tier."""
    if "/" in table:
        df.write.mode(mode).parquet(table)
        return
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError("Iceberg runtime not on the classpath")
    (
        df.writeTo(table)
        .option("write.distribution-mode", "range")
        .append()
        if mode == "append"
        else df.writeTo(table).option("write.distribution-mode", "range").replace()
    )
