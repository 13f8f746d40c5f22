"""Output sink and comparison helpers shared by the workloads."""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType


@dataclass
class SinkResult:
    digest: int
    rows: int
    sample: list[dict] = field(default_factory=list)


def sink(df: DataFrame, id_col: str, sample_ids: list) -> SinkResult:
    """Materialize the whole of ``df`` in one action: ``bit_xor`` of a per-row
    ``xxhash64`` (order-free, so equal outputs give equal digests), the row
    count, and the full rows of the sampled series."""
    hashed = [
        F.array_sort(F.map_entries(F.col(f.name)))
        if isinstance(f.dataType, MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    picked = F.when(F.col(id_col).isin(list(sample_ids)), F.struct(*df.columns))
    row = df.agg(
        F.bit_xor(F.xxhash64(*hashed)).alias("digest"),
        F.count(F.lit(1)).alias("rows"),
        F.collect_list(picked).alias("sample"),
    ).collect()[0]
    return SinkResult(
        digest=int(row["digest"] or 0),
        rows=int(row["rows"]),
        sample=[r.asDict(recursive=True) for r in row["sample"]],
    )


def same_float(a, b) -> bool:
    """Bit-for-bit equality; NaN equals NaN, and a NULL read back through
    Arrow stands for NaN."""
    a = math.nan if a is None else float(a)
    b = math.nan if b is None else float(b)
    if math.isnan(a) and math.isnan(b):
        return True
    return struct.pack("<d", a) == struct.pack("<d", b)


def compare_features(label: str, got: dict | None, want: dict) -> list[str]:
    got = got or {}
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return [f"{label}: feature names differ (missing {missing}, extra {extra})"]
    return [
        f"{label}: {name} = {got[name]!r}, expected {want[name]!r}"
        for name in sorted(want)
        if not same_float(got[name], want[name])
    ][:5]
