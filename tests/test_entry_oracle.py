"""Replicates the driver's correctness gate locally: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, and require identical row counts, columns, and
(exactly equal) values."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

TABLES = ["events"]


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con.sql(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)
    return df


def test_every_query_has_an_oracle():
    assert entry_mod.queries().keys() == entry_mod.oracle_sql().keys()


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, sf_dir, name):
    qfn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    got = _normalize(qfn(spark, sf_dir).toPandas())
    want = _normalize(_duck(sf_dir, sql))
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    for c in got.columns:
        g, w = got[c].values, want[c].values
        if np.issubdtype(got[c].dtype, np.floating):
            both_nan = pd.isna(g) & pd.isna(w)
            mismatch = ~both_nan & (g != w)
            assert not mismatch.any(), (
                f"{name}.{c}: {mismatch.sum()} value mismatches, "
                f"max abs diff {np.nanmax(np.abs(g - w))}"
            )
        else:
            assert (pd.Series(g) == pd.Series(w)).all() or (
                pd.isna(g) == pd.isna(w)
            ).all(), f"{name}.{c}: mismatch"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n > 0
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "event_type",
        "variable",
        "value",
    ]
