"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries()[name] at sf0.01 and compare against
oracle_sql()[name] via DuckDB — row count, column names, and
order-insensitive values.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["events", "documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _values_close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    sql = entrymod.oracle_sql().get(name)
    assert sql is not None, f"{name} has no DuckDB twin in oracle_sql()"
    want = ddb.sql(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name} columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name} rows {len(got)} != {len(want)}"
    g, w = _norm(got), _norm(want)
    # Dtype-strict: the driver's value hash is repr-sensitive, so an int64
    # Spark column vs a float64 oracle column (e.g. DuckDB sum(BIGINT) ->
    # HUGEINT -> float64) hash-mismatches even when every value is equal.
    # Compare numpy dtype *kind* (i/u vs f vs b vs O vs M) to catch that
    # class of drift locally before the driver does.
    for c in g.columns:
        gk, wk = g[c].dtype.kind, w[c].dtype.kind
        if {gk, wk} <= {"i", "u"}:
            continue
        assert gk == wk, (
            f"{name}.{c}: dtype kind mismatch spark={g[c].dtype} oracle={w[c].dtype}"
            " — cast the oracle expression (e.g. sum(...)::BIGINT)"
        )
    for c in g.columns:
        gv, wv = g[c].tolist(), w[c].tolist()
        bad = [
            (i, a, b) for i, (a, b) in enumerate(zip(gv, wv)) if not _values_close(a, b)
        ]
        assert not bad, f"{name}.{c}: first mismatches {bad[:5]}"
