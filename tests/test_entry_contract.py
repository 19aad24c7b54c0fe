"""Replicates the driver's correctness gate locally: for every query with
an oracle, run the Spark query and the DuckDB SQL at sf0.01 and compare
row count, schema (column names), and order-insensitive values.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["events", "documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"create view {t} as select * from '{p}'")
    return con


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to a comparable kind: int-like stays 'i',
    float 'f', datetime 'M', bool 'b', everything else 'O'.  The driver's
    hash is dtype-sensitive, so an oracle returning HUGEINT (-> float64
    in pandas) must FAIL locally even though the Python values are equal
    (the r1/r2 per_source_agg bug class)."""
    k = getattr(dtype, "kind", "O")
    if k == "u":
        k = "i"
    if k not in ("i", "f", "M", "b"):
        k = "O"
    return k


def _spark_kind(dt) -> str:
    """Pandas dtype kind a Spark column of this type lands as (Arrow
    conversion, no nulls): integral -> 'i', fractional -> 'f',
    timestamp -> 'M', boolean -> 'b', everything else object."""
    import pyspark.sql.types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "M"
    if isinstance(dt, T.BooleanType):
        return "b"
    return "O"


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["source", "doc_id", "rn"]


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = [r.asDict() for r in sdf.collect()]
    ora = ddb.sql(entrymod.oracle_sql()[name])
    ora_cols = sorted(ora.columns)
    assert cols == ora_cols, f"{name}: column mismatch {cols} vs {ora_cols}"
    # Dtype gate: replicate the driver's dtype-sensitive hash.  fetchdf()
    # surfaces DuckDB's physical result types (HUGEINT -> float64), which
    # fetchall() hides by converting to Python ints.  The Spark side's
    # pandas kind is derived from the schema (LongType -> int64 etc.) so
    # we don't pay a second job per query.
    ora_pdf = ora.fetchdf()
    spark_kinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
    for c in cols:
        sk, ok = spark_kinds[c], _dtype_kind(ora_pdf[c].dtype)
        assert sk == ok, (
            f"{name}.{c}: dtype kind mismatch spark={sk} "
            f"vs oracle={ora_pdf[c].dtype} — driver hash would fail "
            f"(cast the oracle aggregate, e.g. cast(sum(..) as bigint))"
        )
    ora2 = ddb.sql(entrymod.oracle_sql()[name])
    ora_rows = [dict(zip(ora2.columns, t)) for t in ora2.fetchall()]
    assert len(spark_rows) == len(ora_rows), f"{name}: row count"
    a, b = _normalize(spark_rows, cols), _normalize(ora_rows, cols)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: value mismatch, first diffs: {mism}"


def test_queries_without_oracle_run(spark):
    orc = set(entrymod.oracle_sql())
    for name, q in entrymod.queries().items():
        if name in orc:
            continue
        df = q(spark, SF_DIR)
        assert df.count() >= 0, name
