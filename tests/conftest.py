"""Shared test harness: one SparkSession + a DuckDB oracle comparator that
mimics the driver's t2 gate (row-count + schema + order-insensitive values).

Reference analogue: presto-tests/.../QueryAssertions.java:97-122 runs each
SQL on Presto and H2 and compares row sets; DuckDB plays H2's role here.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from presto_copy_spark.catalog import TABLES
from presto_copy_spark.functions import register_all
from presto_copy_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("presto-copy-spark-tests", master="local[8]")
    register_all(spark)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell value for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if type(v).__name__ in ("ndarray", "MaskedArray"):  # numpy (duckdb/arrow lists)
        return tuple(_canon(x) for x in v.tolist())
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def rows_of(df) -> list[tuple]:
    """Sorted canonical rows, columns ordered by name (driver convention)."""
    import pandas as pd

    if hasattr(df, "toPandas"):
        pdf = df.toPandas()
    elif isinstance(df, pd.DataFrame):
        pdf = df
    else:  # duckdb relation
        pdf = df.df()
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    out = [tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def assert_matches(spark_df, duck_rel, name: str = "query") -> None:
    a = rows_of(spark_df)
    b = rows_of(duck_rel)
    assert len(a) == len(b), f"{name}: row count {len(a)} != oracle {len(b)}"
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={a[mism[0]]} oracle={b[mism[0]]}"
    )
