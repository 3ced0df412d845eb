import os
import sys

import duckdb
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # bound the heap below session_confs' 16g default: the contract
    # test's bench JVM runs beside this one, on a 15 GB host
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "4")
    from global_superstore_data_warehouse_spark import get_spark

    s = get_spark("gsdw-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's order-insensitive compare: sort columns by
    name, then sort rows by every column. Date-like object columns
    (Spark returns datetime.date, DuckDB datetime64) are coerced to
    a common dtype first."""
    import datetime

    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def assert_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    """Run the registered Spark query and its oracle SQL; compare
    row-count, column names, and values (floats to 1e-9 rel)."""
    from global_superstore_data_warehouse_spark import registry

    entry = registry.queries()[name]
    oracle = registry.oracle_sql().get(name)
    assert oracle is not None, f"{name} has no oracle SQL"
    got = normalize(entry(spark, sf_dir).toPandas())
    want = normalize(duck.sql(oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-9, atol=1e-9)
