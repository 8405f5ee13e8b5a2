"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
harness that mirrors the driver's correctness gate (row count, schema,
order-insensitive value comparison with columns sorted by name)."""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pytest

from gmall_flink_0526_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gmall-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def same_bucket_keys(spark, n: int) -> list[int]:
    """``n`` long keys that the keyed-state operators put in ONE state
    bucket (Spark's own ``pmod(xxhash64(k), STATE_BUCKETS)``), so a
    test with few keys still exercises per-key logic inside a shared
    bucket."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.streaming.stateful import STATE_BUCKETS

    rows = (
        spark.range(1, 40 * STATE_BUCKETS * n)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(STATE_BUCKETS)).alias("b"))
        .collect()
    )
    by_bucket: dict[int, list[int]] = {}
    for r in rows:
        keys = by_bucket.setdefault(r["b"], [])
        keys.append(r["id"])
        if len(keys) == n:
            return keys
    raise AssertionError(f"no {n} keys share a bucket")


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views,
    same as the driver does."""
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def _norm(v):
    """Normalize a cell for comparison across engines."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full-precision — engines must agree bit-for-bit
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def assert_matches_oracle(spark_df, con, sql: str, *, name: str = "?"):
    """Order-insensitive, column-name-sorted exact comparison."""
    sdf = spark_df.toPandas()
    odf = con.execute(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    cols = sorted(sdf.columns)
    srows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[cols].itertuples(index=False)), key=repr
    )
    orows = sorted(
        (tuple(_norm(v) for v in row) for row in odf[cols].itertuples(index=False)), key=repr
    )
    assert len(srows) == len(orows), f"{name}: row count spark={len(srows)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        assert a == b, f"{name}: first differing row #{i}:\n  spark ={a}\n  oracle={b}"
