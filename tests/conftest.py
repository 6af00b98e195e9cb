"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
comparator mirroring the driver's check (row-count + schema-width +
order-insensitive value hash after sorting columns by name)."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import time
import uuid

import duckdb
import pytest

from async_pipes_spark.session import get_spark
from async_pipes_spark.sources.tables import TABLES

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("async-pipes-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


def jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group. A
    sentinel job in a second group is awaited first: the status
    listener sees events in order, so once the sentinel shows, every
    job ``fn`` launched shows too."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    tracker = sc.statusTracker()
    sc.setJobGroup(f"{tag}-fn", "fn")
    try:
        fn()
        sc.setJobGroup(f"{tag}-sentinel", "sentinel")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{tag}-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never showed"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(f"{tag}-fn"))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonical_rows(columns, rows):
    """Sort columns by name, stringify values, sort rows — the same
    order-insensitive canonical form the verification driver hashes."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [sorted(columns), out]


def value_hash(columns, rows):
    cols, canon = canonical_rows(columns, rows)
    h = hashlib.sha256()
    h.update(("|".join(cols) + "\n").encode())
    for r in canon:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


def assert_matches_oracle(spark_df, duck_con, oracle_sql, name=""):
    srows = spark_df.collect()
    scols = spark_df.columns
    cur = duck_con.execute(oracle_sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} != oracle {len(drows)}"
    )
    assert sorted(scols) == sorted(dcols), (
        f"{name}: columns {sorted(scols)} != oracle {sorted(dcols)}"
    )
    sh = value_hash(scols, [tuple(r) for r in srows])
    dh = value_hash(dcols, drows)
    if sh != dh:
        _, scanon = canonical_rows(scols, [tuple(r) for r in srows])
        _, dcanon = canonical_rows(dcols, drows)
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(scanon, dcanon)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value hash mismatch; first diffs: {diffs}")
