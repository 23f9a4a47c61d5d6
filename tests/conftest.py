from __future__ import annotations

import importlib.util
import math
import os
from contextlib import contextmanager

import duckdb
import pytest

from iris_project_database_refresh_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("IRIS_SPARK_TEST_SF_DIR", "/root/testdata/sf0.01")

_spec = importlib.util.spec_from_file_location(
    "output_bytes", os.path.join(os.path.dirname(__file__), "..", "scripts", "output_bytes.py")
)
output_bytes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(output_bytes)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    s = get_session("iris-spark-tests")
    yield s


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the same parquet tables registered as views
    — mirrors the driver's correctness harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, colnames):
    out = []
    for row in rows:
        vals = []
        for c in sorted(range(len(colnames)), key=lambda i: colnames[i]):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def assert_matches_oracle(spark_df, oracle_con, sql, *, check_rows_only=False):
    """Order-insensitive, column-name-sorted value comparison — the same
    contract the driver applies (row-count + schema-name + value match)."""
    got_cols = spark_df.columns
    got = [tuple(r) for r in spark_df.collect()]
    res = oracle_con.sql(sql)
    want_cols = res.columns
    want = res.fetchall()
    assert sorted(got_cols) == sorted(
        [c for c in want_cols]
    ), f"column mismatch: spark={sorted(got_cols)} oracle={sorted(want_cols)}"
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    if check_rows_only:
        return
    got_n = _normalize(got, got_cols)
    want_n = _normalize(want, want_cols)
    mismatches = [(g, w) for g, w in zip(got_n, want_n) if g != w]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[:3]}"


@contextmanager
def job_group(spark, name):
    """Yields a list that holds, on exit, the ids of the Spark jobs run
    inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are delivered async
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))
