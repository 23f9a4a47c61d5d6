from __future__ import annotations

import pyspark.sql.functions as F

from iris_project_database_refresh_spark.streaming import pipeline as sp
from iris_project_database_refresh_spark.streaming.upsert_sink import (
    ParquetUpsertTable,
    start_streaming_upsert,
)
from iris_project_database_refresh_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def test_streaming_upsert_matches_batch_rollup(spark, tmp_path):
    table = ParquetUpsertTable(spark, str(tmp_path / "rollup"), key="user_id")
    q = start_streaming_upsert(
        sp.read_events_stream(spark, SF_CORRECT),
        table,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {r.user_id: (r.n_events, r.sum_value) for r in table.read().collect()}
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in load_table(spark, SF_CORRECT, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_merge_replaces_keys(spark, tmp_path):
    table = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k")
    table.merge(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    table.merge(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"))
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


# --- JDBC sink executed end-to-end against in-process Derby ------------------

import pytest

from iris_project_database_refresh_spark.sinks.jdbc import JdbcUpsertSink

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_url(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def _seed_target(spark, url: str, rows, schema="doc_id int, content string") -> None:
    # create the target the way a Spark pipeline would (quoted,
    # case-exact identifiers — same as the staging writer)
    spark.createDataFrame(rows, schema).write.mode("overwrite").options(
        **DERBY_PROPS
    ).jdbc(url, "target")


def _read_target(spark, url: str, table: str) -> dict:
    df = spark.read.options(**DERBY_PROPS).jdbc(url, table)
    return {r.doc_id: r.content for r in df.collect()}


def _leftover_tables(spark, url: str) -> list[str]:
    """User tables besides the target: a staging table a write left."""
    query = "(SELECT tablename FROM sys.systables WHERE tabletype = 'T' AND tablename <> 'TARGET') t"
    return [r[0] for r in spark.read.options(**DERBY_PROPS).jdbc(url, query).collect()]


def test_jdbc_upsert_roundtrip_derby(spark):
    url = _derby_url("upsert_rt")
    _seed_target(spark, url, [(1, "old-1"), (2, "old-2")])
    sink = JdbcUpsertSink(url=url, table="target", key_columns=("doc_id",), properties=DERBY_PROPS)

    batch = spark.createDataFrame([(2, "new-2"), (3, "new-3")], "doc_id int, content string")
    out = sink.write(batch, num_partitions=2)
    assert out == {"table": "target", "rows": 3}
    assert _read_target(spark, url, "target") == {1: "old-1", 2: "new-2", 3: "new-3"}

    # full refresh replaces everything
    refresh = spark.createDataFrame([(9, "only")], "doc_id int, content string")
    out = sink.write(refresh, mode="full_refresh", num_partitions=1)
    assert out == {"table": "target", "rows": 1}
    assert _read_target(spark, url, "target") == {9: "only"}
    assert _leftover_tables(spark, url) == []


def test_jdbc_upsert_rolls_back_on_failure(spark):
    """A failure after the DELETE must not lose target rows (the merge
    runs in one transaction, unlike naive autocommit statements)."""
    url = _derby_url("upsert_rb")
    _seed_target(spark, url, [(1, "keep-1"), (2, "keep-2")])
    sink = JdbcUpsertSink(url=url, table="target", key_columns=("doc_id",), properties=DERBY_PROPS)
    # batch column set that stages fine but breaks the INSERT..SELECT
    # (extra column absent from target)
    bad = spark.createDataFrame(
        [(2, "x", 0)], "doc_id int, content string, extra int"
    )
    with pytest.raises(Exception):
        sink.write(bad, num_partitions=1)
    assert _read_target(spark, url, "target") == {1: "keep-1", 2: "keep-2"}
    assert _leftover_tables(spark, url) == []
    # a staging write that fails before creating its table raises its
    # own error, not the DROP of a table that was never made
    unstageable = spark.createDataFrame([(2, [1.0])], "doc_id int, v array<float>")
    with pytest.raises(Exception, match="Can't get JDBC type for array<float>"):
        sink.write(unstageable, num_partitions=1)
    assert _read_target(spark, url, "target") == {1: "keep-1", 2: "keep-2"}


def test_jdbc_upsert_rejects_duplicate_batch_keys(spark):
    """A batch that holds one key twice raises a ValueError naming the
    key, and the target is left unchanged (it would otherwise gain both
    rows, which the total-count verify cannot see)."""
    url = _derby_url("upsert_dup")
    _seed_target(spark, url, [(1, "keep-1"), (2, "keep-2")])
    sink = JdbcUpsertSink(url=url, table="target", key_columns=("doc_id",), properties=DERBY_PROPS)
    batch = spark.createDataFrame([(2, "a"), (3, "b"), (3, "c")], "doc_id int, content string")
    for mode in ("upsert", "full_refresh"):
        with pytest.raises(ValueError, match=r"duplicate key \{'doc_id': 3\}"):
            sink.write(batch, mode=mode, num_partitions=2)
        assert _read_target(spark, url, "target") == {1: "keep-1", 2: "keep-2"}
    assert _leftover_tables(spark, url) == []


def test_jdbc_upsert_concurrent_publishes_do_not_mix(spark):
    """Two threads publish overlapping batches to one table, several
    rounds. Each write stages into its own table and the merges run one
    after another under the target's lock: no key ends up twice, and
    every overlapping key carries the rows of one batch."""
    from concurrent.futures import ThreadPoolExecutor

    url = _derby_url("upsert_concurrent")
    _seed_target(spark, url, [(k, "seed") for k in range(10)])
    sink = JdbcUpsertSink(url=url, table="target", key_columns=("doc_id",), properties=DERBY_PROPS)
    batches = [
        spark.createDataFrame([(k, f"A-{k}") for k in range(0, 30)], "doc_id int, content string"),
        spark.createDataFrame([(k, f"B-{k}") for k in range(10, 40)], "doc_id int, content string"),
    ]
    overlap = range(10, 30)
    with ThreadPoolExecutor(2) as pool:
        for _ in range(3):
            outs = list(pool.map(lambda b: sink.write(b, num_partitions=2), batches))
            # the second merge of a round always sees all 40 keys
            assert max(o["rows"] for o in outs) == 40
            rows = spark.read.options(**DERBY_PROPS).jdbc(url, "target").collect()
            keys = [r.doc_id for r in rows]
            assert len(keys) == len(set(keys)) == 40
            content = {r.doc_id: r.content for r in rows}
            winners = {content[k].split("-")[0] for k in overlap}
            assert len(winners) == 1, winners
            assert all(content[k] == f"A-{k}" for k in range(10)) and all(content[k] == f"B-{k}" for k in range(30, 40))
    assert _leftover_tables(spark, url) == []


def test_jdbc_partitioned_source_roundtrip(spark):
    """Range- and predicate-partitioned reads return the full table and
    actually split the scan into parallel partitions."""
    from iris_project_database_refresh_spark.sources.jdbc import read_jdbc_partitioned

    url = _derby_url("src_rt")
    rows = [(i, f"c-{i}") for i in range(20)]
    _seed_target(spark, url, rows)

    ranged = read_jdbc_partitioned(
        spark, url, "target",
        partition_column='"doc_id"', lower_bound=0, upper_bound=20,
        num_partitions=4, properties=DERBY_PROPS,
    )
    assert ranged.rdd.getNumPartitions() == 4
    assert sorted((r.doc_id, r.content) for r in ranged.collect()) == rows

    pred = read_jdbc_partitioned(
        spark, url, "target",
        predicates=['"doc_id" < 10', '"doc_id" >= 10'],
        properties=DERBY_PROPS,
    )
    assert pred.rdd.getNumPartitions() == 2
    assert sorted((r.doc_id, r.content) for r in pred.collect()) == rows
