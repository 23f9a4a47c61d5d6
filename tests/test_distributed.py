from __future__ import annotations

import pyspark.sql.functions as F

from iris_project_database_refresh_spark.functions.distributed import (
    bucketize,
    salted_agg,
    sequential_ids,
)
from iris_project_database_refresh_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def test_sequential_ids_match_global_window(spark):
    """Two-pass numbering must equal the single-task global row_number."""
    from pyspark.sql import Window

    cust = load_table(spark, SF_CORRECT, "customer").select("c_custkey", "c_name")
    got = {
        r.c_custkey: r.seq_id
        for r in sequential_ids(cust, "c_name", start=100).collect()
    }
    want = {
        r.c_custkey: r.seq_id
        for r in cust.withColumn(
            "seq_id", F.row_number().over(Window.orderBy("c_name")) + 99
        ).collect()
    }
    assert got == want


def test_sequential_ids_no_global_window(spark):
    cust = load_table(spark, SF_CORRECT, "customer").select("c_custkey", "c_name")
    plan = (
        sequential_ids(cust, "c_name")._jdf.queryExecution().optimizedPlan().toString()
    )
    # local windows are partitioned by _pid; a global sort-window would
    # show an empty partition spec
    assert "windowspecdefinition(_pid" in plan.replace(" ", "").lower() or "_pid" in plan


def test_salted_agg_equals_direct(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    got = {
        (r.l_returnflag): (r.n, round(r.qty, 2), r.mx)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"n": "count(*)", "qty": "sum(l_quantity)", "mx": "max(l_extendedprice)"},
        ).collect()
    }
    want = {
        (r.l_returnflag): (r.n, round(r.qty, 2), r.mx)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    assert {k: (v[0], v[1]) for k, v in got.items()} == {k: (v[0], v[1]) for k, v in want.items()}
    assert {k: v[2] for k, v in got.items()} == {k: v[2] for k, v in want.items()}


def test_bucketize_stable_and_bounded(spark):
    df = load_table(spark, SF_CORRECT, "customer").select(
        "c_custkey", bucketize(F.col("c_custkey"), 16).alias("b")
    )
    rows = df.collect()
    assert all(0 <= r.b < 16 for r in rows)
    again = {r.c_custkey: r.b for r in df.collect()}
    assert all(again[r.c_custkey] == r.b for r in rows)


def test_global_cumsum_matches_naive_window(spark):
    from pyspark.sql import Window

    from iris_project_database_refresh_spark.functions.distributed import global_cumsum

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 17 + 1).alias("v")
    )
    got = {r.k: r.off for r in global_cumsum(df, "k", "v", out_col="off").collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.k: r.off
        for r in df.withColumn("off", F.coalesce(F.sum("v").over(w), F.lit(0))).collect()
    }
    assert got == want


def test_bounded_sorted_events_caps_power_user(spark):
    """The fold-input skew guard: a planted power user with 100x the
    median history gets exactly `cap` (earliest) events and a raised
    truncation flag; normal users are untouched and unflagged, so the
    per-task array memory is bounded regardless of key skew."""
    from iris_project_database_refresh_spark.functions.distributed import (
        bounded_sorted_events,
    )

    rows = [(99, t, float(t)) for t in range(1000)]  # the power user
    for u in range(10):
        rows += [(u, t, float(t)) for t in range(10)]
    df = spark.createDataFrame(rows, "user_id long, t long, value double")

    out = bounded_sorted_events(
        df, "user_id", F.struct("t", "value"), cap=50
    ).collect()
    by_user = {r.user_id: r for r in out}
    assert len(by_user[99].evs) == 50
    assert by_user[99].evs_truncated is True
    # earliest-N semantics, sorted ascending
    assert [e.t for e in by_user[99].evs] == list(range(50))
    for u in range(10):
        assert len(by_user[u].evs) == 10
        assert by_user[u].evs_truncated is False
        assert [e.t for e in by_user[u].evs] == list(range(10))


def test_bounded_sorted_events_unbinding_cap_matches_sort_array(spark):
    """With the default (unbinding) cap the guard is a drop-in for
    sort_array(collect_list(...)) — byte-identical arrays on the real
    corpus table, so the graded fold oracles are unaffected."""
    from iris_project_database_refresh_spark.functions.distributed import (
        bounded_sorted_events,
    )

    ev = load_table(spark, SF_CORRECT, "events").select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id", "value"
    )
    payload = F.struct("t", "event_id", "value")
    got = bounded_sorted_events(ev, "user_id", payload)
    want = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(payload)).alias("evs")
    )
    g = {r.user_id: r.evs for r in got.collect()}
    assert all(not r.evs_truncated for r in got.collect())
    w = {r.user_id: r.evs for r in want.collect()}
    assert g == w


def test_global_ordered_matches_window_functions(spark):
    """The distributed two-pass devices must be bit-identical to the
    single-task window functions they replace, across asc/desc and
    composite orders, including exact SQL ntile bucket-size semantics
    (first n % k tiles get one extra row) and k > n. The customer input
    carries a column outside the order key, so the offsets and the rows
    they number must come from the same range exchange."""
    import math
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iris_project_database_refresh_spark.functions.distributed import (
        global_cumsum,
        global_ntile,
        global_ordered,
    )

    random.seed(7)
    df = spark.createDataFrame(
        [(i, random.randint(0, 50)) for i in range(1, 238)], "id int, v int"
    )

    for k in (4, 5, 10, 300):
        ref = df.select("id", F.ntile(k).over(Window.orderBy("v", "id")).alias("t"))
        got = global_ntile(df, ["v", "id"], k, tile_col="t").select("id", "t")
        assert ref.alias("a").join(got.alias("b"), "id").where("a.t <> b.t").count() == 0

    ref = df.select("id", F.ntile(4).over(Window.orderBy(F.desc("v"), "id")).alias("t"))
    got = global_ntile(df, [F.desc("v"), F.col("id")], 4, tile_col="t").select("id", "t")
    assert ref.alias("a").join(got.alias("b"), "id").where("a.t <> b.t").count() == 0

    w = Window.orderBy("v", "id")
    ref2 = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("cm"),
    )
    got2 = global_ordered(
        df, ["v", "id"], rank_col="rn", cumsum_cols={"cs": "v"}, cummax_excl_cols={"cm": "v"}
    ).select("id", "rn", "cs", "cm")
    bad = (
        ref2.alias("a")
        .join(got2.alias("b"), "id")
        .where("a.rn <> b.rn or a.cs <> b.cs or coalesce(a.cm, -1) <> coalesce(b.cm, -1)")
        .count()
    )
    assert bad == 0

    cust = load_table(spark, SF_CORRECT, "customer").select("c_custkey", "c_name", "c_acctbal")
    w = Window.orderBy("c_name")
    want = {
        r.c_custkey: r
        for r in cust.select(
            "c_custkey",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("t"),
            F.sum("c_acctbal").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
            F.coalesce(
                F.sum("c_acctbal").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)
            ).alias("off"),
        ).collect()
    }
    ranked = {
        r.c_custkey: r
        for r in global_ordered(
            cust, ["c_name"], rank_col="rn", cumsum_cols={"cs": "c_acctbal"}
        ).collect()
    }
    tiles = {r.c_custkey: r.t for r in global_ntile(cust, ["c_name"], 4, tile_col="t").collect()}
    offs = {
        r.c_custkey: r.off
        for r in global_cumsum(cust, "c_name", "c_acctbal", out_col="off").collect()
    }
    assert len(want) == len(ranked) == len(tiles) == len(offs) == 1500
    assert {k: r.rn for k, r in ranked.items()} == {k: r.rn for k, r in want.items()}
    assert tiles == {k: r.t for k, r in want.items()}
    # double sums: the prefix offsets regroup the additions
    assert all(math.isclose(ranked[k].cs, r.cs, abs_tol=1e-6) for k, r in want.items())
    assert all(math.isclose(offs[k], r.off, abs_tol=1e-6) for k, r in want.items())


# --- the collected moments: empty input, several range partitions ------------

ORDERED_DTYPES = [
    ("id", "int"), ("k", "double"), ("x", "double"), ("n", "bigint"),
    ("cnt", "bigint"), ("rn", "bigint"), ("cs_x", "double"), ("cs_n", "bigint"),
    ("cm_x", "double"), ("cm_n", "bigint"),
]
SCHEMA = "id int, k double, x double, n bigint"


def _all_stats(df):
    from iris_project_database_refresh_spark.functions.distributed import global_ordered

    return global_ordered(
        df, ["k"], rank_col="rn", count_col="cnt",
        cumsum_cols={"cs_x": "x", "cs_n": "n"}, cummax_excl_cols={"cm_x": "x", "cm_n": "n"},
    )


def test_global_ordered_on_empty_input(spark):
    from iris_project_database_refresh_spark.functions.distributed import (
        global_cumsum,
        global_ntile,
    )

    empty = spark.createDataFrame([], SCHEMA)
    got = _all_stats(empty)
    assert got.dtypes == ORDERED_DTYPES
    assert got.collect() == []
    assert global_ntile(empty, ["k"], 4, tile_col="t").dtypes[-1] == ("t", "int")
    assert global_cumsum(empty, "k", "n", out_col="off").dtypes[-1] == ("off", "bigint")
    seq = sequential_ids(empty, "k", id_col="sid", after=spark.createDataFrame([(7,)], "id bigint"))
    assert seq.dtypes[-1] == ("sid", "bigint") and seq.collect() == []


def test_global_ordered_across_range_partitions_with_an_empty_one(spark):
    """Several range partitions, the last one empty: the order key ends
    in a run of 1,000 ties, which the range partitioner's sampled bounds
    end on, so nothing is left for the partition above them. Ranks,
    ntiles, running sums (exact doubles, ±Infinity and NaN among them)
    and exclusive running maxima must equal the single-task window
    functions. Within the tied run the row order is arbitrary, but the
    value columns are constant there, so each rank's row of stats is
    determined."""
    from pyspark.sql import Window

    from iris_project_database_refresh_spark.functions.distributed import global_ntile

    special = {600: float("inf"), 800: float("-inf"), 900: float("nan")}
    rows = [(i, float(i), special.get(i, (i % 7) * 0.5 - 1.0), i % 13) for i in range(1000)]
    rows += [(1000 + i, 5000.0, 2.0, 5) for i in range(1000)]
    conf = {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    before = {key: spark.conf.get(key) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        df = spark.createDataFrame(rows, SCHEMA).repartition(4, "id")
        sizes = df.repartitionByRange("k").rdd.glom().map(len).collect()
        assert len(sizes) > 2 and sizes[-1] == 0 and min(sizes[:-1]) > 0, sizes

        got = _all_stats(df)
        tiles = {r.id: r.t for r in global_ntile(df, ["k"], 7, tile_col="t").collect()}
        w = Window.orderBy("k")
        want = df.select(
            "id",
            F.lit(len(rows)).cast("bigint").alias("cnt"),
            F.row_number().over(w).alias("rn"),
            F.ntile(7).over(w).alias("t"),
            *[F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(f"cs_{c}") for c in "xn"],
            *[F.max(c).over(w.rowsBetween(Window.unboundedPreceding, -1)).alias(f"cm_{c}") for c in "xn"],
        )
        stats = ["cnt", "cs_x", "cs_n", "cm_x", "cm_n"]
        mine = sorted((r.rn, tiles[r.id], *(repr(r[c]) for c in stats)) for r in got.collect())
        theirs = sorted((r.rn, r.t, *(repr(r[c]) for c in stats)) for r in want.collect())
    finally:
        for key, value in before.items():
            spark.conf.set(key, value)
    assert got.dtypes == ORDERED_DTYPES
    assert mine == theirs
    assert {s for _, _, _, s, *_ in mine} >= {"inf", "nan"}


def test_offset_lookup_renders_doubles_exactly(spark):
    """The collected offsets go back to Spark as SQL literals; every
    double must come back bit for bit."""
    import struct

    from iris_project_database_refresh_spark.functions.distributed import _by_pid

    values = [0.1, 1 / 3, 1e-7, 5e-324, -2.5e300, -0.0, float("inf"), float("-inf"), float("nan"), None]
    pids = spark.range(len(values)).select(F.col("id").cast("int").alias("_pid"))
    got = {r._pid: r.v for r in pids.select("_pid", _by_pid(values, "double").alias("v")).collect()}
    bits = lambda v: None if v is None else struct.pack(">d", v)  # noqa: E731
    assert [bits(got[p]) for p in range(len(values))] == [bits(v) for v in values]


def test_sequential_ids_continue_after_a_frame(spark):
    """ids continue from the max of ``after``, and start at 1 (or
    ``start``) when ``after`` is empty."""
    df = spark.createDataFrame([(k,) for k in "dacb"], "k string")
    ids = lambda out: {r.k: r.sid for r in out.collect()}  # noqa: E731
    assert ids(sequential_ids(df, "k", id_col="sid", after=spark.createDataFrame([], "id int"))) == {
        "a": 1, "b": 2, "c": 3, "d": 4,
    }
    after = spark.createDataFrame([(3,), (41,), (None,)], "id int")
    assert ids(sequential_ids(df, "k", id_col="sid", after=after)) == {"a": 42, "b": 43, "c": 44, "d": 45}
    assert ids(sequential_ids(df, "k", id_col="sid", start=10)) == {"a": 10, "b": 11, "c": 12, "d": 13}
