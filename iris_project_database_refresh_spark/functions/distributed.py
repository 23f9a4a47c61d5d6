"""Distributed versions of operations that naively serialize.

`sequential_ids`: the reference assigns master-CSV ids as max+1, max+2…
in sorted order (`catalog search/stage4_update_csv.py:367` get_next_id).
The naive Spark translation — row_number() over a global Window — pulls
every row through ONE task. This version keeps the exact same output
while staying parallel:

1. range-repartition by the sort key (distributed sort), number rows
   locally within each partition and pin the result,
2. count rows per partition of the pinned rows (a tiny job),
3. broadcast the cumulative offsets and add them to the local numbers.

`salted_agg`: two-phase aggregation for skewed group keys — partial
aggregate on (key, salt), then final aggregate on key. AQE's skew
handling covers joins; this covers the groupBy-with-mega-key case
(e.g. counting by a 'language' column where one language is 90% of a
100 TB corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sequential_ids(
    df: DataFrame,
    order_col: str,
    *,
    id_col: str = "seq_id",
    start: int = 1,
    start_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based ids in `order_col` order, without a global window.

    Ties in `order_col` get an arbitrary but deterministic-per-run
    order within the tied range (use a unique key for full
    determinism, as catalog_merge does with file_name).

    `start_col` names a (constant) column holding the first id — pass
    it (e.g. cross-joined from a broadcast 1-row aggregate) instead of
    collecting a scalar on the driver. The range shuffle runs when this
    is called (the pinned exchange below); the numbering stays lazy.
    """
    # One range exchange feeds both the offsets and the numbering: the
    # pin keeps column pruning from giving the offsets branch its own
    # exchange, whose separately sampled bounds would not match the
    # rows numbered here. Within a partition, the record number of
    # monotonically_increasing_id (its low 33 bits) is the local rank.
    # Without a fixed partition count, AQE coalesces the exchange, so a
    # few dozen rows stay one partition (and one output file).
    mid = F.monotonically_increasing_id()
    ranged = (
        df.repartitionByRange(*([num_partitions] if num_partitions else []), F.col(order_col))
        .sortWithinPartitions(order_col)
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            (mid.bitwiseAND((1 << 33) - 1) + 1).alias("_rn"),
        )
        .localCheckpoint(eager=False)
    )
    # tiny: one row per partition
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    base = (F.col(start_col) - 1) if start_col else F.lit(start - 1)
    out = (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(id_col, F.col("_rn") + F.col("_offset") + base)
        .drop("_pid", "_rn", "_offset")
    )
    return out.drop(start_col) if start_col else out


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    *,
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    `aggs`: output_name -> 'fn(col)' where fn ∈ {sum, count, min, max}
    (the re-aggregable functions; avg = sum/count at the call site).
    Phase 1 aggregates on (keys…, salt) — spreading a hot key over
    `salt_buckets` reducers — phase 2 merges the partials.
    """
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)), "min": F.min, "max": F.max}
    parsed: dict[str, tuple[str, str]] = {}
    for out, spec in aggs.items():
        fn, col = spec.rstrip(")").split("(", 1)
        if fn not in merge:
            raise ValueError(f"{fn} is not re-aggregable; use sum/count/min/max")
        parsed[out] = (fn, col)

    salted = df.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[first[fn](col).alias(out) for out, (fn, col) in parsed.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge[fn](out).alias(out) for out, (fn, col) in parsed.items()]
    )


def bucketize(col: Column, buckets: int) -> Column:
    """Stable md5-derived bucket id — the salting key for joins when the
    skew is in the data, not random (co-partition both sides on it)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint") % buckets


EVENTS_PER_KEY_CAP = 10_000


def bounded_sorted_events(
    df: DataFrame,
    key_col: str,
    payload: Column,
    *,
    cap: int = EVENTS_PER_KEY_CAP,
    evs_col: str = "evs",
    flag_col: str = "evs_truncated",
) -> DataFrame:
    """Per-key time-sorted event array with a hard per-key bound.

    The house per-key fold inputs (funnel, EWMA, Markov transitions)
    build one in-memory array per key via sort_array(collect_list(…)).
    That array is the skew hazard: a single power-user key with 100×
    the median history concentrates its whole array in one task's heap
    — AQE can split a skewed exchange but cannot split one group. The
    guard: rank events per key with a window (external-sort-backed, so
    it spills instead of OOMing), keep the EARLIEST `cap` events, and
    carry a truncation flag. The groupBy reuses the window's hash
    partitioning, so the guard costs a sort but no extra shuffle. At
    the test corpus's ≤ 99 events/key the default cap binds nothing
    and every oracle is unchanged; a planted mega-user proves the
    bound (tests/test_distributed.py).

    Ranking orders by the whole payload struct (lexicographic, order
    field first) — exactly sort_array's comparator — so which events
    survive the cap is deterministic even under timestamp ties.
    """
    w = Window.partitionBy(key_col).orderBy(payload)
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(key_col)
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= cap, payload))
            ).alias(evs_col),
            (F.max("_rn") > cap).alias(flag_col),
        )
    )


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    out_col: str = "cum_offset",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of `value_col` in `order_col` order, without
    a global window (which would drag every row through one task):
    range-repartition on the order key, sum per partition (tiny job),
    broadcast the partition offsets, then a local window per partition.
    Same two-pass shape as sequential_ids."""
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = df.repartitionByRange(int(parts), F.col(order_col))
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.sum(value_col).alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    w_local = (
        Window.partitionBy("_pid").orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col, F.coalesce(F.sum(value_col).over(w_local), F.lit(0)) + F.col("_offset")
        )
        .drop("_pid", "_offset")
    )


def global_ordered(
    df: DataFrame,
    order_cols,
    *,
    rank_col: str | None = None,
    count_col: str | None = None,
    cumsum_cols: dict[str, str] | None = None,
    cummax_excl_cols: dict[str, str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """One range-shuffle two-pass replacement for single-task global
    windows (the round-6 verdict's scale-killer family): global
    row_number (`rank_col`), total row count (`count_col`), inclusive
    running sums (`cumsum_cols`: out -> value col) and EXCLUSIVE
    running maxima (`cummax_excl_cols`: out -> value col, NULL when no
    strict predecessor exists) — all in the total order given by
    `order_cols` (strings or Column sort orders, e.g. F.desc("rev")).

    Shape: range-repartition on the order key (distributed sort), one
    tiny per-partition moments job, broadcast the prefix offsets, then
    local windows per partition. Same device as sequential_ids /
    global_cumsum but fused: rank + every running stat share ONE
    shuffle. `Window.orderBy(...)` with no partitionBy funnels the
    whole input through one task; this keeps all stats bit-identical
    (the order is total) while every stage stays parallel.
    """
    cols = list(order_cols) if isinstance(order_cols, (list, tuple)) else [order_cols]
    cumsum_cols = cumsum_cols or {}
    cummax_excl_cols = cummax_excl_cols or {}
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = df.repartitionByRange(int(parts), *[F.col(c) if isinstance(c, str) else c for c in cols])
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())

    aggs = [F.count(F.lit(1)).alias("_cnt")]
    aggs += [F.sum(v).alias(f"_s_{out}") for out, v in cumsum_cols.items()]
    aggs += [F.max(v).alias(f"_m_{out}") for out, v in cummax_excl_cols.items()]
    per_pid = with_pid.groupBy("_pid").agg(*aggs)
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sel = [
        F.col("_pid"),
        F.coalesce(F.sum("_cnt").over(w_prev), F.lit(0)).alias("_rk_off"),
    ]
    if count_col:
        sel.append(F.sum("_cnt").over(w_all).alias(count_col))
    sel += [
        F.coalesce(F.sum(f"_s_{out}").over(w_prev), F.lit(0)).alias(f"_off_{out}")
        for out in cumsum_cols
    ]
    sel += [
        F.max(f"_m_{out}").over(w_prev).alias(f"_pmax_{out}") for out in cummax_excl_cols
    ]
    offsets = per_pid.select(*sel)

    w_local = Window.partitionBy("_pid").orderBy(*cols)
    w_incl = w_local.rowsBetween(Window.unboundedPreceding, 0)
    w_excl = w_local.rowsBetween(Window.unboundedPreceding, -1)
    out_df = with_pid.join(F.broadcast(offsets), "_pid")
    if rank_col:
        out_df = out_df.withColumn(
            rank_col, (F.row_number().over(w_local) + F.col("_rk_off")).cast("bigint")
        )
    for out, v in cumsum_cols.items():
        out_df = out_df.withColumn(out, F.sum(v).over(w_incl) + F.col(f"_off_{out}"))
    for out, v in cummax_excl_cols.items():
        local = F.max(v).over(w_excl)
        prev = F.col(f"_pmax_{out}")
        out_df = out_df.withColumn(
            out,
            F.when(local.isNull(), prev)
            .when(prev.isNull(), local)
            .otherwise(F.greatest(local, prev)),
        )
    drop = ["_pid", "_rk_off"]
    drop += [f"_off_{out}" for out in cumsum_cols]
    drop += [f"_pmax_{out}" for out in cummax_excl_cols]
    return out_df.drop(*drop)


def global_ntile(
    df: DataFrame,
    order_cols,
    k: int,
    *,
    tile_col: str = "tile",
    rank_col: str | None = None,
    count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL ntile(k) over a global total order, without the
    single-task window ntile() plans. Standard ntile semantics: with
    n rows, the first n % k tiles get n div k + 1 rows, the rest get
    n div k — reproduced arithmetically from the distributed rank, so
    the result is bit-identical to `ntile(k) OVER (ORDER BY ...)` in
    both Spark and DuckDB whenever `order_cols` is a total order.
    Emits tile as INT (matching F.ntile); optionally keeps the rank
    and total-count columns for callers that need them (gini's i*x)."""
    rn = rank_col or "_gnt_rn"
    n = count_col or "_gnt_n"
    out = global_ordered(
        df, order_cols, rank_col=rn, count_col=n, num_partitions=num_partitions
    )
    q = f"({n} div {k})"
    r = f"({n} % {k})"
    out = out.withColumn(
        tile_col,
        F.expr(
            f"case when {rn} <= {r} * ({q} + 1)"
            f" then ({rn} - 1) div ({q} + 1) + 1"
            f" else {r} + ({rn} - {r} * ({q} + 1) - 1) div {q} + 1 end"
        ).cast("int"),
    )
    if not rank_col:
        out = out.drop(rn)
    if not count_col:
        out = out.drop(n)
    return out
