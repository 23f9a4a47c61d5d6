"""Distributed versions of operations that naively serialize.

`global_ordered` is the one global-order device. The reference assigns
master-CSV ids as max+1, max+2… in sorted order (`catalog
search/stage4_update_csv.py:367` get_next_id); global ranks, running
sums and ntiles are the same idea. The naive Spark translation — a
window with no partitionBy — pulls every row through ONE task. The
device keeps the exact same output while staying parallel:

1. range-repartition by the order key (distributed sort), sort within
   each partition, take each row's local rank and pin the result,
2. aggregate per-partition moments (count, sums, maxima) from the
   pinned rows (a tiny job),
3. broadcast their prefix offsets and add them to the local values.

The pin is there for correctness, not speed: one range exchange must
feed both the offsets and the rows. Unpinned, column pruning gives the
two branches different columns, so each plans its own exchange, and
`RangePartitioner` samples each one's bounds separately — the offsets
then describe partitions other than the ones being numbered.
`sequential_ids`, `global_cumsum` and `global_ntile` derive from it.

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
) -> DataFrame:
    """Dense ids start, start+1, … in `order_col` order (global_ordered's
    rank shifted), without a global window.

    Ties in `order_col` get an arbitrary but deterministic-per-run
    order within the tied range (use a unique key for full
    determinism, as catalog_merge does with file_name).

    `start_col` names a (constant) column holding the first id — pass
    it (e.g. cross-joined from a broadcast 1-row aggregate) instead of
    collecting a scalar on the driver.
    """
    base = (F.col(start_col) - 1) if start_col else F.lit(start - 1)
    out = global_ordered(df, [order_col], rank_col=id_col)
    out = out.withColumn(id_col, F.col(id_col) + base)
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
) -> DataFrame:
    """Exclusive prefix sum of `value_col` in `order_col` order, without
    a global window: global_ordered's inclusive running sum minus the
    row's own value (exact for non-null integer values)."""
    out = global_ordered(df, [order_col], cumsum_cols={out_col: value_col})
    return out.withColumn(out_col, F.col(out_col) - F.col(value_col))


def global_ordered(
    df: DataFrame,
    order_cols,
    *,
    rank_col: str | None = None,
    count_col: str | None = None,
    cumsum_cols: dict[str, str] | None = None,
    cummax_excl_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Replacement for single-task global windows (the round-6 verdict's
    scale-killer family): global row_number (`rank_col`), total row
    count (`count_col`), inclusive running sums (`cumsum_cols`: out ->
    value col) and EXCLUSIVE running maxima (`cummax_excl_cols`: out ->
    value col, NULL when no strict predecessor exists) — all in the
    total order given by `order_cols` (strings or Column sort orders,
    e.g. F.desc("rev")), bit-identical to the window functions.

    Every stat shares ONE pinned range exchange (see the module
    docstring), which runs when this is called; the rest stays lazy.
    Within a partition, the record number of monotonically_increasing_id
    (its low 33 bits) is the local rank, so a rank needs no window;
    running stats take a local window ordered by it. Without a fixed
    partition count, AQE coalesces the exchange, so a few dozen rows
    stay one partition (and one output file).
    """
    cols = list(order_cols) if isinstance(order_cols, (list, tuple)) else [order_cols]
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    cumsum_cols = cumsum_cols or {}
    cummax_excl_cols = cummax_excl_cols or {}
    mid = F.monotonically_increasing_id()
    ranged = (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            (mid.bitwiseAND((1 << 33) - 1) + 1).alias("_lrn"),
        )
        .localCheckpoint(eager=False)
    )

    # tiny: one row per partition
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    aggs += [F.sum(v).alias(f"_s_{out}") for out, v in cumsum_cols.items()]
    aggs += [F.max(v).alias(f"_m_{out}") for out, v in cummax_excl_cols.items()]
    per_pid = ranged.groupBy("_pid").agg(*aggs)
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

    w_local = Window.partitionBy("_pid").orderBy("_lrn")
    w_incl = w_local.rowsBetween(Window.unboundedPreceding, 0)
    w_excl = w_local.rowsBetween(Window.unboundedPreceding, -1)
    out_df = ranged.join(F.broadcast(offsets), "_pid")
    if rank_col:
        out_df = out_df.withColumn(rank_col, F.col("_lrn") + F.col("_rk_off"))
    for out, v in cumsum_cols.items():
        out_df = out_df.withColumn(out, F.sum(v).over(w_incl) + F.col(f"_off_{out}"))
    for out, v in cummax_excl_cols.items():
        # greatest skips NULLs: NULL only when neither side has a value
        out_df = out_df.withColumn(out, F.greatest(F.max(v).over(w_excl), F.col(f"_pmax_{out}")))
    drop = ["_pid", "_lrn", "_rk_off"]
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
    out = global_ordered(df, order_cols, rank_col=rn, count_col=n)
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
