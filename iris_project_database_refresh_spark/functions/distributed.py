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
   pinned rows and collect them: at most one row per range partition
   (`spark.sql.shuffle.partitions` bounds them), plus one for an
   `after` frame,
3. take their prefix offsets in Python, in partition order, and add
   them to the local values as literal lookups by partition id.

The pin is there for correctness, not speed: one range exchange must
feed both the moments and the rows. Unpinned, column pruning gives the
two branches different columns, so each plans its own exchange, and
`RangePartitioner` samples each one's bounds separately — the offsets
then describe partitions other than the ones being numbered.
`sequential_ids`, `global_cumsum` and `global_ntile` derive from it.

`salted_agg`: two-phase aggregation for skewed group keys — partial
aggregate on (key, salt), then final aggregate on key. AQE's skew
handling covers joins; this covers the groupBy-with-mega-key case
(e.g. counting by a 'language' column where one language is 90% of a
100 TB corpus).

`replace_keys`: the delete+insert merge of the reference's staged
upload (`semantic search/stage_06_database_upload.py`: DELETE the
batch's keys, INSERT the batch) as one anti-join plus a union, never a
per-key loop. `catalog.refresh_upsert`, the streaming
`ParquetUpsertTable` and the copy-on-write `cow_merge` all use it.
"""

from __future__ import annotations

from decimal import Context, localcontext

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sequential_ids(
    df: DataFrame,
    order_col: str,
    *,
    id_col: str = "seq_id",
    start: int = 1,
    after: DataFrame | None = None,
) -> DataFrame:
    """Dense ids start, start+1, … in `order_col` order (global_ordered's
    rank shifted), without a global window.

    Ties in `order_col` get an arbitrary but deterministic-per-run
    order within the tied range (use a unique key for full
    determinism, as catalog_merge does with file_name).

    `after` is a one-column integral DataFrame the ids continue from:
    they start at max + start, or at `start` when it is empty. Its max
    is taken in the same collected aggregate as the offsets.
    """
    out = global_ordered(df, [order_col], rank_col=id_col, after=after)
    return out.withColumn(id_col, F.col(id_col) + F.lit(start - 1))


def replace_keys(current: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """``current`` with every row whose ``keys`` appear in ``batch``
    replaced by the batch: the rows of ``current`` whose key the batch
    lacks, then every batch row (columns matched by name)."""
    return current.join(batch.select(*keys), keys, "left_anti").unionByName(batch)


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


def _sum_type(dtype: str) -> str:
    """The SQL type of Spark's ``sum`` over a column of ``dtype``."""
    if dtype.startswith("decimal"):
        p, s = (int(x) for x in dtype[8:-1].split(","))
        return f"decimal({min(38, p + 10)},{s})"
    return "double" if dtype in ("float", "double") else "bigint"


def _by_pid(values: list, dtype: str) -> Column:
    """``values[_pid]`` as a literal lookup of SQL type ``dtype`` (None
    is NULL). str() of a Python float round-trips exactly, NaN and
    ±Infinity included."""
    lits = ", ".join(
        f"CAST(NULL AS {dtype})" if v is None else f"CAST('{v}' AS {dtype})" for v in values or [None]
    )
    return F.expr(f"element_at(array({lits}), _pid + 1)")


def _add(acc, v):
    """Spark's sum step: the first value is added to 0."""
    return (0 if acc is None else acc) + v


def _max(acc, v):
    """Spark's max step: NaN above all, the earlier of equal values kept."""
    return v if acc is None or v > acc or (v != v and acc == acc) else acc


def global_ordered(
    df: DataFrame,
    order_cols,
    *,
    rank_col: str | None = None,
    count_col: str | None = None,
    cumsum_cols: dict[str, str] | None = None,
    cummax_excl_cols: dict[str, str] | None = None,
    after: DataFrame | None = None,
) -> DataFrame:
    """Replacement for single-task global windows (the round-6 verdict's
    scale-killer family): global row_number (`rank_col`), total row
    count (`count_col`), inclusive running sums (`cumsum_cols`: out ->
    value col) and EXCLUSIVE running maxima (`cummax_excl_cols`: out ->
    numeric value col, NULL when no strict predecessor exists) — all in
    the total order given by `order_cols` (strings or Column sort
    orders, e.g. F.desc("rev")), bit-identical to the window functions.
    With `after` (a one-column integral DataFrame) the ranks continue
    from its max, 0 when it is empty.

    Every stat shares ONE pinned range exchange (see the module
    docstring). The exchange and the collected moments run when this is
    called; the rest stays lazy. Within a partition, the record number
    of monotonically_increasing_id (its low 33 bits) is the local rank,
    so a rank needs no window; running stats take a local window
    ordered by it. Without a fixed partition count, AQE coalesces the
    exchange, so a few dozen rows stay one partition (and one output
    file).
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

    # tiny: one row per range partition, plus one (_pid -1) for `after`
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    aggs += [F.sum(v).alias(f"_s_{out}") for out, v in cumsum_cols.items()]
    aggs += [F.max(v).alias(f"_m_{out}") for out, v in cummax_excl_cols.items()]
    src = ranged
    if after is not None:
        aggs.append(F.max("_after").alias("_after"))
        vals = dict.fromkeys([*cumsum_cols.values(), *cummax_excl_cols.values()])
        src = ranged.select("_pid", *vals).unionByName(
            after.toDF("_after").select(F.lit(-1).alias("_pid"), "_after"),
            allowMissingColumns=True,
        )
    moments = src.groupBy("_pid").agg(*aggs)
    got = {r["_pid"]: r for r in moments.collect()}
    after_max = got.pop(-1)["_after"] if -1 in got else None
    parts = [got.get(p) for p in range(max(got, default=-1) + 1)]
    types = dict(moments.dtypes) if cumsum_cols or cummax_excl_cols else {}

    def prefix(name: str, step) -> list:
        """Per partition, ``step`` folded over the non-NULL ``name``
        moments of the partitions before it (None before any)."""
        out, acc = [], None
        for r in parts:
            out.append(acc)
            if r is not None and r[name] is not None:
                acc = step(acc, r[name])
        return out

    new: dict[str, Column] = {}
    if count_col:
        new[count_col] = F.lit(sum(r["_cnt"] for r in got.values())).cast("bigint")
    if rank_col:
        offs = [(after_max or 0) + (o or 0) for o in prefix("_cnt", _add)]
        new[rank_col] = F.col("_lrn") + F.coalesce(_by_pid(offs, "bigint"), F.lit(0))
    w_local = Window.partitionBy("_pid").orderBy("_lrn")
    for out, v in cumsum_cols.items():
        with localcontext(Context(prec=80)):  # exact for decimal(38) sums
            offs = prefix(f"_s_{out}", _add)
        off = F.coalesce(_by_pid(offs, _sum_type(types[f"_s_{out}"])), F.lit(0))
        new[out] = F.sum(v).over(w_local.rowsBetween(Window.unboundedPreceding, 0)) + off
    for out, v in cummax_excl_cols.items():
        pmax = _by_pid(prefix(f"_m_{out}", _max), types[f"_m_{out}"])
        # greatest skips NULLs: NULL only when neither side has a value
        new[out] = F.greatest(F.max(v).over(w_local.rowsBetween(Window.unboundedPreceding, -1)), pmax)
    return ranged.withColumns(new).drop("_pid", "_lrn")


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
