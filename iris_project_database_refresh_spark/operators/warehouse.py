"""Warehouse maintenance operators: SCD2 interval materialization and
column profiling.

Both extend the catalog-refresh family (reference: ``catalog
search/stage4_update_csv.py`` master-merge semantics and
``stage5_output_final_csv.py`` validate_csv_data): stage4 keeps only
the latest record per document — SCD2 is the standard warehouse answer
when history must be queryable instead of overwritten, and the profile
is the column-level generalization of stage5's per-field checks.

* `scd2_intervals` — slowly-changing-dimension type-2 build: a change
  history (planted deterministically in-query, the house pattern:
  1-3 versions per doc on a per-doc cadence) becomes validity
  intervals via ``lead(valid_from)`` over a per-key window —
  half-open [valid_from, valid_to), NULL-terminated current rows.
  One shuffle on the business key; the window is a single sorted pass.
* `table_profile` — per-column profile of the lineitem measures
  (count / nulls / min / max / mean / stddev / distinct) computed in
  ONE aggregation pass, then unpivoted to long form via an in-plan
  explode of per-column structs (no second scan, no driver work).
  The exact multi-column count(DISTINCT) plans an Expand (x4 row
  multiplier before partial aggs) — kept because it is bit-comparable
  to the DuckDB oracle; at 100 TB the same query swaps in
  ``approx_count_distinct`` (HLL: one pass, no Expand, mergeable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

MAX_VERSIONS = 3  # planted history: doc_id % 3 + 1 versions per doc


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    vers = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (F.col("doc_id") % MAX_VERSIONS).cast("int"))).alias("k"),
    ).select(
        "doc_id",
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            ((F.col("doc_id") % 7 + 1) * F.col("k")).cast("int"),
        ).alias("valid_from"),
        F.substring(F.md5(F.concat_ws("-", "doc_id", "k")), 1, 8).alias("attr"),
    )
    w = Window.partitionBy("doc_id").orderBy("valid_from")
    return vers.select(
        "doc_id",
        "attr",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


SCD2_SQL = f"""
WITH vers AS (
  SELECT doc_id,
         DATE '2024-01-01' + CAST((doc_id % 7 + 1) * k AS INTEGER) AS valid_from,
         substring(md5(doc_id::VARCHAR || '-' || k::VARCHAR), 1, 8) AS attr
  FROM documents
  CROSS JOIN (VALUES (0), (1), (2)) v(k)
  WHERE k <= doc_id % {MAX_VERSIONS}
)
SELECT doc_id, attr, valid_from,
       lead(valid_from) OVER w AS valid_to,
       lead(valid_from) OVER w IS NULL AS is_current
FROM vers
WINDOW w AS (PARTITION BY doc_id ORDER BY valid_from)
"""


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(*PROFILE_COLS)
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
            F.round(F.min(c), 6).alias(f"{c}_min"),
            F.round(F.max(c), 6).alias(f"{c}_max"),
            F.round(F.avg(c), 6).alias(f"{c}_avg"),
            F.round(F.stddev_samp(c), 6).alias(f"{c}_std"),
        ]
    # moments in ONE Expand-free pass; each exact distinct count as its
    # own single-distinct subtree (guide §2.2). Four countDistinct in
    # one agg planned as an Expand (x5 row multiplication) whose
    # partial-agg shuffle is keyed by the VALUES — ~every distinct
    # price/tax row crossed the wire carrying 41 mostly-null columns.
    # Split, each distinct shuffles one skinny column and the five
    # subtrees overlap as independent stages of the same job.
    wide = li.agg(*aggs)
    for c in PROFILE_COLS:
        wide = wide.crossJoin(
            F.broadcast(li.agg(F.countDistinct(c).alias(f"{c}_nd")))
        )
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}_n").alias("n_rows"),
            F.col(f"{c}_nulls").alias("n_null"),
            F.col(f"{c}_min").alias("min_v"),
            F.col(f"{c}_max").alias("max_v"),
            F.col(f"{c}_avg").alias("avg_v"),
            F.col(f"{c}_std").alias("std_v"),
            F.col(f"{c}_nd").alias("n_distinct"),
        )
        for c in PROFILE_COLS
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


PROFILE_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS col_name,
       count({c}) AS n_rows,
       count(*) - count({c}) AS n_null,
       round(min({c}), 6) AS min_v,
       round(max({c}), 6) AS max_v,
       round(avg({c}), 6) AS avg_v,
       round(stddev_samp({c}), 6) AS std_v,
       count(DISTINCT {c}) AS n_distinct
FROM lineitem"""
    for c in PROFILE_COLS
)


# --- point-in-time reconstruction (time travel over SCD2) --------------------

ASOF_DATE = "2024-01-08"


def catalog_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct the catalog's state as of ASOF_DATE from the SCD2
    validity intervals — the time-travel query a warehouse answers
    after history is kept instead of overwritten (the queryable
    complement of the reference's keep-latest merge, stage4). One row
    per key whose history had started by the cutoff: the version with
    `valid_from <= T < coalesce(valid_to, +inf)`. The half-open
    interval filter is a pure predicate on the interval table — at
    100 TB it rides partition pruning when intervals are laid out by
    valid_from (sinks/partitioned.py)."""
    t = F.to_date(F.lit(ASOF_DATE))
    iv = scd2_intervals(spark, sf_dir)
    state = iv.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
    return state.select(
        "doc_id",
        "attr",
        "valid_from",
        F.datediff(t, F.col("valid_from")).cast("bigint").alias("age_days"),
        F.col("valid_to").isNull().alias("is_open_ended"),
    )


ASOF_STATE_SQL = f"""
WITH iv AS ({SCD2_SQL})
SELECT doc_id, attr, valid_from,
       (DATE '{ASOF_DATE}' - valid_from)::BIGINT AS age_days,
       valid_to IS NULL AS is_open_ended
FROM iv
WHERE valid_from <= DATE '{ASOF_DATE}'
  AND (valid_to IS NULL OR valid_to > DATE '{ASOF_DATE}')
"""


# --- RFM customer segmentation -----------------------------------------------

RFM_TILES = 4


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary segmentation over the orders fact —
    the standard warehouse customer scoring. The fact collapses to one
    row per customer first (one shuffle); the customer table is
    entity-grain (scales with the corpus), so the three ntile scores
    come from the distributed two-pass rank (global_ntile: range
    repartition + broadcast prefix offsets + exact ntile arithmetic)
    rather than single-task global windows. Each order is total
    (metric + custkey tie-break) so tile assignment is bit-identical
    to ntile() OVER in both engines. The composite segment code is
    r*100 + f*10 + m."""
    from ..functions.distributed import global_ntile

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
        # pin: the three ntile branches and the join-back all read this
        # table, so unpinned each would re-run the orders aggregation
        .localCheckpoint(eager=False)
    )
    # three INDEPENDENT branches off the pinned customer table, joined
    # back on custkey
    scored = per_cust
    for tile, key in (
        ("r_score", "last_order"),
        ("f_score", "n_orders"),
        ("m_score", "total_spend"),
    ):
        t = global_ntile(
            per_cust.select("custkey", key),
            [F.desc(key), F.asc("custkey")],
            RFM_TILES,
            tile_col=tile,
        ).select("custkey", tile)
        scored = scored.join(t, "custkey")
    return scored.select(
        "custkey",
        "last_order",
        "n_orders",
        "total_spend",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias("rfm_code"),
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_spend
  FROM orders GROUP BY o_custkey
)
SELECT custkey, last_order, n_orders, total_spend,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_code
FROM (
  SELECT *,
         ntile({RFM_TILES}) OVER (ORDER BY last_order DESC, custkey) AS r_score,
         ntile({RFM_TILES}) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
         ntile({RFM_TILES}) OVER (ORDER BY total_spend DESC, custkey) AS m_score
  FROM per_cust
)
"""


QUERIES = {
    "scd2_intervals": scd2_intervals,
    "table_profile": table_profile,
    "catalog_asof_state": catalog_asof_state,
    "customer_rfm": customer_rfm,
}

ORACLES = {
    "scd2_intervals": SCD2_SQL,
    "table_profile": PROFILE_SQL,
    "catalog_asof_state": ASOF_STATE_SQL,
    "customer_rfm": RFM_SQL,
}


# --- customer_segment_migration ----------------------------------------------
#
# The follow-up question RFM scoring exists to answer: who MOVED?
# Spend quartiles are computed independently for two halves of the
# order history (cutoff 1998-07-01, mid-range of the corpus dates) and
# the transition matrix counts customers per (tier_then, tier_now),
# with tier 0 for absent-in-period (new / churned customers). The
# warehouse report behind retention programs.
#
# Scale: each period collapses to per-customer rows first; the ntile
# windows run over the bounded customer table (deterministic
# spend-desc + custkey order, the customer_rfm device); the matrix is
# a full outer join of two customer-sized tables + one bounded count.

MIGRATION_CUTOFF = "1998-07-01"


def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )

    from ..functions.distributed import global_ntile

    def tiers(period_filter):
        # entity-grain table: distributed two-pass ntile, not the
        # single-task global window (round-6 verdict scale-killer)
        per_cust = (
            orders.where(period_filter)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        )
        return global_ntile(
            per_cust, [F.desc("spend"), F.asc("custkey")], RFM_TILES, tile_col="tier"
        ).select("custkey", "tier")

    p1 = tiers(F.col("o_orderdate") < MIGRATION_CUTOFF).withColumnRenamed("tier", "tier_then")
    p2 = tiers(F.col("o_orderdate") >= MIGRATION_CUTOFF).withColumnRenamed("tier", "tier_now")
    joined = p1.join(p2, "custkey", "full").select(
        F.coalesce("tier_then", F.lit(0)).alias("tier_then"),
        F.coalesce("tier_now", F.lit(0)).alias("tier_now"),
    )
    return joined.groupBy("tier_then", "tier_now").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


SEGMENT_MIGRATION_SQL = f"""
WITH p1 AS (
  SELECT custkey, ntile({RFM_TILES}) OVER (ORDER BY spend DESC, custkey) AS tier_then
  FROM (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS spend
        FROM orders WHERE o_orderdate < TIMESTAMP '{MIGRATION_CUTOFF}' GROUP BY o_custkey)
),
p2 AS (
  SELECT custkey, ntile({RFM_TILES}) OVER (ORDER BY spend DESC, custkey) AS tier_now
  FROM (SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS spend
        FROM orders WHERE o_orderdate >= TIMESTAMP '{MIGRATION_CUTOFF}' GROUP BY o_custkey)
)
SELECT coalesce(tier_then, 0) AS tier_then,
       coalesce(tier_now, 0) AS tier_now,
       count(*) AS n_customers
FROM p1 FULL OUTER JOIN p2 USING (custkey)
GROUP BY 1, 2
"""

QUERIES["customer_segment_migration"] = customer_segment_migration
ORACLES["customer_segment_migration"] = SEGMENT_MIGRATION_SQL


# --- weekly seasonality index over the orders fact ----------------------------
#
# Classical ratio-to-moving-average decomposition (the textbook
# seasonal-index method): daily order revenue divided by its centered
# 7-day moving average gives a detrended ratio; averaging ratios per
# ISO weekday yields the weekly seasonal profile a refresh-cadence
# planner reads ("Mondays run 1.2x trend"). All arithmetic is exact
# integers — cents for revenue, basis points for ratios, floor
# division everywhere (positive operands, so Spark `div` == DuckDB
# `//`) — the house device that keeps derived averages hash-stable.
#
# Scale: the corpus-sized work is ONE (day) aggregation with map-side
# combine; the moving-average window, ratios and the final per-dow
# rollup all run on the bounded day table (365-ish rows per year of
# history regardless of fact size).

def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).alias("cents"),
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "n_orders",
        "cents",
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum("cents").over(w).alias("win_cents"),
    ).where(F.col("win_n") == 7)  # full centered weeks only — no edge bias
    ratios = trended.select(
        "day",
        F.expr("((dayofweek(day) + 5) % 7) + 1").cast("bigint").alias("iso_dow"),
        F.expr("cents * 10000 div (win_cents div 7)").alias("ratio_bp"),
    )
    return ratios.groupBy("iso_dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("cast(sum(ratio_bp) div count(1) as bigint)").alias("seasonal_index_bp"),
        F.min("ratio_bp").alias("min_ratio_bp"),
        F.max("ratio_bp").alias("max_ratio_bp"),
    )


SEASONAL_INDEX_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         count(*) AS n_orders,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), trended AS (
  SELECT day, n_orders, cents,
         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_n,
         sum(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win_cents
  FROM daily
), ratios AS (
  SELECT isodow(day)::BIGINT AS iso_dow,
         cents * 10000 // (win_cents // 7) AS ratio_bp
  FROM trended WHERE win_n = 7
)
SELECT iso_dow,
       count(*) AS n_days,
       CAST(sum(ratio_bp) // count(*) AS BIGINT) AS seasonal_index_bp,
       CAST(min(ratio_bp) AS BIGINT) AS min_ratio_bp,
       CAST(max(ratio_bp) AS BIGINT) AS max_ratio_bp
FROM ratios GROUP BY iso_dow
"""

QUERIES["orders_seasonal_index"] = orders_seasonal_index
ORACLES["orders_seasonal_index"] = SEASONAL_INDEX_SQL


# --- cross-table referential-integrity audit ----------------------------------
#
# The warehouse-wide generalization of stage5's per-file validation
# (`stage5_output_final_csv.py validate_csv_data`) and the refresh
# stream's zero-orphan check: one report row per foreign-key
# relationship with child row counts, distinct key counts, orphan
# rows (left-anti against the parent) and the orphan share in integer
# basis points — the gate a refresh publishes before swapping tables.
# Each relationship is one anti-join on its key (broadcastable parent
# where the parent is a dim; fact-fact pairs shuffle on the key with
# AQE) — no row ever leaves its join, counts only.

def catalog_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    rels = [
        ("lineitem.l_orderkey -> orders", li.select(F.col("l_orderkey").alias("k")),
         orders.select(F.col("o_orderkey").alias("k"))),
        ("lineitem.l_partkey -> part", li.select(F.col("l_partkey").alias("k")),
         part.select(F.col("p_partkey").alias("k"))),
        ("lineitem.l_suppkey -> supplier", li.select(F.col("l_suppkey").alias("k")),
         supp.select(F.col("s_suppkey").alias("k"))),
        ("orders.o_custkey -> customer", orders.select(F.col("o_custkey").alias("k")),
         cust.select(F.col("c_custkey").alias("k"))),
        ("customer.c_nationkey -> nation", cust.select(F.col("c_nationkey").alias("k")),
         nation.select(F.col("n_nationkey").alias("k"))),
        ("supplier.s_nationkey -> nation", supp.select(F.col("s_nationkey").alias("k")),
         nation.select(F.col("n_nationkey").alias("k"))),
    ]
    out = None
    for name, child, parent in rels:
        stats = child.agg(
            F.count(F.lit(1)).alias("child_rows"),
            F.countDistinct("k").alias("child_keys"),
        )
        orphans = child.join(parent, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("orphan_rows")
        )
        row = (
            stats.crossJoin(orphans)
            .select(
                F.lit(name).alias("relationship"),
                "child_rows",
                "child_keys",
                "orphan_rows",
                F.expr("cast(orphan_rows * 10000 div child_rows as bigint)").alias("orphan_bp"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


FK_INTEGRITY_SQL = """
SELECT 'lineitem.l_orderkey -> orders' AS relationship,
       count(*) AS child_rows, count(DISTINCT l_orderkey) AS child_keys,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
       CAST(CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT) AS orphan_bp
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey -> part', count(*), count(DISTINCT l_partkey),
       CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT)
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey -> supplier', count(*), count(DISTINCT l_suppkey),
       CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT)
FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
UNION ALL
SELECT 'orders.o_custkey -> customer', count(*), count(DISTINCT o_custkey),
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT)
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'customer.c_nationkey -> nation', count(*), count(DISTINCT c_nationkey),
       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT)
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
UNION ALL
SELECT 'supplier.s_nationkey -> nation', count(*), count(DISTINCT s_nationkey),
       CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT)
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
"""

QUERIES["catalog_fk_integrity"] = catalog_fk_integrity
ORACLES["catalog_fk_integrity"] = FK_INTEGRITY_SQL


# --- the refresh-cycle scorecard ---------------------------------------------
#
# Query #200: the one-row report a refresh run publishes — the
# composed readout of the stages the reference logs separately
# (stage1 delta counts, stage5 validation, the dedup and quality
# gates this repo adds). Each number is an aggregate of an
# already-oracle-checked operator's output, so the scorecard grades
# COMPOSITION: delta action counts (catalog_delta), exact-duplicate
# documents scheduled for removal (dedup_exact), Gopher quality pass
# share (quality_gopher_rules), and referential orphans
# (catalog_fk_integrity). Every branch ends in a 1-row aggregate and
# the branches cross-join lazily — the whole scorecard is one job.

def refresh_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import catalog_delta
    from .dedup import dedup_exact
    from .textqc import quality_gopher_rules

    delta = catalog_delta(spark, sf_dir).groupBy().pivot(
        "action", ["new", "modified", "deleted", "unchanged"]
    ).count().select(
        F.coalesce(F.col("new"), F.lit(0)).cast("bigint").alias("files_new"),
        F.coalesce(F.col("modified"), F.lit(0)).cast("bigint").alias("files_modified"),
        F.coalesce(F.col("deleted"), F.lit(0)).cast("bigint").alias("files_deleted"),
        F.coalesce(F.col("unchanged"), F.lit(0)).cast("bigint").alias("files_unchanged"),
    )
    dups = dedup_exact(spark, sf_dir).agg(
        F.coalesce(F.sum("n_removed"), F.lit(0)).cast("bigint").alias("exact_dup_docs")
    )
    quality = quality_gopher_rules(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("docs_scored"),
        F.expr("cast(sum(gopher_pass) * 10000 div count(1) as bigint)").alias("gopher_pass_bp"),
    )
    orphans = catalog_fk_integrity(spark, sf_dir).agg(
        F.sum("orphan_rows").cast("bigint").alias("fk_orphan_rows")
    )
    return delta.crossJoin(dups).crossJoin(quality).crossJoin(orphans)


def _scorecard_sql() -> str:
    from .catalog import CATALOG_DELTA_SQL
    from .dedup import DEDUP_EXACT_SQL
    from .textqc import GOPHER_SQL

    return f"""
WITH delta AS ({CATALOG_DELTA_SQL}),
dups AS ({DEDUP_EXACT_SQL}),
quality AS ({GOPHER_SQL}),
orphans AS ({FK_INTEGRITY_SQL})
SELECT
  (SELECT count(*) FROM delta WHERE action = 'new') AS files_new,
  (SELECT count(*) FROM delta WHERE action = 'modified') AS files_modified,
  (SELECT count(*) FROM delta WHERE action = 'deleted') AS files_deleted,
  (SELECT count(*) FROM delta WHERE action = 'unchanged') AS files_unchanged,
  (SELECT CAST(coalesce(sum(n_removed), 0) AS BIGINT) FROM dups) AS exact_dup_docs,
  (SELECT count(*) FROM quality) AS docs_scored,
  (SELECT CAST(CAST(sum(gopher_pass) AS BIGINT) * 10000 // count(*) AS BIGINT) FROM quality) AS gopher_pass_bp,
  (SELECT CAST(sum(orphan_rows) AS BIGINT) FROM orphans) AS fk_orphan_rows
"""


REFRESH_SCORECARD_SQL = _scorecard_sql()

QUERIES["refresh_scorecard"] = refresh_scorecard
ORACLES["refresh_scorecard"] = REFRESH_SCORECARD_SQL


# --- cohort LTV triangle ------------------------------------------------------
#
# The lifetime-value triangle (cohort revenue accumulating over
# activity years): customers cohort by their FIRST order year, each
# cohort's revenue per subsequent year accumulates via a window over
# the bounded (cohort, year) table. Classic warehouse readout joining
# the RFM/retention family; exact integer cents end-to-end. Fact
# work: one orderkey join + per-customer min-year + one rollup —
# every window runs on the triangle, never the fact.

def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias("rev_c"),
    )
    first_year = orders.groupBy("o_custkey").agg(F.min("yr").alias("cohort_yr"))
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(first_year, "o_custkey")
        .groupBy("cohort_yr", "yr")
        .agg(
            F.sum("rev_c").alias("rev_c"),
            F.countDistinct("o_custkey").alias("active_customers"),
        )
    )
    w = Window.partitionBy("cohort_yr").orderBy("yr").rowsBetween(Window.unboundedPreceding, 0)
    cohort_sizes = first_year.groupBy("cohort_yr").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        rev.join(F.broadcast(cohort_sizes), "cohort_yr")
        .select(
            "cohort_yr",
            F.col("yr").cast("bigint").alias("yr"),
            "cohort_size",
            "active_customers",
            "rev_c",
            F.sum("rev_c").over(w).alias("cumulative_rev_c"),
        )
        .select(
            "*",
            F.expr("cast(cumulative_rev_c div cohort_size as bigint)").alias("ltv_per_customer_c"),
        )
    )


COHORT_LTV_SQL = """
WITH first_year AS (
  SELECT o_custkey, CAST(min(year(o_orderdate)) AS BIGINT) AS cohort_yr FROM orders GROUP BY o_custkey
), rev AS (
  SELECT f.cohort_yr, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c,
         count(DISTINCT o.o_custkey) AS active_customers
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN first_year f ON o.o_custkey = f.o_custkey
  GROUP BY f.cohort_yr, year(o_orderdate)
), sizes AS (
  SELECT cohort_yr, count(*) AS cohort_size FROM first_year GROUP BY cohort_yr
)
SELECT r.cohort_yr, r.yr, s.cohort_size, r.active_customers, r.rev_c,
       CAST(sum(r.rev_c) OVER (PARTITION BY r.cohort_yr ORDER BY r.yr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_rev_c,
       CAST(CAST(sum(r.rev_c) OVER (PARTITION BY r.cohort_yr ORDER BY r.yr
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) // s.cohort_size AS BIGINT)
         AS ltv_per_customer_c
FROM rev r JOIN sizes s ON r.cohort_yr = s.cohort_yr
"""

QUERIES["customer_cohort_ltv"] = customer_cohort_ltv
ORACLES["customer_cohort_ltv"] = COHORT_LTV_SQL


# --- join-key skew pre-flight -------------------------------------------------
#
# The diagnostic a 100 TB planner runs BEFORE picking join
# strategies: per join key, how hot is the hottest key? (AQE splits
# skewed partitions at runtime, but layout/bucketing/salting choices
# are made ahead of time from exactly this table.) For each key: row
# count, distinct keys, the hottest key's share in basis points and
# the max-to-average key-size ratio. Each key is one grouped count
# (map-side combine) + a 1-row max over the bounded count table.

def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = [
        ("lineitem.l_orderkey", load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))),
        ("lineitem.l_partkey", load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))),
        ("orders.o_custkey", load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))),
        ("events.user_id", load_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))),
    ]
    out = None
    for name, child in keys:
        counts = child.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        row = counts.agg(
            F.lit(name).alias("join_key"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("n").cast("bigint").alias("hottest_key_rows"),
            F.expr("cast(max(n) * 10000 div sum(n) as bigint)").alias("hottest_share_bp"),
            F.expr("cast(max(n) * count(1) div sum(n) as bigint)").alias("max_to_avg_ratio"),
        )
        out = row if out is None else out.unionByName(row)
    return out


JOIN_KEY_SKEW_SQL = """
SELECT 'lineitem.l_orderkey' AS join_key, CAST(sum(n) AS BIGINT) AS n_rows,
       count(*) AS n_keys, CAST(max(n) AS BIGINT) AS hottest_key_rows,
       CAST(max(n) * 10000 // sum(n) AS BIGINT) AS hottest_share_bp,
       CAST(max(n) * count(*) // sum(n) AS BIGINT) AS max_to_avg_ratio
FROM (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
UNION ALL
SELECT 'lineitem.l_partkey', CAST(sum(n) AS BIGINT), count(*), CAST(max(n) AS BIGINT),
       CAST(max(n) * 10000 // sum(n) AS BIGINT), CAST(max(n) * count(*) // sum(n) AS BIGINT)
FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1)
UNION ALL
SELECT 'orders.o_custkey', CAST(sum(n) AS BIGINT), count(*), CAST(max(n) AS BIGINT),
       CAST(max(n) * 10000 // sum(n) AS BIGINT), CAST(max(n) * count(*) // sum(n) AS BIGINT)
FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
UNION ALL
SELECT 'events.user_id', CAST(sum(n) AS BIGINT), count(*), CAST(max(n) AS BIGINT),
       CAST(max(n) * 10000 // sum(n) AS BIGINT), CAST(max(n) * count(*) // sum(n) AS BIGINT)
FROM (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
"""

QUERIES["join_key_skew_report"] = join_key_skew_report
ORACLES["join_key_skew_report"] = JOIN_KEY_SKEW_SQL


# --- supplier SLA fill-rate scorecard ------------------------------------------
#
# Per-supplier service-level report: share of lines shipped within
# SLA_DAYS of the order date, in exact basis points, flagged against
# the corpus-wide rate (self-calibrating bar — no magic threshold to
# drift away from the synthetic data). lineitem⋈orders is the one
# fact-fact shuffle (AQE-covered); the supplier rollup and the 1-row
# corpus rate broadcast back are metadata-sized.

SLA_DAYS = 30


def supplier_fill_rate_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey",
        (F.datediff("l_shipdate", "o_orderdate") <= SLA_DAYS).cast("bigint").alias("within"),
    )
    per_supp = lines.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("within").alias("n_within_sla"),
    )
    corpus = per_supp.agg(
        F.expr("sum(n_within_sla) * 10000 div sum(n_lines)").alias("corpus_rate_bp")
    )
    return per_supp.crossJoin(F.broadcast(corpus)).select(
        F.col("l_suppkey").alias("suppkey"),
        "n_lines",
        "n_within_sla",
        F.expr("n_within_sla * 10000 div n_lines").alias("fill_rate_bp"),
        "corpus_rate_bp",
        (F.expr("n_within_sla * 10000 div n_lines") >= F.col("corpus_rate_bp"))
        .cast("int")
        .alias("above_corpus_rate"),
    )


SUPPLIER_SLA_SQL = f"""
WITH lines AS (
  SELECT l_suppkey,
         CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= {SLA_DAYS} THEN 1 ELSE 0 END AS within
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_supp AS (
  SELECT l_suppkey, count(*) AS n_lines, CAST(sum(within) AS BIGINT) AS n_within_sla
  FROM lines GROUP BY l_suppkey
), corpus AS (
  SELECT CAST(CAST(sum(n_within_sla) AS BIGINT) * 10000 // CAST(sum(n_lines) AS BIGINT) AS BIGINT) AS corpus_rate_bp
  FROM per_supp
)
SELECT l_suppkey AS suppkey, n_lines, n_within_sla,
       n_within_sla * 10000 // n_lines AS fill_rate_bp,
       corpus_rate_bp,
       CAST(n_within_sla * 10000 // n_lines >= corpus_rate_bp AS INT) AS above_corpus_rate
FROM per_supp, corpus
"""

QUERIES["supplier_fill_rate_sla"] = supplier_fill_rate_sla
ORACLES["supplier_fill_rate_sla"] = SUPPLIER_SLA_SQL


# --- CDC latest-wins merge -----------------------------------------------------
#
# The MERGE semantics a lakehouse refresh applies to a change-data
# stream (reference parity: stage4's delete-then-append master merge
# and stage_06's staging upsert, generalized to ordered I/U/D ops):
# the event stream plays a CDC feed (key = user_id-derived customer
# key, sequence = event_id, op planted by residue), each key's
# LATEST op wins, and the merge applies insert/update/delete against
# the customer base table. Output is the reconciliation scorecard:
# per op, stream volume vs keys whose final op it is, with the
# resulting table size — the row a refresh run asserts before
# swapping tables. Shape: one max(struct) per key (the latest-wins
# argmax device), key-sized anti/semi joins, no windows over facts.

def cdc_latest_wins_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    stream = ev.select(
        (F.col("user_id") % 500 + 1).alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 10 == 9, "D")
        .when(F.col("event_id") % 10 == 0, "I")
        .otherwise("U")
        .alias("op"),
    )
    latest = stream.groupBy("key").agg(
        F.max(F.struct("seq", "op")).alias("last")
    ).select("key", F.col("last.op").alias("op"))
    op_counts = stream.groupBy("op").agg(F.count(F.lit(1)).alias("n_stream_ops"))
    latest_counts = latest.groupBy("op").agg(F.count(F.lit(1)).alias("n_keys_latest"))
    deleted = latest.where(F.col("op") == "D").select("key")
    upserted = latest.where(F.col("op") != "D").select("key")
    survivors = base.join(deleted, "key", "left_anti")
    final_rows = (
        survivors.select("key")
        .union(upserted)
        .distinct()
        .agg(F.count(F.lit(1)).alias("final_rows"))
    )
    base_rows = base.agg(F.count(F.lit(1)).alias("base_rows"))
    return (
        op_counts.join(latest_counts, "op")
        .crossJoin(F.broadcast(base_rows))
        .crossJoin(F.broadcast(final_rows))
        .select("op", "n_stream_ops", "n_keys_latest", "base_rows", "final_rows")
    )


CDC_MERGE_SQL = """
WITH stream AS (
  SELECT user_id % 500 + 1 AS key, event_id AS seq,
         CASE WHEN event_id % 10 = 9 THEN 'D'
              WHEN event_id % 10 = 0 THEN 'I' ELSE 'U' END AS op
  FROM events
), latest AS (
  SELECT key, max(struct_pack(seq := seq, op := op)).op AS op
  FROM stream GROUP BY key
), op_counts AS (
  SELECT op, count(*) AS n_stream_ops FROM stream GROUP BY op
), latest_counts AS (
  SELECT op, count(*) AS n_keys_latest FROM latest GROUP BY op
), base AS (SELECT c_custkey AS key FROM customer),
final AS (
  SELECT count(*) AS final_rows FROM (
    SELECT key FROM base WHERE key NOT IN (SELECT key FROM latest WHERE op = 'D')
    UNION
    SELECT key FROM latest WHERE op <> 'D'
  )
), brows AS (SELECT count(*) AS base_rows FROM base)
SELECT o.op, o.n_stream_ops, l.n_keys_latest, base_rows, final_rows
FROM op_counts o JOIN latest_counts l ON o.op = l.op, brows, final
"""

QUERIES["cdc_latest_wins_merge"] = cdc_latest_wins_merge
ORACLES["cdc_latest_wins_merge"] = CDC_MERGE_SQL


# --- Benford first-digit audit ------------------------------------------------
#
# The ledger-audit screen a finance warehouse runs over monetary facts
# (reference parity: stage5's validate_csv_data numeric-sanity class,
# generalized to the distributional check auditors actually use —
# public art: Benford's law / Nigrini's digit tests): the first
# significant digit of naturally-grown amounts follows
# P(d) = log10(1 + 1/d); fabricated or clamped data doesn't.  Expected
# shares are the 9 PUBLISHED constants hard-coded in basis points in
# BOTH engines (3010..458) — no runtime log10, so the comparison is
# exact integer arithmetic end to end.
#
# chi2 contribution per digit is computed scale-free in the bp domain:
# n_total * dev_bp^2 * 1000 div (exp_bp * 10000) — bounded by the bp
# grid regardless of corpus size, so the statistic survives 100 TB
# without overflow.  One narrow map (digit extraction on the cents
# integer) + one 9-group aggregation; the totals row is a 1-row
# broadcast join.

BENFORD_BP = (3010, 1761, 1249, 969, 792, 669, 580, 512, 458)


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.expr(
            "cast(substring(cast(cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            " as string), 1, 1) as int)"
        ).alias("digit")
    )
    exp_map = F.expr(
        "element_at(array({}), digit)".format(", ".join(str(v) for v in BENFORD_BP))
    )
    per_digit = digits.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_orders"))
    totals = per_digit.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    out = per_digit.crossJoin(F.broadcast(totals)).select(
        "digit",
        "n_orders",
        F.expr("cast(n_orders * 10000 div n_total as bigint)").alias("obs_bp"),
        exp_map.cast("bigint").alias("exp_bp"),
    )
    dev = (F.col("obs_bp") - F.col("exp_bp")).alias("dev_bp")
    out = out.join(F.broadcast(totals), how="cross").select(
        "digit", "n_orders", "obs_bp", "exp_bp", dev.cast("bigint").alias("dev_bp"),
        F.expr(
            "cast(n_total * ((obs_bp - exp_bp) * (obs_bp - exp_bp)) * 1000"
            " div (exp_bp * 10000) as bigint)"
        ).alias("chi2_contrib_milli"),
    )
    total_chi2 = out.agg(F.sum("chi2_contrib_milli").cast("bigint").alias("chi2_milli"))
    return out.crossJoin(F.broadcast(total_chi2)).select(
        "digit", "n_orders", "obs_bp", "exp_bp", "dev_bp",
        "chi2_contrib_milli", "chi2_milli",
        (F.col("chi2_milli") >= F.lit(20090 * 1000)).cast("int").alias("benford_reject"),
    )


BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders
),
exp_tab AS (
  SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
                        (6, 669), (7, 580), (8, 512), (9, 458)) AS t(digit, exp_bp)
),
per_digit AS (
  SELECT digit, count(*)::BIGINT AS n_orders FROM digits GROUP BY digit
),
tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM per_digit),
scored AS (
  SELECT p.digit, p.n_orders,
         CAST(p.n_orders * 10000 // n_total AS BIGINT) AS obs_bp,
         CAST(e.exp_bp AS BIGINT) AS exp_bp,
         CAST(p.n_orders * 10000 // n_total - e.exp_bp AS BIGINT) AS dev_bp,
         CAST(n_total * ((p.n_orders * 10000 // n_total - e.exp_bp)
                         * (p.n_orders * 10000 // n_total - e.exp_bp)) * 1000
              // (e.exp_bp * 10000) AS BIGINT) AS chi2_contrib_milli
  FROM per_digit p JOIN exp_tab e USING (digit), tot
),
chi AS (SELECT CAST(sum(chi2_contrib_milli) AS BIGINT) AS chi2_milli FROM scored)
SELECT digit, n_orders, obs_bp, exp_bp, dev_bp, chi2_contrib_milli, chi2_milli,
       CAST(chi2_milli >= 20090000 AS INT) AS benford_reject
FROM scored, chi
"""

QUERIES["orders_benford_audit"] = orders_benford_audit
ORACLES["orders_benford_audit"] = BENFORD_SQL


# --- CDC stream -> SCD2 history build -----------------------------------------
#
# The bridge between cdc_latest_wins_merge (which keeps only the
# latest image) and scd2_intervals (which assumes versions already
# exist): replay the SAME planted CDC stream (key = user_id % 500 + 1,
# seq = event_id, op I/U/D by event_id % 10) into full type-2 history.
# Every I/U opens a version valid from its seq; the NEXT operation of
# any kind on that key closes it (half-open intervals, lead over the
# per-key op sequence); a D closes the running version without opening
# a new one, so post-delete re-inserts start a fresh interval and the
# key has no current row while deleted.  The tracked attribute is the
# event's type at change time.
#
# Scale: ONE shuffle on the CDC key, one lead window and one
# row_number inside it — the canonical merge-into-SCD2 shape; at
# 100 TB the stream is bucketed by key so the window reuses the
# layout, and per-key history length bounds task memory (the EWMA
# bound).

def cdc_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 500 + 1).cast("bigint").alias("key"),
        F.col("event_id").cast("bigint").alias("seq"),
        F.when(F.col("event_id") % 10 == 9, "D")
        .when(F.col("event_id") % 10 == 0, "I")
        .otherwise("U")
        .alias("op"),
        F.col("event_type").alias("attr"),
    )
    w = Window.partitionBy("key").orderBy("seq")
    closed = ev.select(
        "key", "seq", "op", "attr",
        F.lead("seq").over(w).alias("valid_to"),
        F.lead("op").over(w).alias("next_op"),
    )
    vers = closed.where(F.col("op") != "D").select(
        "key",
        F.row_number()
        .over(Window.partitionBy("key").orderBy("seq"))
        .cast("bigint")
        .alias("version_n"),
        "attr",
        F.col("seq").alias("valid_from"),
        "valid_to",
        F.coalesce(F.col("next_op") == "D", F.lit(False)).cast("int").alias(
            "closed_by_delete"
        ),
        F.col("valid_to").isNull().cast("int").alias("is_current"),
    )
    return vers


CDC_SCD2_SQL = """
WITH events_us AS (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events),
stream AS (
  SELECT CAST(user_id % 500 + 1 AS BIGINT) AS key, CAST(event_id AS BIGINT) AS seq,
         CASE WHEN event_id % 10 = 9 THEN 'D'
              WHEN event_id % 10 = 0 THEN 'I' ELSE 'U' END AS op,
         event_type AS attr
  FROM events_us
),
closed AS (
  SELECT key, seq, op, attr,
         lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to,
         lead(op) OVER (PARTITION BY key ORDER BY seq) AS next_op
  FROM stream
)
SELECT key,
       CAST(row_number() OVER (PARTITION BY key ORDER BY seq) AS BIGINT) AS version_n,
       attr, seq AS valid_from, valid_to,
       CAST(coalesce(next_op = 'D', false) AS INT) AS closed_by_delete,
       CAST(valid_to IS NULL AS INT) AS is_current
FROM closed WHERE op <> 'D'
"""

QUERIES["cdc_to_scd2"] = cdc_to_scd2
ORACLES["cdc_to_scd2"] = CDC_SCD2_SQL


# --- 4-4-5 fiscal calendar rollup ---------------------------------------------
#
# The retail-finance calendar dimension (public practice: 4-4-5
# calendars; NRF 52-week convention simplified to exact 52-week years
# — the 53rd-week leap rule is documented out): every order date maps
# by pure integer arithmetic from a Monday epoch to (fiscal year,
# quarter of 13 weeks, period of 4/4/5 weeks), and revenue rolls up
# per period with within-quarter shares.  The period widths land as
# data (n_weeks ∈ {4,5}) — the calendar IS the assertion.
#
# Scale: per-row date arithmetic (no dimension table needed — the
# calendar is a closed formula), one bounded (fy, fq, fp) rollup.

FISCAL_EPOCH = "1992-01-06"  # a Monday; week 0 of fiscal year 0


def orders_fiscal_445(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr(f"cast(datediff(o_orderdate, date '{FISCAL_EPOCH}') div 7 as bigint)").alias("wk"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    mapped = orders.select(
        "cents",
        F.expr("cast(wk div 52 as bigint)").alias("fy"),
        F.expr("cast((wk % 52) div 13 + 1 as bigint)").alias("fq"),
        F.expr(
            "cast(case when (wk % 52) % 13 < 4 then 1"
            " when (wk % 52) % 13 < 8 then 2 else 3 end as bigint)"
        ).alias("fp"),
    )
    per_period = mapped.groupBy("fy", "fq", "fp").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    per_quarter = per_period.groupBy("fy", "fq").agg(
        F.sum("revenue_cents").cast("bigint").alias("q_cents")
    )
    return per_period.join(per_quarter, ["fy", "fq"]).select(
        "fy", "fq", "fp",
        F.expr("cast(case when fp = 3 then 5 else 4 end as bigint)").alias("n_weeks"),
        "n_orders", "revenue_cents",
        F.expr("cast(revenue_cents * 10000 div q_cents as bigint)").alias(
            "quarter_share_bp"
        ),
    )


FISCAL_SQL = f"""
WITH mapped AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(wk // 52 AS BIGINT) AS fy,
         CAST((wk % 52) // 13 + 1 AS BIGINT) AS fq,
         CAST(CASE WHEN (wk % 52) % 13 < 4 THEN 1
                   WHEN (wk % 52) % 13 < 8 THEN 2 ELSE 3 END AS BIGINT) AS fp
  FROM (SELECT CAST(datediff('day', DATE '{FISCAL_EPOCH}', o_orderdate) // 7 AS BIGINT) AS wk,
               o_totalprice
        FROM orders)
),
per_period AS (
  SELECT fy, fq, fp, count(*)::BIGINT AS n_orders,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM mapped GROUP BY fy, fq, fp
),
per_quarter AS (
  SELECT fy, fq, CAST(sum(revenue_cents) AS BIGINT) AS q_cents
  FROM per_period GROUP BY fy, fq
)
SELECT p.fy, p.fq, p.fp,
       CAST(CASE WHEN p.fp = 3 THEN 5 ELSE 4 END AS BIGINT) AS n_weeks,
       p.n_orders, p.revenue_cents,
       CAST(p.revenue_cents * 10000 // q.q_cents AS BIGINT) AS quarter_share_bp
FROM per_period p JOIN per_quarter q ON p.fy = q.fy AND p.fq = q.fq
"""

QUERIES["orders_fiscal_445"] = orders_fiscal_445
ORACLES["orders_fiscal_445"] = FISCAL_SQL


# --- ABC/XYZ inventory classification -------------------------------------------
#
# The standard two-axis inventory policy matrix (public art: Pareto/
# ABC analysis + XYZ demand-variability classification): parts are
# ranked into A/B/C by cumulative revenue share (80 / 95 cut points)
# and into X/Y/Z by the coefficient of variation of monthly demand
# (CV < 0.5 / < 1.0 cut points, observed months), and the query
# reports the 9-cell policy matrix — counts and revenue share per
# cell — the readout a supply planner actually acts on.
#
# Determinism: revenue in exact cents; cumulative share and CV^2 in
# bp via truncating div (CV^2 = (m*Sq2 - S^2)/S^2 exactly from per-
# part integer sums, no mean rounding); rank windows tie-broken by
# partkey.
#
# Scale: one fact scan -> per-(part, month) then per-part aggregates;
# the ABC rank/cumsum window runs over the PART dimension (bounded,
# ~1/30 of fact rows; the supplier_pareto precedent), and the output
# is the 9-row matrix.

def part_abc_xyz_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        ((F.year("l_shipdate") - 1990) * 12 + F.month("l_shipdate")).alias("m"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    pm = li.groupBy("l_partkey", "m").agg(
        F.sum("q").alias("mq"), F.sum("cents").alias("mc")
    )
    per_part = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("mn"),
        F.sum("mq").alias("sq"),
        F.sum(F.expr("mq * mq")).alias("sq2"),
        F.sum("mc").alias("rev"),
    )
    # part-grain running revenue via the distributed two-pass prefix sum
    # (range shuffle + broadcast offsets), not a single-task global window
    from ..functions.distributed import global_ordered

    tot = per_part.agg(F.sum("rev").alias("trev"))
    classed = (
        global_ordered(
            per_part, [F.desc("rev"), F.asc("l_partkey")], cumsum_cols={"crev": "rev"}
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "rev",
            F.expr(
                "case when crev * 10000 div trev <= 8000 then 'A'"
                " when crev * 10000 div trev <= 9500 then 'B' else 'C' end"
            ).alias("abc"),
            F.expr(
                "case when (mn * sq2 - sq * sq) * 10000 div (sq * sq) < 2500 then 'X'"
                " when (mn * sq2 - sq * sq) * 10000 div (sq * sq) < 10000 then 'Y'"
                " else 'Z' end"
            ).alias("xyz"),
        )
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("rev").alias("cell_rev"))
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "xyz",
            F.col("n_parts").cast("bigint").alias("n_parts"),
            F.col("cell_rev").cast("bigint").alias("rev_c"),
            F.expr("cell_rev * 10000 div trev").cast("bigint").alias("rev_share_bp"),
        )
    )


ABC_XYZ_SQL = """
WITH li AS (
  SELECT l_partkey, (year(l_shipdate) - 1990) * 12 + month(l_shipdate) AS m,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
pm AS (
  SELECT l_partkey, m, CAST(sum(q) AS BIGINT) AS mq, CAST(sum(cents) AS BIGINT) AS mc
  FROM li GROUP BY l_partkey, m
),
per_part AS (
  SELECT l_partkey, count(*)::BIGINT AS mn, CAST(sum(mq) AS BIGINT) AS sq,
         CAST(sum(mq * mq) AS BIGINT) AS sq2, CAST(sum(mc) AS BIGINT) AS rev
  FROM pm GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(rev) AS BIGINT) AS trev FROM per_part),
classed AS (
  SELECT rev,
         CASE WHEN crev * 10000 // trev <= 8000 THEN 'A'
              WHEN crev * 10000 // trev <= 9500 THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN (mn * sq2 - sq * sq) * 10000 // (sq * sq) < 2500 THEN 'X'
              WHEN (mn * sq2 - sq * sq) * 10000 // (sq * sq) < 10000 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM (
    SELECT *, CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS crev
    FROM per_part
  ) CROSS JOIN tot
)
SELECT abc, xyz, count(*)::BIGINT AS n_parts,
       CAST(sum(rev) AS BIGINT) AS rev_c,
       CAST(CAST(sum(rev) AS BIGINT) * 10000 // trev AS BIGINT) AS rev_share_bp
FROM classed CROSS JOIN tot
GROUP BY abc, xyz, trev
"""

QUERIES["part_abc_xyz_class"] = part_abc_xyz_class
ORACLES["part_abc_xyz_class"] = ABC_XYZ_SQL


# --- customer revenue Lorenz curve + Gini ----------------------------------------
#
# How concentrated is revenue across customers?  The Lorenz decile
# table (each decile's revenue share and the running cumulative
# share) plus the corpus Gini coefficient — the source_token_gini
# device lifted to the revenue dimension, with the rank-sum products
# widened to decimal(38,0)/HUGEINT so the i*x sums stay exact at
# SF >= 1 (i ~ 1.5e6, x ~ 1e8 cents).
#
# Scale: one orders scan -> per-customer aggregate; the rank window
# runs over the CUSTOMER dimension (supplier_pareto precedent); ntile
# and the cumulative window then operate on 10 rows.

def customer_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("cents"),
    )
    per_cust = orders.groupBy("o_custkey").agg(F.sum("cents").alias("x"))
    # entity-grain rank + decile via the distributed two-pass device
    # (one range shuffle feeds both), not a single-task global window
    from ..functions.distributed import global_ntile

    ranked = global_ntile(
        per_cust, ["x", "o_custkey"], 10, tile_col="decile", rank_col="i"
    ).select("x", "i", "decile")
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("cast(i as decimal(38,0)) * x")).alias("six"),
    )
    gini = sums.select(
        "n",
        "sx",
        F.expr(
            "cast((six * 20000) div (cast(n as decimal(38,0)) * sx)"
            " - ((n + 1) * 10000) div n as bigint)"
        ).alias("gini_bp"),
    )
    deciles = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("x").alias("rev_c")
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.withColumn("cum_rev", F.sum("rev_c").over(wd))
        .crossJoin(F.broadcast(gini))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_cust").cast("bigint").alias("n_cust"),
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.expr("rev_c * 10000 div sx").cast("bigint").alias("rev_share_bp"),
            F.expr("cum_rev * 10000 div sx").cast("bigint").alias("cum_share_bp"),
            F.col("gini_bp"),
        )
    )


GINI_LORENZ_SQL = """
WITH per_cust AS (
  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i,
         ntile(10) OVER (ORDER BY x, o_custkey) AS decile
  FROM per_cust
),
sums AS (
  SELECT count(*)::BIGINT AS n, CAST(sum(x) AS BIGINT) AS sx,
         sum(CAST(i AS HUGEINT) * x) AS six
  FROM ranked
),
gini AS (
  SELECT n, sx,
         CAST((six * 20000) // (CAST(n AS HUGEINT) * sx)
              - ((n + 1) * 10000) // n AS BIGINT) AS gini_bp
  FROM sums
),
deciles AS (
  SELECT decile, count(*)::BIGINT AS n_cust, CAST(sum(x) AS BIGINT) AS rev_c
  FROM ranked GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile, n_cust, rev_c,
       CAST(rev_c * 10000 // sx AS BIGINT) AS rev_share_bp,
       CAST(CAST(sum(rev_c) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 10000 // sx AS BIGINT)
         AS cum_share_bp,
       gini_bp
FROM deciles CROSS JOIN gini
"""

QUERIES["customer_gini_lorenz"] = customer_gini_lorenz
ORACLES["customer_gini_lorenz"] = GINI_LORENZ_SQL


# --- (s,S) inventory policy replay ------------------------------------------------
#
# The policy simulation behind the ABC/XYZ matrix and the bullwhip
# ratio: replay each part's monthly demand against the textbook
# (s, S) min-max policy (Arrow-Harris-Marschak 1951 lineage) — order
# up to S when the end-of-month position falls to s or below, S = 2x
# mean monthly demand, s = S/2, immediate replenishment.  Emits the
# numbers an inventory planner tunes against: orders placed, units
# ordered, stockout months, unmet units, final on-hand.  A genuinely
# sequential per-key recursion (this month's position needs last
# month's), so it is the F.aggregate / recursive-CTE fold pair of the
# Holt/EWMA/Page-Hinkley family — ALL state exact integers.
#
# Scale: one fact scan -> per-(part, month) sums -> per-part fold over
# the bounded month grid (<= ~80 steps); no windows over fact rows; at
# 100 TB the fold is embarrassingly parallel per part.

def part_ss_inventory_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        ((F.year("l_shipdate") - 1990) * 12 + F.month("l_shipdate")).alias("m"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    pm = li.groupBy("l_partkey", "m").agg(F.sum("q").alias("d"))
    per_part = pm.groupBy("l_partkey").agg(
        F.sort_array(F.collect_list(F.struct("m", "d"))).alias("ms"),
        F.count(F.lit(1)).alias("nm"),
        F.sum("d").alias("tot"),
    )
    sim = per_part.select(
        "l_partkey",
        F.col("nm").cast("bigint").alias("n_months"),
        F.expr("2 * tot div nm").alias("cap_s"),
        F.expr("(2 * tot div nm) div 2").alias("reorder_s"),
        F.expr(
            """
            aggregate(
              ms,
              named_struct(
                'h', 2 * tot div nm, 'no', cast(0 as bigint),
                'ou', cast(0 as bigint), 'sm', cast(0 as bigint),
                'uu', cast(0 as bigint),
                'cap', 2 * tot div nm, 's', (2 * tot div nm) div 2),
              (acc, e) -> named_struct(
                'h', case when acc.h - e.d <= acc.s then acc.cap else acc.h - e.d end,
                'no', acc.no + (case when acc.h - e.d <= acc.s then 1 else 0 end),
                'ou', acc.ou + (case when acc.h - e.d <= acc.s then acc.cap - (acc.h - e.d) else 0 end),
                'sm', acc.sm + (case when e.d > acc.h then 1 else 0 end),
                'uu', acc.uu + greatest(e.d - acc.h, cast(0 as bigint)),
                'cap', acc.cap, 's', acc.s))
            """
        ).alias("st"),
    )
    return sim.select(
        "l_partkey",
        "n_months",
        F.col("cap_s").cast("bigint").alias("cap_s"),
        F.col("reorder_s").cast("bigint").alias("reorder_s"),
        F.col("st.no").cast("bigint").alias("n_orders"),
        F.col("st.ou").cast("bigint").alias("ordered_units"),
        F.col("st.sm").cast("bigint").alias("stockout_months"),
        F.col("st.uu").cast("bigint").alias("unmet_units"),
        F.col("st.h").cast("bigint").alias("end_onhand"),
    )


SS_SIM_SQL = """
WITH RECURSIVE li AS (
  SELECT l_partkey, (year(l_shipdate) - 1990) * 12 + month(l_shipdate) AS m,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
pm AS (SELECT l_partkey, m, CAST(sum(q) AS BIGINT) AS d FROM li GROUP BY 1, 2),
per_part AS (
  SELECT l_partkey, list_sort(list(struct_pack(m := m, d := d))) AS ms,
         count(*)::BIGINT AS nm, CAST(sum(d) AS BIGINT) AS tot
  FROM pm GROUP BY l_partkey
),
walk AS (
  SELECT l_partkey, ms, nm, 0::BIGINT AS i,
         2 * tot // nm AS h, 0::BIGINT AS no, 0::BIGINT AS ou,
         0::BIGINT AS sm, 0::BIGINT AS uu,
         2 * tot // nm AS cap, (2 * tot // nm) // 2 AS s
  FROM per_part
  UNION ALL
  SELECT l_partkey, ms, nm, i + 1,
         CASE WHEN h - ms[(i + 1)::INT].d <= s THEN cap ELSE h - ms[(i + 1)::INT].d END,
         no + (CASE WHEN h - ms[(i + 1)::INT].d <= s THEN 1 ELSE 0 END),
         ou + (CASE WHEN h - ms[(i + 1)::INT].d <= s THEN cap - (h - ms[(i + 1)::INT].d) ELSE 0 END),
         sm + (CASE WHEN ms[(i + 1)::INT].d > h THEN 1 ELSE 0 END),
         uu + greatest(ms[(i + 1)::INT].d - h, 0),
         cap, s
  FROM walk WHERE i < nm
)
SELECT l_partkey, nm AS n_months, CAST(cap AS BIGINT) AS cap_s,
       CAST(s AS BIGINT) AS reorder_s, CAST(no AS BIGINT) AS n_orders,
       CAST(ou AS BIGINT) AS ordered_units, CAST(sm AS BIGINT) AS stockout_months,
       CAST(uu AS BIGINT) AS unmet_units, CAST(h AS BIGINT) AS end_onhand
FROM walk WHERE i = nm
"""

QUERIES["part_ss_inventory_sim"] = part_ss_inventory_sim
ORACLES["part_ss_inventory_sim"] = SS_SIM_SQL


# --- SCD2 conformance audit -----------------------------------------------------
#
# The validation pass a dimension table needs AFTER history building
# (scd2_intervals / cdc_to_scd2 construct; this audits): per key, SCD2
# invariants are (a) intervals never overlap, (b) no gaps between
# consecutive intervals, (c) exactly one open (current) interval.  A
# clean build trivially satisfies all three, so the audit runs over a
# PLANTED corruption of the interval table — every 13th key's first
# interval has valid_to pushed 5 days late (an overlap wherever the
# key's version spacing is shorter than that), every 17th key's second
# interval starts 2 days late (gap), every 19th key's second-to-last
# closed interval is re-opened (double-current) — and must measure
# exactly the defect geometry both engines derive from the same plant
# (the plant-and-verify pattern of the PII/heading/OCR operators).
#
# Plan: intervals per key are built from one explode, the audit is one
# lag window per key — both partition on doc_id; the rollup is a
# handful of rows.

SCD2_OVERLAP_EVERY = 13
SCD2_GAP_EVERY = 17
SCD2_REOPEN_EVERY = 19


def _scd2_corrupted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scd2_intervals(spark, sf_dir)
    overlap = (F.col("doc_id") % SCD2_OVERLAP_EVERY == 0) & (
        F.col("rn") == 1
    ) & F.col("valid_to").isNotNull()
    gap = (F.col("doc_id") % SCD2_GAP_EVERY == 0) & (F.col("rn") == 2)
    w = Window.partitionBy("doc_id").orderBy("valid_from")
    tagged = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "nmax", F.max("rn").over(Window.partitionBy("doc_id"))
    )
    return tagged.select(
        "doc_id",
        "attr",
        "rn",
        F.when(gap, F.date_add("valid_from", 2)).otherwise(F.col("valid_from")).alias(
            "valid_from"
        ),
        F.when(overlap, F.date_add("valid_to", 5))
        .when(
            (F.col("doc_id") % SCD2_REOPEN_EVERY == 0)
            & (F.col("rn") == F.col("nmax") - 1)
            & (F.col("nmax") >= 2),
            F.lit(None).cast("date"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
    )


def scd2_conformance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = _scd2_corrupted(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("valid_from", "rn")
    lagged = iv.select(
        "doc_id",
        "valid_from",
        "valid_to",
        F.lag("valid_to").over(w).alias("prev_to"),
    )
    per_key = lagged.groupBy("doc_id").agg(
        F.sum(
            (F.col("prev_to").isNotNull() & (F.col("valid_from") < F.col("prev_to")))
            .cast("int")
        ).alias("overlap_cnt"),
        F.sum(
            (F.col("prev_to").isNotNull() & (F.col("valid_from") > F.col("prev_to")))
            .cast("int")
        ).alias("gaps"),
        F.sum(F.col("valid_to").isNull().cast("int")).alias("open_intervals"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.sum((F.col("overlap_cnt") > 0).cast("int")).cast("bigint").alias("keys_with_overlap"),
        F.sum("overlap_cnt").cast("bigint").alias("overlap_pairs"),
        F.sum((F.col("gaps") > 0).cast("int")).cast("bigint").alias("keys_with_gap"),
        F.sum("gaps").cast("bigint").alias("gap_pairs"),
        F.sum((F.col("open_intervals") != 1).cast("int"))
        .cast("bigint")
        .alias("keys_bad_current"),
        F.sum((F.col("open_intervals") > 1).cast("int"))
        .cast("bigint")
        .alias("keys_multi_current"),
    )


SCD2_AUDIT_SQL = f"""
WITH vers AS (
  SELECT doc_id,
         DATE '2024-01-01' + CAST((doc_id % 7 + 1) * k AS INTEGER) AS valid_from
  FROM documents
  CROSS JOIN (VALUES (0), (1), (2)) v(k)
  WHERE k <= doc_id % {MAX_VERSIONS}
),
base AS (
  SELECT doc_id, valid_from,
         lead(valid_from) OVER (PARTITION BY doc_id ORDER BY valid_from) AS valid_to,
         row_number() OVER (PARTITION BY doc_id ORDER BY valid_from) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS nmax
  FROM vers
),
corrupted AS (
  SELECT doc_id, rn,
         CASE WHEN doc_id % {SCD2_GAP_EVERY} = 0 AND rn = 2
              THEN valid_from + 2 ELSE valid_from END AS valid_from,
         CASE WHEN doc_id % {SCD2_OVERLAP_EVERY} = 0 AND rn = 1 AND valid_to IS NOT NULL
              THEN valid_to + 5
              WHEN doc_id % {SCD2_REOPEN_EVERY} = 0 AND rn = nmax - 1 AND nmax >= 2
              THEN NULL
              ELSE valid_to END AS valid_to
  FROM base
),
lagged AS (
  SELECT doc_id, valid_from, valid_to,
         lag(valid_to) OVER (PARTITION BY doc_id ORDER BY valid_from, rn) AS prev_to
  FROM corrupted
),
per_key AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN prev_to IS NOT NULL AND valid_from < prev_to THEN 1 ELSE 0 END) AS BIGINT) AS overlap_cnt,
         CAST(sum(CASE WHEN prev_to IS NOT NULL AND valid_from > prev_to THEN 1 ELSE 0 END) AS BIGINT) AS gaps,
         CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS open_intervals,
         count(*)::BIGINT AS n_intervals
  FROM lagged GROUP BY doc_id
)
SELECT count(*)::BIGINT AS n_keys,
       CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
       CAST(sum(CASE WHEN overlap_cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_with_overlap,
       CAST(sum(overlap_cnt) AS BIGINT) AS overlap_pairs,
       CAST(sum(CASE WHEN gaps > 0 THEN 1 ELSE 0 END) AS BIGINT) AS keys_with_gap,
       CAST(sum(gaps) AS BIGINT) AS gap_pairs,
       CAST(sum(CASE WHEN open_intervals <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS keys_bad_current,
       CAST(sum(CASE WHEN open_intervals > 1 THEN 1 ELSE 0 END) AS BIGINT) AS keys_multi_current
FROM per_key
"""

QUERIES["scd2_conformance_audit"] = scd2_conformance_audit
ORACLES["scd2_conformance_audit"] = SCD2_AUDIT_SQL


# --- supplier lead-time lognormal fit -------------------------------------------
#
# Ship lead times are the textbook lognormal (multiplicative delays);
# the distribution fit behind supplier_fill_rate_sla's pass/fail view:
# per supplier, fit ln(days+1) by method of moments and report the
# p95 quantile position mu + 1.6449 sigma in ln space — the number a
# promise-date engine quotes.  Devices: ln quantized to 1e-4 fixed
# point (the zipf/dirichlet device) so all sums are exact integers;
# variance via the n*S2 - S1^2 identity; the single sqrt runs on an
# identical integer-derived double in both engines.
#
# Plan: one lineitem⋈orders co-partitioned join (AQE), then a
# supplier-keyed two-sum aggregation — map-side partials, no windows.

def supplier_leadtime_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # the synthetic dates are independent, so negative "lead times"
    # exist — the fit runs over the ship-after-order population only
    # (the same subset a real promise-date model trains on)
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_suppkey",
            F.expr(
                "datediff(cast(date_trunc('day', l_shipdate) as date),"
                " cast(date_trunc('day', o_orderdate) as date))"
            ).alias("days"),
        )
        .where(F.col("days") >= 0)
        .select(
            "l_suppkey",
            F.expr("cast(floor(ln(cast(days + 1 as double)) * 10000) as bigint)").alias("lq"),
        )
    )
    agg = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lq").alias("s1"),
        F.sum(F.expr("lq * lq")).alias("s2"),
    )
    return agg.where(F.col("n") >= 2).select(
        "l_suppkey",
        F.col("n").cast("bigint").alias("n_shipments"),
        F.expr("s1 div n").cast("bigint").alias("mu_ln_e4"),
        F.expr(
            "cast(floor(sqrt(cast((n * s2 - s1 * s1) div (n * n) as double))) as bigint)"
        ).alias("sigma_ln_e4"),
        F.expr(
            "s1 div n + 16449 * cast(floor(sqrt(cast((n * s2 - s1 * s1) div (n * n)"
            " as double))) as bigint) div 10000"
        )
        .cast("bigint")
        .alias("p95_ln_e4"),
    )


LEADTIME_SQL = """
WITH d AS (
  SELECT l_suppkey,
         date_diff('day', CAST(date_trunc('day', o_orderdate) AS DATE),
                   CAST(date_trunc('day', l_shipdate) AS DATE)) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
j AS (
  SELECT l_suppkey,
         CAST(floor(ln(CAST(days + 1 AS DOUBLE)) * 10000) AS BIGINT) AS lq
  FROM d WHERE days >= 0
),
agg AS (
  SELECT l_suppkey, count(*)::BIGINT AS n,
         CAST(sum(lq) AS BIGINT) AS s1, CAST(sum(lq * lq) AS BIGINT) AS s2
  FROM j GROUP BY l_suppkey
)
SELECT l_suppkey, n AS n_shipments,
       CAST(s1 // n AS BIGINT) AS mu_ln_e4,
       CAST(floor(sqrt(CAST((n * s2 - s1 * s1) // (n * n) AS DOUBLE))) AS BIGINT) AS sigma_ln_e4,
       CAST(s1 // n + 16449 * CAST(floor(sqrt(CAST((n * s2 - s1 * s1) // (n * n) AS DOUBLE))) AS BIGINT) // 10000 AS BIGINT) AS p95_ln_e4
FROM agg WHERE n >= 2
"""

QUERIES["supplier_leadtime_lognormal"] = supplier_leadtime_lognormal
ORACLES["supplier_leadtime_lognormal"] = LEADTIME_SQL


# --- TOPSIS multi-criteria supplier ranking -------------------------------------
#
# The decision layer over refresh_scorecard's raw metrics: rank
# suppliers by closeness to the ideal across four criteria — revenue
# (benefit), return share (cost), mean lead time (cost), line count
# (benefit) — with the textbook TOPSIS method (Hwang & Yoon 1981):
# vector-normalize each criterion, measure Euclidean distance to the
# ideal and anti-ideal profiles, closeness = d-/(d+ + d-).
#
# Determinism: every criterion is first an EXACT integer (whole-dollar
# revenue so squares stay well inside the double-exact range at any
# SF, bp return share, milli lead days, counts); all float steps —
# the four norms, the normalized ratios, the two distances — are
# written as the SAME fixed-order expression tree in both engines
# (identical-double device), and closeness floors into micro.
#
# Plan: one lineitem(⋈orders) scan → per-supplier agg; everything
# after runs on the bounded supplier table with 1-row broadcast
# norm/ideal frames.

def supplier_topsis_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    per = j.groupBy("l_suppkey").agg(
        F.expr(
            "cast(sum(cast(floor(l_extendedprice * 100 + 0.5d) as bigint)) div 100 as bigint)"
        ).alias("rev_usd"),
        F.expr(
            "sum(case when l_returnflag = 'R' then 1 else 0 end) * 10000 div count(1)"
        ).alias("ret_bp"),
        F.expr(
            "sum(greatest(datediff(cast(date_trunc('day', l_shipdate) as date),"
            " cast(date_trunc('day', o_orderdate) as date)), 0)) * 1000 div count(1)"
        ).alias("lead_milli"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    norms = per.agg(
        F.sum(F.expr("rev_usd * rev_usd")).alias("q1"),
        F.sum(F.expr("ret_bp * ret_bp")).alias("q2"),
        F.sum(F.expr("lead_milli * lead_milli")).alias("q3"),
        F.sum(F.expr("n_lines * n_lines")).alias("q4"),
    )
    r = per.crossJoin(F.broadcast(norms)).select(
        "l_suppkey",
        "rev_usd",
        "ret_bp",
        "lead_milli",
        "n_lines",
        F.expr("rev_usd / sqrt(cast(q1 as double))").alias("r1"),
        F.expr("ret_bp / sqrt(cast(q2 as double))").alias("r2"),
        F.expr("lead_milli / sqrt(cast(q3 as double))").alias("r3"),
        F.expr("n_lines / sqrt(cast(q4 as double))").alias("r4"),
    )
    ideal = r.agg(
        F.max("r1").alias("i1"),  # benefit
        F.min("r2").alias("i2"),  # cost
        F.min("r3").alias("i3"),  # cost
        F.max("r4").alias("i4"),  # benefit
        F.min("r1").alias("w1"),
        F.max("r2").alias("w2"),
        F.max("r3").alias("w3"),
        F.min("r4").alias("w4"),
    )
    dpos = (
        "sqrt((r1 - i1) * (r1 - i1) + (r2 - i2) * (r2 - i2)"
        " + (r3 - i3) * (r3 - i3) + (r4 - i4) * (r4 - i4))"
    )
    dneg = (
        "sqrt((r1 - w1) * (r1 - w1) + (r2 - w2) * (r2 - w2)"
        " + (r3 - w3) * (r3 - w3) + (r4 - w4) * (r4 - w4))"
    )
    out = r.crossJoin(F.broadcast(ideal)).select(
        "l_suppkey",
        "rev_usd",
        "ret_bp",
        "lead_milli",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.expr(
            f"case when {dpos} + {dneg} > 0 then"
            f" cast(floor({dneg} / ({dpos} + {dneg}) * 1000000) as bigint)"
            " else cast(null as bigint) end"
        ).alias("closeness_micro"),
    )
    # top-25 via TakeOrderedAndProject (parallel partial top-k per
    # partition, merged on the driver), then the rank window runs over
    # the 25-row result only — never a global window over the supplier
    # table. desc = NULLS LAST in both engines, and (closeness, suppkey)
    # is a total order, so the kept set and ranks are deterministic.
    top = out.orderBy(F.desc("closeness_micro"), F.asc("l_suppkey")).limit(25)
    w = Window.orderBy(F.desc("closeness_micro"), F.asc("l_suppkey"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


_T_DPOS = (
    "sqrt((r1 - i1) * (r1 - i1) + (r2 - i2) * (r2 - i2)"
    " + (r3 - i3) * (r3 - i3) + (r4 - i4) * (r4 - i4))"
)
_T_DNEG = (
    "sqrt((r1 - w1) * (r1 - w1) + (r2 - w2) * (r2 - w2)"
    " + (r3 - w3) * (r3 - w3) + (r4 - w4) * (r4 - w4))"
)

TOPSIS_SQL = f"""
WITH per AS (
  SELECT l_suppkey,
         CAST(CAST(sum(CAST(floor(l_extendedprice * 100 + (0.5)::DOUBLE) AS BIGINT)) AS BIGINT) // 100 AS BIGINT) AS rev_usd,
         CAST(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT) AS ret_bp,
         CAST(CAST(sum(greatest(date_diff('day',
                CAST(date_trunc('day', o_orderdate) AS DATE),
                CAST(date_trunc('day', l_shipdate) AS DATE)), 0)) AS BIGINT) * 1000 // count(*) AS BIGINT) AS lead_milli,
         count(*)::BIGINT AS n_lines
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
),
norms AS (
  SELECT CAST(sum(rev_usd * rev_usd) AS BIGINT) AS q1,
         CAST(sum(ret_bp * ret_bp) AS BIGINT) AS q2,
         CAST(sum(lead_milli * lead_milli) AS BIGINT) AS q3,
         CAST(sum(n_lines * n_lines) AS BIGINT) AS q4
  FROM per
),
r AS (
  SELECT l_suppkey, rev_usd, ret_bp, lead_milli, n_lines,
         rev_usd / sqrt(CAST(q1 AS DOUBLE)) AS r1,
         ret_bp / sqrt(CAST(q2 AS DOUBLE)) AS r2,
         lead_milli / sqrt(CAST(q3 AS DOUBLE)) AS r3,
         n_lines / sqrt(CAST(q4 AS DOUBLE)) AS r4
  FROM per CROSS JOIN norms
),
ideal AS (
  SELECT max(r1) AS i1, min(r2) AS i2, min(r3) AS i3, max(r4) AS i4,
         min(r1) AS w1, max(r2) AS w2, max(r3) AS w3, min(r4) AS w4
  FROM r
),
scored AS (
  SELECT l_suppkey, rev_usd, ret_bp, lead_milli, n_lines,
         CASE WHEN {_T_DPOS} + {_T_DNEG} > 0 THEN
           CAST(floor({_T_DNEG} / ({_T_DPOS} + {_T_DNEG}) * 1000000) AS BIGINT)
         ELSE CAST(NULL AS BIGINT) END AS closeness_micro
  FROM r CROSS JOIN ideal
)
SELECT * FROM (
  SELECT l_suppkey, rev_usd, ret_bp, lead_milli, n_lines, closeness_micro,
         row_number() OVER (ORDER BY closeness_micro DESC, l_suppkey) AS rank
  FROM scored
) WHERE rank <= 25
"""

QUERIES["supplier_topsis_rank"] = supplier_topsis_rank
ORACLES["supplier_topsis_rank"] = TOPSIS_SQL


# --- SCD2 point-in-time (as-of) dimension join ----------------------------------
#
# The payoff query of the SCD2 family: facts joined to the dimension
# version that was CURRENT when the fact happened — "revenue by the
# segment the customer was in AT ORDER TIME", the question every
# type-2 warehouse exists to answer (and the reason stage4's
# keep-latest merge loses history; reference: ``catalog
# search/stage4_update_csv.py`` master-merge keeps only the newest
# record, so this query is unanswerable there).
#
# Plant: per custkey, 1-3 dimension versions starting at the order
# epoch (1995-01-01) with per-key spacing (200 + (custkey % 11) * 60
# days), segment rotating deterministically per (custkey, version).
# Every order lands in exactly one half-open [valid_from, valid_to)
# interval because version 0 starts at the epoch == min(o_orderdate).
#
# Plan / scale: the dimension build is one explode + one lead window
# partitioned on custkey (<= 3 rows/key).  The point-in-time join is a
# plain EQUI-join on custkey with the interval predicate as a residual
# filter — shuffle on custkey only (or broadcast: the dimension is
# |customer| * <=3 rows, tiny next to the fact), never a range/theta
# join; per-order match multiplicity is bounded by the version cap, so
# AQE sees an ordinary fact-dim join.  The rollup output is
# segments x years.

PIT_VERSIONS = 3  # custkey % 3 + 1 versions per customer
PIT_EPOCH = "1995-01-01"


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    vers = cust.select(
        "c_custkey",
        F.explode(
            F.sequence(F.lit(0), (F.col("c_custkey") % PIT_VERSIONS).cast("int"))
        ).alias("k"),
    ).select(
        "c_custkey",
        F.date_add(
            F.to_date(F.lit(PIT_EPOCH)),
            (F.col("k") * (200 + (F.col("c_custkey") % 11) * 60)).cast("int"),
        ).alias("valid_from"),
        F.concat(F.lit("S"), ((F.col("c_custkey") * 7 + F.col("k") * 3) % 5)).alias(
            "segment"
        ),
    )
    w = Window.partitionBy("c_custkey").orderBy("valid_from")
    dim = vers.withColumn("valid_to", F.lead("valid_from").over(w))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("o_date"), "o_totalprice"
    )
    pit = orders.join(
        F.broadcast(dim),
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("o_date") < F.col("valid_to"))),
        "inner",
    )
    return pit.groupBy("segment", F.year("o_date").cast("bigint").alias("order_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


PIT_JOIN_SQL = f"""
WITH vers AS (
  SELECT c_custkey,
         DATE '{PIT_EPOCH}' + CAST(k * (200 + (c_custkey % 11) * 60) AS INTEGER) AS valid_from,
         'S' || CAST((c_custkey * 7 + k * 3) % 5 AS VARCHAR) AS segment
  FROM customer
  CROSS JOIN (VALUES (0), (1), (2)) v(k)
  WHERE k <= c_custkey % {PIT_VERSIONS}
),
dim AS (
  SELECT c_custkey, segment, valid_from,
         lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
  FROM vers
)
SELECT segment, CAST(year(o_orderdate) AS BIGINT) AS order_year,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN dim ON o_custkey = c_custkey
        AND CAST(o_orderdate AS DATE) >= valid_from
        AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
GROUP BY segment, order_year
"""

QUERIES["scd2_point_in_time_join"] = scd2_point_in_time_join
ORACLES["scd2_point_in_time_join"] = PIT_JOIN_SQL


# --- bitemporal as-of reconstruction ---------------------------------------------
#
# The second time axis the SCD2 family (scd2_intervals /
# catalog_asof_state / scd2_point_in_time_join) doesn't model:
# TRANSACTION time (Snodgrass 1992; SQL:2011 system-versioned +
# application-time tables). Every version row also records WHEN the
# warehouse learned it — late-arriving by a per-customer lag — and 20%
# of customers later file a CORRECTION that revises their first
# version's segment without touching business time. The graded query
# is the canonical bitemporal point lookup: "as the system knew at
# transaction time T, what was each customer's segment valid at
# business time V?" — first restrict to rows with tx_from <= T, keep
# the LATEST transaction per (customer, valid_from) (corrections
# supersede), then rebuild validity intervals with one lead() window
# and select the one covering V. Both reductions are windows over the
# bounded per-key version set (<= 4 rows), mirrored in the oracle.
#
# Scale: the dimension is customer-sized metadata; two windows
# partitioned by custkey, no fact scan at all — the fact-side cost
# lives in scd2_point_in_time_join; this operator grades the
# dimension-side reconstruction that query would consume at a
# different (T, V).

BT_TX_T = "1996-06-15"   # transaction-time cutoff (what the system knew)
BT_VALID_V = "1996-01-01"  # business-time point being asked about


def bitemporal_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    vers = cust.select(
        "c_custkey",
        F.explode(
            F.sequence(F.lit(0), (F.col("c_custkey") % PIT_VERSIONS).cast("int"))
        ).alias("k"),
    ).select(
        "c_custkey",
        "k",
        F.date_add(
            F.to_date(F.lit(PIT_EPOCH)),
            (F.col("k") * (200 + (F.col("c_custkey") % 11) * 60)).cast("int"),
        ).alias("valid_from"),
        F.concat(F.lit("S"), ((F.col("c_custkey") * 7 + F.col("k") * 3) % 5)).alias(
            "segment"
        ),
        F.lit(0).alias("is_correction"),
    )
    # recording lag: the warehouse learns about a version days later
    recorded = vers.select(
        "c_custkey",
        "k",
        "valid_from",
        "segment",
        "is_correction",
        F.date_add(F.col("valid_from"), (F.col("c_custkey") % 7 + 1).cast("int")).alias(
            "tx_from"
        ),
    )
    # 20% of customers file a correction to version 0, 45 days later
    corrections = recorded.where(
        (F.col("c_custkey") % 5 == 0) & (F.col("k") == 0)
    ).select(
        "c_custkey",
        "k",
        "valid_from",
        F.concat(F.lit("S"), ((F.col("c_custkey") * 7 + 4) % 5)).alias("segment"),
        F.lit(1).alias("is_correction"),
        F.date_add(F.col("valid_from"), 45).alias("tx_from"),
    )
    ledger = recorded.unionByName(corrections)
    known = ledger.where(F.col("tx_from") <= F.to_date(F.lit(BT_TX_T)))
    w_tx = Window.partitionBy("c_custkey", "valid_from").orderBy(
        F.desc("tx_from"), F.desc("is_correction")
    )
    current = (
        known.withColumn("r", F.row_number().over(w_tx))
        .where(F.col("r") == 1)
        .drop("r", "k")
    )
    w_valid = Window.partitionBy("c_custkey").orderBy("valid_from")
    dim = current.withColumn("valid_to", F.lead("valid_from").over(w_valid))
    v = F.to_date(F.lit(BT_VALID_V))
    return dim.where(
        (F.col("valid_from") <= v)
        & (F.col("valid_to").isNull() | (v < F.col("valid_to")))
    ).select(
        "c_custkey",
        "segment",
        "valid_from",
        "tx_from",
        F.col("is_correction").cast("bigint").alias("corrected"),
    )


BITEMPORAL_SQL = f"""
WITH vers AS (
  SELECT c_custkey, k,
         DATE '{PIT_EPOCH}' + CAST(k * (200 + (c_custkey % 11) * 60) AS INTEGER) AS valid_from,
         'S' || CAST((c_custkey * 7 + k * 3) % 5 AS VARCHAR) AS segment,
         0 AS is_correction
  FROM customer
  CROSS JOIN (VALUES (0), (1), (2)) v(k)
  WHERE k <= c_custkey % {PIT_VERSIONS}
),
recorded AS (
  SELECT c_custkey, k, valid_from, segment, is_correction,
         valid_from + CAST(c_custkey % 7 + 1 AS INTEGER) AS tx_from
  FROM vers
),
corrections AS (
  SELECT c_custkey, k, valid_from,
         'S' || CAST((c_custkey * 7 + 4) % 5 AS VARCHAR) AS segment,
         1 AS is_correction,
         valid_from + 45 AS tx_from
  FROM recorded WHERE c_custkey % 5 = 0 AND k = 0
),
ledger AS (SELECT * FROM recorded UNION ALL SELECT * FROM corrections),
known AS (SELECT * FROM ledger WHERE tx_from <= DATE '{BT_TX_T}'),
current_v AS (
  SELECT c_custkey, valid_from, segment, is_correction, tx_from FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey, valid_from
              ORDER BY tx_from DESC, is_correction DESC) AS r
    FROM known
  ) WHERE r = 1
),
dim AS (
  SELECT *, lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
  FROM current_v
)
SELECT c_custkey, segment, valid_from, tx_from,
       CAST(is_correction AS BIGINT) AS corrected
FROM dim
WHERE valid_from <= DATE '{BT_VALID_V}'
  AND (valid_to IS NULL OR DATE '{BT_VALID_V}' < valid_to)
"""

QUERIES["bitemporal_as_of"] = bitemporal_as_of
ORACLES["bitemporal_as_of"] = BITEMPORAL_SQL


# --- chain-ladder run-off triangle ------------------------------------------------
#
# The actuarial development triangle (Mack, ASTIN 1993 — the standard
# chain-ladder) applied to order fulfilment: cohorts = order months,
# development = months from order to line shipment (0..5; longer lags
# are out of the 6-month development scope), measure = cumulative
# shipped-line counts.  Cohorts younger than the ship cutoff are
# CENSORED — their upper-right cells are unobservable — and that is
# the whole point: volume-weighted development factors
# f_d = ΣC[·,d+1] / ΣC[·,d] are estimated from cohort pairs where both
# cells are observed, then each censored cohort's latest diagonal is
# developed to ultimate by the staged product of the remaining
# factors (integer milli/micro fixed-point, truncating division — the
# staging order is pinned in both engines).
#
# Plan shape at 100 TB: one (cohort, dev) count aggregation over the
# join, then every step runs on the bounded triangle grid; factors and
# the cutoff come back as 1-row/grid broadcasts.

CL_MAX_DEV = 5


def orders_chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        ((F.year("o_orderdate") - 1990) * 12 + F.month("o_orderdate")).alias("m"),
        (
            (F.year("l_shipdate") - 1990) * 12 + F.month("l_shipdate")
            - (F.year("o_orderdate") - 1990) * 12 - F.month("o_orderdate")
        ).alias("lag"),
    )
    # cut = max(m + lag) = max ship-month index over the JOINED rows;
    # o_orderkey is the orders PK and every l_orderkey matches it in
    # these corpora, so each lineitem row survives the inner join
    # exactly once and the max is computable from lineitem alone —
    # saving a second pass over the big join (its only other consumer
    # is `cells`). Value-identity is oracle-checked (driver_sim hash).
    cutoff = li.agg(
        F.max(
            (F.year("l_shipdate") - 1990) * 12 + F.month("l_shipdate")
        ).alias("cut")
    )
    cells = (
        j.where((F.col("lag") >= 0) & (F.col("lag") <= CL_MAX_DEV))
        .groupBy("m", F.col("lag").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # cumulative over the bounded (cohort, dev) grid
    wc = Window.partitionBy("m").orderBy("d")
    cum = cells.select("m", "d", F.sum("n").over(wc).alias("c")).localCheckpoint(
        eager=False
    )
    # volume-weighted factors from cohort pairs observed on both devs
    nxt = cum.select(F.col("m").alias("m2"), (F.col("d") - 1).alias("d2"), F.col("c").alias("cn"))
    pairs = (
        cum.join(nxt, (F.col("m") == F.col("m2")) & (F.col("d") == F.col("d2")))
        .crossJoin(F.broadcast(cutoff))
        .where(F.col("m") + F.col("d") + 1 <= F.col("cut"))
        .groupBy("d")
        .agg(F.sum("cn").alias("sn"), F.sum("c").alias("sc"))
        .select("d", F.expr("sn * 1000000 div sc").alias("f_micro"))
    )
    # pivot the <=5 factors to one broadcast row
    frow = pairs.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("d") == d, F.col("f_micro"))), F.lit(1000000)
            ).alias(f"f{d}")
            for d in range(CL_MAX_DEV)
        ]
    )
    # each cohort's latest observed diagonal
    latest = (
        cum.crossJoin(F.broadcast(cutoff))
        .where(F.col("m") + F.col("d") <= F.col("cut"))
        .groupBy("m")
        .agg(F.max(F.struct("d", "c")).alias("s"))
        .select("m", F.col("s.d").alias("obs_dev"), F.col("s.c").alias("latest_cum"))
    )
    # develop to ultimate: staged truncating product of remaining factors
    branches = []
    for obs in range(CL_MAX_DEV + 1):
        e = "latest_cum * 1000"
        for d in range(obs, CL_MAX_DEV):
            e = f"({e}) * f{d} div 1000000"
        branches.append(f"WHEN {obs} THEN cast({e} as bigint)")
    ult = F.expr("CASE obs_dev " + " ".join(branches) + " END")
    return (
        latest.crossJoin(F.broadcast(frow))
        .select(
            F.col("m").cast("bigint").alias("origin_month"),
            F.col("obs_dev").cast("bigint").alias("obs_dev"),
            F.col("latest_cum").cast("bigint").alias("latest_cum"),
            ult.alias("ultimate_milli"),
            (ult - F.col("latest_cum") * 1000).alias("reserve_milli"),
        )
    )


CHAIN_LADDER_SQL = f"""
WITH j AS (
  SELECT (year(o_orderdate) - 1990) * 12 + month(o_orderdate) AS m,
         (year(l_shipdate) - 1990) * 12 + month(l_shipdate)
         - (year(o_orderdate) - 1990) * 12 - month(o_orderdate) AS lag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cutoff AS (SELECT max(m + lag) AS cut FROM j),
cells AS (
  SELECT m, lag AS d, count(*) AS n FROM j
  WHERE lag >= 0 AND lag <= {CL_MAX_DEV} GROUP BY m, lag
),
cum AS MATERIALIZED (
  SELECT m, d, sum(n) OVER (PARTITION BY m ORDER BY d) AS c FROM cells
),
pairs AS (
  SELECT a.d AS d, sum(b.c) AS sn, sum(a.c) AS sc
  FROM cum a JOIN cum b ON b.m = a.m AND b.d = a.d + 1, cutoff
  WHERE a.m + a.d + 1 <= cut
  GROUP BY a.d
),
frow AS (
  SELECT {", ".join(
    f"coalesce(max(CASE WHEN d = {d} THEN sn * 1000000 // sc END), 1000000) AS f{d}"
    for d in range(CL_MAX_DEV)
  )}
  FROM pairs
),
latest AS (
  SELECT m, max_by(d, d) AS obs_dev, max_by(c, d) AS latest_cum
  FROM cum, cutoff WHERE m + d <= cut GROUP BY m
)
SELECT CAST(m AS BIGINT) AS origin_month,
       CAST(obs_dev AS BIGINT) AS obs_dev,
       CAST(latest_cum AS BIGINT) AS latest_cum,
       CAST(CASE obs_dev {" ".join(
         "WHEN %d THEN %s" % (
           obs,
           "(" * 0 + __import__("functools").reduce(
             lambda e, d: f"({e}) * f{d} // 1000000",
             range(obs, CL_MAX_DEV),
             "latest_cum * 1000",
           ),
         )
         for obs in range(CL_MAX_DEV + 1)
       )} END AS BIGINT) AS ultimate_milli,
       CAST(CASE obs_dev {" ".join(
         "WHEN %d THEN %s" % (
           obs,
           __import__("functools").reduce(
             lambda e, d: f"({e}) * f{d} // 1000000",
             range(obs, CL_MAX_DEV),
             "latest_cum * 1000",
           ),
         )
         for obs in range(CL_MAX_DEV + 1)
       )} END - latest_cum * 1000 AS BIGINT) AS reserve_milli
FROM latest CROSS JOIN frow
"""

QUERIES["orders_chain_ladder"] = orders_chain_ladder
ORACLES["orders_chain_ladder"] = CHAIN_LADDER_SQL
