"""Storage-layout planning operators: Z-order data skipping and
small-file compaction.

Reference parity: the refresh system's output stage owns file layout —
`catalog search/stage5_output_final_csv.py` writes the final CSV per
run and `stage4_update_csv.py` rewrites the master file wholesale. At
100 TB the same responsibility becomes *layout planning*: choosing a
sort/cluster order so query predicates can skip files (the public art:
Delta/Iceberg OPTIMIZE ZORDER, Hudi clustering), and coalescing the
small files a per-run writer accumulates (OPTIMIZE compaction /
bin-packing). Both are planned here as graded queries over exactly the
metadata a table format keeps — per-file min/max stats and a file
manifest — so the planning math itself is oracle-checked.

* `zorder_layout` — the data-skipping measurement behind OPTIMIZE
  ZORDER: rows coded to 8-bit per-dimension cells (min/max from a
  1-row broadcast), Morton-interleaved into a 16-bit z-key, assigned
  to 64 files under two layouts (linear: sorted by dim A only;
  zorder: sorted by z-key). Per-file min/max stats then answer, for
  three query shapes (box on both dims / dim A only / dim B only),
  how many files each layout must scan. The classic result the test
  pins: the linear layout prunes perfectly on its own sort dimension
  and NOT AT ALL on the other; z-order prunes on both.
* `compaction_plan` — greedy sequential bin-packing of a per-source
  file manifest into target-sized compaction bins (the algorithm
  OPTIMIZE runs per partition): running byte totals via one window
  over the manifest, bin = cumulative-bytes-before div target. The
  manifest is metadata (rows ∝ file count, not corpus bytes), so the
  whole plan is a bounded computation regardless of table size.

Scale notes: `zorder_layout`'s only corpus-sized work is one pass to
code rows + one (layout, file) aggregation (the stats collection a
writer does for free while writing); everything downstream operates on
the 128-row file-stats table. The z-key arithmetic is pure integer
bit-interleaving (shiftleft/shiftright), identical in DuckDB, so the
oracle reproduces the exact file assignment, not a simulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

ZBITS = 8          # per-dimension code width -> 16-bit z-key
N_FILES = 64       # files per layout
BOX_LO, BOX_HI = 64, 127  # planted box predicate: middle quarter of each dim


def _zkey_terms(dialect: str) -> str:
    """Morton interleave of two 8-bit codes — same integer arithmetic
    spelled in each engine's SQL (Spark: shiftleft/shiftright; DuckDB:
    << / >>)."""
    terms = []
    for j in range(ZBITS):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright(ca, {j}) & 1, {2 * j})")
            terms.append(f"shiftleft(shiftright(cb, {j}) & 1, {2 * j + 1})")
        else:
            terms.append(f"(((ca >> {j}) & 1) << {2 * j})")
            terms.append(f"(((cb >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files-scanned comparison: linear vs z-order layout of orders on
    (o_custkey, integer-cent o_totalprice) for three query boxes."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("a"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("b"),
    )
    rng = orders.agg(
        F.min("a").alias("amin"), F.max("a").alias("amax"),
        F.min("b").alias("bmin"), F.max("b").alias("bmax"),
    )
    coded = (
        orders.crossJoin(F.broadcast(rng))
        .select(
            F.expr(f"(a - amin) * {1 << ZBITS} div (amax - amin + 1)").alias("ca"),
            F.expr(f"(b - bmin) * {1 << ZBITS} div (bmax - bmin + 1)").alias("cb"),
        )
        .select("ca", "cb", F.expr(_zkey_terms("spark")).alias("zkey"))
    )
    per_file_div = (1 << (2 * ZBITS)) // N_FILES
    assigned = coded.select(
        "ca",
        "cb",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"ca div {(1 << ZBITS) // N_FILES}").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"zkey div {per_file_div}").alias("file_id"),
                ),
            )
        ).alias("f"),
    ).select("ca", "cb", "f.layout", "f.file_id")
    in_a = F.col("ca").between(BOX_LO, BOX_HI)
    in_b = F.col("cb").between(BOX_LO, BOX_HI)
    stats = assigned.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ca").alias("min_a"), F.max("ca").alias("max_a"),
        F.min("cb").alias("min_b"), F.max("cb").alias("max_b"),
        F.sum((in_a & in_b).cast("bigint")).alias("hit_both"),
        F.sum(in_a.cast("bigint")).alias("hit_a"),
        F.sum(in_b.cast("bigint")).alias("hit_b"),
    )
    # file-skipping decision per query shape, straight off min/max stats
    scan_a = (F.col("min_a") <= BOX_HI) & (F.col("max_a") >= BOX_LO)
    scan_b = (F.col("min_b") <= BOX_HI) & (F.col("max_b") >= BOX_LO)
    shapes = stats.select(
        "layout",
        "n_rows",
        F.explode(
            F.array(
                F.struct(
                    F.lit("box_both").alias("query_shape"),
                    (scan_a & scan_b).alias("scanned"),
                    F.col("hit_both").alias("hits"),
                ),
                F.struct(
                    F.lit("box_a_only").alias("query_shape"),
                    scan_a.alias("scanned"),
                    F.col("hit_a").alias("hits"),
                ),
                F.struct(
                    F.lit("box_b_only").alias("query_shape"),
                    scan_b.alias("scanned"),
                    F.col("hit_b").alias("hits"),
                ),
            )
        ).alias("q"),
    )
    return shapes.groupBy("layout", F.col("q.query_shape").alias("query_shape")).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.col("q.scanned").cast("bigint")).alias("files_scanned"),
        F.sum(F.when(F.col("q.scanned"), F.col("n_rows")).otherwise(0)).alias("rows_scanned"),
        F.sum("q.hits").alias("rows_matching"),
    )


ZORDER_SQL = f"""
WITH rng AS (
  SELECT min(o_custkey) AS amin, max(o_custkey) AS amax,
         min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS bmin,
         max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS bmax
  FROM orders
), coded AS (
  SELECT (o_custkey - amin) * {1 << ZBITS} // (amax - amin + 1) AS ca,
         (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - bmin) * {1 << ZBITS}
           // (bmax - bmin + 1) AS cb
  FROM orders, rng
), zkeyed AS (
  SELECT ca, cb, {_zkey_terms("duckdb")} AS zkey FROM coded
), assigned AS (
  SELECT ca, cb, 'linear' AS layout, ca // {(1 << ZBITS) // N_FILES} AS file_id FROM zkeyed
  UNION ALL
  SELECT ca, cb, 'zorder' AS layout, zkey // {(1 << (2 * ZBITS)) // N_FILES} AS file_id FROM zkeyed
), stats AS (
  SELECT layout, file_id, count(*) AS n_rows,
         min(ca) AS min_a, max(ca) AS max_a, min(cb) AS min_b, max(cb) AS max_b,
         sum(CASE WHEN ca BETWEEN {BOX_LO} AND {BOX_HI}
                   AND cb BETWEEN {BOX_LO} AND {BOX_HI} THEN 1 ELSE 0 END) AS hit_both,
         sum(CASE WHEN ca BETWEEN {BOX_LO} AND {BOX_HI} THEN 1 ELSE 0 END) AS hit_a,
         sum(CASE WHEN cb BETWEEN {BOX_LO} AND {BOX_HI} THEN 1 ELSE 0 END) AS hit_b
  FROM assigned GROUP BY layout, file_id
), shapes AS (
  SELECT layout, n_rows, 'box_both' AS query_shape,
         (min_a <= {BOX_HI} AND max_a >= {BOX_LO} AND min_b <= {BOX_HI} AND max_b >= {BOX_LO}) AS scanned,
         hit_both AS hits
  FROM stats
  UNION ALL
  SELECT layout, n_rows, 'box_a_only',
         (min_a <= {BOX_HI} AND max_a >= {BOX_LO}), hit_a FROM stats
  UNION ALL
  SELECT layout, n_rows, 'box_b_only',
         (min_b <= {BOX_HI} AND max_b >= {BOX_LO}), hit_b FROM stats
)
SELECT layout, query_shape, count(*) AS n_files,
       CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(hits) AS BIGINT) AS rows_matching
FROM shapes GROUP BY layout, query_shape
"""


# --- small-file compaction planner -------------------------------------------

COMPACT_TARGET = 16384  # target compacted-file size (bytes)


def file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted per-source file manifest: one file per document, sized
    by its utf-8 byte length — the metadata shape a lakehouse table
    format keeps per file."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("source"),
        F.col("doc_id").alias("file_id"),
        F.octet_length(F.encode("text", "utf-8")).cast("bigint").alias("bytes"),
    )


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential bin-packing per source: files in file_id order
    coalesce into bins of ~COMPACT_TARGET bytes (bin index = cumulative
    bytes BEFORE the file div target — the running-total rule OPTIMIZE
    applies per partition; a bin may overflow by at most one file)."""
    manifest = file_manifest(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = manifest.select(
        "source",
        "file_id",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("cum_before"),
    ).select(
        "source",
        "file_id",
        "bytes",
        F.expr(f"cum_before div {COMPACT_TARGET}").alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files_in"),
        F.sum("bytes").alias("bytes_in"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


COMPACTION_SQL = f"""
WITH manifest AS (
  SELECT source, doc_id AS file_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS bytes
  FROM documents
), binned AS (
  SELECT source, file_id, bytes,
         CAST(coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM manifest
)
SELECT source, bin_id, count(*) AS n_files_in,
       CAST(sum(bytes) AS BIGINT) AS bytes_in,
       min(file_id) AS first_file, max(file_id) AS last_file
FROM binned GROUP BY source, bin_id
"""

QUERIES = {
    "zorder_layout": zorder_layout,
    "compaction_plan": compaction_plan,
}
ORACLES = {
    "zorder_layout": ZORDER_SQL,
    "compaction_plan": COMPACTION_SQL,
}


# --- Hilbert vs z-order layout comparison -------------------------------------
#
# The data-layout bake-off zorder_layout sets up, completed with the
# curve that actually wins on locality (public art: Hilbert curves for
# multidimensional indexing, Moon et al. 2001 — used by modern
# lakehouse OPTIMIZE implementations): the same (custkey, cents) cell
# grid is laid out linear, Morton (z-order), and Hilbert, and the
# planted box query is priced per layout as files-scanned (min/max
# file skipping) and scan efficiency (hits per scanned row).  The
# Hilbert transform is the standard xy2d bit fold — 8 unrolled
# rotation/reflection steps — run over the DISTINCT cell table
# (bounded by the 2^16 grid at ANY corpus size, the scale device:
# corpus rows reduce to cells first, curve math never touches fact
# rows), as an F.aggregate struct fold / recursive-CTE walk.
#
# Scale: one corpus agg to cells + broadcast-scale curve math + a
# bounded (layout, file) rollup.  At 100 TB the identical plan holds —
# the curve table is still 65536 rows.

def hilbert_expr(ca: str, cb: str, zbits: int = ZBITS) -> "F.Column":
    """Hilbert curve position of grid cell (ca, cb) as one JVM-side
    aggregate() fold — shared by `hilbert_layout` (the measurement
    operator) and `sinks.partitioned.write_hilbert_clustered` (the
    write path, round 9). Reflection uses the FULL grid bound
    (2^zbits - 1), not s-1: the s-1 variant is also a valid Hilbert
    curve but walks through negative intermediates, where SQL
    truncating division and Python bit masking disagree — full-grid
    reflection stays in [0, 2^zbits - 1]."""
    levels = ", ".join(str(1 << (zbits - 1 - i)) for i in range(zbits))
    full = (1 << zbits) - 1
    return F.expr(
        f"""
        aggregate(
          array({levels}),
          named_struct('x', {ca}, 'y', {cb}, 'd', cast(0 as bigint)),
          (acc, s) -> named_struct(
            'x', case when (acc.y div s) % 2 = 1 then acc.x
                      else case when (acc.x div s) % 2 = 1 then {full} - acc.y
                                else acc.y end end,
            'y', case when (acc.y div s) % 2 = 1 then acc.y
                      else case when (acc.x div s) % 2 = 1 then {full} - acc.x
                                else acc.x end end,
            'd', acc.d + cast(s as bigint) * s *
                 ((3 * ((acc.x div s) % 2)) ^ ((acc.y div s) % 2))),
          acc -> acc.d)
        """
    )


def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("a"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias("b"),
    )
    rng = orders.agg(
        F.min("a").alias("amin"), F.max("a").alias("amax"),
        F.min("b").alias("bmin"), F.max("b").alias("bmax"),
    )
    coded = orders.crossJoin(F.broadcast(rng)).select(
        F.expr(f"(a - amin) * {1 << ZBITS} div (amax - amin + 1)").alias("ca"),
        F.expr(f"(b - bmin) * {1 << ZBITS} div (bmax - bmin + 1)").alias("cb"),
    )
    in_box = F.col("ca").between(BOX_LO, BOX_HI) & F.col("cb").between(BOX_LO, BOX_HI)
    cells = coded.groupBy("ca", "cb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows_cell"),
        F.sum(in_box.cast("bigint")).cast("bigint").alias("n_hits_cell"),
    )
    hilbert = hilbert_expr("ca", "cb")
    keyed = cells.select(
        "ca", "cb", "n_rows_cell", "n_hits_cell",
        F.expr(_zkey_terms("spark")).alias("zkey"),
        hilbert.alias("hkey"),
    )
    per_file_div = (1 << (2 * ZBITS)) // N_FILES
    assigned = keyed.select(
        "ca", "cb", "n_rows_cell", "n_hits_cell",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"ca div {(1 << ZBITS) // N_FILES}").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"zkey div {per_file_div}").alias("file_id"),
                ),
                F.struct(
                    F.lit("hilbert").alias("layout"),
                    F.expr(f"hkey div {per_file_div}").alias("file_id"),
                ),
            )
        ).alias("f"),
    ).select("ca", "cb", "n_rows_cell", "n_hits_cell", "f.layout", "f.file_id")
    files = assigned.groupBy("layout", "file_id").agg(
        F.sum("n_rows_cell").cast("bigint").alias("n_rows"),
        F.sum("n_hits_cell").cast("bigint").alias("n_hits"),
        F.min("ca").alias("min_a"), F.max("ca").alias("max_a"),
        F.min("cb").alias("min_b"), F.max("cb").alias("max_b"),
    )
    scanned = (
        (F.col("min_a") <= BOX_HI) & (F.col("max_a") >= BOX_LO)
        & (F.col("min_b") <= BOX_HI) & (F.col("max_b") >= BOX_LO)
    ).cast("bigint")
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(scanned).cast("bigint").alias("n_files_scanned"),
        F.sum(F.col("n_rows") * scanned).cast("bigint").alias("rows_scanned"),
        F.sum("n_hits").cast("bigint").alias("n_hits"),
        F.expr(
            "cast(sum(n_hits) * 10000 div"
            " greatest(sum(n_rows * (case when (min_a <= {hi} and max_a >= {lo}"
            " and min_b <= {hi} and max_b >= {lo}) then 1 else 0 end)), 1) as bigint)".format(
                hi=BOX_HI, lo=BOX_LO
            )
        ).alias("efficiency_bp"),
    )


HILBERT_SQL = f"""
WITH RECURSIVE rng AS (
  SELECT min(o_custkey) AS amin, max(o_custkey) AS amax,
         min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS bmin,
         max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS bmax
  FROM orders
),
coded AS (
  SELECT (o_custkey - amin) * {1 << ZBITS} // (amax - amin + 1) AS ca,
         (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - bmin) * {1 << ZBITS}
           // (bmax - bmin + 1) AS cb
  FROM orders, rng
),
cells AS (
  SELECT ca, cb, count(*)::BIGINT AS n_rows_cell,
         CAST(sum(CASE WHEN ca BETWEEN {BOX_LO} AND {BOX_HI}
                        AND cb BETWEEN {BOX_LO} AND {BOX_HI}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_cell
  FROM coded GROUP BY ca, cb
),
hwalk AS (
  SELECT ca, cb, ca AS x, cb AS y, 0::BIGINT AS d, 0 AS i FROM cells
  UNION ALL
  SELECT ca, cb,
         CASE WHEN (y // s) % 2 = 1 THEN x
              ELSE CASE WHEN (x // s) % 2 = 1 THEN 255 - y ELSE y END END,
         CASE WHEN (y // s) % 2 = 1 THEN y
              ELSE CASE WHEN (x // s) % 2 = 1 THEN 255 - x ELSE x END END,
         d + s * s * xor(3 * ((x // s) % 2), (y // s) % 2),
         i + 1
  FROM (SELECT *, CAST({1 << (ZBITS - 1)} >> i AS BIGINT) AS s FROM hwalk)
  WHERE i < {ZBITS}
),
hkeys AS (SELECT ca, cb, d AS hkey FROM hwalk WHERE i = {ZBITS}),
zkeys AS (SELECT ca, cb, {{Z}} AS zkey FROM cells),
assigned AS (
  SELECT c.ca, c.cb, c.n_rows_cell, c.n_hits_cell, l.layout,
         CASE l.layout
           WHEN 'linear' THEN c.ca // {(1 << ZBITS) // N_FILES}
           WHEN 'zorder' THEN z.zkey // {(1 << (2 * ZBITS)) // N_FILES}
           ELSE h.hkey // {(1 << (2 * ZBITS)) // N_FILES} END AS file_id
  FROM cells c
  JOIN zkeys z ON c.ca = z.ca AND c.cb = z.cb
  JOIN hkeys h ON c.ca = h.ca AND c.cb = h.cb
  CROSS JOIN (SELECT unnest(['linear', 'zorder', 'hilbert']) AS layout) l
),
files AS (
  SELECT layout, file_id,
         CAST(sum(n_rows_cell) AS BIGINT) AS n_rows,
         CAST(sum(n_hits_cell) AS BIGINT) AS n_hits,
         min(ca) AS min_a, max(ca) AS max_a, min(cb) AS min_b, max(cb) AS max_b
  FROM assigned GROUP BY layout, file_id
),
marked AS (
  SELECT *, CASE WHEN min_a <= {BOX_HI} AND max_a >= {BOX_LO}
                  AND min_b <= {BOX_HI} AND max_b >= {BOX_LO}
            THEN 1 ELSE 0 END AS scanned
  FROM files
)
SELECT layout, count(*)::BIGINT AS n_files,
       CAST(sum(scanned) AS BIGINT) AS n_files_scanned,
       CAST(sum(n_rows * scanned) AS BIGINT) AS rows_scanned,
       CAST(sum(n_hits) AS BIGINT) AS n_hits,
       CAST(sum(n_hits) * 10000 // greatest(sum(n_rows * scanned), 1) AS BIGINT)
         AS efficiency_bp
FROM marked GROUP BY layout
"""

HILBERT_SQL = HILBERT_SQL.replace("{Z}", _zkey_terms("duckdb"))

QUERIES["hilbert_layout"] = hilbert_layout
ORACLES["hilbert_layout"] = HILBERT_SQL


# --- hash-partition balance audit -------------------------------------------------
#
# The pre-flight check before choosing a shuffle/bucketing key: how
# evenly does each candidate key hash-partition the fact table?  For
# each key column the audit buckets rows by a PORTABLE md5-derived
# partition id (engine hash functions differ; md5 reproduces
# bit-for-bit — the house device) and reports the balance numbers a
# partition planner reads: min/max bucket, max-over-mean, exact-integer
# CV² bp of bucket sizes, and the chi-squared-vs-uniform statistic
# ((o·nb − tot)² exact in decimal/HUGEINT per bucket).  The skew
# complement of join_key_skew_report: that one finds hot KEYS, this
# one scores whole PARTITIONING CHOICES.
#
# Scale: one narrow scan per key -> NBUCKETS-row aggregates (map-side
# combinable); everything after is grid math.

BAL_BUCKETS = 64


def partition_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")

    # Three PARALLEL per-key bucket branches feeding ONE shared tail.
    # Two adjudicated facts shape this (r9 ledger row, idle re-measure
    # 1.54 s vs 0.775 standing): (a) the corpus regenerated as one row
    # group per file, so a single-scan form (posexplode) runs the whole
    # 3x|fact| md5 pass on ONE task — measured SLOWER (1.8 s) than the
    # branches, which give Spark three concurrent column-pruned scans
    # (0.55 s for all three bucket aggs); (b) the former per-branch
    # tails (three 1-row cross-joins + three final aggs + union) paid
    # ~1 s of tiny-stage scheduling — folded here into one join + one
    # agg over the unioned <= 3*BAL_BUCKETS-row bucket grid. At scale
    # the branches stay right: each reads a DIFFERENT pruned column
    # (no redundant IO) and row-group counts grow with the data.
    def bucket_branch(ki: int, col: str):
        b = F.expr(
            f"cast(conv(substring(md5(cast({col} as string)), 1, 8), 16, 10) as bigint)"
            f" % {BAL_BUCKETS}"
        )
        return (
            li.select(b.alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("o"))
            .select(F.lit(ki).alias("ki"), "b", "o")
        )

    buckets = (
        bucket_branch(0, "l_orderkey")
        .unionAll(bucket_branch(1, "l_partkey"))
        .unionAll(bucket_branch(2, "l_suppkey"))
    )
    tot = buckets.groupBy("ki").agg(
        F.sum("o").alias("tot"), F.count(F.lit(1)).alias("nb")
    )
    out = (
        buckets.join(F.broadcast(tot), "ki")  # <= 3*BAL_BUCKETS rows
        .groupBy("ki", "tot", "nb")
        .agg(
            F.min("o").alias("min_bucket"),
            F.max("o").alias("max_bucket"),
            F.sum(F.expr("cast(o as decimal(38,0)) * o")).alias("so2"),
            F.sum(
                F.expr(
                    f"(cast(o as decimal(38,0)) * {BAL_BUCKETS} - tot)"
                    f" * (cast(o as decimal(38,0)) * {BAL_BUCKETS} - tot)"
                )
            ).alias("sdev2"),
        )
        .withColumn(
            "key_col",
            F.expr("element_at(array('l_orderkey', 'l_partkey', 'l_suppkey'), ki + 1)"),
        )
    )
    return out.select(
        "key_col",
        F.col("tot").cast("bigint").alias("n_rows"),
        F.col("nb").cast("bigint").alias("n_buckets"),
        F.col("min_bucket").cast("bigint").alias("min_bucket"),
        F.col("max_bucket").cast("bigint").alias("max_bucket"),
        F.expr("max_bucket * nb * 1000 div tot").cast("bigint").alias("max_over_mean_milli"),
        F.expr(
            "cast((cast(nb as decimal(38,0)) * so2 - cast(tot as decimal(38,0)) * tot) * 10000"
            " div (cast(tot as decimal(38,0)) * tot) as bigint)"
        ).alias("cv2_bp"),
        F.expr(
            f"cast(sdev2 * 1000000 div (cast(tot as decimal(38,0)) * {BAL_BUCKETS}) as bigint)"
        ).alias("chi2_micro"),
    )


_BAL_KEY_SQL = """
  SELECT '{col}' AS key_col, tot, nb,
         CAST(min(o) AS BIGINT) AS min_bucket, CAST(max(o) AS BIGINT) AS max_bucket,
         sum(CAST(o AS HUGEINT) * o) AS so2,
         sum((CAST(o AS HUGEINT) * {nb_const} - tot) * (CAST(o AS HUGEINT) * {nb_const} - tot)) AS sdev2
  FROM (
    SELECT b, count(*)::BIGINT AS o
    FROM (SELECT CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT) % {nb_const} AS b
          FROM lineitem)
    GROUP BY b
  ) CROSS JOIN (
    SELECT CAST(sum(cnt) AS BIGINT) AS tot, count(*)::BIGINT AS nb FROM (
      SELECT count(*)::BIGINT AS cnt
      FROM (SELECT CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8) AS BIGINT) % {nb_const} AS b
            FROM lineitem)
      GROUP BY b
    )
  )
  GROUP BY tot, nb
"""

PARTITION_BALANCE_SQL = f"""
WITH per_key AS (
  {_BAL_KEY_SQL.format(col="l_orderkey", nb_const=BAL_BUCKETS)}
  UNION ALL
  {_BAL_KEY_SQL.format(col="l_partkey", nb_const=BAL_BUCKETS)}
  UNION ALL
  {_BAL_KEY_SQL.format(col="l_suppkey", nb_const=BAL_BUCKETS)}
)
SELECT key_col, tot AS n_rows, nb AS n_buckets, min_bucket, max_bucket,
       CAST(max_bucket * nb * 1000 // tot AS BIGINT) AS max_over_mean_milli,
       CAST((CAST(nb AS HUGEINT) * so2 - CAST(tot AS HUGEINT) * tot) * 10000
            // (CAST(tot AS HUGEINT) * tot) AS BIGINT) AS cv2_bp,
       CAST(sdev2 * 1000000 // (CAST(tot AS HUGEINT) * {BAL_BUCKETS}) AS BIGINT) AS chi2_micro
FROM per_key
"""

QUERIES["partition_balance_audit"] = partition_balance_audit
ORACLES["partition_balance_audit"] = PARTITION_BALANCE_SQL


# --- snapshot vacuum / retention planner ----------------------------------------
#
# The garbage-collection half of the snapshot-log table format
# (`sinks/snapshots.py` keeps every version's file list in its
# manifest; compaction_plan bins the LIVE files): given a retention
# window of the last VACUUM_RETAIN versions, which data files are
# unreferenced by every retained version and safe to delete, how many
# bytes come back, and which removed files must stay because a
# retained (time-travel-able) version still references them?  This is
# Delta VACUUM / Iceberg expire_snapshots arithmetic (public docs),
# expressed over the planted file ledger: file f is referenced by
# version v iff added_v <= v < coalesce(removed_v, +inf), so with
# earliest retained version vr = NV - VACUUM_RETAIN + 1, f is
# vacuumable iff removed_v <= vr.
#
# Scale: the ledger is metadata (one row per file, not per data row) —
# a single narrow aggregation per source; no fact-table scan at all.

VACUUM_NV = 10  # planted version count
VACUUM_RETAIN = 3  # keep the last 3 versions time-travel-able


def _vacuum_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    added = (F.col("doc_id") % VACUUM_NV + 1).cast("bigint")
    removed_raw = added + 1 + (F.col("doc_id") % 4).cast("bigint")
    removed = F.when(
        (F.col("doc_id") % 3 == 0) & (removed_raw <= VACUUM_NV), removed_raw
    ).otherwise(F.lit(None).cast("bigint"))
    return docs.select(
        "source",
        F.col("doc_id").alias("file_id"),
        F.octet_length(F.encode("text", "utf-8")).cast("bigint").alias("bytes"),
        added.alias("added_v"),
        removed.alias("removed_v"),
    )


def snapshot_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    vr = VACUUM_NV - VACUUM_RETAIN + 1
    led = _vacuum_ledger(spark, sf_dir)
    flags = led.select(
        "source",
        "bytes",
        F.col("removed_v").isNull().cast("int").alias("live"),
        (F.col("removed_v").isNotNull() & (F.col("removed_v") <= vr)).cast("int").alias("vac"),
        (F.col("removed_v").isNotNull() & (F.col("removed_v") > vr)).cast("int").alias("tt"),
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("live").alias("live_files"),
        F.sum(F.expr("live * bytes")).alias("live_bytes"),
        F.sum("vac").alias("vacuum_files"),
        F.sum(F.expr("vac * bytes")).alias("vacuum_bytes"),
        F.sum("tt").alias("timetravel_held_files"),
        F.sum(F.expr("tt * bytes")).alias("timetravel_held_bytes"),
        F.sum("bytes").alias("total_bytes"),
    )
    return agg.select(
        "source",
        F.col("n_files").cast("bigint").alias("n_files"),
        F.col("live_files").cast("bigint").alias("live_files"),
        F.col("live_bytes").cast("bigint").alias("live_bytes"),
        F.col("vacuum_files").cast("bigint").alias("vacuum_files"),
        F.col("vacuum_bytes").cast("bigint").alias("vacuum_bytes"),
        F.col("timetravel_held_files").cast("bigint").alias("timetravel_held_files"),
        F.col("timetravel_held_bytes").cast("bigint").alias("timetravel_held_bytes"),
        F.expr("vacuum_bytes * 10000 div total_bytes").cast("bigint").alias("reclaim_bp"),
    )


VACUUM_SQL = f"""
WITH led AS (
  SELECT source,
         octet_length(encode(text)) AS bytes,
         doc_id % {VACUUM_NV} + 1 AS added_v,
         CASE WHEN doc_id % 3 = 0 AND doc_id % {VACUUM_NV} + 1 + 1 + doc_id % 4 <= {VACUUM_NV}
              THEN doc_id % {VACUUM_NV} + 1 + 1 + doc_id % 4
              ELSE NULL END AS removed_v
  FROM documents
),
flags AS (
  SELECT source, bytes,
         CAST(removed_v IS NULL AS INT) AS live,
         CAST(removed_v IS NOT NULL AND removed_v <= {VACUUM_NV} - {VACUUM_RETAIN} + 1 AS INT) AS vac,
         CAST(removed_v IS NOT NULL AND removed_v > {VACUUM_NV} - {VACUUM_RETAIN} + 1 AS INT) AS tt
  FROM led
)
SELECT source,
       count(*)::BIGINT AS n_files,
       CAST(sum(live) AS BIGINT) AS live_files,
       CAST(sum(live * bytes) AS BIGINT) AS live_bytes,
       CAST(sum(vac) AS BIGINT) AS vacuum_files,
       CAST(sum(vac * bytes) AS BIGINT) AS vacuum_bytes,
       CAST(sum(tt) AS BIGINT) AS timetravel_held_files,
       CAST(sum(tt * bytes) AS BIGINT) AS timetravel_held_bytes,
       CAST(CAST(sum(vac * bytes) AS BIGINT) * 10000 // CAST(sum(bytes) AS BIGINT) AS BIGINT) AS reclaim_bp
FROM flags
GROUP BY source
"""

QUERIES["snapshot_vacuum_plan"] = snapshot_vacuum_plan
ORACLES["snapshot_vacuum_plan"] = VACUUM_SQL


# --- consistent-hash ring resharding plan --------------------------------------
#
# The resharding-cost primitive behind every distributed store the
# engine would feed (Karger et al. 1997 consistent hashing; the
# Dynamo/Cassandra ring): N_RING nodes each own V_RING virtual points
# on a 2^32 ring (positions from the portable md5 device); a key lands
# on the first ring point clockwise from its own hash. The graded
# question is the guarantee itself: adding one node moves ONLY the
# keys that land on the new node's arcs — per node, key counts under
# 8 and 9 nodes, moved-out/moved-in, with the invariant (old nodes
# never gain keys; every moved key lands on the new node) pinned in
# tests and visible in the output.
#
# Scale: the ring is a 1-row broadcast ARRAY (144 coded BIGINTs); per
# key the successor lookup is a pure array expression (filter +
# array_min — binary-search semantics without fan-out), so the whole
# plan is one narrow key scan + ONE bounded (node8, node9) pair
# aggregation (<= 81 rows). No joins, no per-key explode: the 128x
# fan-out a naive key x ring join would pay never happens.

N_RING = 8          # nodes before the reshard
V_RING = 16         # virtual points per node
_RING_CODE = "cast(conv(substring(md5(concat('ring:', node, ':', v)), 1, 8), 16, 10) as bigint) * 16 + node"


def shard_consistent_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Successor lookup as a vectorized binary search (guide §4.2): the
    # former pure-expression form evaluated interpreted
    # array_min(filter(...)) higher-order lambdas over the 144-point
    # ring per key row (twice for keys landing on the new node) — ~300
    # interpreted ops/row dominated the query. kpos stays JVM-computed
    # (codegen'd md5); the ring codes are exact integers derived from
    # the same md5 formula (hashlib == Spark md5 on identical strings),
    # and `c div 16 >= kpos` over non-negative codes is equivalent to
    # `c >= kpos * 16`, so np.searchsorted over the sorted ring
    # reproduces array_min(filter(...)) bit-for-bit — all-integer, no
    # float summation anywhere. Each Arrow batch reduces to its
    # (node8, node9) pair counts in-task, so the shuffle carries <=
    # (N+1)^2 rows per task instead of one row per key.
    import hashlib
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    keys = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(conv(substring(md5(concat('k:', o_orderkey)), 1, 8), 16, 10) as bigint)"
        ).alias("kpos")
    )

    def pair_counts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        codes = np.sort(
            np.array(
                [
                    int(hashlib.md5(f"ring:{node}:{v}".encode()).hexdigest()[:8], 16) * 16
                    + node
                    for node in range(N_RING + 1)
                    for v in range(V_RING)
                ],
                dtype=np.int64,
            )
        )
        codes8 = codes[codes % 16 != N_RING]

        def succ(arr: np.ndarray, kpos: np.ndarray) -> np.ndarray:
            idx = np.searchsorted(arr, kpos * 16, side="left")
            return arr[np.where(idx == len(arr), 0, idx)]

        for batch in batches:
            kpos = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if kpos.size == 0:
                continue
            node9 = succ(codes, kpos) % 16
            node8 = node9.copy()
            moved = node9 == N_RING
            if moved.any():
                node8[moved] = succ(codes8, kpos[moved]) % 16
            flat = node8 * 16 + node9
            uniq, cnt = np.unique(flat, return_counts=True)
            yield pa.record_batch(
                {
                    "node8": (uniq // 16).astype(np.int64),
                    "node9": (uniq % 16).astype(np.int64),
                    "n": cnt.astype(np.int64),
                }
            )

    pairs = (
        keys.mapInArrow(pair_counts, "node8 long, node9 long, n long")
        .groupBy("node8", "node9")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    # ONE pass over the <=(N+1)^2-row pair table: each pair row feeds
    # its node8's before-side and its node9's after-side via an
    # explode-to-roles union, then a single aggregation by node. The
    # previous form (two aggregated branches full-outer-joined) made
    # Spark duplicate the whole subtree — the key corpus scanned twice
    # (r8->r9 drift 2.49 -> 4.64 s); this plan scans it once.
    moved = F.when(F.col("node8") != F.col("node9"), F.col("n")).otherwise(
        F.lit(0).cast("bigint")
    )
    zero = F.lit(0).cast("bigint")
    roles = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("node8").alias("node"),
                    F.col("n").alias("kb"),
                    zero.alias("ka"),
                    moved.alias("mo"),
                    zero.alias("mi"),
                ),
                F.struct(
                    F.col("node9").alias("node"),
                    zero.alias("kb"),
                    F.col("n").alias("ka"),
                    zero.alias("mo"),
                    moved.alias("mi"),
                ),
            )
        ).alias("r")
    )
    return roles.groupBy(F.col("r.node").alias("node")).agg(
        F.sum("r.kb").cast("bigint").alias("keys_before"),
        F.sum("r.ka").cast("bigint").alias("keys_after"),
        F.sum("r.mo").cast("bigint").alias("moved_out"),
        F.sum("r.mi").cast("bigint").alias("moved_in"),
    )


CONSISTENT_HASH_SQL = f"""
WITH ringrows AS (
  SELECT CAST('0x' || substr(md5('ring:' || n.node || ':' || v.v), 1, 8) AS BIGINT) * 16 + n.node AS code
  FROM generate_series(0, {N_RING}) n(node), generate_series(0, {V_RING - 1}) v(v)
), ring AS (
  SELECT list(code) AS arr9,
         list(code) FILTER (WHERE code % 16 <> {N_RING}) AS arr8
  FROM ringrows
), keys AS (
  SELECT CAST('0x' || substr(md5('k:' || o_orderkey), 1, 8) AS BIGINT) AS kpos FROM orders
), a9 AS (
  SELECT kpos, arr8,
         coalesce(list_min([c FOR c IN arr9 IF c // 16 >= kpos]), list_min(arr9)) % 16 AS node9
  FROM keys, ring
), assigned AS (
  SELECT CASE WHEN node9 <> 8 THEN node9 ELSE
           coalesce(list_min([c FOR c IN arr8 IF c // 16 >= kpos]), list_min(arr8)) % 16
         END AS node8,
         node9
  FROM a9
), pairs AS (
  SELECT node8, node9, count(*)::BIGINT AS n FROM assigned GROUP BY node8, node9
), before AS (
  SELECT node8 AS node, CAST(sum(n) AS BIGINT) AS keys_before,
         CAST(sum(CASE WHEN node8 <> node9 THEN n ELSE 0 END) AS BIGINT) AS moved_out
  FROM pairs GROUP BY node8
), aft AS (
  SELECT node9 AS node, CAST(sum(n) AS BIGINT) AS keys_after,
         CAST(sum(CASE WHEN node8 <> node9 THEN n ELSE 0 END) AS BIGINT) AS moved_in
  FROM pairs GROUP BY node9
)
SELECT coalesce(b.node, a.node) AS node,
       coalesce(b.keys_before, 0) AS keys_before,
       coalesce(a.keys_after, 0) AS keys_after,
       coalesce(b.moved_out, 0) AS moved_out,
       coalesce(a.moved_in, 0) AS moved_in
FROM before b FULL OUTER JOIN aft a ON a.node = b.node
"""

QUERIES["shard_consistent_hashing"] = shard_consistent_hashing
ORACLES["shard_consistent_hashing"] = CONSISTENT_HASH_SQL


# --- shuffle partition planner ---------------------------------------------------
#
# The sizing decision every Spark job ships with
# (spark.sql.shuffle.partitions; AQE coalescing solves the
# too-many-small side, NOT the too-few-big side): for each candidate
# partition count, what would the biggest shuffle partition weigh, and
# which is the smallest count whose maximum stays inside the per-task
# byte budget?  Keys route through the portable md5 device at the
# FINEST grain (256 buckets, one narrow fact agg with exact per-row
# byte weights: fixed-width columns at 8 B + measured varchar bytes);
# every coarser candidate folds from that table by bucket % k — the
# mergeability of hash partitioning itself (h % k == (h % 256) % k for
# k | 256), so the whole sweep costs ONE corpus pass.  Output per
# candidate: max/mean partition bytes, exact skew ratio milli, the
# fits-budget verdict, and `recommended` marking the smallest fitting
# count (the window argmin).
#
# Scale: the planning table is 256 rows whatever the corpus size; the
# byte weights are the same statistics a shuffle writer accumulates
# for free. PLANNER_BUDGET is the per-task ceiling the plan is graded
# against (a deliberately tight test-scale stand-in for the ~64-128 MB
# production target).

PLANNER_CANDIDATES = (32, 64, 128, 256)
PLANNER_BUDGET = 150_000  # bytes per shuffle task


def shuffle_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            "cast(conv(substring(md5(cast(l_orderkey as string)), 1, 8), 16, 10) as bigint)"
            " % 256"
        ).alias("bucket"),
        # fixed-width columns (3x8 int + 4x8 double + 4 int + 8 ts) + varchars
        F.expr(
            "60 + octet_length(l_returnflag) + octet_length(l_linestatus)"
        ).cast("bigint").alias("row_bytes"),
    )
    base = li.groupBy("bucket").agg(F.sum("row_bytes").cast("bigint").alias("bytes"))
    folds = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("n_partitions"),
                        (F.col("bucket") % k).alias("p"),
                        F.col("bytes"),
                    )
                    for k in PLANNER_CANDIDATES
                ]
            )
        ).alias("t")
    ).groupBy("t.n_partitions", "t.p").agg(F.sum("t.bytes").cast("bigint").alias("pb"))
    per_k = folds.groupBy("n_partitions").agg(
        F.max("pb").cast("bigint").alias("max_bytes"),
        F.expr("cast(sum(pb) div count(*) as bigint)").alias("mean_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_nonempty"),
    ).select(
        "*",
        F.expr("max_bytes * 1000 div mean_bytes").alias("skew_milli"),
        (F.col("max_bytes") <= PLANNER_BUDGET).cast("bigint").alias("fits_budget"),
    )
    w_min = Window.orderBy(F.asc("n_partitions")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_k.select(
        "*",
        F.min(F.when(F.col("fits_budget") == 1, F.col("n_partitions"))).over(w_min).alias(
            "_best"
        ),
    ).select(
        "n_partitions",
        "max_bytes",
        "mean_bytes",
        "n_nonempty",
        "skew_milli",
        "fits_budget",
        (F.col("n_partitions") == F.coalesce(F.col("_best"), F.lit(-1)))
        .cast("bigint")
        .alias("recommended"),
    )


SHUFFLE_PLANNER_SQL = f"""
WITH li AS (
  SELECT CAST('0x' || substr(md5(l_orderkey::VARCHAR), 1, 8) AS BIGINT) % 256 AS bucket,
         CAST(60 + octet_length(encode(l_returnflag)) + octet_length(encode(l_linestatus)) AS BIGINT) AS row_bytes
  FROM lineitem
), base AS (
  SELECT bucket, CAST(sum(row_bytes) AS BIGINT) AS bytes FROM li GROUP BY bucket
), folds AS (
  SELECT k.n_partitions, base.bucket % k.n_partitions AS p, CAST(sum(bytes) AS BIGINT) AS pb
  FROM base, (VALUES {", ".join(f"({k})" for k in PLANNER_CANDIDATES)}) k(n_partitions)
  GROUP BY 1, 2
), per_k AS (
  SELECT n_partitions, CAST(max(pb) AS BIGINT) AS max_bytes,
         CAST(sum(pb) // count(*) AS BIGINT) AS mean_bytes,
         count(*)::BIGINT AS n_nonempty
  FROM folds GROUP BY n_partitions
), verd AS (
  SELECT *, max_bytes * 1000 // mean_bytes AS skew_milli,
         CAST(max_bytes <= {PLANNER_BUDGET} AS BIGINT) AS fits_budget
  FROM per_k
)
SELECT CAST(n_partitions AS BIGINT) AS n_partitions,
       max_bytes, mean_bytes, n_nonempty, skew_milli, fits_budget,
       CAST(n_partitions = coalesce(
         (SELECT min(n_partitions) FROM verd WHERE fits_budget = 1), -1) AS BIGINT)
         AS recommended
FROM verd
"""

QUERIES["shuffle_partition_planner"] = shuffle_partition_planner
ORACLES["shuffle_partition_planner"] = SHUFFLE_PLANNER_SQL


# --- columnar encoding advisor ----------------------------------------------------
#
# The encoding decision a columnar writer makes per column chunk
# (public art: Parquet PLAIN / RLE_DICTIONARY / RLE; Abadi et al. 2006
# "Integrating Compression and Execution"): measure n, NDV and RUN
# COUNT for candidate columns, price the three encodings with the
# standard size models, and pick the cheapest.  Run counting is the
# interesting distributed part: runs are a property of ROW ORDER, so
# the count is assembled scalably as within-block runs (window ordered
# by (orderkey, linenumber) INSIDE each 512-order block — orders never
# straddle blocks) minus the block-boundary joins where the last value
# of block b equals the first value of block b+1 — the same
# split-then-stitch device a distributed RLE writer uses, no global
# sort anywhere. The synthetic lineitem key (orderkey, linenumber)
# is NOT unique, so the value itself is the final sort key — rows
# with identical (key, value) are interchangeable for run counting,
# making the count order-deterministic in both engines.
#
# Size models (bits): plain = n*w; dict = n*ceil(log2(ndv)) + ndv*w;
# rle = runs*(w + 32). All exact integers; ceil(log2) via the
# bit-length device (length of the binary string of ndv-1).
#
# Scale: per column one narrow scan with a block-partitioned window +
# one ≤n_blocks boundary join; the advisor table is 4 rows.

ENC_COLS = (
    # (name, value expr (spark == duckdb arithmetic), width bits)
    ("l_returnflag", "l_returnflag", 8),
    ("l_linestatus", "l_linestatus", 8),
    ("l_quantity", "cast(l_quantity as bigint)", 64),
    ("l_linenumber", "cast(l_linenumber as bigint)", 64),
)
ENC_BLOCK = 512  # orders per block; lines of an order never straddle


def column_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One lineitem scan carrying all four candidate values side by side;
    # the four per-column run windows share one Exchange on blk (same
    # partitioning, per-column sort key) instead of four per-column
    # pipelines of 6 scans each.  The block-boundary stitch is a lead()
    # over the ~n_blocks-row per-block frame (ordered by blk), not a
    # per-column self-join that doubled the window subtree.
    li = load_table(spark, sf_dir, "lineitem")
    proj = li.select(
        F.expr(f"l_orderkey div {ENC_BLOCK}").alias("blk"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        *[
            F.expr(expr).cast("string").alias(f"v{i}")
            for i, (_, expr, _) in enumerate(ENC_COLS)
        ],
    )
    runs_cols = [F.col("blk")]
    for i in range(len(ENC_COLS)):
        w = Window.partitionBy("blk").orderBy("ok", "ln", f"v{i}")
        runs_cols += [
            F.col(f"v{i}"),
            F.lag(f"v{i}").over(w).alias(f"pv{i}"),
            F.row_number().over(w).alias(f"rn{i}"),
        ]
    runs_cols.append(
        F.count(F.lit(1)).over(Window.partitionBy("blk")).alias("bn")
    )
    runs_in = proj.select(*runs_cols)
    # pinned so the boundary self-join below reads the ~n_blocks-row
    # aggregate once instead of doubling the scan+window subtree
    per_blk = runs_in.groupBy("blk").agg(
        *[
            agg
            for i in range(len(ENC_COLS))
            for agg in (
                F.sum(
                    (
                        F.col(f"pv{i}").isNull()
                        | (F.col(f"v{i}") != F.col(f"pv{i}"))
                    ).cast("bigint")
                ).alias(f"runs{i}"),
                F.max(F.when(F.col(f"rn{i}") == 1, F.col(f"v{i}"))).alias(
                    f"first{i}"
                ),
                F.max(
                    F.when(F.col(f"rn{i}") == F.col("bn"), F.col(f"v{i}"))
                ).alias(f"last{i}"),
            )
        ]
    )
    # Block-boundary stitch as a shuffle-parallel self-join on blk+1
    # over the pinned per-block frame (r10 ADVICE): the former
    # un-partitioned Window.orderBy("blk") lead() planned a SINGLE-task
    # global sort over all ~n_orders/512 block rows — a one-task
    # bottleneck at scale. The join reproduces the lead exactly: a
    # match exists iff block blk+1 exists (has_nb), nf_i carries its
    # first values; non-adjacent/last blocks contribute null conditions
    # which sum() skips, same as the lead's false/null rows.
    per_blk = per_blk.localCheckpoint(eager=False)
    nxt = per_blk.select(
        (F.col("blk") - 1).alias("blk"),
        F.lit(1).alias("has_nb"),
        *[F.col(f"first{i}").alias(f"nf{i}") for i in range(len(ENC_COLS))],
    )
    stitched_in = per_blk.join(nxt, "blk", "left")
    stitched = stitched_in.agg(
        *[
            agg
            for i in range(len(ENC_COLS))
            for agg in (
                F.sum(f"runs{i}").cast("bigint").alias(f"runs_raw{i}"),
                F.sum(
                    (
                        (F.col("has_nb") == 1)
                        & (F.col(f"last{i}") == F.col(f"nf{i}"))
                    ).cast("bigint")
                ).alias(f"merges{i}"),
            )
        ]
    )
    stats = proj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.countDistinct(f"v{i}").cast("bigint").alias(f"ndv{i}")
            for i in range(len(ENC_COLS))
        ],
    )
    one = stats.crossJoin(stitched)
    stack_args = []
    for i, (name, _, width) in enumerate(ENC_COLS):
        stack_args += [
            f"'{name}'",
            "n",
            f"ndv{i}",
            f"runs_raw{i} - merges{i}",
            f"n * {width}",
            f"cast(n * length(bin(greatest(ndv{i} - 1, 1))) + ndv{i} * {width} as bigint)",
            f"(runs_raw{i} - merges{i}) * ({width} + 32)",
        ]
    allc = one.select(
        F.expr(
            f"stack({len(ENC_COLS)}, {', '.join(stack_args)})"
            " as (column_name, n, ndv, n_runs, bits_plain, bits_dict, bits_rle)"
        )
    )
    return allc.select(
        "*",
        F.expr(
            "case when bits_rle <= bits_plain and bits_rle <= bits_dict then 'rle'"
            " when bits_dict <= bits_plain then 'dict' else 'plain' end"
        ).alias("chosen"),
    )


def _enc_col_sql(name: str, expr: str, width: int) -> str:
    return f"""
SELECT '{name}' AS column_name, n, ndv,
       runs_raw - boundary_merges AS n_runs,
       n * {width} AS bits_plain,
       CAST(n * length(bin(GREATEST(ndv - 1, 1))) + ndv * {width} AS BIGINT) AS bits_dict,
       (runs_raw - boundary_merges) * ({width} + 32) AS bits_rle
FROM (
  SELECT count(*)::BIGINT AS n, count(DISTINCT CAST({expr} AS VARCHAR))::BIGINT AS ndv
  FROM lineitem
) s, (
  WITH proj AS (
    SELECT l_orderkey // {ENC_BLOCK} AS blk, l_orderkey AS ok, l_linenumber AS ln,
           CAST({expr} AS VARCHAR) AS v
    FROM lineitem
  ), marked AS (
    SELECT blk, v,
           lag(v) OVER (PARTITION BY blk ORDER BY ok, ln, v) AS pv,
           row_number() OVER (PARTITION BY blk ORDER BY ok, ln, v) AS rn,
           count(*) OVER (PARTITION BY blk) AS bn
    FROM proj
  ), per_blk AS (
    SELECT blk,
           CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END) AS BIGINT) AS runs,
           max(CASE WHEN rn = 1 THEN v END) AS first_v,
           max(CASE WHEN rn = bn THEN v END) AS last_v
    FROM marked GROUP BY blk
  )
  SELECT CAST(sum(p.runs) AS BIGINT) AS runs_raw,
         CAST(sum(CASE WHEN nx.first_v IS NOT NULL AND p.last_v = nx.first_v
                       THEN 1 ELSE 0 END) AS BIGINT) AS boundary_merges
  FROM per_blk p LEFT JOIN per_blk nx ON nx.blk = p.blk + 1
) r
"""


def _enc_sql() -> str:
    parts = " UNION ALL ".join(
        _enc_col_sql(name, expr, width) for name, expr, width in ENC_COLS
    )
    return f"""
WITH advisor AS ({parts})
SELECT *, CASE WHEN bits_rle <= bits_plain AND bits_rle <= bits_dict THEN 'rle'
               WHEN bits_dict <= bits_plain THEN 'dict' ELSE 'plain' END AS chosen
FROM advisor
"""


ENCODING_ADVISOR_SQL = _enc_sql()

QUERIES["column_encoding_advisor"] = column_encoding_advisor
ORACLES["column_encoding_advisor"] = ENCODING_ADVISOR_SQL


# --- copy-on-write vs merge-on-read table-service plan ------------------------------
#
# The per-partition storage-strategy decision every lakehouse table
# service makes (public art: Hudi COW vs MOR table types; Iceberg v2
# position deletes): a hot-update partition should absorb deltas as
# merge-on-read logs (cheap writes, amplified reads), a read-heavy one
# should rewrite copy-on-write (expensive writes, clean reads).
# Planted refresh shape per source partition: base bytes = the
# partition's document mass, daily delta = the doc_id%7 churn slice
# (the dedup-corpus parity), reads/day = 1 + (source's numeric suffix)%5. Daily cost
# model in exact bytes: COW = base (rewrite) + reads·base; MOR = delta
# (log append) + reads·(base + 2·delta) (2 = average unmerged logs at
# a 4-day compaction cadence). `chosen` = argmin, and the breakeven
# read rate (base−delta) // (2·delta) shows how read-hot the partition
# must get before COW wins — the number the table service tunes.
#
# Scale: pure metadata arithmetic over the per-source manifest rollup
# (the file_manifest grain); one corpus aggregation, 20-row plan.

def table_format_cow_mor_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifest = file_manifest(spark, sf_dir)
    per_src = manifest.groupBy("source").agg(
        F.sum("bytes").cast("bigint").alias("base_bytes"),
        F.sum(F.when(F.col("file_id") % 7 == 0, F.col("bytes")).otherwise(0))
        .cast("bigint")
        .alias("delta_bytes"),
    )
    return per_src.select(
        "source",
        "base_bytes",
        "delta_bytes",
        (
            F.expr("cast(regexp_extract(source, '[0-9]+', 0) as bigint)") % 5 + 1
        ).alias("reads_per_day"),
    ).select(
        "*",
        (F.col("base_bytes") + F.col("reads_per_day") * F.col("base_bytes")).alias(
            "cow_daily_bytes"
        ),
        (
            F.col("delta_bytes")
            + F.col("reads_per_day") * (F.col("base_bytes") + 2 * F.col("delta_bytes"))
        ).alias("mor_daily_bytes"),
    ).select(
        "*",
        F.expr(
            "case when cow_daily_bytes <= mor_daily_bytes then 'cow' else 'mor' end"
        ).alias("chosen"),
        F.expr(
            "case when delta_bytes > 0 then"
            " greatest((base_bytes - delta_bytes) div (2 * delta_bytes), 0)"
            " else null end"
        ).cast("bigint").alias("breakeven_reads"),
    )


COW_MOR_SQL = """
WITH manifest AS (
  SELECT source, doc_id AS file_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS bytes
  FROM documents
),
per_src AS (
  SELECT source, CAST(sum(bytes) AS BIGINT) AS base_bytes,
         CAST(sum(CASE WHEN file_id % 7 = 0 THEN bytes ELSE 0 END) AS BIGINT) AS delta_bytes
  FROM manifest GROUP BY source
),
costed AS (
  SELECT source, base_bytes, delta_bytes,
         CAST(regexp_extract(source, '[0-9]+', 0) AS BIGINT) % 5 + 1 AS reads_per_day,
         base_bytes + (CAST(regexp_extract(source, '[0-9]+', 0) AS BIGINT) % 5 + 1) * base_bytes
           AS cow_daily_bytes,
         delta_bytes + (CAST(regexp_extract(source, '[0-9]+', 0) AS BIGINT) % 5 + 1)
           * (base_bytes + 2 * delta_bytes) AS mor_daily_bytes
  FROM per_src
)
SELECT source, base_bytes, delta_bytes, reads_per_day,
       cow_daily_bytes, mor_daily_bytes,
       CASE WHEN cow_daily_bytes <= mor_daily_bytes THEN 'cow' ELSE 'mor' END AS chosen,
       CASE WHEN delta_bytes > 0 THEN
         GREATEST((base_bytes - delta_bytes) // (2 * delta_bytes), 0)
       ELSE NULL END AS breakeven_reads
FROM costed
"""

QUERIES["table_format_cow_mor_plan"] = table_format_cow_mor_plan
ORACLES["table_format_cow_mor_plan"] = COW_MOR_SQL
