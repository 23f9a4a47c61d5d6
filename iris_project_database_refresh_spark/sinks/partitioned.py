"""Hive-partitioned parquet layout: pruned reads and copy-on-write
merge.

The reference rewrites its whole master file every refresh cycle
(`catalog search/stage4_update_csv.py` loads + rewrites the full CSV;
`semantic search/stage_06_database_upload.py` stages full-table
deletes) — acceptable for thousands of rows, impossible at 100 TB. The
lakehouse answer is a partitioned layout where the refresh touches only
the partitions the delta lands in:

* `write_partitioned` — hive-style ``partitionBy`` parquet layout
  (e.g. ``day=2024-01-05/``). Each partition's data is coalesced
  through ``repartition(partition cols)`` first so one task owns one
  partition directory (no small-file explosion).
* `read_pruned` — reads with a partition predicate; the scan's
  ``PartitionFilters`` prune directories BEFORE any IO (asserted in
  tests) — the mechanism that makes a 100 TB table behave like the
  few-GB slice a query actually touches.
* `cow_merge` — copy-on-write upsert: `functions/distributed.replace_keys`
  over the slice of the layout in the partitions the batch touches,
  then rewrite ONLY those partition directories (``INSERT OVERWRITE``
  on a partition subset via dynamic partition overwrite), leave every
  other file untouched
  (asserted byte-identical in tests). This is the stage4 master-merge
  re-expressed so refresh cost scales with the delta, not the corpus —
  the same motivation as `dedup_incremental`'s batch-vs-master probe.

Dynamic partition overwrite (``spark.sql.sources.partitionOverwriteMode
= dynamic``) is the load-bearing setting: static mode would truncate
the whole table before writing the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.distributed import replace_keys


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Write a hive-partitioned parquet layout, one file per partition."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


def read_pruned(spark: SparkSession, path: str, predicate: str) -> DataFrame:
    """Read the layout with a partition predicate (pruned at planning)."""
    return spark.read.parquet(path).where(predicate)


def cow_merge(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str,
    partition_cols: list[str],
) -> None:
    """Copy-on-write upsert of ``batch`` into the layout at ``path``.

    Only partitions containing batch rows are rewritten: existing rows
    in those partitions whose key does NOT appear in the batch are
    carried over, batch rows replace/append the rest. Partitions with
    no batch rows keep their files byte-for-byte.
    """
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        impacted = batch.select(*partition_cols).distinct()
        current = spark.read.parquet(path).join(F.broadcast(impacted), partition_cols, "left_semi")
        # eager pin: the write targets the same path it reads, so the
        # carried rows must be fully materialized before any file is
        # replaced (also satisfies Spark's read/overwrite cycle check).
        # Cost is proportional to the impacted partitions — i.e. to the
        # delta — which is the whole point of the copy-on-write layout.
        merged = replace_keys(current, batch, [key_col]).localCheckpoint(eager=True)
        (
            merged.repartition(*[F.col(c) for c in partition_cols])
            .write.partitionBy(*partition_cols)
            .mode("overwrite")  # dynamic: overwrites ONLY written partitions
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)


def _write_curve_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    zbits: int,
    key_for,
) -> None:
    """Shared curve-clustered write: normalize both columns to the
    2^zbits grid, key rows with ``key_for(zbits)`` (a fn of the __ca/
    __cb code columns), range-partition on the key into n_files
    row-balanced curve-contiguous files, sort within, drop the key."""
    rng = df.agg(
        F.min(col_a).alias("__amin"), F.max(col_a).alias("__amax"),
        F.min(col_b).alias("__bmin"), F.max(col_b).alias("__bmax"),
    )
    grid = 1 << zbits
    coded = (
        df.crossJoin(F.broadcast(rng))
        .withColumn(
            "__ca",
            F.expr(f"({col_a} - __amin) * {grid} div (__amax - __amin + 1)"),
        )
        .withColumn(
            "__cb",
            F.expr(f"({col_b} - __bmin) * {grid} div (__bmax - __bmin + 1)"),
        )
        .withColumn("__key", key_for(zbits))
        .drop("__amin", "__amax", "__bmin", "__bmax", "__ca", "__cb")
    )
    (
        coded.repartitionByRange(n_files, "__key")
        .sortWithinPartitions("__key")
        .drop("__key")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    zbits: int = 8,
) -> None:
    """Morton/z-order sibling of `write_hilbert_clustered` — the same
    OPTIMIZE-style clustering write with the interleaved-bit key the
    `zorder_layout` operator measures (z-order matches Hilbert on
    dyadic-aligned boxes and loses a constant on arbitrary ones —
    Moon et al. 2001; shipping both lets a deployment A/B the curves
    on its own predicates with `file_bounds`)."""

    def zkey(zb: int):
        terms = " + ".join(
            f"shiftleft(shiftright(__ca, {j}) & 1, {2 * j})"
            f" + shiftleft(shiftright(__cb, {j}) & 1, {2 * j + 1})"
            for j in range(zb)
        )
        return F.expr(terms).cast("bigint")

    _write_curve_clustered(df, path, col_a, col_b, n_files, zbits, zkey)


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    zbits: int = 8,
) -> None:
    """Hilbert-clustered parquet write — the WRITE-PATH companion to
    `operators.layout.hilbert_layout` (round 9): that operator MEASURES
    how much a box predicate skips under linear/z-order/hilbert cell
    assignment; this actually LAYS FILES OUT along the curve, the
    OPTIMIZE-style multi-dimensional clustering pass a lakehouse runs
    so per-file min/max stats prune both dimensions at scan time.

    Shape: one broadcast min/max aggregate normalizes both columns to
    the 2^zbits grid; the shared `hilbert_expr` fold (JVM-side, no UDF)
    keys every row with its curve position; ``repartitionByRange`` on
    the key cuts exactly ``n_files`` row-balanced, curve-contiguous
    files (the range sampler's one extra pass is the standard global-
    sort cost and is why file sizes stay even under skew — the div
    assignment hilbert_layout models would inherit the data's density);
    rows are sorted by the key within each file so column min/max
    stats stay tight. The key is dropped before the write — the layout
    is the artifact, not the column.
    """
    from ..operators.layout import hilbert_expr

    _write_curve_clustered(
        df, path, col_a, col_b, n_files, zbits,
        lambda zb: hilbert_expr("__ca", "__cb", zb),
    )


def file_bounds(spark: SparkSession, path: str, col_a: str, col_b: str) -> DataFrame:
    """Per-file (min, max) of both clustering columns + row count —
    what a stats-based scan planner sees; the test harness for any
    clustered write (file-grain, one pass)."""
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(col_a).alias("min_a"), F.max(col_a).alias("max_a"),
            F.min(col_b).alias("min_b"), F.max(col_b).alias("max_b"),
        )
    )
