"""Snapshot-log table format: versioned manifests + time travel over
plain parquet.

The reference keeps exactly one current state — stage4 overwrites the
master CSV in place (`catalog search/stage4_update_csv.py`) and keeps
dated backups next to it (`backup_[date]` copies). At 100 TB that
pattern becomes a metadata LOG over immutable data files — the public
lakehouse design (Delta/Iceberg transaction logs): every refresh
appends a JSON manifest listing the live files, so

* readers resolve a table VERSION from kilobytes of metadata instead
  of directory listings (planning cost ∝ file count, not data bytes);
* every previous version stays queryable (time travel) because data
  files are immutable — an overwrite only changes which files a
  manifest points at;
* refresh cost scales with the delta: unchanged files are carried by
  reference from the previous manifest, never rewritten (asserted
  byte-identical in tests).

Layout:

    table_dir/
      data/part-<version>-<n>.parquet   -- immutable data files
      _log/v000001.json                 -- one manifest per commit

Manifest: {"version", "committed_at", "operation", "files": [{"path",
"rows", "partition": {col: value}}], "schema": [...]}. `files` is the
COMPLETE live set at that version (simple and O(files); the
incremental add/remove encoding plus periodic checkpoints is the known
production refinement — Delta's exact structure).

Commit protocol: manifests are written to a temp name then atomically
renamed to v{N}; the highest contiguous v{N} wins, so a crashed writer
leaves no torn state behind (single-writer semantics; multi-writer
needs a CAS on the log — the documented service-side extension).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_log")


def _data_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "data")


def _versions(table_dir: str) -> list[int]:
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_log_dir(table_dir), f"v{version:06d}.json")) as f:
        return json.load(f)


def _write_files(df: DataFrame, table_dir: str, version: int, partition_col: str | None):
    """Write immutable data files for this commit; one file per
    partition value when partitioned (no small-file explosion),
    else one file per task. Returns file entries with row counts."""
    staging = os.path.join(_data_dir(table_dir), f".staging-{uuid.uuid4().hex}")
    if partition_col:
        df.repartition(partition_col).write.partitionBy(partition_col).parquet(staging)
    else:
        df.write.parquet(staging)
    entries = []
    n = 0
    for root, _dirs, names in os.walk(staging):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(root, staging)
            part = {}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    part[k] = v
            final = f"part-{version:06d}-{n:05d}.parquet"
            os.replace(os.path.join(root, name), os.path.join(_data_dir(table_dir), final))
            entries.append({"path": final, "partition": part})
            n += 1
    # clean the staging skeleton
    for root, dirs, names in os.walk(staging, topdown=False):
        for name in names:
            os.unlink(os.path.join(root, name))
        for d in dirs:
            os.rmdir(os.path.join(root, d))
    os.rmdir(staging)
    return entries


def _commit(table_dir: str, manifest: dict, version: int) -> None:
    tmp = os.path.join(_log_dir(table_dir), f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(_log_dir(table_dir), f"v{version:06d}.json"))


def snapshot_write(
    df: DataFrame,
    table_dir: str,
    *,
    mode: str = "append",
    partition_col: str | None = None,
    operation: str | None = None,
) -> int:
    """Commit a new snapshot; returns the committed version.

    mode='append' carries every previous file forward by reference and
    adds this batch's files; mode='overwrite_partitions' (requires
    partition_col) carries forward only files whose partition value is
    NOT present in the batch — the COW merge, files untouched on disk.

    `operation` overrides the manifest's recorded operation string
    (default: the mode) — callers that need commit metadata (e.g. the
    streaming sink's `stream-append@<batch_id>` idempotency stamp) pass
    it here so it lands inside the ONE atomic temp-then-rename commit,
    never as an after-the-fact manifest rewrite.
    """
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    os.makedirs(_data_dir(table_dir), exist_ok=True)
    vs = _versions(table_dir)
    version = (vs[-1] + 1) if vs else 1
    prev_files = _read_manifest(table_dir, vs[-1])["files"] if vs else []

    new_entries = _write_files(df, table_dir, version, partition_col)
    if mode == "append":
        carried = prev_files
    elif mode == "overwrite_partitions":
        if not partition_col:
            raise ValueError("overwrite_partitions requires partition_col")
        touched = {e["partition"].get(partition_col) for e in new_entries}
        carried = [
            e for e in prev_files if e["partition"].get(partition_col) not in touched
        ]
    else:
        raise ValueError(f"unknown mode {mode!r}")

    manifest = {
        "version": version,
        "committed_at": int(time.time() * 1000),
        "operation": operation if operation is not None else mode,
        "schema": df.schema.jsonValue(),
        "files": carried + new_entries,
    }
    _commit(table_dir, manifest, version)
    return version


def snapshot_read(
    spark: SparkSession, table_dir: str, *, version: int | None = None
) -> DataFrame:
    """Read the table as of `version` (default: latest). Partition
    values come back as columns, reconstructed from manifest metadata —
    no directory listing, no partition discovery job."""
    from pyspark.sql import functions as F

    vs = _versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in log (have {vs})")
    m = _read_manifest(table_dir, v)
    if not m["files"]:
        # empty version (append of an empty batch, or every partition
        # overwritten away): still readable, with the committed schema
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(m["schema"]))
    part_cols = sorted({k for e in m["files"] for k in e["partition"]})
    dfs = []
    # group files by partition tuple so each group is ONE multi-path read
    by_part: dict[tuple, list[str]] = {}
    for e in m["files"]:
        key = tuple(e["partition"].get(c) for c in part_cols)
        by_part.setdefault(key, []).append(
            os.path.join(_data_dir(table_dir), e["path"])
        )
    dvs = m.get("delete_vectors", [])
    for key, paths in sorted(by_part.items()):
        part = spark.read.parquet(*paths)
        if dvs:  # carry row provenance for the MOR anti-join below
            part = part.select(
                F.col("_metadata.file_name").alias("__file"),
                F.col("_metadata.row_index").alias("__row"),
                "*",
            )
        for c, val in zip(part_cols, key):
            part = part.withColumn(c, F.lit(val))
        dfs.append(part)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if dvs:
        tombstones = spark.read.parquet(
            *[os.path.join(_dv_dir(table_dir), name) for name in dvs]
        ).selectExpr("file_name as __file", "row_index as __row")
        out = out.join(tombstones, ["__file", "__row"], "left_anti").drop("__file", "__row")
    # restore the committed schema: column order AND partition-column
    # types (partition values travel as strings in the manifest)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(m["schema"])
    return out.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in part_cols
            else F.col(f.name)
            for f in schema.fields
        ]
    )


def snapshot_history(table_dir: str) -> list[dict]:
    """The audit trail: (version, operation, n_files, committed_at)."""
    return [
        {
            "version": m["version"],
            "operation": m["operation"],
            "n_files": len(m["files"]),
            "committed_at": m["committed_at"],
        }
        for m in (_read_manifest(table_dir, v) for v in _versions(table_dir))
    ]


# --- merge-on-read deletion vectors ------------------------------------------
#
# The MOR complement to the COW overwrite above (public art: Iceberg
# position deletes / Delta deletion vectors): a DELETE does not
# rewrite any data file — it commits a tiny positional tombstone file
# (file_name, row_index) and the reader anti-joins it at scan time.
# Deletes become metadata-speed regardless of how many terabytes the
# touched files hold; `snapshot_compact` later folds the tombstones
# back into clean files (the maintenance job table formats schedule).


def _dv_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "deletes")


def snapshot_delete(spark: SparkSession, table_dir: str, predicate: str) -> int:
    """Commit a position-delete of every current row matching
    `predicate`. No data file is touched; returns the new version."""
    from pyspark.sql import functions as F

    vs = _versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    cur = _read_manifest(table_dir, vs[-1])
    version = vs[-1] + 1
    # Partitioned writes strip the partition column from the data files
    # (it lives only in manifest metadata) — re-attach it per file group
    # (as snapshot_read does, with the committed type restored) so a
    # DELETE predicate may reference partition columns too.
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(cur["schema"])
    part_cols = sorted({k for e in cur["files"] for k in e["partition"]})
    part_types = {f.name: f.dataType for f in schema.fields if f.name in part_cols}
    by_part: dict[tuple, list[str]] = {}
    for e in cur["files"]:
        key = tuple(e["partition"].get(c) for c in part_cols)
        by_part.setdefault(key, []).append(os.path.join(_data_dir(table_dir), e["path"]))
    groups = []
    for key, paths in sorted(by_part.items()):
        g = spark.read.parquet(*paths).select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_index"),
            "*",
        )
        for c, val in zip(part_cols, key):
            g = g.withColumn(c, F.lit(val).cast(part_types.get(c, "string")))
        groups.append(g)
    scan = groups[0]
    for g in groups[1:]:
        scan = scan.unionByName(g)
    hits = scan.where(predicate).select("file_name", "row_index")
    staging = os.path.join(_dv_dir(table_dir), f".staging-{uuid.uuid4().hex}")
    hits.coalesce(1).write.parquet(staging)
    os.makedirs(_dv_dir(table_dir), exist_ok=True)
    dv_name = None
    for name in sorted(os.listdir(staging)):
        if name.endswith(".parquet"):
            dv_name = f"dv-{version:06d}.parquet"
            os.replace(os.path.join(staging, name), os.path.join(_dv_dir(table_dir), dv_name))
    for name in os.listdir(staging):
        os.unlink(os.path.join(staging, name))
    os.rmdir(staging)
    manifest = {
        "version": version,
        "committed_at": int(time.time() * 1000),
        "operation": "delete",
        "schema": cur["schema"],
        "files": cur["files"],
        "delete_vectors": cur.get("delete_vectors", []) + ([dv_name] if dv_name else []),
    }
    _commit(table_dir, manifest, version)
    return version


def snapshot_compact(spark: SparkSession, table_dir: str, *, partition_col: str | None = None) -> int:
    """Fold deletion vectors back into clean data files: read the
    current MOR state, write it as a fresh file set, drop the DVs.
    Old files stay on disk untouched — prior versions remain
    time-travelable."""
    vs = _versions(table_dir)
    cur = _read_manifest(table_dir, vs[-1])
    version = vs[-1] + 1
    df = snapshot_read(spark, table_dir)
    entries = _write_files(df, table_dir, version, partition_col)
    manifest = {
        "version": version,
        "committed_at": int(time.time() * 1000),
        "operation": "compact",
        "schema": cur["schema"],
        "files": entries,
        "delete_vectors": [],
    }
    _commit(table_dir, manifest, version)
    return version


def snapshot_expire(table_dir: str, *, keep_last: int) -> dict:
    """Retention vacuum (the stage4 backup-pruning analogue, and the
    VACUUM every table format ships): drop manifests older than the
    newest `keep_last` versions, then delete data/DV files no kept
    manifest references. Kept versions stay byte-identically readable;
    time travel beyond the horizon is traded for space — exactly the
    dated-backup retention policy, made transactional."""
    vs = _versions(table_dir)
    keep = vs[-keep_last:] if keep_last > 0 else vs
    drop = [v for v in vs if v not in keep]
    live_data: set[str] = set()
    live_dv: set[str] = set()
    for v in keep:
        m = _read_manifest(table_dir, v)
        live_data.update(e["path"] for e in m["files"])
        live_dv.update(m.get("delete_vectors", []))
    removed_files = []
    for name in os.listdir(_data_dir(table_dir)):
        if name.endswith(".parquet") and name not in live_data:
            os.unlink(os.path.join(_data_dir(table_dir), name))
            removed_files.append(name)
    if os.path.isdir(_dv_dir(table_dir)):
        for name in os.listdir(_dv_dir(table_dir)):
            if name.endswith(".parquet") and name not in live_dv:
                os.unlink(os.path.join(_dv_dir(table_dir), name))
                removed_files.append(name)
    for v in drop:
        os.unlink(os.path.join(_log_dir(table_dir), f"v{v:06d}.json"))
    return {"kept_versions": keep, "dropped_versions": drop, "removed_files": removed_files}


# --- change data feed ---------------------------------------------------------
#
# Version-to-version CHANGES computed from the log alone (the Delta
# CDF / Iceberg incremental-read pattern): because data files are
# immutable and manifests list the complete live set, the row-level
# delta between v0 and v1 is derivable WITHOUT diffing table contents —
#
#   inserts = rows of files present in v1 but not v0, minus v1
#             tombstones targeting those files;
#   deletes = rows of files dropped between v0 and v1 that were still
#             live at v0, plus rows newly tombstoned (dv(v1) − dv(v0))
#             in carried files.
#
# Cost ∝ the CHANGED files + tombstones, never the table — the property
# that makes incremental consumers (downstream refresh stages, IVM
# maintenance, replication) cheap at 100 TB.  Equivalence to
# read(v1) EXCEPT read(v0) both directions is asserted in tests.


def _read_entries(
    spark: SparkSession, table_dir: str, entries: list[dict], schema_json: dict
):
    """Read a manifest file-entry list with partition columns restored
    and (file, row) provenance attached — the snapshot_read grouping,
    factored for the CDF reader."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(schema_json)
    if not entries:
        base = spark.createDataFrame([], schema)
        return base.selectExpr(
            "cast(null as string) as __file", "cast(null as bigint) as __row", "*"
        ).limit(0)
    part_cols = sorted({k for e in entries for k in e["partition"]})
    by_part: dict[tuple, list[str]] = {}
    for e in entries:
        key = tuple(e["partition"].get(c) for c in part_cols)
        by_part.setdefault(key, []).append(os.path.join(_data_dir(table_dir), e["path"]))
    dfs = []
    for key, paths in sorted(by_part.items()):
        part = spark.read.parquet(*paths).select(
            F.col("_metadata.file_name").alias("__file"),
            F.col("_metadata.row_index").alias("__row"),
            "*",
        )
        for c, val in zip(part_cols, key):
            part = part.withColumn(c, F.lit(val))
        dfs.append(part)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.select(
        "__file",
        "__row",
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in part_cols
            else F.col(f.name)
            for f in schema.fields
        ],
    )


def snapshot_changes(
    spark: SparkSession, table_dir: str, v0: int, v1: int
) -> DataFrame:
    """Rows that changed between versions, with a `_change_type` column
    ('insert' | 'delete'). v0 < v1 required; cost scales with changed
    files and tombstones only."""
    from pyspark.sql import functions as F

    vs = _versions(table_dir)
    if v0 not in vs or v1 not in vs or not v0 < v1:
        raise ValueError(f"need v0 < v1 from the log (have {vs})")
    m0, m1 = _read_manifest(table_dir, v0), _read_manifest(table_dir, v1)
    paths0 = {e["path"] for e in m0["files"]}
    paths1 = {e["path"] for e in m1["files"]}
    added = [e for e in m1["files"] if e["path"] not in paths0]
    removed = [e for e in m0["files"] if e["path"] not in paths1]
    dv0, dv1 = set(m0.get("delete_vectors", [])), set(m1.get("delete_vectors", []))

    def tombstones(names: set) -> DataFrame | None:
        if not names:
            return None
        return spark.read.parquet(
            *[os.path.join(_dv_dir(table_dir), n) for n in sorted(names)]
        ).selectExpr("file_name as __file", "row_index as __row")

    inserts = _read_entries(spark, table_dir, added, m1["schema"])
    t1 = tombstones(dv1)
    if t1 is not None:
        inserts = inserts.join(t1, ["__file", "__row"], "left_anti")
    deletes = _read_entries(spark, table_dir, removed, m0["schema"])
    t0 = tombstones(dv0)
    if t0 is not None:
        deletes = deletes.join(t0, ["__file", "__row"], "left_anti")
    carried = [e for e in m0["files"] if e["path"] in paths1]
    new_dv = tombstones(dv1 - dv0)
    if new_dv is not None and carried:
        tomb_rows = _read_entries(spark, table_dir, carried, m0["schema"]).join(
            new_dv, ["__file", "__row"], "left_semi"
        )
        deletes = deletes.unionByName(tomb_rows)
    return (
        inserts.drop("__file", "__row").withColumn("_change_type", F.lit("insert"))
        .unionByName(
            deletes.drop("__file", "__row").withColumn("_change_type", F.lit("delete"))
        )
    )
