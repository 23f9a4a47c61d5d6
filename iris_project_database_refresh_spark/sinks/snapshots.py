"""Snapshot-log table format: versioned manifests + time travel over
plain parquet, and the package's one atomic file commit.

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
      deletes/dv-<version>-<n>.parquet  -- deletion vectors (tombstones)
      _log/v000001.json                 -- one manifest per commit

Manifest: {"version", "committed_at", "operation", "files": [{"path",
"partition": {col: value}}], "delete_vectors": [...], "schema": [...]}.
`files` is the COMPLETE live set at that version and `delete_vectors`
every tombstone file that applies to it (simple and O(files); the
incremental add/remove encoding plus periodic checkpoints is the known
production refinement — Delta's exact structure).

Commit protocol: `commit_file` is the package's one atomic file
commit. It writes a file under a hidden temporary name in the target's
directory and renames it into place with one `os.replace`, so a reader
or a crash sees the old file or the new one, never part of one. The
manifests here, the refresh's monitor log and deployment manifest
(`plans/pipeline.py`, `sinks/deployment.py`) and the IVF index's
manifest (`sinks/vector_index.py`) are all committed through it. A
manifest is committed as v{N}; the highest v{N} wins, so a crashed
writer leaves no torn version behind (single-writer semantics;
multi-writer needs a CAS on the log — the documented service-side
extension).

Data files are written by `_write_staged` alone: a Spark write into a
hidden staging directory, whose part files move into place under
version-stamped names. Every read of a version goes through
`_read_entries`, which restores partition columns and applies
deletion vectors.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# A row's (data file name, row position), named apart from any table
# column: a table may have its own `file_name` (the master catalog's key).
PROVENANCE = ["__file", "__row"]
TOMBSTONE_SCHEMA = "file_name string, row_index bigint"


def commit_file(path: str, write) -> None:
    """Replace ``path`` atomically with the file that ``write(tmp)``
    writes at ``tmp``.

    ``tmp`` is a hidden name (leading ``.``) in the same directory, so
    neither a Spark read of the directory nor a glob of the visible
    names sees it, and one ``os.replace`` moves it onto ``path``. If
    ``write`` raises, the temporary is removed and ``path`` keeps its
    previous content (or stays absent).
    """
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # only when write or replace failed
            os.remove(tmp)


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_log")


def _data_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "data")


def _dv_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "deletes")


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


def _commit(
    table_dir: str, version: int, operation: str, schema: dict, files: list[dict], delete_vectors: list[str]
) -> int:
    """Commit manifest v{version} through `commit_file`; returns the version."""
    manifest = {
        "version": version,
        "committed_at": int(time.time() * 1000),
        "operation": operation,
        "schema": schema,
        "files": files,
        "delete_vectors": delete_vectors,
    }
    path = os.path.join(_log_dir(table_dir), f"v{version:06d}.json")
    commit_file(path, lambda tmp: Path(tmp).write_text(json.dumps(manifest, indent=1, sort_keys=True)))
    return version


def _partition_values(rel: str) -> dict:
    """The partition values of a part file's hive directories, ``rel``
    being their path (``.`` for none). Spark percent-escapes each value
    (``%`` itself included, so `unquote` is exact) and writes a NULL as
    ``__HIVE_DEFAULT_PARTITION__``, which maps to None."""
    if rel == ".":
        return {}
    dirs = (s.partition("=") for s in rel.split(os.sep))
    return {k: None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v) for k, _, v in dirs}


def _write_staged(writer: DataFrameWriter, dest: str, prefix: str) -> list[dict]:
    """Spark-write through ``writer`` into a hidden staging directory
    under ``dest`` and move each part file into ``dest`` as
    ``<prefix>-<n>.parquet``. Returns one file entry per file: its
    ``path`` and the ``partition`` values of its hive directories. The
    staging directory is removed whether or not the write succeeds."""
    staging = os.path.join(dest, f".staging-{uuid.uuid4().hex}")
    entries: list[dict] = []
    try:
        writer.parquet(staging)
        for root, dirs, names in os.walk(staging):
            dirs.sort()
            part = _partition_values(os.path.relpath(root, staging))
            for name in sorted(n for n in names if n.endswith(".parquet")):
                final = f"{prefix}-{len(entries):05d}.parquet"
                os.replace(os.path.join(root, name), os.path.join(dest, final))
                entries.append({"path": final, "partition": part})
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return entries


def _write_files(df: DataFrame, table_dir: str, version: int, partition_col: str | None) -> list[dict]:
    """Write immutable data files for this commit; one file per
    partition value when partitioned (no small-file explosion),
    else one file per task."""
    writer = df.repartition(partition_col).write.partitionBy(partition_col) if partition_col else df.write
    return _write_staged(writer, _data_dir(table_dir), f"part-{version:06d}")


def _tombstones(spark: SparkSession, table_dir: str, names) -> DataFrame:
    """The row positions the deletion-vector files ``names`` tombstone."""
    paths = [os.path.join(_dv_dir(table_dir), n) for n in sorted(names)]
    return spark.read.schema(TOMBSTONE_SCHEMA).parquet(*paths).toDF(*PROVENANCE)


def _read_entries(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schema_json: dict,
    deletes=(),
    *,
    provenance: bool = False,
) -> DataFrame:
    """The rows of the manifest file entries ``entries``, in the
    committed schema, minus the rows that the deletion-vector files
    ``deletes`` tombstone.

    The files of one partition are one multi-path read in the committed
    schema minus the partition columns (the files do not hold them), so
    no read runs a schema-inference job. Their partition values (strings
    or None in the manifest) are attached cast to the committed types,
    so a predicate on a partition column compares typed values.
    With ``provenance`` each row leads with `PROVENANCE`, its data file
    and row position. Only the tombstone join and the callers that need
    it select that metadata: once selected, Spark keeps it in the file
    scan even after it is dropped.
    """
    schema = StructType.fromJson(schema_json)
    if not entries:
        prov = [StructField("__file", StringType()), StructField("__row", LongType())] if provenance else []
        return spark.createDataFrame([], StructType(prov + schema.fields))
    types = {f.name: f.dataType for f in schema.fields}
    part_cols = sorted({k for e in entries for k in e["partition"]})
    by_part: dict[tuple, list[str]] = {}
    for e in entries:
        key = tuple(e["partition"].get(c) for c in part_cols)
        by_part.setdefault(key, []).append(os.path.join(_data_dir(table_dir), e["path"]))
    file_schema = StructType([f for f in schema.fields if f.name not in part_cols])
    tracked = provenance or bool(deletes)
    cols = (PROVENANCE if tracked else []) + schema.fieldNames()
    groups = []
    for key, paths in sorted(by_part.items(), key=lambda kv: [(v is None, v or "") for v in kv[0]]):
        g = spark.read.schema(file_schema).parquet(*paths)
        if tracked:
            g = g.select(F.col("_metadata.file_name").alias("__file"), F.col("_metadata.row_index").alias("__row"), "*")
        for c, val in zip(part_cols, key):
            g = g.withColumn(c, F.lit(val).cast(types[c]))
        groups.append(g.select(*cols))
    out = reduce(DataFrame.unionByName, groups)
    if deletes:
        out = out.join(_tombstones(spark, table_dir, deletes), PROVENANCE, "left_anti")
    return out if provenance else out.drop(*PROVENANCE)


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
    Either way the previous version's deletion vectors stay in force.

    `operation` overrides the manifest's recorded operation string
    (default: the mode) — callers that need commit metadata (e.g. the
    streaming sink's `stream-append@<batch_id>` idempotency stamp) pass
    it here so it lands inside the ONE atomic temp-then-rename commit,
    never as an after-the-fact manifest rewrite.
    """
    if mode not in ("append", "overwrite_partitions"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "overwrite_partitions" and not partition_col:
        raise ValueError("overwrite_partitions requires partition_col")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    os.makedirs(_data_dir(table_dir), exist_ok=True)
    vs = _versions(table_dir)
    version = (vs[-1] + 1) if vs else 1
    prev = _read_manifest(table_dir, vs[-1]) if vs else {"files": []}

    new_entries = _write_files(df, table_dir, version, partition_col)
    carried = prev["files"]
    if mode == "overwrite_partitions":
        touched = {e["partition"].get(partition_col) for e in new_entries}
        carried = [e for e in carried if e["partition"].get(partition_col) not in touched]
    return _commit(
        table_dir,
        version,
        operation if operation is not None else mode,
        df.schema.jsonValue(),
        carried + new_entries,
        prev.get("delete_vectors", []),
    )


def snapshot_read(
    spark: SparkSession, table_dir: str, *, version: int | None = None
) -> DataFrame:
    """Read the table as of `version` (default: latest). Partition
    values come back as columns, reconstructed from manifest metadata —
    no directory listing, no partition discovery job. An empty version
    reads as an empty frame with the committed schema."""
    vs = _versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not in log (have {vs})")
    m = _read_manifest(table_dir, v)
    return _read_entries(spark, table_dir, m["files"], m["schema"], m.get("delete_vectors", []))


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


def snapshot_delete(spark: SparkSession, table_dir: str, predicate: str) -> int:
    """Commit a position-delete of every current row matching
    `predicate`, which may name partition columns too. No data file is
    touched; returns the new version."""
    vs = _versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    cur = _read_manifest(table_dir, vs[-1])
    version = vs[-1] + 1
    dvs = cur.get("delete_vectors", [])
    live = _read_entries(spark, table_dir, cur["files"], cur["schema"], dvs, provenance=True)
    hits = live.where(predicate).selectExpr("__file AS file_name", "__row AS row_index")
    added = _write_staged(hits.coalesce(1).write, _dv_dir(table_dir), f"dv-{version:06d}")
    return _commit(table_dir, version, "delete", cur["schema"], cur["files"], dvs + [e["path"] for e in added])


def snapshot_compact(spark: SparkSession, table_dir: str, *, partition_col: str | None = None) -> int:
    """Fold deletion vectors back into clean data files: read the
    current MOR state, write it as a fresh file set, drop the DVs.
    Old files stay on disk untouched — prior versions remain
    time-travelable."""
    vs = _versions(table_dir)
    cur = _read_manifest(table_dir, vs[-1])
    version = vs[-1] + 1
    entries = _write_files(snapshot_read(spark, table_dir), table_dir, version, partition_col)
    return _commit(table_dir, version, "compact", cur["schema"], entries, [])


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


def snapshot_changes(
    spark: SparkSession, table_dir: str, v0: int, v1: int
) -> DataFrame:
    """Rows that changed between versions, with a `_change_type` column
    ('insert' | 'delete'). v0 < v1 required; cost scales with changed
    files and tombstones only."""
    vs = _versions(table_dir)
    if v0 not in vs or v1 not in vs or not v0 < v1:
        raise ValueError(f"need v0 < v1 from the log (have {vs})")
    m0, m1 = _read_manifest(table_dir, v0), _read_manifest(table_dir, v1)
    paths0 = {e["path"] for e in m0["files"]}
    paths1 = {e["path"] for e in m1["files"]}
    added = [e for e in m1["files"] if e["path"] not in paths0]
    removed = [e for e in m0["files"] if e["path"] not in paths1]
    dv0, dv1 = set(m0.get("delete_vectors", [])), set(m1.get("delete_vectors", []))

    inserts = _read_entries(spark, table_dir, added, m1["schema"], dv1)
    deletes = _read_entries(spark, table_dir, removed, m0["schema"], dv0)
    carried = [e for e in m0["files"] if e["path"] in paths1]
    if dv1 - dv0 and carried:
        tombstoned = _read_entries(spark, table_dir, carried, m0["schema"], provenance=True).join(
            _tombstones(spark, table_dir, dv1 - dv0), PROVENANCE, "left_semi"
        )
        deletes = deletes.unionByName(tombstoned.drop(*PROVENANCE))
    return inserts.withColumn("_change_type", F.lit("insert")).unionByName(
        deletes.withColumn("_change_type", F.lit("delete"))
    )
