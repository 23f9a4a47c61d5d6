from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from iris_project_database_refresh_spark.sinks.snapshots import (
    snapshot_history,
    snapshot_read,
    snapshot_write,
)

from .conftest import job_group


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _file_hashes(table_dir):
    data = os.path.join(table_dir, "data")
    return {
        name: hashlib.md5(open(os.path.join(data, name), "rb").read()).hexdigest()
        for name in os.listdir(data)
        if name.endswith(".parquet")
    }


@pytest.fixture()
def table(tmp_path, spark):
    """Three commits: initial load, append, partition overwrite."""
    d = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"d{i % 3}", i * 10) for i in range(12)], "id long, day string, v long"
    )
    v1 = snapshot_write(base, d, mode="append", partition_col="day")
    extra = spark.createDataFrame([(100, "d0", 1), (101, "d3", 2)], "id long, day string, v long")
    v2 = snapshot_write(extra, d, mode="append", partition_col="day")
    fixed = spark.createDataFrame([(200, "d1", 99)], "id long, day string, v long")
    v3 = snapshot_write(fixed, d, mode="overwrite_partitions", partition_col="day")
    return d, (v1, v2, v3), base, extra, fixed


def test_time_travel_reads_every_version(spark, table):
    d, (v1, v2, v3), base, extra, fixed = table
    assert _rows(snapshot_read(spark, d, version=v1)) == _rows(base)
    assert _rows(snapshot_read(spark, d, version=v2)) == _rows(base.unionByName(extra))
    want_v3 = base.unionByName(extra).where(F.col("day") != "d1").unionByName(fixed)
    assert _rows(snapshot_read(spark, d, version=v3)) == _rows(want_v3)
    assert _rows(snapshot_read(spark, d)) == _rows(want_v3)  # latest == v3


def test_overwrite_rewrites_only_touched_partition(spark, table):
    d, (v1, v2, v3), *_ = table
    hist = snapshot_history(d)
    assert [h["version"] for h in hist] == [v1, v2, v3]
    assert hist[-1]["operation"] == "overwrite_partitions"
    # data files are immutable: every file present before v3 is
    # byte-identical after it (the overwrite only changed the manifest)
    hashes = _file_hashes(d)
    import json

    m2 = json.load(open(os.path.join(d, "_log", f"v{v2:06d}.json")))
    m3 = json.load(open(os.path.join(d, "_log", f"v{v3:06d}.json")))
    v2_files = {e["path"] for e in m2["files"]}
    v3_files = {e["path"] for e in m3["files"]}
    assert v2_files <= set(hashes)  # old files still on disk
    # carried files are the SAME paths (by reference, not rewritten)
    carried = {e["path"] for e in m3["files"] if e["partition"]["day"] != "d1"}
    assert carried <= v2_files
    # d1 files from v2 are not in the v3 manifest but remain readable for v2
    dropped = {e["path"] for e in m2["files"] if e["partition"]["day"] == "d1"}
    assert dropped.isdisjoint(v3_files)
    assert dropped <= set(hashes)


def test_crash_safety_ignores_torn_manifest(spark, table, tmp_path):
    d, (v1, v2, v3), *_ = table
    # a crashed writer leaves only a temp file — never a torn v{N}
    torn = os.path.join(d, "_log", ".tmp-deadbeef.json")
    open(torn, "w").write("{not json")
    assert [h["version"] for h in snapshot_history(d)] == [v1, v2, v3]
    got = snapshot_read(spark, d)
    assert got.count() > 0


def test_mor_delete_and_compact(spark, table):
    """Deletion vectors: a DELETE commits only a positional tombstone —
    data files stay byte-identical, prior versions still see the rows,
    the current version doesn't; compaction folds tombstones into
    clean files and reads identically."""
    from iris_project_database_refresh_spark.sinks.snapshots import (
        snapshot_compact,
        snapshot_delete,
    )

    d, (v1, v2, v3), *_ = table
    before = _file_hashes(d)
    pre = _rows(snapshot_read(spark, d))
    v4 = snapshot_delete(spark, d, "v >= 50")
    # no data file touched
    after = _file_hashes(d)
    assert all(after[k] == h for k, h in before.items())
    got = _rows(snapshot_read(spark, d, version=v4))
    want = [r for r in pre if not (r[2] >= 50)]
    assert got == want
    # time travel still sees the deleted rows
    assert _rows(snapshot_read(spark, d, version=v3)) == pre
    # compaction purges tombstones, content unchanged
    v5 = snapshot_compact(spark, d, partition_col="day")
    assert _rows(snapshot_read(spark, d, version=v5)) == want
    import json as _json

    m5 = _json.load(open(os.path.join(d, "_log", f"v{v5:06d}.json")))
    assert m5["delete_vectors"] == [] and m5["operation"] == "compact"


def test_expire_keeps_recent_versions_readable(spark, table):
    """VACUUM semantics: after keeping the last 2 versions, those
    versions read byte-for-byte as before; older manifests are gone and
    their exclusive files deleted — shared (carried) files survive."""
    from iris_project_database_refresh_spark.sinks.snapshots import snapshot_expire

    d, (v1, v2, v3), *_ = table
    before_v2 = _rows(snapshot_read(spark, d, version=v2))
    before_v3 = _rows(snapshot_read(spark, d, version=v3))
    res = snapshot_expire(d, keep_last=2)
    assert res["dropped_versions"] == [v1]
    assert [h["version"] for h in snapshot_history(d)] == [v2, v3]
    assert _rows(snapshot_read(spark, d, version=v2)) == before_v2
    assert _rows(snapshot_read(spark, d, version=v3)) == before_v3
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        snapshot_read(spark, d, version=v1)


def test_streaming_ingest_into_snapshot_log(spark, tmp_path):
    """Each micro-batch commits one snapshot version; the final state
    equals the batch read, and a crash-replayed batch id is skipped
    (idempotent commit)."""
    from iris_project_database_refresh_spark.sources.tables import load_table
    from iris_project_database_refresh_spark.streaming.snapshot_sink import (
        apply_stream_batch,
        run_snapshot_ingest_available_now,
    )

    from .conftest import SF_CORRECT

    d = str(tmp_path / "stream_tbl")
    run_snapshot_ingest_available_now(spark, SF_CORRECT, d)
    hist = snapshot_history(d)
    assert hist, "no snapshot committed"
    assert all(h["operation"].startswith("stream-append@") for h in hist)
    got = snapshot_read(spark, d)
    want = load_table(spark, SF_CORRECT, "events")
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    # replaying an already-committed batch id must be a no-op
    n_versions = len(hist)
    replay_id = int(hist[0]["operation"].split("@")[1])
    assert apply_stream_batch(want.limit(5), replay_id, d) is False
    assert len(snapshot_history(d)) == n_versions

def test_delete_on_partition_column_predicate(spark, table):
    """DELETE predicates may reference the partition column even though
    partitioned data files physically strip it (it lives only in
    manifest metadata) — the delete scan re-attaches it, typed per the
    committed schema, before filtering."""
    from iris_project_database_refresh_spark.sinks.snapshots import snapshot_delete

    d, (v1, v2, v3), *_ = table
    pre = _rows(snapshot_read(spark, d))
    v4 = snapshot_delete(spark, d, "day = 'd0' AND v < 50")
    got = _rows(snapshot_read(spark, d, version=v4))
    want = [r for r in pre if not (r[1] == "d0" and r[2] < 50)]
    assert got == want and len(got) < len(pre)


def test_empty_version_is_readable(spark, tmp_path):
    """An empty committed version (append of an empty batch) must read
    back as an empty DataFrame with the committed schema — not raise."""
    d = str(tmp_path / "empty_tbl")
    empty = spark.createDataFrame([], "id long, day string, v long")
    v1 = snapshot_write(empty, d, mode="append")
    got = snapshot_read(spark, d, version=v1)
    assert got.count() == 0
    assert got.columns == ["id", "day", "v"]


def test_stream_batch_id_in_single_atomic_commit(spark, tmp_path):
    """The batch-id stamp is part of the one committed manifest — the
    manifest on disk carries the stream-append operation immediately
    after apply_stream_batch returns (no rewrite window), and the data
    content matches the batch."""
    import json

    from iris_project_database_refresh_spark.streaming.snapshot_sink import (
        apply_stream_batch,
    )

    d = str(tmp_path / "atomic_tbl")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    assert apply_stream_batch(batch, 7, d) is True
    m = json.load(open(os.path.join(d, "_log", "v000001.json")))
    assert m["operation"] == "stream-append@7"
    assert _rows(snapshot_read(spark, d)) == [(1, "a"), (2, "b")]
    # replay of the same id skips without a new version
    assert apply_stream_batch(batch, 7, d) is False
    assert len(snapshot_history(d)) == 1


def test_snapshot_changes_equals_time_travel_diff(spark, tmp_path):
    """CDF from the log == EXCEPT-diff of the time-travel reads, both
    directions, across append / partition-overwrite / MOR delete."""
    from iris_project_database_refresh_spark.sinks.snapshots import (
        snapshot_changes,
        snapshot_delete,
        snapshot_read,
        snapshot_write,
    )

    d = str(tmp_path / "cdf_table")
    base = spark.range(0, 20).selectExpr("id", "id % 2 as day", "id * 10 as v")
    v1 = snapshot_write(base, d, mode="append", partition_col="day")
    fixed = spark.range(0, 10).selectExpr("id", "0 as day", "id * 100 as v")
    v2 = snapshot_write(fixed, d, mode="overwrite_partitions", partition_col="day")
    snapshot_delete(spark, d, "v = 30")
    v3 = v2 + 1

    from collections import Counter

    for a, b in ((v1, v2), (v2, v3), (v1, v3)):
        ch = snapshot_changes(spark, d, a, b)
        ins = Counter(tuple(r) for r in ch.where("_change_type = 'insert'").drop("_change_type").collect())
        dels = Counter(tuple(r) for r in ch.where("_change_type = 'delete'").drop("_change_type").collect())
        want_ins = Counter(tuple(r) for r in snapshot_read(spark, d, version=b).exceptAll(snapshot_read(spark, d, version=a)).collect())
        want_del = Counter(tuple(r) for r in snapshot_read(spark, d, version=a).exceptAll(snapshot_read(spark, d, version=b)).collect())
        # a rewrite of an identical row is a delete+insert PAIR in the
        # file-level feed (Delta CDF semantics); NET changes must match
        # the time-travel multiset diff exactly
        assert ins - dels == want_ins, (a, b)
        assert dels - ins == want_del, (a, b)
    assert snapshot_changes(spark, d, v2, v3).where("_change_type = 'delete'").count() == 1


def test_delete_on_table_with_provenance_named_columns(spark, tmp_path):
    """A table may have its own `file_name` and `row_index` columns (the
    master catalog's key is `file_name`): a delete predicate on them
    tombstones exactly the matching rows."""
    from iris_project_database_refresh_spark.sinks.snapshots import snapshot_delete

    d = str(tmp_path / "catalog_tbl")
    rows = [(i, f"doc_{i}.pdf", i % 4, i * 10) for i in range(8)]
    snapshot_write(spark.createDataFrame(rows, "id long, file_name string, row_index long, v long"), d)
    v2 = snapshot_delete(spark, d, "file_name = 'doc_3.pdf' OR row_index = 0")
    got = _rows(snapshot_read(spark, d, version=v2))
    assert got == [r for r in rows if r[1] != "doc_3.pdf" and r[2] != 0]


def test_append_after_delete_keeps_rows_deleted(spark, table):
    """Deletion vectors stay in force across later commits: an append
    after a delete does not bring the deleted rows back, and the change
    feed of the append holds only the appended rows."""
    from iris_project_database_refresh_spark.sinks.snapshots import snapshot_changes, snapshot_delete

    d, *_ = table
    v4 = snapshot_delete(spark, d, "v >= 50")
    after_delete = _rows(snapshot_read(spark, d, version=v4))
    extra = spark.createDataFrame([(300, "d2", 7)], "id long, day string, v long")
    v5 = snapshot_write(extra, d, mode="append", partition_col="day")
    assert _rows(snapshot_read(spark, d, version=v5)) == sorted(after_delete + [(300, "d2", 7)])
    changes = snapshot_changes(spark, d, v4, v5).collect()
    assert [tuple(r) for r in changes] == [(300, "d2", 7, "insert")]


def test_failed_manifest_commit_keeps_previous_version(spark, table):
    """A manifest write that fails leaves the previous version current,
    readable as before, and no temporary file in the log."""
    d, (v1, v2, v3), *_ = table
    before = _rows(snapshot_read(spark, d))
    log = os.path.join(d, "_log")
    log_files = sorted(os.listdir(log))
    batch = spark.createDataFrame([(400, "d0", 1)], "id long, day string, v long")
    with pytest.raises(TypeError):
        snapshot_write(batch, d, partition_col="day", operation=object())  # not JSON-serializable
    assert sorted(os.listdir(log)) == log_files
    assert [h["version"] for h in snapshot_history(d)] == [v1, v2, v3]
    assert _rows(snapshot_read(spark, d)) == before


def test_partition_values_read_back_unescaped(spark, tmp_path):
    """Spark escapes partition directory names (`a%2Fb`, `50%25`) and
    names a NULL value `__HIVE_DEFAULT_PARTITION__`; the values read back
    as written."""
    d = str(tmp_path / "escaped")
    rows = [(1, "a/b"), (2, None), (3, "x y"), (4, "50%")]
    snapshot_write(spark.createDataFrame(rows, "id long, day string"), d, partition_col="day")
    assert sorted(tuple(r) for r in snapshot_read(spark, d).collect()) == rows


def test_snapshot_read_plans_without_a_job(spark, table):
    """Each partition group is read with the committed schema, so building
    the read starts no schema-inference job."""
    d, *_ = table
    with job_group(spark, "snapshot_read_plan") as jobs:
        df = snapshot_read(spark, d)
    assert jobs == []
    assert df.columns == ["id", "day", "v"]
