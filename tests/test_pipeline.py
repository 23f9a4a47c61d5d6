from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from iris_project_database_refresh_spark.operators import catalog, chunking, embeddings
from iris_project_database_refresh_spark.plans.pipeline import MONITOR_SCHEMA, StageMonitor, run_refresh
from iris_project_database_refresh_spark.sinks.deployment import (
    ExportedFile,
    dataframe_content_hash,
    generate_deployment_metadata,
    write_deployment_metadata,
)
from iris_project_database_refresh_spark.sources.formats import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)
from iris_project_database_refresh_spark.sources.tables import load_table

from .conftest import SF_CORRECT, job_group, output_bytes


STAGES = {
    "delta_detection",
    "section_processing",
    "content_chunking",
    "embedding_generation",
    "catalog_merge",
    "validation",
}


@pytest.fixture(scope="module")
def refreshed(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("refresh") / "out")
    return out, run_refresh(spark, SF_CORRECT, out)


def test_full_refresh_pipeline(spark, refreshed):
    out, counts = refreshed
    assert counts["delta"] == 530
    assert counts["master"] == 500
    assert counts["chunks"] > 500
    assert counts["validation"] == 20
    # monitor log: one Success row per stage before the flush
    logs = spark.read.parquet(out + "/monitor_logs")
    rows = logs.collect()
    assert {r.stage_name for r in rows} == STAGES
    assert all(r.status == "Success" and r.duration_ms >= 0 for r in rows)
    assert len({r.run_uuid for r in rows}) == 1

    # the monitor log is one file
    assert len(glob.glob(out + "/monitor_logs/*.parquet")) == 1

    # deployment manifest: written next to the outputs, counts/schema
    # match the data it describes, delete statement covers every source
    manifests = glob.glob(out + "/deployment_metadata_*.json")
    assert len(manifests) == 1
    meta = json.load(open(manifests[0]))
    master = spark.read.parquet(out + "/master")
    chunks = spark.read.parquet(out + "/chunks")
    assert meta["file_info"]["catalog_records"] == master.count() == counts["master"]
    assert meta["file_info"]["content_records"] == chunks.count() == counts["chunks"]
    assert meta["schema_info"]["catalog_columns"] == master.columns
    assert meta["schema_info"]["content_columns"] == chunks.columns
    assert meta["file_info"]["stage_outputs"] == counts
    srcs = meta["deployment_info"]["document_sources"]
    assert srcs == sorted(r.document_source for r in master.select("document_source").distinct().collect())
    for s in srcs:
        assert f"'{s}'" in meta["instructions"]["delete_query"]
    # hash is content-determined: recomputing over the written parquet agrees
    assert meta["file_info"]["catalog_hash"] == dataframe_content_hash(master)
    assert meta["file_info"]["content_hash"] == dataframe_content_hash(chunks)
    # and order-insensitive: a shuffled frame hashes identically
    assert dataframe_content_hash(master.orderBy(F.rand(7))) == meta["file_info"]["catalog_hash"]


@pytest.mark.parametrize(
    "output, registry_fn",
    [
        ("delta", catalog.catalog_delta),
        ("sections", chunking.section_split),
        ("chunks", chunking.chunk_documents),
        ("embeddings", embeddings.embed_feature_hash),
        ("master", catalog.catalog_merge),
        ("validation", catalog.catalog_validate),
    ],
)
def test_refresh_outputs_match_registry(spark, refreshed, output, registry_fn):
    """Each stage reads its upstream's written output; what it writes
    must equal the registry query that derives it from the documents."""
    out, _ = refreshed
    written = spark.read.parquet(f"{out}/{output}")
    assert dataframe_content_hash(written) == dataframe_content_hash(registry_fn(spark, SF_CORRECT))


def test_refresh_outputs_are_zstd(refreshed):
    """Every column chunk of every parquet file a refresh writes, the
    monitor log's included, is zstd-compressed."""
    out, counts = refreshed
    columns = output_bytes.output_bytes(out)["columns"]
    assert {top for top, _ in columns} == set(counts)
    assert set().union(*(c["codecs"] for c in columns.values())) == {"ZSTD"}


def test_output_bytes_script_totals_the_files(refreshed, capsys):
    """scripts/output_bytes.py accounts for every byte of a refresh output."""
    out, counts = refreshed
    got = output_bytes.output_bytes(out)
    sizes = [os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(out) for n in names]
    assert got["total"] == sum(sizes)
    assert set(counts) <= set(got["outputs"])
    assert any(rel.endswith(".crc") for rel in got["sidecars"])
    for name, o in got["outputs"].items():
        pages = sum(c["compressed"] for (top, _), c in got["columns"].items() if top == name)
        assert pages <= o["parquet"]
    assert output_bytes.main([out]) == 0
    assert "chunks/chunk_content" in capsys.readouterr().out


def test_failed_stage_leaves_failure_record(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "refresh")
    # a manifest from an earlier, completed cycle must not survive
    run_refresh(spark, SF_CORRECT, out)
    assert len(glob.glob(out + "/deployment_metadata_*.json")) == 1

    def boom(*_args, **_kwargs):
        raise RuntimeError("chunker exploded")

    monkeypatch.setattr(chunking, "chunks_from_documents", boom)
    with pytest.raises(RuntimeError, match="chunker exploded"):
        run_refresh(spark, SF_CORRECT, out)

    rows = {r.stage_name: r for r in spark.read.parquet(out + "/monitor_logs").collect()}
    assert set(rows) == {"delta_detection", "section_processing", "content_chunking"}
    assert rows["content_chunking"].status == "Failure"
    assert "chunker exploded" in rows["content_chunking"].decision_details
    assert rows["delta_detection"].status == rows["section_processing"].status == "Success"
    assert glob.glob(out + "/deployment_metadata_*.json") == []


def test_unreadable_source_leaves_failure_record(spark, tmp_path):
    """``documents`` is read inside the first stage, so a cycle whose
    source is missing fails there, on disk, and writes no manifest."""
    sf = tmp_path / "sf"
    sf.mkdir()
    out = str(tmp_path / "refresh")
    with pytest.raises(Exception, match="documents.parquet"):
        run_refresh(spark, str(sf), out)

    rows = spark.read.parquet(out + "/monitor_logs").collect()
    assert [(r.stage_name, r.status) for r in rows] == [("delta_detection", "Failure")]
    assert "documents.parquet" in rows[0].decision_details
    assert glob.glob(out + "/deployment_metadata_*.json") == []


def test_warm_refresh_cycle_runs_at_most_sixteen_jobs(spark, refreshed, tmp_path):
    """A warm cycle reads ``documents`` once, runs each stage as its one
    write, and takes the manifest's hashes, counts and sources from the
    writes' observations rather than from re-scans."""
    with job_group(spark, "refresh-cycle-jobs") as jobs:
        run_refresh(spark, SF_CORRECT, str(tmp_path / "refresh"))
    assert 0 < len(jobs) <= 16, jobs


def test_warm_refresh_stage_job_budgets(spark, refreshed, tmp_path, monkeypatch):
    """The merge numbers its appended rows from one collected aggregate
    (range sample, pinned exchange, the aggregate's two jobs, the
    survivors' broadcast, the write), the delta reads ``documents`` with
    its memoized schema (no schema-inference job), and the monitor log
    is written by the driver without a Spark job."""
    run = StageMonitor.run
    jobs: dict[str, list[int]] = {}

    def counted(self, stage, *args, **kwargs):
        with job_group(spark, f"refresh-stage-{stage}") as jobs[stage]:
            return run(self, stage, *args, **kwargs)

    monkeypatch.setattr(StageMonitor, "run", counted)
    run_refresh(spark, SF_CORRECT, str(tmp_path / "refresh"))
    assert set(jobs) == STAGES | {"monitor_flush"}
    assert 0 < len(jobs["catalog_merge"]) <= 6, jobs
    assert 0 < len(jobs["delta_detection"]) <= 3, jobs
    assert jobs["monitor_flush"] == [], jobs


def test_warm_refresh_cycle_compiles_no_generated_class(spark, tmp_path):
    """A cycle keeps about 78 generated classes in Spark's codegen cache;
    the session's cache holds 1000, so the third cycle over an unchanged
    corpus finds every class it needs and compiles none."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out = str(tmp_path / "refresh")
    for _ in range(2):
        run_refresh(spark, SF_CORRECT, out)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    run_refresh(spark, SF_CORRECT, out)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled


def test_failed_stage_leaves_one_readable_monitor_file(spark, tmp_path, monkeypatch):
    """The driver-written log replaces the previous cycle's in place: one
    parquet file, no temporary left, the reference's schema, and the
    failing stage's ``Failure`` row."""
    out = str(tmp_path / "refresh")
    run_refresh(spark, SF_CORRECT, out)

    def boom(*_args, **_kwargs):
        raise RuntimeError("merge exploded")

    monkeypatch.setattr(catalog, "merge_from_delta", boom)
    with pytest.raises(RuntimeError, match="merge exploded"):
        run_refresh(spark, SF_CORRECT, out)

    assert os.listdir(out + "/monitor_logs") == ["part-00000.parquet"]
    table = pq.read_table(out + "/monitor_logs/part-00000.parquet")
    assert table.schema.equals(MONITOR_SCHEMA)
    logs = spark.read.parquet(out + "/monitor_logs")
    assert logs.dtypes == [
        ("run_uuid", "string"), ("model_name", "string"), ("stage_name", "string"),
        ("duration_ms", "bigint"), ("status", "string"), ("decision_details", "string"),
    ]
    rows = {r.stage_name: r for r in logs.collect()}
    assert set(rows) == STAGES - {"validation"}
    assert rows["catalog_merge"].status == "Failure"
    assert "merge exploded" in rows["catalog_merge"].decision_details
    assert all(r.status == "Success" for name, r in rows.items() if name != "catalog_merge")


def test_failed_monitor_write_keeps_previous_log(tmp_path, monkeypatch):
    """A monitor-log write that fails part way leaves the previous log
    byte-identical and no temporary file beside it."""
    out = str(tmp_path / "monitor_logs")
    mon = StageMonitor()
    mon.run("delta_detection", lambda: None)
    mon.write(out)
    before = open(out + "/part-00000.parquet", "rb").read()

    def torn(_table, where, **_kwargs):
        with open(where, "wb") as f:
            f.write(before[:10])
        raise OSError("disk full")

    mon.run("section_processing", lambda: None)
    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="disk full"):
        mon.write(out)
    assert os.listdir(out) == ["part-00000.parquet"]
    assert open(out + "/part-00000.parquet", "rb").read() == before


def test_failed_manifest_write_leaves_no_manifest(tmp_path):
    """The deployment manifest's presence marks a completed cycle, so a
    manifest write that fails leaves no manifest file at all."""
    out = str(tmp_path / "refresh")
    empty = ExportedFile("master", ["id"], 0, "0000000000000000-0")
    meta = generate_deployment_metadata(empty, empty._replace(name="chunks"), sources_included=["a"])
    meta["file_info"]["stage_outputs"] = {"master": object()}  # not JSON-serializable
    with pytest.raises(TypeError):
        write_deployment_metadata(meta, out)
    assert os.listdir(out) == []


def test_refresh_of_empty_corpus(spark, tmp_path):
    sf = str(tmp_path / "sf")
    load_table(spark, SF_CORRECT, "documents").limit(0).write.parquet(sf + "/documents.parquet")
    out = str(tmp_path / "refresh")
    counts = run_refresh(spark, sf, out)
    assert counts == {
        "delta": 0,
        "sections": 0,
        "chunks": 0,
        "embeddings": 0,
        "master": 0,
        "validation": 0,
        "monitor_logs": 6,
    }
    logs = spark.read.parquet(out + "/monitor_logs").collect()
    assert {r.stage_name for r in logs} == STAGES
    assert all(r.status == "Success" for r in logs)
    (manifest,) = glob.glob(out + "/deployment_metadata_*.json")
    info = json.load(open(manifest))
    assert info["file_info"]["catalog_records"] == info["file_info"]["content_records"] == 0
    assert info["deployment_info"]["document_sources"] == []


def test_csv_json_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_CORRECT, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    csv_path, json_path = str(tmp_path / "c.csv"), str(tmp_path / "c.jsonl")
    write_csv(df, csv_path)
    write_jsonl(df, json_path)
    back_csv = read_csv(spark, csv_path, df.schema)
    back_json = read_jsonl(spark, json_path, df.schema)
    assert back_csv.schema == df.schema
    assert back_json.schema == df.schema
    assert back_csv.count() == df.count() == back_json.count()
    want = df.agg(F.round(F.sum("c_acctbal"), 2)).first()[0]
    assert back_csv.agg(F.round(F.sum("c_acctbal"), 2)).first()[0] == want
    assert back_json.agg(F.round(F.sum("c_acctbal"), 2)).first()[0] == want


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from iris_project_database_refresh_spark.sources.formats import read_orc, write_orc

    df = load_table(spark, SF_CORRECT, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = str(tmp_path / "c.orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert back.count() == df.count()
    want = df.agg(F.round(F.sum("c_acctbal"), 2)).first()[0]
    assert back.agg(F.round(F.sum("c_acctbal"), 2)).first()[0] == want
    # predicate pushdown reaches the ORC scan, as with parquet
    plan = (
        back.where(F.col("c_custkey") == 42)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "c_custkey" in plan.split("PushedFilters")[1][:120]


def test_registry_is_complete():
    """A broken transitive import must not silently shrink the
    correctness surface: every expected query name is registered and
    every oracle belongs to a registered query."""
    from iris_project_database_refresh_spark.plans.registry import ORACLES, QUERIES

    assert len(QUERIES) >= 439, sorted(QUERIES)
    assert set(ORACLES) <= set(QUERIES)
