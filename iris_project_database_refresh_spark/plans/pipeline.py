"""End-to-end refresh pipeline + stage monitoring.

`run_refresh` chains the reference's full cycle in one call and writes
each stage's output as parquet under ``out_dir``. As in the reference,
whose stages hand files to each other (stage1's delta feeds the stage4
merge, the stage4 master feeds the stage5 validation and manifest),
every stage reads what its upstream wrote instead of re-deriving it:

    documents ─┬─ delta_detection ──── delta ── catalog_merge ── master ── validation
               ├─ section_processing ─ sections                    │           │
               ├─ content_chunking ─── chunks ─────────────────────┴─ manifest ┘
               └─ embedding_generation ─ embeddings

``documents`` is read once per cycle, inside the delta_detection stage
(so an unreadable source leaves that stage's `Failure` row), and the
prior master-catalog stand-in (`operators/catalog._master`) is derived
from that one read; the stage bodies take both as DataFrames. Each
stage is one lazy plan run by its write, and an `Observation` on that
write gives the stage's row count, so no stage is read back to be
counted. The same observations carry the manifest's figures: the
content-hash sum of the master and chunks writes and the sorted source
list of the validation write, so building the manifest starts no Spark
job.

A process-monitor log in the spirit of the reference's
`process_monitor_logs` table (`database-schema.sql:258-280`: run_uuid,
stage_name, start/end, duration_ms, status, decision_details) is
written whether or not the stages succeed, so a failed cycle leaves its
`Failure` row on disk. The driver holds those few rows and writes them
itself with pyarrow (`StageMonitor.write`), so the log needs no working
Spark job. The manifest is written last, only after every stage has
succeeded: its presence marks a completed cycle. Both files are
committed with `sinks/snapshots.commit_file` (a hidden temporary, then
one `os.replace`), so a reader or a crash sees a previous file or a
whole new one, never a torn log or a torn manifest.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import catalog, chunking, embeddings
from ..sinks.deployment import (
    ExportedFile,
    content_hash_sum,
    format_content_hash,
    generate_deployment_metadata,
    write_deployment_metadata,
)
from ..sinks.snapshots import commit_file
from ..sources.tables import load_table


MODEL_NAME = "iris-spark"  # the monitor log's model_name column
MONITOR_SCHEMA = pa.schema(
    [
        ("run_uuid", pa.string()),
        ("model_name", pa.string()),
        ("stage_name", pa.string()),
        ("duration_ms", pa.int64()),
        ("status", pa.string()),
        ("decision_details", pa.string()),
    ]
)


class StageMonitor:
    """Collects per-stage timing rows shaped like process_monitor_logs."""

    def __init__(self) -> None:
        self.run_uuid = str(uuid.uuid4())
        self.rows: list[tuple] = []

    def run(self, stage_name: str, fn, *args, **kwargs):
        start = time.time()
        status, detail = "Success", ""
        try:
            out = fn(*args, **kwargs)
            return out
        except Exception as e:  # noqa: BLE001 — reference logs and re-raises
            status, detail = "Failure", str(e)[:500]
            raise
        finally:
            end = time.time()
            self.rows.append(
                (
                    self.run_uuid,
                    MODEL_NAME,
                    stage_name,
                    int((end - start) * 1000),
                    status,
                    detail,
                )
            )

    def write(self, path: str) -> int:
        """Write the rows so far as ``path/part-00000.parquet`` and return
        their count. pyarrow writes them from the driver, so a flush
        needs no Spark job; `commit_file` puts it in place whole, so a
        reader never sees a partial log."""
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist([dict(zip(MONITOR_SCHEMA.names, r)) for r in self.rows], MONITOR_SCHEMA)
        commit_file(os.path.join(path, "part-00000.parquet"), lambda tmp: pq.write_table(table, tmp))
        return table.num_rows


def _source_list(_df: DataFrame):
    """The manifest's source list: the sorted distinct document_source."""
    return F.sort_array(F.collect_set("document_source")).alias("sources")


def run_refresh(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """One full refresh cycle; returns row counts per stage output."""
    mon = StageMonitor()
    observed: dict[str, dict] = {}  # output name -> its write's observation

    def write(name: str, build, *aggs) -> DataFrame:
        """Write ``build()`` to ``out_dir/name``, observing its row count
        and each ``agg(df)`` on the way, and return the written output
        for the downstream stages."""
        df = build()
        obs = Observation(name)
        path = os.path.join(out_dir, name)
        observing = df.observe(obs, F.count(F.lit(1)).alias("rows"), *(agg(df) for agg in aggs))
        observing.write.mode("overwrite").parquet(path)
        observed[name] = obs.get
        return spark.read.schema(df.schema).parquet(path)

    def detect_delta():
        docs = load_table(spark, sf_dir, "documents")
        prior = catalog._master(docs)
        return docs, prior, write("delta", lambda: catalog.delta_from_documents(docs, prior))

    def exported(name: str, df: DataFrame) -> ExportedFile:
        got = observed[name]
        return ExportedFile(name, df.columns, got["rows"], format_content_hash(got["hash_sum"], got["rows"]))

    # A manifest left by an earlier cycle would mark this one complete.
    for stale in glob.glob(os.path.join(out_dir, "deployment_metadata_*.json")):
        os.remove(stale)
    try:
        docs, prior, delta = mon.run("delta_detection", detect_delta)
        mon.run("section_processing", write, "sections", lambda: chunking.sections_from_documents(docs))
        chunks = mon.run(
            "content_chunking", write, "chunks", lambda: chunking.chunks_from_documents(docs), content_hash_sum
        )
        mon.run("embedding_generation", write, "embeddings", lambda: embeddings.embed_documents(docs))
        master = mon.run(
            "catalog_merge", write, "master", lambda: catalog.merge_from_delta(prior, delta), content_hash_sum
        )
        mon.run("validation", write, "validation", lambda: catalog.validate_master(master), _source_list)
    finally:
        logs = mon.run("monitor_flush", mon.write, os.path.join(out_dir, "monitor_logs"))
        observed["monitor_logs"] = {"rows": logs}

    # IT-handoff manifest next to the stage outputs
    # (`stage5_output_final_csv.py:431` generate_deployment_metadata).
    meta = generate_deployment_metadata(
        exported("master", master),
        exported("chunks", chunks),
        sources_included=observed["validation"]["sources"],
    )
    counts = {name: got["rows"] for name, got in observed.items()}
    meta["file_info"]["stage_outputs"] = counts
    write_deployment_metadata(meta, out_dir)
    return counts
