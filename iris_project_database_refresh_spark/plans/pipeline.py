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

The four document stages scan ``documents``; the merge also rebuilds
the master-catalog stand-in from it (`operators/catalog._master`).
Each stage is one lazy plan run by its write, and the stage's row count
is an `Observation` on that write, so no stage is read back to be
counted. The manifest's record counts come from the hash aggregates it
runs anyway, and its source list from the validation output (one row
per document_source).

A process-monitor log in the spirit of the reference's
`process_monitor_logs` table (`database-schema.sql:258-280`: run_uuid,
stage_name, start/end, duration_ms, status, decision_details) is
written whether or not the stages succeed, so a failed cycle leaves its
`Failure` row on disk. The manifest is written last, only after every
stage has succeeded: its presence marks a completed cycle.
"""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import catalog, chunking, embeddings
from ..sinks.deployment import generate_deployment_metadata, write_deployment_metadata


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

    def __init__(self, model_name: str = "iris-spark") -> None:
        self.run_uuid = str(uuid.uuid4())
        self.model_name = model_name
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
                    self.model_name,
                    stage_name,
                    int((end - start) * 1000),
                    status,
                    detail,
                )
            )

    def to_df(self, spark: SparkSession) -> DataFrame:
        # From an Arrow table the rows are decoded in the JVM; a list of
        # tuples would start a Python worker to unpickle six rows.
        table = pa.Table.from_pylist([dict(zip(MONITOR_SCHEMA.names, r)) for r in self.rows], MONITOR_SCHEMA)
        return spark.createDataFrame(table)


def run_refresh(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """One full refresh cycle; returns row counts per stage output."""
    mon = StageMonitor()
    counts: dict[str, int] = {}

    def write(name: str, build) -> DataFrame:
        """Write ``build()`` to ``out_dir/name``, count its rows on the
        way, and return the written output for the downstream stages."""
        df = build()
        obs = Observation(name)
        path = os.path.join(out_dir, name)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
        counts[name] = obs.get["rows"]
        return spark.read.schema(df.schema).parquet(path)

    # A manifest left by an earlier cycle would mark this one complete.
    for stale in glob.glob(os.path.join(out_dir, "deployment_metadata_*.json")):
        os.remove(stale)
    try:
        delta = mon.run("delta_detection", write, "delta", lambda: catalog.catalog_delta(spark, sf_dir))
        mon.run("section_processing", write, "sections", lambda: chunking.section_split(spark, sf_dir))
        chunks = mon.run("content_chunking", write, "chunks", lambda: chunking.chunk_documents(spark, sf_dir))
        mon.run("embedding_generation", write, "embeddings", lambda: embeddings.embed_feature_hash(spark, sf_dir))
        master = mon.run("catalog_merge", write, "master", lambda: catalog.merge_from_delta(spark, sf_dir, delta))
        validation = mon.run("validation", write, "validation", lambda: catalog.validate_master(master))
    finally:
        mon.run("monitor_flush", write, "monitor_logs", lambda: mon.to_df(spark).coalesce(1))

    # IT-handoff manifest next to the stage outputs
    # (`stage5_output_final_csv.py:431` generate_deployment_metadata).
    meta = generate_deployment_metadata(
        master,
        chunks,
        sources_included=sorted(r.document_source for r in validation.select("document_source").collect()),
        catalog_file="master",
        content_file="chunks",
    )
    meta["file_info"]["stage_outputs"] = counts
    write_deployment_metadata(meta, out_dir)
    return counts
