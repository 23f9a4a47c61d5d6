"""Deployment-metadata manifest — the IT-handoff artifact.

Reference parity: `catalog search/stage5_output_final_csv.py:431`
``generate_deployment_metadata`` emits a timestamped JSON document next
to the deployment CSVs carrying (a) run info — timestamp, included
document sources, pipeline version; (b) file info — file names, record
counts, content hashes; (c) schema info — exported columns and target
tables; (d) import instructions including the per-source DELETE
statement. This module produces the same manifest from the figures of
the written exports.

Scale notes
-----------
* The content hash is a commutative sum over per-row hashes
  (`content_hash_sum`), so it is computed distributed and never funnels
  rows through the driver. The refresh pipeline observes it, beside the
  row count, on the write of each export, as the reference hashes each
  file as it writes it (`stage5_output_final_csv.py`
  ``calculate_file_hash``); `content_hash_and_count` runs the same
  aggregate over any frame, such as a written export read back.
  (The reference hashes the whole pandas frame in memory;
  order-insensitive hashing is the distributed equivalent.)
* The manifest itself is kilobytes of driver-side JSON — the one piece
  that *should* be driver-side; building it starts no Spark job. Its
  presence marks a completed cycle, so it is committed whole through
  `snapshots.commit_file`: a failed write leaves no manifest file.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .snapshots import commit_file

PIPELINE_VERSION = "spark_refresh_v1.0"
STAGE_VERSION = "3.0"


def content_hash_sum(df: DataFrame) -> Column:
    """The content-hash aggregate over ``df``, named ``hash_sum``.

    xxhash64 per row (over every column, stringified) combined with a
    commutative sum — the distributed stand-in for the reference's
    in-memory file hash (`stage5_output_final_csv.py`
    ``calculate_file_hash``); identical content in any row order gives
    the same sum.
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("null")) for c in df.columns]
    # Accumulate in decimal(38,0): a bigint sum of 64-bit hashes overflows
    # (ANSI mode raises); xor would let duplicate rows cancel in pairs.
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash_sum")


def format_content_hash(hash_sum, rows: int) -> str:
    """The ``<digest>-<rows>`` hash string of a `content_hash_sum` value
    (None for no rows) and the row count."""
    return f"{int(hash_sum or 0) % (1 << 64):016x}-{rows}"


def content_hash_and_count(df: DataFrame) -> tuple[str, int]:
    """Order-insensitive 64-bit content hash and row count, in one
    distributed aggregate."""
    agg = df.select(content_hash_sum(df), F.count(F.lit(1)).alias("rows")).collect()[0]
    return format_content_hash(agg["hash_sum"], agg["rows"]), agg["rows"]


def dataframe_content_hash(df: DataFrame) -> str:
    """The ``<digest>-<rows>`` hash string of `content_hash_and_count`."""
    return content_hash_and_count(df)[0]


class ExportedFile(NamedTuple):
    """One written export as the manifest describes it."""

    name: str
    columns: list[str]
    records: int
    content_hash: str  # `format_content_hash` string


def generate_deployment_metadata(
    catalog: ExportedFile,
    content: ExportedFile,
    *,
    sources_included: list[str],
    timestamp: str | None = None,
) -> dict:
    """Build the stage5-shaped manifest dict for a catalog+content export
    of ``sources_included``."""
    ts = timestamp or datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    source_list = ", ".join(f"'{s}'" for s in sources_included)
    delete_query = (
        f"DELETE FROM apg_catalog WHERE document_source IN ({source_list}); "
        f"DELETE FROM apg_content WHERE document_source IN ({source_list});"
    )
    return {
        "deployment_info": {
            "timestamp": ts,
            "document_sources": sources_included,
            "pipeline_version": PIPELINE_VERSION,
            "stage_version": STAGE_VERSION,
        },
        "file_info": {
            "catalog_file": catalog.name,
            "content_file": content.name,
            "catalog_records": catalog.records,
            "content_records": content.records,
            "catalog_hash": catalog.content_hash,
            "content_hash": content.content_hash,
        },
        "schema_info": {
            "catalog_columns": list(catalog.columns),
            "content_columns": list(content.columns),
            "target_tables": {"catalog": "apg_catalog", "content": "apg_content"},
        },
        "instructions": {
            "import_order": [
                "Delete existing records for document_source",
                "Import catalog CSV",
                "Import content CSV",
            ],
            "delete_query": delete_query,
            "notes": [
                "CSV files are formatted for PostgreSQL COPY command",
                "Timestamp columns are in UTC format",
                "Embedding columns contain JSON strings or NULL",
                "Files have been validated for data integrity",
            ],
        },
    }


def write_deployment_metadata(metadata: dict, out_dir: str) -> str:
    """Commit ``deployment_metadata_<ts>.json`` into ``out_dir``; returns path."""
    os.makedirs(out_dir, exist_ok=True)
    ts = metadata["deployment_info"]["timestamp"]
    path = os.path.join(out_dir, f"deployment_metadata_{ts}.json")
    commit_file(path, lambda tmp: Path(tmp).write_text(json.dumps(metadata, indent=2, sort_keys=True) + "\n"))
    return path
