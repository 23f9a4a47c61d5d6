"""Deployment-metadata manifest — the IT-handoff artifact.

Reference parity: `catalog search/stage5_output_final_csv.py:431`
``generate_deployment_metadata`` emits a timestamped JSON document next
to the deployment CSVs carrying (a) run info — timestamp, included
document sources, pipeline version; (b) file info — file names, record
counts, content hashes; (c) schema info — exported columns and target
tables; (d) import instructions including the per-source DELETE
statement. This module produces the same manifest from DataFrames.

Scale notes
-----------
* Record counts and the content hash are computed distributed, in
  one aggregate per frame (a row count beside a commutative sum over
  per-row hashes), so the manifest of a 100 TB export never funnels
  rows through the driver.
  (The reference hashes the whole pandas frame in memory;
  order-insensitive hashing is the distributed equivalent.)
* The manifest itself is kilobytes of driver-side JSON — the one piece
  that *should* be driver-side.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PIPELINE_VERSION = "spark_refresh_v1.0"
STAGE_VERSION = "3.0"


def content_hash_and_count(df: DataFrame) -> tuple[str, int]:
    """Order-insensitive 64-bit content hash and row count, in one
    distributed aggregate.

    xxhash64 per row (over every column, stringified) combined with a
    commutative aggregate — the distributed stand-in for the
    reference's in-memory file hash (`stage5_output_final_csv.py`
    ``calculate_file_hash``); identical content in any row order gives
    the same digest.
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("null")) for c in df.columns]
    # Accumulate in decimal(38,0): a bigint sum of 64-bit hashes overflows
    # (ANSI mode raises); xor would let duplicate rows cancel in pairs.
    row_hash = F.xxhash64(*cols).cast("decimal(38,0)")
    agg = df.select(
        F.sum(row_hash).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    digest = int(agg["s"] or 0) % (1 << 64)
    return f"{digest:016x}-{agg['n']}", agg["n"]


def dataframe_content_hash(df: DataFrame) -> str:
    """The ``<digest>-<rows>`` hash string of `content_hash_and_count`."""
    return content_hash_and_count(df)[0]


def generate_deployment_metadata(
    catalog_df: DataFrame,
    content_df: DataFrame,
    *,
    sources_included: list[str],
    timestamp: str | None = None,
    catalog_file: str | None = None,
    content_file: str | None = None,
) -> dict:
    """Build the stage5-shaped manifest dict for a catalog+content export
    of ``sources_included``. Each frame is scanned once, by the hash
    aggregate that also gives its record count."""
    ts = timestamp or datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    catalog_hash, catalog_records = content_hash_and_count(catalog_df)
    content_hash, content_records = content_hash_and_count(content_df)
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
            "catalog_file": catalog_file or f"catalog_{ts}.csv",
            "content_file": content_file or f"content_{ts}.csv",
            "catalog_records": catalog_records,
            "content_records": content_records,
            "catalog_hash": catalog_hash,
            "content_hash": content_hash,
        },
        "schema_info": {
            "catalog_columns": list(catalog_df.columns),
            "content_columns": list(content_df.columns),
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
    """Write ``deployment_metadata_<ts>.json`` into ``out_dir``; returns path."""
    os.makedirs(out_dir, exist_ok=True)
    ts = metadata["deployment_info"]["timestamp"]
    path = os.path.join(out_dir, f"deployment_metadata_{ts}.json")
    with open(path, "w") as f:
        json.dump(metadata, f, indent=2, sort_keys=True)
        f.write("\n")
    return path
