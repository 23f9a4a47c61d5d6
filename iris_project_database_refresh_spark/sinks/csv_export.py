"""CSV export with PostgreSQL vector-literal formatting.

Reference parity: `semantic search/stage_05_csv_export.py:444`
format_embedding_for_postgres ("[" + ",".join(float) + "]", empty
string for NULL) and :456 chunk_to_csv_row (auto-generated columns
emitted empty). The formatting runs as built-in expressions, so a
100 TB export is a single distributed write — no driver round-trip,
unlike the reference's row-at-a-time csv.writer loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pgvector_literal(embedding: Column) -> Column:
    """array<float|double> → pgvector text literal '[x1,x2,…]'; NULL/empty → ''.

    Each element renders at the precision of its own type, in Java's
    notation: a float32 as `Float.toString` (`0.3`, `1.0E-5`, `1.4E-45`,
    `-0.0`, `NaN`, `Infinity`), a double as `Double.toString`. That is
    the shortest text that parses back to the element's own bits, so a
    float32 embedding round-trips to the float4 pgvector stores without
    the ~18 extra digits a widening to double would print (`0.3f` as
    `0.30000001192092896`). Exponent forms are Java's (`1.0E-5`), not
    Python's `str(float(x))` (`1e-05`); pgvector parses both. Integer
    and decimal arrays print in their own plain form (`1`, not `1.0`);
    no caller passes them. Null elements are skipped by `array_join`.
    The elements are cast as one array, not by a per-element lambda,
    which costs a dozen py4j calls to build.
    """
    joined = F.array_join(embedding.cast("array<string>"), ",")
    return F.when(
        embedding.isNull() | (F.size(embedding) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("["), joined, F.lit("]")))


# iris_semantic_search column order (database-schema.sql:210-255) minus
# the SERIAL/system columns the reference leaves empty for COPY.
EXPORT_COLUMNS = (
    "document_id",
    "filename",
    "chapter_number",
    "section_number",
    "chunk_number",
    "chunk_content",
    "embedding_literal",
)


def export_chunks_csv(chunks: DataFrame, path: str, *, single_file: bool = False) -> None:
    """Write a chunk DataFrame as the stage_05-shaped CSV.

    `chunks` must carry the EXPORT_COLUMNS (embedding as array<float>
    under `embedding`). At scale leave single_file=False — coalescing to
    one file serializes the write through one task (the reference's
    master-CSV model is inherently single-writer; a cluster export
    writes a directory of parts + a manifest instead).
    """
    out = chunks.withColumn("embedding_literal", pgvector_literal(F.col("embedding")))
    missing = [c for c in EXPORT_COLUMNS if c not in out.columns]
    if missing:
        raise ValueError(f"chunk DataFrame missing export columns: {missing}")
    out = out.select(*EXPORT_COLUMNS)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)
