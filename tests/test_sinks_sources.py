from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from iris_project_database_refresh_spark.operators.chunking import chunk_documents
from iris_project_database_refresh_spark.sinks.csv_export import export_chunks_csv, pgvector_literal
from iris_project_database_refresh_spark.sinks.jdbc import JdbcUpsertSink
from iris_project_database_refresh_spark.sources.filecatalog import snapshot_directory
from iris_project_database_refresh_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def test_pgvector_literal_matches_reference_format(spark):
    df = spark.createDataFrame(
        [([1.5, 2.0, -0.25],), (None,), ([],)], "embedding: array<double>"
    ).select(pgvector_literal(F.col("embedding")).alias("lit"))
    got = [r.lit for r in df.collect()]
    # stage_05_csv_export.py:444 — "[x,y]" with str(float()), '' for NULL/empty
    assert got == ["[1.5,2.0,-0.25]", "", ""]

    # the array cast renders every element as the former per-element
    # lambda did: float32 widening, NaN, infinities, -0.0, a null element
    # (skipped by array_join) and exponent forms
    def per_element(e):
        joined = F.array_join(F.transform(e, lambda x: x.cast("double").cast("string")), ",")
        return F.when(e.isNull() | (F.size(e) == 0), F.lit("")).otherwise(F.concat(F.lit("["), joined, F.lit("]")))

    inf = float("inf")
    for kind in ("double", "float"):
        edge = spark.createDataFrame(
            [([0.1, float("nan"), inf, -inf, -0.0, None, 1e-7, 1e21, -3.5e-12],), ([1.0, None],), (None,), ([],)],
            f"embedding: array<{kind}>",
        )
        rows = edge.select(pgvector_literal(F.col("embedding")), per_element(F.col("embedding"))).collect()
        assert [r[0] for r in rows] == [r[1] for r in rows]
        assert "NaN" in rows[0][0] and "-Infinity" in rows[0][0] and "E" in rows[0][0]


def test_export_chunks_csv_roundtrip(spark, tmp_path):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    chunks = (
        chunk_documents(spark, SF_CORRECT)
        .withColumn("document_id", F.concat(F.lit("DOC_"), F.col("doc_id")))
        .withColumn("filename", F.concat(F.col("source"), F.lit(".txt")))
        .withColumn("chapter_number", F.lit(1))
        .withColumn("section_number", F.lit(1))
        .join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
    )
    out = str(tmp_path / "export")
    export_chunks_csv(chunks, out)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert files
    back = spark.read.option("header", True).csv(out)
    assert back.count() == chunks.count()
    emb_lits = [r.embedding_literal for r in back.limit(5).collect()]
    assert all(s.startswith("[") and s.endswith("]") for s in emb_lits)


def test_jdbc_sink_sql_generation():
    sink = JdbcUpsertSink(url="jdbc:postgresql://db/x", table="iris_semantic_search", key_columns=("document_id",))
    assert sink.delete_sql() == (
        'DELETE FROM iris_semantic_search WHERE EXISTS '
        '(SELECT 1 FROM iris_semantic_search_staging s '
        'WHERE s."document_id" = iris_semantic_search."document_id")'
    )
    assert sink.insert_sql(["document_id", "chunk_content"]).startswith(
        'INSERT INTO iris_semantic_search ("document_id", "chunk_content") SELECT'
    )
    assert sink.truncate_sql() == "TRUNCATE TABLE iris_semantic_search"
    with pytest.raises(ValueError):
        JdbcUpsertSink(url="u", table="t", key_columns=())


def test_snapshot_directory(spark, tmp_path):
    (tmp_path / "a.txt").write_text("hello")
    (tmp_path / ".hidden.txt").write_text("skip me")
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.pdf").write_text("x" * 100)
    snap = snapshot_directory(spark, str(tmp_path))
    rows = {r.file_name: r for r in snap.collect()}
    assert set(rows) == {"a.txt", "b.pdf"}
    assert rows["a.txt"].file_size == 5
    assert rows["b.pdf"].file_size == 100
    assert rows["a.txt"].date_last_modified is not None


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Refresh cycles add columns over time (the reference's master CSV
    grew columns across stage versions): old partitions must stay
    readable next to new ones via mergeSchema, with the missing column
    null-filled — the schema-evolution contract of the parquet layout."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("src"))
    v1.write.mode("overwrite").parquet(path)
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("src"), F.lit(2).alias("stage_version")
    )
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    assert set(back.columns) == {"id", "src", "stage_version"}
    assert back.count() == 8
    nulls = back.where(F.col("stage_version").isNull()).count()
    assert nulls == 5  # every v1 row null-fills the new column
    assert back.where(F.col("stage_version") == 2).count() == 3


def test_csv_quarantine_catches_malformed_rows(spark, tmp_path):
    """PERMISSIVE CSV ingest: good rows parse, torn rows land intact in
    the quarantine — nothing is dropped silently, nothing kills the
    job (the stage1/stage5 failure mode at scale)."""
    from pyspark.sql import types as T

    from iris_project_database_refresh_spark.sources.formats import read_csv_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,10\n"
        "2,beta,not_a_number\n"   # type mismatch -> quarantine
        "3,gamma,30\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.LongType()),
        ]
    )
    clean, bad = read_csv_quarantine(spark, str(p), schema)
    got = sorted((r.id, r.name, r.score) for r in clean.collect())
    assert got == [(1, "alpha", 10), (3, "gamma", 30)]
    quarantined = [r._corrupt_record for r in bad.collect()]
    assert quarantined == ["2,beta,not_a_number"]
