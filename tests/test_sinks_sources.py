from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq
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

    # the array cast renders every double as the former per-element
    # lambda did: NaN, infinities, -0.0, a null element (skipped by
    # array_join) and exponent forms
    def per_element(e):
        joined = F.array_join(F.transform(e, lambda x: x.cast("double").cast("string")), ",")
        return F.when(e.isNull() | (F.size(e) == 0), F.lit("")).otherwise(F.concat(F.lit("["), joined, F.lit("]")))

    inf = float("inf")
    edge = spark.createDataFrame(
        [([0.1, float("nan"), inf, -inf, -0.0, None, 1e-7, 1e21, -3.5e-12],), ([1.0, None],), (None,), ([],)],
        "embedding: array<double>",
    )
    rows = edge.select(pgvector_literal(F.col("embedding")), per_element(F.col("embedding"))).collect()
    assert [r[0] for r in rows] == [r[1] for r in rows]
    assert "NaN" in rows[0][0] and "-Infinity" in rows[0][0] and "E" in rows[0][0]


def _parse_float32(literal: str) -> np.ndarray:
    return np.array([np.float32(x) for x in literal[1:-1].split(",")], dtype=np.float32)


def _same_bits(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and bool((a.view(np.uint32) == b.view(np.uint32)).all())


def test_pgvector_literal_float32_round_trips_bit_exact(spark):
    """A float32 element renders at its own precision (Java's
    Float.toString), and every element parses back to the source's
    exact bits: the float4 pgvector stores."""
    rng = np.random.default_rng(20261019)
    normals = rng.standard_normal(2000).astype(np.float32)
    edges = np.array(
        [1.4e-45, -1.4e-45, 1.1754942e-38, 3e-40, 3.4028235e38, -3.4028235e38, -0.0, 0.0, 1e-7, 0.3, 1e-5, 1e21],
        dtype=np.float32,
    )
    scaled = (normals[:200] * np.float32(1e-30)).astype(np.float32)
    vectors = [normals, edges, scaled]
    lits = [
        r[0]
        for r in spark.createDataFrame([(v.tolist(),) for v in vectors], "embedding: array<float>")
        .select(pgvector_literal(F.col("embedding")))
        .collect()
    ]
    for v, lit in zip(vectors, lits):
        assert _same_bits(_parse_float32(lit), v)
    assert lits[1].split(",")[:2] == ["[1.4E-45", "-1.4E-45"] and "0.3" in lits[1].split(",")
    # a 2000-dim row: about 21,800 characters, where widening each
    # element to double printed about 39,000
    assert len(lits[0]) <= 32_001

    # NaN, infinities, null elements and NULL/empty arrays render as before
    inf = float("inf")
    special = spark.createDataFrame(
        [([float("nan"), inf, None, -inf],), ([1.0, None],), (None,), ([],)], "embedding: array<float>"
    ).select(pgvector_literal(F.col("embedding")))
    assert [r[0] for r in special.collect()] == ["[NaN,Infinity,-Infinity]", "[1.0]", "", ""]


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
    back = spark.read.option("header", True).csv(out).collect()
    assert len(back) == chunks.count()
    # every row's literal parses back to its document's embedding, bit for bit
    emb_tbl = pq.read_table(os.path.join(SF_CORRECT, "embeddings.parquet"), columns=["vec_id", "embedding"])
    want = {
        vid: np.asarray(e, dtype=np.float32)
        for vid, e in zip(emb_tbl.column("vec_id").to_pylist(), emb_tbl.column("embedding").to_pylist())
    }
    for r in back:
        assert _same_bits(_parse_float32(r.embedding_literal), want[int(r.document_id.removeprefix("DOC_"))])


def test_jdbc_sink_sql_generation():
    sink = JdbcUpsertSink(url="jdbc:postgresql://db/x", table="iris_semantic_search", key_columns=("document_id",))
    staging = sink.staging_name()
    assert staging.startswith("iris_semantic_search_stg_") and len(staging) == len("iris_semantic_search_stg_") + 12
    assert staging != sink.staging_name()
    assert sink.lock_sql() == "LOCK TABLE iris_semantic_search IN EXCLUSIVE MODE"
    assert sink.delete_sql("st") == (
        'DELETE FROM iris_semantic_search WHERE EXISTS '
        '(SELECT 1 FROM st s '
        'WHERE s."document_id" = iris_semantic_search."document_id")'
    )
    assert sink.insert_sql("st", ["document_id", "chunk_content"]) == (
        'INSERT INTO iris_semantic_search ("document_id", "chunk_content") '
        'SELECT "document_id", "chunk_content" FROM st'
    )
    assert sink.duplicate_keys_sql("st") == 'SELECT "document_id" FROM st GROUP BY "document_id" HAVING count(*) > 1'
    assert sink.truncate_sql() == "TRUNCATE TABLE iris_semantic_search"
    with pytest.raises(ValueError):
        JdbcUpsertSink(url="u", table="t", key_columns=())
    # PostgreSQL would truncate a staging name over 63 characters
    JdbcUpsertSink(url="u", table="t" * 46, key_columns=("k",))
    JdbcUpsertSink(url="u", table="public." + "t" * 46, key_columns=("k",))
    with pytest.raises(ValueError, match="truncates identifiers longer than 63"):
        JdbcUpsertSink(url="u", table="t" * 47, key_columns=("k",))


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


def test_load_table_reuses_its_inferred_schema(spark, tmp_path):
    """A second load of an unchanged table starts no Spark job (the
    schema is Spark's own, memoized per session) and still gives a fresh
    relation: a self-join of two loads resolves."""
    import pyarrow as pa

    from .conftest import job_group

    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), str(tmp_path / "documents.parquet"))
    first = load_table(spark, str(tmp_path), "documents")
    with job_group(spark, "load-table-warm") as jobs:
        second = load_table(spark, str(tmp_path), "documents")
    assert jobs == []
    assert second.schema == first.schema == spark.read.parquet(str(tmp_path / "documents.parquet")).schema
    a, b = first.alias("a"), second.alias("b")
    assert a.join(b, F.col("a.doc_id") == F.col("b.doc_id")).count() == 2


def test_load_table_infers_a_rewritten_table_again(spark, tmp_path):
    """A table rewritten in place with a different size or mtime is
    inferred again, so a new column shows."""
    import pyarrow as pa

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1]}), path)
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]
    pq.write_table(pa.table({"doc_id": [1], "text": ["a"]}), path)
    os.utime(path, ns=(os.stat(path).st_atime_ns, os.stat(path).st_mtime_ns + 10**9))
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
