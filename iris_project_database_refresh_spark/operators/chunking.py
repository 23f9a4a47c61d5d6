"""Document structuring: sections, chunks, token stats, continuity.

Reference parity:
* `semantic search/stage_03_content_chunking.py:61-63` — Stage3Chunker
  packs 500-750 tokens per chunk (hard max 800). Here the same
  token-window packing runs as a pure Catalyst expression
  (split → sequence → transform → posexplode); the chunk size is the
  module constant `CHUNK_TOKENS`, scaled to the synthetic corpus.
* `semantic search/stage_02_section_processing.py:1075`
  hierarchical_split_sections + 1145 merge_small_sections — coarser
  windows with a breadcrumb hierarchy string
  (`generate_hierarchy_string`, line 1118).
* `semantic search/stage_02b_section_page_correction.py:670`
  validate_and_fix_continuity — re-expressed as window lag/lead
  boundary checks.

Scale: chunking/sectioning is embarrassingly parallel per document —
no shuffle at all (posexplode is a narrow transform). At 100 TB the
whole stage is scan-limited; that's the point of keeping it out of
Python. Continuity needs one shuffle on doc_id (uniform key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.tables import load_table

# Reference constants (stage_03_content_chunking.py:61-63), kept for the
# real-corpus configuration.
REF_MIN_TOKENS = 500
REF_MAX_TOKENS = 750
REF_HARD_MAX_TOKENS = 800

# Synthetic-corpus defaults: docs are 25-120 tokens, so scale windows
# down to exercise multi-chunk/multi-section splits.
CHUNK_TOKENS = 32
SECTION_TOKENS = 64


def _windows(toks: str, size: int) -> Column:
    """Array of token windows of `size` (last may be short) over the
    token-array column named `toks`. The column must already hold the
    tokens: Spark evaluates the lambda once per window, so a tokeniser
    inside it would re-split the whole text for every window."""
    n_windows = F.ceil(F.size(toks) / F.lit(size)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.slice(toks, i * size + 1, size),
    )


def _tokenised(docs: DataFrame) -> DataFrame:
    """documents as (doc_id, source, toks): `text` tokenised once."""
    return docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))


def chunks_from_documents(docs: DataFrame) -> DataFrame:
    """Token windows of `CHUNK_TOKENS` per document of ``docs``."""
    return _tokenised(docs).select(
        "doc_id",
        "source",
        F.posexplode(_windows("toks", CHUNK_TOKENS)).alias("chunk_number", "window"),
    ).select(
        "doc_id",
        "source",
        (F.col("chunk_number") + 1).cast("bigint").alias("chunk_number"),  # 1-based like the reference
        F.array_join("window", " ").alias("chunk_content"),
        F.size("window").cast("bigint").alias("chunk_tokens"),
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunks_from_documents(load_table(spark, sf_dir, "documents"))


CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM documents
), expanded AS (
  SELECT doc_id, source, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS INT) - 1)) AS i
  FROM t
)
SELECT doc_id, source,
       i + 1 AS chunk_number,
       array_to_string(list_slice(toks, i * {CHUNK_TOKENS} + 1, (i + 1) * {CHUNK_TOKENS}), ' ') AS chunk_content,
       len(list_slice(toks, i * {CHUNK_TOKENS} + 1, (i + 1) * {CHUNK_TOKENS})) AS chunk_tokens
FROM expanded
"""


def sections_from_documents(docs: DataFrame) -> DataFrame:
    """Coarse `SECTION_TOKENS` sections with hierarchy breadcrumbs
    (source > doc > section)."""
    sec = _tokenised(docs).select(
        "doc_id",
        "source",
        F.size("toks").alias("doc_tokens"),
        F.posexplode(_windows("toks", SECTION_TOKENS)).alias("idx", "window"),
    )
    return sec.select(
        "doc_id",
        "source",
        (F.col("idx") + 1).cast("bigint").alias("section_number"),
        F.concat(
            F.col("source"), F.lit(" > doc_"), F.col("doc_id"), F.lit(" > sec_"), F.col("idx") + 1
        ).alias("hierarchy"),
        F.array_join("window", " ").alias("section_content"),
        F.size("window").cast("bigint").alias("section_tokens"),
        F.ceil(F.col("doc_tokens") / F.lit(SECTION_TOKENS)).cast("int").alias("n_sections"),
    )


def section_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sections_from_documents(load_table(spark, sf_dir, "documents"))


SECTION_SQL = f"""
WITH t AS (
  SELECT doc_id, source, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM documents
), expanded AS (
  SELECT doc_id, source, toks,
         CAST(ceil(len(toks) / {SECTION_TOKENS}.0) AS INT) AS n_sections,
         unnest(generate_series(0, CAST(ceil(len(toks) / {SECTION_TOKENS}.0) AS INT) - 1)) AS i
  FROM t
)
SELECT doc_id, source,
       i + 1 AS section_number,
       source || ' > doc_' || doc_id || ' > sec_' || (i + 1) AS hierarchy,
       array_to_string(list_slice(toks, i * {SECTION_TOKENS} + 1, (i + 1) * {SECTION_TOKENS}), ' ') AS section_content,
       len(list_slice(toks, i * {SECTION_TOKENS} + 1, (i + 1) * {SECTION_TOKENS})) AS section_tokens,
       n_sections
FROM expanded
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per (lang, source) — the rollup stage_01
    prints per chapter (token counts before LLM calls)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    per_doc = docs.select(
        "lang", "source", F.size(toks).alias("n_tokens"), F.length("text").alias("n_chars")
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


TOKEN_COUNT_SQL = """
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))) AS BIGINT) AS total_tokens,
       round(avg(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))), 6) AS avg_tokens,
       max(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))) AS max_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
"""


def section_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary/continuity audit over chunks (stage_02b/03b semantics):
    token start/end offsets per chunk plus a gap flag against the
    previous chunk's end."""
    chunks = chunk_documents(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("chunk_number")
    start = F.sum("chunk_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    return chunks.select(
        "doc_id",
        "chunk_number",
        "chunk_tokens",
        F.coalesce(start, F.lit(0)).alias("start_token"),
        (F.coalesce(start, F.lit(0)) + F.col("chunk_tokens")).alias("end_token"),
        F.coalesce(F.lag("chunk_tokens").over(w), F.lit(0)).alias("prev_chunk_tokens"),
        (
            F.coalesce(F.lag("chunk_tokens").over(w), F.lit(0)) < F.lit(CHUNK_TOKENS)
        ).cast("int").alias("prev_was_short"),
    )


CONTINUITY_SQL = f"""
WITH chunks AS ({CHUNK_SQL.strip()})
SELECT doc_id, chunk_number, chunk_tokens,
       CAST(coalesce(sum(chunk_tokens) OVER w_prev, 0) AS BIGINT) AS start_token,
       CAST(coalesce(sum(chunk_tokens) OVER w_prev, 0) + chunk_tokens AS BIGINT) AS end_token,
       coalesce(lag(chunk_tokens) OVER w_ord, 0) AS prev_chunk_tokens,
       CAST(coalesce(lag(chunk_tokens) OVER w_ord, 0) < {CHUNK_TOKENS} AS INT) AS prev_was_short
FROM chunks
WINDOW w_ord AS (PARTITION BY doc_id ORDER BY chunk_number),
       w_prev AS (PARTITION BY doc_id ORDER BY chunk_number
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


QUERIES = {
    "chunk_documents": chunk_documents,
    "section_split": section_split,
    "token_count": token_count,
    "section_continuity": section_continuity,
}

ORACLES = {
    "chunk_documents": CHUNK_SQL,
    "section_split": SECTION_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "section_continuity": CONTINUITY_SQL,
}


# --- per-chunk validation gate (stage_05 semantics) --------------------------
#
# Reference parity: `semantic search/stage_05_csv_export.py:407`
# ``validate_chunk`` — required fields (document_id, filename,
# chunk_number, chunk_content non-null/non-empty), embedding
# dimensionality (2000 in the reference; EMBED_DIM-scaled here), and
# integer-coercibility of page/number fields. Defects are planted
# deterministically (missing filename, emptied content, short
# embedding, non-numeric page string) so every check path fires, and
# identically in the oracle. Pure per-row expressions — scan-rate,
# no shuffle beyond chunk_documents itself.

VALIDATE_DIM = 16  # stands in for the reference's 2000-dim pgvector


def chunk_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_documents(spark, sf_dir)
    key = F.col("doc_id") + F.col("chunk_number")
    filename = F.when(
        F.col("doc_id") % 11 != 3,
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".md")),
    )
    content = F.when(key % 17 == 4, F.lit("")).otherwise(F.col("chunk_content"))
    emb = F.sequence(F.lit(1), F.when(key % 19 == 6, VALIDATE_DIM - 1).otherwise(F.lit(VALIDATE_DIM)))
    page_str = F.when(key % 23 == 7, F.lit("x")).otherwise(F.col("chunk_number").cast("string"))

    err_missing = (filename.isNull() | (content == "")).cast("int")
    err_emb = (F.size(emb) != VALIDATE_DIM).cast("int")
    err_int = page_str.try_cast("int").isNull().cast("int")
    n_errors = err_missing + err_emb + err_int
    return chunks.select(
        "doc_id",
        "chunk_number",
        err_missing.alias("err_missing_field"),
        err_emb.alias("err_embedding_dim"),
        err_int.alias("err_non_integer"),
        n_errors.cast("bigint").alias("n_errors"),
        (n_errors == 0).cast("int").alias("is_valid"),
    )


CHUNK_VALIDATE_SQL = f"""
WITH chunks AS ({{chunk_sql}})
SELECT doc_id, chunk_number,
       CAST(fname IS NULL OR content = '' AS INT) AS err_missing_field,
       CAST(edim <> {VALIDATE_DIM} AS INT) AS err_embedding_dim,
       CAST(TRY_CAST(pstr AS INT) IS NULL AS INT) AS err_non_integer,
       CAST(CAST(fname IS NULL OR content = '' AS INT)
            + CAST(edim <> {VALIDATE_DIM} AS INT)
            + CAST(TRY_CAST(pstr AS INT) IS NULL AS INT) AS BIGINT) AS n_errors,
       CAST(CAST(fname IS NULL OR content = '' AS INT)
            + CAST(edim <> {VALIDATE_DIM} AS INT)
            + CAST(TRY_CAST(pstr AS INT) IS NULL AS INT) = 0 AS INT) AS is_valid
FROM (
  SELECT doc_id, chunk_number,
         CASE WHEN doc_id % 11 <> 3 THEN 'doc_' || doc_id || '.md' END AS fname,
         CASE WHEN (doc_id + chunk_number) % 17 = 4 THEN '' ELSE chunk_content END AS content,
         CASE WHEN (doc_id + chunk_number) % 19 = 6 THEN {VALIDATE_DIM - 1} ELSE {VALIDATE_DIM} END AS edim,
         CASE WHEN (doc_id + chunk_number) % 23 = 7 THEN 'x' ELSE CAST(chunk_number AS VARCHAR) END AS pstr
  FROM chunks
)
""".format(chunk_sql=CHUNK_SQL.strip())

QUERIES["chunk_validate"] = chunk_validate
ORACLES["chunk_validate"] = CHUNK_VALIDATE_SQL


# --- lossless-reassembly audit of the chunker --------------------------------
#
# The fidelity gate the structuring family promises but never proved
# as one graded query: re-deriving a document from its chunks must be
# LOSSLESS up to whitespace normalization (chunks are token windows,
# so single-space rejoin is the invariant). Per doc: chunks reassemble
# via sort_array(collect_list(struct(chunk_number, content))) — the
# per-key array device, bounded by document size — and the md5 of the
# rejoined text must equal the md5 of the whitespace-normalized
# original; token conservation is audited beside it. One shuffle on
# doc_id; the equality flags make any chunker regression a
# CORRECTNESS failure, not just a unit-test failure.

def chunk_reconstruct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_documents(spark, sf_dir)
    reassembled = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").alias("tokens_total"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_number", "chunk_content"))),
                lambda s: s["chunk_content"],
            ),
            " ",
        ).alias("rejoined"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("original_md5"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("original_tokens"),
    )
    return reassembled.join(docs, "doc_id").select(
        "doc_id",
        "n_chunks",
        "tokens_total",
        "original_tokens",
        (F.md5("rejoined") == F.col("original_md5")).cast("int").alias("lossless"),
        (F.col("tokens_total") == F.col("original_tokens")).cast("int").alias("tokens_conserved"),
    )


CHUNK_RECONSTRUCT_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM documents
), expanded AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS INT) - 1)) AS i
  FROM t
), chunks AS (
  SELECT doc_id, i + 1 AS chunk_number,
         array_to_string(list_slice(toks, i * {CHUNK_TOKENS} + 1, (i + 1) * {CHUNK_TOKENS}), ' ') AS chunk_content,
         len(list_slice(toks, i * {CHUNK_TOKENS} + 1, (i + 1) * {CHUNK_TOKENS})) AS chunk_tokens
  FROM expanded
), reassembled AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(chunk_tokens) AS BIGINT) AS tokens_total,
         list_aggregate(
           list_transform(list_sort(list(struct_pack(chunk_number := chunk_number, chunk_content := chunk_content))),
                          s -> s.chunk_content), 'string_agg', ' ') AS rejoined
  FROM chunks GROUP BY doc_id
)
SELECT r.doc_id, r.n_chunks, r.tokens_total,
       CAST(len(t.toks) AS BIGINT) AS original_tokens,
       CAST(md5(r.rejoined) = md5(array_to_string(t.toks, ' ')) AS INT) AS lossless,
       CAST(r.tokens_total = len(t.toks) AS INT) AS tokens_conserved
FROM reassembled r JOIN t USING (doc_id)
"""

QUERIES["chunk_reconstruct_audit"] = chunk_reconstruct_audit
ORACLES["chunk_reconstruct_audit"] = CHUNK_RECONSTRUCT_SQL
