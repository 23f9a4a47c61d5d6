"""Advanced operators: IVF ANN, BPE-ish token counting, winnowing.

* `knn_ivf` — the IVF(-flat) scale path for similarity search: a small
  deterministic codebook partitions vectors into cells; queries probe
  the NPROBE nearest cells and rerank only those candidates. At 100 TB
  the cell assignment is a narrow pass (codebook broadcast), the probe
  join touches NPROBE/NCELLS of the data, and cells can be written as
  partition keys so probes become partition-pruned scans. Complements
  the random-hyperplane LSH variant (`embeddings.knn_lsh`).
* `token_count_bpe` — subword-ish token counting: regex word/number/
  punctuation pieces, each split into ≤4-char units (a fixed-fanout
  stand-in for BPE merges; the reference estimates tokens as chars/3.5
  — `semantic search/stage_01_chapter_processing.py:314`).
* `doc_winnow` — winnowing document fingerprints (min rolling hash per
  sliding window, the standard local fingerprinting scheme): positional
  k-gram hashes → per-window minima → distinct fingerprint summary.

All three are pure built-in expressions with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

# --- IVF ---------------------------------------------------------------------

NCELLS = 16
NPROBE = 4
IVF_K = 10
IVF_QUERIES = 5  # vec_id < 5 are queries
CENTROID_BASE = 100  # vec_id in [100, 100+NCELLS) form the codebook


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cos(a, b):
    return F.round(_dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 6)


def _dot_sql(a: str, b: str) -> str:
    """Spark-SQL text of `_dot` over columns ``a`` and ``b`` — the
    identical analyzed expression (same zip_with/aggregate fold, same
    double-typed zero), built by one parser call instead of dozens of
    py4j Column-algebra round-trips. Callers hoist one-sided norms
    (``sqrt(_dot_sql(a, a))``) to the side of a join that owns them."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str) -> str:
    """Spark-SQL text of `_cos`: same fold, same 6dp round."""
    return f"round({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})), 6)"


def _ivf_scored_arrow(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, cell, ccos, best) for every vector against the IVF
    codebook, as ONE Arrow pass over the collected centroids (guide
    §4.2, the _ivf_pq_adc device) — instead of an interpreted 3-fold
    `_cos` per (vector, centroid) cross-join row plus a corpus-wide
    window (which shuffled every 64-dim vector just to pick its best
    cell). Centroids are a constant-bounded NCELLS-row set, so the
    collect is metadata-sized at any corpus. ccos is np.round(unit
    GEMM, 6) — the house 6dp cosine path — and the argmax rides the
    pass (first-max = min cell), so `assigned` is a filter on
    cell == best; probe rankings stay engine windows over the rounded
    scores, same (ccos desc, cell asc) order."""
    import numpy as np
    import pyarrow as pa

    crows = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in emb.where(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + NCELLS)
        ).collect()
    )
    from ..functions.vectors import unit_rows_np

    cm = np.array([cv for _, cv in crows], dtype=np.float64)
    if len(crows):
        cm = unit_rows_np(cm, "centroid")
    cell_ids = np.array([c for c, _ in crows], dtype=np.int64)

    def _cells(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or not len(cell_ids):
                continue
            vid = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            vmat = flat.reshape(n, cm.shape[1])
            vn = unit_rows_np(vmat)
            ccos = np.round(vn @ cm.T, 6)
            best = cell_ids[np.argmax(ccos, axis=1)]
            yield pa.record_batch(
                {
                    "vec_id": pa.array(np.repeat(vid, len(cell_ids)), pa.int64()),
                    "cell": pa.array(np.tile(cell_ids, n), pa.int64()),
                    "ccos": pa.array(ccos.ravel(), pa.float64()),
                    "best": pa.array(np.repeat(best, len(cell_ids)), pa.int64()),
                }
            )

    return emb.mapInArrow(_cells, "vec_id long, cell long, ccos double, best long")


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: assign every vector to its nearest codebook centroid, probe
    the NPROBE nearest cells per query, exact-rerank inside them.

    The codebook here is deterministic (vectors 100..115) so the oracle
    reproduces cells exactly; production would k-means it — assignment
    and probing are identical either way.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    scored = _ivf_scored_arrow(spark, emb)
    assigned = scored.where(F.col("cell") == F.col("best")).select("vec_id", "cell")

    # queries probe their NPROBE nearest cells
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    q_vecs = emb.where(F.col("vec_id") < IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    probes = (
        scored.where(F.col("vec_id") < IVF_QUERIES)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cell")
        .join(F.broadcast(q_vecs), "query_id")
    )

    av = assigned.join(emb, "vec_id")
    cand = av.join(
        F.broadcast(probes),
        (av.cell == probes.cell) & (av.vec_id != probes.query_id),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cos(F.col("q"), F.col("v")).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "cosine")
    )


KNN_IVF_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell, v AS cv FROM d
  WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + NCELLS}
), scored AS (
  SELECT vec_id, v, cell,
         round(list_dot_product(v, cv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM d CROSS JOIN cents
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r FROM scored
  ) WHERE r = 1
), probes AS (
  SELECT vec_id AS query_id, v AS q, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r FROM scored
  ) WHERE r <= {NPROBE} AND vec_id < {IVF_QUERIES}
), cand AS (
  SELECT DISTINCT query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(q, a.v) /
               (sqrt(list_dot_product(q, q)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= {IVF_K}
"""


# --- BPE-ish token counting --------------------------------------------------

BPE_UNIT = 4  # max chars per subword unit


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token estimate: regex pieces (letters / digits / other),
    each piece contributing ceil(len/BPE_UNIT) units — a deterministic
    stand-in for BPE merges, alongside whitespace and chars/3.5 counts."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    n_bpe = F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + F.ceil(F.length(p) / BPE_UNIT).cast("bigint"),
    )
    ws = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    est = F.floor(F.length("text") / 3.5).cast("bigint")
    return docs.select(
        "doc_id",
        "lang",
        n_bpe.alias("n_bpe_tokens"),
        ws.cast("bigint").alias("n_ws_tokens"),
        est.alias("n_est_tokens"),
        F.round(n_bpe / ws, 6).alias("bpe_per_word"),
    )


TOKEN_BPE_SQL = f"""
SELECT doc_id, lang,
       list_sum(list_transform(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                               p -> CAST(ceil(length(p) / {BPE_UNIT}.0) AS BIGINT)))::BIGINT AS n_bpe_tokens,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_ws_tokens,
       CAST(floor(length(text) / 3.5) AS BIGINT) AS n_est_tokens,
       round(list_sum(list_transform(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                                     p -> CAST(ceil(length(p) / {BPE_UNIT}.0) AS BIGINT)))
             / CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS DOUBLE), 6) AS bpe_per_word
FROM documents
"""


# --- winnowing fingerprints --------------------------------------------------

WINNOW_K = 3  # k-gram size (token trigrams, positional)
WINNOW_W = 4  # window of consecutive k-gram hashes; keep the min of each

_TH = "transform(filter(split(text, '\\\\s+'), t -> t != ''), t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
_GRAMS = f"transform(sequence(1, greatest(size(th) - {WINNOW_K - 1}, 1)), i -> CASE WHEN size(th) < {WINNOW_K} THEN coalesce(element_at(th, 1), 0L) ELSE ((element_at(th, i) * 31 + element_at(th, i + 1)) * 31 + element_at(th, i + 2)) % 4294967296 END)"
_WINNOWED = f"array_distinct(transform(sequence(1, greatest(size(grams) - {WINNOW_W - 1}, 1)), i -> array_min(slice(grams, i, {WINNOW_W}))))"


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint summary per document: positional k-gram
    rolling hashes, min per sliding window, distinct set. Guarantees a
    shared fingerprint for any sufficiently long shared substring —
    the property plagiarism/near-dup detectors build on."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.withColumn("th", F.expr(_TH))
        .withColumn("grams", F.expr(_GRAMS))
        .withColumn("fps", F.expr(_WINNOWED))
    )
    return d.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
        F.aggregate("fps", F.lit(0).cast("bigint"), lambda acc, x: (acc + x) % F.lit(2**61 - 1)).alias(
            "fp_sum_mod"
        ),
    )


DOC_WINNOW_SQL = f"""
WITH th_t AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
                        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS th
  FROM documents
), grams_t AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(th) - {WINNOW_K - 1}, 1)),
             i -> CASE WHEN len(th) < {WINNOW_K} THEN coalesce(th[1], 0)
                       ELSE ((th[i] * 31 + th[i + 1]) * 31 + th[i + 2]) % 4294967296 END) AS grams
  FROM th_t
), fps_t AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(grams) - {WINNOW_W - 1}, 1)),
             i -> list_min(list_slice(grams, i, i + {WINNOW_W - 1})))) AS fps
  FROM grams_t
)
SELECT doc_id,
       len(fps) AS n_fingerprints,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp,
       list_sum(list_transform(fps, x -> x % {2**61 - 1}))::BIGINT % {2**61 - 1} AS fp_sum_mod
FROM fps_t
"""


QUERIES = {
    "knn_ivf": knn_ivf,
    "token_count_bpe": token_count_bpe,
    "doc_winnow": doc_winnow,
}

ORACLES = {
    "knn_ivf": KNN_IVF_SQL,
    "token_count_bpe": TOKEN_BPE_SQL,
    "doc_winnow": DOC_WINNOW_SQL,
}


# --- IVF cell balance ---------------------------------------------------------
#
# Serving-health companion to knn_ivf / the persisted IVF index sink:
# cell-size skew decides ANN tail latency (a hot cell = a hot shard —
# every probe touching it pays the scan), so deployments watch the
# cell-occupancy histogram the way join planners watch key skew
# (join_key_skew_report's sibling for the vector index).  Load factor
# is n * NCELLS / total scaled to bp: 10000 = perfectly balanced,
# > 20000 (2x mean) flags the cell for a centroid re-train or split.
#
# Plan: the production assignment pass (broadcast 16-centroid
# codebook, narrow cosine argmax — no shuffle beyond the vec_id
# window) then an NCELLS-row aggregation; everything after the
# assignment is bounded by the codebook size.

def embed_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # Arrow cell scoring + in-pass argmax (see _ivf_scored_arrow):
    # assignment is a filter, not a corpus window
    assigned = (
        _ivf_scored_arrow(spark, emb)
        .where(F.col("cell") == F.col("best"))
        .select("vec_id", "cell")
    )
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = counts.agg(
        F.sum("n_vecs").alias("total"),
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n_vecs").alias("max_cell"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.expr("cast(n_vecs * 10000 div total as bigint)").alias("share_bp"),
        F.expr("cast(n_vecs * n_cells * 10000 div total as bigint)").alias("load_bp"),
        F.expr("cast(n_vecs * n_cells * 10000 div total > 20000 as int)").alias("hot_flag"),
        F.expr("cast(max_cell * n_cells * 10000 div total as bigint)").alias("worst_load_bp"),
    )


CELL_BALANCE_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell, v AS cv FROM d
  WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + NCELLS}
), scored AS (
  SELECT vec_id, cell,
         round(list_dot_product(v, cv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM d CROSS JOIN cents
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r FROM scored
  ) WHERE r = 1
), counts AS (
  SELECT cell, count(*)::BIGINT AS n_vecs FROM assigned GROUP BY cell
), tot AS (
  SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*)::BIGINT AS n_cells,
         CAST(max(n_vecs) AS BIGINT) AS max_cell
  FROM counts
)
SELECT cell, n_vecs,
       CAST(n_vecs * 10000 // total AS BIGINT) AS share_bp,
       CAST(n_vecs * n_cells * 10000 // total AS BIGINT) AS load_bp,
       CAST(n_vecs * n_cells * 10000 // total > 20000 AS INT) AS hot_flag,
       CAST(max_cell * n_cells * 10000 // total AS BIGINT) AS worst_load_bp
FROM counts, tot
"""

QUERIES["embed_cell_balance"] = embed_cell_balance
ORACLES["embed_cell_balance"] = CELL_BALANCE_SQL


# --- tokenizer fertility by language ------------------------------------------
#
# The tokenizer-bias measurement (public art: BPE fertility studies —
# tokens-per-word varies by language, inflating effective sequence
# cost for under-represented languages): per language label, total
# subword units over whitespace words (fertility) and the share of
# CONTINUATION units (units beyond each piece's first — what a ##-
# prefixed wordpiece would be).  Uses the same deterministic regex
# segmentation as token_count_bpe, so the two stay consistent.
#
# Plan: per-row array math, then one bounded per-lang aggregation —
# scan-rate, one tiny shuffle; exact integer bp outputs.

def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    n_bpe = F.aggregate(
        pieces,
        F.lit(0).cast("bigint"),
        lambda acc, p: acc + F.ceil(F.length(p) / BPE_UNIT).cast("bigint"),
    )
    per_doc = docs.select(
        "lang",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        .cast("bigint")
        .alias("ws"),
        n_bpe.alias("bpe"),
        F.size(pieces).cast("bigint").alias("pieces"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("n_words"),
            F.sum("bpe").alias("n_bpe_tokens"),
            F.sum("pieces").alias("n_pieces"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.expr("cast(n_bpe_tokens * 10000 div n_words as bigint)").alias(
                "fertility_bp"
            ),
            F.expr(
                "cast((n_bpe_tokens - n_pieces) * 10000 div n_bpe_tokens as bigint)"
            ).alias("continuation_bp"),
        )
    )


FERTILITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))::BIGINT AS ws,
         list_sum(list_transform(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                  p -> CAST(ceil(length(p) / {BPE_UNIT}.0) AS BIGINT)))::BIGINT AS bpe,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS pieces
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ws) AS BIGINT) AS n_words,
       CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(CAST(sum(bpe) AS BIGINT) * 10000 // CAST(sum(ws) AS BIGINT) AS BIGINT) AS fertility_bp,
       CAST((CAST(sum(bpe) AS BIGINT) - CAST(sum(pieces) AS BIGINT)) * 10000
            // CAST(sum(bpe) AS BIGINT) AS BIGINT) AS continuation_bp
FROM per_doc GROUP BY lang
"""

QUERIES["tokenizer_fertility_by_lang"] = tokenizer_fertility_by_lang
ORACLES["tokenizer_fertility_by_lang"] = FERTILITY_SQL


# --- IVF nprobe sweep ---------------------------------------------------------
#
# The IVF tuning table (dedup_band_sweep's sibling for the vector
# index): the SAME assignment and probe rankings evaluated at nprobe
# in {1, 2, 4, 8}, reporting recall@K against the exact top-K next to
# the candidate volume each setting scans — the recall-vs-cost curve
# an ANN deployment reads before pinning nprobe (more probes = more
# recall = more scanned cells, the textbook trade).
#
# Plan economics: ONE query-corpus exact scoring pass (pinned — feeds
# both the truth ranking and candidate rerank), ONE assignment pass;
# candidate sets nest across nprobe values, so the sweep explodes each
# candidate to the configs that include it (per-cell probe rank <=
# nprobe) instead of re-running the index per config.  Windows run per
# (config, query) over candidate sets, never the corpus.

NPROBE_SWEEP = (1, 2, 4, 8)


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # Arrow cell scoring + in-pass argmax (see _ivf_scored_arrow)
    scored = _ivf_scored_arrow(spark, emb)
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    assigned = scored.where(F.col("cell") == F.col("best")).select("vec_id", "cell")
    queries = emb.where(F.col("vec_id") < IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    allcos = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "v")
        .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cos(F.col("q"), F.col("v")).alias("cosine"))
        .localCheckpoint(eager=False)  # one pass feeds truth + every rerank
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    truth = (
        allcos.withColumn("rank", F.row_number().over(wt))
        .where(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id")
    )
    pranks = (
        scored.where(F.col("vec_id") < IVF_QUERIES)
        .withColumn("prank", F.row_number().over(w))
        .select(F.col("vec_id").alias("query_id"), "cell", "prank")
    )
    cand = (
        assigned.join(F.broadcast(pranks), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "prank")
        .join(allcos, ["query_id", "neighbor_id"])
    )
    sweep = cand.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.explode(
            F.filter(
                F.array(*[F.lit(p) for p in NPROBE_SWEEP]),
                lambda p: p >= F.col("prank"),
            )
        ).alias("nprobe"),
    ).localCheckpoint(eager=False)
    vol = sweep.groupBy("nprobe").agg(F.count(F.lit(1)).alias("cand_rows"))
    ws = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    hits = (
        sweep.withColumn("rank", F.row_number().over(ws))
        .where(F.col("rank") <= IVF_K)
        .join(truth, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("total_hits"))
    )
    nq = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        vol.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            F.col("n_queries").cast("bigint").alias("n_queries"),
            F.coalesce(F.col("total_hits"), F.lit(0)).cast("bigint").alias("total_hits"),
            F.expr(
                f"cast(coalesce(total_hits, 0) * 10000 div ({IVF_K} * n_queries) as bigint)"
            ).alias("recall_bp"),
            F.col("cand_rows").cast("bigint").alias("cand_rows"),
            F.expr("cast(cand_rows div n_queries as bigint)").alias("cands_per_query"),
        )
    )


IVF_SWEEP_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cell, v AS cv FROM d
  WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + NCELLS}
), scored AS (
  SELECT vec_id, cell,
         round(list_dot_product(v, cv) /
               (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM d CROSS JOIN cents
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r FROM scored
  ) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < {IVF_QUERIES}
), allcos AS (
  SELECT query_id, d.vec_id AS neighbor_id,
         round(list_dot_product(qv, d.v) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(d.v, d.v))), 6) AS cosine
  FROM q JOIN d ON d.vec_id <> q.query_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM allcos
  ) WHERE rank <= {IVF_K}
), pranks AS (
  SELECT vec_id AS query_id, cell, r AS prank FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS r FROM scored
  ) WHERE vec_id < {IVF_QUERIES}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.prank, c.cosine
  FROM assigned a
  JOIN pranks p ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN allcos c ON c.query_id = p.query_id AND c.neighbor_id = a.vec_id
), sweep AS (
  SELECT query_id, neighbor_id, cosine, np AS nprobe
  FROM cand, (SELECT unnest([{", ".join(str(p) for p in NPROBE_SWEEP)}]) AS np)
  WHERE np >= prank
), vol AS (
  SELECT nprobe, count(*)::BIGINT AS cand_rows FROM sweep GROUP BY nprobe
), hits AS (
  SELECT nprobe, count(*)::BIGINT AS total_hits FROM (
    SELECT nprobe, query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM sweep
    ) WHERE rank <= {IVF_K}
  ) t JOIN truth USING (query_id, neighbor_id)
  GROUP BY nprobe
), nq AS (SELECT count(*)::BIGINT AS n_queries FROM q)
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       n_queries,
       CAST(coalesce(total_hits, 0) AS BIGINT) AS total_hits,
       CAST(coalesce(total_hits, 0) * 10000 // ({IVF_K} * n_queries) AS BIGINT) AS recall_bp,
       cand_rows,
       CAST(cand_rows // n_queries AS BIGINT) AS cands_per_query
FROM vol LEFT JOIN hits USING (nprobe), nq
"""

QUERIES["ivf_nprobe_sweep"] = ivf_nprobe_sweep
ORACLES["ivf_nprobe_sweep"] = IVF_SWEEP_SQL
