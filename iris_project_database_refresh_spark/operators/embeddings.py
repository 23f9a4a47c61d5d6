"""Embedding generation & similarity search.

Reference parity: `semantic search/stage_04_embedding_generation.py:444`
(get_embeddings_batch → 2000-dim vectors) and the pgvector similarity
queries the iris_semantic_search table serves
(`database-schema.sql:245`, `database-schema.sql:115` "Vector Search").
The API-backed embedder is replaced by a deterministic feature-hash
embedding (oracle-checkable); similarity search runs as brute-force
exact top-k (the correctness baseline) and a random-hyperplane LSH
variant (the 100 TB path).

Scale design:
* queries/planes are tiny → broadcast; the big side is streamed once.
* brute-force knn: per-partition partial top-k happens inside the
  window agg's partial sort; at production scale you'd swap the window
  for an RDD-free ``F.min_by``-style partial aggregation or IVF — the
  LSH variant here is that path: bucket join shrinks candidates by the
  bucket fan-in before any ranking.
* all vector math is zip_with/aggregate on array<double> — JVM
  codegen, no Python, no UDF serialization on the 100 TB side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.plan_memo import plan_memo
from ..functions.text import md5_int32, tokens

EMBED_DIM = 16  # feature-hash embedding dims
KNN_K = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
PAIR_TAU = 0.4
_PREFIX_DIMS = 8  # prefix length for the Cauchy-Schwarz prefilter bound
LSH_PLANES = 4  # 4-bit buckets → 16 buckets (the FLOOR — see _lsh_planes)
# Hyperplane count scales with the corpus (round-7 scale-probe fix, the
# semantic_dedup device): FIXED planes mean bucket membership grows ∝ N
# and the same-bucket pair join goes quadratic (dedup_embedding_lsh
# measured 13.7x wall at a 16x corpus). np = smallest plane count whose
# 2^np buckets hold <= LSH_BUCKET_TARGET rows each, floored at
# LSH_PLANES — integer-exact (ceil-div + bit_length), so the DuckDB
# oracle computes the SAME np from the same count and parity holds at
# every corpus size; at the test SFs (N <= 4000) np stays LSH_PLANES
# and the verified outputs are bit-unchanged.
LSH_BUCKET_TARGET = 250


def _lsh_planes(n_vecs: int) -> int:
    m = (n_vecs + LSH_BUCKET_TARGET - 1) // LSH_BUCKET_TARGET
    return max(LSH_PLANES, (m - 1).bit_length())


_N_CACHE: dict[tuple, int] = {}


def _corpus_sig(sf_dir: str) -> tuple:
    """Cache key for the np memo: (dir, mtime_ns + size of every file
    under embeddings.parquet). An in-place refresh of the corpus (the
    incremental-refresh scenario) changes the signature and forces a
    recount — a key on sf_dir alone would keep a stale np while the
    DuckDB oracle recomputes count(*) live (r7 ADVICE)."""
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(p):
            sig = tuple(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in sorted(os.scandir(p), key=lambda e: e.name)
            )
        else:
            st = os.stat(p)
            sig = ((p, st.st_mtime_ns, st.st_size),)
    except OSError:
        # non-local path (hdfs:/s3:) — no cheap signature; disable the
        # memo rather than risk staleness
        sig = None
    return (sf_dir, sig)


def _corpus_rows(spark: SparkSession, sf_dir: str) -> int:
    """Embedding-corpus row count, memoized per content signature — the
    count is footer metadata, so one job per (dir, corpus state) per
    session; a production refresh would read the row count off its
    catalog. Feeds both the plane-count formula (`_planes_for`) and the
    exact→ANN backend dispatch (`SIM_EXACT_MAX`)."""
    key = _corpus_sig(sf_dir)
    if key[1] is None or key not in _N_CACHE:
        _N_CACHE[key] = load_table(spark, sf_dir, "embeddings").count()
    return _N_CACHE[key]


def _planes_for(spark: SparkSession, sf_dir: str) -> int:
    """np for a corpus dir — `_lsh_planes` over the memoized count."""
    return _lsh_planes(_corpus_rows(spark, sf_dir))


_DIM_CACHE: dict[tuple, int | None] = {}


def _embed_dim(sf_dir: str) -> int | None:
    """Embedding width, proven from the local parquet without a Spark
    job (plan construction stays action-free). Resolution order:

    * ``fixed_size_list`` schema type — width is uniform by TYPE, no
      data read at all;
    * plain ``list`` type — one pyarrow batch (first 64 rows); width
      is taken only if every valid row in the batch agrees.

    None for non-local paths, empty corpora, or any width disagreement
    in the verified prefix — callers then fall back to the per-row md5
    bucket expression, which is bit-identical, just slower (see
    `_bucket_expr_lit`). Contract: plain-list corpora are assumed
    fixed-dim past the verified prefix (the testdata generator and the
    reference's VECTOR(2000) column are both fixed-width); a corpus
    ragged only beyond row 64 is out of contract for the fast path."""
    import os

    key = _corpus_sig(sf_dir)
    if key[1] is None:
        return None
    if key not in _DIM_CACHE:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        dim = None
        p = os.path.join(sf_dir, "embeddings.parquet")
        try:
            if os.path.isdir(p):
                fp = next(
                    e.path
                    for e in sorted(os.scandir(p), key=lambda e: e.name)
                    if e.name.endswith(".parquet")
                )
            else:
                fp = p
            pf = pq.ParquetFile(fp)
            typ = pf.schema_arrow.field("embedding").type
            if pat.is_fixed_size_list(typ):
                dim = typ.list_size
            else:
                for batch in pf.iter_batches(batch_size=64, columns=["embedding"]):
                    widths = {
                        len(batch.column(0)[i].values)
                        for i in range(len(batch))
                        if batch.column(0)[i].is_valid
                    }
                    dim = widths.pop() if len(widths) == 1 else None
                    break
        except (OSError, StopIteration, KeyError):
            dim = None
        _DIM_CACHE[key] = dim
    return _DIM_CACHE[key]


def _npl_sql() -> str:
    """CTE computing the same np as ``_lsh_planes`` (bin-length device)."""
    return (
        f"npl AS (SELECT greatest({LSH_PLANES}, CASE WHEN m <= 1 THEN 0"
        " ELSE length(bin(m - 1)) END) AS np FROM"
        f" (SELECT CAST((count(*) + {LSH_BUCKET_TARGET - 1}) // {LSH_BUCKET_TARGET} AS BIGINT) AS m"
        " FROM embeddings))"
    )


def _bucket_sql_dyn(vcol: str) -> str:
    """SQL bucket id (dynamic np): same per-(plane, dim) md5
    weight, plane index from range(np) instead of a compile-time
    unroll — bit-identical buckets for equal np."""
    w = (
        "CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '_' ||"
        " CAST(d AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    proj = (
        f"list_sum(list_transform(generate_series(1, len({vcol})), d -> {vcol}[d] * ({w})))"
    )
    return (
        "CAST(list_sum(list_transform(range(0, np), p ->"
        f" CASE WHEN {proj} > 0 THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT)"
    )


def _plane_weights_py(offset: int, n_planes: int, dim: int) -> list[list[float]]:
    """The ±1 plane weights as Python constants — the SAME md5-derived
    stream `_plane_weight` / `_bucket_sql_dyn` evaluate per row
    (hashlib md5 of "{plane}_{dim}" == both engines' md5), hoisted to
    plan time because the weight is a (plane, dim) CONSTANT: hashing it
    per row costs O(np·d) md5 calls per vector, which dominated the
    swapped-path 16x probe wall."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{offset + p}_{d}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1.0
            for d in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def _bucket_expr_lit(v, weights: list[list[float]]):
    """LSH bucket id with the plane weights inlined as array literals —
    bit-identical to `_bucket_expr` (same md5 stream, see
    `_plane_weights_py`) with the per-row hashing folded away."""
    bucket = F.lit(0)
    for p, w in enumerate(weights):
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in w]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _bucket_sql_band(vcol: str, band: str) -> str:
    """SQL bucket id for band ``band`` (an integer SQL expression):
    planes [band·np, (band+1)·np) of the same md5 weight stream as
    `_bucket_sql_dyn`, bit position local to the band — the DuckDB twin
    of ``_bucket_expr(v, np, offset=band*np)``."""
    w = (
        "CASE WHEN CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '_' ||"
        " CAST(d AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    proj = (
        f"list_sum(list_transform(generate_series(1, len({vcol})), d -> {vcol}[d] * ({w})))"
    )
    return (
        f"CAST(list_sum(list_transform(range(({band}) * np, (({band}) + 1) * np), p ->"
        f" CASE WHEN {proj} > 0 THEN (1::BIGINT << (p - ({band}) * np)) ELSE 0 END)) AS BIGINT)"
    )


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


# --- deterministic feature-hash embedding -----------------------------------

def embed_documents(docs: DataFrame) -> DataFrame:
    """Hash each token into one of EMBED_DIM buckets; dims are bucket
    counts. Stands in for stage_04's API embedder with a function both
    engines compute bit-identically (md5-derived bucket)."""
    # hash every token once into its bucket id, THEN count per dim —
    # 16 filters over a small int array instead of 16 md5 passes.
    buckets = F.transform(tokens(F.col("text")), lambda t: md5_int32(t) % EMBED_DIM)
    # The counts as SQL text: one parse, where a Python lambda per dim
    # costs a dozen py4j round trips to build.
    return docs.withColumn("buckets", buckets).selectExpr(
        "doc_id", *[f"CAST(size(filter(buckets, b -> b = {k})) AS BIGINT) AS e{k}" for k in range(EMBED_DIM)]
    )


def embed_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embed_documents(load_table(spark, sf_dir, "documents"))


EMBED_SQL = f"""
SELECT doc_id,
       {", ".join(
           "len(list_filter(toks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % "
           f"{EMBED_DIM} = {k})) AS e{k}"
           for k in range(EMBED_DIM)
       )}
FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM documents)
"""


# --- exact brute-force top-k -------------------------------------------------

@plan_memo
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for the first N_QUERIES vectors.

    The query set is broadcast (k×d doubles — bytes); the embedding
    table streams through once. Ranking uses the rounded cosine so the
    order is reproducible across engines' float summation.

    Session-memoized (functions/plan_memo.py): this IS the shared
    ground-truth frame every recall harness joins against — the staged
    intermediate a refresh computes once.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q"),
        F.sqrt(_dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    scored = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("v"))
        .withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            # norms factored out per row — one dot per pair, same tree
            F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "cosine")
    )


KNN_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
  FROM q JOIN n ON n.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {KNN_K}
"""


# --- random-hyperplane LSH ANN ----------------------------------------------

def _plane_weight(p: int):
    """±1 weight for (plane, dim) derived from md5 — portable constant."""
    return lambda d: F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{p}_"), d.cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def _bucket_expr(v, n_planes: int = LSH_PLANES, offset: int = 0):
    """LSH bucket id: bit p = sign(dot(v, plane_{offset+p})) with ±1
    planes. ``offset`` indexes into the same md5 plane stream so band b
    of a multi-band scheme uses planes [b·np, (b+1)·np) — band 0 is
    bit-identical to the historical single-band bucket."""
    bucket = F.lit(0)
    for p in range(n_planes):
        w = _plane_weight(offset + p)
        proj = F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(1), F.size(v)),
                lambda x, d: x * w(d),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: candidates restricted to the query's hyperplane bucket.

    Same output shape as knn_brute_force; recall is the LSH trade-off
    (measured in tests against the exact result). At 100 TB the bucket
    join replaces the full cross product — the plane count scales with
    the corpus (np = _lsh_planes(N), one metadata-only count) so bucket
    membership — the per-query candidate set — stays ~LSH_BUCKET_TARGET
    rows at any N; planes are plan-time constants, no second table read.
    """
    np_ = _planes_for(spark, sf_dir)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("bucket", _bucket_expr(F.col("v"), np_))
        .withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q"),
        F.col("bucket").alias("qb"),
        F.col("vn").alias("qn"),
    )
    scored = (
        emb.alias("c")
        .join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("c.vn")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "cosine")
    )


KNN_LSH_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {_npl_sql()}, bucketed AS (
  SELECT vec_id, v, {_bucket_sql_dyn("v")} AS bucket,
         sqrt(list_dot_product(v, v)) AS nrm
  FROM d, npl
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket AS qb, nrm AS qn
  FROM bucketed WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(qv, c.v) / (qn * c.nrm), 6) AS cosine
  FROM q JOIN bucketed c ON c.bucket = q.qb AND c.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {KNN_K}
"""


# --- embedding near-duplicate pairs -----------------------------------------

SIM_BLOCKS = 4  # block-grid factor; scale as ceil(n·d·8B / executor_budget)

# --- exact→ANN backend dispatch (round-9 scale mechanization) ----------------
#
# The blocked GEMM is exact all-pairs: O(n²d) FLOPs however the blocks
# are cut (the r7 16x probe measured 46.6x/18.3x wall for knn_graph /
# similarity_pairs — quadratic by definition, correctly attributed).
# Until round 9 the sub-quadratic remedy lived only in docstrings
# ("swap LSH/IVF candidate generation at scale"). This dispatch
# mechanizes it, the `_lsh_planes` pattern applied to the BACKEND
# rather than a parameter: at corpus row counts <= SIM_EXACT_MAX the
# exact blocked GEMM runs bit-unchanged (every test SF and the sf0.1
# bench corpus are below it, so all committed outputs, driver hashes
# and standing values are untouched); above it, candidate generation
# routes through SIM_BANDS band-salted hyperplane bucketings (the
# OR-amplified LSH construction dedup_minhash_lsh uses) and the exact
# scoring GEMM runs per (band, bucket) — O(n · LSH_BUCKET_TARGET · d)
# FLOPs total, linear in n because `_lsh_planes` holds bucket size at
# ~LSH_BUCKET_TARGET for any corpus. The switched path is APPROXIMATE
# (recall < 1 at low cosine; measured against the exact grain in
# tests/test_embeddings.py and by the ann_recall_eval harness family)
# but fully deterministic: both engines compute the same bands from
# the same md5 plane stream, so the DuckDB oracle reproduces the
# swapped answer exactly — the count-gated branches live in the
# production SQL strings and the threshold/band constants are pinned
# cross-engine in tests/test_scale_params.py.
SIM_EXACT_MAX = 4096  # corpus rows; above → banded-LSH candidate generation
SIM_BANDS = 4  # OR-amplification bands for the swapped path


def _banded_buckets(
    emb: DataFrame, np_: int, dim: int | None, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, embedding, *extra, band, bucket): SIM_BANDS band-salted
    hyperplane bucketings computed in ONE pass (array-of-structs then
    explode). Band b draws planes [b·np, (b+1)·np) from the shared md5
    weight stream, so band 0 equals the single-band `_bucket_expr` and
    `_bucket_sql_band` indexes the identical stream. With a known
    ``dim`` the weights are inlined as literals (`_bucket_expr_lit` —
    the fast path); dim=None falls back to the per-row md5 form,
    bit-identical either way. ``extra`` names passthrough columns
    (hnsw_build_links threads its layer column through)."""
    v = _as_double(F.col("embedding"))

    def bucket_for(b: int):
        if dim is not None:
            return _bucket_expr_lit(v, _plane_weights_py(b * np_, np_, dim))
        return _bucket_expr(v, np_, offset=b * np_)

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                bucket_for(b).cast("bigint").alias("bucket"),
            )
            for b in range(SIM_BANDS)
        ]
    )
    return emb.select(
        "vec_id", "embedding", *extra, F.explode(bands).alias("g")
    ).select(
        "vec_id",
        "embedding",
        *extra,
        F.col("g.band").alias("band"),
        F.col("g.bucket").alias("bucket"),
    )


def _replicate_blocks(emb: DataFrame) -> DataFrame:
    """Block-pair replication behind the blocked GEMM: row in block
    k = vec_id % SIM_BLOCKS fans out to role "a" of block pairs (k, j≥k)
    and role "b" of pairs (i<k, k) — exactly SIM_BLOCKS copies per
    vector. Exposed so tests can assert the replication the operator
    ACTUALLY produces (not a closed-form restatement of this rule)."""

    # block-pair assignment as a compile-time literal: blk == k maps to
    # [(k, j, 'a') for j ≥ k] + [(i, k, 'b') for i < k]
    def assignments(k: int):
        structs = [
            F.struct(F.lit(k).alias("pa"), F.lit(j).alias("pb"), F.lit("a").alias("role"))
            for j in range(k, SIM_BLOCKS)
        ] + [
            F.struct(F.lit(i).alias("pa"), F.lit(k).alias("pb"), F.lit("b").alias("role"))
            for i in range(k)
        ]
        return F.array(*structs)

    blk = (F.col("vec_id") % SIM_BLOCKS).cast("int")
    asg = F.when(blk == 0, assignments(0))
    for k in range(1, SIM_BLOCKS):
        asg = asg.when(blk == k, assignments(k))
    return (
        emb.withColumn("asg", asg)
        .select("vec_id", "embedding", F.explode("asg").alias("g"))
        .select("vec_id", "embedding", "g.pa", "g.pb", "g.role")
    )


@plan_memo
def _similarity_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ PAIR_TAU — the exact baseline that also
    serves as ANN ground truth (the sub-SIM_EXACT_MAX backend).

    Physical plan — fully distributed blocked GEMM, no driver
    materialization: every vector gets a block id (vec_id % SIM_BLOCKS)
    and is replicated to each unordered block pair it participates in
    (row in block k → role "a" of pairs (k, j≥k), role "b" of pairs
    (i<k, k)). One shuffle groups each block pair onto an executor,
    where a single numpy/BLAS GEMM scores the a×b cross product.
    Work is O(n²d) either way (it's exact all-pairs); memory per task
    is 2n/SIM_BLOCKS vectors, so SIM_BLOCKS scales the per-executor
    footprint down independently of corpus size — pick SIM_BLOCKS ≈
    n·d·8B / per-task-memory. Replication factor is exactly SIM_BLOCKS
    ((B−k) a-roles + k b-roles per row of block k), i.e. the standard
    √(#block-pairs) blow-up of blocked all-pairs.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    replicated = _replicate_blocks(emb)

    out_schema = "id_a bigint, id_b bigint, cosine double"

    def gemm_block_pair(key, pdf):
        pa, pb = key
        a = pdf[pdf["role"] == "a"]
        b = a if pa == pb else pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        am = np.array(list(a["embedding"]), dtype=np.float64)
        bm = np.array(list(b["embedding"]), dtype=np.float64)
        am /= np.linalg.norm(am, axis=1, keepdims=True)
        bm /= np.linalg.norm(bm, axis=1, keepdims=True)
        aids = a["vec_id"].to_numpy()
        bids = b["vec_id"].to_numpy()
        sims = am @ bm.T
        # pre-round threshold with epsilon so hits match the rounded
        # comparison; round only the (tiny) selected set — rounding
        # the full block matrix costs more than the GEMM itself.
        ia, ib = np.nonzero(sims >= PAIR_TAU - 5e-7)
        if pa == pb:
            # diagonal block: a and b are the same set — strict < dedupes
            # {x,y}/{y,x} and removes self-pairs
            keep = aids[ia] < bids[ib]
            ia, ib = ia[keep], ib[keep]
        vals = np.round(sims[ia, ib], 6)
        final = vals >= PAIR_TAU
        xa, xb = aids[ia[final]], bids[ib[final]]
        # off-diagonal pairs appear once but in arbitrary id order — orient
        return pd.DataFrame(
            {"id_a": np.minimum(xa, xb), "id_b": np.maximum(xa, xb), "cosine": vals[final]}
        )

    return replicated.groupBy("pa", "pb").applyInPandas(gemm_block_pair, out_schema)


@plan_memo
def _similarity_pairs_banded(spark: SparkSession, sf_dir: str, np_: int) -> DataFrame:
    """The >SIM_EXACT_MAX backend: SIM_BANDS band-salted hyperplane
    bucketings generate candidates; the exact-scoring GEMM runs per
    (band, bucket) over ~LSH_BUCKET_TARGET members (BLAS, bounded
    memory); one hash-agg dedups pairs surfaced by several bands (the
    6dp cosine is band-invariant, so min == the value). Linear in n:
    O(n · LSH_BUCKET_TARGET · d) FLOPs, candidate volume per band
    ~n · LSH_BUCKET_TARGET / 2."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out_schema = "id_a bigint, id_b bigint, cosine double"

    def gemm_bucket(key, pdf):
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        sims = m @ m.T
        # same epsilon/round device as the exact kernel: pre-round
        # threshold with margin, round only the selected set
        ia, ib = np.nonzero(sims >= PAIR_TAU - 5e-7)
        keep = ids[ia] < ids[ib]
        ia, ib = ia[keep], ib[keep]
        vals = np.round(sims[ia, ib], 6)
        final = vals >= PAIR_TAU
        return pd.DataFrame(
            {"id_a": ids[ia[final]], "id_b": ids[ib[final]], "cosine": vals[final]}
        ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})

    pairs = _banded_buckets(emb, np_, _embed_dim(sf_dir)).groupBy(
        "band", "bucket"
    ).applyInPandas(gemm_bucket, out_schema)
    return pairs.groupBy("id_a", "id_b").agg(F.min("cosine").alias("cosine"))


def similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ PAIR_TAU), backend dispatched on
    the memoized corpus count (see the SIM_EXACT_MAX block comment):
    exact blocked GEMM up to SIM_EXACT_MAX rows — bit-identical to the
    historical operator at every test SF — banded-LSH candidates +
    per-bucket exact scoring above it. The DuckDB oracle carries the
    same count-gated branches, so parity holds on BOTH sides of the
    threshold."""
    n = _corpus_rows(spark, sf_dir)
    if n <= SIM_EXACT_MAX:
        return _similarity_pairs_exact(spark, sf_dir)
    return _similarity_pairs_banded(spark, sf_dir, _lsh_planes(n))


_COS6 = (
    "round(list_dot_product(a.v, b.v) /"
    " (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
)

# count-gated backend dispatch, mirrored from the Spark side: the
# exact branch reads from an input CTE emptied when n > SIM_EXACT_MAX
# (and vice versa), so exactly one branch of the UNION ALL ever emits
# — and the dead branch's join runs over empty inputs.
_SIM_DISPATCH_CTES = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cnt AS (SELECT count(*) AS n FROM embeddings), {_npl_sql()},
dx AS (SELECT d.* FROM d WHERE (SELECT n FROM cnt) <= {SIM_EXACT_MAX}),
db AS (SELECT d.* FROM d WHERE (SELECT n FROM cnt) > {SIM_EXACT_MAX}),
bucketed AS (
  SELECT vec_id, v, b.band, {_bucket_sql_band("v", "b.band")} AS bucket
  FROM db, npl, (SELECT unnest(range({SIM_BANDS})) AS band) b
)"""

SIMILARITY_PAIRS_SQL = f"""
{_SIM_DISPATCH_CTES}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS6} AS cosine
FROM dx a JOIN dx b ON a.vec_id < b.vec_id
WHERE {_COS6} >= {PAIR_TAU}
UNION ALL
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {_COS6} AS cosine
FROM bucketed a JOIN bucketed b
  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_COS6} >= {PAIR_TAU}
"""


QUERIES = {
    "embed_feature_hash": embed_feature_hash,
    "knn_brute_force": knn_brute_force,
    "knn_lsh": knn_lsh,
    "similarity_pairs": similarity_pairs,
}

ORACLES = {
    "embed_feature_hash": EMBED_SQL,
    "knn_brute_force": KNN_SQL,
    "knn_lsh": KNN_LSH_SQL,
    "similarity_pairs": SIMILARITY_PAIRS_SQL,
}


# --- embedding-cosine near-duplicate pairs via LSH bucketing -----------------

def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (cosine >= PAIR_TAU) restricted to
    same-LSH-bucket candidates — the sub-quadratic scale path that the
    exact blocked-GEMM `similarity_pairs` serves as ground truth for.

    Plan: one narrow pass computes each vector's hyperplane bucket
    (compile-time ±1 planes) and UNIT vector, pinned with
    localCheckpoint so the per-vector work runs exactly once — without
    the pin, filter pushdown and the self-join re-inline the
    interpreted bucket/norm lambdas per candidate pair (the plan held
    12 zip_with copies). A Cauchy-Schwarz prefix bound in the join
    condition rejects most candidates with an 8-dim dot before the
    full-dimension verify (2.16 s -> 1.8 s per cold run at sf0.1;
    sub-second when the pinned table is reused). Then one
    shuffle on the bucket id joins candidates and the pair cosine is a
    single zip_with dot of pre-normalized vectors. Candidate count
    drops by the bucket fan-in (2^LSH_PLANES); recall vs the exact
    pairs is measured in tests. At 100 TB: add bands
    (OR-amplification) the same way dedup_minhash_lsh does to recover
    recall.
    """
    # Per-bucket numpy GEMM (guide §4.2): the previous form self-joined
    # pinned unit vectors on the bucket id and evaluated an interpreted
    # zip_with/aggregate dot per surviving candidate pair (plus a
    # Cauchy-Schwarz prefix bound to prune) — Σ bucket_size² pairs of
    # per-row lambda work. One applyInPandas per bucket normalizes and
    # scores the whole cell with a single rounded matmul, the same
    # engine-equivalence device the banded backends and semantic_dedup
    # use (np.round(·, 6) on unit-vector cosines); the prefix-bound
    # prefilter is subsumed — the matmul prices every pair at GEMM
    # speed. Bucket ids stay JVM-computed (_bucket_expr): the plane
    # sign decisions are float-summation-order sensitive and must not
    # move across engines.
    import numpy as np
    import pandas as pd

    np_ = _planes_for(spark, sf_dir)
    bucketed = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", _bucket_expr(_as_double("embedding"), np_).alias("bucket"))
    )

    def pair_scores(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        u = np.array(list(pdf["embedding"]), dtype=np.float64)
        u /= np.linalg.norm(u, axis=1, keepdims=True)
        sims = np.round(u @ u.T, 6)
        ids = pdf["vec_id"].to_numpy()
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= PAIR_TAU
        if not keep.any():
            return empty
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cosine": sims[iu, ju][keep]}
        ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})

    return bucketed.groupBy("bucket").applyInPandas(
        pair_scores, "id_a long, id_b long, cosine double"
    )


DEDUP_EMB_LSH_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {_npl_sql()}, bucketed AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, {_bucket_sql_dyn("v")} AS bucket FROM d, npl
), unit AS (
  SELECT vec_id, bucket, list_transform(v, x -> x / nrm) AS u FROM bucketed
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.u, b.u), 6) AS cosine
FROM unit a JOIN unit b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.u, b.u), 6) >= {PAIR_TAU}
"""

QUERIES["dedup_embedding_lsh"] = dedup_embedding_lsh
ORACLES["dedup_embedding_lsh"] = DEDUP_EMB_LSH_SQL


# --- contrastive_pairs — hard-negative/positive mining ------------------------
#
# Contrastive-training data prep (SimCLR/DPR practice, public): for
# each anchor vector, the HARD NEGATIVE is the most-similar vector with
# a DIFFERENT label (the confusable impostor worth training against)
# and the hard positive is the most-similar same-label vector. The
# embeddings table's integer `label` column drives the split.
#
# Scale: identical shape to knn_brute_force — anchors broadcast (k x d
# doubles), the corpus streams once, per-anchor argmaxes are
# conditional max(struct) aggregates (map-side combine), no window over
# the corpus. Ranking keys use the 6dp-rounded cosine with vec_id
# tie-break, so argmaxes are engine-deterministic.

def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    anchors = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
    )
    scored = emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id")).select(
        "anchor_id",
        "anchor_label",
        "vec_id",
        "label",
        F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")), 6).alias("cosine"),
    )
    same = F.col("label") == F.col("anchor_label")
    pick = lambda cond: F.max(F.when(cond, F.struct("cosine", "vec_id")))  # noqa: E731
    return (
        scored.groupBy("anchor_id", "anchor_label")
        .agg(
            pick(same).alias("pos"),
            pick(~same).alias("neg"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("pos.vec_id").alias("hard_positive_id"),
            F.col("pos.cosine").alias("positive_cosine"),
            F.col("neg.vec_id").alias("hard_negative_id"),
            F.col("neg.cosine").alias("negative_cosine"),
            # margin in 1e-6 units: each cosine floors to integer
            # micros FIRST (0.5-offset floor, the house device), then
            # the subtraction is exact — a double (pos-neg)*1e6 cast
            # diverges because Spark truncates where DuckDB rounds
            (
                F.floor(F.col("pos.cosine") * 1000000 + F.lit(0.5))
                - F.floor(F.col("neg.cosine") * 1000000 + F.lit(0.5))
            ).cast("bigint").alias("margin_micro"),
        )
    )


CONTRASTIVE_SQL = f"""
WITH d AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM d
), a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv, nrm AS qn
  FROM n WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT anchor_id, anchor_label, n.vec_id, n.label,
         round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
  FROM a JOIN n ON n.vec_id <> a.anchor_id
)
SELECT anchor_id, anchor_label,
       (max(CASE WHEN label = anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).vec_id AS hard_positive_id,
       (max(CASE WHEN label = anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).cosine AS positive_cosine,
       (max(CASE WHEN label <> anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).vec_id AS hard_negative_id,
       (max(CASE WHEN label <> anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).cosine AS negative_cosine,
       CAST(floor((max(CASE WHEN label = anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).cosine * 1000000 + 0.5)
          - floor((max(CASE WHEN label <> anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).cosine * 1000000 + 0.5) AS BIGINT) AS margin_micro
FROM scored
GROUP BY anchor_id, anchor_label
"""

QUERIES["contrastive_pairs"] = contrastive_pairs
ORACLES["contrastive_pairs"] = CONTRASTIVE_SQL


# --- embed_drift_stats — snapshot drift monitor -------------------------------
#
# The refresh-cycle health check: after a re-embedding run (stage_04
# regenerates vectors when the model or content changes), compare the
# new snapshot's per-dimension distribution against the previous one
# and alarm on drift. Snapshots are planted as the vec_id parity split
# (house pattern). All statistics use the QSCALE-quantized integers
# with floor division, so means and drifts are exact engine-equal
# integers — no float mean to disagree on.
#
# Scale: one scan, posexplode to (dim, value) partials, two bounded
# 64-row aggregations — the same (key, dim) partial-sum shape as the
# k-means update. Map-side combine does the heavy lifting.

DRIFT_QSCALE = 1000


def embed_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {DRIFT_QSCALE} + 0.5d) as bigint))"
        ).alias("q"),
    )
    per_dim = (
        emb.select((F.col("vec_id") % 2).alias("snap"), F.posexplode("q").alias("dim", "v"))
        .groupBy("snap", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("snap", "dim", F.expr("s div n").alias("mean_q"))
    )
    prev = per_dim.where(F.col("snap") == 0).select("dim", F.col("mean_q").alias("mean_prev"))
    cur = per_dim.where(F.col("snap") == 1).select("dim", F.col("mean_q").alias("mean_cur"))
    return prev.join(cur, "dim").select(
        "dim",
        "mean_prev",
        "mean_cur",
        F.abs(F.col("mean_cur") - F.col("mean_prev")).alias("drift_abs"),
        (F.abs(F.col("mean_cur") - F.col("mean_prev")) >= 5).cast("int").alias("drift_alarm"),
    )


EMBED_DRIFT_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {DRIFT_QSCALE} + (0.5)::DOUBLE)::BIGINT) AS q
  FROM embeddings
),
per_dim AS (
  SELECT vec_id % 2 AS snap, d.dim,
         CAST(sum(q.q[d.dim + 1]) // count(*) AS BIGINT) AS mean_q
  FROM q, (SELECT unnest(generate_series(0, 63)) AS dim) d
  GROUP BY 1, 2
)
SELECT p.dim, p.mean_q AS mean_prev, c.mean_q AS mean_cur,
       abs(c.mean_q - p.mean_q) AS drift_abs,
       CAST(abs(c.mean_q - p.mean_q) >= 5 AS INT) AS drift_alarm
FROM per_dim p JOIN per_dim c ON p.dim = c.dim AND p.snap = 0 AND c.snap = 1
"""

QUERIES["embed_drift_stats"] = embed_drift_stats
ORACLES["embed_drift_stats"] = EMBED_DRIFT_SQL


# --- knn_graph — the full k-NN graph via blocked GEMM -------------------------
#
# Every vector's exact top-K cosine neighbors (not just the N_QUERIES
# probe set): the artifact semantic clustering / graph-based dedup
# pipelines build once and reuse. Same distributed blocked-GEMM
# backend as similarity_pairs — block-pair applyInPandas tasks, no
# driver materialization — but each task emits per-ROW partial top-Ks
# for both blocks of its pair, and a bounded merge (collect + sort +
# slice over SIM_BLOCKS×K entries per vector) finishes the job. The
# top-k-merge property makes the partials lossless: the global top-K
# under (cosine desc, id asc) is contained in the union of per-block
# top-Ks under the same total order.
#
# Scale: identical replication factor to similarity_pairs; the merge
# state per vector is SIM_BLOCKS·K structs — kilobytes — regardless of
# corpus size. Ranking uses the 6dp-rounded cosine with id tie-break
# (the house device), so ranks are engine-deterministic.

@plan_memo
def _knn_graph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _knn_graph_exact_on(emb)


def _knn_graph_exact_on(emb: DataFrame) -> DataFrame:
    """The exact blocked-GEMM graph over an arbitrary (vec_id,
    embedding) frame — split out (r9) so `knn_graph_incremental` can
    build the MASTER-only index artifact from the same backend."""
    import numpy as np
    import pandas as pd

    def assignments(k: int):
        structs = [
            F.struct(F.lit(k).alias("pa"), F.lit(j).alias("pb"), F.lit("a").alias("role"))
            for j in range(k, SIM_BLOCKS)
        ] + [
            F.struct(F.lit(i).alias("pa"), F.lit(k).alias("pb"), F.lit("b").alias("role"))
            for i in range(k)
        ]
        return F.array(*structs)

    blk = (F.col("vec_id") % SIM_BLOCKS).cast("int")
    asg = F.when(blk == 0, assignments(0))
    for k in range(1, SIM_BLOCKS):
        asg = asg.when(blk == k, assignments(k))
    replicated = (
        emb.withColumn("asg", asg)
        .select("vec_id", "embedding", F.explode("asg").alias("g"))
        .select("vec_id", "embedding", "g.pa", "g.pb", "g.role")
    )

    out_schema = "vec_id bigint, neighbor_id bigint, cosine double"

    def partial_topk(key, pdf):
        pa, pb = key
        a = pdf[pdf["role"] == "a"]
        b = a if pa == pb else pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "cosine": []}).astype(
                {"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
            )
        am = np.array(list(a["embedding"]), dtype=np.float64)
        bm = np.array(list(b["embedding"]), dtype=np.float64)
        am /= np.linalg.norm(am, axis=1, keepdims=True)
        bm /= np.linalg.norm(bm, axis=1, keepdims=True)
        aids = a["vec_id"].to_numpy()
        bids = b["vec_id"].to_numpy()
        sims = np.round(am @ bm.T, 6)

        frames = []

        def rows_topk(ids_q, ids_c, mat):
            # per query row: top-K among this block's candidates under
            # (cosine desc, neighbor id asc)
            out_q, out_c, out_s = [], [], []
            for qi in range(mat.shape[0]):
                row = mat[qi]
                mask = ids_c != ids_q[qi]
                cand_ids, cand = ids_c[mask], row[mask]
                if cand.size == 0:
                    continue
                order = np.lexsort((cand_ids, -cand))[:KNN_K]
                out_q.extend([ids_q[qi]] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(cand[order])
            return pd.DataFrame({"vec_id": out_q, "neighbor_id": out_c, "cosine": out_s})

        frames.append(rows_topk(aids, bids, sims))
        if pa != pb:
            frames.append(rows_topk(bids, aids, sims.T))
        return pd.concat(frames, ignore_index=True).astype(
            {"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
        )

    partials = replicated.groupBy("pa", "pb").applyInPandas(partial_topk, out_schema)
    merged = (
        partials.groupBy("vec_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.floor(F.col("cosine") * 1000000 + F.lit(0.5)))
                            .cast("bigint")
                            .alias("negc"),
                            F.col("neighbor_id").alias("nid"),
                            F.col("cosine").alias("c"),
                        )
                    )
                ),
                1,
                KNN_K,
            ).alias("top")
        )
    )
    return merged.select("vec_id", F.posexplode("top").alias("pos", "t")).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        F.col("t.nid").alias("neighbor_id"),
        F.col("t.c").alias("cosine"),
    )


@plan_memo
def _knn_graph_banded(spark: SparkSession, sf_dir: str, np_: int) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _knn_graph_banded_on(emb, np_, _embed_dim(sf_dir))


def _knn_graph_banded_on(emb: DataFrame, np_: int, dim: int | None) -> DataFrame:
    """The >SIM_EXACT_MAX kNN-graph backend: per-(band, bucket) GEMM
    emits each member's in-bucket top-K (lossless for the candidate
    set: the global top-K among candidates is contained in the union
    of per-bucket top-Ks under the same total order); one hash-agg
    dedups neighbors surfaced by several bands, then the exact path's
    bounded array_sort merge takes the final K. A vector with < K
    candidates emits fewer rows — mirrored by the oracle branch.
    Frame-parameterized (r9) so knn_graph_incremental can build the
    MASTER-only index artifact through the same dispatch."""
    import numpy as np
    import pandas as pd

    out_schema = "vec_id bigint, neighbor_id bigint, cosine double"

    def topk_bucket(key, pdf):
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        sims = np.round(m @ m.T, 6)
        n = len(ids)
        out_q, out_c, out_s = [], [], []
        for qi in range(n):
            mask = np.arange(n) != qi  # ids are unique within a bucket
            cand_ids, cand = ids[mask], sims[qi][mask]
            if cand.size == 0:
                continue
            order = np.lexsort((cand_ids, -cand))[:KNN_K]
            out_q.extend([ids[qi]] * len(order))
            out_c.extend(cand_ids[order])
            out_s.extend(cand[order])
        return pd.DataFrame(
            {"vec_id": out_q, "neighbor_id": out_c, "cosine": out_s}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "cosine": "float64"})

    partials = _banded_buckets(emb, np_, dim).groupBy(
        "band", "bucket"
    ).applyInPandas(topk_bucket, out_schema)
    deduped = partials.groupBy("vec_id", "neighbor_id").agg(
        F.min("cosine").alias("cosine")
    )
    merged = deduped.groupBy("vec_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.floor(F.col("cosine") * 1000000 + F.lit(0.5)))
                        .cast("bigint")
                        .alias("negc"),
                        F.col("neighbor_id").alias("nid"),
                        F.col("cosine").alias("c"),
                    )
                )
            ),
            1,
            KNN_K,
        ).alias("top")
    )
    return merged.select("vec_id", F.posexplode("top").alias("pos", "t")).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        F.col("t.nid").alias("neighbor_id"),
        F.col("t.c").alias("cosine"),
    )


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's top-K cosine neighbors, backend dispatched on the
    memoized corpus count (the SIM_EXACT_MAX device): exact blocked
    GEMM up to the threshold — bit-identical to the historical operator
    at every test SF — banded-LSH candidate top-K above it, with the
    count-gated oracle twin carrying both branches."""
    n = _corpus_rows(spark, sf_dir)
    if n <= SIM_EXACT_MAX:
        return _knn_graph_exact(spark, sf_dir)
    return _knn_graph_banded(spark, sf_dir, _lsh_planes(n))


KNN_GRAPH_SQL = f"""
{_SIM_DISPATCH_CTES},
nx AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM dx
), scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
  FROM nx a JOIN nx b ON a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
), cand AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id, {_COS6} AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked_b AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {KNN_K}
UNION ALL
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked_b WHERE rank <= {KNN_K}
"""

QUERIES["knn_graph"] = knn_graph
ORACLES["knn_graph"] = KNN_GRAPH_SQL


# --- embedding-space anisotropy histogram ------------------------------------

ANISO_OFFSETS = (1, 17, 97)  # deterministic cyclic pair sample
ANISO_BINS = 20


def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-collapse diagnostic (the anisotropy check, public
    observation: degenerate embedding spaces squeeze all pairwise
    cosines toward 1): the distribution of cosines over a
    deterministic 3n pair sample — each vector vs its id+{1,17,97}
    cyclic neighbors (hash-free but id-uncorrelated offsets; a real
    pipeline samples pairs, this plants them reproducibly). Histogram
    over [-1, 1] in ANISO_BINS bins from the 6dp-rounded cosine (the
    integer-binning device), plus the mean |cosine| in basis points —
    the single collapse indicator a monitor tracks per refresh.
    Three equi-joins on shifted ids (no self cross join), bounded
    histogram rollup."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    n_df = emb.agg(F.count(F.lit(1)).alias("n"))
    left = emb.crossJoin(F.broadcast(n_df))
    pairs = None
    for off in ANISO_OFFSETS:
        right = emb.select(F.col("vec_id").alias("rid"), F.col("v").alias("w"))
        p = left.select(
            "vec_id", "v", ((F.col("vec_id") + off) % F.col("n")).alias("rid")
        ).join(right, "rid").where(F.col("vec_id") != F.col("rid"))
        pairs = p if pairs is None else pairs.unionByName(p)
    cos = F.round(
        _dot(F.col("v"), F.col("w"))
        / (F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("w"), F.col("w")))),
        6,
    )
    scored = pairs.select(cos.alias("cosine")).select(
        F.least(
            F.expr(f"cast(floor((cosine + 1) * {ANISO_BINS} / 2) as int)"), F.lit(ANISO_BINS - 1)
        ).alias("bin"),
        F.expr("cast(floor(abs(cosine) * 10000 + 0.5) as bigint)").alias("abs_bp"),
    )
    total = scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("cast(sum(abs_bp) div count(1) as bigint)").alias("mean_abs_cos_bp"),
    )
    return (
        scored.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n",
            F.expr("cast(n * 10000 div n_pairs as bigint)").alias("share_bp"),
            "mean_abs_cos_bp",
        )
    )


EMBED_COS_HIST_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), nn AS (SELECT count(*) AS n FROM d),
pairs AS (
  {" UNION ALL ".join(f'''
  SELECT a.vec_id, a.v, b.v AS w
  FROM d a, nn, d b
  WHERE b.vec_id = (a.vec_id + {off}) % n AND a.vec_id <> b.vec_id''' for off in ANISO_OFFSETS)}
), scored AS (
  SELECT least(CAST(floor((round(list_dot_product(v, w) /
           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(w, w))), 6) + 1)
           * {ANISO_BINS} / 2) AS INT), {ANISO_BINS - 1}) AS bin,
         CAST(floor(abs(round(list_dot_product(v, w) /
           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(w, w))), 6)) * 10000 + 0.5) AS BIGINT) AS abs_bp
  FROM pairs
), total AS (
  SELECT count(*) AS n_pairs, CAST(sum(abs_bp) // count(*) AS BIGINT) AS mean_abs_cos_bp FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
       CAST(count(*) * 10000 // n_pairs AS BIGINT) AS share_bp,
       mean_abs_cos_bp
FROM scored, total GROUP BY bin, n_pairs, mean_abs_cos_bp
"""

QUERIES["embed_cosine_histogram"] = embed_cosine_histogram
ORACLES["embed_cosine_histogram"] = EMBED_COS_HIST_SQL


# --- embedding-norm outlier detection -----------------------------------------
#
# Vector hygiene gate an embedding pipeline runs before indexing:
# degenerate vectors (near-zero or blown-up norms — failed API calls,
# truncated payloads) show up as ‖x‖² outliers. Norms are quantized to
# exact integers (q = floor(x·1000 + 0.5), norm2 = Σq²) so the corpus
# scan is engine-exact; Tukey fences come from the interpolated
# quartiles of those integers, rounded 6dp on both sides before the
# comparison (the outlier_iqr device). One scan for norms, a 1-row
# bounds aggregate broadcast back, one counting/filter pass — no
# windows over the corpus.

NORM_QSCALE = 1000


def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm2 = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * NORM_QSCALE + 0.5).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, q: acc + q * q,
    )
    norms = emb.select("vec_id", norm2.alias("norm2"))
    bounds = norms.agg(
        F.expr("percentile(norm2, 0.25)").alias("q1"),
        F.expr("percentile(norm2, 0.75)").alias("q3"),
    ).select(
        F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 6).alias("lo"),
        F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 6).alias("hi"),
    )
    return (
        norms.crossJoin(F.broadcast(bounds))
        .where((F.col("norm2") < F.col("lo")) | (F.col("norm2") > F.col("hi")))
        .select(
            "vec_id",
            "norm2",
            "lo",
            "hi",
            F.when(F.col("norm2") < F.col("lo"), "low").otherwise("high").alias("side"),
        )
    )


EMBED_NORM_OUTLIERS_SQL = f"""
WITH norms AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * {NORM_QSCALE} + 0.5) AS BIGINT)
                   * CAST(floor(CAST(x AS DOUBLE) * {NORM_QSCALE} + 0.5) AS BIGINT))) AS BIGINT) AS norm2
  FROM embeddings
), b AS (
  SELECT round(quantile_cont(norm2, 0.25)
               - 1.5 * (quantile_cont(norm2, 0.75) - quantile_cont(norm2, 0.25)), 6) AS lo,
         round(quantile_cont(norm2, 0.75)
               + 1.5 * (quantile_cont(norm2, 0.75) - quantile_cont(norm2, 0.25)), 6) AS hi
  FROM norms
)
SELECT vec_id, norm2, lo, hi,
       CASE WHEN norm2 < lo THEN 'low' ELSE 'high' END AS side
FROM norms, b
WHERE norm2 < lo OR norm2 > hi
"""

QUERIES["embed_norm_outliers"] = embed_norm_outliers
ORACLES["embed_norm_outliers"] = EMBED_NORM_OUTLIERS_SQL


# --- Johnson-Lindenstrauss projection quality ---------------------------------
#
# The THIRD dimensionality-reduction device next to Matryoshka prefix
# truncation (needs MRL-trained vectors) and PQ codes (needs
# codebooks): a data-oblivious random signed projection 64 -> 16 dims
# (Achlioptas 2003 — +-1 entries suffice for the JL guarantee), the
# fallback that works on ANY embedding table with zero training.  The
# sign matrix derives from md5 so both engines materialize the same
# compile-time constant.  Measurement mirrors embed_cosine_histogram:
# the deterministic cyclic pair sample scores |cos_full - cos_proj|
# in bp, banded, with the corpus mean beside — the distortion read
# that says whether 4x cheaper vectors are usable.
#
# Plan: projection is a fixed 16x64 expression tree per row (no
# shuffle, scan-rate); the pair sample is one shifted-id equi-join;
# the rollup is bounded bands.

import hashlib as _hashlib

JL_OUT_DIMS = 16
JL_IN_DIMS = 64

_JL_SIGNS = [
    [
        1 if int(_hashlib.md5(f"jl_{j}_{d}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
        for d in range(JL_IN_DIMS)
    ]
    for j in range(JL_OUT_DIMS)
]


def _jl_proj_spark() -> str:
    rows = []
    for j in range(JL_OUT_DIMS):
        terms = " + ".join(
            f"({'' if s > 0 else '-'}v[{d}])" for d, s in enumerate(_JL_SIGNS[j])
        )
        rows.append(f"({terms})")
    return "array(" + ", ".join(rows) + ")"


def _jl_proj_sql() -> str:
    rows = []
    for j in range(JL_OUT_DIMS):
        terms = " + ".join(
            f"({'' if s > 0 else '-'}v[{d + 1}])" for d, s in enumerate(_JL_SIGNS[j])
        )
        rows.append(f"({terms})")
    return "[" + ", ".join(rows) + "]"


def embed_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    n_df = emb.agg(F.count(F.lit(1)).alias("n"))
    proj = emb.select(
        "vec_id", "v", F.expr(_jl_proj_spark()).alias("y")
    ).localCheckpoint(eager=False)
    a = proj.crossJoin(F.broadcast(n_df)).select(
        "vec_id", "v", "y", F.expr("(vec_id + 1) % n").alias("other")
    )
    paired = a.alias("l").join(
        proj.alias("r"), F.col("l.other") == F.col("r.vec_id")
    ).select(
        F.col("l.vec_id").alias("vec_id"),
        F.round(_dot(F.col("l.v"), F.col("r.v"))
                / (F.sqrt(_dot(F.col("l.v"), F.col("l.v"))) * F.sqrt(_dot(F.col("r.v"), F.col("r.v")))), 6).alias("cos_full"),
        F.round(_dot(F.col("l.y"), F.col("r.y"))
                / (F.sqrt(_dot(F.col("l.y"), F.col("l.y"))) * F.sqrt(_dot(F.col("r.y"), F.col("r.y")))), 6).alias("cos_proj"),
    )
    scored = paired.select(
        F.expr("cast(floor(abs(cos_full - cos_proj) * 10000 + 0.5) as bigint)").alias(
            "err_bp"
        )
    )
    band = (
        F.when(F.col("err_bp") < 100, "[0,100)")
        .when(F.col("err_bp") < 250, "[100,250)")
        .when(F.col("err_bp") < 500, "[250,500)")
        .otherwise("[500,+)")
    )
    tot = scored.agg(
        F.count(F.lit(1)).alias("n_pairs_total"), F.sum("err_bp").alias("serr")
    )
    return (
        scored.groupBy(band.alias("err_band"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "err_band",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr("cast(n_pairs * 10000 div n_pairs_total as bigint)").alias(
                "pairs_share_bp"
            ),
            F.expr("cast(serr div n_pairs_total as bigint)").alias("mean_err_bp"),
        )
    )


JL_PROJECTION_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
n_df AS (SELECT count(*)::BIGINT AS n FROM d),
proj AS (
  SELECT vec_id, v, {_jl_proj_sql()} AS y FROM d
),
paired AS (
  SELECT l.vec_id,
         round(list_dot_product(l.v, r.v)
               / (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6) AS cos_full,
         round(list_dot_product(l.y, r.y)
               / (sqrt(list_dot_product(l.y, l.y)) * sqrt(list_dot_product(r.y, r.y))), 6) AS cos_proj
  FROM proj l JOIN proj r ON (l.vec_id + 1) % (SELECT n FROM n_df) = r.vec_id
),
scored AS (
  SELECT CAST(floor(abs(cos_full - cos_proj) * 10000 + 0.5) AS BIGINT) AS err_bp
  FROM paired
),
tot AS (
  SELECT count(*)::BIGINT AS n_pairs_total, CAST(sum(err_bp) AS BIGINT) AS serr FROM scored
)
SELECT CASE WHEN err_bp < 100 THEN '[0,100)'
            WHEN err_bp < 250 THEN '[100,250)'
            WHEN err_bp < 500 THEN '[250,500)'
            ELSE '[500,+)' END AS err_band,
       count(*)::BIGINT AS n_pairs,
       CAST(count(*) * 10000 // n_pairs_total AS BIGINT) AS pairs_share_bp,
       CAST(serr // n_pairs_total AS BIGINT) AS mean_err_bp
FROM scored, tot GROUP BY 1, n_pairs_total, serr
"""

QUERIES["embed_jl_projection"] = embed_jl_projection
ORACLES["embed_jl_projection"] = JL_PROJECTION_SQL


# --- duplicate-vector audit ---------------------------------------------------
#
# Vector-store hygiene, the embedding-side sibling of dedup_exact:
# EXACT duplicate vectors (re-embedded copies, double-ingested rows)
# skew ANN ground truth and waste index memory, and they are found
# with one hash aggregation — md5 over the 1e5-quantized integer
# vector, so float noise below the grid does not split a cluster and
# anything at or above it does.  Planted copies (vec_id + 100000,
# identical vector, every 9th) must land in clusters; planted
# epsilon-perturbed near-copies (vec_id + 200000, last dim +0.001 —
# above the grid) must NOT, proving the quantization boundary.
#
# Plan: narrow quantize+hash projection, ONE hash-key aggregation
# (uniform key), bounded cluster output + 1-row share columns.

def embed_duplicate_vector_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    near = emb.where(F.col("vec_id") % 9 == 4).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.expr(
            "concat(slice(embedding, 1, size(embedding) - 1),"
            " array(cast(element_at(embedding, -1) + 0.001 as float)))"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies).unionByName(near)
    key = F.md5(
        F.concat_ws(
            ",",
            F.expr(
                "transform(embedding, x -> cast(floor(cast(x as double) * 100000 + 0.5) as bigint))"
            ),
        )
    )
    clusters = (
        corpus.select("vec_id", key.alias("vkey"))
        .groupBy("vkey")
        .agg(F.min("vec_id").alias("rep_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )
    tot = corpus.agg(F.count(F.lit(1)).alias("n_vectors"))
    return clusters.crossJoin(F.broadcast(tot)).select(
        F.col("rep_id").cast("bigint").alias("rep_id"),
        F.col("n_copies").cast("bigint").alias("n_copies"),
        (F.col("n_copies") - 1).cast("bigint").alias("n_redundant"),
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.expr("cast((n_copies - 1) * 10000 div n_vectors as bigint)").alias(
            "redundant_share_bp"
        ),
    )


DUP_VECTOR_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000, v FROM base WHERE vec_id % 9 = 0
  UNION ALL
  SELECT vec_id + 200000,
         list_append(v[1:len(v) - 1], CAST(CAST(v[len(v)] + 0.001 AS FLOAT) AS DOUBLE))
  FROM base WHERE vec_id % 9 = 4
),
keyed AS (
  SELECT vec_id,
         md5(array_to_string(list_transform(v,
             x -> CAST(floor(x * 100000 + 0.5) AS BIGINT)), ',')) AS vkey
  FROM corpus
),
clusters AS (
  SELECT vkey, CAST(min(vec_id) AS BIGINT) AS rep_id, count(*)::BIGINT AS n_copies
  FROM keyed GROUP BY vkey HAVING count(*) > 1
),
tot AS (SELECT count(*)::BIGINT AS n_vectors FROM keyed)
SELECT rep_id, n_copies,
       CAST(n_copies - 1 AS BIGINT) AS n_redundant,
       n_vectors,
       CAST((n_copies - 1) * 10000 // n_vectors AS BIGINT) AS redundant_share_bp
FROM clusters, tot
"""

QUERIES["embed_duplicate_vector_audit"] = embed_duplicate_vector_audit
ORACLES["embed_duplicate_vector_audit"] = DUP_VECTOR_SQL


# --- isotropy audit -----------------------------------------------------------
#
# Are the embeddings using the space, or collapsed along a few
# directions?  The standard first-order isotropy readout (public art:
# Ethayarajh 2019 / Mu & Viswanath 2018 "all-but-the-top"): the ratio
# ||mean vector||^2 / mean(||v||^2) — 0 for a perfectly centered cloud,
# 1 when every vector points the same way — plus the dominant dimension
# and its share of the mean-vector energy (the "top component" that
# all-but-the-top would remove).
#
# Determinism: components quantize to 1e6 integers (the drift-stats
# device), so per-dim sums S_d and per-row energies are EXACT; the
# ratio is one decimal(38)/HUGEINT product chain with a truncating div
# into bp. The identity ||mean||^2 / mean(||v||^2) = sum_d S_d^2 /
# (n * sum v^2) avoids any division before the final one.
#
# Scale: one posexplode bounded by 64 x rows -> 64-row per-dim sums
# (map-side combinable); per-row energy folds JVM-side (F.aggregate);
# the argmax runs over the 64-row table.

ISO_QSCALE = 10**6


def embed_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {ISO_QSCALE} + 0.5d) as bigint))"
        ).alias("q"),
    )
    corpus = emb.select(
        F.expr("aggregate(q, cast(0 as bigint), (acc, x) -> acc + x * x)").alias("e")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(e as decimal(38,0))")).alias("ssq"),
    )
    per_dim = (
        emb.select(F.posexplode("q").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.sum("v").alias("s"))
        .select("dim", F.expr("cast(s as decimal(38,0)) * s").alias("s2"))
    )
    dims = per_dim.agg(F.count(F.lit(1)).alias("n_dims"), F.sum("s2").alias("smsq"))
    top = (
        per_dim.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("s2"), F.asc("dim")))
        )
        .where(F.col("rn") == 1)
        .select(F.col("dim").alias("dominant_dim"), F.col("s2").alias("top_s2"))
    )
    return (
        corpus.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(top))
        .select(
            F.col("n").cast("bigint").alias("n_vecs"),
            F.col("n_dims").cast("bigint").alias("n_dims"),
            F.expr("cast((smsq * 10000) div (cast(n as decimal(38,0)) * ssq) as bigint)").alias(
                "iso_bp"
            ),
            F.col("dominant_dim").cast("bigint").alias("dominant_dim"),
            F.expr("cast((top_s2 * 10000) div smsq as bigint)").alias("dominant_share_bp"),
        )
    )


EMBED_ISOTROPY_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * {ISO_QSCALE} + (0.5)::DOUBLE)::BIGINT) AS q
  FROM embeddings
),
corpus AS (
  SELECT count(*)::BIGINT AS n,
         sum(CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT)) AS ssq
  FROM q
),
per_dim AS (
  SELECT d.dim, CAST(sum(q.q[d.dim + 1]) AS BIGINT) AS s
  FROM q, (SELECT unnest(generate_series(0, 63)) AS dim) d
  GROUP BY 1
),
p2 AS (SELECT dim, CAST(s AS HUGEINT) * s AS s2 FROM per_dim),
dims AS (SELECT count(*)::BIGINT AS n_dims, sum(s2) AS smsq FROM p2),
top AS (
  SELECT dim AS dominant_dim, s2 AS top_s2
  FROM (SELECT dim, s2, row_number() OVER (ORDER BY s2 DESC, dim) AS rn FROM p2)
  WHERE rn = 1
)
SELECT n AS n_vecs, n_dims,
       CAST((smsq * 10000) // (CAST(n AS HUGEINT) * ssq) AS BIGINT) AS iso_bp,
       CAST(dominant_dim AS BIGINT) AS dominant_dim,
       CAST((top_s2 * 10000) // smsq AS BIGINT) AS dominant_share_bp
FROM corpus, dims, top
"""

QUERIES["embed_isotropy_audit"] = embed_isotropy_audit
ORACLES["embed_isotropy_audit"] = EMBED_ISOTROPY_SQL


# --- hubness audit of the kNN graph ----------------------------------------------
#
# High-dimensional kNN graphs grow HUBS — points that appear in far
# more neighbor lists than k — and antihubs that appear in none
# (Radovanovic et al. 2010); hubness degrades ANN recall and
# similarity-search quality, so the k-occurrence distribution is a
# standard embedding-health readout.  Over the production kNN graph
# (knn_graph's blocked-GEMM partial-top-K pipeline): per-node
# in-degree (zero-in-degree nodes kept via the dimension join), hub /
# antihub counts, max k-occurrence, and the skewness of the
# k-occurrence distribution — THE hubness statistic — from exact
# integer raw moments (decimal/HUGEINT), final g1 through the
# identical-IEEE-double device.
#
# Scale: rides the knn_graph operator (its cost story); the audit
# adds one groupBy(neighbor) + a dimension left join + a 1-row moment
# aggregate.

def knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = knn_graph(spark, sf_dir)
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    indeg = (
        ids.join(
            edges.groupBy("neighbor_id").agg(F.count(F.lit(1)).alias("d")),
            ids.vec_id == F.col("neighbor_id"),
            "left",
        )
        .select(F.coalesce("d", F.lit(0)).cast("bigint").alias("d"))
    )
    sums = indeg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.expr("cast(d as decimal(38,0)) * d")).alias("s2"),
        F.sum(F.expr("cast(d as decimal(38,0)) * d * d")).alias("s3"),
        F.max("d").alias("max_d"),
        F.sum((F.col("d") == 0).cast("bigint")).alias("n_antihubs"),
        F.sum((F.col("d") > 2 * KNN_K).cast("bigint")).alias("n_hubs"),
    )
    # g1 = sqrt(n) * (n^2 s3 - 3 n s1 s2 + 2 s1^3) / (n s2 - s1^2)^1.5,
    # numerator/denominator exact integers, one double chain at the end
    num = "cast(cast(n as decimal(38,0)) * n * s3 - 3 * cast(n as decimal(38,0)) * s1 * s2 + 2 * cast(s1 as decimal(38,0)) * s1 * s1 as double)"
    den = "cast(cast(n as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1 as double)"
    return sums.select(
        F.col("n").cast("bigint").alias("n_nodes"),
        F.lit(KNN_K).cast("bigint").alias("k"),
        F.col("max_d").cast("bigint").alias("max_k_occurrence"),
        F.col("n_hubs").cast("bigint").alias("n_hubs"),
        F.col("n_antihubs").cast("bigint").alias("n_antihubs"),
        F.expr(
            f"cast(floor(sqrt(cast(n as double)) * {num} / ({den} * sqrt({den})) * 1000.0) as bigint)"
        ).alias("skew_milli"),
    )


KNN_HUBNESS_SQL = f"""
WITH edges AS ({KNN_GRAPH_SQL}),
indeg AS (
  SELECT coalesce(d, 0)::BIGINT AS d
  FROM embeddings e LEFT JOIN (
    SELECT neighbor_id, count(*)::BIGINT AS d FROM edges GROUP BY 1
  ) g ON e.vec_id = g.neighbor_id
),
sums AS (
  SELECT count(*)::BIGINT AS n, CAST(sum(d) AS BIGINT) AS s1,
         sum(CAST(d AS HUGEINT) * d) AS s2,
         sum(CAST(d AS HUGEINT) * d * d) AS s3,
         CAST(max(d) AS BIGINT) AS max_d,
         CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_antihubs,
         CAST(sum(CASE WHEN d > 2 * {KNN_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_hubs
  FROM indeg
)
SELECT n AS n_nodes, CAST({KNN_K} AS BIGINT) AS k,
       max_d AS max_k_occurrence, n_hubs, n_antihubs,
       CAST(floor(sqrt(CAST(n AS DOUBLE))
            * CAST(CAST(n AS HUGEINT) * n * s3 - 3 * CAST(n AS HUGEINT) * s1 * s2 + 2 * CAST(s1 AS HUGEINT) * s1 * s1 AS DOUBLE)
            / (CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
               * sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE))) * 1000.0) AS BIGINT) AS skew_milli
FROM sums
"""

QUERIES["knn_hubness_audit"] = knn_hubness_audit
ORACLES["knn_hubness_audit"] = KNN_HUBNESS_SQL


# --- maximal-marginal-relevance diversified retrieval -------------------------
#
# MMR (Carbonell & Goldstein 1998): greedy re-ranking that trades
# relevance against redundancy — pick argmax over remaining candidates
# of λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s).  The de-facto
# standard diversifier in RAG retrieval stacks; composes with any ANN
# front-end (here the exact top-MMR_CAND cosine candidates).
#
# Determinism device: cosines land in micro fixed-point
# (floor(cos·1e6 + 0.5) on identical IEEE doubles), then the whole
# greedy recursion is exact integer arithmetic with λ = 0.7 as the
# 7/3 deci split: mmr_deci = 7·rel_u − 3·max_sim_u.  Ties break on
# smaller id.  The selection is sequential BY DESIGN (each pick
# changes the next argmax) — but over a candidate set bounded at
# MMR_CAND per query, so the unrolled MMR_K rounds are joins over
# broadcast-sized frames; the corpus-scale work is only the candidate
# generation, which reuses the brute-force scan (swap in IVF/LSH/PQ at
# 100 TB — candidates are interchangeable).

MMR_K = 6
MMR_CAND = 20
MMR_LAMBDA_DECI = 7  # λ = 0.7 → score = 7·rel_u − 3·max_sim_u


def search_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    nrm = emb.select("vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))
    q = nrm.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    rel = (
        nrm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("id"),
            "v",
            "nrm",
            F.floor(_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")) * 1e6 + 0.5)
            .cast("bigint")
            .alias("rel_u"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel_u"), F.asc("id"))
    cand = (
        rel.withColumn("crn", F.row_number().over(wq))
        .where(F.col("crn") <= MMR_CAND)
        .drop("crn")
        .localCheckpoint(eager=False)
    )
    a = cand.select("query_id", F.col("id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = cand.select("query_id", F.col("id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sims = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.floor(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) * 1e6 + 0.5)
            .cast("bigint")
            .alias("sim_u"),
        )
    )
    slim = cand.select("query_id", "id", "rel_u")

    # The greedy recursion itself runs per query over <= MMR_CAND
    # integer-scored candidates — the former unrolled form paid
    # 2 joins + agg + window + pin PER STEP (~20 scheduled jobs of
    # composition overhead for 5 queries x 20 candidates). One cogroup
    # ships (id, rel_u) and the pairwise sim_u table per query to a
    # single pandas group and replays the identical integer argmax:
    # rel_u/sim_u stay JVM-computed micro fixed-point (the engine-
    # equality device), the greedy is pure integer arithmetic with the
    # same (mmr_deci desc, id asc) tie-break, so the selection is
    # bit-identical by construction. At 100 TB the corpus-scale work
    # (candidate generation) is unchanged; only the bounded per-query
    # recursion moved.
    import pandas as pd

    def mmr_greedy(key, cands: pd.DataFrame, sims_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "doc_id": [], "step": [], "rel_u": [], "mmr_deci": []}
        ).astype("int64")
        if cands.empty:
            return empty
        qid = int(key[0])
        c = cands.sort_values(["rel_u", "id"], ascending=[False, True])
        ids = [int(i) for i in c["id"]]
        rel = {int(i): int(r) for i, r in zip(c["id"], c["rel_u"])}
        sim = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(sims_pdf["a"], sims_pdf["b"], sims_pdf["sim_u"])
        }
        lam, com = MMR_LAMBDA_DECI, 10 - MMR_LAMBDA_DECI
        first = ids[0]
        selected = [first]
        rows = [(qid, first, 1, rel[first], lam * rel[first])]
        for step in range(2, MMR_K + 1):
            best = None
            for a in ids:
                if a in selected:
                    continue
                ms = max(sim[(a, s)] for s in selected)
                score = lam * rel[a] - com * ms
                k2 = (-score, a)
                if best is None or k2 < best[0]:
                    best = (k2, a, score)
            if best is None:
                break
            selected.append(best[1])
            rows.append((qid, best[1], step, rel[best[1]], best[2]))
        return pd.DataFrame(
            rows, columns=["query_id", "doc_id", "step", "rel_u", "mmr_deci"]
        ).astype("int64")

    # the sims side's key is re-aliased to a FRESH attribute: slim and
    # sims share cand's lineage, and cogrouping two frames whose
    # grouping attributes carry the same expression id trips the
    # analyzer's ambiguity check
    sims_k = sims.select(
        F.col("query_id").alias("simq"), "a", "b", "sim_u"
    )
    return (
        slim.groupBy("query_id")
        .cogroup(sims_k.groupBy("simq"))
        .applyInPandas(
            mmr_greedy,
            "query_id long, doc_id long, step long, rel_u long, mmr_deci long",
        )
    )


def _mmr_sql() -> str:
    lam, com = MMR_LAMBDA_DECI, 10 - MMR_LAMBDA_DECI
    parts = [
        f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < {N_QUERIES}),
rel AS (
  SELECT query_id, n.vec_id AS id, v, nrm,
         CAST(floor(list_dot_product(qv, v) / (qn * nrm) * 1e6 + 0.5) AS BIGINT) AS rel_u
  FROM q JOIN n ON n.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, id, v, nrm, rel_u FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel_u DESC, id) AS crn
    FROM rel) WHERE crn <= {MMR_CAND}
),
sims AS (
  SELECT a.query_id, a.id AS a, b.id AS b,
         CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1e6 + 0.5) AS BIGINT) AS sim_u
  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.id <> b.id
),
slim AS (SELECT query_id, id, rel_u FROM cand),
selall1 AS (
  SELECT query_id, id, CAST(1 AS BIGINT) AS step, rel_u,
         CAST({lam} * rel_u AS BIGINT) AS mmr_deci
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel_u DESC, id) AS rn
        FROM slim) WHERE rn = 1
)"""
    ]
    for r in range(2, MMR_K + 1):
        p = r - 1
        parts.append(
            f""",
scored{r} AS (
  SELECT c.query_id, c.id, c.rel_u,
         CAST({lam} * c.rel_u - {com} * max(s.sim_u) AS BIGINT) AS mmr_deci
  FROM slim c
  JOIN sims s ON s.query_id = c.query_id AND s.a = c.id
  JOIN selall{p} t ON t.query_id = s.query_id AND t.id = s.b
  WHERE NOT EXISTS (SELECT 1 FROM selall{p} x WHERE x.query_id = c.query_id AND x.id = c.id)
  GROUP BY c.query_id, c.id, c.rel_u
),
selall{r} AS (
  SELECT * FROM selall{p}
  UNION ALL
  SELECT query_id, id, CAST({r} AS BIGINT) AS step, rel_u, mmr_deci FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr_deci DESC, id) AS rn
    FROM scored{r}) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT query_id, id AS doc_id, step, rel_u, mmr_deci FROM selall{MMR_K}"""
    )
    return "".join(parts)


MMR_SQL = _mmr_sql()

QUERIES["search_mmr_diversify"] = search_mmr_diversify
ORACLES["search_mmr_diversify"] = MMR_SQL


# --- sign-binarized Hamming retrieval + recall ----------------------------------
#
# The cheapest vector-compression rung below PQ (knn_pq) and
# Matryoshka truncation (matryoshka_recall): keep ONE BIT per
# dimension (the sign), rank by Hamming distance, measure recall@K
# against the exact cosine top-K — the 64x memory-shrink whose recall
# number decides whether a binarized first-pass index is acceptable.
# Signs pack into TWO 32-bit words (a single 64-bit word would need a
# 1<<63 shift — signed-overflow UB territory both engines); Hamming =
# bit_count(lo xor lo') + bit_count(hi xor hi') — pure integer, no
# float anywhere in the candidate ranking; ties break on neighbor id.
#
# Plan: one pass packs the corpus to (id, word); queries broadcast;
# the rank is a word-XOR popcount per pair — the brute-force shape
# with 8 bytes per vector instead of 512.

def embed_sign_binarize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    pack = (
        "aggregate(transform(slice(v, {o}, 32), (x, i) -> case when x > 0 then"
        " shiftleft(cast(1 as bigint), cast(i as int)) else cast(0 as bigint) end),"
        " cast(0 as bigint), (a, b) -> a + b)"
    )
    packed = emb.select(
        "vec_id",
        F.expr(pack.format(o=1)).alias("lo"),
        F.expr(pack.format(o=33)).alias("hi"),
    ).localCheckpoint(eager=False)
    q = packed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    ham = (
        packed.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").cast("bigint").alias("hamming"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    topb = ham.withColumn("rank", F.row_number().over(wq)).where(F.col("rank") <= KNN_K)
    exact = knn_brute_force(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    hits = topb.join(
        exact,
        (topb.query_id == exact.query_id) & (topb.neighbor_id == exact.true_id),
        "leftsemi",
    )
    per_q = (
        topb.select("query_id")
        .distinct()
        .join(hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("overlap_at_k"),
            F.expr(f"coalesce(n_hit, 0) * 10000 div {KNN_K}").cast("bigint").alias("recall_bp"),
        )
    )
    return per_q


SIGN_RECALL_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
packed AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, 33),
              i -> CASE WHEN v[i::INT] > 0 THEN (1::BIGINT << (i - 1)::INT)
                        ELSE 0::BIGINT END)) AS BIGINT) AS lo,
         CAST(list_sum(list_transform(range(33, len(v) + 1),
              i -> CASE WHEN v[i::INT] > 0 THEN (1::BIGINT << (i - 33)::INT)
                        ELSE 0::BIGINT END)) AS BIGINT) AS hi
  FROM d
),
q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM packed WHERE vec_id < {N_QUERIES}),
ham AS (
  SELECT query_id, p.vec_id AS neighbor_id,
         (bit_count(xor(p.lo, q.qlo)) + bit_count(xor(p.hi, q.qhi)))::BIGINT AS hamming
  FROM packed p JOIN q ON p.vec_id <> q.query_id
),
topb AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
    FROM ham) WHERE rank <= {KNN_K}
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn FROM n WHERE vec_id < {N_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, n.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(list_dot_product(qvec, v) / (qn * nrm), 6) DESC, n.vec_id) AS rank
    FROM qv JOIN n ON n.vec_id <> qv.query_id) WHERE rank <= {KNN_K}
),
hits AS (
  SELECT t.query_id, count(*)::BIGINT AS n_hit
  FROM topb t JOIN exact e ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
  GROUP BY t.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS overlap_at_k,
       CAST(coalesce(h.n_hit, 0) * 10000 // {KNN_K} AS BIGINT) AS recall_bp
FROM (SELECT DISTINCT query_id FROM topb) q LEFT JOIN hits h USING (query_id)
"""

QUERIES["embed_sign_binarize_recall"] = embed_sign_binarize_recall
ORACLES["embed_sign_binarize_recall"] = SIGN_RECALL_SQL


# --- embed_triplet_semihard — semi-hard triplet mining -------------------------
#
# The triplet-loss miner contrastive_pairs doesn't cover (Schroff et
# al. 2015 FaceNet, the selection rule that made triplet training
# converge): the SEMI-HARD negative is the most-similar different-label
# vector that is still ranked BELOW the anchor's hard positive
# (cos_n < cos_p) — hard enough to carry gradient, not so hard it
# collapses the embedding. Anchors where no such negative exists (the
# hardest impostor already outranks the positive) are emitted with the
# unconstrained hardest negative and violation = 1 — exactly the rows
# a training run would route to the plain hard-negative loss.
#
# Scale: the scored (anchor x corpus) stream is pinned once; the
# positive pass and the semi-hard pass are both conditional
# max(struct) aggregates over it (map-side combine, no corpus window);
# the second pass joins the k-row positive table broadcast-side.
# Ranking keys are 6dp-rounded cosines with vec_id tie-break (house
# device), so both argmaxes are engine-deterministic.

def embed_triplet_semihard(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    anchors = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
    )
    scored = (
        emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")), 6).alias(
                "cosine"
            ),
        )
        .localCheckpoint(eager=False)
    )
    same = F.col("label") == F.col("anchor_label")
    pos = (
        scored.groupBy("anchor_id")
        .agg(F.max(F.when(same, F.struct("cosine", "vec_id"))).alias("p"))
        .select(
            "anchor_id",
            F.col("p.vec_id").alias("pos_id"),
            F.col("p.cosine").alias("pos_cosine"),
        )
    )
    negs = scored.where(~same).join(F.broadcast(pos), "anchor_id")
    picked = negs.groupBy("anchor_id", "pos_id", "pos_cosine").agg(
        F.max(
            F.when(F.col("cosine") < F.col("pos_cosine"), F.struct("cosine", "vec_id"))
        ).alias("sh"),
        F.max(F.struct("cosine", "vec_id")).alias("hard"),
    )
    chosen = F.coalesce(F.col("sh"), F.col("hard"))
    return picked.select(
        "anchor_id",
        "pos_id",
        "pos_cosine",
        chosen["vec_id"].alias("neg_id"),
        chosen["cosine"].alias("neg_cosine"),
        (
            F.floor(F.col("pos_cosine") * 1000000 + F.lit(0.5))
            - F.floor(chosen["cosine"] * 1000000 + F.lit(0.5))
        ).cast("bigint").alias("margin_micro"),
        F.when(F.col("sh").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias(
            "violation"
        ),
    )


TRIPLET_SEMIHARD_SQL = f"""
WITH d AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM d
), a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv, nrm AS qn
  FROM n WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT anchor_id, anchor_label, n.vec_id, n.label,
         round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
  FROM a JOIN n ON n.vec_id <> a.anchor_id
), pos AS (
  SELECT anchor_id,
         (max(CASE WHEN label = anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).vec_id AS pos_id,
         (max(CASE WHEN label = anchor_label THEN struct_pack(cosine := cosine, vec_id := vec_id) END)).cosine AS pos_cosine
  FROM scored GROUP BY anchor_id
), picked AS (
  SELECT s.anchor_id, p.pos_id, p.pos_cosine,
         max(CASE WHEN s.cosine < p.pos_cosine THEN struct_pack(cosine := s.cosine, vec_id := s.vec_id) END) AS sh,
         max(struct_pack(cosine := s.cosine, vec_id := s.vec_id)) AS hard
  FROM scored s JOIN pos p ON p.anchor_id = s.anchor_id
  WHERE s.label <> s.anchor_label
  GROUP BY s.anchor_id, p.pos_id, p.pos_cosine
)
SELECT anchor_id, pos_id, pos_cosine,
       (coalesce(sh, hard)).vec_id AS neg_id,
       (coalesce(sh, hard)).cosine AS neg_cosine,
       CAST(floor(pos_cosine * 1000000 + 0.5)
          - floor((coalesce(sh, hard)).cosine * 1000000 + 0.5) AS BIGINT) AS margin_micro,
       CAST(CASE WHEN sh IS NULL THEN 1 ELSE 0 END AS BIGINT) AS violation
FROM picked
"""

QUERIES["embed_triplet_semihard"] = embed_triplet_semihard
ORACLES["embed_triplet_semihard"] = TRIPLET_SEMIHARD_SQL


# --- knn_shapley_values — closed-form data valuation ---------------------------
#
# The data-valuation primitive a training-data market runs on (Jia et
# al. 2019 "Efficient Task-Specific Data Valuation for Nearest
# Neighbor Algorithms"): the exact Shapley value of every training
# point for a KNN classifier has the closed form
#   s_(N) = I(y_(N) = y) / N
#   s_(i) = s_(i+1) + (I(y_(i)) - I(y_(i+1))) / K * min(K, i) / i
# over points ranked by distance to the test point — O(N log N), no
# Monte Carlo. The recursion telescopes into a SUFFIX SUM of per-rank
# terms, which is exactly one window: each term is an exact integer in
# 1e-9 units via the house truncating-div composition (multiply
# first, one div last), so the values are engine-reproducible
# including truncation dust. The efficiency axiom (sum of values =
# share of same-label points among the K nearest) is pinned in tests.
#
# Scale: the ranking windows partition by anchor over the
# EMBEDDINGS table — the index-sized artifact (knn_graph's grain),
# never the corpus; anchors are the bounded N_QUERIES probe set. The
# graded output is each anchor's top-VAL_TOP most valuable points.

KNN_SHAP_K = 10
VAL_TOP = 10
SHAP_SCALE = 10**9


def knn_shapley_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    ).withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    n_df = emb.agg((F.count(F.lit(1)) - 1).cast("bigint").alias("n_train"))
    anchors = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("q"),
        F.col("vn").alias("qn"),
    )
    ranked = (
        emb.join(F.broadcast(anchors), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            (F.col("label") == F.col("anchor_label")).cast("bigint").alias("ind"),
            F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")), 6).alias(
                "cosine"
            ),
        )
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("anchor_id").orderBy(
                    F.desc("cosine"), F.asc("vec_id")
                )
            ),
        )
    )
    k = KNN_SHAP_K
    terms = ranked.withColumn(
        "ind_next",
        F.lead("ind").over(Window.partitionBy("anchor_id").orderBy(F.asc("i"))),
    ).withColumn(
        "term",
        F.expr(
            f"case when ind_next is null then 0 else"
            f" (ind - ind_next) * least({k}, i) * {SHAP_SCALE} div ({k} * i) end"
        ),
    )
    w_suffix = Window.partitionBy("anchor_id").orderBy(F.asc("i")).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    # s_i = base + sum_{j>=i} term_j, with base = I_(N) * SCALE div N
    base = (
        terms.where(F.col("ind_next").isNull())
        .crossJoin(F.broadcast(n_df))
        .select(
            "anchor_id",
            F.expr(f"ind * {SHAP_SCALE} div n_train").alias("base"),
        )
    )
    shap = (
        terms.select(
            "anchor_id",
            "vec_id",
            "i",
            "ind",
            F.sum("term").over(w_suffix).alias("sfx"),
        )
        .join(F.broadcast(base), "anchor_id")
        .select(
            "anchor_id",
            "vec_id",
            F.col("i").alias("rank_i"),
            F.col("ind").alias("same_label"),
            (F.col("base") + F.col("sfx")).cast("bigint").alias("shapley_e9"),
        )
    )
    w_top = Window.partitionBy("anchor_id").orderBy(
        F.desc("shapley_e9"), F.asc("vec_id")
    )
    return (
        shap.withColumn("r", F.row_number().over(w_top))
        .where(F.col("r") <= VAL_TOP)
        .drop("r")
    )


KNN_SHAPLEY_SQL = f"""
WITH d AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM d
), nt AS (SELECT count(*)::BIGINT - 1 AS n_train FROM d),
a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, v AS qv, nrm AS qn
  FROM n WHERE vec_id < {N_QUERIES}
), ranked AS (
  SELECT anchor_id, n.vec_id,
         CAST(n.label = a.anchor_label AS BIGINT) AS ind,
         row_number() OVER (PARTITION BY anchor_id
           ORDER BY round(list_dot_product(qv, v) / (qn * nrm), 6) DESC, n.vec_id ASC) AS i
  FROM a JOIN n ON n.vec_id <> a.anchor_id
), terms AS (
  SELECT anchor_id, vec_id, i, ind,
         lead(ind) OVER (PARTITION BY anchor_id ORDER BY i) AS ind_next
  FROM ranked
), termval AS (
  SELECT anchor_id, vec_id, i, ind,
         CASE WHEN ind_next IS NULL THEN 0
              ELSE (ind - ind_next) * LEAST({KNN_SHAP_K}, i) * {SHAP_SCALE} // ({KNN_SHAP_K} * i)
         END AS term
  FROM terms
), base AS (
  SELECT t.anchor_id, t.ind * {SHAP_SCALE} // n_train AS base
  FROM termval t, nt WHERE NOT EXISTS (
    SELECT 1 FROM termval x WHERE x.anchor_id = t.anchor_id AND x.i = t.i + 1)
), shap AS (
  SELECT t.anchor_id, t.vec_id, t.i AS rank_i, t.ind AS same_label,
         CAST(b.base + sum(t.term) OVER (PARTITION BY t.anchor_id ORDER BY t.i
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS shapley_e9
  FROM termval t JOIN base b ON b.anchor_id = t.anchor_id
)
SELECT anchor_id, vec_id, rank_i, same_label, shapley_e9 FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
            ORDER BY shapley_e9 DESC, vec_id ASC) AS r
  FROM shap
) WHERE r <= {VAL_TOP}
"""

QUERIES["knn_shapley_values"] = knn_shapley_values
ORACLES["knn_shapley_values"] = KNN_SHAPLEY_SQL


# --- multi-probe LSH ----------------------------------------------------------------
#
# The serving upgrade that made hyperplane LSH practical (Lv et al.
# 2007 "Multi-Probe LSH"): instead of more tables, probe the buckets
# MOST LIKELY to hold near misses — the Hamming-1 neighbors of the
# query's own bucket (one sign-bit flip per plane). Graded as the
# recall economics table: per query, candidate counts and recall@K
# against the exact top-K under single-probe vs multi-probe — the
# candidates superset guarantees recall_multi >= recall_single (an
# exact-top-K member in the candidate set always survives the top-K
# cut), pinned in tests. Exact top-K, both candidate sets and both
# recalls all derive from ONE scored stream (queries broadcast, corpus
# streamed once); probe membership is a 5-element array_contains on
# the broadcast side.
#
# Scale: identical join shape to knn_lsh; multi-probe multiplies the
# candidate fan-in by (1 + LSH_PLANES)/2^LSH_PLANES of the corpus in
# expectation — at 100 TB that is the dial between one-table recall
# and brute-force cost, and this table IS the dial's readout.

def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    np_ = _planes_for(spark, sf_dir)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("bucket", _bucket_expr(F.col("v"), np_))
        .withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    probes = F.array(
        F.col("bucket"), *[F.expr(f"bucket ^ {1 << p}") for p in range(np_)]
    )
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q"),
        F.col("bucket").alias("qb"),
        probes.alias("qprobes"),
        F.col("vn").alias("qn"),
    )
    scored = (
        emb.alias("c")
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("bucket") == F.col("qb")).cast("bigint").alias("in_single"),
            F.expr("array_contains(qprobes, bucket)").cast("bigint").alias("in_multi"),
            F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("c.vn")), 6).alias(
                "cosine"
            ),
        )
        .localCheckpoint(eager=False)
    )

    def topk(df, flag):
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        src = df.where(F.col(flag) == 1) if flag else df
        return (
            src.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= KNN_K)
            .select("query_id", "neighbor_id")
        )

    exact = topk(scored, None)
    single = topk(scored, "in_single")
    multi = topk(scored, "in_multi")
    cands = scored.groupBy("query_id").agg(
        F.sum("in_single").cast("bigint").alias("n_cand_single"),
        F.sum("in_multi").cast("bigint").alias("n_cand_multi"),
    )
    r_single = (
        exact.join(single, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hit_s"))
    )
    r_multi = (
        exact.join(multi, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hit_m"))
    )
    return (
        cands.join(r_single, "query_id", "left")
        .join(r_multi, "query_id", "left")
        .na.fill({"hit_s": 0, "hit_m": 0})
        .select(
            "query_id",
            "n_cand_single",
            "n_cand_multi",
            F.expr(f"hit_s * 10000 div {KNN_K}").alias("recall_single_bp"),
            F.expr(f"hit_m * 10000 div {KNN_K}").alias("recall_multi_bp"),
        )
    )


def _probe_list_sql_dyn() -> str:
    """[bucket] + one bit-flip probe per plane, plane count from npl."""
    return (
        "list_concat([bucket],"
        " list_transform(range(0, np), p -> xor(bucket, 1::BIGINT << p)))"
    )


MULTIPROBE_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {_npl_sql()}, e AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, {_bucket_sql_dyn("v")} AS bucket, np FROM d, npl
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qb,
         {_probe_list_sql_dyn()} AS qprobes
  FROM e WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         CAST(e.bucket = q.qb AS BIGINT) AS in_single,
         CAST(list_contains(q.qprobes, e.bucket) AS BIGINT) AS in_multi,
         round(list_dot_product(qv, v) / (qn * nrm), 6) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id
), exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored
  ) WHERE r <= {KNN_K}
), single_t AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored WHERE in_single = 1
  ) WHERE r <= {KNN_K}
), multi_t AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS r
    FROM scored WHERE in_multi = 1
  ) WHERE r <= {KNN_K}
), cands AS (
  SELECT query_id, CAST(sum(in_single) AS BIGINT) AS n_cand_single,
         CAST(sum(in_multi) AS BIGINT) AS n_cand_multi
  FROM scored GROUP BY query_id
), rs AS (
  SELECT e.query_id, count(*)::BIGINT AS hit_s
  FROM exact e JOIN single_t s ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
), rm AS (
  SELECT e.query_id, count(*)::BIGINT AS hit_m
  FROM exact e JOIN multi_t m ON m.query_id = e.query_id AND m.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT c.query_id, c.n_cand_single, c.n_cand_multi,
       coalesce(rs.hit_s, 0) * 10000 // {KNN_K} AS recall_single_bp,
       coalesce(rm.hit_m, 0) * 10000 // {KNN_K} AS recall_multi_bp
FROM cands c LEFT JOIN rs ON rs.query_id = c.query_id
LEFT JOIN rm ON rm.query_id = c.query_id
"""

QUERIES["knn_lsh_multiprobe"] = knn_lsh_multiprobe
ORACLES["knn_lsh_multiprobe"] = MULTIPROBE_SQL


# --- mutual k-NN graph — the pruning ANN serving stacks apply ------------------
#
# Reciprocal/mutual-kNN filtering (the standard hubness counter-device:
# an edge survives only if BOTH endpoints rank each other in their
# top-K) — the graph-cleanup step between knn_graph and anything that
# consumes it (label propagation, diffusion re-ranking, graph dedup).
# knn_hubness_audit MEASURES the asymmetry; this emits the symmetrized
# artifact: one row per unordered mutual pair with the cosine and both
# ranks, so a consumer can threshold on max(rank_ab, rank_ba).
#
# Shape: the pinned knn_graph (blocked-GEMM partial top-Ks, bounded
# merge) self-joined on the reversed (vec_id, neighbor_id) key —
# K·n rows join K·n rows on an equi-key, one shuffle, output bounded
# by K·n/2. Rank/cosine are the 6dp-rounded engine-deterministic order.

def knn_mutual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = knn_graph(spark, sf_dir).localCheckpoint(eager=False)  # both sides
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.vec_id"))
            & (F.col("a.vec_id") < F.col("a.neighbor_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("a.neighbor_id").alias("id_b"),
            F.col("a.cosine").alias("cosine"),
            F.col("a.rank").alias("rank_ab"),
            F.col("b.rank").alias("rank_ba"),
        )
    )


KNN_MUTUAL_SQL = f"""
WITH g AS ({KNN_GRAPH_SQL})
SELECT a.vec_id AS id_a, a.neighbor_id AS id_b, a.cosine AS cosine,
       a.rank AS rank_ab, b.rank AS rank_ba
FROM g a JOIN g b
  ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
     AND a.vec_id < a.neighbor_id
"""

QUERIES["knn_mutual_graph"] = knn_mutual_graph
ORACLES["knn_mutual_graph"] = KNN_MUTUAL_SQL


# --- banded-LSH recall/precision curve (the swapped path, measured) -----------
#
# The round-9 exact→ANN dispatch routes similarity_pairs / knn_graph
# through SIM_BANDS band-salted bucketings above SIM_EXACT_MAX — but at
# the driver's test SFs the dispatch always picks exact, so the banded
# machinery itself would only ever be exercised by local tests. This
# harness runs the banded candidate generation UNCONDITIONALLY (same
# np formula, same plane stream, same verify threshold) and grades it
# against the exact blocked-GEMM ground truth, per cumulative band
# count L = 1..SIM_BANDS — the OR-amplification curve (recall rises
# with L, precision = verified/candidates falls, candidate volume is
# the cost axis). The number a deployment reads before trusting the
# swap — and the driver-checkable twin of the swap tests in
# tests/test_embeddings.py. Measured at sf0.01: pair recall 12/22/32/
# 39% at L=1..4 — the documented trade of hyperplane LSH at the LOW
# PAIR_TAU=0.4 threshold (kNN-grain recall of the same banding is
# 0.95@K=10 on the clustered swap-test corpus); a deployment that
# needs pair recall at low tau raises SIM_BANDS, and this harness
# prices exactly that dial.
#
# Scale: candidate generation is the production banded path (linear);
# the exact denominator is the blocked GEMM — an eval harness cost,
# run on a sample at 100 TB exactly like ann_recall_eval's brute-force
# arm.

def embed_banded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    np_ = _planes_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out_schema = "band bigint, id_a bigint, id_b bigint, cosine double"

    def pairs_in_bucket(key, pdf):
        # per-bucket BLAS scoring of ALL in-bucket pairs (candidates,
        # not just verified ones — the cost axis the harness reports);
        # same normalize/round device as the production bucket kernel
        band = int(key[0])
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        sims = m @ m.T
        ia, ib = np.triu_indices(len(ids), k=1)
        return pd.DataFrame(
            {
                "band": band,
                "id_a": np.minimum(ids[ia], ids[ib]),
                "id_b": np.maximum(ids[ia], ids[ib]),
                "cosine": np.round(sims[ia, ib], 6),
            }
        ).astype(
            {"band": "int64", "id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )

    all_pairs = _banded_buckets(emb, np_, _embed_dim(sf_dir)).groupBy(
        "band", "bucket"
    ).applyInPandas(pairs_in_bucket, out_schema)
    first_hit = all_pairs.groupBy("id_a", "id_b").agg(
        F.min("band").alias("first_band"), F.min("cosine").alias("cosine")
    )
    per_band = first_hit.groupBy("first_band").agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum((F.col("cosine") >= PAIR_TAU).cast("bigint")).alias("n_ver"),
    ).localCheckpoint(eager=False)  # feeds the ladder join once; cheap pin
    ladder = spark.range(1, SIM_BANDS + 1).select(F.col("id").alias("n_bands"))
    cum = (
        ladder.join(F.broadcast(per_band), F.col("first_band") < F.col("n_bands"))
        .groupBy("n_bands")
        .agg(F.sum("n_cand").alias("n_candidates"), F.sum("n_ver").alias("n_verified"))
    )
    exact_total = _similarity_pairs_exact(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_exact")
    )
    return cum.crossJoin(F.broadcast(exact_total)).select(
        "n_bands",
        "n_candidates",
        "n_verified",
        F.expr("n_verified * 10000 div n_candidates").alias("precision_bp"),
        F.expr("n_verified * 10000 div total_exact").alias("recall_bp"),
    )


EMBED_BANDED_RECALL_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {_npl_sql()},
bucketed AS (
  SELECT vec_id, v, b.band, {_bucket_sql_band("v", "b.band")} AS bucket
  FROM d, npl, (SELECT unnest(range({SIM_BANDS})) AS band) b
),
first_hit AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b, min(x.band) AS first_band
  FROM bucketed x JOIN bucketed y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
  GROUP BY 1, 2
),
per_band AS (
  SELECT first_band, count(*) AS n_cand,
         CAST(sum(CASE WHEN {_COS6} >= {PAIR_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_ver
  FROM first_hit
  JOIN d a ON a.vec_id = id_a
  JOIN d b ON b.vec_id = id_b
  GROUP BY 1
),
exact_total AS (
  SELECT count(*) AS total_exact
  FROM d a JOIN d b ON a.vec_id < b.vec_id
  WHERE {_COS6} >= {PAIR_TAU}
)
SELECT l.n_bands, CAST(sum(p.n_cand) AS BIGINT) AS n_candidates,
       CAST(sum(p.n_ver) AS BIGINT) AS n_verified,
       CAST(CAST(sum(p.n_ver) AS BIGINT) * 10000 // CAST(sum(p.n_cand) AS BIGINT) AS BIGINT) AS precision_bp,
       CAST(CAST(sum(p.n_ver) AS BIGINT) * 10000 // (SELECT total_exact FROM exact_total) AS BIGINT) AS recall_bp
FROM (SELECT unnest(range(1, {SIM_BANDS} + 1)) AS n_bands) l
JOIN per_band p ON p.first_band < l.n_bands
GROUP BY 1
"""

QUERIES["embed_banded_recall"] = embed_banded_recall
ORACLES["embed_banded_recall"] = EMBED_BANDED_RECALL_SQL


# --- incremental kNN-graph refresh (batch vs master index) --------------------
#
# The refresh contract applied to the knn_graph ARTIFACT (the flat-
# index sibling of `hnsw_insert_plan`, same batch convention): a new
# vector batch (vec_id % KNN_BATCH_MOD == 3) arrives against the
# EXISTING master graph, and the refresh must answer two questions
# WITHOUT re-pairing master against itself beyond the index it already
# owns: (1) each batch vector's top-K master neighbors (its own new
# adjacency rows), and (2) which master rows' top-K lists the batch
# INVALIDATES — a batch vector enters master m's list iff it ranks
# ahead of m's current K-th entry under the house (cosine 6dp desc,
# id asc) order; the emitted rank is the insertion position against
# the PRE-refresh list (batch entries are ranked against the current
# index, the per-cycle grain — a full rebuild reconciles multi-entry
# interactions, exactly like the reference's merge-then-rebuild
# cycles). Cost shape at 100 TB: |batch| x |master| broadcast probes —
# proportional to the batch; the master graph g is recomputed here
# only because the operator is self-contained (a production refresh
# reads it from the persisted artifact, the sinks/vector_index.py
# precedent).

KNN_BATCH_MOD = 10  # vec_id % 10 == 3 is the incoming batch (hnsw_insert_plan convention)


def knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = F.pmod(F.col("vec_id"), KNN_BATCH_MOD) == 3
    master = emb.where(~is_batch)
    batch = emb.where(is_batch)

    # the index-artifact stand-in goes through the SAME exact→ANN
    # dispatch as knn_graph itself (r9) — otherwise this operator would
    # quietly re-introduce the quadratic master GEMM the swap retired;
    # the master count (one filtered count job) gates identically to
    # the oracle's count-gated branches.
    n_m = master.count()
    g = (
        _knn_graph_exact_on(master)
        if n_m <= SIM_EXACT_MAX
        else _knn_graph_banded_on(master, _lsh_planes(n_m), _embed_dim(sf_dir))
    ).localCheckpoint(eager=False)  # the index artifact

    if n_m <= SIM_EXACT_MAX:
        # exact probe: O(|batch| x |master|), the sub-threshold
        # contract — priced as the house blocked GEMM (master split by
        # mid % SIM_BLOCKS, batch replicated per block, one
        # np.round(unit matmul, 6) per block) instead of an interpreted
        # 64-dim dot per pair: the same arithmetic path the banded arm
        # below and _knn_graph_exact_on already use, so both dispatch
        # arms share one cosine implementation (guide §4.2; the
        # interpreted probe alone measured ~2.5 s of the ~5 s query).
        import numpy as np
        import pandas as pd

        mtag = master.select("vec_id", "embedding").withColumn(
            "pb", (F.col("vec_id") % SIM_BLOCKS).cast("int")
        ).withColumn("role", F.lit("m"))
        btag = (
            batch.select("vec_id", "embedding")
            .withColumn(
                "pb", F.explode(F.array(*[F.lit(k).cast("int") for k in range(SIM_BLOCKS)]))
            )
            .withColumn("role", F.lit("b"))
        )
        cross_schema = "mid bigint, bid bigint, cosine double"

        def cross_block(key, pdf):
            mrows = pdf[pdf["role"] == "m"]
            brows = pdf[pdf["role"] == "b"]
            if mrows.empty or brows.empty:
                return pd.DataFrame({"mid": [], "bid": [], "cosine": []}).astype(
                    {"mid": "int64", "bid": "int64", "cosine": "float64"}
                )
            mm = np.array(list(mrows["embedding"]), dtype=np.float64)
            bb = np.array(list(brows["embedding"]), dtype=np.float64)
            mm /= np.linalg.norm(mm, axis=1, keepdims=True)
            bb /= np.linalg.norm(bb, axis=1, keepdims=True)
            sims = np.round(bb @ mm.T, 6)
            mids = mrows["vec_id"].to_numpy()
            bids = brows["vec_id"].to_numpy()
            ib, im = np.nonzero(np.ones_like(sims, dtype=bool))
            return pd.DataFrame(
                {"mid": mids[im], "bid": bids[ib], "cosine": sims[ib, im]}
            ).astype({"mid": "int64", "bid": "int64", "cosine": "float64"})

        scored = mtag.unionByName(btag).groupBy("pb").applyInPandas(
            cross_block, cross_schema
        )
    else:
        # above the threshold the probe itself must be banded too — a
        # constant batch FRACTION makes the exact batch x master scan
        # grow quadratically with the corpus (the 16x probe caught
        # exactly this on the first cut): per-(band, bucket) GEMM of
        # the bucket's batch rows against its master rows, cross-band
        # dedup — candidates ∝ |batch| x bucket occupancy
        import numpy as np
        import pandas as pd

        np_ = _lsh_planes(n_m)
        dim = _embed_dim(sf_dir)
        tagged = _banded_buckets(master, np_, dim).withColumn(
            "role", F.lit("m")
        ).unionByName(
            _banded_buckets(batch, np_, dim).withColumn("role", F.lit("b"))
        )
        cross_schema = "mid bigint, bid bigint, cosine double"

        def cross_bucket(key, pdf):
            mrows = pdf[pdf["role"] == "m"]
            brows = pdf[pdf["role"] == "b"]
            if mrows.empty or brows.empty:
                return pd.DataFrame({"mid": [], "bid": [], "cosine": []}).astype(
                    {"mid": "int64", "bid": "int64", "cosine": "float64"}
                )
            mm = np.array(list(mrows["embedding"]), dtype=np.float64)
            bb = np.array(list(brows["embedding"]), dtype=np.float64)
            mm /= np.linalg.norm(mm, axis=1, keepdims=True)
            bb /= np.linalg.norm(bb, axis=1, keepdims=True)
            sims = np.round(bb @ mm.T, 6)
            mids = mrows["vec_id"].to_numpy()
            bids = brows["vec_id"].to_numpy()
            ib, im = np.nonzero(np.ones_like(sims, dtype=bool))
            return pd.DataFrame(
                {"mid": mids[im], "bid": bids[ib], "cosine": sims[ib, im]}
            ).astype({"mid": "int64", "bid": "int64", "cosine": "float64"})

        scored = (
            tagged.groupBy("band", "bucket")
            .applyInPandas(cross_bucket, cross_schema)
            .groupBy("mid", "bid")
            .agg(F.min("cosine").alias("cosine"))
        )
    scored = scored.localCheckpoint(eager=False)  # feeds both arms below

    wb = Window.partitionBy("bid").orderBy(F.desc("cosine"), F.asc("mid"))
    batch_topk = (
        scored.withColumn("rank", F.row_number().over(wb))
        .where(F.col("rank") <= KNN_K)
        .select(
            F.lit("batch").alias("kind"),
            F.col("bid").alias("vec_id"),
            F.col("mid").alias("neighbor_id"),
            F.col("rank").cast("bigint").alias("rank"),
            "cosine",
        )
    )

    negc = lambda c: (-F.floor(c * 1000000 + F.lit(0.5))).cast("bigint")  # noqa: E731
    kth = g.where(F.col("rank") == KNN_K).select(
        F.col("vec_id").alias("mid"),
        negc(F.col("cosine")).alias("knegc"),
        F.col("neighbor_id").alias("knid"),
    )
    enters = scored.join(F.broadcast(kth), "mid", "left").where(
        F.col("knegc").isNull()
        | (
            F.struct(negc(F.col("cosine")).alias("n"), F.col("bid").alias("i"))
            < F.struct(F.col("knegc").alias("n"), F.col("knid").alias("i"))
        )
    )
    gm = g.select(
        F.col("vec_id").alias("mid"),
        negc(F.col("cosine")).alias("gnegc"),
        F.col("neighbor_id").alias("gnid"),
    )
    master_updates = (
        enters.join(gm, "mid", "left")
        .groupBy("mid", "bid", "cosine")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    F.when(
                        F.struct(F.col("gnegc").alias("n"), F.col("gnid").alias("i"))
                        < F.struct(
                            negc(F.col("cosine")).alias("n"), F.col("bid").alias("i")
                        ),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("rank")
        )
        .select(
            F.lit("enter").alias("kind"),
            F.col("mid").alias("vec_id"),
            F.col("bid").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )
    return batch_topk.unionByName(master_updates)


KNN_INCR_SQL = f"""
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
m AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d WHERE vec_id % {KNN_BATCH_MOD} <> 3),
b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d WHERE vec_id % {KNN_BATCH_MOD} = 3),
mcnt AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % {KNN_BATCH_MOD} <> 3),
npl AS (SELECT greatest({LSH_PLANES}, CASE WHEN mm <= 1 THEN 0
        ELSE length(bin(mm - 1)) END) AS np FROM
        (SELECT CAST((n + {LSH_BUCKET_TARGET - 1}) // {LSH_BUCKET_TARGET} AS BIGINT) AS mm FROM mcnt)),
mx AS (SELECT m.* FROM m WHERE (SELECT n FROM mcnt) <= {SIM_EXACT_MAX}),
mb AS (SELECT m.* FROM m WHERE (SELECT n FROM mcnt) > {SIM_EXACT_MAX}),
gscored AS (
  SELECT a.vec_id, x.vec_id AS neighbor_id,
         round(list_dot_product(a.v, x.v) / (a.nrm * x.nrm), 6) AS cosine
  FROM mx a JOIN mx x ON a.vec_id <> x.vec_id
),
bucketed AS (
  SELECT vec_id, v, bb.band, {_bucket_sql_band("v", "bb.band")} AS bucket
  FROM mb, npl, (SELECT unnest(range({SIM_BANDS})) AS band) bb
),
cand_m AS (
  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id, {_COS6} AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
g AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM gscored
  ) WHERE rank <= {KNN_K}
  UNION ALL
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cand_m
  ) WHERE rank <= {KNN_K}
),
bbt AS (SELECT b.* FROM b WHERE (SELECT n FROM mcnt) > {SIM_EXACT_MAX}),
bucketed_b AS (
  SELECT vec_id, v, bb.band, {_bucket_sql_band("v", "bb.band")} AS bucket
  FROM bbt, npl, (SELECT unnest(range({SIM_BANDS})) AS band) bb
),
sc AS (
  SELECT mx.vec_id AS mid, b.vec_id AS bid,
         round(list_dot_product(mx.v, b.v) / (mx.nrm * b.nrm), 6) AS cosine
  FROM mx JOIN b ON true
  UNION ALL
  SELECT DISTINCT a.vec_id AS mid, b.vec_id AS bid, {_COS6} AS cosine
  FROM bucketed a JOIN bucketed_b b
    ON a.band = b.band AND a.bucket = b.bucket
),
bt AS (
  SELECT 'batch' AS kind, bid AS vec_id, mid AS neighbor_id,
         CAST(rank AS BIGINT) AS rank, cosine
  FROM (
    SELECT *, row_number() OVER (PARTITION BY bid ORDER BY cosine DESC, mid ASC) AS rank
    FROM sc
  ) WHERE rank <= {KNN_K}
),
kth AS (
  SELECT vec_id AS mid,
         -CAST(floor(cosine * 1000000 + (0.5)::DOUBLE) AS BIGINT) AS knegc,
         neighbor_id AS knid
  FROM g WHERE rank = {KNN_K}
),
enters AS (
  SELECT sc.mid, sc.bid, sc.cosine
  FROM sc LEFT JOIN kth ON kth.mid = sc.mid
  WHERE kth.mid IS NULL
     OR (-CAST(floor(sc.cosine * 1000000 + (0.5)::DOUBLE) AS BIGINT), sc.bid)
        < (kth.knegc, kth.knid)
),
mu AS (
  SELECT 'enter' AS kind, e.mid AS vec_id, e.bid AS neighbor_id,
         CAST(1 + sum(CASE WHEN
              (-CAST(floor(g.cosine * 1000000 + (0.5)::DOUBLE) AS BIGINT), g.neighbor_id)
              < (-CAST(floor(e.cosine * 1000000 + (0.5)::DOUBLE) AS BIGINT), e.bid)
              THEN 1 ELSE 0 END) AS BIGINT) AS rank,
         e.cosine
  FROM enters e LEFT JOIN g ON g.vec_id = e.mid
  GROUP BY e.mid, e.bid, e.cosine
)
SELECT kind, vec_id, neighbor_id, rank, cosine FROM bt
UNION ALL
SELECT kind, vec_id, neighbor_id, rank, cosine FROM mu
"""

QUERIES["knn_graph_incremental"] = knn_graph_incremental
ORACLES["knn_graph_incremental"] = KNN_INCR_SQL


# --- embed_sq8_recall — per-dimension scalar quantization (SQ8) ----------------
#
# The compression rung between PQ (knn_pq: M codes per vector) and the
# sign bit (embed_sign_binarize_recall: 1 bit/dim): FAISS's
# ScalarQuantizer QT_8bit — an affine per-DIMENSION min/max grid maps
# every component to one byte (8x memory shrink, no codebook training),
# and candidates rank by the symmetric quantized dot over CENTERED
# codes. The train pass is the per-dim (min, max) table — the artifact
# a deployment persists next to the codebook.
#
# Integer-exactness (the house device): components hit the 1e5 floor
# grid first, so the affine code ((qx - qmin) * 255) div (qmax - qmin)
# is a BIGINT rational with a NON-NEGATIVE numerator (truncating div ==
# floor in both engines), and the ranking score is a bounded integer
# sum — no float summation anywhere on the ranked path. Exact cosine
# appears only inside the recall harness's ground-truth CTE.
#
# Scale: train = one narrow posexplode -> dim-grid aggregation
# (map-side combinable, grid = dim rows); codes are one projection over
# a broadcast 1-row stats array; the ranked scan here is the
# brute-force harness shape (queries broadcast, corpus streamed once) —
# a 100 TB serving path routes SQ8 scoring through IVF cells
# (knn_ivf's probe composition) exactly like the PQ family.

SQ8_GRID = 100000


def embed_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    qx = emb.select(
        "vec_id",
        F.expr(f"transform(v, x -> cast(floor(x * {SQ8_GRID}.0) as bigint))").alias("qx"),
    )
    dims = (
        qx.select(F.posexplode("qx").alias("j", "val"))
        .groupBy("j")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )
    stats = dims.agg(
        F.array_sort(F.collect_list(F.struct("j", "mn", "mx"))).alias("st")
    )  # 1 row, dim-bounded
    code = (
        "transform(qx, (x, j) -> case when element_at(st, j + 1).mx = element_at(st, j + 1).mn"
        " then cast(0 as bigint)"
        " else ((x - element_at(st, j + 1).mn) * 255) div (element_at(st, j + 1).mx - element_at(st, j + 1).mn) end"
        " - 128)"
    )
    codes = (
        qx.crossJoin(F.broadcast(stats))
        .select("vec_id", F.expr(code).alias("c"))
        .localCheckpoint(eager=False)  # both join sides
    )
    q = codes.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    scored = codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "aggregate(zip_with(c, qc, (a, b) -> a * b), cast(0 as bigint),"
            " (acc, x) -> acc + x)"
        ).alias("qdot"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qdot"), F.asc("neighbor_id"))
    topb = scored.withColumn("rank", F.row_number().over(wq)).where(
        F.col("rank") <= KNN_K
    )
    exact = knn_brute_force(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    hits = topb.join(
        exact,
        (topb.query_id == exact.query_id) & (topb.neighbor_id == exact.true_id),
        "leftsemi",
    )
    return (
        topb.select("query_id")
        .distinct()
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("overlap_at_k"),
            F.expr(f"coalesce(n_hit, 0) * 10000 div {KNN_K}")
            .cast("bigint")
            .alias("recall_bp"),
        )
    )


SQ8_RECALL_SQL = f"""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {SQ8_GRID}.0) AS BIGINT)) AS qx,
         embedding::DOUBLE[] AS v
  FROM embeddings
),
dim AS (
  SELECT j, min(val) AS mn, max(val) AS mx FROM (
    SELECT unnest(qx) AS val, generate_subscripts(qx, 1) AS j FROM d
  ) GROUP BY j
),
st AS (SELECT list(struct_pack(j := j, mn := mn, mx := mx) ORDER BY j) AS st FROM dim),
codes AS (
  SELECT vec_id,
         list_transform(qx, (x, i) -> CASE WHEN st[i].mx = st[i].mn THEN 0::BIGINT
              ELSE ((x - st[i].mn) * 255) // (st[i].mx - st[i].mn) END - 128) AS c
  FROM d, st
),
q AS (SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, p.vec_id AS neighbor_id,
         CAST(list_dot_product(p.c::DOUBLE[], q.qc::DOUBLE[]) AS BIGINT) AS qdot
  FROM codes p JOIN q ON p.vec_id <> q.query_id
),
topb AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {KNN_K}
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM d),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn FROM n WHERE vec_id < {N_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, n.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY round(list_dot_product(qvec, v) / (qn * nrm), 6) DESC, n.vec_id) AS rank
    FROM qv JOIN n ON n.vec_id <> qv.query_id) WHERE rank <= {KNN_K}
),
hits AS (
  SELECT t.query_id, count(*)::BIGINT AS n_hit
  FROM topb t JOIN exact e ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
  GROUP BY t.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS overlap_at_k,
       CAST(coalesce(h.n_hit, 0) * 10000 // {KNN_K} AS BIGINT) AS recall_bp
FROM (SELECT DISTINCT query_id FROM topb) q LEFT JOIN hits h USING (query_id)
"""

QUERIES["embed_sq8_recall"] = embed_sq8_recall
ORACLES["embed_sq8_recall"] = SQ8_RECALL_SQL
