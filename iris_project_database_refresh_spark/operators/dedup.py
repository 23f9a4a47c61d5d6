"""Deduplication suite: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference dedups at file granularity — the catalog refresh keeps one
record per document identity and replaces stale copies
(`catalog search/stage4_update_csv.py:379` delete-then-append;
`semantic search/stage_05_csv_export.py:532` merge_with_master_csv drops
rows matching the incoming document_id). This module generalizes that to
content-level dedup, the core operator set of an LLM-training-data
pipeline.

Test corpus: the synthetic documents are all distinct, so each operator
runs over ``documents`` plus deterministically *planted* duplicates
(exact copies for doc_id % 7 == 0, 90%-prefix near-copies for
doc_id % 5 == 0) — planted identically in the DuckDB oracle, so results
stay hash-checkable while exercising real clusters.

Shingle representation: tokens are md5-hashed ONCE (the only string
hashing in the pipeline); shingles are then arithmetic combinations of
adjacent token hashes (rolling-hash style, overflow-safe int64). No
shingle strings are ever built — at 100 TB the concat_ws alternative
allocates ~3× the corpus in short-lived strings and dominated local
profiles by >10×. Every constant is mirrored in the DuckDB oracles, so
signatures, bands, and candidate sets stay bit-identical across
engines.

Scale design (100 TB):
* token hashing/shingling/signatures: narrow per-row expressions, no
  shuffle.
* n-gram inverted index: shuffle on the 8-byte shingle hash; shingles
  above the document-frequency cap (DF_CAP) are dropped before the
  self-join — stopword semantics, mirrored in the oracle — so every
  join bucket is bounded by DF_CAP; AQE handles residual skew.
* LSH: shuffle on (band_idx, band_key) — bounded fan-out (BANDS per
  doc); candidate pairs deduped before the verify join; verify is an
  array_intersect on the two docs' bounded hash arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.plan_memo import plan_memo

# MinHash permutation constants h_i(x) = (a_i*x + b_i) mod P, generated
# once with seed 20260813; a_i < 2^30 keeps a_i*x < 2^62 (no int64
# overflow in either engine).
P = 4294967311  # smallest prime > 2^32
AB = [
    (1064082031, 797605564), (573612697, 1944694864), (145609951, 861958243),
    (703471044, 4077954476), (1071644562, 4226421251), (126328945, 2355650359),
    (848272349, 461793307), (879404501, 2960065950), (263703426, 175932789),
    (986599566, 1910390390), (765224311, 4172901075), (332297311, 1940697599),
    (1002683190, 594088545), (974934944, 3976546005), (153786110, 3587116556),
    (762314473, 3925669064),
]
N_HASHES = len(AB)
BANDS, ROWS_PER_BAND = 4, 4
JACCARD_TAU = 0.6
SHINGLE = 3  # word trigrams

SIMHASH_BITS = 60
SIMHASH_BANDS, SIMHASH_BAND_BITS = 4, 15
HAMMING_TAU = 3  # ≤3 bit flips over 4 bands → ≥1 identical band (pigeonhole)

# --- corpus-scaled combinatorial banding (round-8 scale fix) -----------------
#
# With a FIXED 4x15-bit banding, random same-band collisions grow
# ~N^2/2^15 — the quadratic class the round-7 probe flagged for
# dedup_simhash / multimodal_phash_dedup. Widening the FINGERPRINT
# would change the answer set with corpus size; instead the banded
# join scales its JOIN KEY: at larger N it joins on concatenations of
# c bands out of B (the published AND-OR LSH construction). Pigeonhole
# keeps every rung EXACT for hamming <= tau: tau bit flips touch at
# most tau bands, so whenever B - c >= tau at least one c-subset is
# untouched and the pair still shares a combo key. The answer set —
# and therefore the brute-force oracle — is IDENTICAL at every rung;
# the rung only bounds candidate volume: expected random candidates
# ~ C(B,c) * N^2 / 2^w with key width w = c*(60/B), linear once
# 2^w >= N. Rung choice is a pure performance decision driven by an
# ESTIMATED corpus count (metadata-cheap), so it needs no cross-engine
# pin — any rung returns the same rows.
#
# Rungs (B bands of 60/B bits, combos of c): key widths 15 / 24 / 30
# cover corpora to ~2^30 rows (~1e9 docs, the 100 TB grain); beyond
# that the DF-cap / dedup_bloom_prefilter devices compose in front.
SIMHASH_RUNGS: list[tuple[int, int]] = [(4, 1), (5, 2), (6, 3)]


def banding_rung(
    n_rows: int | None, rungs: list[tuple[int, int]], bits: int, tau: int
) -> tuple[int, int]:
    """Smallest rung whose combo-key domain covers ``n_rows``.

    Every rung must satisfy the exactness invariant B - c >= tau
    (asserted — a bad ladder is a construction bug, not a data bug).
    ``None`` (unknown count) selects the floor rung = the historical
    fixed banding, so existing callers are bit-and-plan unchanged.
    """
    for B, c in rungs:
        assert B - c >= tau and bits % B == 0, (B, c, tau, bits)
    if not n_rows:
        return rungs[0]
    need = max(1, (max(n_rows, 2) - 1).bit_length())
    for B, c in rungs:
        if (bits // B) * c >= need:
            return (B, c)
    return rungs[-1]


_NDOCS_CACHE: dict[tuple, int] = {}


def corpus_rows_estimate(spark: SparkSession, sf_dir: str) -> int:
    """~|_corpus| from the documents row count (metadata-fast,
    memoized per corpus file signature — stale reads would only shift
    a rung boundary, never an answer). The planted corpus is documents
    + ~1/7 exact copies + ~1/5 near copies = ~1.35x."""
    import os

    p = os.path.join(sf_dir, "documents.parquet")
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
        sig = None
    key = (sf_dir, sig)
    if sig is None or key not in _NDOCS_CACHE:
        _NDOCS_CACHE[key] = int(
            load_table(spark, sf_dir, "documents").count() * 1.35
        )
    return _NDOCS_CACHE[key]

_M32 = 4294967296  # 2^32
_LANE = 1048576  # 2^20 — simhash packs three 20-bit lanes into 60 bits


# --- shared planted corpus ---------------------------------------------------

@plan_memo
def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    toks = F.split(F.col("text"), r"\s+")
    near = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.array_join(
                F.slice(toks, 1, F.ceil(F.size(toks) * 0.9).cast("int")), " "
            ).alias("text"),
        )
    )
    return docs.unionAll(exact).unionAll(near)


CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000,
         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1,
             CAST(ceil(0.9 * len(string_split_regex(text, '\\s+'))) AS INT)), ' ')
  FROM documents WHERE doc_id % 5 = 0
)
"""

# Token hashes: the single md5 pass. Shingle hashes derive from these
# arithmetically (both expressions below must stay in lock-step with
# their *_SQL mirrors).
_TH_EXPR = "transform(filter(split(text, '\\\\s+'), t -> t != ''), t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
_TH_SQL = "list_transform(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))"

# 32-bit rolling shingle hash (ngram jaccard + minhash space)
_SH32_EXPR = f"""
CASE WHEN size(th) < {SHINGLE} THEN array(coalesce(try_element_at(th, 1), 0L))
     ELSE array_distinct(transform(sequence(1, size(th) - {SHINGLE - 1}),
          i -> ((element_at(th, i) * 31 + element_at(th, i + 1)) * 31 + element_at(th, i + 2)) % {_M32}))
END
"""
_SH32_SQL = f"""
CASE WHEN len(th) < {SHINGLE} THEN [coalesce(th[1], 0)]
     ELSE list_distinct(list_transform(generate_series(1, len(th) - {SHINGLE - 1}),
          i -> ((th[i] * 31 + th[i + 1]) * 31 + th[i + 2]) % {_M32}))
END
"""

# 60-bit shingle hash for simhash: three 20-bit lanes (one per token
# position, distinct multipliers) packed side by side — all products
# bounded by 2^52, no overflow.
_SH60_EXPR = f"""
CASE WHEN size(th) < {SHINGLE} THEN array(coalesce(try_element_at(th, 1), 0L))
     ELSE array_distinct(transform(sequence(1, size(th) - {SHINGLE - 1}),
          i -> (element_at(th, i) * 13 + 7) % {_LANE}
             + ((element_at(th, i + 1) * 31 + 5) % {_LANE}) * {_LANE}
             + ((element_at(th, i + 2) * 61 + 3) % {_LANE}) * {_LANE * _LANE}))
END
"""
_SH60_SQL = f"""
CASE WHEN len(th) < {SHINGLE} THEN [coalesce(th[1], 0)]
     ELSE list_distinct(list_transform(generate_series(1, len(th) - {SHINGLE - 1}),
          i -> (th[i] * 13 + 7) % {_LANE}
             + ((th[i + 1] * 31 + 5) % {_LANE}) * {_LANE}
             + ((th[i + 2] * 61 + 3) % {_LANE}) * {_LANE * _LANE}))
END
"""


def _with_hashes(corpus: DataFrame, expr: str = _SH32_EXPR) -> DataFrame:
    """(doc_id, hashes): distinct shingle hashes per doc.

    NOT session-memoized (optimization-round policy,
    functions/plan_memo.py): the returned frame carries a
    localCheckpoint pin, and a module-level cache would share the
    MATERIALIZED intermediate across independently-timed queries —
    result caching, not plan reuse. Each top-level query builds and
    pays for its own pin; within one query the single pinned frame is
    still shared by every consumer via the local variable.

    Lazily local-checkpointed: Spark's Generate (explode) inlines its
    child expression and re-evaluates it per OUTPUT row, which turns
    the downstream explode/self-join into an O(rows×tokens) md5 storm
    (measured 38 s vs 1.3 s at sf0.1). The checkpoint pins the computed
    arrays so every consumer — both sides of the self-joins included —
    scans them once. At cluster scale this becomes persist(DISK_ONLY)
    or reliable checkpointing; the hash arrays are ~n_shingles×8 bytes
    per doc, far smaller than the text they derive from.
    """
    df = (
        corpus.withColumn("th", F.expr(_TH_EXPR))
        .withColumn("hashes", F.expr(expr))
        .select("doc_id", "hashes")
    )
    return df.localCheckpoint(eager=False)


def _hashes_from_th(th_df: DataFrame, expr: str) -> DataFrame:
    """Derive a shingle-hash family from a PINNED (doc_id, th) frame —
    the sharing hook for composites that need several families (the
    venn query needs SH32 and SH60): the md5 token pass runs once, the
    per-family derivation is pure arithmetic over the pinned arrays."""
    return (
        th_df.withColumn("hashes", F.expr(expr))
        .select("doc_id", "hashes")
        .localCheckpoint(eager=False)
    )


def _hashes_cte(sql_expr: str) -> str:
    return f"""
sh AS (
  SELECT doc_id, {sql_expr.strip()} AS hashes
  FROM (SELECT doc_id, {_TH_SQL} AS th FROM corpus)
)
"""


# --- exact dedup -------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash clusters with keep-min-id survivor (one shuffle on
    the md5 key — uniform by construction)."""
    c = _corpus(spark, sf_dir)
    return (
        c.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("cluster_size"),
            (F.count(F.lit(1)) - 1).alias("n_removed"),
        )
        .where(F.col("cluster_size") > 1)
    )


DEDUP_EXACT_SQL = f"""
WITH {CORPUS_SQL.strip()}
SELECT md5(text) AS fingerprint,
       min(doc_id) AS keep_id,
       count(*) AS cluster_size,
       count(*) - 1 AS n_removed
FROM corpus
GROUP BY md5(text)
HAVING count(*) > 1
"""


# --- exact n-gram Jaccard (ground truth for the approximate methods) ---------

DF_CAP = 16  # stop-shingle cap: drop shingles shared by more docs than this


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All near-dup pairs with Jaccard ≥ τ via inverted-index join.

    explode(shingle hash) → document-frequency cap → self-join on the
    8-byte hash → count intersections → jaccard. The DF cap is the
    scale guard: a boilerplate shingle shared by k documents emits
    O(k²) candidate pairs from its join bucket — AQE can split the
    partition but not shrink the pair count — so shingles with
    df > DF_CAP are dropped from the representation entirely
    (numerator AND denominator, i.e. stopword semantics), mirrored in
    the oracle. The frequent set is the head of the Zipf curve —
    tiny relative to the corpus — so it rides a broadcast anti-join;
    remaining buckets are bounded by DF_CAP ⇒ ≤ DF_CAP²/2 pairs each.
    """
    exploded = (
        _with_hashes(_corpus(spark, sf_dir))
        .select("doc_id", F.explode("hashes").alias("shingle"))
    )
    frequent = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > DF_CAP)
        .select("shingle")
    )
    from pyspark.sql import Window

    sh = (
        exploded.join(F.broadcast(frequent), "shingle", "left_anti")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .select("doc_id", "n_sh", "shingle")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.where(jac >= JACCARD_TAU).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


DEDUP_NGRAM_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
exploded AS (
  SELECT doc_id, unnest(hashes) AS shingle FROM sh
),
frequent AS (
  SELECT shingle FROM exploded GROUP BY shingle HAVING count(*) > {DF_CAP}
),
kept AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY doc_id) AS n_sh,
         shingle
  FROM exploded
  WHERE shingle NOT IN (SELECT shingle FROM frequent)
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
WHERE n_inter / CAST(n_a + n_b - n_inter AS DOUBLE) >= {JACCARD_TAU}
"""


# --- MinHash + banded LSH ----------------------------------------------------

def _perm(a: int, b: int):
    return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(P)


def _minhash_sigs() -> list:
    """One min-over-shingle-hashes expression per permutation."""
    return [
        F.array_min(F.transform(F.col("hashes"), _perm(a, b))).alias(f"sig{i}")
        for i, (a, b) in enumerate(AB)
    ]


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH buckets → verified Jaccard pairs.

    Signature/band computation is narrow per-row work; the only
    shuffles are the (band_idx, band_key) bucket join and the final
    verify join on candidate pairs. All hashes are md5/arithmetic-
    derived so the DuckDB oracle reproduces the exact candidate set.
    """
    return _minhash_pairs(_with_hashes(_corpus(spark, sf_dir)))


def _minhash_pairs(sh: DataFrame) -> DataFrame:
    """Signature -> band -> bucket-join -> verify, over a pinned
    (doc_id, hashes) frame (shared with dedup_method_venn)."""
    sigs = sh.select("doc_id", "hashes", *_minhash_sigs())
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{b}")
        for b in range(BANDS)
    ]
    # NARROW bucket join (round-7): the exploded bucket rows and the
    # deduplicated candidate pairs carry ONLY ids — the shingle arrays
    # rejoin for the verify afterwards, so shuffle volume per candidate
    # is 16 bytes instead of two full shingle sets (at high-dup corpora
    # candidate pairs >> docs and the fat payload dominated the probe)
    buckets = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hs = sh.select("doc_id", "hashes")
    cand = (
        cand.join(hs.select(F.col("doc_id").alias("id_a"), F.col("hashes").alias("sh_a")), "id_a")
        .join(hs.select(F.col("doc_id").alias("id_b"), F.col("hashes").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return cand.where(jac >= JACCARD_TAU).select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def _minhash_sql_sigs() -> str:
    return ",\n         ".join(
        f"list_min(list_transform(hashes, x -> ({a} * x + {b}) % {P})) AS sig{i}"
        for i, (a, b) in enumerate(AB)
    )


def _band_sql(b: int) -> str:
    return " || '_' || ".join(
        f"CAST(sig{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )


DEDUP_MINHASH_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
),
buckets AS (
  SELECT doc_id, hashes, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.hashes, sb.hashes)) AS n_inter,
         len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)) AS n_union
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, round(n_inter / CAST(n_union AS DOUBLE), 6) AS jaccard
FROM verified
WHERE n_inter / CAST(n_union AS DOUBLE) >= {JACCARD_TAU}
"""


# --- SimHash -----------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over shingle hashes + banded Hamming join.

    The per-bit majority vote runs as explode → one aggregation with 60
    sum(sign) expressions — a single shuffle on doc_id and a flat agg
    plan (a nested 60×array-filter expression tree blows up codegen).
    The Hamming join is combinatorially banded (SIMHASH_RUNGS): pairs
    at distance ≤ HAMMING_TAU share at least one combo key at every
    rung (pigeonhole over B − c ≥ tau untouched bands), so the join
    returns exactly the brute-force result — which is what the oracle
    computes — while the rung keeps random candidate volume linear in
    the corpus (the round-7 16x probe's quadratic flag).
    """
    return _simhash_pairs(
        _with_hashes(_corpus(spark, sf_dir), _SH60_EXPR),
        n_rows=corpus_rows_estimate(spark, sf_dir),
    )


def _combo_bands(
    df: DataFrame, hash_col: str, rung: tuple[int, int], bits: int
) -> DataFrame:
    """Explode one row per combo key: the fingerprint split into B
    bands of bits/B, joined on every c-subset concatenation. Rung
    (4, 1) reproduces the historical single-band explode exactly; the
    key stays a plain bigint (widest rung = 45 bits), so the join is
    an ordinary hash-shuffle on (band_idx, band_val) at every rung."""
    from itertools import combinations

    B, c = rung
    bw = bits // B

    def band(i: int):
        return F.shiftright(F.col(hash_col), i * bw).bitwiseAND(F.lit((1 << bw) - 1))

    keys = []
    for subset in combinations(range(B), c):
        key = band(subset[0]).cast("bigint")
        for k, i in enumerate(subset[1:], start=1):
            key = key + F.shiftleft(band(i).cast("bigint"), bw * k)
        keys.append(key)
    return df.select(
        "*", F.posexplode(F.array(*keys)).alias("band_idx", "band_val")
    )


def _simhash_pairs(sh: DataFrame, n_rows: int | None = None) -> DataFrame:
    """Bit votes -> banded Hamming join, over a pinned (doc_id, hashes)
    frame (shared with dedup_method_venn). ``n_rows`` picks the
    combinatorial-banding rung (see SIMHASH_RUNGS) — every rung returns
    the identical pair set, larger rungs bound candidate volume at
    larger corpora."""
    # Per-bit majority vote in numpy over the pinned hash arrays
    # (guide §4.2): the former explode → 60-conditional-sum hash
    # aggregation pushed n_docs×n_shingles rows through a shuffle; the
    # vote is an integer count per (doc, bit) — order-insensitive, so
    # computing it per Arrow batch is bit-identical (bit j set iff
    # 2·ones_j > n, exactly the oracle's list_filter test) and needs
    # no explode and no exchange at all.
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    def _sim_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0)
            la = batch.column(1)
            if len(ids) == 0:
                continue
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            starts = offs[:-1] - offs[0]
            lens = np.diff(offs)
            flat = la.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            sim = np.zeros(len(ids), dtype=np.int64)
            # _SH60_EXPR guarantees >= 1 hash per doc, so reduceat's
            # equal-consecutive-index quirk (empty segment) is unreachable
            for j in range(SIMHASH_BITS):
                ones = np.add.reduceat((flat >> j) & 1, starts)
                sim |= ((ones * 2 > lens).astype(np.int64)) << j
            yield pa.record_batch({"doc_id": ids, "simhash": pa.array(sim, pa.int64())})

    # pin the tiny (doc_id, simhash) relation so the banded self-join
    # doesn't cross the Arrow boundary twice
    simmed = sh.select("doc_id", "hashes").mapInArrow(
        _sim_batches, "doc_id long, simhash long"
    ).localCheckpoint(eager=False)
    bands = _combo_bands(
        simmed,
        "simhash",
        banding_rung(n_rows, SIMHASH_RUNGS, SIMHASH_BITS, HAMMING_TAU),
        SIMHASH_BITS,
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= HAMMING_TAU)
    )


def _simhash_bits_sql() -> str:
    terms = [
        f"CASE WHEN len(list_filter(hashes, h -> (h & (1::BIGINT << {j})) <> 0)) * 2 > len(hashes) "
        f"THEN (1::BIGINT << {j}) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    ]
    return " + ".join(terms)


DEDUP_SIMHASH_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH60_SQL).strip()},
simmed AS (
  SELECT doc_id, {_simhash_bits_sql()} AS simhash FROM sh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM simmed a JOIN simmed b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_TAU}
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
}


# --- near-dup clusters: connected components over candidate pairs ------------

CC_ROUNDS = 4  # label-propagation rounds: covers component diameter 2^4
# Bound on the per-component member list (smallest doc_ids kept; the
# rest reported as n_member_overflow) — a degenerate all-duplicates
# corpus must not concentrate the whole id universe in one task.
MEMBERS_CAP = 32


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component_id) labels from min-label propagation over
    the MinHash-LSH near-dup edges; shared by the cluster formatting
    and survivor-selection operators."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    edges = pairs.unionAll(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint(eager=False)  # pin: reused every round

    members = edges.select(F.col("id_a").alias("doc_id")).distinct()
    labels = members.withColumn("label", F.col("doc_id"))
    for r in range(CC_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.id_b == labels.doc_id)
            .groupBy(F.col("id_a").alias("doc_id"))
            .agg(F.min("label").alias("nb_label"))
        )
        labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nb_label"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # labels is referenced twice next round (neighbor_min join +
        # the left join): unpinned lineage doubles per round —
        # 2^CC_ROUNDS join trees in one plan (the graph_hits disease;
        # ~30 SortMergeJoins measured). Pin every SECOND round, the
        # cadence embed_dbscan measured fastest (per-round pins pay a
        # scheduler barrier each; one unpinned round between pins
        # bounds re-evaluation at 2x of a cheap pinned-block scan).
        if r % 2 == 1:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("doc_id", F.col("label").alias("component_id"))


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs:
    every document in a duplicate cluster gets the cluster's min doc_id
    as component_id — the survivorship key the reference's
    delete-then-append merge needs when duplicates are transitive
    (A~B, B~C => one cluster, one survivor).

    Spark-first shape: iterative min-label propagation. Each round
    joins current labels across the (undirected) edge set and takes the
    elementwise min — after k rounds every node has the min label
    within k hops, so CC_ROUNDS rounds cover components of diameter
    <= CC_ROUNDS (planted clusters have diameter <= 2; real corpora
    use until-fixpoint driving with localCheckpoint per round, or
    large-star/small-star pointer doubling for O(log d) rounds). All joins shuffle on doc_id-sized keys;
    no driver materialization. Oracle: recursive-CTE reachability with
    min aggregation — same fixpoint.
    """
    return _cap_members(_components(spark, sf_dir))


def _cap_members(comp: DataFrame) -> DataFrame:
    """Bounded member-list aggregation: only the MEMBERS_CAP smallest
    doc_ids per component enter the collect_list (overflow reported as
    a count) — a degenerate corpus where everything is one giant
    duplicate cluster can no longer concentrate the whole id universe
    in one task's collect_list. The row_number pre-filter and the
    groupBy share the component_id partitioning: one exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("component_id").orderBy("doc_id")
    labeled = comp.withColumn("rn", F.row_number().over(w))
    return (
        labeled.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(
                F.collect_list(F.when(F.col("rn") <= MEMBERS_CAP, F.col("doc_id")))
            ).alias("members_arr"),
        )
        .select(
            "component_id",
            "cluster_size",
            F.array_join(
                F.transform(F.col("members_arr"), lambda m: m.cast("string")), ","
            ).alias("members"),
            F.greatest(F.col("cluster_size") - MEMBERS_CAP, F.lit(0))
            .cast("bigint")
            .alias("n_member_overflow"),
        )
    )


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
),
buckets AS (
  SELECT doc_id, hashes, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE len(list_intersect(sa.hashes, sb.hashes))
        / CAST(len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)) AS DOUBLE)
        >= {JACCARD_TAU}
),
edges AS (
  SELECT id_a, id_b FROM verified
  UNION ALL
  SELECT id_b, id_a FROM verified
),
reach AS (
  SELECT id_a AS doc_id, id_b AS other FROM edges
  UNION
  SELECT r.doc_id, e.id_b
  FROM reach r JOIN edges e ON r.other = e.id_a
)
SELECT component_id, count(*) AS cluster_size,
       string_agg(CASE WHEN rn <= {MEMBERS_CAP} THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS members,
       CAST(greatest(count(*) - {MEMBERS_CAP}, 0) AS BIGINT) AS n_member_overflow
FROM (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id ORDER BY doc_id) AS rn
  FROM (SELECT doc_id, least(doc_id, min(other)) AS component_id
        FROM reach GROUP BY doc_id)
)
GROUP BY component_id
"""

QUERIES["dedup_components"] = dedup_components
ORACLES["dedup_components"] = DEDUP_COMPONENTS_SQL


# --- survivor selection: keep the best document per near-dup cluster ---------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster, pick the survivor by the keep-longest
    policy (max characters, ties to the lowest doc_id) — the
    end-to-end dedup decision the reference's delete-then-append merge
    applies per file key (`catalog search/stage4_update_csv.py:379`),
    generalized to transitive near-dup clusters.

    Plan: the component labels join the corpus on doc_id (one shuffle;
    clusters are a small fraction of the corpus), then one window per
    component picks the survivor — both window functions share the
    same partitioning, one exchange."""
    from pyspark.sql import Window

    comp = _components(spark, sf_dir)
    corpus = _corpus(spark, sf_dir).select("doc_id", F.length("text").alias("n_chars"))
    w = Window.partitionBy("component_id")
    ranked = (
        comp.join(corpus, "doc_id")
        .withColumn("rn", F.row_number().over(w.orderBy(F.desc("n_chars"), "doc_id")))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )
    return ranked.where(F.col("rn") == 1).select(
        "component_id",
        F.col("doc_id").alias("survivor_id"),
        F.col("n_chars").cast("bigint").alias("survivor_chars"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("cluster_size") - 1).cast("bigint").alias("n_removed"),
    )


_CC_COMP_PREFIX_SQL = DEDUP_COMPONENTS_SQL[: DEDUP_COMPONENTS_SQL.index("SELECT component_id")]

DEDUP_KEEP_BEST_SQL = f"""{_CC_COMP_PREFIX_SQL}
SELECT component_id, survivor_id, survivor_chars, cluster_size, n_removed
FROM (
  SELECT c.component_id, d.doc_id AS survivor_id,
         CAST(length(d.text) AS BIGINT) AS survivor_chars,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY length(d.text) DESC, d.doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY c.component_id) AS BIGINT) AS cluster_size,
         CAST(count(*) OVER (PARTITION BY c.component_id) - 1 AS BIGINT) AS n_removed
  FROM (SELECT doc_id, least(doc_id, min(other)) AS component_id
        FROM reach GROUP BY doc_id) c
  JOIN corpus d ON c.doc_id = d.doc_id
)
WHERE rn = 1
"""

QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = DEDUP_KEEP_BEST_SQL



# --- cross-document repeated-substring coverage ------------------------------

SPAN = 8  # tokens per span (ExactSubstr-style window)


def _span_expr_spark() -> str:
    """Positional SPAN-gram rolling hashes (NOT distinct — positions
    matter for coverage)."""
    acc = "element_at(th, i)"
    for j in range(1, SPAN):
        acc = f"(({acc} * 31 + element_at(th, i + {j})) % {_M32})"
    return (
        f"CASE WHEN size(th) < {SPAN} THEN array()"
        f" ELSE transform(sequence(1, size(th) - {SPAN - 1}), i -> {acc}) END"
    )


def _span_expr_sql() -> str:
    acc = "th[i]"
    for j in range(1, SPAN):
        acc = f"(({acc} * 31 + th[i + {j}]) % {_M32})"
    return (
        f"CASE WHEN len(th) < {SPAN} THEN [] "
        f"ELSE list_transform(generate_series(1, len(th) - {SPAN - 1}), i -> {acc}) END"
    )


def dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage by cross-document repeated substrings —
    the ExactSubstr-dedup statistic ("how much of this doc appears
    verbatim elsewhere"): positional SPAN-token rolling hashes, spans
    occurring in >= 2 documents, interval-union coverage per doc.

    Scale design: one shuffle on the span hash (inverted index, same
    bounded-bucket considerations as dedup_ngram_jaccard), the join
    back is co-partitioned on the same key, then one doc_id window for
    the interval union (running max of span ends — no quadratic pair
    expansion anywhere; this measures cross-doc repetition without
    materializing pairs at all).
    """
    from pyspark.sql import Window

    c = _corpus(spark, sf_dir)
    th = c.withColumn("th", F.expr(_TH_EXPR))
    spans = (
        th.withColumn("spans", F.expr(_span_expr_spark()))
        .select("doc_id", F.size("th").alias("n_tokens"), "spans")
        .localCheckpoint(eager=False)  # pin: Generate would re-hash per output row
    )
    exploded = spans.select(
        "doc_id", "n_tokens", F.posexplode("spans").alias("pos0", "h")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "h")
    repeated = (
        exploded.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("h")
    )
    hits = exploded.join(repeated, "h")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + SPAN - 1).over(w_prev)
    contrib = F.greatest(
        F.lit(0),
        (F.col("pos") + SPAN - 1) - F.greatest(F.col("pos") - 1, F.coalesce(prev_end, F.lit(0))),
    )
    per_doc = (
        hits.withColumn("contrib", contrib)
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_repeated_spans"),
            F.sum("contrib").alias("covered_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "n_repeated_spans",
        F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
        F.round(F.col("covered_tokens") / F.col("n_tokens"), 6).alias("dup_fraction"),
    )


DEDUP_SUBSTRING_SQL = f"""
WITH {CORPUS_SQL.strip()},
spans_t AS (
  SELECT doc_id, len(th) AS n_tokens, {_span_expr_sql()} AS spans
  FROM (SELECT doc_id, {_TH_SQL} AS th FROM corpus)
),
exploded AS (
  SELECT doc_id, n_tokens, i AS pos, spans[i] AS h
  FROM spans_t, (SELECT unnest(generate_series(1, len(spans))) AS i)
),
repeated AS (
  SELECT h FROM exploded GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT e.* FROM exploded e JOIN repeated USING (h)
),
contribs AS (
  SELECT doc_id, n_tokens,
         greatest(0, (pos + {SPAN} - 1)
                  - greatest(pos - 1,
                             coalesce(max(pos + {SPAN} - 1) OVER (
                                 PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS contrib
  FROM hits
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       count(*) AS n_repeated_spans,
       CAST(sum(contrib) AS BIGINT) AS covered_tokens,
       round(sum(contrib) / CAST(n_tokens AS DOUBLE), 6) AS dup_fraction
FROM contribs
GROUP BY doc_id, n_tokens
"""

QUERIES["dedup_substring_stats"] = dedup_substring_stats
ORACLES["dedup_substring_stats"] = DEDUP_SUBSTRING_SQL


# --- incremental dedup: new batch vs existing master -------------------------

def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh-cycle dedup: match an INCOMING batch against the EXISTING
    master only (the reference's per-cycle shape — stage4/stage_05 merge
    replaces master rows matched by the incoming batch; it never
    re-pairs master against itself). The planted copies (+100000 exact,
    +200000 near) act as the incoming batch; originals are the master.

    Asymmetric banded-LSH join: master bucket index could be
    precomputed/persisted across cycles; the incoming side is small, so
    at 100 TB this is (incoming x bands) probing a bucketed master —
    cost proportional to the BATCH, not the corpus. Output: per
    incoming doc, its best master match (max jaccard, min doc_id
    tie-break) — the delete-key the merge needs.
    """
    corpus = _corpus(spark, sf_dir)
    sh = _with_hashes(corpus)
    master = sh.where(F.col("doc_id") < 100000)
    incoming = sh.where(F.col("doc_id") >= 100000)

    def banded(df: DataFrame) -> DataFrame:
        sigs = df.select("doc_id", "hashes", *_minhash_sigs())
        band_cols = [
            F.concat_ws(
                "_", *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias(f"band{b}")
            for b in range(BANDS)
        ]
        return sigs.select(
            "doc_id", "hashes", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
        )

    a = banded(incoming).select(
        F.col("doc_id").alias("new_id"), F.col("hashes").alias("sh_new"), "band_idx", "band_key"
    )
    b = banded(master).select(
        F.col("doc_id").alias("master_id"), F.col("hashes").alias("sh_m"), "band_idx", "band_key"
    )
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .dropDuplicates(["new_id", "master_id"])
    )
    inter = F.size(F.array_intersect("sh_new", "sh_m"))
    union = F.size("sh_new") + F.size("sh_m") - inter
    jac = inter / union
    scored = cand.where(jac >= JACCARD_TAU).select(
        "new_id", "master_id", F.round(jac, 6).alias("jaccard")
    )
    # best master match per incoming doc: max jaccard, min master_id —
    # encoded numerically (jaccard is already rounded to 6dp) so both
    # engines agree on the argmax
    key = (F.col("jaccard") * 1000000).cast("bigint") * 1000000 - F.col("master_id")
    best = scored.groupBy("new_id").agg(
        F.max_by("master_id", key).alias("master_id"),
        F.max("jaccard").alias("jaccard"),
    )
    return best


DEDUP_INCREMENTAL_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
),
buckets AS (
  SELECT doc_id, hashes, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS master_id,
         a.hashes AS sh_new, b.hashes AS sh_m
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id >= 100000 AND b.doc_id < 100000
),
scored AS (
  SELECT new_id, master_id,
         round(len(list_intersect(sh_new, sh_m))
               / CAST(len(sh_new) + len(sh_m) - len(list_intersect(sh_new, sh_m)) AS DOUBLE), 6) AS jaccard
  FROM cand
  WHERE len(list_intersect(sh_new, sh_m))
        / CAST(len(sh_new) + len(sh_m) - len(list_intersect(sh_new, sh_m)) AS DOUBLE) >= {JACCARD_TAU}
)
SELECT new_id,
       max_by(master_id, CAST(jaccard * 1000000 AS BIGINT) * 1000000 - master_id) AS master_id,
       max(jaccard) AS jaccard
FROM scored
GROUP BY new_id
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# --- benchmark decontamination -----------------------------------------------

BENCH_MOD = 97  # doc_id % 97 == 0 -> "benchmark" doc (planted in-query)


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training documents sharing any
    SPAN-token sequence with the benchmark set, with overlap counts —
    the n-gram-overlap filter every pretraining pipeline runs before
    training (remove eval contamination). The benchmark set is planted
    in-query (every BENCH_MOD-th doc), like the other derived corpora.

    Plan: the benchmark's distinct span hashes are a tiny relation →
    broadcast inner join against the training side's exploded distinct
    spans, then one per-doc aggregation. The training corpus streams
    once; no shuffle of corpus-sized data on the benchmark side. At
    real scale the benchmark stays broadcast-sized by construction
    (eval sets are millions of n-grams, not billions)."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    contaminated = base.where(F.col("doc_id") % BENCH_MOD == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" clean tail appended for padding")).alias("text"),
    )
    docs = base.unionAll(contaminated)
    spans = (
        docs.withColumn("th", F.expr(_TH_EXPR))
        .select("doc_id", F.expr(_span_expr_spark()).alias("spans"))
        .select("doc_id", F.array_distinct("spans").alias("spans"))
        .localCheckpoint(eager=False)  # pin: both sides derive from it
    )
    bench = (
        spans.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("spans").alias("h"))
        .distinct()
    )
    train = spans.where(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.size("spans").alias("n_spans"), F.explode("spans").alias("h")
    )
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id", "n_spans")
        .agg(F.count(F.lit(1)).alias("n_overlap_spans"))
        .select(
            "doc_id",
            F.col("n_spans").cast("bigint").alias("n_spans"),
            "n_overlap_spans",
            F.round(F.col("n_overlap_spans") / F.col("n_spans"), 6).alias(
                "contamination"
            ),
        )
    )


DOC_DECONTAMINATE_SQL = f"""
WITH decon_corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000, text || ' clean tail appended for padding'
  FROM documents WHERE doc_id % {BENCH_MOD} = 0
),
spans_t AS (
  SELECT doc_id, list_distinct({_span_expr_sql()}) AS spans
  FROM (SELECT doc_id, {_TH_SQL} AS th FROM decon_corpus)
),
bench AS (
  SELECT DISTINCT unnest(spans) AS h FROM spans_t WHERE doc_id % {BENCH_MOD} = 0
),
train AS (
  SELECT doc_id, len(spans) AS n_spans, unnest(spans) AS h
  FROM spans_t WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       count(*) AS n_overlap_spans,
       round(count(*) / CAST(n_spans AS DOUBLE), 6) AS contamination
FROM train JOIN bench USING (h)
GROUP BY doc_id, n_spans
"""

QUERIES["doc_decontaminate"] = doc_decontaminate
ORACLES["doc_decontaminate"] = DOC_DECONTAMINATE_SQL


# --- Bloom-filter prefilter for the incremental refresh ----------------------
#
# Before the refresh cycle runs any expensive near-dup machinery, a
# Bloom filter over the master corpus' content fingerprints answers
# "definitely new" for most of the incoming batch — the standard
# at-scale prefilter (Spark exposes one internally via
# DataFrameStatFunctions.bloomFilter, but its bit layout is
# engine-private; this one is md5-derived so the oracle reproduces the
# filter bit-for-bit, false positives included). The filter is built
# as BLOOM_BITS/64 64-bit words via a bit_or aggregation — mergeable
# map-side partials, so construction is one narrow pass over master —
# and broadcasts to the probe side. Probes needing exact confirmation
# (all K bits set) verify by fingerprint join; the output one-row
# audit counts definite-news, confirmed dups, and false positives.

BLOOM_BITS = 4092  # 66 words x 62 bits (62-bit words: shift 63 overflows BIGINT in both engines); ~8 bits per master
BLOOM_K = 3


def _bloom_positions(col: str) -> list:
    """K md5-derived bit positions for a fingerprint column."""
    return [
        (
            F.conv(F.substring(F.md5(F.concat_ws("#", F.col(col), F.lit(str(j)))), 1, 8), 16, 10)
            .cast("bigint") % BLOOM_BITS
        ).alias(f"p{j}")
        for j in range(BLOOM_K)
    ]


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _corpus(spark, sf_dir).select("doc_id", F.md5("text").alias("fp"))
    master = sh.where(F.col("doc_id") < 100000)
    incoming = sh.where(F.col("doc_id") >= 100000)

    m_pos = master.select(*_bloom_positions("fp")).select(
        F.explode(F.array(*[F.col(f"p{j}") for j in range(BLOOM_K)])).alias("pos")
    )
    words = (
        m_pos.select(
            F.expr("pos div 62").alias("word_idx"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 62 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )

    probes = incoming.select("doc_id", "fp", *_bloom_positions("fp")).select(
        "doc_id",
        "fp",
        F.posexplode(F.array(*[F.col(f"p{j}") for j in range(BLOOM_K)])).alias("j", "pos"),
    )
    checked = (
        probes.join(F.broadcast(words), F.expr("pos div 62") == F.col("word_idx"), "left")
        .select(
            "doc_id",
            "fp",
            (
                F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(
                    F.expr("shiftleft(cast(1 as bigint), cast(pos % 62 as int))")
                )
                != 0
            ).cast("int").alias("hit"),
        )
        .groupBy("doc_id", "fp")
        .agg((F.sum("hit") == BLOOM_K).alias("maybe"))
    )
    confirmed = checked.join(
        master.select(F.col("fp").alias("fp"), F.lit(1).alias("in_master")).distinct(),
        "fp",
        "left",
    )
    return confirmed.agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum((~F.col("maybe")).cast("long")).alias("n_definitely_new"),
        F.sum(F.col("maybe").cast("long")).alias("n_maybe"),
        F.sum((F.col("maybe") & F.col("in_master").isNotNull()).cast("long")).alias("n_true_dup"),
        F.sum((F.col("maybe") & F.col("in_master").isNull()).cast("long")).alias(
            "n_false_positive"
        ),
    )


def _bloom_pos_sql(fp: str, j: int) -> str:
    return f"CAST('0x' || substr(md5({fp} || '#' || '{j}'), 1, 8) AS BIGINT) % {BLOOM_BITS}"


DEDUP_BLOOM_SQL = f"""
WITH {CORPUS_SQL.strip()},
fps AS (SELECT doc_id, md5(text) AS fp FROM corpus),
master AS (SELECT * FROM fps WHERE doc_id < 100000),
incoming AS (SELECT * FROM fps WHERE doc_id >= 100000),
m_pos AS (
  SELECT unnest([{", ".join(_bloom_pos_sql("fp", j) for j in range(BLOOM_K))}]) AS pos
  FROM master
),
words AS (
  SELECT pos // 62 AS word_idx, bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS word
  FROM m_pos GROUP BY pos // 62
),
probes AS (
  SELECT doc_id, fp,
         unnest([{", ".join(_bloom_pos_sql("fp", j) for j in range(BLOOM_K))}]) AS pos
  FROM incoming
),
checked AS (
  SELECT doc_id, fp,
         (sum(CASE WHEN (coalesce(word, 0) & (1::BIGINT << CAST(pos % 62 AS INT))) <> 0
                   THEN 1 ELSE 0 END) = {BLOOM_K}) AS maybe
  FROM probes LEFT JOIN words ON pos // 62 = word_idx
  GROUP BY doc_id, fp
),
confirmed AS (
  SELECT c.*, m.in_master
  FROM checked c
  LEFT JOIN (SELECT DISTINCT fp, 1 AS in_master FROM master) m USING (fp)
)
SELECT count(*) AS n_incoming,
       sum(CASE WHEN NOT maybe THEN 1 ELSE 0 END)::BIGINT AS n_definitely_new,
       sum(CASE WHEN maybe THEN 1 ELSE 0 END)::BIGINT AS n_maybe,
       sum(CASE WHEN maybe AND in_master IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_true_dup,
       sum(CASE WHEN maybe AND in_master IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_false_positive
FROM confirmed
"""

QUERIES["dedup_bloom_prefilter"] = dedup_bloom_prefilter
ORACLES["dedup_bloom_prefilter"] = DEDUP_BLOOM_SQL


# --- corpus-overlap estimation between sources --------------------------------
#
# Union-MinHash per source: a source's signature component i is the min
# of permutation i over ALL shingles its documents contain — mergeable
# (min is associative/commutative), so at 100 TB each source signature
# reduces map-side to one 16-long row regardless of corpus size. The
# pairwise estimate (fraction of matching components) then costs
# |sources|² over a broadcast-size table. The EXACT overlap is computed
# alongside for evaluation — affordable here because the per-shingle
# source fan-out is bounded by |sources| (20), so the shingle-bucket
# self-join emits ≤ |sources|²/2 pairs per shingle, not |docs|².

def source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: MinHash Jaccard estimate next to
    the exact shingle Jaccard it approximates (the recall-eval pattern:
    the sketch and its ground truth in one result)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # Pin the shingle ARRAYS before the explode: Generate inlines its
    # child otherwise and re-hashes the document per emitted shingle —
    # the O(rows x tokens) md5 storm documented at _with_hashes (this
    # exact query measured 50 s -> 2 s at sf0.1 from this one pin).
    hashed = (
        docs.withColumn("th", F.expr(_TH_EXPR))
        .withColumn("hashes", F.expr(_SH32_EXPR))
        .select("source", "hashes")
        .localCheckpoint(eager=False)
    )
    pairs_src = (
        hashed.select("source", F.explode("hashes").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)  # sigs + sizes + bucket join
    )
    sigs = pairs_src.groupBy("source").agg(
        *[
            F.min((F.lit(a) * F.col("shingle") + F.lit(b)) % F.lit(P)).alias(f"sig{i}")
            for i, (a, b) in enumerate(AB)
        ]
    )
    sizes = pairs_src.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = pairs_src.alias("a"), pairs_src.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    match_expr = sum(
        F.when(F.col(f"sa.sig{i}") == F.col(f"sb.sig{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        sa.join(sb, F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("src_a"),
            F.col("sb.source").alias("src_b"),
            match_expr.alias("n_match"),
        )
    )
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_shingles").alias("n_a"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_shingles").alias("n_b"))), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_match",
            F.round(F.col("n_match") / F.lit(float(N_HASHES)), 6).alias("est_jaccard"),
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            "n_a",
            "n_b",
            F.round(
                F.coalesce("n_inter", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )


SOURCE_OVERLAP_SQL = f"""
WITH hashed AS (
  SELECT source, {_SH32_SQL.strip()} AS hashes
  FROM (SELECT source, {_TH_SQL} AS th FROM documents)
),
pairs_src AS (
  SELECT DISTINCT source, unnest(hashes) AS shingle FROM hashed
),
sigs AS (
  SELECT source,
         {", ".join(f"min(({a} * shingle + {b}) % {P}) AS sig{i}" for i, (a, b) in enumerate(AB))}
  FROM pairs_src GROUP BY source
),
sizes AS (SELECT source, count(*) AS n_shingles FROM pairs_src GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
  FROM pairs_src a JOIN pairs_src b
    ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
),
est AS (
  SELECT sa.source AS src_a, sb.source AS src_b,
         {" + ".join(f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))} AS n_match
  FROM sigs sa JOIN sigs sb ON sa.source < sb.source
)
SELECT e.src_a, e.src_b, e.n_match,
       round(e.n_match / {float(N_HASHES)}, 6) AS est_jaccard,
       coalesce(i.n_inter, 0) AS n_inter,
       za.n_shingles AS n_a,
       zb.n_shingles AS n_b,
       round(coalesce(i.n_inter, 0)
             / CAST(za.n_shingles + zb.n_shingles - coalesce(i.n_inter, 0) AS DOUBLE), 6) AS exact_jaccard
FROM est e
LEFT JOIN inter i ON e.src_a = i.src_a AND e.src_b = i.src_b
JOIN sizes za ON za.source = e.src_a
JOIN sizes zb ON zb.source = e.src_b
"""

QUERIES["source_overlap_minhash"] = source_overlap_minhash
ORACLES["source_overlap_minhash"] = SOURCE_OVERLAP_SQL


# --- line-level boilerplate dedup (CCNet-style) ------------------------------
#
# CCNet (Wenzek et al. 2019, public) dedups at PARAGRAPH granularity:
# hash each line, drop lines whose hash recurs across documents. The
# reference dedups whole files (stage4 delete-then-append); this is the
# finer-grained corpus-cleaning version an LLM pipeline runs. The
# synthetic docs are single-line, so "lines" are planted as fixed
# LINE_W-token windows (the house planted-structure pattern), which the
# planted exact/near copies in `_corpus` genuinely duplicate.
#
# Line hashes follow the module's no-string rule: a positional
# weighted sum of the per-token md5 hashes (weights < 2^20, tokens
# < 2^32 -> products < 2^52, sums < 2^56: overflow-safe in both
# engines, and order-independent summation keeps it engine-exact).
#
# Scale (100 TB): per-doc line hashing is narrow; the cross-doc count
# is one (line_hash) aggregation with map-side combine — a universal
# boilerplate line collapses into ONE row, never a pair join — and the
# count rejoins on the hash key. No pair materialization anywhere.

LINE_W = 15
_LINE_MULT = [31, 961, 29791, 923521, 317599, 408385, 77023, 290561,
              618783, 307905, 107871, 198273, 903583, 748097, 122335]

_LINE_TERMS = " + ".join(
    f"coalesce(try_element_at(th, CAST(i * {LINE_W} + {j} AS INT)), 0L) * {m}L"
    for j, m in enumerate(_LINE_MULT, start=1)
)
_LINES_EXPR = f"""
transform(sequence(0, cast(ceil(size(th) / {float(LINE_W)}) as int) - 1),
          i -> ({_LINE_TERMS}) % {_M32})
"""

_LINE_TERMS_SQL = " + ".join(
    f"coalesce(th[i * {LINE_W} + {j}], 0) * {m}" for j, m in enumerate(_LINE_MULT, start=1)
)
_LINES_SQL = f"""
list_transform(generate_series(0, CAST(ceil(len(th) / {float(LINE_W)}) AS INT) - 1),
               i -> ({_LINE_TERMS_SQL}) % {_M32})
"""


def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate-line statistics: lines whose hash occurs in
    at least one OTHER document are duplicated lines; dup share in
    integer basis points."""
    # line-hash ARRAYS pinned before the explode (the Generate-inlining
    # md5-storm hazard documented at _with_hashes)
    arrays = (
        _corpus(spark, sf_dir)
        .withColumn("th", F.expr(_TH_EXPR))
        .select("doc_id", F.expr(_LINES_EXPR).alias("lhs"))
        .localCheckpoint(eager=False)
    )
    lines = arrays.select("doc_id", F.posexplode("lhs").alias("line_idx", "lh"))
    counts = lines.groupBy("lh").agg(F.count_distinct("doc_id").alias("n_docs"))
    return (
        lines.join(counts, "lh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("dup_lines"),
        )
        .select(
            "doc_id",
            "n_lines",
            "dup_lines",
            F.expr("dup_lines * 10000 div n_lines").alias("dup_bp"),
        )
    )


DEDUP_LINES_SQL = f"""
WITH {CORPUS_SQL.strip()},
th_t AS (
  SELECT doc_id, {_TH_SQL} AS th FROM corpus
),
lines AS (
  SELECT doc_id, unnest({_LINES_SQL.strip()}) AS lh FROM th_t
),
counts AS (
  SELECT lh, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY lh
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_lines,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 10000
           // count(*) AS dup_bp
FROM lines JOIN counts USING (lh)
GROUP BY doc_id
"""

QUERIES["dedup_lines"] = dedup_lines
ORACLES["dedup_lines"] = DEDUP_LINES_SQL


# --- content-defined chunk dedup (FastCDC-style) -----------------------------
#
# The shift-robust companion to `dedup_lines`: fixed windows break when
# a prefix insertion shifts every later line, content-defined chunking
# (the rolling-hash boundary device of LBFS/FastCDC, public) re-syncs
# because boundaries depend on content, not position. Boundary rule:
# token i ends a chunk when its md5 hash % CDC_DIV == 0 (expected chunk
# length = CDC_DIV tokens). Chunk hash = positionally-weighted sum of
# the chunk's token hashes relative to the chunk start (weight < 2^9
# cap via modular cycling of _LINE_MULT, products < 2^52 — overflow
# safe both engines).
#
# Scale: identical shape to dedup_lines — narrow chunking, one
# (chunk_hash) count aggregation, hash-key rejoin. No pair join.

CDC_DIV = 16  # expected chunk length in tokens


def _cdc_chunks_exprs():
    # boundaries: 0, every i with th[i] % DIV == 0, and len(th)
    spark_bounds = (
        f"concat(array(0), filter(sequence(1, size(th)), i -> element_at(th, i) % {CDC_DIV} = 0"
        f" AND i < size(th)), array(size(th)))"
    )
    mults = ", ".join(str(m) for m in _LINE_MULT)
    spark_chunks = f"""
transform(sequence(1, size(b) - 1), k ->
  struct(
    element_at(b, CAST(k + 1 AS INT)) - element_at(b, k) AS clen,
    aggregate(sequence(element_at(b, k) + 1, element_at(b, CAST(k + 1 AS INT))),
              0L,
              (acc, j) -> acc + element_at(th, CAST(j AS INT))
                  * element_at(array({mults}), CAST((j - element_at(b, k) - 1) % {len(_LINE_MULT)} + 1 AS INT)),
              acc -> acc % {_M32}) AS chash))
"""
    sql_bounds = (
        f"list_concat([0], list_concat(list_filter(generate_series(1, len(th)),"
        f" i -> th[i] % {CDC_DIV} = 0 AND i < len(th)), [len(th)]))"
    )
    sql_chunks = f"""
list_transform(generate_series(1, len(b) - 1), k ->
  struct_pack(
    clen := b[k + 1] - b[k],
    chash := list_sum(list_transform(generate_series(b[k] + 1, b[k + 1]),
                j -> th[j] * ([{mults}])[(j - b[k] - 1) % {len(_LINE_MULT)} + 1])) % {_M32}))
"""
    return spark_bounds, spark_chunks, sql_bounds, sql_chunks


_CDC_SPARK_BOUNDS, _CDC_SPARK_CHUNKS, _CDC_SQL_BOUNDS, _CDC_SQL_CHUNKS = _cdc_chunks_exprs()


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content-defined-chunk dedup statistics: chunks whose
    hash recurs in another document, plus total/duplicated token
    coverage (the byte-savings a CDC dedup store would realize)."""
    # chunk-struct ARRAYS pinned before the explode (the
    # Generate-inlining md5-storm hazard documented at _with_hashes)
    arrays = (
        _corpus(spark, sf_dir)
        .withColumn("th", F.expr(_TH_EXPR))
        .where(F.size("th") > 0)
        .withColumn("b", F.expr(_CDC_SPARK_BOUNDS))
        .select("doc_id", F.expr(_CDC_SPARK_CHUNKS).alias("cs"))
        .localCheckpoint(eager=False)
    )
    chunks = arrays.select("doc_id", F.explode("cs").alias("c")).select(
        "doc_id", F.col("c.clen").alias("clen"), F.col("c.chash").alias("chash")
    )
    counts = chunks.groupBy("chash").agg(F.count_distinct("doc_id").alias("n_docs"))
    return (
        chunks.join(counts, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("clen").alias("n_tokens"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("dup_chunks"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("clen")).otherwise(F.lit(0))).alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_tokens",
            "dup_chunks",
            "dup_tokens",
            F.expr("dup_tokens * 10000 div n_tokens").alias("dup_token_bp"),
        )
    )


DEDUP_CDC_SQL = f"""
WITH {CORPUS_SQL.strip()},
th_t AS (
  SELECT doc_id, {_TH_SQL} AS th FROM corpus
),
bounded AS (
  SELECT doc_id, th, {_CDC_SQL_BOUNDS} AS b FROM th_t WHERE len(th) > 0
),
chunks AS (
  SELECT doc_id, unnest({_CDC_SQL_CHUNKS.strip()}, recursive := true) FROM bounded
),
counts AS (
  SELECT chash, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chash
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(clen) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(sum(CASE WHEN n_docs >= 2 THEN clen ELSE 0 END) AS BIGINT) AS dup_tokens,
       CAST(sum(CASE WHEN n_docs >= 2 THEN clen ELSE 0 END) AS BIGINT) * 10000
           // CAST(sum(clen) AS BIGINT) AS dup_token_bp
FROM chunks JOIN counts USING (chash)
GROUP BY doc_id
"""

QUERIES["dedup_cdc_chunks"] = dedup_cdc_chunks
ORACLES["dedup_cdc_chunks"] = DEDUP_CDC_SQL


# --- dedup_recall_eval — the dedup counterpart of ann_recall_eval -------------
#
# The measurement a dedup deployment runs before trusting banded LSH:
# how many of the TRUE near-dup pairs does the banded candidate stage
# recover? Apples-to-apples on one metric: both the ground truth and
# the LSH signatures are built from the SAME DF-capped shingle
# representation (`dedup_ngram_jaccard` semantics), so the only
# difference between the two pipelines is the banding approximation
# being measured. Signatures come straight off the exploded (doc,
# shingle) rows as 16 grouped mins — no per-doc arrays needed — and a
# truth pair counts as found when any band bucket contains both docs.
#
# Scale: the truth side is the existing DF-cap-bounded inverted-index
# join; the LSH side adds one (band_idx, band_key) bucket join over
# BANDS rows per doc. The final correlation is a left join on the
# bounded truth-pair set. Summary counts ride along as a 1-row
# broadcast so recall is readable off any row.

def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exploded = (
        _with_hashes(_corpus(spark, sf_dir))
        .select("doc_id", F.explode("hashes").alias("shingle"))
    )
    frequent = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > DF_CAP)
        .select("shingle")
    )
    from pyspark.sql import Window

    kept = (
        exploded.join(F.broadcast(frequent), "shingle", "left_anti")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .localCheckpoint(eager=False)  # truth join + signature aggs share it
    )
    a, b = kept.alias("a"), kept.alias("b")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    truth = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .where(jac >= JACCARD_TAU)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
    sigs = kept.groupBy("doc_id").agg(
        *[
            F.min((F.lit(p_a) * F.col("shingle") + F.lit(p_b)) % F.lit(P)).alias(f"sig{i}")
            for i, (p_a, p_b) in enumerate(AB)
        ]
    )
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{bb * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{bb}")
        for bb in range(BANDS)
    ]
    buckets = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    ba, bb = buckets.alias("ba"), buckets.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("id_a"), F.col("bb.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("found", F.lit(1))
    )
    scored = (
        truth.join(cand, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b", "jaccard", F.coalesce("found", F.lit(0)).alias("found_by_lsh")
        )
        # pinned: referenced twice (summary + final) — un-pinned, each
        # reference re-ran the exact-pair truth join AND the bucket join
        .localCheckpoint(eager=False)
    )
    summary = scored.groupBy().agg(
        F.count(F.lit(1)).alias("n_truth"), F.sum("found_by_lsh").alias("n_found")
    )
    return scored.crossJoin(F.broadcast(summary)).select(
        "id_a",
        "id_b",
        "jaccard",
        "found_by_lsh",
        "n_truth",
        "n_found",
        F.expr("n_found * 10000 div n_truth").alias("recall_bp"),
    )


DEDUP_RECALL_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
exploded AS (
  SELECT doc_id, unnest(hashes) AS shingle FROM sh
),
frequent AS (
  SELECT shingle FROM exploded GROUP BY shingle HAVING count(*) > {DF_CAP}
),
kept AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY doc_id) AS n_sh,
         shingle
  FROM exploded
  WHERE shingle NOT IN (SELECT shingle FROM frequent)
),
truth AS (
  SELECT id_a, id_b, round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6) AS jaccard
  FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_inter
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  )
  WHERE n_inter / CAST(n_a + n_b - n_inter AS DOUBLE) >= {JACCARD_TAU}
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"min(({p_a} * shingle + {p_b}) % {P}) AS sig{i}" for i, (p_a, p_b) in enumerate(AB))}
  FROM kept GROUP BY doc_id
),
buckets AS (
  SELECT doc_id, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({bb}, {_band_sql(bb)})" for bb in range(BANDS))}) AS v(band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
scored AS (
  SELECT t.id_a, t.id_b, t.jaccard,
         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS found_by_lsh
  FROM truth t LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
),
summary AS (
  SELECT count(*) AS n_truth, CAST(sum(found_by_lsh) AS BIGINT) AS n_found FROM scored
)
SELECT id_a, id_b, jaccard, found_by_lsh, n_truth, n_found,
       n_found * 10000 // n_truth AS recall_bp
FROM scored, summary
"""

QUERIES["dedup_recall_eval"] = dedup_recall_eval
ORACLES["dedup_recall_eval"] = DEDUP_RECALL_SQL


# --- band-configuration sweep -------------------------------------------------

SWEEP_CONFIGS = ((8, 2), (4, 4), (2, 8))  # (bands, rows) over the same 16 perms


def dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning table: the SAME 16 MinHash permutations banded
    three ways — (8 bands × 2 rows) casts the widest candidate net,
    (2 × 8) the narrowest — with per-config candidate volume, verified
    pairs (Jaccard ≥ τ) and precision in basis points. Read with
    `dedup_recall_eval` (which measures recall for the production
    4 × 4 config), this is the S-curve trade a deployment tunes:
    bands↑ → recall↑, precision↓, candidate (shuffle) volume↑.
    Signatures are computed ONCE and pinned; the three configs' bucket
    joins collapse to ONE (r11): over the same permutation set the
    candidate sets are NESTED — sharing a 4-row band means sig[4b..4b+3]
    agree, hence both covering 2-row bands agree, so
    cand(2x8) ⊆ cand(4x4) ⊆ cand(8x2).  One LSH pass at the WIDEST
    config enumerates every candidate any config sees; each narrower
    config's membership is then a direct sig-equality test on the pair
    row (band key strings are '_'-joined digit runs, so string equality
    ⇔ component equality), and the Jaccard verify prices each distinct
    pair once instead of once per arm.  Empty-arm semantics match the
    old per-arm aggregate: n_candidates 0, n_verified/precision NULL.
    """
    sh = _with_hashes(_corpus(spark, sf_dir))
    # Invariant: every document has at least one shingle, so no
    # signature is NULL. A NULL one (a NULL text) would drop out of the
    # concat_ws band keys but not out of the sig-equality membership
    # below, and the counts would silently diverge from the oracle's;
    # fail on it instead, naming the document. (A blank text already
    # fails inside the shingle expression, at element_at.)
    sh = sh.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(hashes) > 0 THEN hashes ELSE raise_error(concat("
            "'dedup_band_sweep: document ', doc_id, ' has no shingles, so its MinHash signature is NULL')) END"
        ).alias("hashes"),
    )
    sigs = sh.select("doc_id", "hashes", *_minhash_sigs()).localCheckpoint(eager=False)
    n_wide, r_wide = SWEEP_CONFIGS[0]
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * r_wide + r}") for r in range(r_wide)]
        ).alias(f"band{b}")
        for b in range(n_wide)
    ]
    # narrow bucket join (the _minhash_pairs round-7 shape): ids through
    # the explode/join/dedup, arrays + sigs rejoined for verify/membership
    buckets = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigs.select(
            F.col("doc_id").alias("id_a"),
            F.col("hashes").alias("sh_a"),
            *[F.col(f"sig{i}").alias(f"a{i}") for i in range(N_HASHES)],
        ),
        "id_a",
    ).join(
        sigs.select(
            F.col("doc_id").alias("id_b"),
            F.col("hashes").alias("sh_b"),
            *[F.col(f"sig{i}").alias(f"b{i}") for i in range(N_HASHES)],
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (inter / union) >= JACCARD_TAU

    def in_cfg(n_bands: int, rows: int):
        """Pair shares >= 1 band of `rows` consecutive equal sigs."""
        any_band = None
        for bb in range(n_bands):
            band_eq = None
            for r in range(rows):
                eq = F.col(f"a{bb * rows + r}") == F.col(f"b{bb * rows + r}")
                band_eq = eq if band_eq is None else (band_eq & eq)
            any_band = band_eq if any_band is None else (any_band | band_eq)
        return any_band

    aggs = []
    for n_bands, rows in SWEEP_CONFIGS:
        m = in_cfg(n_bands, rows)
        aggs += [
            F.sum(m.cast("bigint")).alias(f"nc_{n_bands}"),
            F.sum((m & verified).cast("bigint")).alias(f"nv_{n_bands}"),
        ]
    one = pairs.agg(*aggs)
    stack_args = []
    for n_bands, rows in SWEEP_CONFIGS:
        stack_args += [
            f"cast({n_bands} as bigint)",
            f"cast({rows} as bigint)",
            f"coalesce(nc_{n_bands}, 0L)",
            f"case when coalesce(nc_{n_bands}, 0L) > 0 then nv_{n_bands} end",
            f"case when coalesce(nc_{n_bands}, 0L) > 0"
            f" then nv_{n_bands} * 10000 div nc_{n_bands} end",
        ]
    return one.select(
        F.expr(
            f"stack({len(SWEEP_CONFIGS)}, {', '.join(stack_args)})"
            " as (bands, rows_per_band, n_candidates, n_verified, precision_bp)"
        )
    )


def _band_sql_cfg(b: int, rows: int) -> str:
    return " || '_' || ".join(f"CAST(sig{b * rows + r} AS VARCHAR)" for r in range(rows))


def _sweep_sql() -> str:
    arms = []
    for n_bands, rows in SWEEP_CONFIGS:
        values = ", ".join(f"({b}, {_band_sql_cfg(b, rows)})" for b in range(n_bands))
        arms.append(f"""
SELECT CAST({n_bands} AS BIGINT) AS bands, CAST({rows} AS BIGINT) AS rows_per_band,
       count(*) AS n_candidates,
       CAST(sum(CASE WHEN n_inter / CAST(n_union AS DOUBLE) >= {JACCARD_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
       CAST(CAST(sum(CASE WHEN n_inter / CAST(n_union AS DOUBLE) >= {JACCARD_TAU} THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS BIGINT) AS precision_bp
FROM (
  SELECT id_a, id_b,
         len(list_intersect(sa.hashes, sb.hashes)) AS n_inter,
         len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)) AS n_union
  FROM (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM (SELECT doc_id, band_idx, band_key
          FROM sigs, LATERAL (VALUES {values}) AS v(band_idx, band_key)) a
    JOIN (SELECT doc_id, band_idx, band_key
          FROM sigs, LATERAL (VALUES {values}) AS v(band_idx, band_key)) b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  )
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)""")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
)
{body}
"""


DEDUP_BAND_SWEEP_SQL = _sweep_sql()

QUERIES["dedup_band_sweep"] = dedup_band_sweep
ORACLES["dedup_band_sweep"] = DEDUP_BAND_SWEEP_SQL


# --- MinHash TABLE-COUNT dial (r7 backlog item 8, shipped round 9) -----------
#
# The OTHER axis of LSH tuning, complementing dedup_band_sweep: the
# sweep re-BANDS the same 16 signatures into different (bands x rows)
# shapes; this dial holds the production shape fixed (4 rows per key,
# the BANDS x ROWS_PER_BAND config) and measures the MARGINAL value of
# each additional hash TABLE — the first L of the production bands
# read as L independent tables, candidates = collide-in-any-of-first-L.
# Per L: cumulative candidate volume (the memory/shuffle cost a
# deployment pays per extra table), verified pairs, precision, and
# recall vs the full 4-table production answer — the "how many tables
# do I actually need" curve (OR-amplification: recall(L) rises with L,
# precision falls, cost grows ~linearly).
#
# Shape: ONE bucket self-join (the _minhash_pairs narrow-id shape)
# tagged with min(band_idx) = the FIRST table each pair collides in;
# the per-table marginal aggregate is <= BANDS rows, broadcast against
# the L ladder — no per-L re-join, so the dial costs one pass over the
# production candidate set.  Oracle: same construction, cumulative
# sums over the same <= BANDS-row grid.

def dedup_minhash_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _with_hashes(_corpus(spark, sf_dir))
    sigs = sh.select("doc_id", "hashes", *_minhash_sigs()).localCheckpoint(eager=False)
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{b}")
        for b in range(BANDS)
    ]
    buckets = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    first_hit = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.min("a.band_idx").alias("first_table"))
    )
    hs = sigs.select("doc_id", "hashes")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    per_table = (
        first_hit.join(
            hs.select(F.col("doc_id").alias("id_a"), F.col("hashes").alias("sh_a")),
            "id_a",
        )
        .join(
            hs.select(F.col("doc_id").alias("id_b"), F.col("hashes").alias("sh_b")),
            "id_b",
        )
        .groupBy("first_table")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(((inter / union) >= JACCARD_TAU).cast("bigint")).alias("n_ver"),
        )
        # pinned: the <= BANDS-row marginal table feeds BOTH the ladder
        # join and the recall denominator — un-pinned the whole
        # candidate pipeline ran twice (4.0 s -> 2.3 s at sf0.1)
        .localCheckpoint(eager=False)
    )
    ladder = spark.range(1, BANDS + 1).select(F.col("id").alias("n_tables"))
    cum = (
        ladder.join(F.broadcast(per_table), F.col("first_table") < F.col("n_tables"))
        .groupBy("n_tables")
        .agg(
            F.sum("n_cand").alias("n_candidates"),
            F.sum("n_ver").alias("n_verified"),
        )
    )
    total = per_table.agg(F.sum("n_ver").alias("total_ver"))
    return cum.crossJoin(F.broadcast(total)).select(
        "n_tables",
        "n_candidates",
        "n_verified",
        F.expr("n_verified * 10000 div n_candidates").alias("precision_bp"),
        F.expr("n_verified * 10000 div total_ver").alias("recall_bp"),
    )


DEDUP_MINHASH_TABLES_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
),
buckets AS (
  SELECT doc_id, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
first_hit AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, min(a.band_idx) AS first_table
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
per_table AS (
  SELECT first_table, count(*) AS n_cand,
         CAST(sum(CASE WHEN len(list_intersect(sa.hashes, sb.hashes))
              / CAST(len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)) AS DOUBLE)
              >= {JACCARD_TAU} THEN 1 ELSE 0 END) AS BIGINT) AS n_ver
  FROM first_hit
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  GROUP BY 1
),
cum AS (
  SELECT l.n_tables, CAST(sum(p.n_cand) AS BIGINT) AS n_candidates,
         CAST(sum(p.n_ver) AS BIGINT) AS n_verified
  FROM (SELECT unnest(range(1, {BANDS} + 1)) AS n_tables) l
  JOIN per_table p ON p.first_table < l.n_tables
  GROUP BY 1
)
SELECT n_tables, n_candidates, n_verified,
       CAST(n_verified * 10000 // n_candidates AS BIGINT) AS precision_bp,
       CAST(n_verified * 10000 // (SELECT sum(n_ver) FROM per_table) AS BIGINT) AS recall_bp
FROM cum
"""

QUERIES["dedup_minhash_tables"] = dedup_minhash_tables
ORACLES["dedup_minhash_tables"] = DEDUP_MINHASH_TABLES_SQL


# --- near-dup graph degree statistics ----------------------------------------

def dedup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure of the duplication graph the pair operators emit:
    per-node degree over the MinHash near-dup pairs, rolled into a
    degree histogram plus the top hub share — a corpus where a few
    hubs touch everything (template boilerplate) dedups very
    differently from scattered 2-cliques, and the transitive-closure
    cost (`dedup_components` rounds) tracks the hub degree. Pairs are
    the already-bounded LSH output; degree math is one symmetric
    explode + two bounded aggregations."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
        # pinned: referenced twice (totals + histogram) — un-pinned,
        # each reference re-ran the LSH bucket join + verify
        .localCheckpoint(eager=False)
    )
    totals = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("degree").alias("sum_deg"),
        F.max("degree").alias("max_degree"),
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("degree").cast("bigint").alias("degree"),
            "n_docs",
            "n_nodes",
            "max_degree",
            F.expr("cast(degree * n_docs * 10000 div sum_deg as bigint)").alias("edge_share_bp"),
        )
    )


DEDUP_DEGREE_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SQL.strip()}),
deg AS (
  SELECT doc_id, count(*) AS degree FROM (
    SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY doc_id
), totals AS (
  SELECT count(*) AS n_nodes, CAST(sum(degree) AS BIGINT) AS sum_deg,
         CAST(max(degree) AS BIGINT) AS max_degree
  FROM deg
)
SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_docs,
       CAST(n_nodes AS BIGINT) AS n_nodes, max_degree,
       CAST(degree * count(*) * 10000 // sum_deg AS BIGINT) AS edge_share_bp
FROM deg, totals GROUP BY degree, n_nodes, max_degree, sum_deg
"""

QUERIES["dedup_graph_degree_stats"] = dedup_graph_degree_stats
ORACLES["dedup_graph_degree_stats"] = DEDUP_DEGREE_SQL


# --- cross-source syndication share ------------------------------------------

def dedup_cross_source_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do near-duplicates live? Pairs WITHIN a source are
    templates/boilerplate; pairs ACROSS sources are syndication — and
    the cleanup differs (strip boilerplate vs keep one canonical
    copy). The LSH pair output joins doc→source twice (broadcast-size
    dim at metadata scale) and rolls into within/cross counts per
    source pair — the syndication matrix a licensing review reads."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    # the dedup corpus plants copies at id+100000/+200000 — attribute
    # them to their base document's source via id % 100000
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.select(F.expr("id_a % 100000").alias("base_a"), F.expr("id_b % 100000").alias("base_b"))
        .join(src.withColumnRenamed("doc_id", "base_a").withColumnRenamed("source", "src_a"), "base_a")
        .join(src.withColumnRenamed("doc_id", "base_b").withColumnRenamed("source", "src_b"), "base_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            (F.col("src_a") == F.col("src_b")).cast("bigint").alias("within"),
        )
        # pinned: referenced twice (total + matrix rollup) — un-pinned,
        # each reference re-ran the LSH bucket join + verify
        .localCheckpoint(eager=False)
    )
    total = labeled.agg(
        F.count(F.lit(1)).alias("n_pairs_total"),
        F.sum("within").alias("n_within_total"),
    )
    return (
        labeled.groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("within").alias("n_within"))
        .crossJoin(F.broadcast(total))
        .select(
            "source_x",
            "source_y",
            "n_pairs",
            "n_within",
            F.expr("cast(n_pairs * 10000 div n_pairs_total as bigint)").alias("pair_share_bp"),
            F.expr("cast(n_within_total * 10000 div n_pairs_total as bigint)").alias(
                "corpus_within_bp"
            ),
        )
    )


DEDUP_CROSS_SOURCE_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_SQL.strip()}),
src AS (SELECT doc_id, source FROM documents),
labeled AS (
  SELECT least(sa.source, sb.source) AS source_x,
         greatest(sa.source, sb.source) AS source_y,
         CAST(sa.source = sb.source AS BIGINT) AS within
  FROM pairs
  JOIN src sa ON sa.doc_id = id_a % 100000
  JOIN src sb ON sb.doc_id = id_b % 100000
), total AS (
  SELECT count(*) AS n_pairs_total, CAST(sum(within) AS BIGINT) AS n_within_total FROM labeled
)
SELECT source_x, source_y, count(*) AS n_pairs,
       CAST(sum(within) AS BIGINT) AS n_within,
       CAST(count(*) * 10000 // n_pairs_total AS BIGINT) AS pair_share_bp,
       CAST(n_within_total * 10000 // n_pairs_total AS BIGINT) AS corpus_within_bp
FROM labeled, total GROUP BY source_x, source_y, n_pairs_total, n_within_total
"""

QUERIES["dedup_cross_source_share"] = dedup_cross_source_share
ORACLES["dedup_cross_source_share"] = DEDUP_CROSS_SOURCE_SQL


# --- duplication-aware sampling weights ----------------------------------------
#
# The SoftDeDup move (public art: soft deduplication / per-duplicate
# downweighting instead of deletion): rather than dropping near-dup
# cluster members, give every document sampling weight 1/cluster_size
# so each duplicate FAMILY contributes one document's worth of
# training mass. Weights stay exact integers (basis points, 10000 //
# cluster_size); the graded rollup buckets the corpus by cluster-size
# band and reports document counts, weight mass, and the effective-
# dataset share — the number a data-mixing run actually consumes.
# Plan: component labels (one bounded iterative join, shared with
# dedup_components) → cluster sizes (component-grain agg) → one
# left join back onto the corpus → bounded band rollup.

def dedup_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin the labels: both consumers below (sizes agg + corpus join)
    # would otherwise each re-run the whole LSH + label-propagation
    # pipeline (measured 4.0 s → ~half with the pin)
    comp = _components(spark, sf_dir).localCheckpoint(eager=False)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    labeled = comp.join(sizes, "component_id").select("doc_id", "cluster_size")
    corpus = _corpus(spark, sf_dir).select("doc_id")
    weighted = corpus.join(labeled, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_size"), F.lit(1)).alias("cluster_size"),
        F.expr("10000 div coalesce(cluster_size, 1)").alias("weight_bp"),
    )
    band = (
        F.when(F.col("cluster_size") == 1, "1 (unique)")
        .when(F.col("cluster_size") == 2, "2")
        .when(F.col("cluster_size") <= 4, "3-4")
        .otherwise("5+")
    )
    # n_corpus == count(corpus): weighted is corpus LEFT JOIN labels, so
    # counting the un-joined side skips re-running the join subtree
    tot = corpus.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        weighted.groupBy(band.alias("cluster_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("weight_bp").alias("weight_mass_bp"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_band",
            "n_docs",
            "weight_mass_bp",
            F.expr("weight_mass_bp div n_docs").alias("mean_weight_bp"),
            F.expr("n_docs * 10000 div n_corpus").alias("docs_share_bp"),
        )
    )


DEDUP_SAMPLE_WEIGHTS_SQL = f"""{_CC_COMP_PREFIX_SQL}
, labels AS (
  SELECT doc_id, least(doc_id, min(other)) AS component_id
  FROM reach GROUP BY doc_id
), sizes AS (
  SELECT component_id, count(*) AS cluster_size FROM labels GROUP BY component_id
), weighted AS (
  SELECT c.doc_id,
         coalesce(s.cluster_size, 1) AS cluster_size,
         CAST(10000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_bp
  FROM corpus c
  LEFT JOIN labels l ON c.doc_id = l.doc_id
  LEFT JOIN sizes s ON l.component_id = s.component_id
), tot AS (SELECT count(*) AS n_corpus FROM weighted)
SELECT CASE WHEN cluster_size = 1 THEN '1 (unique)'
            WHEN cluster_size = 2 THEN '2'
            WHEN cluster_size <= 4 THEN '3-4'
            ELSE '5+' END AS cluster_band,
       count(*) AS n_docs,
       CAST(sum(weight_bp) AS BIGINT) AS weight_mass_bp,
       CAST(CAST(sum(weight_bp) AS BIGINT) // count(*) AS BIGINT) AS mean_weight_bp,
       CAST(count(*) * 10000 // n_corpus AS BIGINT) AS docs_share_bp
FROM weighted, tot
GROUP BY 1, n_corpus
"""

QUERIES["dedup_sample_weights"] = dedup_sample_weights
ORACLES["dedup_sample_weights"] = DEDUP_SAMPLE_WEIGHTS_SQL


# --- train/eval split leakage audit ------------------------------------------
#
# The decontamination concern turned inward: when a corpus is split
# into train/val/test by document hash (the standard reproducible
# split: md5(doc_id) buckets 0-7/8/9), near-duplicate FAMILIES can
# straddle the boundary — a test document whose near-copy sits in
# train leaks evaluation signal (public art: the C4/Pile dedup +
# decontamination literature measures exactly this). The audit joins
# the verified LSH near-dup pairs against the hash-split assignment of
# both endpoints and reports the split-pair matrix with the corpus
# leakage rate — the go/no-go number before an eval set ships.
#
# Plan: the pair table is the already-bounded LSH output; the split is
# a per-row md5 expression (no dim join at all), so the audit adds one
# bounded rollup on top of the production dedup pipeline.  The md5
# bucket device reproduces bit-for-bit in DuckDB.

def _hash_split(c) -> Column:
    bucket = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 10
    return (
        F.when(bucket <= 7, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    labeled = pairs.select(
        _hash_split(F.col("id_a")).alias("sa"),
        _hash_split(F.col("id_b")).alias("sb"),
    ).select(
        F.least("sa", "sb").alias("split_x"),
        F.greatest("sa", "sb").alias("split_y"),
        (F.col("sa") != F.col("sb")).cast("bigint").alias("leak"),
    )
    # pinned: referenced twice (total + split matrix) — un-pinned, each
    # reference re-ran the LSH bucket join + verify
    labeled = labeled.localCheckpoint(eager=False)
    total = labeled.agg(
        F.count(F.lit(1)).alias("n_pairs_total"),
        F.sum("leak").alias("n_leak_total"),
    )
    return (
        labeled.groupBy("split_x", "split_y")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(total))
        .select(
            "split_x",
            "split_y",
            "n_pairs",
            (F.col("split_x") != F.col("split_y")).cast("int").alias("cross_split"),
            F.expr("cast(n_pairs * 10000 div n_pairs_total as bigint)").alias(
                "pair_share_bp"
            ),
            F.expr("cast(n_leak_total * 10000 div n_pairs_total as bigint)").alias(
                "corpus_leak_bp"
            ),
        )
    )


_SPLIT_SQL = (
    "CASE WHEN CAST('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8) AS BIGINT) % 10 <= 7"
    " THEN 'train'"
    " WHEN CAST('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 8"
    " THEN 'val' ELSE 'test' END"
)

SPLIT_LEAKAGE_SQL = f"""
WITH pairs AS ({{minhash}}),
labeled AS (
  SELECT least({_SPLIT_SQL.format(c='id_a')}, {_SPLIT_SQL.format(c='id_b')}) AS split_x,
         greatest({_SPLIT_SQL.format(c='id_a')}, {_SPLIT_SQL.format(c='id_b')}) AS split_y,
         CAST({_SPLIT_SQL.format(c='id_a')} <> {_SPLIT_SQL.format(c='id_b')} AS BIGINT) AS leak
  FROM pairs
),
total AS (
  SELECT count(*) AS n_pairs_total, CAST(sum(leak) AS BIGINT) AS n_leak_total FROM labeled
)
SELECT split_x, split_y, count(*) AS n_pairs,
       CAST(split_x <> split_y AS INT) AS cross_split,
       CAST(count(*) * 10000 // n_pairs_total AS BIGINT) AS pair_share_bp,
       CAST(n_leak_total * 10000 // n_pairs_total AS BIGINT) AS corpus_leak_bp
FROM labeled, total GROUP BY split_x, split_y, n_pairs_total, n_leak_total
""".format(minhash=DEDUP_MINHASH_SQL.strip())

QUERIES["split_leakage_audit"] = split_leakage_audit
ORACLES["split_leakage_audit"] = SPLIT_LEAKAGE_SQL


# --- dedup method agreement (Venn) -------------------------------------------
#
# Which near-dup detector finds what: the exact-hash, MinHash-LSH and
# SimHash pair sets of the SAME corpus overlaid into the membership
# Venn — exact ⊂ near-dup methods by construction (identical text has
# identical shingles and bits), while MinHash (set Jaccard) and
# SimHash (weighted cosine-ish) genuinely disagree at the margin; the
# pattern counts tell a pipeline owner what switching or stacking
# detectors would change (the method-selection table next to the
# parameter-tuning tables dedup_band_sweep / ivf_nprobe_sweep).
#
# Plan: three production pair pipelines (each already banded/bounded)
# + one md5 self-join for exact pairs (uniform key), then a rollup on
# the bounded union of pair sets.  Outputs one row per membership
# pattern with union share in bp.

def _fp_th(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (doc_id, fp, th): the exact-dup fingerprint + token
    hashes in ONE md5 pass, built fresh per caller (the pin must not
    outlive its query — see _with_hashes)."""
    return (
        _corpus(spark, sf_dir)
        .select("doc_id", F.md5("text").alias("fp"), F.expr(_TH_EXPR).alias("th"))
        .localCheckpoint(eager=False)
    )


def dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE md5 pass feeds all three methods: the pinned (fp, th) frame
    # carries the exact-dup fingerprint and the token hashes; SH32
    # (minhash) and SH60 (simhash) shingles derive from th
    # arithmetically — the constituent pipelines run standalone with
    # their own _with_hashes pass, the composite shares it.
    th = _fp_th(spark, sf_dir)
    c = th.select("doc_id", "fp")
    a, b = c.alias("a"), c.alias("b")
    exact = a.join(
        b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    minhash = _minhash_pairs(_hashes_from_th(th, _SH32_EXPR)).select("id_a", "id_b")
    simhash = _simhash_pairs(
        _hashes_from_th(th, _SH60_EXPR), n_rows=corpus_rows_estimate(spark, sf_dir)
    ).select("id_a", "id_b")
    tagged = (
        exact.select("id_a", "id_b", F.lit(1).alias("e"), F.lit(0).alias("m"), F.lit(0).alias("s"))
        .unionByName(minhash.select("id_a", "id_b", F.lit(0).alias("e"), F.lit(1).alias("m"), F.lit(0).alias("s")))
        .unionByName(simhash.select("id_a", "id_b", F.lit(0).alias("e"), F.lit(0).alias("m"), F.lit(1).alias("s")))
    )
    # pinned: referenced twice (n_union + the cell rollup) — un-pinned,
    # each reference re-ran ALL THREE constituent pair pipelines
    flags = (
        tagged.groupBy("id_a", "id_b")
        .agg(
            F.max("e").alias("in_exact"),
            F.max("m").alias("in_minhash"),
            F.max("s").alias("in_simhash"),
        )
        .localCheckpoint(eager=False)
    )
    tot = flags.agg(F.count(F.lit(1)).alias("n_union"))
    return (
        flags.groupBy("in_exact", "in_minhash", "in_simhash")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("in_exact").cast("int").alias("in_exact"),
            F.col("in_minhash").cast("int").alias("in_minhash"),
            F.col("in_simhash").cast("int").alias("in_simhash"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr("cast(n_pairs * 10000 div n_union as bigint)").alias("union_share_bp"),
        )
    )


DEDUP_VENN_SQL = f"""
WITH {CORPUS_SQL.strip()},
exact AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM corpus a JOIN corpus b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
mh AS (SELECT id_a, id_b FROM ({DEDUP_MINHASH_SQL.strip()})),
sh2 AS (SELECT id_a, id_b FROM ({DEDUP_SIMHASH_SQL.strip()})),
tagged AS (
  SELECT id_a, id_b, 1 AS e, 0 AS m, 0 AS s FROM exact
  UNION ALL
  SELECT id_a, id_b, 0, 1, 0 FROM mh
  UNION ALL
  SELECT id_a, id_b, 0, 0, 1 FROM sh2
),
flags AS (
  SELECT id_a, id_b, max(e) AS in_exact, max(m) AS in_minhash, max(s) AS in_simhash
  FROM tagged GROUP BY id_a, id_b
),
tot AS (SELECT count(*)::BIGINT AS n_union FROM flags)
SELECT CAST(in_exact AS INT) AS in_exact,
       CAST(in_minhash AS INT) AS in_minhash,
       CAST(in_simhash AS INT) AS in_simhash,
       count(*)::BIGINT AS n_pairs,
       CAST(count(*) * 10000 // n_union AS BIGINT) AS union_share_bp
FROM flags, tot GROUP BY in_exact, in_minhash, in_simhash, n_union
"""

QUERIES["dedup_method_venn"] = dedup_method_venn
ORACLES["dedup_method_venn"] = DEDUP_VENN_SQL


# --- LSH bucket-occupancy audit ----------------------------------------------
#
# The shuffle-cost audit of the banded join (join_key_skew_report's
# sibling for LSH, embed_cell_balance's for dedup): per band, bucket
# occupancy rolled to the numbers that size the candidate join —
# bucket count, max bucket, candidate pairs generated (sum n(n-1)/2),
# and hot buckets above HOT_BUCKET.  A template-boilerplate corpus
# concentrates one bucket per band and the banded join quietly goes
# quadratic; this is the query that catches it BEFORE the join runs
# (the production guard the DF_CAP family implements for shingles,
# measured at the band grain).
#
# Plan: the production signature/band pipeline (narrow per-row), one
# (band, key) count, one BANDS-row rollup.

HOT_BUCKET = 8


def dedup_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _with_hashes(_corpus(spark, sf_dir))
    sigs = sh.select("doc_id", *_minhash_sigs())
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{b}")
        for b in range(BANDS)
    ]
    buckets = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )
    occ = buckets.groupBy("band_idx", "band_key").agg(F.count(F.lit(1)).alias("n"))
    return (
        occ.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_docs"),
            F.max("n").alias("max_bucket"),
            F.sum(F.expr("n * (n - 1) div 2")).alias("pairs_generated"),
            F.sum((F.col("n") > HOT_BUCKET).cast("bigint")).alias("hot_buckets"),
        )
        .select(
            F.col("band_idx").cast("bigint").alias("band_idx"),
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("max_bucket").cast("bigint").alias("max_bucket"),
            F.col("pairs_generated").cast("bigint").alias("pairs_generated"),
            F.col("hot_buckets").cast("bigint").alias("hot_buckets"),
        )
    )


LSH_BUCKET_AUDIT_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
),
buckets AS (
  SELECT doc_id, band_idx, band_key
  FROM sigs, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
occ AS (
  SELECT band_idx, band_key, count(*)::BIGINT AS n FROM buckets GROUP BY 1, 2
)
SELECT CAST(band_idx AS BIGINT) AS band_idx,
       count(*)::BIGINT AS n_buckets,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(max(n) AS BIGINT) AS max_bucket,
       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_generated,
       CAST(sum(CASE WHEN n > {HOT_BUCKET} THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets
FROM occ GROUP BY band_idx
"""

QUERIES["dedup_lsh_bucket_audit"] = dedup_lsh_bucket_audit
ORACLES["dedup_lsh_bucket_audit"] = LSH_BUCKET_AUDIT_SQL


# --- drop explainability ------------------------------------------------------
#
# "Why was my document removed?" — the reverse-lookup a dedup
# pipeline owes its users (and its auditors): every dropped doc with
# the rule that dropped it and the survivor that replaced it.  Exact
# content duplicates (md5 cluster, keep-min-id) take precedence over
# near-dup cluster pruning (keep-longest per LSH component, the
# dedup_keep_best policy); a doc hit by both reports both flags so
# rule overlap is visible.
#
# Plan: one md5 window over the corpus (uniform key), the shared
# component labels pinned once + one component window for survivors —
# the production decisions replayed, then a doc-grain merge; no new
# corpus-sized joins beyond the pipelines being explained.

def dedup_drop_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _corpus(spark, sf_dir).select(
        "doc_id", F.length("text").alias("n_chars"), F.md5("text").alias("fp")
    ).localCheckpoint(eager=False)
    w_fp = Window.partitionBy("fp")
    exact = (
        c.withColumn("keep_id", F.min("doc_id").over(w_fp))
        .where(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.col("keep_id").alias("exact_survivor"))
    )
    comp = _components(spark, sf_dir).localCheckpoint(eager=False)
    w_comp = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    labeled = comp.join(c.select("doc_id", "n_chars"), "doc_id")
    survivors = (
        labeled.withColumn("rn", F.row_number().over(w_comp))
        .where(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("near_survivor"))
    )
    near = (
        labeled.join(survivors, "component_id")
        .where(F.col("doc_id") != F.col("near_survivor"))
        .select("doc_id", "near_survivor")
    )
    merged = exact.join(near, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("exact_survivor").isNotNull(), "exact")
        .otherwise(F.lit("near_dup"))
        .alias("reason"),
        F.coalesce("exact_survivor", "near_survivor").cast("bigint").alias("survivor_id"),
        F.col("exact_survivor").isNotNull().cast("int").alias("hit_exact"),
        F.col("near_survivor").isNotNull().cast("int").alias("hit_near"),
    )
    return merged


DROP_EXPLAIN_SQL = f"""{_CC_COMP_PREFIX_SQL}
, labels AS (
  SELECT doc_id, least(doc_id, min(other)) AS component_id
  FROM reach GROUP BY doc_id
),
exact AS (
  SELECT doc_id, keep_id AS exact_survivor FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM corpus
  ) WHERE doc_id <> keep_id
),
survivors AS (
  SELECT component_id, doc_id AS near_survivor FROM (
    SELECT l.component_id, d.doc_id,
           row_number() OVER (PARTITION BY l.component_id
                              ORDER BY length(d.text) DESC, d.doc_id) AS rn
    FROM labels l JOIN corpus d ON l.doc_id = d.doc_id
  ) WHERE rn = 1
),
near AS (
  SELECT l.doc_id, s.near_survivor
  FROM labels l JOIN survivors s USING (component_id)
  WHERE l.doc_id <> s.near_survivor
)
SELECT coalesce(e.doc_id, n.doc_id) AS doc_id,
       CASE WHEN e.exact_survivor IS NOT NULL THEN 'exact' ELSE 'near_dup' END AS reason,
       CAST(coalesce(e.exact_survivor, n.near_survivor) AS BIGINT) AS survivor_id,
       CAST(e.exact_survivor IS NOT NULL AS INT) AS hit_exact,
       CAST(n.near_survivor IS NOT NULL AS INT) AS hit_near
FROM exact e FULL OUTER JOIN near n ON e.doc_id = n.doc_id
"""

QUERIES["dedup_drop_explain"] = dedup_drop_explain
ORACLES["dedup_drop_explain"] = DROP_EXPLAIN_SQL


# --- Asymmetric containment dedup ---------------------------------------------
#
# What symmetric Jaccard CANNOT see: a short document fully contained
# in a longer one (quotation, excerpt, sub-document syndication) has
# jaccard |A∩B|/|A∪B| ≈ |A|/|B| — far below any near-dup τ — while
# containment |A∩B|/|A| is ~1.  Planted quote docs (doc_id+300000, the
# 30% token prefix of every 11th base doc) are invisible to
# dedup_ngram_jaccard (jaccard ≈ 0.3 < 0.6) and caught here at
# containment ≥ CONTAIN_TAU.  Public art: Broder's containment
# coefficient / CommonCrawl excerpt filtering.
#
# Scale: identical machinery to dedup_ngram_jaccard — one shingle
# explode, broadcast anti-join on the DF-capped frequent set, bounded
# inverted-index self-join — the asymmetric statistic costs nothing
# extra; both directions come from the same intersection count.

CONTAIN_TAU_BP = 9000


@plan_memo
def _contain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), r"\s+")
    quotes = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.ceil(F.size(toks) * 0.3).cast("int")), " "
        ).alias("text"),
    )
    return docs.unionAll(quotes)


CONTAIN_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000,
         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1,
             CAST(ceil(0.3 * len(string_split_regex(text, '\\s+'))) AS INT)), ' ')
  FROM documents WHERE doc_id % 11 = 0
)
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    exploded = _with_hashes(_contain_corpus(spark, sf_dir)).select(
        "doc_id", F.explode("hashes").alias("shingle")
    )
    frequent = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > DF_CAP)
        .select("shingle")
    )
    sh = (
        exploded.join(F.broadcast(frequent), "shingle", "left_anti")
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .select("doc_id", "n_sh", "shingle")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    scored = inter.select(
        "id_a", "id_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_inter",
        F.expr("cast(n_inter * 10000 div n_a as bigint)").alias("cont_a_bp"),
        F.expr("cast(n_inter * 10000 div n_b as bigint)").alias("cont_b_bp"),
    )
    return scored.where(
        (F.col("cont_a_bp") >= CONTAIN_TAU_BP) | (F.col("cont_b_bp") >= CONTAIN_TAU_BP)
    ).select(
        "id_a", "id_b", "n_a", "n_b", "n_inter", "cont_a_bp", "cont_b_bp",
        F.expr(
            "cast(cast(n_inter * 10000 div n_a as bigint) >="
            f" {CONTAIN_TAU_BP} as int)"
        ).alias("a_in_b"),
        F.expr(
            "cast(cast(n_inter * 10000 div n_b as bigint) >="
            f" {CONTAIN_TAU_BP} as int)"
        ).alias("b_in_a"),
    )


DEDUP_CONTAIN_SQL = f"""
WITH {CONTAIN_CORPUS_SQL.strip()},
th_tab AS (SELECT doc_id, {_TH_SQL} AS th FROM corpus),
sh_tab AS (SELECT doc_id, {_SH32_SQL} AS hashes FROM th_tab),
exploded AS (SELECT doc_id, unnest(hashes) AS shingle FROM sh_tab),
frequent AS (
  SELECT shingle FROM exploded GROUP BY shingle HAVING count(*) > {DF_CAP}
),
kept AS (
  SELECT doc_id, shingle FROM exploded WHERE shingle NOT IN (SELECT shingle FROM frequent)
),
sized AS (
  SELECT doc_id, shingle, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM kept
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
         count(*)::BIGINT AS n_inter
  FROM sized a JOIN sized b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
),
scored AS (
  SELECT id_a, id_b, n_a, n_b, n_inter,
         CAST(n_inter * 10000 // n_a AS BIGINT) AS cont_a_bp,
         CAST(n_inter * 10000 // n_b AS BIGINT) AS cont_b_bp
  FROM inter
)
SELECT id_a, id_b, n_a, n_b, n_inter, cont_a_bp, cont_b_bp,
       CAST(cont_a_bp >= {CONTAIN_TAU_BP} AS INT) AS a_in_b,
       CAST(cont_b_bp >= {CONTAIN_TAU_BP} AS INT) AS b_in_a
FROM scored
WHERE cont_a_bp >= {CONTAIN_TAU_BP} OR cont_b_bp >= {CONTAIN_TAU_BP}
"""

QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = DEDUP_CONTAIN_SQL


# --- shingle-size tuning table --------------------------------------------------
#
# The config question BEFORE dedup_minhash_lsh / dedup_band_sweep runs:
# what shingle size n should the signatures hash?  Small n makes grams
# common (huge candidate mass, false positives); large n makes them
# rare (misses near-dups).  For n = 2..5, one gram-frequency table per
# n yields the numbers an LSH tuner reads: distinct grams, singleton
# share, document frequency head, and the CANDIDATE PAIR MASS
# sum df·(df-1)/2 — the quadratic cost driver of any gram-bucket
# candidate join.
#
# Plan: per n, ONE explode → gram-df aggregation → a 1-row rollup;
# the four passes are independent branches of a union (they pipeline
# in parallel); nothing pairs, nothing joins.  At 100 TB the raw gram
# strings group as md5 keys (fixed width) — same aggregation shape.

SHINGLE_NS = (2, 3, 4, 5)


def dedup_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        tokens(F.col("text")).alias("toks")
    )
    parts = []
    for n in SHINGLE_NS:
        joined = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
        grams = docs.select(
            F.explode(
                F.expr(
                    f"CASE WHEN size(toks) < {n} THEN array() "
                    f"ELSE transform(sequence(1, size(toks) - {n - 1}), "
                    f"i -> concat_ws(' ', {joined})) END"
                )
            ).alias("g")
        )
        df_tab = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        parts.append(
            df_tab.agg(
                F.lit(n).cast("bigint").alias("shingle_n"),
                F.count(F.lit(1)).alias("distinct_grams"),
                F.sum("df").alias("total_grams"),
                F.sum((F.col("df") == 1).cast("int")).alias("singletons"),
                F.max("df").alias("max_df"),
                F.sum(F.expr("df * (df - 1) div 2")).alias("candidate_pair_mass"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "shingle_n",
        F.col("distinct_grams").cast("bigint").alias("distinct_grams"),
        F.col("total_grams").cast("bigint").alias("total_grams"),
        F.expr("singletons * 10000 div distinct_grams").cast("bigint").alias("singleton_bp"),
        F.col("max_df").cast("bigint").alias("max_df"),
        F.expr("total_grams * 1000 div distinct_grams").cast("bigint").alias("mean_df_milli"),
        F.col("candidate_pair_mass").cast("bigint").alias("candidate_pair_mass"),
    )


def _shingle_n_sql(n: int) -> str:
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
  SELECT {n}::BIGINT AS shingle_n, count(*)::BIGINT AS distinct_grams,
         CAST(sum(df) AS BIGINT) AS total_grams,
         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
         CAST(max(df) AS BIGINT) AS max_df,
         CAST(sum(df * (df - 1) // 2) AS BIGINT) AS candidate_pair_mass
  FROM (
    SELECT g, count(*)::BIGINT AS df
    FROM (
      SELECT {joined} AS g
      FROM (SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
            FROM documents),
           unnest(range(1, len(t) - {n - 2})) AS u(i)
      WHERE len(t) >= {n}
    ) GROUP BY g
  )"""


SHINGLE_STATS_SQL = (
    "WITH per_n AS ("
    + " UNION ALL ".join(_shingle_n_sql(n) for n in SHINGLE_NS)
    + """)
SELECT shingle_n, distinct_grams, total_grams,
       CAST(singletons * 10000 // distinct_grams AS BIGINT) AS singleton_bp,
       max_df,
       CAST(total_grams * 1000 // distinct_grams AS BIGINT) AS mean_df_milli,
       candidate_pair_mass
FROM per_n
"""
)

QUERIES["dedup_shingle_stats"] = dedup_shingle_stats
ORACLES["dedup_shingle_stats"] = SHINGLE_STATS_SQL


# --- b-bit minwise hashing -------------------------------------------------------
#
# The storage rung below the 16x32-bit MinHash signature (Li & Konig
# 2010 "b-Bit Minwise Hashing", WWW): keep only the lowest b bits of
# each permutation's minimum — 2 bytes instead of 64 per document at
# b=1 — and correct the collision inflation analytically: with
# agreement rate P_b over the signature, J_est = (P_b - C) / (1 - C),
# C = 2^-b. Graded on dedup_minhash_lsh's own candidate set so the
# three estimators line up row by row: full-signature agreement, the
# b=1 and b=2 corrected estimates, and the exact shingle Jaccard as
# audit — all in exact integer bp with multiply-first truncating divs
# (the estimate can clamp at 0 when agreement falls below chance).
#
# Scale: identical shape to dedup_minhash_lsh (same banded candidate
# join), plus per-pair constant-width signature comparisons; the b-bit
# signatures are derived by masking the sigs already computed — at
# 100 TB the point IS that the stored artifact shrinks 32x while the
# candidate pipeline stays byte-identical.

BBIT_SIG_BITS = {1: 1, 2: 3}  # b -> low-bit mask


def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _with_hashes(_corpus(spark, sf_dir))
    sigs = sh.select("doc_id", "hashes", *_minhash_sigs())
    band_cols = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"band{b}")
        for b in range(BANDS)
    ]
    # NARROW bucket join (round-7, the _minhash_pairs shape): candidate
    # ids only through the explode/join/dedup; shingle sets + signature
    # arrays rejoin for the estimate columns afterwards
    buckets = sigs.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    payload = sigs.select(
        "doc_id",
        "hashes",
        F.array(*[F.col(f"sig{i}") for i in range(N_HASHES)]).alias("sig"),
    )
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(
            payload.select(
                F.col("doc_id").alias("id_a"),
                F.col("hashes").alias("sh_a"),
                F.col("sig").alias("sig_a"),
            ),
            "id_a",
        )
        .join(
            payload.select(
                F.col("doc_id").alias("id_b"),
                F.col("hashes").alias("sh_b"),
                F.col("sig").alias("sig_b"),
            ),
            "id_b",
        )
    )
    def _matches(mask: int | None):
        if mask is None:
            cmp = "x -> cast(element_at(sig_a, x) = element_at(sig_b, x) as bigint)"
        else:
            cmp = (
                f"x -> cast((element_at(sig_a, x) & {mask})"
                f" = (element_at(sig_b, x) & {mask}) as bigint)"
            )
        return F.expr(
            f"aggregate(transform(sequence(1, {N_HASHES}), {cmp}), 0L, (s, v) -> s + v)"
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    n = N_HASHES
    return cand.select(
        "id_a",
        "id_b",
        F.expr(
            "cast(size(array_intersect(sh_a, sh_b)) * 10000 div"
            " (size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) as bigint)"
        ).alias("jaccard_exact_bp"),
        _matches(None).alias("m_full"),
        _matches(1).alias("m_b1"),
        _matches(3).alias("m_b2"),
    ).select(
        "id_a",
        "id_b",
        "jaccard_exact_bp",
        F.expr(f"m_full * 10000 div {n}").alias("est_full_bp"),
        # b=1: C=1/2 -> (P-1/2)/(1/2) = (2m - n)/n
        F.expr(f"greatest(0, (2 * m_b1 - {n}) * 10000 div {n})").alias("est_b1_bp"),
        # b=2: C=1/4 -> (P-1/4)/(3/4) = (4m - n)/(3n)
        F.expr(f"greatest(0, (4 * m_b2 - {n}) * 10000 div (3 * {n}))").alias("est_b2_bp"),
    )


def _bbit_matches_sql(mask) -> str:
    if mask is None:
        cmp = "x -> CAST(sa.sig[x] = sb.sig[x] AS BIGINT)"
    else:
        cmp = f"x -> CAST((sa.sig[x] & {mask}) = (sb.sig[x] & {mask}) AS BIGINT)"
    return (
        f"list_aggregate(list_transform(generate_series(1, {N_HASHES}), {cmp}), 'sum')"
    )


BBIT_MINHASH_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, hashes,
         {_minhash_sql_sigs()}
  FROM sh
), sigarr AS (
  SELECT doc_id, hashes, [{", ".join(f"sig{i}" for i in range(N_HASHES))}] AS sig,
         {", ".join(f"sig{i}" for i in range(N_HASHES))}
  FROM sigs
),
buckets AS (
  SELECT doc_id, band_idx, band_key
  FROM sigarr, LATERAL (VALUES {", ".join(f"({b}, {_band_sql(b)})" for b in range(BANDS))}) AS v(band_idx, band_key)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
scored AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.hashes, sb.hashes)) AS ni,
         len(sa.hashes) + len(sb.hashes) - len(list_intersect(sa.hashes, sb.hashes)) AS nu,
         {_bbit_matches_sql(None)} AS m_full,
         {_bbit_matches_sql(1)} AS m_b1,
         {_bbit_matches_sql(3)} AS m_b2
  FROM cand JOIN sigarr sa ON sa.doc_id = id_a JOIN sigarr sb ON sb.doc_id = id_b
)
SELECT id_a, id_b,
       CAST(ni * 10000 // nu AS BIGINT) AS jaccard_exact_bp,
       CAST(m_full * 10000 // {N_HASHES} AS BIGINT) AS est_full_bp,
       CAST(GREATEST(0, (2 * m_b1 - {N_HASHES}) * 10000 // {N_HASHES}) AS BIGINT) AS est_b1_bp,
       CAST(GREATEST(0, (4 * m_b2 - {N_HASHES}) * 10000 // (3 * {N_HASHES})) AS BIGINT) AS est_b2_bp
FROM scored
"""

QUERIES["dedup_minhash_b_bit"] = dedup_minhash_b_bit
ORACLES["dedup_minhash_b_bit"] = BBIT_MINHASH_SQL


# --- sentence-level LCS alignment of near-dup pairs ---------------------------
#
# The sequence-aware verdict next to the Jaccard verify: for every
# MinHash near-dup pair, the longest common subsequence of SENTENCE
# fingerprints (each sentence md5-hashed after a literal '.' split +
# trim) — the edit-grain analysis a dedup reviewer actually reads
# (which sentences were inserted/dropped between the copies), i.e.
# ROUGE-L at the sentence granularity where it is meaningful (the
# corpus' near-copies are token-suffix truncations, so token-level LCS
# would be trivially the shorter length).
#
# The LCS recursion L(i,j) = max(L(i-1,j), L(i,j-1), L(i-1,j-1)+eq)
# unrolls even more cleanly than DTW's: with m(k) = max(prev[k+1],
# prev[k] + eq(i,k)), L(i,j) = max_{k<=j} m(k) — a pure prefix MAX, so
# each DP row is (transform, slice, max) list ops; Spark folds rows in
# ONE bounded aggregate() (sentence counts are document-bounded, the
# shelf-fold class), the oracle advances one row per recursive-CTE
# step. alignment_bp = 2·LCS·10000/(n_a + n_b), the F-style ratio.

def dedup_pair_sentence_lcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    sents = corpus.select(
        "doc_id",
        F.expr(
            "transform(filter(transform(split(text, '\\\\.'), s -> trim(s)),"
            " s -> s != ''), s -> md5(s))"
        ).alias("sh"),
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b", "jaccard")
    both = (
        pairs.join(
            sents.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa")),
            "id_a",
        )
        .join(
            sents.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb")),
            "id_b",
        )
    )
    # empty-list guard: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # and the fold would then hit element_at(..., 0), which throws — a
    # whitespace- or dot-only document reaching a MinHash pair must
    # short-circuit to LCS 0 instead (the DuckDB CTE handles i=0 fine,
    # so only the Spark side needs the gate)
    lcs = F.expr(
        """
        case when size(sa) = 0 or size(sb) = 0 then cast(0 as bigint)
        else aggregate(
          sequence(1, size(sa)),
          transform(sequence(0, size(sb)), j -> cast(0 as bigint)),
          (prev, i) -> concat(array(cast(0 as bigint)),
            transform(sequence(1, size(sb)), j ->
              array_max(transform(sequence(1, j), k ->
                greatest(element_at(prev, k + 1),
                         element_at(prev, k)
                         + (case when element_at(sa, i) = element_at(sb, k)
                                 then cast(1 as bigint)
                                 else cast(0 as bigint) end)))))),
          fin -> element_at(fin, size(sb) + 1)) end
        """
    )
    return both.select(
        "id_a",
        "id_b",
        "jaccard",
        F.size("sa").cast("bigint").alias("n_sent_a"),
        F.size("sb").cast("bigint").alias("n_sent_b"),
        lcs.alias("lcs_sentences"),
    ).withColumn(
        "alignment_bp",
        F.expr(
            "case when n_sent_a + n_sent_b = 0 then cast(0 as bigint)"
            " else cast(2 * lcs_sentences * 10000 div (n_sent_a + n_sent_b) as bigint) end"
        ),
    )


PAIR_SENTENCE_LCS_SQL = f"""
WITH RECURSIVE {CORPUS_SQL.strip()},
sents AS (
  SELECT doc_id,
         list_transform(list_filter(list_transform(string_split(text, '.'),
             s -> trim(s)), s -> s <> ''), s -> md5(s)) AS sh
  FROM corpus
),
pairs AS (SELECT id_a, id_b, jaccard FROM ({DEDUP_MINHASH_SQL.strip()})),
pj AS (
  SELECT p.id_a, p.id_b, p.jaccard, a.sh AS sa, b.sh AS sb
  FROM pairs p JOIN sents a ON a.doc_id = p.id_a JOIN sents b ON b.doc_id = p.id_b
),
dp AS (
  SELECT id_a, id_b, jaccard, sa, sb, 0 AS i,
         list_transform(range(0, len(sb) + 1), j -> 0::BIGINT) AS row
  FROM pj
  UNION ALL
  SELECT id_a, id_b, jaccard, sa, sb, i + 1,
         list_prepend(0::BIGINT,
           list_transform(range(1, len(sb) + 1), j ->
             CAST(list_max(list_transform(range(1, j + 1), k ->
               greatest(row[k + 1],
                        row[k] + (CASE WHEN sa[i + 1] = sb[k]
                                       THEN 1 ELSE 0 END)))) AS BIGINT)))
  FROM dp WHERE i < len(sa)
)
SELECT id_a, id_b, jaccard,
       CAST(len(sa) AS BIGINT) AS n_sent_a, CAST(len(sb) AS BIGINT) AS n_sent_b,
       CAST(row[len(sb) + 1] AS BIGINT) AS lcs_sentences,
       CAST(CASE WHEN len(sa) + len(sb) = 0 THEN 0
            ELSE 2 * row[len(sb) + 1] * 10000 // (len(sa) + len(sb)) END AS BIGINT) AS alignment_bp
FROM dp WHERE i = len(sa)
"""

QUERIES["dedup_pair_sentence_lcs"] = dedup_pair_sentence_lcs
ORACLES["dedup_pair_sentence_lcs"] = PAIR_SENTENCE_LCS_SQL


# --- MinHash estimator-quality audit ------------------------------------------
#
# The whole banded family trusts that matched-signatures/16 estimates
# Jaccard; this audits the estimator ON the corpus it gates: for every
# verified near-dup pair, the signature estimate (matched permutations
# / 16, in bp) against the exact shingle Jaccard (the verify's own
# number), rolled into the error distribution — mean/max absolute
# error and the share of pairs within one permutation's resolution
# (10000/16 bp). The number that justifies — or indicts — the 16-
# permutation budget before anyone re-tunes bands. One sig join over
# the production pair pipeline; 1-row output.

N_PERM = len(AB)  # 16 permutations, the production signature width

def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pinned hash corpus shared by the pair pipeline and the
    # signature table — calling dedup_minhash_lsh() here would build a
    # second _with_hashes pipeline (md5 token pass + checkpoint) for
    # the same data; _minhash_pairs over the shared pin is the same
    # code path dedup_minhash_lsh itself runs.
    sh = _with_hashes(_corpus(spark, sf_dir))
    sigs = sh.select("doc_id", *_minhash_sigs()).localCheckpoint(eager=False)
    pairs = _minhash_pairs(sh).select("id_a", "id_b", "jaccard")
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(N_PERM)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(N_PERM)],
    )
    matched = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_PERM)
    )
    per_pair = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.expr(f"cast({N_PERM} as bigint)").alias("n_perm"),
            (matched * 10000 / F.lit(N_PERM)).cast("bigint").alias("est_bp"),
            F.expr("cast(floor(jaccard * 10000 + 0.5) as bigint)").alias("true_bp"),
        )
        .withColumn("abs_err_bp", F.expr("abs(est_bp - true_bp)"))
    )
    return per_pair.groupBy("n_perm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("cast(sum(abs_err_bp) div count(*) as bigint)").alias(
            "mean_abs_err_bp"
        ),
        F.max("abs_err_bp").cast("bigint").alias("max_abs_err_bp"),
        F.expr(
            f"cast(sum(case when abs_err_bp <= 10000 div {N_PERM} then 1 else 0 end)"
            " * 10000 div count(*) as bigint)"
        ).alias("within_one_perm_bp"),
    )


MINHASH_EST_ERR_SQL = f"""
WITH {CORPUS_SQL.strip()},
{_hashes_cte(_SH32_SQL).strip()},
sigs AS (
  SELECT doc_id, {_minhash_sql_sigs()}
  FROM sh
),
pairs AS (SELECT id_a, id_b, jaccard FROM ({DEDUP_MINHASH_SQL.strip()})),
per_pair AS (
  SELECT CAST({N_PERM} AS BIGINT) AS n_perm,
         CAST(({" + ".join(f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(16))})
              * 10000 / {N_PERM} AS BIGINT) AS est_bp,
         CAST(floor(jaccard * 10000 + (0.5)::DOUBLE) AS BIGINT) AS true_bp
  FROM pairs p JOIN sigs a ON a.doc_id = p.id_a JOIN sigs b ON b.doc_id = p.id_b
)
SELECT n_perm, count(*)::BIGINT AS n_pairs,
       CAST(CAST(sum(abs(est_bp - true_bp)) AS BIGINT) // count(*) AS BIGINT) AS mean_abs_err_bp,
       CAST(max(abs(est_bp - true_bp)) AS BIGINT) AS max_abs_err_bp,
       CAST(sum(CASE WHEN abs(est_bp - true_bp) <= 10000 // {N_PERM} THEN 1 ELSE 0 END)
            * 10000 // count(*) AS BIGINT) AS within_one_perm_bp
FROM per_pair
GROUP BY n_perm
"""

QUERIES["dedup_minhash_estimate_error"] = dedup_minhash_estimate_error
ORACLES["dedup_minhash_estimate_error"] = MINHASH_EST_ERR_SQL
