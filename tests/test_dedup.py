from __future__ import annotations

import pytest

from iris_project_database_refresh_spark.operators import dedup

from .conftest import SF_CORRECT, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_matches_oracle(spark, oracle, name):
    assert_matches_oracle(dedup.QUERIES[name](spark, SF_CORRECT), oracle, dedup.ORACLES[name])


def test_exact_dedup_finds_planted_copies(spark):
    rows = dedup.dedup_exact(spark, SF_CORRECT).collect()
    # every doc_id % 7 == 0 original got an exact planted copy
    assert all(r.cluster_size == 2 and r.n_removed == 1 for r in rows)
    assert len(rows) >= 70


def test_minhash_recall_against_exact(spark):
    """LSH (4 bands × 4 rows) must recover the high-similarity pairs the
    exact n-gram pass finds; spot-check recall at jaccard ≥ 0.9."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.dedup_ngram_jaccard(spark, SF_CORRECT).collect()
        if r.jaccard >= 0.9
    }
    lsh = {(r.id_a, r.id_b) for r in dedup.dedup_minhash_lsh(spark, SF_CORRECT).collect()}
    assert exact, "expected planted near-dup pairs at jaccard >= 0.9"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} too low vs exact pairs"


def test_decontaminate_catches_planted(spark):
    from iris_project_database_refresh_spark.operators.dedup import (
        BENCH_MOD,
        doc_decontaminate,
    )

    rows = doc_decontaminate(spark, SF_CORRECT).collect()
    planted = {r["doc_id"] for r in rows if r["doc_id"] >= 300000}
    # every planted contaminated doc is flagged with high contamination
    assert planted == {d + 300000 for d in range(0, 500, BENCH_MOD)}
    for r in rows:
        if r["doc_id"] >= 300000:
            assert r["contamination"] > 0.5


def test_bloom_prefilter_catches_every_true_dup(spark):
    """A Bloom filter has no false negatives: every planted exact copy
    must land in the maybe set and be confirmed; false positives are
    the price, and must stay a small fraction of incoming."""
    from iris_project_database_refresh_spark.operators.dedup import (
        dedup_bloom_prefilter,
    )

    (row,) = dedup_bloom_prefilter(spark, SF_CORRECT).collect()
    assert row.n_incoming == row.n_definitely_new + row.n_maybe
    assert row.n_maybe == row.n_true_dup + row.n_false_positive
    # planted exact copies: doc_id % 7 == 0 over 500 docs = 72
    assert row.n_true_dup == 72
    assert row.n_false_positive <= row.n_incoming * 0.1


def test_dedup_lines_flags_planted_copies(spark):
    rows = {r.doc_id: r for r in dedup.dedup_lines(spark, SF_CORRECT).collect()}
    # exact planted copies (doc_id+100000) share EVERY line with their original
    exact = [r for d, r in rows.items() if d >= 100000 and d < 200000]
    assert exact and all(r.dup_bp == 10000 for r in exact)
    # originals of exact copies are flagged symmetrically
    assert all(rows[d - 100000].dup_bp == 10000 for d in rows if 100000 <= d < 200000)


def test_cdc_chunks_resync_on_near_copies(spark):
    rows = {r.doc_id: r for r in dedup.dedup_cdc_chunks(spark, SF_CORRECT).collect()}
    exact = [r for d, r in rows.items() if 100000 <= d < 200000]
    assert exact and all(r.dup_token_bp == 10000 for r in exact)
    # content-defined boundaries re-sync on the 90%-prefix near copies:
    # the shared prefix produces shared chunks for the large majority
    near = [r for d, r in rows.items() if d >= 200000]
    assert near
    flagged = sum(1 for r in near if r.dup_tokens > 0)
    assert flagged >= int(0.9 * len(near)), f"{flagged}/{len(near)}"


def test_recall_eval_summary_is_consistent(spark):
    rows = dedup.dedup_recall_eval(spark, SF_CORRECT).collect()
    assert rows
    n_truth, n_found = rows[0].n_truth, rows[0].n_found
    assert n_truth == len(rows)
    assert n_found == sum(r.found_by_lsh for r in rows)
    # banded LSH at (4 bands x 4 rows) is high-recall at tau=0.6
    assert rows[0].recall_bp >= 9000


def test_members_cap_bounds_mega_cluster(spark):
    """A planted degenerate cluster (one component holding 100 ids) must
    emit only the MEMBERS_CAP smallest members plus an overflow count —
    the collect_list is bounded no matter how large the cluster."""
    comp = spark.createDataFrame(
        [(i, 0) for i in range(100)] + [(1000 + i, 1000) for i in range(3)],
        "doc_id long, component_id long",
    )
    rows = {r.component_id: r for r in dedup._cap_members(comp).collect()}
    big = rows[0]
    assert big.cluster_size == 100
    assert big.n_member_overflow == 100 - dedup.MEMBERS_CAP
    members = [int(m) for m in big.members.split(",")]
    assert members == list(range(dedup.MEMBERS_CAP))
    small = rows[1000]
    assert small.n_member_overflow == 0
    assert small.members == "1000,1001,1002"


def test_shingle_stats_tradeoff(spark):
    """Larger shingles must be rarer: singleton share rises with n and
    candidate-pair mass collapses — the tradeoff the table exists to
    show.  total_grams must track the exact shingle count."""
    from iris_project_database_refresh_spark.operators import dedup as dd

    from .conftest import SF_CORRECT

    rows = {r.shingle_n: r for r in dd.dedup_shingle_stats(spark, SF_CORRECT).collect()}
    assert set(rows) == set(dd.SHINGLE_NS)
    assert rows[2].candidate_pair_mass > rows[5].candidate_pair_mass
    assert rows[2].singleton_bp < rows[5].singleton_bp
    # each +1 of n loses exactly one gram per doc with >= n tokens
    assert rows[2].total_grams > rows[3].total_grams > rows[4].total_grams


def test_b_bit_estimates_bracket_exact(spark):
    from iris_project_database_refresh_spark.operators.dedup import dedup_minhash_b_bit
    from .conftest import SF_CORRECT as sf

    rows = dedup_minhash_b_bit(spark, sf).collect()
    assert rows, "no candidate pairs"
    for r in rows:
        assert 0 <= r["est_b1_bp"] <= 10000 and 0 <= r["est_b2_bp"] <= 10000
        # the exact duplicates must read 10000 under every estimator
        if r["jaccard_exact_bp"] == 10000:
            assert r["est_full_bp"] == r["est_b1_bp"] == r["est_b2_bp"] == 10000
    # across LSH candidates (high-J by construction) the corrected b-bit
    # estimates track the full signature within signature noise
    import statistics

    diffs1 = [abs(r["est_b1_bp"] - r["est_full_bp"]) for r in rows]
    assert statistics.mean(diffs1) < 2000


def test_simhash_pair_set_identical_at_every_rung(spark):
    """Combinatorial banding is a pure candidate-volume device: every
    rung of SIMHASH_RUNGS must return the SAME pairs the brute-force
    oracle computes (the floor rung is the driver-verified path)."""
    from .conftest import SF_SMOKE

    sh = dedup._with_hashes(dedup._corpus(spark, SF_SMOKE), dedup._SH60_EXPR)
    base = {tuple(r) for r in dedup._simhash_pairs(sh, n_rows=None).collect()}
    assert base, "no simhash pairs at the smoke SF"
    # corpus sizes that force rungs (5,2) and (6,3)
    for n_force in (40_000, 50_000_000):
        rung = dedup.banding_rung(
            n_force, dedup.SIMHASH_RUNGS, dedup.SIMHASH_BITS, dedup.HAMMING_TAU
        )
        assert rung != dedup.SIMHASH_RUNGS[0]
        got = {tuple(r) for r in dedup._simhash_pairs(sh, n_rows=n_force).collect()}
        assert got == base, rung


def test_phash_pair_set_identical_at_every_rung(spark):
    from pyspark.sql import functions as F

    from iris_project_database_refresh_spark.operators import multimodal as mm

    from .conftest import SF_SMOKE

    media = dedup._corpus(spark, SF_SMOKE).select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    hashed = mm.phash_media(media).localCheckpoint(eager=False)

    def pairs(rung):
        bands = dedup._combo_bands(hashed, "phash", rung, mm.PH_BITS)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.media_id") < F.col("b.media_id")),
            )
            .select(
                F.col("a.media_id").alias("ia"),
                F.col("b.media_id").alias("ib"),
                F.col("a.phash").alias("ha"),
                F.col("b.phash").alias("hb"),
            )
            .dropDuplicates(["ia", "ib"])
        )
        return {
            tuple(r)
            for r in cand.where(F.bit_count(F.expr("ha ^ hb")) <= mm.PH_TAU)
            .select("ia", "ib")
            .collect()
        }

    base = pairs(mm.PH_RUNGS[0])
    assert base, "no phash pairs at the smoke SF"
    for rung in mm.PH_RUNGS[1:]:
        assert pairs(rung) == base, rung


def test_minhash_tables_dial_invariants(spark):
    """The table-count dial must be cumulative and converge to the
    production answer: candidates/verified monotone nondecreasing in
    n_tables, recall_bp == 10000 at L=BANDS, and the L=BANDS verified
    count equals the production dedup_minhash_lsh pair count (same
    banding, same tau)."""
    rows = sorted(
        dedup.dedup_minhash_tables(spark, SF_CORRECT).collect(),
        key=lambda r: r.n_tables,
    )
    assert [r.n_tables for r in rows] == list(range(1, dedup.BANDS + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_candidates >= prev.n_candidates
        assert cur.n_verified >= prev.n_verified
        assert cur.recall_bp >= prev.recall_bp
    assert rows[-1].recall_bp == 10000
    production = dedup.dedup_minhash_lsh(spark, SF_CORRECT).count()
    assert rows[-1].n_verified == production


def test_band_sweep_rejects_a_document_without_shingles(spark, tmp_path):
    """The sweep's counts rest on every document having a shingle; a
    document without one (a NULL text) fails the query, naming it,
    instead of silently skewing the candidate counts."""
    import pyspark.sql.functions as F

    from iris_project_database_refresh_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents").orderBy("doc_id").limit(20)
    # 4243 is a multiple of neither 5 nor 7, so the planted corpus holds no
    # copy of it: it is the one document without shingles
    bad = docs.limit(1).withColumn("doc_id", F.lit(4243).cast(docs.schema["doc_id"].dataType))
    bad = bad.withColumn("text", F.lit(None).cast("string"))
    docs.unionByName(bad).write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(Exception, match="document 4243 has no shingles"):
        dedup.dedup_band_sweep(spark, str(tmp_path)).collect()


@pytest.mark.parametrize("expr", ["_SH32_EXPR", "_SH60_EXPR"])
def test_blank_document_gets_the_zero_shingle(spark, expr):
    """A document of no tokens ('' or whitespace) hashes to the one
    shingle [0], as the DuckDB mirror gives it, instead of failing the
    query on an out-of-range element_at under ANSI mode."""
    import duckdb

    sql = getattr(dedup, expr.replace("_EXPR", "_SQL"))
    con = duckdb.connect()
    for text in ("", "  ", "one two"):
        corpus = spark.createDataFrame([(7, text)], "doc_id long, text string")
        got = [r.hashes for r in dedup._with_hashes(corpus, getattr(dedup, expr)).collect()]
        con.execute("CREATE OR REPLACE TABLE corpus AS SELECT 7::BIGINT AS doc_id, ?::VARCHAR AS text", [text])
        want = [r[1] for r in con.execute(f"WITH {dedup._hashes_cte(sql).strip()} SELECT * FROM sh").fetchall()]
        assert got == want
        if not text.strip():
            assert got == [[0]]
    con.close()
