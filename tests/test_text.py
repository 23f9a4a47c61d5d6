from __future__ import annotations

import re

import pytest

from iris_project_database_refresh_spark.operators import chunking, textqc

from .conftest import SF_CORRECT, assert_matches_oracle

ALL = {**textqc.QUERIES, **chunking.QUERIES}
ORACLES = {**textqc.ORACLES, **chunking.ORACLES}


@pytest.mark.parametrize("name", sorted(ALL))
def test_matches_oracle(spark, oracle, name):
    assert_matches_oracle(ALL[name](spark, SF_CORRECT), oracle, ORACLES[name])


def test_chunks_cover_all_tokens(spark):
    """Property: chunk token counts per doc sum to the doc token count."""
    import pyspark.sql.functions as F

    from iris_project_database_refresh_spark.functions.text import tokens
    from iris_project_database_refresh_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    )
    got = (
        chunking.chunk_documents(spark, SF_CORRECT)
        .groupBy("doc_id")
        .agg(F.sum("chunk_tokens").alias("n_chunked"))
        .join(docs, "doc_id")
        .where(F.col("n") != F.col("n_chunked"))
        .count()
    )
    assert got == 0


def test_chunking_has_no_shuffle(spark):
    plan = chunking.chunk_documents(spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("op", [chunking.section_split, chunking.chunk_documents])
def test_chunking_tokenises_text_once(spark, op):
    """The tokens are projected as a column before the window lambda;
    if the optimizer inlined the tokeniser back into the lambda, every
    window would re-split the whole document."""
    plan = op(spark, SF_CORRECT)._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"split\(text#", plan)) == 1, plan


def test_lang_confusion_consistency(spark):
    from iris_project_database_refresh_spark.operators.textqc import (
        lang_confusion,
        lang_id,
    )

    cells = lang_confusion(spark, SF_CORRECT).collect()
    preds = lang_id(spark, SF_CORRECT).collect()
    assert sum(r.n for r in cells) == len(preds)
    # diagonal mass equals lang_id's correct count; row shares sum to 1
    diag = sum(r.n for r in cells if r.is_diagonal)
    assert diag == sum(r.is_correct for r in preds)
    rows = {}
    for r in cells:
        rows.setdefault(r.label_lang, 0.0)
        rows[r.label_lang] += r.row_share
    assert all(abs(s - 1.0) < 1e-4 for s in rows.values())


def test_quality_sweep_monotone(spark):
    """Raising the bar never keeps more: docs/tokens kept are
    non-increasing in the threshold, and bp columns are consistent."""
    from iris_project_database_refresh_spark.operators import textqc

    from .conftest import SF_CORRECT

    rows = sorted(
        textqc.quality_threshold_sweep(spark, SF_CORRECT).collect(),
        key=lambda r: r.thr_e4,
    )
    for a, b in zip(rows, rows[1:]):
        if b.thr_e4 > a.thr_e4:
            assert b.docs_kept <= a.docs_kept
            assert b.tokens_kept <= a.tokens_kept
    for r in rows:
        assert 0 <= r.docs_kept_bp <= 10000 and 0 <= r.tokens_kept_bp <= 10000


def test_code_detect_perfect_separation(spark):
    """The planted code-ification must be perfectly separable: per
    source, detected == planted and zero false positives."""
    from iris_project_database_refresh_spark.operators import textqc

    from .conftest import SF_CORRECT

    rows = textqc.text_code_detect(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r.planted_code > 0
        assert r.detected_code == r.planted_code
        assert r.true_pos == r.planted_code and r.false_pos == 0


def test_heldout_gap_nonnegative(spark):
    """Held-out NLL should not beat training NLL (the gap is the
    overfitting measure), and OOV exists on the held-out half."""
    from iris_project_database_refresh_spark.operators import textqc

    from .conftest import SF_CORRECT

    rows = textqc.quality_heldout_ppl(spark, SF_CORRECT).collect()
    assert len(rows) == 20
    assert sum(r.overfit_gap_e4 for r in rows) > 0
    for r in rows:
        assert r.train_tokens > 0 and r.eval_tokens > 0
        assert 0 <= r.eval_oov_bp <= 10000


def test_mattr_short_doc_falls_back_to_ttr(spark, tmp_path):
    """Docs with W-S+1 .. W-1 tokens (14..24 at W=25, S=12) must take
    the n_windows=0 plain-TTR branch: the truncating-div form claimed
    one short window for them and deflated mattr_bp (a fully-diverse
    14-token doc scored 5600 bp instead of its TTR 10000)."""
    fixtures = [
        (1, " ".join(f"w{i}" for i in range(14))),   # 14 distinct tokens
        (2, " ".join(f"w{i}" for i in range(24))),   # 24 distinct tokens
        (3, " ".join(f"w{i}" for i in range(25))),   # exactly one window
        (4, "same " * 20),                            # 20 repeats -> TTR 500
    ]
    spark.createDataFrame(fixtures, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    from iris_project_database_refresh_spark.operators import textqc

    got = {
        r.doc_id: r
        for r in textqc.text_mattr_diversity(spark, str(tmp_path)).collect()
    }
    assert got[1].n_windows == 0 and got[1].mattr_bp == got[1].ttr_bp == 10000
    assert got[2].n_windows == 0 and got[2].mattr_bp == got[2].ttr_bp == 10000
    assert got[3].n_windows == 1 and got[3].mattr_bp == 10000
    assert got[4].n_windows == 0 and got[4].mattr_bp == got[4].ttr_bp == 500
