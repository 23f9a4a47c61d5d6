from __future__ import annotations

import pytest

from iris_project_database_refresh_spark.operators import catalog

from .conftest import SF_CORRECT, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(catalog.QUERIES))
def test_matches_oracle(spark, oracle, name):
    assert_matches_oracle(catalog.QUERIES[name](spark, SF_CORRECT), oracle, catalog.ORACLES[name])


def test_delta_covers_all_actions(spark):
    acts = {
        r.action: r.n
        for r in catalog.catalog_delta(spark, SF_CORRECT)
        .groupBy("action")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(acts) == {"new", "updated", "deleted", "unchanged"}, acts
    assert all(v > 0 for v in acts.values())


def test_merge_has_unique_file_names(spark):
    import pyspark.sql.functions as F

    merged = catalog.catalog_merge(spark, SF_CORRECT)
    dups = merged.groupBy("file_name").count().where(F.col("count") > 1).count()
    assert dups == 0


def test_upsert_replaces_batch_rows(spark):
    rows = catalog.refresh_upsert(spark, SF_CORRECT).collect()
    by_ver = {}
    for r in rows:
        by_ver.setdefault(r.version, 0)
        by_ver[r.version] += 1
    assert by_ver[2] > 0 and by_ver[1] > 0
    assert all(r.version == 2 for r in rows if r.document_id % 3 == 0)


def test_entity_resolve_classifies_planted_snapshot(spark):
    rows = {r.name_b: r for r in catalog.entity_resolve(spark, SF_CORRECT).collect()}
    kinds = {}
    for r in rows.values():
        kinds[r.match_type] = kinds.get(r.match_type, 0) + 1
    # every planted class appears, and new files never get a match
    assert set(kinds) == {"exact", "fuzzy", "new"}, kinds
    assert all(r.best_match is None for r in rows.values() if r.match_type == "new")
    assert all(r.dist in (1, 2) for r in rows.values() if r.match_type == "fuzzy")


def test_pdf_merge_plan_order_and_offsets(spark):
    """Merge order is base -> B -> C inside each group; page offsets are
    the running sum of preceding members; totals are consistent; no
    quarantined (malformed) filename leaks through."""
    rows = catalog.pdf_merge_plan(spark, SF_CORRECT).collect()
    assert rows
    by_group = {}
    for r in rows:
        by_group.setdefault(r.merged_filename, []).append(r)
    assert any(len(g) >= 2 for g in by_group.values()), "no multi-part groups planted"
    prio = {"": 0, "B": 1, "C": 2}
    for g in by_group.values():
        g.sort(key=lambda r: r.merge_seq)
        off = 0
        for seq, r in enumerate(g, 1):
            assert r.merge_seq == seq
            assert r.page_offset == off
            off += r.n_pages
            assert r.n_parts == len(g)
            assert r.total_pages == sum(m.n_pages for m in g)
            assert "scan_" not in r.member_filename
        assert [prio[r.prefix] for r in g] == sorted(prio[r.prefix] for r in g)


def test_three_way_merge_classes_complete(spark):
    """All six diff3 classes must be populated and partition the keys."""
    from iris_project_database_refresh_spark.operators import catalog
    from iris_project_database_refresh_spark.sources.tables import load_table

    from .conftest import SF_CORRECT

    rows = {r.merge_class: r.n_keys for r in catalog.catalog_three_way_merge(spark, SF_CORRECT).collect()}
    assert set(rows) == {
        "unchanged", "take_local", "take_remote", "convergent", "both_deleted", "conflict"
    }
    assert sum(rows.values()) == load_table(spark, SF_CORRECT, "documents").count()


def test_dual_embedding_refresh_column_granular(spark):
    """Only the changed column re-embeds; every kept vector is still
    byte-identical to its (unchanged) text's embedding (stale == 0
    everywhere), and per-doc embed spend is exactly the changed-column
    count."""
    from iris_project_database_refresh_spark.operators.catalog import (
        catalog_dual_embedding_refresh,
    )

    rows = catalog_dual_embedding_refresh(spark, SF_CORRECT).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.usage_stale == 0 and r.desc_stale == 0
        want_u = "reembedded" if r.doc_id % 5 == 1 else "kept"
        want_d = "reembedded" if r.doc_id % 7 == 2 else "kept"
        assert r.usage_action == want_u and r.desc_action == want_d
        assert r.n_embed_calls == int(r.doc_id % 5 == 1) + int(r.doc_id % 7 == 2)
    # the cycle saved 2N - Σcalls embed calls vs a column-blind refresh
    assert sum(r.n_embed_calls for r in rows) < 2 * len(rows)


def _docs(spark):
    from iris_project_database_refresh_spark.sources.tables import load_table

    return load_table(spark, SF_CORRECT, "documents")


def test_merge_with_nothing_to_process_keeps_the_survivors(spark):
    """An empty process list (only deletions): no row is appended and
    every surviving row keeps its id."""
    import pyspark.sql.functions as F

    docs = _docs(spark)
    master = catalog._master(docs)
    delta = catalog.delta_from_documents(docs, master).where(F.col("needs_process") == 0)
    deleted = {r.file_name for r in delta.where(F.col("needs_delete") == 1).collect()}
    assert deleted
    merged = catalog.merge_from_delta(master, delta).collect()
    assert {r.row_status for r in merged} == {"kept"}
    assert {(r.id, r.file_name) for r in merged} == {
        (r.id, r.file_name) for r in master.collect() if r.file_name not in deleted
    }


def test_merge_into_an_empty_master_numbers_from_one(spark):
    """With no prior master every file is new, and the ids run 1, 2, …
    in file_name order."""
    docs = _docs(spark)
    master = catalog._master(docs).limit(0)
    merged = catalog.merge_from_delta(master, catalog.delta_from_documents(docs, master)).collect()
    assert {r.row_status for r in merged} == {"appended"}
    assert [r.file_name for r in sorted(merged, key=lambda r: r.id)] == sorted(r.file_name for r in merged)
    assert sorted(r.id for r in merged) == list(range(1, docs.count() + 1))
