from __future__ import annotations

import pytest

from iris_project_database_refresh_spark.plans.registry import QUERIES

from .conftest import SF_CORRECT

# Queries whose semantics genuinely need an all-pairs product: the IVF
# assignment scores every vector against the (tiny, broadcast) codebook.
# The HNSW reads are allowed INTENDED CartesianProducts on the small
# path only (r10): below SIM_EXACT_MAX the descent joins the <=5-row
# cursor to the single-partition layer membership via
# shuffle_replicate_nl — one task, no broadcast job per hop; the
# >SIM_EXACT_MAX branch plans broadcast+left-join instead
# (test_hnsw_descent_parallel_path proves it), so nothing cartesian
# survives at scale.
CROSS_OK = {
    "knn_ivf",
    "knn_brute_force",
    "hnsw_search_sim",
    "hnsw_search_ef",
    "hnsw_recall_eval",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unintended_cartesian(spark, name):
    """No plan may contain a non-broadcast cartesian product — the
    failure mode that silently works at sf0.01 and melts at 100 TB."""
    plan = QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    if name in CROSS_OK:
        return
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "q6_revenue_change", "monitor_rollup", "token_count"]
)
def test_scan_prunes_columns(spark, name):
    """Scan-heavy queries must not read every column (ReadSchema check)."""
    import re

    plan = QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    # FileScan parquet [col#1,col#2,...] — the projected column list
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans, f"{name}: no FileScan in plan"
    # lineitem has 11 columns, events 6 — a pruned scan projects fewer
    # fields than the full table for each of these queries
    for s in scans:
        n_fields = len([f for f in s.split(",") if "#" in f])
        assert n_fields <= 7, f"{name}: scan appears unpruned ({n_fields} cols): {s[:160]}"


# Operators designed as pure per-row array expressions: their physical
# plans must contain NO Exchange (shuffle) and no Python workers — the
# whole point of keeping them in Catalyst is scan-rate execution.
NARROW_QUERIES = [
    "chunk_breakpoints",
    "chapter_summarize",
    "strip_page_tags",
    "force_split_sentences",
    "text_normalize",
    "readability_scores",
    "sft_pairs_build",
]


@pytest.mark.parametrize("name", NARROW_QUERIES)
def test_narrow_operators_have_no_shuffle(spark, name):
    plan = QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:400]}"
    assert "Python" not in plan and "InPandas" not in plan, f"{name} leaves the JVM"


# Fact-fact shuffles that must stay AQE-skew-splittable: these are the
# joins where one hot key (a mega-order, a dominant nation pair, a hot
# time bin) would otherwise pin a 100 TB run on one task. Broadcast
# would be wrong (both sides scale with the fact table), so the plan we
# want is a shuffle join under an AdaptiveSparkPlan with skew-join
# handling enabled — AQE then splits oversized partitions at runtime.
SKEW_JOIN_QUERIES = ["q21_waiting_suppliers", "nation_trade_matrix", "interval_overlap_join"]


@pytest.mark.parametrize("name", SKEW_JOIN_QUERIES)
def test_fact_fact_joins_are_aqe_skew_splittable(spark, name):
    """At sf0.01 the planner auto-broadcasts the tiny fact sides — the
    correct small-scale choice. What must hold for the 100× story is
    that the fact joins are not HINT-pinned to broadcast: with the
    auto-broadcast threshold disabled (statistics say "too big", the
    100 TB situation), the plan must degrade to a shuffle join under an
    AdaptiveSparkPlan with skew-join handling on — exactly the shape
    AQE's skew rule can split at runtime."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            QUERIES[name](spark, SF_CORRECT)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert plan.startswith("AdaptiveSparkPlan"), f"{name}: not adaptive:\n{plan[:200]}"
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    ), f"{name}: fact join appears hint-pinned to broadcast:\n{plan[:400]}"


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """The 100 TB semi-join-pushdown story, CI-pinned: when a fact-fact
    join has a selective filter on one side and the other side's scan
    is large, Spark must inject a runtime bloom filter (bloom_filter_agg
    on the filtered side, might_contain guarding the big scan) so the
    shuffle only carries rows that can survive the join. At sf0.01 the
    scans are below the 10 GB application-side default, so the test
    simulates the 100 TB condition by lowering that threshold (and
    disabling auto-broadcast, as AQE would for fact-sized sides)."""
    import pyspark.sql.functions as F

    from iris_project_database_refresh_spark.sources.tables import load_table

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    broadcast_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    scan_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, SF_CORRECT, "lineitem")
        urgent = load_table(spark, SF_CORRECT, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(urgent, li.l_orderkey == urgent.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast_thr)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            scan_thr,
        )
    assert "bloom_filter_agg" in plan, f"no runtime bloom built:\n{plan[:500]}"
    assert "might_contain" in plan, f"no bloom probe on the fact scan:\n{plan[:500]}"


def test_plans_md_covers_expensive_queries():
    """Every query costing >= 1 s in the committed sf0.1 bench must have
    a PLANS.md plan-audit entry — the repo rule that each expensive plan
    was read, not just timed (scripts/plan_audit.py --check is the same
    sweep as a CLI)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.missing_entries() == []


def test_plans_md_sniff_router_entry_is_fresh():
    """The multimodal_sniff_router PLANS.md entry must show the CURRENT
    union arity — one scan branch per registered sniff builder.  Round 5
    shipped two new kernels while the entry still said 13 branches; a
    stale plan tree is exactly what the plan-audit gate exists to
    prevent, so freshness is pinned here: the entry's plan tree must
    contain exactly len(_SNIFF_BUILDERS) parquet scans and say
    "ALL <n>" in its blurb."""
    import os
    import re

    from iris_project_database_refresh_spark.operators.multimodal import (
        _SNIFF_BUILDERS,
    )

    plans = open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md")).read()
    m = re.search(
        r"^## multimodal_sniff_router\n\n(?P<blurb>\*.*?\*)\n\n```\n(?P<tree>.*?)\n```",
        plans,
        re.S | re.M,
    )
    assert m, "PLANS.md has no multimodal_sniff_router entry"
    n = len(_SNIFF_BUILDERS)
    scans = len(re.findall(r"Scan parquet", m.group("tree")))
    assert scans == n, (
        f"stale sniff-router plan tree: {scans} scan branches in PLANS.md, "
        f"{n} registered builders — re-dump with scripts/plan_audit.py"
    )
    assert f"ALL {n} " in m.group("blurb"), (
        f"stale sniff-router blurb: expected 'ALL {n} ' in {m.group('blurb')[:120]}"
    )


def test_bench_refuses_on_plan_gaps():
    """bench.py must REFUSE (non-zero rc), not merely record, when a
    refresh crosses a query over the 1 s bar with no PLANS.md entry —
    round-6 verdict: detection without refusal left a red artifact
    sitting quietly in the tree three rounds running."""
    import importlib.util
    import inspect
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    # the sweep itself: a fabricated slow query with no PLANS entry is a gap
    gaps = bench._plan_gaps({"definitely_not_a_real_query": 2.5}, 0.1)
    assert gaps == ["definitely_not_a_real_query"]
    # covered queries and sub-second queries are not gaps
    assert bench._plan_gaps({"graph_hits": 6.9, "fastq": 0.2}, 0.1) == []
    # the sweep keys off the committed sf0.1 run only
    assert bench._plan_gaps({"definitely_not_a_real_query": 2.5}, 0.01) == []

    # the refuse path: main() must propagate gaps into its exit status
    src = inspect.getsource(bench.main)
    assert (
        "return 1 if gaps or repeat_fail else 0" in src
    ), "bench.main no longer refuses on plan_gaps / repeated regressions"


def test_bench_flag_level_has_absolute_delta_floor():
    """Round-9 gate rework (r8 verdict item 3 + ADVICE): the >2x ratio
    flag needs an absolute-delta floor so sub-second session-floor
    noise stops paging (24 false flags in the r8 refresh), and the >3x
    tier is the hard backstop — it fails the refresh when repeated in
    two consecutive refreshes (a genuine regression re-flags every
    refresh because standing only moves by manual curation; host
    contention rotates)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    fl = bench._flag_level

    # the r8 false-flag class: sub-second standing, sub-second or
    # small-delta contended reading — silent now
    assert fl(0.50, 0.16) == 0  # q6_revenue_change's r8 reading (4.96x!)
    assert fl(0.96, 0.30) == 0  # sec < 1.0
    assert fl(1.30, 0.60) == 0  # delta 0.70 <= floor
    # genuine movement still flags
    assert fl(4.633, 2.099) == 2  # unigram_prune_scores' r8 reading
    assert fl(2.875, 0.888) == 3  # q20's r8 contended reading — 3x tier
    assert fl(9.0, 2.0) == 3
    # standing-less / zero-standing rows never flag here (seeded first)
    assert fl(5.0, 0.0) == 0


def test_bench_hard_gates_repeated_3x_regressions():
    """The repeat rule itself: over_3x ∩ previous over_3x fails; a
    rotating one-off does not — asserted against main()'s source so a
    refactor can't silently drop the backstop."""
    import importlib.util
    import inspect
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    src = inspect.getsource(bench.main)
    assert "set(over3) & set(prev_over3)" in src
    assert '"regression_fail"' in src
    assert 'prev_over3 = _prev_rec.get("over_3x", [])' in src


# The 10 operators the round-6 verdict flagged as the single-task
# global-window family, all converted to functions/distributed
# two-pass devices in round 7. Pin the conversion: any SinglePartition
# exchange left in their plans must feed a HashAggregate/ObjectHash-
# Aggregate or Window over the tiny per-partition offsets table — never
# a Sort/Window over the entity-grain stream itself.
CONVERTED_GLOBAL_WINDOW_QUERIES = [
    "user_spend_quartiles",
    "customer_rfm",
    "customer_segment_migration",
    "customer_gini_lorenz",
    "part_abc_xyz_class",
    "supplier_topsis_rank",
    "supplier_pareto",
    "part_skyline_frontier",
    "part_knapsack_greedy",
    "quality_threshold_sweep",
]


@pytest.mark.parametrize("name", CONVERTED_GLOBAL_WINDOW_QUERIES)
def test_no_entity_grain_single_task_window(spark, name):
    plan = QUERIES[name](spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # what flows INTO this exchange (the next plan line down) must be
        # an aggregate — the bounded per-pid offsets job or a global agg —
        # not a corpus-grain Sort/Window/Scan
        below = lines[i + 1] if i + 1 < len(lines) else ""
        assert "HashAggregate" in below or "TakeOrderedAndProject" in below, (
            f"{name}: SinglePartition exchange over non-aggregate input:\n"
            + "\n".join(lines[max(0, i - 2) : i + 3])
        )


def test_baseline_standing_covers_registry():
    """BASELINE_STANDING.json is the ONE machine-readable standing
    value per query (r7 verdict item 3): every registered query has a
    positive standing row with a provenance ref."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "BASELINE_STANDING.json")
    std = json.load(open(path))["queries"]
    missing = sorted(set(QUERIES) - set(std))
    assert not missing, f"queries with no standing baseline row: {missing}"
    for name, ent in std.items():
        assert ent["standing"] > 0 and ent.get("ref"), name


def test_baseline_standing_matches_generator():
    """The committed artifact must equal what scripts/baseline_standing.py
    derives from BASELINE.md (narrated rows; bench-auto-seeded rows are
    exempt until BASELINE.md curates them) — so a BASELINE.md edit that
    isn't regenerated, or a hand-edit of the JSON, fails here."""
    import importlib.util
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    spec = importlib.util.spec_from_file_location(
        "baseline_standing", os.path.join(root, "scripts", "baseline_standing.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    derived = mod.parse()
    committed = json.load(open(os.path.join(root, "BASELINE_STANDING.json")))["queries"]
    for name, ent in committed.items():
        if ent.get("ref", "").startswith("auto"):
            continue
        assert name in derived, f"{name} committed but not derivable from BASELINE.md"
        assert derived[name]["standing"] == ent["standing"], (
            name,
            derived[name]["standing"],
            ent["standing"],
        )
