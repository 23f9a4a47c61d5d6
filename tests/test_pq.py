from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

from iris_project_database_refresh_spark.operators import pq
from iris_project_database_refresh_spark.operators.embeddings import knn_brute_force

from .conftest import SF_CORRECT, assert_matches_oracle, job_group

SF_BENCH = os.path.join(os.path.dirname(SF_CORRECT), "sf0.1")  # the bench corpus, beside SF_CORRECT


@pytest.mark.parametrize("name", sorted(pq.QUERIES))
def test_matches_oracle(spark, oracle, name):
    assert_matches_oracle(pq.QUERIES[name](spark, SF_CORRECT), oracle, pq.ORACLES[name])


def test_pq_recall_vs_exact(spark):
    """ADC over a hash-derived (untrained) codebook is a weak quantizer,
    but it must still beat random chance by a wide margin: random top-10
    from ~500 vectors would overlap the exact top-10 by ~0.2 elements."""
    approx = pq.knn_pq(spark, SF_CORRECT).collect()
    exact = knn_brute_force(spark, SF_CORRECT).collect()
    by_q_a: dict[int, set] = {}
    by_q_e: dict[int, set] = {}
    for r in approx:
        by_q_a.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact:
        by_q_e.setdefault(r.query_id, set()).add(r.neighbor_id)
    overlaps = [len(by_q_a[q] & by_q_e[q]) for q in by_q_a if q in by_q_e]
    assert overlaps and sum(overlaps) / len(overlaps) >= 1.0


def test_pq_shape(spark):
    rows = pq.knn_pq(spark, SF_CORRECT).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(pq.PQ_QUERIES))
    for q, rs in per_q.items():
        assert len(rs) == pq.PQ_K
        rs.sort(key=lambda r: r.rank)
        # ADC scores are non-increasing in rank; no query returns itself
        scores = [r.adc_dot for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_recall_eval_shape_and_bounds(spark):
    rows = pq.ann_recall_eval(spark, SF_CORRECT).collect()
    assert {r.method for r in rows} == {"lsh", "ivf", "pq"}
    per = {}
    for r in rows:
        assert 0.0 <= r.recall <= 1.0
        assert r.n_hits == round(r.recall * 10)
        per.setdefault(r.method, []).append(r.recall)
    # every method covers all 5 queries; bucketed candidates never beat exact
    assert all(len(v) == 5 for v in per.values())
    # untrained deterministic indexes are weak quantizers, but each must
    # beat zero overall (random top-10 of ~500 would average ~0.02)
    for method, recalls in per.items():
        assert sum(recalls) > 0, method


def test_matryoshka_recall_bounds(spark):
    """One row per (query, prefix); hits bounded by K; recall in basis
    points consistent with hits."""
    rows = pq.matryoshka_recall(spark, SF_CORRECT).collect()
    assert len(rows) == pq.PQ_QUERIES * len(pq.MRL_PREFIXES)
    for r in rows:
        assert 0 <= r.hits <= pq.PQ_K
        assert r.recall_bp == r.hits * 10000 // pq.PQ_K


def test_persisted_ivf_index_serves_identically(spark, tmp_path, monkeypatch):
    """Index-as-artifact: build the partitioned IVF layout once, serve
    the standard query set from it — results must equal the in-query
    knn_ivf exactly, and on the Spark rerank path the cells scan must be
    partition-pruned to the probed cells (PartitionFilters on cell)."""
    from iris_project_database_refresh_spark.operators.advanced import knn_ivf
    from iris_project_database_refresh_spark.sinks import vector_index
    from iris_project_database_refresh_spark.sinks.vector_index import (
        build_ivf_index,
        query_ivf_index,
    )

    d = str(tmp_path / "ivf")
    manifest = build_ivf_index(spark, SF_CORRECT, d)
    assert sum(manifest["cell_rows"].values()) > 0
    served = query_ivf_index(spark, d, SF_CORRECT)
    want = sorted(tuple(r) for r in knn_ivf(spark, SF_CORRECT).collect())
    got = sorted(tuple(r) for r in served.collect())
    assert got == want
    # the search returns a DataFrame over its Arrow result; the cells scan
    # is in the plan that the Spark rerank builds and collects
    monkeypatch.setattr(vector_index, "DRIVER_SLICE_BYTES", 0)
    ranked, rank_on_spark = [], vector_index._rank_on_spark
    monkeypatch.setattr(vector_index, "_rank_on_spark", lambda *a: ranked.append(rank_on_spark(*a)) or ranked[-1])
    assert sorted(tuple(r) for r in query_ivf_index(spark, d, SF_CORRECT).collect()) == want
    plan = ranked[0]._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), f"cells scan not partition-pruned: {plan[:400]}"


def test_failed_manifest_commit_keeps_previous_manifest(spark, tmp_path, monkeypatch):
    """A rebuild whose manifest write fails leaves `manifest.json`
    byte-identical to the previous build's and no temporary beside it."""
    from iris_project_database_refresh_spark.sinks import vector_index

    d = str(tmp_path / "ivf")
    vector_index.build_ivf_index(spark, SF_CORRECT, d)
    before = open(os.path.join(d, "manifest.json"), "rb").read()
    monkeypatch.setattr(vector_index, "NPROBE", object())  # not JSON-serializable
    with pytest.raises(TypeError):
        vector_index.build_ivf_index(spark, SF_CORRECT, d)
    assert open(os.path.join(d, "manifest.json"), "rb").read() == before
    assert sorted(os.listdir(d)) == ["cells", "codebook", "manifest.json"]


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    from iris_project_database_refresh_spark.sinks.vector_index import build_ivf_index

    d = str(tmp_path_factory.mktemp("ivf_index"))
    build_ivf_index(spark, SF_CORRECT, d)
    return d


def _local_queries(spark, qids, vecs):
    """A (query_id, q) DataFrame held in the plan itself (an inline
    table), so collecting it starts no Spark job."""
    values = ", ".join(
        f"({int(i)}L, array({', '.join(f'{float(x)!r}D' for x in v)}))" for i, v in zip(qids, vecs)
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(query_id, q)")


def _corpus(sf_dir=SF_CORRECT):
    import numpy as np
    import pyarrow.parquet as papq

    t = papq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    return t["vec_id"].to_numpy(), np.array(t["embedding"].to_pylist(), dtype=np.float64)


def _ivf_numpy(ids, vecs, qids, qv):
    """The numpy reference of an IVF search over the corpus (ids, vecs):
    each corpus row's cell, and each query's top IVF_K by brute force over
    its NPROBE nearest cells, a query never its own neighbour, as
    {qid: (neighbour ids, unrounded cosines)}."""
    import numpy as np

    from iris_project_database_refresh_spark.operators.advanced import CENTROID_BASE, IVF_K, NCELLS, NPROBE

    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cell_ids = np.arange(CENTROID_BASE, CENTROID_BASE + NCELLS)
    cents = unit[np.searchsorted(ids, cell_ids)]
    cell_of = cell_ids[np.argmax(np.round(unit @ cents.T, 6), axis=1)]
    want = {}
    for qid, q in zip(qids, qv):
        qu = q / np.linalg.norm(q)
        probes = cell_ids[np.lexsort((cell_ids, -np.round(cents @ qu, 6)))[:NPROBE]]
        cand = np.flatnonzero(np.isin(cell_of, probes) & (ids != qid))
        cos = unit[cand] @ qu
        top = np.lexsort((ids[cand], -np.round(cos, 6)))[:IVF_K]
        want[int(qid)] = (ids[cand][top].tolist(), cos[top])
    return cell_of, want


def _assert_matches_numpy(rows, want):
    """Search rows hold `_ivf_numpy`'s neighbours in its ranks, with
    cosines within 1e-6."""
    import numpy as np

    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    assert sorted(got) == sorted(want)
    for qid, (nids, cos) in want.items():
        ranked = sorted(got[qid])
        assert [k for k, _, _ in ranked] == list(range(1, len(nids) + 1))
        assert [n for _, n, _ in ranked] == nids
        assert np.abs(np.array([c for _, _, c in ranked]) - cos).max() <= 1e-6


def test_search_ivf_index_matches_numpy_within_probes(spark, ivf_index):
    """Queries that are not corpus rows (seeded perturbations of corpus
    vectors) get the numpy brute force over each query's NPROBE nearest
    cells: the same neighbours in the same ranks, cosines within 1e-6.
    The manifest's per-cell counts equal the numpy cell assignment."""
    import json

    import numpy as np

    from iris_project_database_refresh_spark.sinks.vector_index import search_ivf_index

    ids, vecs = _corpus()
    rng = np.random.default_rng(11)
    qv = vecs[rng.choice(len(ids), size=6, replace=False)]
    qv = qv + rng.normal(scale=0.5 * vecs.std(), size=qv.shape)
    qids = np.arange(10_000, 10_000 + len(qv))
    cell_of, want = _ivf_numpy(ids, vecs, qids, qv)
    with open(os.path.join(ivf_index, "manifest.json")) as f:
        manifest = json.load(f)
    cells, n = np.unique(cell_of, return_counts=True)
    assert manifest["cell_rows"] == {str(c): int(k) for c, k in zip(cells, n)}

    _assert_matches_numpy(search_ivf_index(spark, ivf_index, _local_queries(spark, qids, qv)).collect(), want)
    assert search_ivf_index(spark, ivf_index, _local_queries(spark, qids, qv).limit(0)).collect() == []


def test_query_ivf_index_runs_at_most_five_jobs(spark, ivf_index, monkeypatch):
    """A search probes and reranks; it does not re-score the corpus
    against the codebook. On the driver path (the probed slice of this
    corpus is small) it starts no Spark job. On the Spark path its jobs
    are at most the probe broadcast, the rank shuffle and the result."""
    from iris_project_database_refresh_spark.sinks import vector_index
    from iris_project_database_refresh_spark.sinks.vector_index import query_ivf_index

    with job_group(spark, "ivf-query-jobs") as jobs:
        rows = query_ivf_index(spark, ivf_index, SF_CORRECT).collect()
    assert rows
    assert jobs == []
    monkeypatch.setattr(vector_index, "DRIVER_SLICE_BYTES", 0)
    with job_group(spark, "ivf-query-jobs-spark") as jobs:
        assert sorted(query_ivf_index(spark, ivf_index, SF_CORRECT).collect()) == sorted(rows)
    assert 0 < len(jobs) <= 5, jobs


@pytest.fixture(scope="module")
def ivf_index_sf01(spark, tmp_path_factory):
    from iris_project_database_refresh_spark.sinks.vector_index import build_ivf_index

    d = str(tmp_path_factory.mktemp("ivf_index_sf01"))
    build_ivf_index(spark, SF_BENCH, d)
    return d


@pytest.mark.parametrize("corpus", ["sf0.01", "sf0.1"])
def test_search_ivf_index_paths_return_identical_rows(spark, ivf_index, ivf_index_sf01, corpus, monkeypatch):
    """The driver rerank and the Spark rerank return identical (query_id,
    neighbor_id, rank, cosine) rows — the cosines bit for bit — for the
    standard query set and for seeded perturbed non-corpus queries; the
    cosines are within 1e-6 of numpy's."""
    import numpy as np

    from iris_project_database_refresh_spark.sinks import vector_index
    from iris_project_database_refresh_spark.sinks.vector_index import query_ivf_index, search_ivf_index

    sf_dir, index_dir = (SF_CORRECT, ivf_index) if corpus == "sf0.01" else (SF_BENCH, ivf_index_sf01)
    ids, vecs = _corpus(sf_dir)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rng = np.random.default_rng(23)
    query_sets = [None]
    for _ in range(2):
        qv = vecs[rng.choice(len(ids), size=8, replace=False)]
        query_sets.append(qv + rng.normal(scale=0.5 * vecs.std(), size=qv.shape))

    def search(qv):
        if qv is None:
            return query_ivf_index(spark, index_dir, sf_dir).collect()
        qids = np.arange(10_000, 10_000 + len(qv))
        return search_ivf_index(spark, index_dir, _local_queries(spark, qids, qv)).collect()

    for qv in query_sets:
        with job_group(spark, f"ivf-paths-driver-{corpus}") as jobs:
            on_driver = sorted(tuple(r) for r in search(qv))
        assert jobs == []
        with monkeypatch.context() as m, job_group(spark, f"ivf-paths-spark-{corpus}") as jobs:
            m.setattr(vector_index, "DRIVER_SLICE_BYTES", 0)
            on_spark = sorted(tuple(r) for r in search(qv))
        assert jobs
        assert on_driver and on_driver == on_spark
        for qid, nid, _, cos in on_driver:
            q = unit[np.searchsorted(ids, qid)] if qv is None else qv[qid - 10_000] / np.linalg.norm(qv[qid - 10_000])
            assert abs(cos - unit[np.searchsorted(ids, nid)] @ q) <= 1e-6


def test_driver_rerank_arithmetic_matches_spark(spark):
    """The driver's dot product and rounding equal Spark's `_dot_sql` and
    `round(x, 6)` bit for bit, on inputs where numpy's own sum and
    rounding differ from Spark's: products whose sum depends on the order
    of the additions, and values on a rounding tie or rounding to zero
    from below."""
    import numpy as np

    from iris_project_database_refresh_spark.operators.advanced import _dot_sql
    from iris_project_database_refresh_spark.sinks.vector_index import _fold_dot, _spark_round6

    def bits(x):
        return np.asarray(x, dtype=np.float64).view(np.int64).tolist()

    rng = np.random.default_rng(5)
    a = rng.normal(size=(20, 64)) * 10.0 ** rng.integers(-8, 8, size=(20, 64))
    b = rng.normal(size=(20, 64))
    pairs = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))], "i int, a array<double>, b array<double>"
    )
    dots = sorted(pairs.selectExpr("i", f"{_dot_sql('a', 'b')} AS d").collect())
    assert bits(_fold_dot(a, b)) == bits([r["d"] for r in dots])
    assert bits(_fold_dot(a, b)) != bits((a * b).sum(axis=-1))

    x = np.array([5e-7, -5e-7, 0.1234565, 2.5e-6, 1.0000005, -0.9999995, 0.3333335, -1e-9, 1e-9, 0.7071067811865476])
    values = ", ".join(f"({i}, {v!r}D)" for i, v in enumerate(x))
    rounded = sorted(spark.sql(f"SELECT i, round(x, 6) AS r FROM VALUES {values} AS t(i, x)").collect())
    assert bits(_spark_round6(x)) == bits([r["r"] for r in rounded])
    assert bits(_spark_round6(x)) != bits(np.round(x, 6))


def test_driver_rerank_checks_cells_against_manifest(spark, ivf_index, tmp_path, monkeypatch):
    """On the driver path a probed cell the manifest does not count is
    empty and is not read; a counted cell whose directory is missing, or
    whose rows differ from the manifest's count, raises a ValueError
    naming the cell."""
    import json
    import shutil

    import pyarrow.parquet as papq

    from iris_project_database_refresh_spark.sinks import vector_index
    from iris_project_database_refresh_spark.sinks.vector_index import query_ivf_index

    want = query_ivf_index(spark, ivf_index, SF_CORRECT).collect()
    with open(os.path.join(ivf_index, "manifest.json")) as f:
        cells = json.load(f)["cell_rows"]
    cell_of = {
        vid: c
        for c in cells
        for vid in papq.read_table(os.path.join(ivf_index, "cells", f"cell={c}"), columns=["vec_id"])["vec_id"].to_pylist()
    }
    c = cell_of[want[0]["neighbor_id"]]  # a cell that a standard query probes

    def damaged(name, edit):
        d = tmp_path / name
        shutil.copytree(ivf_index, d)
        m = json.loads((d / "manifest.json").read_text())
        edit(d, m["cell_rows"])
        (d / "manifest.json").write_text(json.dumps(m))
        return str(d)

    d = damaged("missing", lambda d, counts: shutil.rmtree(d / "cells" / f"cell={c}"))
    with pytest.raises(ValueError, match=rf"cell {c}: directory missing"):
        query_ivf_index(spark, d, SF_CORRECT)
    d = damaged("recount", lambda d, counts: counts.update({c: counts[c] + 1}))
    with pytest.raises(ValueError, match=rf"cell {c}: {cells[c]} rows read"):
        query_ivf_index(spark, d, SF_CORRECT)

    # an uncounted cell is empty: its directory is not even opened, and
    # the Spark path, which finds no such partition, returns the same rows
    d = damaged("uncounted", lambda d, counts: (counts.pop(c), shutil.rmtree(d / "cells" / f"cell={c}")))
    got = sorted(tuple(r) for r in query_ivf_index(spark, d, SF_CORRECT).collect())
    assert got and all(cell_of[nid] != c for _, nid, _, _ in got)
    monkeypatch.setattr(vector_index, "DRIVER_SLICE_BYTES", 0)
    assert got == sorted(tuple(r) for r in query_ivf_index(spark, d, SF_CORRECT).collect())


@contextmanager
def _index_reads(monkeypatch):
    """Yields a list that collects the path of every
    `pyarrow.parquet.read_table` call made from `sinks/vector_index`."""
    import pyarrow.parquet as papq

    from iris_project_database_refresh_spark.sinks import vector_index

    paths, read_table = [], papq.read_table

    def counted(source, *args, **kwargs):
        if sys._getframe(1).f_globals.get("__name__") == vector_index.__name__:
            paths.append(str(source))
        return read_table(source, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(papq, "read_table", counted)
        yield paths


def test_warm_search_reads_no_index_file_and_rebuild_is_served_fresh(spark, tmp_path, monkeypatch):
    """A second search of one index version reads no index file: of its
    pyarrow reads only the query set's remains. A rebuild into the same
    directory from other vectors, with the same per-cell counts, is served
    from the rebuilt cells (numpy brute force on the new vectors), never
    from the cells kept for the old version."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    from iris_project_database_refresh_spark.operators.advanced import CENTROID_BASE, IVF_QUERIES, NCELLS
    from iris_project_database_refresh_spark.sinks.vector_index import build_ivf_index, query_ivf_index

    d = str(tmp_path / "ivf")
    old_counts = build_ivf_index(spark, SF_CORRECT, d)["cell_rows"]
    before = query_ivf_index(spark, d, SF_CORRECT).collect()
    with _index_reads(monkeypatch) as paths:
        assert query_ivf_index(spark, d, SF_CORRECT).collect() == before
    assert paths == [os.path.join(SF_CORRECT, "embeddings.parquet")]

    # the vectors of each cell rotated among its non-codebook rows: the
    # same cells and counts, other neighbours
    ids, vecs = _corpus()
    cell_of, _ = _ivf_numpy(ids, vecs, [], [])
    vecs = vecs.astype(np.float32)
    for c in np.unique(cell_of):
        rows = np.flatnonzero((cell_of == c) & ((ids < CENTROID_BASE) | (ids >= CENTROID_BASE + NCELLS)))
        vecs[rows] = vecs[np.roll(rows, 1)]
    moved = tmp_path / "moved"
    moved.mkdir()
    emb = pa.array(vecs.tolist(), pa.list_(pa.float32()))
    papq.write_table(pa.table({"vec_id": ids, "embedding": emb}), moved / "embeddings.parquet")
    assert build_ivf_index(spark, str(moved), d)["cell_rows"] == old_counts
    after = query_ivf_index(spark, d, str(moved)).collect()
    assert sorted(after) != sorted(before)
    qids = ids[ids < IVF_QUERIES]
    _assert_matches_numpy(after, _ivf_numpy(ids, vecs.astype(np.float64), qids, vecs[ids < IVF_QUERIES])[1])


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_search_core_equals_dataframe_wrapper(spark, ivf_index, tmp_path, monkeypatch, path):
    """`query_ivf_index` (a float32 query set through the search core)
    returns the rows of `search_ivf_index` on the same set passed as an
    array<double> DataFrame, on both rerank paths. On both, a zero-norm
    query, a duplicate id or a wrong dimension raises before any Spark job
    and before any cell is read."""
    import shutil

    import numpy as np

    from iris_project_database_refresh_spark.operators.advanced import IVF_QUERIES
    from iris_project_database_refresh_spark.sinks import vector_index
    from iris_project_database_refresh_spark.sinks.vector_index import IvfIndex, query_ivf_index, search_ivf_index

    if path == "spark":
        monkeypatch.setattr(vector_index, "DRIVER_SLICE_BYTES", 0)
    ids, vecs = _corpus()
    qids, qv = ids[ids < IVF_QUERIES], vecs[ids < IVF_QUERIES]
    core = sorted(query_ivf_index(spark, ivf_index, SF_CORRECT).collect())
    assert core and core == sorted(search_ivf_index(spark, ivf_index, _local_queries(spark, qids, qv)).collect())

    fresh = tmp_path / "fresh"  # a new directory: its handle holds no cell yet
    shutil.copytree(ivf_index, fresh)
    index = IvfIndex.open(str(fresh))
    zero = qv.copy()
    zero[1] = 0.0
    bad = [
        (qids, zero, r"query.*\[1\]"),
        (np.array([2, 2, 3, 4, 5]), qv, "duplicate query ids"),
        (qids, qv[:, :-1], "the index holds"),
    ]
    for bad_ids, bad_qv, match in bad:
        with job_group(spark, f"ivf-core-bad-{path}") as jobs, _index_reads(monkeypatch) as paths:
            with pytest.raises(ValueError, match=match):
                index.search(spark, bad_ids, bad_qv)
        assert jobs == [] and paths == []


def test_search_ivf_index_rejects_zero_norm_vectors_on_driver(spark, ivf_index, tmp_path):
    """A zero-norm query vector or codebook row raises a ValueError that
    names its id, on the driver, before any Spark job runs; so does a
    query of the wrong dimension."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    from iris_project_database_refresh_spark.sinks.vector_index import search_ivf_index

    _, vecs = _corpus()
    qv = vecs[:2].copy()
    qv[1] = 0.0
    with job_group(spark, "ivf-zero-query") as jobs, pytest.raises(ValueError, match=r"query.*\[7\]"):
        search_ivf_index(spark, ivf_index, _local_queries(spark, [6, 7], qv))
    assert jobs == []
    with job_group(spark, "ivf-short-query") as jobs, pytest.raises(ValueError):
        search_ivf_index(spark, ivf_index, _local_queries(spark, [6, 7], vecs[:2, :-1]))
    assert jobs == []
    with job_group(spark, "ivf-duplicate-query") as jobs, pytest.raises(ValueError, match="duplicate query ids"):
        search_ivf_index(spark, ivf_index, _local_queries(spark, [6, 6], vecs[:2]))
    assert jobs == []

    bad = tmp_path / "bad_index"
    shutil.copytree(ivf_index, bad)
    book = papq.read_table(bad / "codebook")
    shutil.rmtree(bad / "codebook")
    (bad / "codebook").mkdir()
    cv = book.column("cv").to_pylist()
    cv[book.column("cell").to_pylist().index(105)] = [0.0] * len(cv[0])
    i = book.schema.get_field_index("cv")
    papq.write_table(book.set_column(i, "cv", pa.array(cv, book.schema.field(i).type)), bad / "codebook" / "part-0.parquet")
    with job_group(spark, "ivf-zero-codebook") as jobs, pytest.raises(ValueError, match=r"codebook.*\[105\]"):
        search_ivf_index(spark, str(bad), _local_queries(spark, [6], vecs[:1]))
    assert jobs == []


def test_ivf_pq_probed_cells_and_rank_shape(spark):
    """Every IVF-PQ neighbor must come from one of the query's NPROBE
    probed cells, and each query returns a complete 1..K rank list —
    the structural invariants of the composite index."""
    from pyspark.sql import functions as F

    from iris_project_database_refresh_spark.operators import advanced, pq
    from .conftest import SF_CORRECT

    out = pq.knn_ivf_pq(spark, SF_CORRECT)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(range(pq.PQ_QUERIES))
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, pq.IVFPQ_K + 1))
    # ADC approximates the true dot: the exact-cosine audit column must
    # be positively ordered w.r.t. adc for the top hit of each query
    top1 = {r.query_id: r for r in rows if r.rank == 1}
    assert all(r.cosine > 0 for r in top1.values())


def test_opq_allocation_balances_variance(spark):
    """Round-robin dealing must put 64/M dims in every subspace and
    keep per-subspace variance within a sane balance band (the point
    of the allocation); deal order md5s must be distinct."""
    from iris_project_database_refresh_spark.operators import pq
    from .conftest import SF_CORRECT

    rows = pq.embed_opq_dim_allocation(spark, SF_CORRECT).collect()
    assert len(rows) == pq.M
    assert all(r.n_dims == 64 // pq.M for r in rows)
    sums = [r.var_micro_sum for r in rows]
    assert max(sums) <= 2 * min(sums)  # dealt strata keep subspaces comparable
    assert len({r.dims_md5 for r in rows}) == pq.M


def test_refine_promotes_and_orders_exactly(spark):
    """The refine stage must (a) rank strictly by the exact score and
    (b) actually rescue neighbors from outside the approximate top-K —
    the property that justifies two-stage retrieval."""
    from iris_project_database_refresh_spark.operators.pq import knn_ivf_pq_refine

    rows = knn_ivf_pq_refine(spark, SF_CORRECT).collect()
    assert sum(r.promoted for r in rows) > 0
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        dots = [r.exact_dot for r in rs]
        assert dots == sorted(dots, reverse=True), q
        assert all(r.promoted == (1 if r.adc_rank > 10 else 0) for r in rs)


def test_hnsw_links_structure(spark):
    """HNSW construction invariants (Malkov & Yashunin 2016): per-layer
    degree bounds (2M at layer 0, M above), links only between
    same-layer members (neighbor level >= layer), ranks dense from 1,
    layer-0 rank-1 == the exact nearest neighbor (completed-index
    grain), and exactly one entry node — at the top layer, min vec_id."""
    from pyspark.sql import functions as F

    links = pq.hnsw_build_links(spark, SF_CORRECT)
    rows = links.collect()
    assert rows

    levels = {}  # vec_id -> max layer seen as a SOURCE (== its level)
    per = {}
    for r in rows:
        per.setdefault((r.lyr, r.vec_id), []).append(r)
        levels[r.vec_id] = max(levels.get(r.vec_id, 0), r.lyr)
    for (lyr, vid), rs in per.items():
        cap = 2 * pq.HNSW_M if lyr == 0 else pq.HNSW_M
        assert len(rs) <= cap, (lyr, vid, len(rs))
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        # neighbors are same-layer members: their own level >= this layer
        for r in rs:
            assert levels.get(r.neighbor_id, 0) >= lyr or lyr == 0, r

    # layer-0 rank-1 neighbor == exact nearest by (6dp cosine desc, id asc)
    emb = {r.vec_id: r.embedding for r in
           spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").collect()}
    import numpy as np

    ids = sorted(emb)
    mat = np.array([emb[i] for i in ids], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)
    for qi, vid in enumerate(ids[:25]):  # spot-check the first 25 nodes
        row = sims[qi].copy()
        cand = [(-row[ci], ids[ci]) for ci in range(len(ids)) if ids[ci] != vid]
        want = min(cand)[1]
        got = min((r for r in per[(0, vid)]), key=lambda r: r.rank).neighbor_id
        assert got == want, (vid, got, want)

    # exactly one entry node; its flagged rows sit on the global top layer
    entries = {r.vec_id for r in rows if r.is_entry == 1}
    assert len(entries) == 1
    (evid,) = entries
    top = max(r.lyr for r in rows)
    assert {r.lyr for r in rows if r.is_entry == 1} == {top}
    assert evid == min(v for v, l in levels.items() if l == top)


def test_hnsw_search_descent_semantics(spark):
    """Greedy-descent read invariants: K results per query ranked by
    (cosine desc, id asc); every result is a layer-0 neighbor of the
    landing node or the landing node itself; the entry node is the
    build's entry; and the descent finds the exact nearest neighbor
    for a majority of queries (greedy ef=1 recall sanity — on this
    corpus the small-world links make the walk reliable)."""
    from pyspark.sql import functions as F

    res = pq.hnsw_search_sim(spark, SF_CORRECT).collect()
    links = pq.hnsw_build_links(spark, SF_CORRECT).collect()

    entry_nodes = {r.vec_id for r in links if r.is_entry == 1}
    assert {r.entry_node for r in res} == entry_nodes

    per_q = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(pq.PQ_QUERIES))

    l0 = {}
    for r in links:
        if r.lyr == 0:
            l0.setdefault(r.vec_id, set()).add(r.neighbor_id)

    from iris_project_database_refresh_spark.operators.embeddings import knn_brute_force

    exact1 = {
        r.query_id: r.neighbor_id
        for r in knn_brute_force(spark, SF_CORRECT).collect()
        if r.rank == 1
    }
    hits = 0
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, pq.HNSW_SEARCH_K + 1))
        assert all(
            (rs[i].cosine, -rs[i].neighbor_id) >= (rs[i + 1].cosine, -rs[i + 1].neighbor_id)
            for i in range(len(rs) - 1)
        )
        final = rs[0].final_node
        # candidates were {landing} ∪ its layer-0 link list (the search
        # recomputes the same lists the build defines, modulo its own
        # quantization device — allow the landing node itself)
        for r in rs:
            assert r.neighbor_id == final or r.neighbor_id in l0.get(final, set()), (
                q, r.neighbor_id, final)
        if rs[0].neighbor_id == exact1[q]:
            hits += 1
    assert hits >= 3, f"greedy descent found the true NN for only {hits}/5 queries"


def test_hnsw_recall_bounds(spark):
    rows = pq.hnsw_recall_eval(spark, SF_CORRECT).collect()
    assert {r.query_id for r in rows} == set(range(pq.PQ_QUERIES))
    for r in rows:
        assert r.method == "hnsw_ef1"
        assert 0 <= r.n_hits <= pq.HNSW_SEARCH_K
        assert abs(r.recall - r.n_hits / pq.HNSW_SEARCH_K) < 1e-9
    # greedy ef=1 beats random chance by far (random overlap ~0.2/10)
    assert sum(r.n_hits for r in rows) / len(rows) >= 2.0


def test_hnsw_search_ef_beam(spark):
    """Beam-read invariants: K results per query ranked by (cosine desc,
    id asc); the ef=1 result set is dominated — every query's beam
    recall >= its ef=1 recall (the beam's candidate set is a superset
    of {landing} ∪ layer-0 links, re-ranked by the same key); and the
    via_expansion flag marks exactly the hits absent from that base
    set."""
    res = pq.hnsw_search_ef(spark, SF_CORRECT).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(pq.PQ_QUERIES))
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, pq.HNSW_SEARCH_K + 1))
        assert all(
            (rs[i].cosine, -rs[i].neighbor_id) >= (rs[i + 1].cosine, -rs[i + 1].neighbor_id)
            for i in range(len(rs) - 1)
        )
        assert all(r.via_expansion in (0, 1) for r in rs)

    from iris_project_database_refresh_spark.operators.embeddings import knn_brute_force

    exact = {}
    for r in knn_brute_force(spark, SF_CORRECT).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    sim_rows = pq.hnsw_search_sim(spark, SF_CORRECT).collect()
    ef1 = {}
    for r in sim_rows:
        ef1.setdefault(r.query_id, {})[r.neighbor_id] = r.cosine
    ef_hits = e1_hits = 0
    for q, rs in per_q.items():
        got = {r.neighbor_id for r in rs}
        ef_hits += len(got & exact[q])
        e1_hits += len(set(ef1[q]) & exact[q])
        # ef=1's candidates are a subset of the beam's, and both rank by
        # the same (cq, id) key, so anything ef=1 ranked into the top-K
        # that the beam dropped must rank below the beam's worst kept
        # row — displaced by strictly better expansion hits only
        kmin = min((r.cosine, -r.neighbor_id) for r in rs)
        for nid, cos_n in ef1[q].items():
            if nid not in got:
                assert (cos_n, -nid) <= kmin, (q, nid)
    assert ef_hits >= e1_hits, (ef_hits, e1_hits)


def test_hnsw_insert_plan_semantics(spark):
    """Insert-plan invariants: batch/master split honored (no batch id
    on the master side, every link's master level >= its layer), degree
    caps per layer, rank density, and the entry-promotion flag equals
    new_level > master max level (re-derived)."""
    rows = pq.hnsw_insert_plan(spark, SF_CORRECT).collect()
    assert rows
    batch_ids = {r.new_vec_id for r in rows}
    assert all(v % pq.HNSW_BATCH_MOD == 3 for v in batch_ids)
    assert all(r.master_id % pq.HNSW_BATCH_MOD != 3 for r in rows)

    import hashlib

    def level(vid: int) -> int:
        h = int(hashlib.md5(str(vid).encode()).hexdigest()[:8], 16)
        return sum(1 for k in range(1, pq.HNSW_LEVEL_CAP + 1) if h % (1 << k) == 0)

    m_max = max(
        level(r.vec_id)
        for r in spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
        .select("vec_id")
        .collect()
        if r.vec_id % pq.HNSW_BATCH_MOD != 3
    )
    per = {}
    for r in rows:
        per.setdefault((r.new_vec_id, r.lyr), []).append(r)
        assert level(r.master_id) >= r.lyr
        assert r.new_level == level(r.new_vec_id)
        assert r.promotes_entry == int(r.new_level > m_max)
        assert r.lyr <= r.new_level
    for (nid, lyr), rs in per.items():
        cap = 2 * pq.HNSW_M if lyr == 0 else pq.HNSW_M
        assert len(rs) <= cap
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))


def test_swapped_hnsw_build_links_matches_oracle(spark, tmp_path):
    """Above SIM_EXACT_MAX (the round-9 exact→ANN dispatch) the banded
    production paths of both engines must agree exactly — same corpus
    device as tests/test_embeddings.py's swapped suite."""
    import duckdb

    from .test_embeddings import _write_big_corpus

    _write_big_corpus(tmp_path, n=5000)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    try:
        assert_matches_oracle(
            pq.hnsw_build_links(spark, str(tmp_path)),
            con,
            pq.ORACLES["hnsw_build_links"],
        )
    finally:
        con.close()


def test_hnsw_descent_parallel_path(spark, tmp_path):
    """Above SIM_EXACT_MAX the descent takes the parallel branch
    (broadcast cursor + left join, no cartesian hint, no coalesce(1));
    the read must still produce a complete, well-formed top-K per
    query — the structural invariants of the small-path sibling."""
    from tests.test_embeddings import _write_big_corpus
    from iris_project_database_refresh_spark.operators.embeddings import (
        SIM_EXACT_MAX,
        _corpus_rows,
    )

    _write_big_corpus(tmp_path, n=SIM_EXACT_MAX + 64)
    assert _corpus_rows(spark, str(tmp_path)) > SIM_EXACT_MAX
    df = pq.hnsw_search_sim(spark, str(tmp_path))
    # the small path's intended CartesianProduct (CROSS_OK in
    # test_plan_hygiene) must NOT survive past the dispatch line
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = df.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(pq.PQ_QUERIES))
    entries = {r.entry_node for r in rows}
    assert len(entries) == 1
    for q, rs in per_q.items():
        assert sorted(x.rank for x in rs) == list(range(1, pq.HNSW_SEARCH_K + 1))
        cos_by_rank = [x.cosine for x in sorted(rs, key=lambda x: x.rank)]
        assert cos_by_rank == sorted(cos_by_rank, reverse=True)
        assert all(x.neighbor_id != q for x in rs)
        assert len({x.final_node for x in rs}) == 1


def test_hnsw_diverse_links_greedy_property(spark):
    """Re-derive Algorithm 4 in Python from the layer-0 candidate lists
    and the raw vectors: the operator's kept set must match the greedy
    exactly — order, membership, and the <= M cap — and every kept link
    must be closer to its node than to every earlier-kept link."""
    import math

    from iris_project_database_refresh_spark.sources.tables import load_table

    got = {}
    for r in pq.hnsw_diverse_links(spark, SF_CORRECT).collect():
        got.setdefault(r.vec_id, []).append(r)
    links0 = [
        r
        for r in pq.hnsw_build_links(spark, SF_CORRECT).collect()
        if r.lyr == 0
    ]
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_CORRECT, "embeddings").collect()
    }

    def cos6(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return round(d / n, 6)

    cands = {}
    for r in links0:
        cands.setdefault(r.vec_id, []).append(r)
    checked = 0
    for vid, rs in list(cands.items())[:50]:  # bounded re-derivation
        rs.sort(key=lambda r: r.rank)
        kept = []
        for r in rs:
            if len(kept) >= pq.HNSW_M:
                break
            if all(
                r.cosine > cos6(vecs[r.neighbor_id], vecs[k.neighbor_id])
                for k in kept
            ):
                kept.append(r)
        want = [(k.neighbor_id, k.rank) for k in kept]
        have = [
            (g.neighbor_id, g.simple_rank)
            for g in sorted(got.get(vid, []), key=lambda g: g.rank)
        ]
        assert have == want, vid
        checked += 1
    assert checked == 50


def test_matryoshka_funnel_bounds(spark):
    """Funnel recall can never exceed the shortlist's truth coverage
    (the re-rank only reorders the shortlist), the shortlist ceiling is
    bounded by K, and the cost ledger prices full-width work at R per
    query vs a corpus-wide prefix pass."""
    rows = pq.matryoshka_funnel_recall(spark, SF_CORRECT).collect()
    assert {r.query_id for r in rows} == set(range(pq.PQ_QUERIES))
    for r in rows:
        assert 0 <= r.funnel_hits <= r.truth_in_shortlist <= pq.PQ_K
        assert r.recall_bp == r.funnel_hits * 10000 // pq.PQ_K
        assert r.full_scores_needed == pq.FUNNEL_R
        assert r.prefix_scores_needed > r.full_scores_needed
    # far above the random floor (~0.1 hits/query from ~500 vectors);
    # 24/50 measured at sf0.01 on the committed corpus
    assert sum(r.funnel_hits for r in rows) >= 15


def test_ann_filtered_strategy_ordering(spark):
    """Strategy dominance must hold per query: pre-filter is exact
    (recall 10000), oversampling can only add allowed candidates so its
    recall >= post-filter's, and post-filter returns at most the
    allowed survivors of a K-fetch."""
    rows = pq.ann_filtered_search(spark, SF_CORRECT).collect()
    by = {}
    for r in rows:
        by[(r.query_id, r.strategy)] = r
    assert len(by) == 3 * pq.PQ_QUERIES
    for qid in range(pq.PQ_QUERIES):
        post = by[(qid, "post_filter")]
        over = by[(qid, "oversample")]
        pre = by[(qid, "pre_filter")]
        assert pre.recall_bp == 10000
        assert over.hits >= post.hits
        assert post.fetched == pq.PQ_K
        assert over.fetched == pq.FILT_OVERSAMPLE * pq.PQ_K
        assert pre.fetched > over.fetched  # subset-wide scan is the price
        assert post.returned <= pq.PQ_K and post.hits <= post.returned
