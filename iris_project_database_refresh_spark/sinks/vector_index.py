"""Persisted IVF vector index: build once, serve probes from the codebook.

The operators in `operators/advanced.py` compute the IVF structure
in-query; a deployment builds it ONCE per refresh and serves many
queries from the artifact (what pgvector's ivfflat index is on disk —
`database-schema.sql:115` "Vector Search" — and stage_04's embeddings
feed). Layout:

    index_dir/
      codebook/            -- NCELLS centroid vectors (cell, cv)
      cells/cell=<k>/      -- vectors (vec_id, v) partitioned by nearest cell
      manifest.json        -- ncells, nprobe, per-cell row counts

Build: one narrow pass scores every vector against the codebook (one
broadcast row holding all centroids) and keeps the argmax cell, ties to
the lower cell, as `knn_ivf` does. The manifest's per-cell counts are
observed on the write of `cells/`, not recomputed.

Search: the codebook (NCELLS rows) is read and validated on the driver
and scored against the query vectors with `knn_ivf`'s own math
(`unit_rows_np`, then `np.round(q @ C.T, 6)`, ordered by ccos desc and
cell asc), so each query's NPROBE probes equal `knn_ivf`'s. Only the
probed cells are read, and each query is ranked against its own probed
cells alone. The rerank takes one of two paths, chosen from the size of
the probed slice: its rows (the manifest's `cell_rows`) times the
dimension times 8 bytes.

* Under `DRIVER_SLICE_BYTES` the driver reads the probed
  `cells/cell=<k>` directories with pyarrow and ranks them in numpy; the
  result is a DataFrame over an Arrow table, so the search starts no
  Spark job. A counted cell whose directory is missing, or whose rows
  differ from the manifest's count, raises a ValueError naming it.
* Otherwise Spark scans the probed cells — the `cell IN (...)` filter
  prunes them at planning time (PartitionFilters, asserted in tests) —
  and meets each query with its cells through a broadcast of (query,
  probed cell) rows built on the JVM side. This is the path for slices
  the driver cannot hold.

Both paths give `_cos`'s exact values, so they return identical rows.
The driver path replicates Spark's arithmetic rather than numpy's usual
one: a dot product is `_dot`'s sequential left fold from 0.0
(`np.cumsum(...)[..., -1]`, not the pairwise or BLAS sums of `@`), norms
are the square roots of that fold, and the cosine is rounded as Spark's
`round(x, 6)` rounds a double: HALF_UP on its decimal string, not
numpy's half-to-even on the binary value. Every Spark read uses the
schema the build wrote, so no read starts a schema-inference job.
"""

from __future__ import annotations

import json
import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.advanced import CENTROID_BASE, IVF_K, IVF_QUERIES, NCELLS, NPROBE, _as_double, _dot_sql
from ..sources.tables import load_table

CODEBOOK_SCHEMA = "cell bigint, cv array<double>"
CELLS_SCHEMA = "vec_id bigint, v array<double>, cell bigint"
RESULT_SCHEMA = "query_id bigint, neighbor_id bigint, rank bigint, cosine double"

# The driver holds a probed slice as a float64 matrix and, while ranking
# one query, two temporaries of up to the same size (the products and
# their running sum), so its peak is about three times the slice. At
# 32 MiB (4,000 rows of 1,000 dimensions) one query's fold takes about
# 70 ms on one core, while the Spark plan costs about 1 s in fixed job
# overhead however small the slice; above this size the work is better
# spread over executors than held in one process.
DRIVER_SLICE_BYTES = 32 << 20
_MICRO = Decimal("1e-6")


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cos_normed_sql(a: str, b: str, a_norm: str, b_norm: str) -> str:
    """`_cos` given both norms as columns: the same arithmetic, so the
    same rounded cosine, at one dot product per pair instead of three."""
    return f"round({_dot_sql(a, b)} / ({a_norm} * {b_norm}), 6)"


def _read_codebook(index_dir: str):
    """(cell ids, unit centroid matrix) sorted by cell, read and checked on
    the driver: a zero-norm centroid raises a ValueError naming its cell."""
    import numpy as np
    import pyarrow.parquet as pq

    from ..functions.vectors import unit_rows_np

    book = pq.read_table(os.path.join(index_dir, "codebook")).sort_by("cell")
    cells = book.column("cell").to_numpy()
    cv = book.column("cv").combine_chunks()
    cm = cv.flatten().to_numpy().reshape(len(cells), -1).astype(np.float64)
    return cells, unit_rows_np(cm, "codebook", ids=cells)


def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> dict:
    """Assign every vector to its nearest codebook cell and persist the
    partitioned layout + codebook + manifest. Returns the manifest."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    book_dir = os.path.join(index_dir, "codebook")
    emb.where(
        (F.col("vec_id") >= CENTROID_BASE) & (F.col("vec_id") < CENTROID_BASE + NCELLS)
    ).select(F.col("vec_id").alias("cell"), F.col("v").alias("cv")).write.mode(
        "overwrite"
    ).parquet(book_dir)
    cells, _ = _read_codebook(index_dir)

    book = spark.read.schema(CODEBOOK_SCHEMA).parquet(book_dir).selectExpr(
        f"collect_list(struct(cell, cv, {_norm_sql('cv')} AS cn)) AS book"
    )
    # argmax of (ccos, -cell): the highest cosine, ties to the lower cell
    best_cell = (
        "-array_max(transform(book, c -> named_struct("
        f"'ccos', {_cos_normed_sql('v', 'c.cv', 'vn', 'c.cn')}, 'neg_cell', -c.cell))).neg_cell"
    )
    assigned = (
        emb.selectExpr("vec_id", "v", f"{_norm_sql('v')} AS vn")
        .crossJoin(F.broadcast(book))
        .selectExpr("vec_id", "v", f"{best_cell} AS cell")
    )
    obs = Observation("ivf_cell_rows")
    (
        assigned.repartition("cell")
        .observe(obs, *[F.count_if(F.col("cell") == int(c)).alias(str(c)) for c in cells])
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(os.path.join(index_dir, "cells"))
    )
    counts = {c: n for c, n in obs.get.items() if n}
    manifest = {"ncells": NCELLS, "nprobe": NPROBE, "cell_rows": counts}
    with open(os.path.join(index_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def search_ivf_index(spark: SparkSession, index_dir: str, queries: DataFrame) -> DataFrame:
    """Top-IVF_K neighbours of each query vector from the persisted index.

    ``queries`` has columns ``query_id`` (bigint) and ``q`` (array of
    numbers, ranked as doubles). Query ids share the corpus id space: a
    query that is itself a corpus vector is not returned as its own
    neighbour. The query vectors are collected once to choose the
    probes; a small probed slice is then ranked on the driver, a large
    one by Spark (module docstring). Zero-norm vectors, a wrong dimension
    or duplicate query ids raise a ValueError before the index is
    scanned. Output: (query_id, neighbor_id, rank, cosine)."""
    import numpy as np

    from ..functions.vectors import unit_rows_np

    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    cells, cm = _read_codebook(index_dir)
    rows = queries.select("query_id", "q").collect()  # the query set: few rows
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    if len(np.unique(qids)) != len(qids):
        raise ValueError("duplicate query ids in the query set")
    # a query of the wrong dimension fails this reshape
    qm = np.array([r["q"] for r in rows], dtype=np.float64).reshape(len(rows), cm.shape[1])
    ccos = np.round(unit_rows_np(qm, "query", ids=qids) @ cm.T, 6)
    probes = {
        int(qid): cells[np.lexsort((cells, -row))[: manifest["nprobe"]]].tolist()
        for qid, row in zip(qids, ccos)
    }

    probed = sorted({c for cs in probes.values() for c in cs})
    counts = {c: manifest["cell_rows"].get(str(c), 0) for c in probed}
    if sum(counts.values()) * cm.shape[1] * 8 < DRIVER_SLICE_BYTES:
        return _rank_on_driver(spark, index_dir, qids, qm, probes, counts)
    return _rank_on_spark(spark, index_dir, queries, probes, probed)


def _fold_dot(a, b):
    """`_dot`'s arithmetic in numpy: a sequential left fold of the
    products over the last axis (0.0 + x is x, so the fold's zero drops)."""
    import numpy as np

    return np.cumsum(a * b, axis=-1)[..., -1]


def _spark_round6(x):
    """Spark's `round(x, 6)` on doubles: HALF_UP on the value's shortest
    decimal string (Java's `BigDecimal.valueOf`). `np.round` rounds half
    to even on the binary value and differs on ties. The `+ 0.0` turns
    -0.0 into 0.0, as `BigDecimal` has no negative zero."""
    import numpy as np

    return np.array(
        [float(Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP)) for v in x.tolist()], dtype=np.float64
    ) + 0.0


def _read_cells(index_dir: str, counts: dict, dim: int):
    """(vec_id, cell, vector matrix) of the probed cells, read with pyarrow.
    A cell the manifest does not count is empty and is not read; a counted
    cell that is missing or holds another number of rows raises."""
    import numpy as np
    import pyarrow.parquet as pq

    ids, cell_of, vecs = [], [], []
    for c, n in counts.items():
        if not n:
            continue
        path = os.path.join(index_dir, "cells", f"cell={c}")
        if not os.path.isdir(path):
            raise ValueError(f"index cell {c}: directory missing, manifest counts {n} rows")
        t = pq.read_table(path, columns=["vec_id", "v"])
        if t.num_rows != n:
            raise ValueError(f"index cell {c}: {t.num_rows} rows read, manifest counts {n}")
        ids.append(t.column("vec_id").to_numpy())
        cell_of.append(np.full(n, c, dtype=np.int64))
        vecs.append(t.column("v").combine_chunks().flatten().to_numpy().reshape(n, dim))
    if not ids:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty((0, dim))
    return np.concatenate(ids), np.concatenate(cell_of), np.concatenate(vecs)


def _rank_on_driver(spark, index_dir, qids, qm, probes, counts) -> DataFrame:
    """Rank each query against its probed cells in numpy, with `_cos`'s
    exact values and the Spark path's order (cosine desc, id asc)."""
    import numpy as np
    import pyarrow as pa

    vid, cell_of, vm = _read_cells(index_dir, counts, qm.shape[1])
    vn = np.sqrt(_fold_dot(vm, vm))
    parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
    for qid, q in zip(qids, qm):
        cand = np.flatnonzero(np.isin(cell_of, probes[int(qid)]) & (vid != qid))
        cos = _spark_round6(_fold_dot(vm[cand], q) / (np.sqrt(_fold_dot(q, q)) * vn[cand]))
        top = np.lexsort((vid[cand], -cos))[:IVF_K]
        parts.append((np.full(len(top), qid), vid[cand][top], np.arange(1, len(top) + 1, dtype=np.int64), cos[top]))
    cols = [np.concatenate(c) for c in zip(*parts)]
    return spark.createDataFrame(pa.table(cols, names=["query_id", "neighbor_id", "rank", "cosine"]), RESULT_SCHEMA)


def _rank_on_spark(spark, index_dir, queries, probes, probed) -> DataFrame:
    """Rank each query against its probed cells in Spark: a partition-pruned
    scan of the probed cells meets a broadcast of (query, probed cell)."""
    index = (
        spark.read.schema(CELLS_SCHEMA)
        .parquet(os.path.join(index_dir, "cells"))
        .where(F.col("cell").isin(probed))  # planning-time partition pruning
    )
    # each query's probed cells: a literal map, looked up per query row
    entries = ", ".join(f"{qid}L, array({', '.join(f'{c}L' for c in cs)})" for qid, cs in probes.items())
    probe_cells = f"element_at(map({entries}), query_id)" if probes else "cast(array() AS array<bigint>)"
    pairs = queries.selectExpr(
        "query_id", "CAST(q AS array<double>) AS q"
    ).selectExpr("query_id", "q", f"{_norm_sql('q')} AS qn", f"explode({probe_cells}) AS cell")
    cand = (
        index.selectExpr("vec_id", "v", "cell", f"{_norm_sql('v')} AS vn")
        .join(F.broadcast(pairs), "cell")
        .where("vec_id != query_id")
        .selectExpr(
            "query_id", "vec_id AS neighbor_id", f"{_cos_normed_sql('q', 'v', 'qn', 'vn')} AS cosine"
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= IVF_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "cosine")
    )


def query_ivf_index(spark: SparkSession, index_dir: str, sf_dir: str) -> DataFrame:
    """Serve the standard IVF query set (vec_id < IVF_QUERIES) from the
    persisted index; rows equal `knn_ivf`'s. The query set is read with
    pyarrow (the row filter pushed down) and handed over as a DataFrame
    over an Arrow table, so collecting it starts no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", IVF_QUERIES)],
    )
    queries = pa.table(
        {"query_id": t.column("vec_id"), "q": t.column("embedding").cast(pa.list_(pa.float64()))}
    )
    return search_ivf_index(spark, index_dir, spark.createDataFrame(queries))
