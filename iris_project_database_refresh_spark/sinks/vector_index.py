"""Persisted IVF vector index: build once, serve probes from an open handle.

The operators in `operators/advanced.py` compute the IVF structure
in-query; a deployment builds it ONCE per refresh and serves many
queries from the artifact (what pgvector's ivfflat index is on disk —
`database-schema.sql:115` "Vector Search" — and stage_04's embeddings
feed). Layout:

    index_dir/
      codebook/            -- NCELLS centroid vectors (cell, cv)
      cells/cell=<k>/      -- vectors (vec_id, v) partitioned by nearest cell
      manifest.json        -- build_id, ncells, nprobe, per-cell row counts

Build: one narrow pass scores every vector against the codebook (one
broadcast row holding all centroids) and keeps the argmax cell, ties to
the lower cell, as `knn_ivf` does. The manifest's per-cell counts are
observed on the write of `cells/`, not recomputed; every build writes a
fresh `build_id`. The manifest is committed last and whole through
`snapshots.commit_file`, so a search reads the previous manifest or the
new one, never part of one, and a build that fails before its commit
leaves the previous manifest byte-identical.

Handle: `IvfIndex.open(index_dir)` returns the open handle of the
directory's current index version. It is opened once and kept per
directory, and reused only while the bytes of `manifest.json` are
unchanged, so a rebuild is never served stale cells, even one with
identical counts (the `build_id` differs). A handle holds the parsed
manifest, the unit codebook, and the probed cells it has read: their
`vec_id`s, vectors and `_fold_dot` norms. A cell is checked against the
manifest's count when it is read from disk: a counted cell whose
directory is missing, or whose rows differ from the count, raises a
ValueError naming it; a cell the manifest does not count is empty and is
not read. The cells cached over all open handles are bounded by
`DRIVER_SLICE_BYTES`; a cell read beyond that bound serves its search
and is not kept.

Search: `IvfIndex.search` is the one search core. It takes query ids and
a query matrix and returns an Arrow table. It checks the queries
(duplicate ids, dimension, zero norms), then scores the unit codebook
against them with `knn_ivf`'s own math (`unit_rows_np`, then
`np.round(q @ C.T, 6)`, ordered by ccos desc and cell asc), so each
query's NPROBE probes equal `knn_ivf`'s. Each query is ranked against
its own probed cells alone. The rerank takes one of two paths, chosen
from the size of the probed slice: its rows (the manifest's
`cell_rows`) times the dimension times 8 bytes.

* Under `DRIVER_SLICE_BYTES` the driver ranks the probed cells in numpy
  (from the handle, or read with pyarrow), so the search starts no
  Spark job.
* Otherwise the query set becomes a DataFrame, Spark scans the probed
  cells — the `cell IN (...)` filter prunes them at planning time
  (PartitionFilters, asserted in tests) — and meets each query with its
  cells through a broadcast of (query, probed cell) rows built on the
  JVM side. This is the path for slices the driver cannot hold.

`search_ivf_index` (DataFrame in, DataFrame out) and `query_ivf_index`
(the standard query set, read with pyarrow) are thin wrappers over the
core. Each returns a DataFrame over the core's Arrow table; only the
Spark path builds a DataFrame of the queries.

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
import threading
import uuid
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..operators.advanced import CENTROID_BASE, IVF_K, IVF_QUERIES, NCELLS, NPROBE, _as_double, _dot_sql
from ..sources.tables import load_table
from .snapshots import commit_file

CODEBOOK_SCHEMA = "cell bigint, cv array<double>"
CELLS_SCHEMA = "vec_id bigint, v array<double>, cell bigint"
# built in Python, so creating a result DataFrame parses no DDL in the JVM
RESULT_SCHEMA = StructType(
    [StructField(c, LongType()) for c in ("query_id", "neighbor_id", "rank")] + [StructField("cosine", DoubleType())]
)

# The driver holds a probed slice as a float64 matrix and, while ranking
# one query, two temporaries of up to the same size (the products and
# their running sum), so its peak is about three times the slice. At
# 32 MiB (4,000 rows of 1,000 dimensions) one query's fold takes about
# 70 ms on one core, while the Spark plan costs about 1 s in fixed job
# overhead however small the slice; above this size the work is better
# spread over executors than held in one process. The same figure bounds
# the cells that open handles keep between searches.
DRIVER_SLICE_BYTES = 32 << 20
_MICRO = Decimal("1e-6")


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cos_normed_sql(a: str, b: str, a_norm: str, b_norm: str) -> str:
    """`_cos` given both norms as columns: the same arithmetic, so the
    same rounded cosine, at one dot product per pair instead of three."""
    return f"round({_dot_sql(a, b)} / ({a_norm} * {b_norm}), 6)"


def _matrix(lists, n: int):
    """An Arrow list<number> column of ``n`` rows as an (n, dim) float64
    matrix; rows of unequal length raise a ValueError."""
    import numpy as np
    import pyarrow.compute as pc

    lists = lists.combine_chunks()
    lengths = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
    if len(lengths) != n or (lengths != lengths[:1]).any():
        raise ValueError(f"expected {n} vectors of one length, got lengths {sorted(set(lengths.tolist()))}")
    dim = int(lengths[0]) if n else 0
    return lists.flatten().to_numpy().astype(np.float64, copy=False).reshape(n, dim)


def _read_codebook(index_dir: str):
    """(cell ids, unit centroid matrix) sorted by cell, read and checked on
    the driver: a zero-norm centroid raises a ValueError naming its cell."""
    import pyarrow.parquet as pq

    from ..functions.vectors import unit_rows_np

    book = pq.read_table(os.path.join(index_dir, "codebook")).sort_by("cell")
    cells = book.column("cell").to_numpy()
    return cells, unit_rows_np(_matrix(book.column("cv"), len(cells)), "codebook", ids=cells)


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
    manifest = {"build_id": uuid.uuid4().hex, "ncells": NCELLS, "nprobe": NPROBE, "cell_rows": counts}
    commit_file(
        os.path.join(index_dir, "manifest.json"),
        lambda tmp: Path(tmp).write_text(json.dumps(manifest, indent=1, sort_keys=True)),
    )
    return manifest


_OPEN: dict[str, IvfIndex] = {}  # the open handle of each index directory
_OPEN_LOCK = threading.Lock()


class IvfIndex:
    """An open version of a persisted IVF index (module docstring)."""

    def __init__(self, index_dir: str, manifest_bytes: bytes) -> None:
        self.index_dir = index_dir
        self.manifest_bytes = manifest_bytes
        manifest = json.loads(manifest_bytes)
        self.nprobe = manifest["nprobe"]
        self.cell_rows = {int(c): n for c, n in manifest["cell_rows"].items()}
        self.cells, self.codebook = _read_codebook(index_dir)
        self._cached: dict[int, tuple] = {}  # cell -> (vec_id, vectors, norms)

    @classmethod
    def open(cls, index_dir: str) -> IvfIndex:
        """The handle of the index version now in ``index_dir``: the kept
        one while the manifest's bytes are unchanged, else a fresh one."""
        index_dir = os.path.abspath(index_dir)
        with open(os.path.join(index_dir, "manifest.json"), "rb") as f:
            manifest_bytes = f.read()
        with _OPEN_LOCK:
            handle = _OPEN.get(index_dir)
        if handle is None or handle.manifest_bytes != manifest_bytes:
            handle = cls(index_dir, manifest_bytes)
            with _OPEN_LOCK:
                _OPEN[index_dir] = handle
        return handle

    def search(self, spark: SparkSession, qids, qm):
        """Top-IVF_K neighbours of each query as an Arrow table of
        (query_id, neighbor_id, rank, cosine). ``qids`` are int64 ids,
        ``qm`` their vectors, one row each. Duplicate ids, a wrong
        dimension or a zero-norm query raise a ValueError before any cell
        is read."""
        import numpy as np

        from ..functions.vectors import unit_rows_np

        qids = np.asarray(qids, dtype=np.int64)
        if len(np.unique(qids)) != len(qids):
            raise ValueError("duplicate query ids in the query set")
        dim = self.codebook.shape[1]
        qm = np.asarray(qm, dtype=np.float64)
        if len(qids) and qm.shape != (len(qids), dim):
            raise ValueError(f"query vectors of shape {qm.shape}, the index holds {dim}-dim vectors")
        qm = qm.reshape(len(qids), dim)
        ccos = np.round(unit_rows_np(qm, "query", ids=qids) @ self.codebook.T, 6)
        probes = [self.cells[np.lexsort((self.cells, -row))[: self.nprobe]].tolist() for row in ccos]
        probed = sorted({c for cs in probes for c in cs})
        if sum(self.cell_rows.get(c, 0) for c in probed) * dim * 8 < DRIVER_SLICE_BYTES:
            return self._rank_on_driver(qids, qm, probes, probed)
        queries = spark.createDataFrame(_query_table(qids, qm))
        return _rank_on_spark(spark, self.index_dir, queries, dict(zip(qids.tolist(), probes)), probed).toArrow()

    def _cell(self, c: int) -> tuple:
        """(vec_id, vectors, norms) of a counted cell: kept, or read with
        pyarrow, checked against the manifest's count, and kept while the
        cells of all open handles stay within DRIVER_SLICE_BYTES. A cell
        that does not fit first drops the cells of the other directories'
        handles, so the index being searched keeps its own."""
        import numpy as np
        import pyarrow.parquet as pq

        cell = self._cached.get(c)  # another thread may clear the dict: one lookup
        if cell is not None:
            return cell
        n = self.cell_rows[c]
        path = os.path.join(self.index_dir, "cells", f"cell={c}")
        if not os.path.isdir(path):
            raise ValueError(f"index cell {c}: directory missing, manifest counts {n} rows")
        t = pq.read_table(path, columns=["vec_id", "v"])
        if t.num_rows != n:
            raise ValueError(f"index cell {c}: {t.num_rows} rows read, manifest counts {n}")
        vm = _matrix(t.column("v"), n)
        if vm.shape[1] != self.codebook.shape[1]:
            raise ValueError(f"index cell {c}: {vm.shape[1]}-dim vectors, the codebook's are {self.codebook.shape[1]}")
        cell = (t.column("vec_id").to_numpy(), vm, np.sqrt(_fold_dot(vm, vm)))
        size = sum(a.nbytes for a in cell)
        with _OPEN_LOCK:
            if _OPEN.get(self.index_dir) is self:
                if _held_bytes() + size > DRIVER_SLICE_BYTES:
                    for h in _OPEN.values():
                        if h is not self:
                            h._cached.clear()
                if _held_bytes() + size <= DRIVER_SLICE_BYTES:
                    self._cached[c] = cell
        return cell

    def _rank_on_driver(self, qids, qm, probes, probed):
        """Rank each query against its probed cells in numpy, with `_cos`'s
        exact values and the Spark path's order (cosine desc, id asc)."""
        import numpy as np
        import pyarrow as pa

        held = {c: self._cell(c) for c in probed if self.cell_rows.get(c)}
        empty = (np.empty(0, np.int64), np.empty((0, qm.shape[1])), np.empty(0))
        parts = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
        for qid, q, cells in zip(qids, qm, probes):
            vid, vm, vn = (np.concatenate(a) for a in zip(empty, *(held[c] for c in cells if c in held)))
            keep = vid != qid
            vid, vm, vn = vid[keep], vm[keep], vn[keep]
            cos = _spark_round6(_fold_dot(vm, q) / (np.sqrt(_fold_dot(q, q)) * vn))
            top = np.lexsort((vid, -cos))[:IVF_K]
            parts.append((np.full(len(top), qid), vid[top], np.arange(1, len(top) + 1, dtype=np.int64), cos[top]))
        return pa.table([np.concatenate(c) for c in zip(*parts)], names=RESULT_SCHEMA.names)


def _held_bytes() -> int:
    """Bytes of the cells that the open handles keep (under _OPEN_LOCK)."""
    return sum(a.nbytes for h in _OPEN.values() for cell in h._cached.values() for a in cell)


def _query_table(qids, qm):
    """(query_id bigint, q array<double>) as an Arrow table."""
    import numpy as np
    import pyarrow as pa

    offsets = pa.array(np.arange(len(qids) + 1, dtype=np.int32) * qm.shape[1])
    return pa.table({"query_id": qids, "q": pa.ListArray.from_arrays(offsets, pa.array(qm.ravel()))})


def search_ivf_index(spark: SparkSession, index_dir: str, queries: DataFrame) -> DataFrame:
    """Top-IVF_K neighbours of each query vector from the persisted index.

    ``queries`` has columns ``query_id`` (bigint) and ``q`` (array of
    numbers, ranked as doubles). Query ids share the corpus id space: a
    query that is itself a corpus vector is not returned as its own
    neighbour. The query vectors are collected once and searched by
    `IvfIndex.search` (module docstring). Zero-norm vectors, a wrong
    dimension or duplicate query ids raise a ValueError before the index
    is scanned. Output: (query_id, neighbor_id, rank, cosine)."""
    import numpy as np

    rows = queries.select("query_id", "q").collect()  # the query set: few rows
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    qm = np.array([r["q"] for r in rows], dtype=np.float64)  # vectors of unequal length raise here
    return spark.createDataFrame(IvfIndex.open(index_dir).search(spark, qids, qm), RESULT_SCHEMA)


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
    pairs = queries.selectExpr("query_id", "q", f"{_norm_sql('q')} AS qn", f"explode({probe_cells}) AS cell")
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
    pyarrow (the row filter pushed down) and passed to `IvfIndex.search`
    as arrays; the result is a DataFrame over the Arrow table it returns,
    so collecting it starts no Spark job."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", IVF_QUERIES)],
    )
    qids, qm = t.column("vec_id").to_numpy(), _matrix(t.column("embedding"), t.num_rows)
    return spark.createDataFrame(IvfIndex.open(index_dir).search(spark, qids, qm), RESULT_SCHEMA)
