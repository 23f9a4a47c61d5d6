"""The benchmark's workloads: each is a closed loop with one client.

A workload has ``setup`` (the warm-up, timed into ``setup_s``), ``step``
(one loop iteration of timed operations) and ``finish`` (the final output
checks). Operations return a list of error strings; an operation with any
error, or one that raises, counts as failed.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from procstat import tree_cpu_s


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Refresh:
    """Repeated ``run_refresh`` cycles over one generated corpus."""

    WARMUP_CYCLES = 2
    MIN_ITERS = 1

    def __init__(self, inp: str, work: str, expect: dict) -> None:
        self.inp, self.out, self.expect = inp, os.path.join(work, "refresh_out"), expect
        self.samples: dict[str, list[float]] = {"refresh": []}
        self.iters: list[float] = []
        self.iter_cpu: list[float] = []
        self.written: list[int] = []

    def _cycle(self, spark, tracer) -> tuple[float, float, list[str]]:
        from iris_project_database_refresh_spark.plans.pipeline import run_refresh

        c, t = tree_cpu_s(), time.perf_counter()
        with tracer.span("pipeline.run_refresh"):
            counts = run_refresh(spark, self.inp, self.out)
        dt, cpu = time.perf_counter() - t, tree_cpu_s() - c
        errors = []
        want = self.expect["stage_counts"]
        if counts != want:
            errors.append(f"stage counts {counts} != expected {want}")
        manifests = glob.glob(os.path.join(self.out, "deployment_metadata_*.json"))
        if len(manifests) != 1:
            errors.append(f"expected one deployment manifest, found {len(manifests)}")
        else:
            with open(manifests[0]) as f:
                info = json.load(f)["file_info"]
            if info["stage_outputs"] != counts:
                errors.append("manifest stage_outputs differ from stage counts")
            if (info["catalog_records"], info["content_records"]) != (counts.get("master"), counts.get("chunks")):
                errors.append("manifest record counts differ from master/chunks counts")
        self.written.append(dir_bytes(self.out))
        for m in manifests:  # the manifest name carries a timestamp; keep one per cycle
            os.remove(m)
        return dt, cpu, errors

    def setup(self, spark, tracer) -> list[str]:
        # The first cycle runs cold; the second still burns a third more
        # CPU while the JIT compiles the planner, so both belong to set-up.
        return [e for _ in range(self.WARMUP_CYCLES) for e in self._cycle(spark, tracer)[2]]

    def step(self, spark, tracer):
        dt, cpu, errors = self._cycle(spark, tracer)
        self.samples["refresh"].append(dt)
        self.iters.append(dt)
        self.iter_cpu.append(cpu)
        yield errors

    def finish(self, spark) -> list[str]:
        """Planted-delta mix and per-source audit of the last cycle."""
        errors = []
        delta = spark.read.parquet(os.path.join(self.out, "delta"))
        got = {r["action"]: r["count"] for r in delta.groupBy("action").count().collect()}
        want = {k: v for k, v in self.expect["actions"].items() if v}
        if got != want:
            errors.append(f"delta actions {got} != expected {want}")
        val = spark.read.parquet(os.path.join(self.out, "validation")).collect()
        n_docs = self.expect["stage_counts"]["master"]
        if sum(r["n_records"] for r in val) != n_docs:
            errors.append("validation n_records do not sum to the corpus size")
        if sum(r["n_appended"] for r in val) != self.expect["actions"]["new"] + self.expect["actions"]["updated"]:
            errors.append("validation n_appended != new + updated")
        if any(r["n_dup_names"] or r["n_null_name"] or r["n_bad_size"] for r in val):
            errors.append("validation reports duplicate, null or bad-size rows")
        return errors

    def report(self) -> dict[str, tuple[float, str]]:
        refresh_s = statistics.median(self.samples["refresh"])
        return {
            "refresh_s": (refresh_s, "s"),
            "refresh_mb_per_s": (self.expect["text_bytes"] / 1e6 / refresh_s, "MB/s"),
            "write_amplification": (statistics.median(self.written) / self.expect["input_bytes"], "ratio"),
        }


class Serve:
    """IVF searches beside staged JDBC publishes on one session."""

    TABLE = "iris_semantic_search"
    DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    SEARCHES_PER_PUBLISH = 3
    WARMUP_ITERS = 2
    # An iteration's CPU time swings ~8% with where garbage collection
    # lands; three of them keep a run's median within a few percent.
    MIN_ITERS = 3

    def __init__(self, inp: str, work: str, expect: dict) -> None:
        self.inp, self.index, self.expect = inp, os.path.join(work, "ivf_index"), expect
        self.url = "jdbc:derby:memory:perfbench;create=true"
        self.samples: dict[str, list[float]] = {"search": [], "publish": []}
        self.iters: list[float] = []
        self.iter_cpu: list[float] = []
        self.recall: list[float] = []
        self.live = set(expect["seed_keys"])
        self.applied: list[int] = []  # batch ids in publish order
        vecs = expect["vectors"].astype(np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.index_build_s = 0.0

    def _rows(self, spark, path: str):
        from pyspark.sql import functions as F

        from iris_project_database_refresh_spark.sinks.csv_export import pgvector_literal

        return spark.read.parquet(path).select(
            "document_id", "chunk_number", "chunk_content", pgvector_literal(F.col("embedding")).alias("embedding")
        )

    def _search(self, spark, tracer) -> tuple[float, list[str]]:
        from iris_project_database_refresh_spark.sinks.vector_index import query_ivf_index

        t = time.perf_counter()
        with tracer.span("vector_index.query") as rec:
            rows = query_ivf_index(spark, self.index, self.inp).collect()
            rec["rows"] = len(rows)
        dt = time.perf_counter() - t
        errors, by_q = [], {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
            want = float(self.unit[r["query_id"]] @ self.unit[r["neighbor_id"]])
            if abs(r["cosine"] - want) > 1e-6 or r["neighbor_id"] == r["query_id"]:
                errors.append(f"q{r['query_id']} n{r['neighbor_id']}: cosine {r['cosine']} vs numpy {want:.7f}")
        if sorted(by_q) != list(range(5)):
            errors.append(f"results for queries {sorted(by_q)}, expected 0..4")
        recalls = []
        for q, got in by_q.items():
            if sorted(r["rank"] for r in got) != list(range(1, len(got) + 1)):
                errors.append(f"q{q}: ranks are not 1..{len(got)}")
            sims = self.unit @ self.unit[q]
            sims[q] = -np.inf
            exact = set(np.argsort(-sims, kind="stable")[:10].tolist())
            recalls.append(len(exact & {r["neighbor_id"] for r in got}) / 10)
        self.recall.append(float(np.mean(recalls)) if recalls else 0.0)
        return dt, errors[:5]

    def _sink(self):
        from iris_project_database_refresh_spark.sinks.jdbc import JdbcUpsertSink

        return JdbcUpsertSink(
            url=self.url, table=self.TABLE, key_columns=("document_id", "chunk_number"), properties=self.DERBY
        )

    def _publish(self, spark, tracer) -> tuple[float, list[str]]:
        b = len(self.applied) % self.expect["n_batches"]
        path = os.path.join(self.inp, "batches", f"b{b:03d}.parquet")
        t = time.perf_counter()
        batch = self._rows(spark, path)
        with tracer.span("jdbc.write") as rec:
            out = self._sink().write(batch)
            rec["rows"] = self.expect["batch_size"]
        dt = time.perf_counter() - t
        self.applied.append(b)
        keys = pq.read_table(path, columns=["document_id", "chunk_number"]).to_pydict()
        self.live.update(zip(keys["document_id"], keys["chunk_number"]))
        if out != {"table": self.TABLE, "rows": len(self.live)}:
            return dt, [f"verify payload {out}, expected {len(self.live)} rows"]
        return dt, []

    def setup(self, spark, tracer) -> list[str]:
        from iris_project_database_refresh_spark.sinks.vector_index import build_ivf_index

        t = time.perf_counter()
        with tracer.span("vector_index.build"):
            build_ivf_index(spark, self.inp, self.index)
        self.index_build_s = time.perf_counter() - t
        self._rows(spark, os.path.join(self.inp, "seed_rows.parquet")).write.mode("overwrite").options(
            **self.DERBY
        ).jdbc(self.url, self.TABLE)
        # Searches keep speeding up while the JIT compiles them: the first
        # two iterations belong to set-up.
        errors = [e for _ in range(self.WARMUP_ITERS) for op in self.step(spark, tracer) for e in op]
        for xs in (*self.samples.values(), self.iters, self.iter_cpu, self.recall):
            xs.clear()
        return errors

    def step(self, spark, tracer):
        c, t = tree_cpu_s(), time.perf_counter()
        for _ in range(self.SEARCHES_PER_PUBLISH):
            dt, errors = self._search(spark, tracer)
            self.samples["search"].append(dt)
            yield errors
        dt, errors = self._publish(spark, tracer)
        self.samples["publish"].append(dt)
        self.iters.append(time.perf_counter() - t)
        self.iter_cpu.append(tree_cpu_s() - c)
        yield errors

    def finish(self, spark) -> list[str]:
        """Read the published table back and compare it with the rows the
        seed and the applied batches should have left."""
        from pyspark.sql import DataFrame, Window
        from pyspark.sql import functions as F

        parts = [self._rows(spark, os.path.join(self.inp, "seed_rows.parquet")).withColumn("seq", F.lit(-1))]
        for seq, b in enumerate(self.applied):
            path = os.path.join(self.inp, "batches", f"b{b:03d}.parquet")
            parts.append(self._rows(spark, path).withColumn("seq", F.lit(seq)))
        union = functools.reduce(DataFrame.unionByName, parts)
        last = Window.partitionBy("document_id", "chunk_number").orderBy(F.desc("seq"))
        digest = [
            F.col("document_id").cast("long").alias("document_id"),
            F.col("chunk_number").cast("long").alias("chunk_number"),
            F.md5("chunk_content").alias("content_md5"),
            F.md5("embedding").alias("embedding_md5"),
        ]
        want = union.withColumn("r", F.row_number().over(last)).where("r = 1").select(*digest)
        got = spark.read.options(**self.DERBY).jdbc(self.url, self.TABLE).select(*digest)
        n_got = got.count()
        errors = []
        if n_got != len(self.live):
            errors.append(f"read-back has {n_got} rows, expected {len(self.live)}")
        if got.exceptAll(want).count() or want.exceptAll(got).count():
            errors.append("read-back rows differ from the expected upsert result")
        return errors

    def report(self) -> dict[str, tuple[float, str]]:
        publish_s = statistics.median(self.samples["publish"])
        return {
            "index_build_s": (self.index_build_s, "s"),
            "search_p50_ms": (statistics.median(self.samples["search"]) * 1e3, "ms"),
            "search_recall_at_10": (statistics.mean(self.recall), "fraction"),
            "publish_p50_ms": (publish_s * 1e3, "ms"),
            "publish_rows_per_s": (self.expect["batch_size"] / publish_s, "rows/s"),
            "write_amplification": (dir_bytes(self.index) / self.expect["input_bytes"], "ratio"),
        }


WORKLOADS = {
    "refresh_small_docs": Refresh,
    "refresh_long_docs": Refresh,
    "serve_and_publish": Serve,
}
