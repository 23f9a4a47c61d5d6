"""In-memory span tracer for the benchmark's traced run.

Spans are opened from the benchmark's own files, around the package's
public entry points (``install`` wraps them in place). Each span tags the
Spark jobs it starts with a job group of its own, so after the run the
status store gives exact per-span counters: jobs, tasks, executor run
time, records read, shuffle bytes, records written. (Stage input *bytes*
stay near zero for local parquet scans, whose buffered reads bypass the
filesystem counters, so input is counted in records.) Nothing is
resolved until ``resolve`` runs after the measured loop.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"

# StageMonitor stage name -> layer
STAGE_LAYERS = {
    "delta_detection": "catalog.delta",
    "catalog_merge": "catalog.merge",
    "validation": "catalog.validate",
    "section_processing": "chunking.sections",
    "content_chunking": "chunking.chunks",
    "embedding_generation": "embeddings.embed",
    "monitor_flush": "pipeline.monitor_flush",
}

FIELDS = ("self_s", "driver_s", "exec_s", "input_rows", "shuffle_mb", "tasks", "jobs", "rows")


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    overhead_s = 0.0

    @contextmanager
    def span(self, layer: str):
        yield {}


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def span(self, layer: str):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(GROUP_KEY, f"perfbench-{sid}")
        rec["start"] = time.time()
        self.overhead_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            parent = rec["parent"]
            self.sc.setLocalProperty(GROUP_KEY, None if parent is None else f"perfbench-{parent}")
            self.overhead_s += time.perf_counter() - t

    def wrap(self, owner, name: str, layer_of) -> None:
        """Replace ``owner.name`` with a traced wrapper; ``layer_of(*args)``
        names the layer of each call."""
        fn = getattr(owner, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer_of(*args)):
                return fn(*args, **kwargs)

        setattr(owner, name, traced)

    def install(self) -> None:
        """Wrap the refresh path's public entry points. The serving entry
        points are called by the benchmark itself, inside its own spans."""
        from iris_project_database_refresh_spark.operators import catalog, chunking, embeddings
        from iris_project_database_refresh_spark.plans import pipeline

        for owner, name, layer in (
            (catalog, "catalog_delta", "catalog.delta"),
            (catalog, "catalog_merge", "catalog.merge"),
            (catalog, "catalog_validate", "catalog.validate"),
            (chunking, "section_split", "chunking.sections"),
            (chunking, "chunk_documents", "chunking.chunks"),
            (embeddings, "embed_feature_hash", "embeddings.embed"),
            (pipeline, "generate_deployment_metadata", "deployment.metadata"),
            (pipeline, "write_deployment_metadata", "deployment.metadata"),
        ):
            self.wrap(owner, name, lambda *a, _layer=layer: _layer)
        self.wrap(pipeline.StageMonitor, "run", lambda _self, stage, *a: STAGE_LAYERS[stage])

    # --- after the run ---------------------------------------------------

    def resolve(self, spark, timeout_s: float = 30.0) -> None:
        """Attach status-store counters and self/driver time to every span."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        owned = []  # (job id, span)
        for rec in self.spans:
            rec.update({f: 0.0 for f in FIELDS if f != "rows"}, rows=rec.get("rows"), job_iv=[])
            for jid in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                owned.append((jid, rec))
        owned.sort(key=lambda p: p[0])

        deadline = time.time() + timeout_s
        jobs = {}
        for jid, _ in owned:
            while True:  # the listener bus may still be delivering the job's end
                job = store.job(jid)
                if job.completionTime().isDefined() or time.time() > deadline:
                    break
                time.sleep(0.05)
            jobs[jid] = job

        seen_stages: set[int] = set()
        written = {}
        for jid, rec in owned:
            job = jobs[jid]
            rec["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                rec["job_iv"].append(
                    (job.submissionTime().get().getTime() / 1e3, job.completionTime().get().getTime() / 1e3)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue  # a reused stage counts once, for the job that ran it
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never attempted
                    continue
                rec["tasks"] += st.numCompleteTasks()
                rec["exec_s"] += st.executorRunTime() / 1e3
                rec["input_rows"] += st.inputRecords()
                rec["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                written[rec["id"]] = written.get(rec["id"], 0) + st.outputRecords()

        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            own = _subtract([(rec["start"], rec["end"])], [(c["start"], c["end"]) for c in children.get(rec["id"], [])])
            rec["self_s"] = _length(own)
            rec["driver_s"] = _length(_subtract(own, rec["job_iv"]))
            if rec["rows"] is None:
                rec["rows"] = written.get(rec["id"], 0)


def _subtract(base, cuts):
    """Intervals of ``base`` not covered by any interval in ``cuts``."""
    out = list(base)
    for c0, c1 in cuts:
        nxt = []
        for b0, b1 in out:
            if c1 <= b0 or c0 >= b1:
                nxt.append((b0, b1))
                continue
            if c0 > b0:
                nxt.append((b0, c0))
            if c1 < b1:
                nxt.append((c1, b1))
        out = nxt
    return out


def _length(ivs) -> float:
    return sum(b - a for a, b in ivs)


def descendants(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span opened beneath it."""
    inside = {root["id"]}
    out = [root]
    for rec in spans[root["id"] + 1 :]:
        if rec["parent"] in inside:
            inside.add(rec["id"])
            out.append(rec)
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Sum each field per layer over ``spans``."""
    out: dict[str, dict[str, float]] = {}
    for rec in spans:
        acc = out.setdefault(rec["layer"], dict.fromkeys(FIELDS, 0.0))
        for f in FIELDS:
            acc[f] += rec[f]
    return out
