"""Refresh-and-serve benchmark for iris_project_database_refresh_spark.

    python3 perfbench/run.py --workload refresh_small_docs --seed 1 --seconds 10 --trace 0

Generates the workload's input from the seed, starts one Spark session
through the package's ``get_session``, warms up, then runs the workload's
closed loop (one client) for ``--seconds`` and checks every output. Lines
starting with ``metric`` report every named metric with its unit; the
last line is one JSON object with the metrics BENCHMARK.json declares:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import gen
from procstat import RssSampler
from spans import NullTracer, Tracer, descendants, layer_totals
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "1g"

LAYERS = (
    "pipeline.run_refresh",
    "catalog.delta",
    "catalog.merge",
    "catalog.validate",
    "chunking.sections",
    "chunking.chunks",
    "embeddings.embed",
    "pipeline.monitor_flush",
    "deployment.metadata",
    "vector_index.build",
    "vector_index.query",
    "jdbc.write",
)
FIELD_UNITS = {
    "self_s": "s",
    "driver_s": "s",
    "exec_s": "s",
    "input_rows": "count",
    "shuffle_mb": "MB",
    "tasks": "count",
    "jobs": "count",
    "rows": "count",
}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, loop_start: float, expect: dict, session_s: float, loop_overhead: float, loop_s: float):
    """Per-layer metrics from the traced run: each layer's per-operation
    totals (a refresh cycle, a search or a publish), median over the
    measured operations; the index build comes from set-up."""
    per_layer: dict[str, list[dict]] = {}
    cycles = []
    for rec in tracer.spans:
        if rec["parent"] is not None:
            continue
        measured = rec["start"] >= loop_start
        if not measured and rec["layer"] != "vector_index.build":
            continue
        totals = layer_totals(descendants(tracer.spans, rec))
        for layer, vals in totals.items():
            per_layer.setdefault(layer, []).append(vals)
        if measured and rec["layer"] in ("pipeline.run_refresh", "vector_index.query"):
            cycles.append((rec["end"] - rec["start"], totals))

    out = {}
    for layer in LAYERS:
        for field, unit in FIELD_UNITS.items():
            vals = [v[field] for v in per_layer.get(layer, [])]
            out[f"{layer}.{field}"] = (_median(vals), unit)

    def share(prefix):
        return _median([sum(v["self_s"] for k, v in t.items() if k.startswith(prefix)) / wall for wall, t in cycles])

    is_refresh = "tokens" in expect  # the document workloads
    chunk_exec = out["chunking.sections.exec_s"][0] + out["chunking.chunks.exec_s"][0]
    out["chunking.tokens_per_exec_s"] = (expect["tokens"] / chunk_exec if chunk_exec else 0.0, "tokens/s")
    out["sources.scan_amplification"] = (
        _median([sum(v["input_rows"] for v in t.values()) / expect["input_rows"] for _, t in cycles]),
        "ratio",
    )
    out["catalog.cycle_share"] = (share("catalog.") if is_refresh else 0.0, "fraction")
    out["chunking.cycle_share"] = (share("chunking.") if is_refresh else 0.0, "fraction")
    out["session.start_s"] = (session_s, "s")
    out["tracing.overhead_frac"] = (loop_overhead / loop_s, "fraction")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"), help="tiny: smoke-test input sizes")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import iris_project_database_refresh_spark  # noqa: F401
        from iris_project_database_refresh_spark.session import get_session
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # Everything the run writes stays under the checkout.
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # -Xms: the whole heap from the start, so resident memory does not
            # depend on when the collector chose to grow it.
            # -XX:-UseDynamicNumberOfCompilerThreads: JIT threads live as long
            # as the JVM, so procstat can leave their CPU time out.
            # -XX:-UsePerfData: no hsperfdata file under /tmp.
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads '
            f'-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}" pyspark-shell',
        }
    )
    os.chdir(work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        inp = os.path.join(work, "input")
        expect = gen.generate(args.workload, args.seed, inp, args.scale)

        t = time.perf_counter()
        spark = get_session("perfbench")
        session_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            tracer.install()
        wl = WORKLOADS[args.workload](inp, work, expect)
        setup_errors = wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t

        attempted = failed = 0
        errors = list(setup_errors)
        overhead0 = tracer.overhead_s
        loop_start = time.time()
        t0 = time.perf_counter()
        steps = 0
        while time.perf_counter() - t0 < args.seconds or steps < wl.MIN_ITERS:
            steps += 1
            try:
                for op_errors in wl.step(spark, tracer):
                    attempted += 1
                    failed += bool(op_errors)
                    errors += op_errors
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                attempted += 1
                failed += 1
                errors.append(f"{type(e).__name__}: {e}")
        loop_s = time.perf_counter() - t0
        peak_rss_mb = sampler.peak_mb(t0, t0 + loop_s)
        loop_overhead = tracer.overhead_s - overhead0
        errors += wl.finish(spark)
        report = wl.report()
        if args.trace:
            tracer.resolve(spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    for e in errors[:20]:
        print(f"error {e}", file=sys.stderr)
    report.update(
        {
            "iter_p50_ms": (statistics.median(wl.iters) * 1e3, "ms"),
            "iter_cpu_s": (statistics.median(wl.iter_cpu), "s"),
            "fail_frac": (failed / attempted if attempted else 1.0, "fraction"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    )
    samples = {k: [round(x, 3) for x in v] for k, v in {**wl.samples, "cpu": wl.iter_cpu}.items()}
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} samples {json.dumps(samples)} "
          f"attempted {attempted} failed {failed}")
    if args.trace:
        layers = layer_metrics(tracer, loop_start, expect, session_s, loop_overhead, loop_s)
        report.update(layers)
        keys = layers
    else:
        keys = ("iter_cpu_s", "write_amplification", "peak_rss_mb", "setup_s")
    for name, (value, unit) in report.items():
        print(f"metric {name} {value:.6g} {unit}")
    result = {
        "correct": not errors and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": report[k][0], "unit": report[k][1]} for k in keys},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
