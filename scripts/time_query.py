"""Time named queries through the noop sink (guide §1.4).

Usage: python scripts/time_query.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_TIME_REPEATS (default 3).

Prints one line per query: all run times plus best/median — compare
medians across code versions (local[32] is ±noisy run-to-run).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_TIME_REPEATS", "3"))


def main() -> int:
    names = sys.argv[1:]
    from iris_project_database_refresh_spark.plans.registry import QUERIES
    from iris_project_database_refresh_spark.session import get_session

    spark = get_session("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmups as bench.py so first-query numbers are steady-state
    QUERIES["q1_pricing_summary"](spark, SF).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    def _housekeep() -> None:
        # bench.py's untimed housekeeping: drop Python refs + force a
        # JVM GC so the ContextCleaner releases dead pinned
        # localCheckpoint blocks between runs — without it, later
        # queries read against a block manager full of dead RDDs and
        # the numbers drift (the round-8 pressure disease).
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    for name in names:
        runs = []
        for _ in range(REPEATS):
            _housekeep()
            spark.sparkContext.setJobDescription(f"time: {name}")
            t0 = time.perf_counter()
            QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: runs={[round(r, 2) for r in runs]} "
            f"best={min(runs):.3f} median={statistics.median(runs):.3f}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
