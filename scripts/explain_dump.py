"""Dump full ``.explain("formatted")`` output for named queries.

Usage: python scripts/explain_dump.py TAG name [name ...]

Writes ``plans/r11/<name>_<TAG>.txt`` (TAG is e.g. ``before`` /
``after``) — the optimization-round evidence convention: plan claims
in OPTIMIZATION_r11.md are checked against these files. Plans
are captured at sf0.01 (plan SHAPE is scale-invariant; AQE runtime
specializations are not captured either way because explain() prints
the initial plan).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(__file__), "..", "plans", "r11")


def main() -> int:
    tag, names = sys.argv[1], sys.argv[2:]
    from iris_project_database_refresh_spark.plans.registry import QUERIES
    from iris_project_database_refresh_spark.session import get_session

    spark = get_session("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF)
        full = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(full)
        n_nodes = sum(
            1 for line in full.splitlines() if line.lstrip().startswith(("*(", "+-", ":-"))
        )
        print(f"{name}: {len(full.splitlines())} lines, ~{n_nodes} plan nodes -> {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
