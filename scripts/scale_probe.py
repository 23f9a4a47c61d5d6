"""16x scale probe — the round-7 device that caught four real defects.

Builds (once) a 16x-inflated copy of the sf0.1 corpus under
``/tmp/sf_big16b`` — documents/events/embeddings/orders/lineitem grown
16x with shifted keys and per-copy variation, dimension tables copied —
then times each named query at sf0.1 and at 16x (best of 2 warmed runs
each) and prints the wall ratio. A 16x-data query whose wall grows
FASTER than the linear-masked band (~4-12x locally; fixed stage latency
hides some growth) is a quadratic suspect: inspect its candidate
generation (fixed bucket/cell counts), its payload width through pair
joins, and un-pinned multi-referenced composites.

Findings log lives in BASELINE.md (round-7 scale probe parts 1-5).

Usage: python scripts/scale_probe.py name [name ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf_big16b"
COPIES = 16


def build_corpus() -> None:
    import duckdb

    os.makedirs(DST, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    k = f"(SELECT unnest(range({COPIES})) AS k) k"
    jobs = {
        # near-copies with per-copy suffixes: dup-dense BY DESIGN — the
        # stress a dedup engine must survive, not a typical corpus
        "documents": f"""SELECT doc_id + k.k * 1000000 AS doc_id,
            CASE WHEN k.k = 0 THEN text ELSE text || ' copyvariant' || k.k END AS text,
            lang, source, n_chars FROM '{SRC}/documents.parquet', {k}""",
        "events": f"""SELECT event_id + k.k * 10000000 AS event_id,
            ts + to_seconds(k.k) AS ts, user_id + k.k * 1000000 AS user_id,
            event_type, value, props FROM '{SRC}/events.parquet', {k}""",
        "embeddings": f"""SELECT vec_id + k.k * 100000 AS vec_id,
            CASE WHEN k.k = 0 THEN embedding
                 ELSE list_concat(embedding[k.k+1:], embedding[:k.k]) END AS embedding,
            label FROM '{SRC}/embeddings.parquet', {k}""",
        "orders": f"""SELECT o_orderkey + k.k * 100000000 AS o_orderkey, o_custkey,
            o_orderstatus, o_totalprice,
            o_orderdate + to_days(CAST(k.k % 7 AS INTEGER)) AS o_orderdate,
            o_orderpriority FROM '{SRC}/orders.parquet', {k}""",
        "lineitem": f"""SELECT l_orderkey + k.k * 100000000 AS l_orderkey, l_partkey,
            l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
            l_tax, l_returnflag, l_linestatus,
            l_shipdate + to_days(CAST(k.k % 7 AS INTEGER)) AS l_shipdate
            FROM '{SRC}/lineitem.parquet', {k}""",
    }
    for t, q in jobs.items():
        out = f"{DST}/{t}.parquet"
        if not os.path.exists(out):
            duckdb.sql(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")


def main(names: list[str]) -> int:
    build_corpus()
    from iris_project_database_refresh_spark.plans.registry import QUERIES
    from iris_project_database_refresh_spark.session import get_session

    spark = get_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q1_pricing_summary"](spark, SRC).write.format("noop").mode("overwrite").save()
    bad = 0
    for name in names:
        if name not in QUERIES:
            print(f"{name}: UNKNOWN", flush=True)
            bad += 1
            continue
        walls = []
        for d in (SRC, DST):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, d).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            walls.append(best)
        print(
            f"{name}: sf0.1 {walls[0]:.2f}s -> {COPIES}x {walls[1]:.2f}s"
            f" ({walls[1] / walls[0]:.1f}x wall for {COPIES}x data)",
            flush=True,
        )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
