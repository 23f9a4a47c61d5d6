"""SparkSession factory tuned for the target workload.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE (with skew-join handling) on,
sensible shuffle partitioning, Arrow for the few Pandas-UDF paths.

Every parquet file Spark writes uses zstd pages (Spark's default level,
3) instead of snappy. A refresh writes the corpus text twice, as
`sections` and `chunks`, and those two outputs are nearly all of its
bytes; zstd packs that text, and an IVF index's vectors, much tighter
than snappy (the measured sizes are beside the setting). The driver's
one pyarrow writer (`plans/pipeline.StageMonitor.write`) asks for zstd
too. Readers need no setting: Spark and pyarrow decode either codec.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "iris-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and dynamic broadcast conversion — essential at 100 TB where static
        # partition counts are always wrong somewhere.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the Pandas-UDF paths (multimodal stubs, stateful streaming).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd pages for every parquet write (measured on the perfbench
        # inputs, 4 cores): `sections` and `chunks` shrink to 0.62 of their
        # snappy bytes, so a refresh_long_docs cycle writes 1.38 bytes per
        # input byte, not 2.19, and an IVF build 0.89, not 1.21.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type,
        # so read as long and convert in the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs all executor threads inside the driver JVM, so the
        # driver heap IS the cluster memory; 24g keeps the block manager
        # from thrashing when many queries' pinned (localCheckpoint) hash
        # arrays coexist in one long session (bench runs ~100 queries).
        # Frequent periodic GC lets the ContextCleaner release checkpoint
        # blocks whose DataFrames are no longer referenced.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        # Stage-progress \r spam on stdout breaks the bench harness's
        # single-JSON-line stdout contract; keep stdout clean.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
