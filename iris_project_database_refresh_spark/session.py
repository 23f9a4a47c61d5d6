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

Spark keeps its compiled generated classes in a Guava cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100), split
into four segments that each evict on their own (25 entries each at the
default). A refresh cycle uses about 78 generated classes, so in some
fresh sessions the hashes put more than 25 of them in one segment, and
every warm cycle then recompiles 16–28 classes (each about 20 ms, plus
the JIT work on the new classes). The session keeps 1000 entries, four
segments of 250, so a warm cycle compiles nothing.
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
        # A refresh cycle keeps about 78 generated classes in the codegen
        # cache. At the default 100 entries (four LRU segments of 25), 4 of 8
        # fresh sessions on the seed-1 refresh_long_docs input (4 cores)
        # overflowed one segment and recompiled 16-25 classes in every warm
        # cycle; forcing that eviction (maxEntries=60) cost 0.14-0.99 s of
        # CPU plus 0.1-1.4 s of JIT CPU a cycle. At 1000 (segments of 250) no
        # warm cycle of 8 sessions compiled a class.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
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
