"""Streaming upsert sink: foreachBatch → staged delete+insert merge.

The reference uploads refresh batches with a staging-table upsert
(`semantic search/stage_06_database_upload.py:161`); the streaming
analogue applies the same key-replacement semantics to each micro-batch.
`foreachBatch` hands us each micro-batch as a normal DataFrame, so the
merge is `functions/distributed.replace_keys`, the anti-join ∪ batch
that `operators/catalog.refresh_upsert` also uses.

The demo target is a parquet directory (read → `replace_keys` →
staging copy → overwrite). The staging copy is the one full copy of
the merged table while the final overwrite replaces the target. Parquet can't delete in place, so the table is rewritten —
fine for a demo/test; a production deployment points the same merge at
a format with ACID row-level ops (Delta/Iceberg/JDBC via
sinks/jdbc.JdbcUpsertSink) and the foreachBatch body shrinks to a
MERGE INTO.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..functions.distributed import replace_keys


class ParquetUpsertTable:
    """Keyed parquet table with delete-then-insert merge semantics."""

    def __init__(self, spark: SparkSession, path: str, key: str) -> None:
        self.spark = spark
        self.path = path
        self.key = key

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def merge(self, batch: DataFrame) -> None:
        if batch.isEmpty():
            return
        merged = replace_keys(self.read(), batch, [self.key]) if self.exists() else batch
        # stage the rewrite next to the table, then swap — the parquet
        # analogue of the reference's staging-table commit
        staging = self.path + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        final = self.spark.read.parquet(staging)
        final.write.mode("overwrite").parquet(self.path)


def start_streaming_upsert(
    events: DataFrame,
    table: ParquetUpsertTable,
    *,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Aggregate the event stream per user and continuously upsert the
    per-user rollup into the keyed table (complete-mode rollup →
    key-replacement merge each batch)."""
    import pyspark.sql.functions as F

    rollup = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        table.merge(batch_df)

    writer = (
        rollup.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
