"""JDBC staged-upsert sink.

Reference parity: `semantic search/stage_06_database_upload.py:161`
upload_csv_with_staging — (1) write batch to a staging table, (2)
DELETE target rows whose key appears in staging, (3) INSERT … SELECT
from staging, (4) verify counts — all merge statements in ONE
transaction with commit/rollback (stage_06 wraps the merge in a
single psycopg2 transaction); and `:529` clear_entire_table for
full-refresh mode.

Spark-first shape: the batch DataFrame is written with the built-in
JDBC writer (parallel partitioned INSERTs into the staging table);
only the tiny DELETE/INSERT-SELECT/count statements run through a
single driver-side connection, exactly like the reference's psycopg2
control flow. At 100 TB the heavy lifting (shuffling/serializing
rows) stays on executors; the merge statements move no rows through
the driver.

Executed end-to-end in tests against in-process Derby (the JDBC
driver Spark ships for its Hive metastore) — no server needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class JdbcUpsertSink:
    url: str
    table: str
    key_columns: tuple[str, ...]
    properties: dict = field(default_factory=dict)
    staging_table: str | None = None

    def __post_init__(self) -> None:
        if not self.key_columns:
            raise ValueError("key_columns must be non-empty")
        if self.staging_table is None:
            self.staging_table = f"{self.table}_staging"

    # --- SQL the control connection runs (unit-testable without a DB) ---
    # Column names are double-quoted, table names are not: Spark's JDBC
    # writer passes the table name through verbatim but quotes every
    # column (case-exact) in CREATE TABLE, so the merge SQL must match
    # that convention or case-folding dialects (Derby uppercases,
    # PostgreSQL lowercases) miss the staging columns.

    def delete_sql(self) -> str:
        # EXISTS instead of multi-column IN: identical semantics on
        # PostgreSQL, and portable to engines without row-value IN
        # (Derby among them).
        on = " AND ".join(
            f's."{k}" = {self.table}."{k}"' for k in self.key_columns
        )
        return (
            f"DELETE FROM {self.table} WHERE EXISTS "
            f"(SELECT 1 FROM {self.staging_table} s WHERE {on})"
        )

    def insert_sql(self, columns: list[str]) -> str:
        cols = ", ".join(f'"{c}"' for c in columns)
        return f"INSERT INTO {self.table} ({cols}) SELECT {cols} FROM {self.staging_table}"

    def duplicate_keys_sql(self) -> str:
        # a key staged twice would be inserted twice, and the total count
        # verify cannot see it
        keys = ", ".join(f'"{k}"' for k in self.key_columns)
        return f"SELECT {keys} FROM {self.staging_table} GROUP BY {keys} HAVING count(*) > 1"

    def verify_sql(self) -> str:
        return f"SELECT count(*) FROM {self.table}"

    def truncate_sql(self) -> str:
        # stage_06 clear_entire_table (full-refresh mode)
        return f"TRUNCATE TABLE {self.table}"

    # --- execution ---

    def _connect(self, spark):
        """Driver-side JDBC connection via py4j, loading the driver class
        explicitly (DriverManager alone can't see jars loaded after JVM
        start)."""
        jvm = spark._jvm
        driver = self.properties.get("driver")
        if driver:
            jvm.java.lang.Class.forName(driver)
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(self.url, props)

    def write(
        self, batch: DataFrame, *, mode: str = "upsert", num_partitions: int = 8
    ) -> dict:
        """Stage the batch via Spark's JDBC writer, then merge atomically.

        mode='upsert' → delete-matching + insert; mode='full_refresh' →
        truncate + insert (stage_06 --full-refresh). The merge
        statements run in one transaction: a failure after the DELETE
        rolls back instead of losing target rows. A batch holding one key
        twice raises a ValueError naming it, and the target is left
        unchanged. Returns the verify payload {'table', 'rows'}.
        """
        # coalesce, not repartition: the staging INSERTs keep the batch's
        # own partitioning, capped at num_partitions, without a shuffle.
        (
            batch.coalesce(num_partitions)
            .write.mode("overwrite")
            .options(**self.properties)
            .jdbc(self.url, self.staging_table)
        )

        stmts = [self.truncate_sql()] if mode == "full_refresh" else [self.delete_sql()]
        stmts.append(self.insert_sql(batch.columns))

        spark = batch.sparkSession
        conn = self._connect(spark)
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            dup = st.executeQuery(self.duplicate_keys_sql())
            if dup.next():
                key = tuple(dup.getObject(i + 1) for i in range(len(self.key_columns)))
                raise ValueError(f"duplicate key {dict(zip(self.key_columns, key))} in the batch for {self.table}")
            for s in stmts:
                st.execute(s)
            rs = st.executeQuery(self.verify_sql())
            rs.next()
            count = rs.getLong(1)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

        import json

        payload = {"table": self.table, "rows": count}
        spark.sparkContext.setLocalProperty("iris.upsert.last_verify", json.dumps(payload))
        return payload
