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

Each write stages into a table of its own, `{table}_stg_<12 hex>`,
and drops it in `finally`, on success and on failure alike, so two
publishes to one table never share staging rows. The merge's first
statement is `LOCK TABLE {table} IN EXCLUSIVE MODE`: concurrent merges
into one table run one after another, so each key ends up with the
rows of one batch (the last to commit) and never twice.

Executed end-to-end in tests against in-process Derby (the JDBC
driver Spark ships for its Hive metastore) — no server needed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from uuid import uuid4

from pyspark.sql import DataFrame

# PostgreSQL silently truncates a longer identifier, so two writes'
# staging names could collide.
MAX_IDENTIFIER = 63


@dataclass
class JdbcUpsertSink:
    url: str
    table: str
    key_columns: tuple[str, ...]
    properties: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.key_columns:
            raise ValueError("key_columns must be non-empty")
        name = self.staging_name().rpartition(".")[2]
        if len(name) > MAX_IDENTIFIER:
            raise ValueError(
                f"staging table name {name!r} for {self.table} has {len(name)} characters; "
                f"PostgreSQL truncates identifiers longer than {MAX_IDENTIFIER}"
            )

    def staging_name(self) -> str:
        """A fresh staging table name: one per write."""
        return f"{self.table}_stg_{uuid4().hex[:12]}"

    # --- SQL the control connection runs (unit-testable without a DB) ---
    # Column names are double-quoted, table names are not: Spark's JDBC
    # writer passes the table name through verbatim but quotes every
    # column (case-exact) in CREATE TABLE, so the merge SQL must match
    # that convention or case-folding dialects (Derby uppercases,
    # PostgreSQL lowercases) miss the staging columns.

    def lock_sql(self) -> str:
        return f"LOCK TABLE {self.table} IN EXCLUSIVE MODE"

    def delete_sql(self, staging: str) -> str:
        # EXISTS instead of multi-column IN: identical semantics on
        # PostgreSQL, and portable to engines without row-value IN
        # (Derby among them).
        on = " AND ".join(
            f's."{k}" = {self.table}."{k}"' for k in self.key_columns
        )
        return (
            f"DELETE FROM {self.table} WHERE EXISTS "
            f"(SELECT 1 FROM {staging} s WHERE {on})"
        )

    def insert_sql(self, staging: str, columns: list[str]) -> str:
        cols = ", ".join(f'"{c}"' for c in columns)
        return f"INSERT INTO {self.table} ({cols}) SELECT {cols} FROM {staging}"

    def duplicate_keys_sql(self, staging: str) -> str:
        # a key staged twice would be inserted twice, and the total count
        # verify cannot see it
        keys = ", ".join(f'"{k}"' for k in self.key_columns)
        return f"SELECT {keys} FROM {staging} GROUP BY {keys} HAVING count(*) > 1"

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
        statements run in one transaction under an exclusive lock on the
        target: a failure after the DELETE rolls back instead of losing
        target rows. A batch holding one key twice raises a ValueError
        naming it, and the target is left unchanged. The write's staging
        table is dropped whether it succeeds or fails. Returns the verify
        payload {'table', 'rows'}.
        """
        staging = self.staging_name()
        merge = [
            self.lock_sql(),
            self.truncate_sql() if mode == "full_refresh" else self.delete_sql(staging),
            self.insert_sql(staging, batch.columns),
        ]

        spark = batch.sparkSession
        conn = self._connect(spark)
        staged = False
        try:
            # coalesce, not repartition: the staging INSERTs keep the
            # batch's own partitioning, capped at num_partitions, without
            # a shuffle. The name is fresh, so a table already there is
            # an error, never something to overwrite.
            (
                batch.coalesce(num_partitions)
                .write.mode("errorifexists")
                .options(**self.properties)
                .jdbc(self.url, staging)
            )
            staged = True
            conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                dup = st.executeQuery(self.duplicate_keys_sql(staging))
                if dup.next():
                    key = tuple(dup.getObject(i + 1) for i in range(len(self.key_columns)))
                    raise ValueError(f"duplicate key {dict(zip(self.key_columns, key))} in the batch for {self.table}")
                for s in merge:
                    st.execute(s)
                rs = st.executeQuery(self.verify_sql())
                rs.next()
                count = rs.getLong(1)
                conn.commit()
            except Exception:
                conn.rollback()
                raise
        finally:
            try:
                conn.setAutoCommit(True)
                conn.createStatement().execute(f"DROP TABLE {staging}")
            except Exception:
                # a staging write that failed before its CREATE TABLE
                # left nothing to drop
                if staged:
                    raise
            finally:
                conn.close()

        payload = {"table": self.table, "rows": count}
        spark.sparkContext.setLocalProperty("iris.upsert.last_verify", json.dumps(payload))
        return payload
