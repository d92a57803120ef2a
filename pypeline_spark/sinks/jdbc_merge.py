"""Transactional keyed sinks over JDBC: real ``MERGE INTO`` against an
RDBMS target.

This is the closest binding to the reference's ACTUAL durability
surface: its sinks are MySQL/PostgreSQL keyed SQL writes —
``INSERT ... ON CONFLICT (id) DO UPDATE`` / ``UPDATE ... FROM`` /
``DELETE ... WHERE id = ANY(...)`` executed per batch over a DB-API
connection (ref: /root/reference/pypeline/Pype.py:97-148,179-186).
``sinks/lakehouse.py`` binds the same interface to Delta MERGE (jars
absent in this container); this module binds it to ANSI MERGE over
JDBC, exercised end-to-end in tests against the embedded Derby that
ships on Spark's classpath (MERGE INTO since Derby 10.11).

Scale design — set-based, not row-at-a-time: the reference loops
``executemany`` over bulk_size chunks on the driver; here the batch is
bulk-loaded into a staging table by Spark's executor-parallel JDBC
writer (one INSERT batch per partition), then ONE server-side
``MERGE INTO target USING stage`` applies the whole batch atomically
(statement-level transaction).  At scale the network transfer is the
parallel stage load; the merge itself never moves rows through Spark.

Semantics parity with the join emulation in sinks/keyed.py (asserted
equal in tests/test_jdbc_merge.py):
- upsert: matched rows take the update's values EXCEPT key columns and
  ``fields_excluded_from_update`` (omitted from the SET list entirely,
  so a target NULL in an excluded column survives, ref: Pype.py:132-143);
  unmatched update rows insert whole.
- update_only: matched rows updated (legitimate NULLs written), never
  inserts (ref: Pype.py:119-130).
- delete: matched keys removed (ref: Pype.py:179-186).
- intra-batch duplicate keys: deduped last-writer-wins BEFORE the merge
  (multi-match MERGE sources are rejected by ANSI engines), same rule
  as keyed.py.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from pypeline_spark.sinks.keyed import _dedupe_last_writer
from pypeline_spark.sources.formats import read_source, write_sink


def _q(col: str) -> str:
    """Quote a column identifier the way Spark's JDBC writer created it
    (dialect-quoted, case-preserved)."""
    return '"' + col.replace('"', '""') + '"'


def _key_eq(k: str, string_keys: Sequence[str]) -> str:
    """One ON-clause equality.  String keys compare as VARCHAR: some
    dialects (Derby) store Spark strings as CLOB, and CLOB = CLOB is
    not a supported comparison — the cast restores joinability (at the
    cost of index use on text keys; prefer numeric surrogate keys)."""
    if k in string_keys:
        return f"CAST(t.{_q(k)} AS VARCHAR(32672)) = CAST(u.{_q(k)} AS VARCHAR(32672))"
    return f"t.{_q(k)} = u.{_q(k)}"


def merge_upsert_sql(
    table: str,
    stage: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    fields_excluded_from_update: Sequence[str] = (),
    string_keys: Sequence[str] = (),
) -> str:
    """ANSI ``MERGE INTO`` for insert-or-update-by-key.

    Excluded columns are OMITTED from the SET list (target values —
    including NULLs — survive a match, ref: Pype.py:132-143); inserts
    take every column.
    """
    keys = list(key_columns)
    skip = set(keys) | set(fields_excluded_from_update)
    set_cols = [c for c in columns if c not in skip]
    on = " AND ".join(_key_eq(k, string_keys) for k in keys)
    sets = ", ".join(f"{_q(c)} = u.{_q(c)}" for c in set_cols)
    ins_cols = ", ".join(_q(c) for c in columns)
    ins_vals = ", ".join(f"u.{_q(c)}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if set_cols else ""
    return (
        f"MERGE INTO {table} t USING {stage} u ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def merge_update_only_sql(
    table: str,
    stage: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    fields_excluded_from_update: Sequence[str] = (),
    string_keys: Sequence[str] = (),
) -> str:
    """ANSI MERGE with only the MATCHED branch — never inserts."""
    keys = list(key_columns)
    skip = set(keys) | set(fields_excluded_from_update)
    set_cols = [c for c in columns if c not in skip]
    if not set_cols:
        raise ValueError("update_only with no updatable columns")
    on = " AND ".join(_key_eq(k, string_keys) for k in keys)
    sets = ", ".join(f"{_q(c)} = u.{_q(c)}" for c in set_cols)
    return f"MERGE INTO {table} t USING {stage} u ON {on} WHEN MATCHED THEN UPDATE SET {sets}"


def merge_delete_sql(
    table: str, stage: str, identifier: str, string_keys: Sequence[str] = ()
) -> str:
    on = _key_eq(identifier, string_keys)
    return f"MERGE INTO {table} t USING {stage} u ON {on} WHEN MATCHED THEN DELETE"


class JdbcMergeCatalog:
    """Keyed-sink catalog whose targets live in an RDBMS, merged with
    server-side ``MERGE INTO``.

    Same ``get``/``put`` surface as MemoryCatalog/ParquetCatalog plus
    in-place ``merge_upsert`` / ``merge_update_only`` / ``merge_delete``
    (the interface ``pipeline.runner`` delegates to when present) —
    drop-in for a pipeline whose target database is MySQL/PostgreSQL/
    Derby instead of a lakehouse, the reference's native deployment.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        driver: Optional[str] = None,
        bulk_size: int = 2000,
    ) -> None:
        self.spark = spark
        self.url = url
        self.driver = driver
        self.bulk_size = bulk_size  # reference bulk_size -> JDBC batchsize

    LEDGER = "pypeline_applied_batches"

    # -- raw statement execution over the JVM's DriverManager ----------
    def _connect(self):
        jvm = self.spark._sc._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def _execute(self, sql: str) -> None:
        conn = self._connect()
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def _ensure_ledger(self) -> None:
        if not self._table_exists(self.LEDGER):
            self._execute(
                f"CREATE TABLE {self.LEDGER} "
                "(batch_id VARCHAR(200) PRIMARY KEY)"
            )

    def _merge_with_ledger(self, merge_sql: str, batch_id: str) -> bool:
        """Apply one merge and record its batch id in a SINGLE database
        transaction — true exactly-once application: a replayed batch id
        is skipped outright (at-most-once) regardless of whether the
        merge itself would be idempotent, and a crash between merge and
        ledger insert rolls BOTH back (at-least-once via the caller's
        retry).  This is the reference's per-batch commit (Pype.py:148)
        with the application ledger the reference leaves implicit.
        Returns True if the batch was applied, False if skipped."""
        self._ensure_ledger()
        conn = self._connect()
        try:
            conn.setAutoCommit(False)
            check = conn.prepareStatement(
                f"SELECT 1 FROM {self.LEDGER} WHERE batch_id = ?"
            )
            try:
                check.setString(1, batch_id)
                rs = check.executeQuery()
                try:
                    if rs.next():
                        conn.rollback()
                        return False
                finally:
                    rs.close()
            finally:
                check.close()
            stmt = conn.createStatement()
            try:
                stmt.execute(merge_sql)
            finally:
                stmt.close()
            ins = conn.prepareStatement(
                f"INSERT INTO {self.LEDGER} (batch_id) VALUES (?)"
            )
            try:
                ins.setString(1, batch_id)
                ins.executeUpdate()
            finally:
                ins.close()
            conn.commit()
            return True
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    def _table_exists(self, name: str) -> bool:
        jvm = self.spark._sc._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            md = conn.getMetaData()
            # unquoted identifiers fold UP in Derby/Oracle and DOWN in
            # MySQL/PostgreSQL — probe both folds
            for probe in (name.upper(), name.lower()):
                rs = md.getTables(None, None, probe, None)
                try:
                    if rs.next():
                        return True
                finally:
                    rs.close()
            return False
        finally:
            conn.close()

    def _opts(self, name: str) -> dict:
        opts = {"dbtable": name}
        if self.driver:
            opts["driver"] = self.driver
        return opts

    # -- catalog surface ----------------------------------------------
    def get(self, name: str) -> Optional[DataFrame]:
        if not self._table_exists(name):
            return None
        opts = self._opts(name)
        if self.driver and "derby" in self.driver.lower():
            # Derby stores Spark strings as CLOB and cannot compare
            # CLOB to a pushed-down literal — evaluate filters in Spark
            opts["pushDownPredicate"] = "false"
        return read_source(
            self.spark, "jdbc", self.url, options=opts, bulk_size=self.bulk_size
        )

    def put(self, name: str, df: DataFrame) -> None:
        """Replace the table with ``df``.  A read-modify-write value
        (append, cdc, dedup) lazily reads the table it replaces, and
        JDBC overwrite drops that table before the write scans it — so
        an existing table is replaced from a materialized stage copy.
        A failed copy leaves the stage standing: it then holds the only
        complete copy of the new value."""
        if not self._table_exists(name):
            self._write(name, df)
            return
        stage = self._stage(name, df)
        self._write(name, self.get(stage))
        self._drop_stage(stage)

    def _write(self, name: str, df: DataFrame) -> None:
        write_sink(
            df, "jdbc", self.url, mode="overwrite", options=self._opts(name), bulk_size=self.bulk_size
        )

    def _stage(self, name: str, df: DataFrame, batch_id: Optional[str] = None) -> str:
        # Unique per invocation: a fixed f"{name}__stage" would let two
        # concurrent writers targeting the same table (two pipelines, two
        # streaming queries) overwrite each other's stage between load
        # and MERGE — silently merging the wrong batch.  The suffix is
        # the batch_id when one is given (deterministic, replay-friendly)
        # else a fresh uuid; either way each writer merges exactly the
        # rows it staged, and the finally-block drops its own stage.
        import re
        import uuid

        suffix = re.sub(r"[^A-Za-z0-9_]", "_", batch_id) if batch_id else uuid.uuid4().hex[:12]
        stage = f"{name}__stage_{suffix}"
        if len(stage) > 120:
            # Prefix truncation would collide two long batch_ids that
            # share a prefix — recreating exactly the concurrent-stage
            # overwrite the unique suffix exists to prevent.  A content
            # hash stays unique AND deterministic per batch_id
            # (replay-friendly, like the plain suffix).  The NAME part
            # is bounded too (a ~100+-char table name would otherwise
            # push the result back over Derby's identifier limit), and
            # the hash covers the FULL (name, suffix) pair so two long
            # names sharing a 100-char prefix still get distinct stages.
            import hashlib

            digest = hashlib.sha1(f"{name}|{suffix}".encode()).hexdigest()[:12]
            stage = f"{name[:100]}__stage_{digest}"
        self._write(stage, df)
        return stage

    @staticmethod
    def _string_cols(df: DataFrame) -> list[str]:
        from pyspark.sql import types as T

        return [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]

    def _drop_stage(self, stage: str) -> None:
        # best-effort cleanup from finally-blocks: a failed stage WRITE
        # may have left no table, and raising here would mask the
        # original merge/write error
        try:
            self._execute(f"DROP TABLE {stage}")
        except Exception:  # noqa: BLE001
            pass

    # -- keyed merges (in-place, transactional per statement) ----------
    def merge_upsert(
        self,
        name: str,
        updates: DataFrame,
        key_columns: Sequence[str] = ("id",),
        fields_excluded_from_update: Sequence[str] = (),
        order_col: Optional[str] = None,
        batch_id: Optional[str] = None,
    ) -> None:
        """Keyed upsert; with ``batch_id`` the merge and the ledger
        insert commit in one database transaction (exactly-once
        application — a replayed id is skipped outright)."""
        keys = list(key_columns)
        up = _dedupe_last_writer(updates, keys, order_col)
        if not self._table_exists(name):
            if batch_id is None:
                self.put(name, up)
                return
            # exactly-once creation: make an EMPTY target, then apply
            # the first batch through the same ledgered merge
            self.put(name, up.limit(0))
        sql_kwargs = dict(string_keys=self._string_cols(up))
        stage = self._stage(name, up, batch_id=batch_id)
        try:
            sql = merge_upsert_sql(
                name, stage, up.columns, keys, fields_excluded_from_update,
                **sql_kwargs,
            )
            if batch_id is None:
                self._execute(sql)
            else:
                self._merge_with_ledger(sql, batch_id)
        finally:
            self._drop_stage(stage)

    def merge_update_only(
        self,
        name: str,
        updates: DataFrame,
        key_columns: Sequence[str] = ("id",),
        fields_excluded_from_update: Sequence[str] = (),
        order_col: Optional[str] = None,
    ) -> None:
        if not self._table_exists(name):
            raise ValueError(f"update target {name!r} does not exist")
        keys = list(key_columns)
        up = _dedupe_last_writer(updates, keys, order_col)
        stage = self._stage(name, up)
        try:
            self._execute(
                merge_update_only_sql(
                    name, stage, up.columns, keys, fields_excluded_from_update,
                    string_keys=self._string_cols(up),
                )
            )
        finally:
            self._drop_stage(stage)

    def merge_delete(self, name: str, keys_df: DataFrame, identifier: str) -> None:
        if not self._table_exists(name):
            raise ValueError(f"delete target {name!r} does not exist")
        keys_only = keys_df.select(identifier).distinct()
        stage = self._stage(name, keys_only)
        try:
            self._execute(
                merge_delete_sql(
                    name, stage, identifier,
                    string_keys=self._string_cols(keys_only),
                )
            )
        finally:
            self._drop_stage(stage)
