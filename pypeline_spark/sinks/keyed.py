"""Join-based keyed merge sinks: upsert, update-only, delete-by-key.

Reference semantics being re-expressed (file:line cites into
/root/reference/pypeline/Pype.py):

- upsert: ``INSERT ... ON CONFLICT (id) DO UPDATE SET f=excluded.f``
  per batch (Pype.py:97-117) — conflict key hard-coded to ``id``;
  generalized here to ``key_columns``.
- update: ``UPDATE t SET f=r.f FROM records r WHERE t.id=r.id``
  (Pype.py:119-130) — no inserts for unmatched keys.
- delete: ``DELETE FROM t WHERE ident = ANY(%s::uuid[])`` with the key
  list deduplicated by a set comprehension (Pype.py:179-186).
- ``id`` plus ``fields_excluded_from_update`` never overwritten on
  matched rows (Pype.py:132-143).
- Intra-batch duplicate keys: the reference inherits whatever Postgres
  ON CONFLICT sees; we define explicit last-writer-wins via a
  deterministic ordering (``order_col`` desc when given, else all
  non-key columns desc) so retried Spark tasks can't change the answer.

Scale design: these are pure DataFrame plans — one shuffle on the key
columns for the join, with the updates side broadcast when small.  On a
real lakehouse the same interface binds to Delta/Iceberg ``MERGE INTO``
(transactional, file-pruned); the plain-parquet read-modify-write here
keeps v1 dependency-free.  Idempotence (rerunning the same merge is a
no-op) preserves the reference's crash-recovery story of per-batch
commits + re-runnable keyed loads.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pypeline_spark.registry import query
from pypeline_spark.session import load_table


def _dedupe_last_writer(
    updates: DataFrame, keys: Sequence[str], order_col: Optional[str]
) -> DataFrame:
    """Keep one row per key: last-writer-wins, deterministically."""
    if order_col:
        ordering = [F.col(order_col).desc()]
    else:
        ordering = [F.col(c).desc_nulls_last() for c in updates.columns if c not in keys]
    if not ordering:
        return updates.dropDuplicates(list(keys))
    w = W.partitionBy(*keys).orderBy(*ordering)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    target: DataFrame,
    updates: DataFrame,
    key_columns: Sequence[str] = ("id",),
    fields_excluded_from_update: Sequence[str] = (),
    order_col: Optional[str] = None,
) -> DataFrame:
    """Insert-or-update by key (ref: Pype.py:97-117).

    Matched rows take the update's values except key columns and
    ``fields_excluded_from_update`` (ref: Pype.py:132-143), which keep
    the target's values; unmatched update rows insert whole.
    """
    keys = list(key_columns)
    up = _dedupe_last_writer(updates, keys, order_col).select(target.columns)
    excluded = [c for c in fields_excluded_from_update if c not in keys]

    untouched = target.join(up.select(keys), keys, "left_anti")
    if excluded:
        # Matched rows keep the target's excluded-column values — even a
        # target NULL.  An explicit match flag (not coalesce) so a NULL in
        # the target's excluded column is preserved rather than replaced
        # by the update's value (ref: Pype.py:132-143 omits the field from
        # the ON CONFLICT SET list entirely).
        t_excl = target.select(keys + excluded).withColumn("__matched", F.lit(True))
        matched_or_new = up.alias("u").join(t_excl.alias("t"), keys, "left").select(
            *keys,
            *[
                F.when(F.col("__matched"), F.col(f"t.{c}")).otherwise(F.col(f"u.{c}")).alias(c)
                if c in excluded
                else F.col(f"u.{c}").alias(c)
                for c in up.columns
                if c not in keys
            ],
        )
        merged = matched_or_new.select(target.columns)
    else:
        merged = up
    return untouched.unionByName(merged)


def update_only(
    target: DataFrame,
    updates: DataFrame,
    key_columns: Sequence[str] = ("id",),
    fields_excluded_from_update: Sequence[str] = (),
    order_col: Optional[str] = None,
) -> DataFrame:
    """Update matched keys only, never insert (ref: Pype.py:119-130)."""
    keys = list(key_columns)
    up = _dedupe_last_writer(updates, keys, order_col)
    excluded = set(fields_excluded_from_update) | set(keys)
    value_cols = [c for c in target.columns if c not in excluded and c in up.columns]
    up = up.select(keys + value_cols)

    # Explicit match flag: a matched update row that sets a column to NULL
    # must write the NULL (ref: Pype.py:119-130 UPDATE ... SET f=records.f),
    # which coalesce(u.c, t.c) would silently ignore.
    t = target.alias("t")
    u = up.withColumn("__matched", F.lit(True)).alias("u")
    return t.join(u, keys, "left").select(
        *keys,
        *[
            (
                F.when(F.col("__matched"), F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                if c in value_cols
                else F.col(f"t.{c}").alias(c)
            )
            for c in target.columns
            if c not in keys
        ],
    ).select(target.columns)


def delete_by_keys(
    target: DataFrame, keys_df: DataFrame, identifier: str
) -> DataFrame:
    """Delete rows whose identifier appears in keys_df (ref: Pype.py:179-186).

    The reference dedupes the key list with a set comprehension
    (Pype.py:184) — here ``distinct()`` + left-anti join.

    No forced broadcast: a delete batch from a large extract can exceed
    broadcast capacity at scale (the reference's ``set()`` analogue has
    no such bound), so the join strategy is left to the optimizer —
    stats/AQE broadcast a small key set and degrade a huge one to a
    shuffled left-anti instead of OOMing the driver.  Both paths are
    plan-asserted in tests/test_plans.py.
    """
    keys = keys_df.select(F.col(identifier)).distinct()
    return target.join(keys, [identifier], "left_anti")


def dedup_ingest(
    target: Optional[DataFrame],
    batch: DataFrame,
    key: str,
    text_column: str,
    method: str = "exact",
) -> DataFrame:
    """Append the batch rows that duplicate nothing already ingested.

    ``exact`` drops rows whose normalized-text fingerprint (md5 of the
    trimmed, lower-cased ``text_column``) matches a standing target
    row, and keeps the smallest ``key`` among batch rows sharing one.
    ``minhash`` drops rows that near-duplicate the standing target
    (:func:`incremental_near_dups`).  Returns the target's new value:
    the standing rows plus the survivors, or the survivors alone when
    there is no target yet.
    """
    if method == "exact":
        fp = F.md5(F.lower(F.trim(F.col(text_column))))
        fps = batch.withColumn("__fp", fp)
        keep = fps.groupBy("__fp").agg(F.min(key).alias("__keep"))
        fps = fps.join(keep, "__fp").filter(F.col(key) == F.col("__keep")).drop("__keep")
        if target is not None:
            seen = target.select(fp.alias("__fp")).distinct()
            fps = fps.join(seen, "__fp", "left_anti")
        survivors = fps.drop("__fp")
    elif target is not None:
        from pypeline_spark.functions.dedup import incremental_near_dups

        dups = (
            incremental_near_dups(target, batch, id_col=key)
            .select(F.col("new_id").alias(key))
            .distinct()
        )
        survivors = batch.join(dups, key, "left_anti")
    else:
        survivors = batch
    return survivors if target is None else target.unionByName(survivors)


class MemoryCatalog:
    """Target 'database' as named in-memory DataFrames (test harness).

    ``put`` cuts lineage with ``localCheckpoint``: targets are
    read-modify-write values, so storing the raw DataFrame would make
    step N+1's read of the target re-execute steps 1..N's
    extract+transform chain (and the final action replay the whole
    pipeline).  The checkpoint caches each step's output blocks at
    first computation — the in-memory analogue of the ParquetCatalog's
    durable write.  ``eager=False`` on purpose: lazy checkpointing
    gives the same no-recompute guarantee (blocks persist at the first
    job that touches them) without one blocking job per step — measured
    ~13% off the end-to-end pipeline query.  Asserted by
    tests/test_pipeline.py (step N+1's plan must scan the checkpointed
    RDD, not the step-N sources)."""

    def __init__(self, tables: Optional[dict[str, DataFrame]] = None) -> None:
        self.tables: dict[str, DataFrame] = dict(tables or {})

    def get(self, name: str) -> Optional[DataFrame]:
        return self.tables.get(name)

    def put(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df.localCheckpoint(eager=False)

    def register_views(self, spark: SparkSession) -> None:
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)


class ParquetCatalog:
    """Target 'database' as a directory of parquet tables.

    Read-modify-write per merge; the production analogue is Delta/
    Iceberg MERGE (transactional + file pruning), bound behind the
    same get/put interface when those jars are present.

    Concurrency contract: SINGLE WRITER per table (the reference's
    per-pipeline target model).  Readers in other processes are safe
    against a writer's crash window — ``get`` falls back to the
    rename-aside copy WITHOUT mutating the directory layout; only
    ``put`` (the writer) heals it.  A reader that renamed the aside
    copy back into place could race the writer's own swap and make the
    writer's final rename fail — the read path must never mutate state
    the write path depends on.
    """

    def __init__(self, root: str, spark: Optional[SparkSession] = None) -> None:
        self.root = root
        # Pin the session when the caller has one: the thread-local
        # "active" session is unreliable under py4j thread reuse — a
        # finished foreachBatch stream leaves its MICRO-BATCH CLONE
        # active on the shared gateway threads, and a get() bound to
        # that clone registers temp views in the clone's catalog where
        # the caller's spark.sql can never see them (r13 regression:
        # the CLI's second step resolved a stale view after any
        # streaming query had run in the process).
        self._spark = spark
        os.makedirs(root, exist_ok=True)

    def _session(self) -> SparkSession:
        spark = self._spark or SparkSession.getActiveSession()
        assert spark is not None
        return spark

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def get(self, name: str) -> Optional[DataFrame]:
        path = self._path(name)
        if not os.path.exists(path):
            # Crash window of a prior put (table renamed aside, new one
            # not yet in place): READ the aside copy, don't rename it —
            # get() must not mutate the swap state put() depends on
            # (see class docstring).  The writer's next put heals.
            old = path + ".__old__"
            if not os.path.exists(old):
                return None
            path = old
        return self._session().read.parquet(path)

    def put(self, name: str, df: DataFrame) -> None:
        # Materialize before overwrite: the new value may read the old
        # files (read-modify-write), so write ONCE to a temp dir, then
        # swap directories.  (A write-then-rewrite-to-final would double
        # sink I/O — at 100 TB that's the difference between one and two
        # full passes over the target.)  Crash-safe swap: the standing
        # table is renamed ASIDE (path.__old__), never rmtree'd while it
        # is the only copy — a crash at any point leaves either the old
        # or the new version recoverable (_recover), and the keyed merges
        # feeding put are idempotent so the rerun converges.
        import shutil

        path = self._path(name)
        tmp = path + ".__tmp__"
        old = path + ".__old__"
        shutil.rmtree(tmp, ignore_errors=True)
        # df may lazily read `path` (normal read-modify-write) OR `old`
        # (get() fell back to the aside copy after a prior crash inside
        # the swap window) — neither is touched until tmp stands, so
        # the write always has its complete source.
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)  # stale from a completed put
            os.rename(path, old)  # aside, not rmtree: keep a complete copy
        # else: a prior put crashed mid-swap and `old` already IS the
        # aside copy — keep it standing until the new table is in place.
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# Oracle-checked merge queries (SURVEY.md §2 N5-N8)
# ---------------------------------------------------------------------------

_TARGET_SQL = """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey <= 1000
"""
_UPDATES_SQL = """
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + 100.0 AS c_acctbal,
           'UPDATED' AS c_mktsegment
    FROM customer WHERE c_custkey BETWEEN 800 AND 1200
"""


def _target_updates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = load_table(spark, sf_dir, "customer")
    target = c.filter(F.col("c_custkey") <= 1000)
    updates = c.filter(F.col("c_custkey").between(800, 1200)).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    return target, updates


@query(
    "q_upsert",
    oracle=f"""
    WITH target AS ({_TARGET_SQL}), updates AS ({_UPDATES_SQL})
    SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal, u.c_mktsegment
    FROM updates u
    UNION ALL
    SELECT t.* FROM target t
    WHERE t.c_custkey NOT IN (SELECT c_custkey FROM updates)
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (N5): customers 800-1000 updated, 1001-1200 inserted."""
    target, updates = _target_updates(spark, sf_dir)
    return upsert(target, updates, key_columns=["c_custkey"])


@query(
    "q_upsert_excluded",
    oracle=f"""
    WITH target AS ({_TARGET_SQL}), updates AS ({_UPDATES_SQL})
    SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal,
           CASE WHEN t.c_custkey IS NOT NULL THEN t.c_mktsegment
                ELSE u.c_mktsegment END AS c_mktsegment
    FROM updates u LEFT JOIN target t ON u.c_custkey = t.c_custkey
    UNION ALL
    SELECT t.* FROM target t
    WHERE t.c_custkey NOT IN (SELECT c_custkey FROM updates)
    """,
)
def q_upsert_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert honoring fields_excluded_from_update (N8): matched rows
    keep the target's c_mktsegment; inserts still take the new value."""
    target, updates = _target_updates(spark, sf_dir)
    return upsert(
        target,
        updates,
        key_columns=["c_custkey"],
        fields_excluded_from_update=["c_mktsegment"],
    )


@query(
    "q_update_only",
    oracle=f"""
    WITH target AS ({_TARGET_SQL}), updates AS ({_UPDATES_SQL})
    SELECT t.c_custkey, t.c_name, t.c_nationkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM target t LEFT JOIN updates u ON t.c_custkey = u.c_custkey
    """,
)
def q_update_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-only sink (N6): matched keys updated, no inserts."""
    target, updates = _target_updates(spark, sf_dir)
    return update_only(target, updates, key_columns=["c_custkey"])


@query(
    "q_delete_keys",
    oracle=f"""
    WITH target AS ({_TARGET_SQL})
    SELECT t.* FROM target t
    WHERE t.c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 450000
    )
    """,
)
def q_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-by-key sink (N7): drop customers with a >450k order."""
    target, _ = _target_updates(spark, sf_dir)
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return delete_by_keys(target, keys, identifier="c_custkey")
