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
columns for the join, with the updates side broadcast when small.
``ParquetCatalog`` runs them as file-pruned merges, the way Delta Lake's
MERGE does (Armbrust et al., VLDB 2020): parquet footer min/max on the
first key pick the files a batch can touch, the sink rewrites only
those, and every other file is carried into the new table version by
hard link.  Idempotence (rerunning the same merge is a no-op) preserves
the reference's crash-recovery story of per-batch commits + re-runnable
keyed loads.
"""

from __future__ import annotations

import math
import os
import shutil
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _prune_family(dt: T.DataType) -> Optional[str]:
    """The first-key types a merge prunes files by: integral, (binary
    collation) string and date values have no NaN, their parquet
    footer order is Spark's order, and they need no time-zone
    conversion.  Any other type (decimal, float, timestamp, ...)
    touches every file."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integral"
    if isinstance(dt, T.StringType) and getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY":
        return "string"
    if isinstance(dt, T.DateType):
        return "date"
    return None


def _fold_targets(lo, hi, ranges: dict, rows: dict, touched: list, cap: int) -> list:
    """Untouched files an inserting batch also rewrites.

    On each side where no touched file's footer range reaches the
    batch's ``lo`` (``hi``), the nearest file on that side joins the
    rewrite when it holds fewer than ``cap`` rows.  Inserts past every
    touched range then fill that file instead of starting one of their
    own, so a run of batches above (or below) every stored key keeps
    the file count within about twice table_rows / cap."""
    spans = [ranges[f] for f in touched if ranges[f] is not None]
    # an untouched file with a known range lies wholly below or above
    rest = [f for f in ranges if f not in touched and ranges[f] is not None]
    out = []
    if not any(r[0] <= lo for r in spans):
        below = [f for f in rest if ranges[f][1] < lo]
        if below:
            out.append(max(below, key=lambda f: ranges[f][1]))
    if not any(r[1] >= hi for r in spans):
        above = [f for f in rest if ranges[f][0] > hi]
        if above:
            out.append(min(above, key=lambda f: ranges[f][0]))
    return [f for f in out if rows[f] < cap]


class ParquetCatalog:
    """Target 'database' as a directory of parquet tables.

    Keyed steps run as native file-pruned merges (``merge_upsert``,
    ``merge_update_only``, ``merge_delete``): the join sink reads and
    rewrites only the files whose footer first-key range may overlap
    the batch's, writes its result range-clustered on that key, and
    every other file is hard-linked into the new version under its own
    name.  Every other step (and a keyed step on a missing table) is
    read-modify-write through ``get``/``put``.

    ``get`` reuses the schema the catalog last read or wrote for the
    same table directory (path + inode + ctime: every swap makes a new
    directory), so a read starts no schema-inference job.

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
        # table path -> (directory identity, schema) of its last read
        # or merge; a plain put drops the entry
        self._schemas: dict = {}
        os.makedirs(root, exist_ok=True)

    def _session(self) -> SparkSession:
        spark = self._spark or SparkSession.getActiveSession()
        assert spark is not None
        return spark

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @staticmethod
    def _identity(path: str) -> tuple:
        # the ctime guards against a later directory reusing the inode
        st = os.stat(path)
        return (st.st_ino, st.st_ctime_ns)

    def get(self, name: str) -> Optional[DataFrame]:
        path = self._path(name)
        reader = self._session().read
        if not os.path.exists(path):
            # Crash window of a prior put (table renamed aside, new one
            # not yet in place): READ the aside copy, don't rename it —
            # get() must not mutate the swap state put() depends on
            # (see class docstring).  The writer's next put heals.
            old = path + ".__old__"
            if not os.path.exists(old):
                return None
            return reader.parquet(old)
        ident = self._identity(path)
        known = self._schemas.get(path)
        if known is not None and known[0] == ident:
            return reader.schema(known[1]).parquet(path)
        df = reader.parquet(path)
        self._schemas[path] = (ident, df.schema)
        return df

    def put(
        self,
        name: str,
        df: DataFrame,
        carry: Sequence[str] = (),
        max_rows_per_file: int = 0,
    ) -> None:
        """Make ``df`` plus the ``carry`` files the table's new version.

        ``carry`` names data files of the standing version that the new
        one keeps as they are: each is hard-linked, with its checksum,
        into the new version under its own name.
        ``max_rows_per_file`` (0: no limit) caps the rows of each file
        ``df`` writes."""
        # Materialize before overwrite: the new value may read the old
        # files (read-modify-write), so write ONCE to a temp dir, then
        # swap directories.  (A write-then-rewrite-to-final would double
        # sink I/O — at 100 TB that's the difference between one and two
        # full passes over the target.)  Crash-safe swap: the standing
        # table is renamed ASIDE (path.__old__), never rmtree'd while it
        # is the only copy — a crash at any point leaves either the old
        # or the new version recoverable (_recover), and the keyed merges
        # feeding put are idempotent so the rerun converges.
        path = self._path(name)
        tmp = path + ".__tmp__"
        old = path + ".__old__"
        self._schemas.pop(path, None)
        shutil.rmtree(tmp, ignore_errors=True)
        # df may lazily read `path` (normal read-modify-write) OR `old`
        # (get() fell back to the aside copy after a prior crash inside
        # the swap window) — neither is touched until tmp stands, so
        # the write always has its complete source.
        writer = df.write.mode("overwrite")
        if max_rows_per_file:
            writer = writer.option("maxRecordsPerFile", max_rows_per_file)
        writer.parquet(tmp)
        for f in carry:
            # parquet files are never modified in place, so the new
            # version can share the standing one's
            os.link(os.path.join(path, f), os.path.join(tmp, f))
            crc = f".{f}.crc"
            if os.path.exists(os.path.join(path, crc)):
                os.link(os.path.join(path, crc), os.path.join(tmp, crc))
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)  # stale from a completed put
            os.rename(path, old)  # aside, not rmtree: keep a complete copy
        # else: a prior put crashed mid-swap and `old` already IS the
        # aside copy — keep it standing until the new table is in place.
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    # -- native keyed merges ------------------------------------------------

    def merge_upsert(
        self,
        name: str,
        updates: DataFrame,
        key_columns: Sequence[str] = ("id",),
        fields_excluded_from_update: Sequence[str] = (),
        order_col: Optional[str] = None,
    ) -> None:
        """Keyed upsert (:func:`upsert`); the first load of a missing
        table keeps one row per key."""
        keys = list(key_columns)
        self._merge(
            name, updates, keys[0],
            lambda t, u: upsert(t, u, keys, fields_excluded_from_update, order_col),
            first_load=lambda u: _dedupe_last_writer(u, keys, order_col),
        )

    def merge_update_only(
        self,
        name: str,
        updates: DataFrame,
        key_columns: Sequence[str] = ("id",),
        fields_excluded_from_update: Sequence[str] = (),
        order_col: Optional[str] = None,
    ) -> None:
        """Keyed update (:func:`update_only`) of an existing table."""
        keys = list(key_columns)
        self._merge(
            name, updates, keys[0],
            lambda t, u: update_only(t, u, keys, fields_excluded_from_update, order_col),
            op="update",
        )

    def merge_delete(self, name: str, keys_df: DataFrame, identifier: str) -> None:
        """Delete by key (:func:`delete_by_keys`) from an existing table."""
        self._merge(
            name, keys_df, identifier,
            lambda t, u: delete_by_keys(t, u, identifier),
            op="delete",
        )

    def _merge(
        self,
        name: str,
        batch: DataFrame,
        key: str,
        sink: Callable[[DataFrame, DataFrame], DataFrame],
        first_load: Optional[Callable[[DataFrame], DataFrame]] = None,
        op: str = "upsert",
    ) -> None:
        """Apply ``sink(target, batch)`` to the files it can change.

        A target row can only match a batch row whose first key
        ``key`` equals its own, non-NULL, so every file whose footer
        range on ``key`` is disjoint from the batch's [min, max] comes
        through the sink unchanged and is carried instead.  The sink
        runs over the other ("touched") files; its result is written
        by ``ceil(out_rows / cap)`` range partitions on ``key`` in files
        of at most ``cap = ceil(table_rows / defaultParallelism)``
        rows, so later batches touch few of them.  Only the upsert
        (``first_load`` set) inserts rows; it alone creates a missing
        table, and its inserts past the touched files fold into a
        neighbouring small file (:func:`_fold_targets`)."""
        from pypeline_spark.sinks.manifest import ManifestTable as MT

        target = self.get(name)
        path = self._path(name)
        if target is None:
            if first_load is None:
                raise ValueError(f"{op} target {name!r} does not exist")
            self.put(name, first_load(batch))
            return
        files = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        ) if os.path.isdir(path) else None
        if files is None or not all(os.path.isfile(os.path.join(path, f)) for f in files):
            # the crash window (only the aside copy stands) or a nested
            # layout: read-modify-write the whole table
            self.put(name, sink(target, batch))
            return

        # one job reads the batch into its checkpoint and returns its key
        # bounds (a single partition needs no exchange before the
        # aggregate); the sink then reads the checkpoint
        batch = batch.localCheckpoint(eager=False)
        bounds = MT._collect_index_metadata(
            batch.coalesce(1).agg(
                F.min(key).alias("lo"), F.max(key).alias("hi"), F.count(F.lit(1)).alias("n")
            )
        ).to_pylist()[0]
        lo, hi = MT._prune_canon(bounds["lo"]), MT._prune_canon(bounds["hi"])
        inserted = bounds["n"] if first_load is not None else 0
        family = _prune_family(target.schema[key].dataType)
        prunes = family is not None and family == _prune_family(batch.schema[key].dataType)

        import pyarrow.parquet as pq

        rows, ranges = {}, {}
        for f in files:
            p = os.path.join(path, f)
            meta = pq.read_metadata(p)
            rows[f] = meta.num_rows
            ranges[f] = MT._footer_stats(p, [key], meta).get(key) if prunes else None
        # a file is touched unless it provably holds no key of the batch
        # (a batch without a non-NULL key matches nothing)
        touched = [] if lo is None else [
            f for f in files if ranges[f] is None or not MT._prune_disjoint(lo, hi, *ranges[f])
        ]
        spark = self._session()
        cap = max(1, math.ceil(
            (sum(rows.values()) + inserted) / spark.sparkContext.defaultParallelism
        ))
        if inserted and lo is not None:
            touched += _fold_targets(lo, hi, ranges, rows, touched, cap)
        if not touched and not inserted:
            return  # the batch changes nothing: no write, no swap

        out_rows = sum(rows[f] for f in touched) + inserted
        file_name = target.metadataColumn("_metadata").getField("file_name")
        out = sink(target.filter(file_name.isin(touched)), batch)
        if [(f.name, f.dataType) for f in out.schema] != [
            (f.name, f.dataType) for f in target.schema
        ]:
            # carried and rewritten files must share one schema (a USING
            # join puts the key columns first; a union may widen a type)
            out = out.select(
                [F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in target.schema]
            )
        # about cap rows a range partition, so a large batch keeps its
        # parallelism; a single partition needs no sampling job
        parts = max(1, math.ceil(out_rows / cap))
        out = out.repartitionByRange(parts, key).sortWithinPartitions(key)
        carry = [f for f in files if f not in touched]
        self.put(name, out, carry=carry, max_rows_per_file=cap)
        self._schemas[path] = (self._identity(path), target.schema)


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
