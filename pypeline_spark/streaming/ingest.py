"""Continuous keyed ingestion: streaming upsert via foreachBatch.

The reference's delivery model is idempotent keyed batch loads — rerun
the pipeline, upsert by id (ref: /root/reference/pypeline/Pype.py:97-117,
148).  The streaming-native version of that contract is foreachBatch:
each micro-batch is MERGEd into the target with the same keyed-upsert
semantics, so the sink state is always "last writer per key wins" no
matter how the input was chopped into batches.  Exactly-once comes from
the combination of checkpointed batch ids + idempotent merge — the same
at-least-once-plus-idempotence story the reference relies on, with the
state tracked by Spark instead of an operator rerunning a cron job.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Sequence

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # annotation only — avoids an import cycle at runtime
    from pypeline_spark.sinks.manifest import ManifestTable


def stream_upsert(
    stream_df: DataFrame,
    catalog,
    table: str,
    key_columns: Sequence[str],
    order_col: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
):
    """Continuously merge a stream into catalog[table] by key.

    Returns the StreamingQuery (caller awaits termination).  Each batch
    is one ``catalog.merge_upsert`` (ParquetCatalog, JdbcMergeCatalog,
    DeltaCatalog), last-writer-wins within the batch by ``order_col``;
    the first batch creates the table with one row per key.
    """

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the streaming form of the reference's per-batch commit
        # (ref: Pype.py:148).  Catalogs with a batch ledger get the
        # Spark batch id so application is exactly-once even for
        # non-idempotent reruns; otherwise a replayed batch re-merges
        # to a no-op (idempotence).
        kwargs = {}
        if hasattr(catalog, "_merge_with_ledger"):
            kwargs["batch_id"] = f"stream-{table}-{batch_id}"
        catalog.merge_upsert(
            table, batch_df, key_columns=key_columns, order_col=order_col, **kwargs,
        )

    writer = stream_df.writeStream.foreachBatch(_merge_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_upsert_manifest(
    stream_df: DataFrame,
    table: "ManifestTable",
    key_columns: Sequence[str],
    checkpoint_dir: Optional[str] = None,
):
    """Continuously merge a stream into a manifest-committed table —
    the fully transactional variant of ``stream_upsert``.

    Each micro-batch commits through ``ManifestTable.commit_merge``
    with ``batch_id=f"stream-{batch_id}"``: the commit is one atomic
    manifest swap (readers never see a torn table), and a post-crash
    replay of an already-applied batch id is detected and skipped, so
    the pipeline is exactly-once END TO END — Spark's checkpoint makes
    delivery at-least-once, the manifest's batch-id ledger makes
    application at-most-once.
    """
    from pyspark.sql import SparkSession

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch frame's own session, NOT getActiveSession(): the
        # micro-batch clone the engine sets active leaks onto shared
        # py4j threads after the stream ends
        spark = batch_df.sparkSession
        table.commit_merge(
            spark, batch_df, key_columns, batch_id=f"stream-{batch_id}"
        )

    writer = stream_df.writeStream.foreachBatch(_merge_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_delta_manifest(
    stream_df: DataFrame,
    table: "ManifestTable",
    key_columns: Sequence[str],
    checkpoint_dir: Optional[str] = None,
    stats_cols: Sequence[str] = (),
    max_delta_filesets: Optional[int] = None,
    compact_target_rows: Optional[int] = None,
    cluster_by: Optional[Sequence] = None,
):
    """Merge-on-read streaming ingestion: each micro-batch lands as a
    DELTA commit (``ManifestTable.commit_delta``) — O(batch) append,
    zero base-file rewrites — which is the commit shape a
    high-frequency stream needs (``stream_upsert_manifest``'s
    copy-on-write merge rewrites its overlap slice every trigger).
    Readers use ``read_resolved`` (single-shuffle last-writer-wins).
    Exactly-once exactly as the copy-on-write variant: Spark's
    checkpoint replays are skipped by the batch-id ledger, and every
    commit is one atomic manifest swap.

    ``max_delta_filesets`` is the AUTO-COMPACTION policy (the Delta
    autoCompact / Hudi inline-compaction shape): when the number of
    outstanding delta filesets reaches the threshold, the batch loop
    folds them before the next trigger — ``optimize(target_rows=
    compact_target_rows)`` when a bin-packing target is given (the
    full small-file repair: deltas folded AND the table re-packed to
    ceil(rows/target) files), plain ``compact`` otherwise.  Without a
    policy an UNATTENDED stream accumulates one fileset per trigger
    forever — resolution cost and manifest size grow without bound;
    with it both are capped at ``max_delta_filesets`` no matter how
    long the stream runs (pinned in tests/test_stream_to_sink.py
    across every retained version, not just the final one).

    ``cluster_by`` (with ``compact_target_rows``) upgrades the
    maintenance commit to a CLUSTERED rewrite (``OPTIMIZE ... ZORDER
    BY``): the stream's table comes back from every auto-compaction
    both bin-packed AND z-clustered with narrow per-file envelopes —
    the continuously-optimized-table shape, since a plain round-robin
    maintenance rewrite would destroy the clustering each time it
    fires (pinned in tests/test_stream_to_sink.py).

    Crash safety: the maintenance commit carries its own batch id
    derived from the TRIGGERING micro-batch, so a replay that finds
    the compaction already applied skips it through the same ledger
    the delta commits use; a crash BETWEEN delta commit and
    compaction replays into a skipped delta + a fresh compaction.
    The policy check itself is one manifest read — O(metadata).
    """
    from pyspark.sql import SparkSession

    if max_delta_filesets is not None and max_delta_filesets < 1:
        # 0 / negative would make every trigger a full compaction —
        # the exact hot-path rewrite the delta commit shape avoids
        raise ValueError(
            f"max_delta_filesets must be >= 1, got {max_delta_filesets}"
        )
    if cluster_by is not None and compact_target_rows is None:
        raise ValueError(
            "cluster_by requires compact_target_rows (clustering rides "
            "the bin-packing OPTIMIZE maintenance commit)"
        )

    def _delta_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession  # not getActiveSession(): see above
        table.commit_delta(
            batch_df,
            key_columns,
            batch_id=f"stream-{batch_id}",
            stats_cols=stats_cols,
        )
        if max_delta_filesets is None:
            return
        outstanding = table._read_manifest().get("deltas", [])
        if len(outstanding) >= max_delta_filesets:
            maint_id = f"stream-maint-{batch_id}"
            if compact_target_rows is not None:
                table.optimize(
                    spark,
                    target_rows=compact_target_rows,
                    batch_id=maint_id,
                    stats_cols=stats_cols,
                    cluster_by=cluster_by,
                )
            else:
                table.compact(
                    spark, stats_cols=stats_cols, batch_id=maint_id
                )

    writer = stream_df.writeStream.foreachBatch(_delta_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


# -- driver-certifiable query ------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from pypeline_spark.registry import query  # noqa: E402
from pypeline_spark.session import load_table  # noqa: E402


@query(
    "q_stream_autocompact",
    # The oracle recomputes the post-stream content from first
    # principles (every key%3==0 customer carries the +100 update —
    # batches are keyed DISJOINTLY, so the final state is independent
    # of micro-batch order) and pins the policy's bookkeeping as
    # constants derived from the threshold arithmetic: 5 delta commits
    # at max_delta_filesets=2 fire maintenance after batches 2 and 4
    # (outstanding 1,2->0,1,2->0,1), leaving exactly 1 outstanding
    # fileset and exactly 2 maintenance commits no matter how the
    # file source orders the triggers.  The hash match proves the
    # auto-compaction policy bounds the fileset count mid-stream
    # WITHOUT disturbing exactly-once content; the per-version bound
    # and replay-skip are pinned in tests/test_stream_to_sink.py.
    oracle="""
    WITH merged AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0
                    THEN CAST(FLOOR((c_acctbal + 100) * 100 + 0.5) AS BIGINT)
                    ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
               END AS cents
        FROM customer
    )
    SELECT CAST(c_custkey % 8 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(1 AS BIGINT) AS n_outstanding_filesets,
           CAST(2 AS BIGINT) AS n_maintenance_commits
    FROM merged GROUP BY bucket
    """,
)
def q_stream_autocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge-on-read ingest with the AUTO-COMPACTION policy
    (``max_delta_filesets`` — the Delta autoCompact / Hudi inline-
    compaction shape): five keyed micro-batches stream through
    :func:`stream_delta_manifest` with a threshold of 2, so the batch
    loop folds outstanding deltas MID-STREAM twice; the query reads
    the resolved table back, aggregates, and reports the final
    outstanding-fileset count plus the number of maintenance commits
    the ledger recorded.

    Scale: an unattended 100 TB stream lands one delta fileset per
    trigger forever — read_resolved cost and manifest size grow
    without bound; the policy caps both at the threshold with one
    O(metadata) manifest check per trigger, and crash replays skip
    the maintenance commit through the same batch-id ledger the delta
    commits use.
    """
    import shutil
    import tempfile

    from pypeline_spark.sinks.manifest import ManifestTable

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    scratch = tempfile.mkdtemp(prefix="stream_autocompact_")
    try:
        table = ManifestTable(scratch + "/tbl")
        table.commit_overwrite(
            c.filter(F.col("c_custkey") % 3 != 0), batch_id="seed"
        )
        updates = c.filter(F.col("c_custkey") % 3 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 100.0
        )
        for i in range(5):  # disjoint key slices: order-independent
            updates.filter(F.pmod(F.col("c_custkey"), 5) == i).write.mode(
                "overwrite"
            ).parquet(f"{scratch}/in/b{i}")
        q = stream_delta_manifest(
            spark.readStream.schema(updates.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{scratch}/in/b*"),
            table,
            key_columns=("c_custkey",),
            checkpoint_dir=f"{scratch}/ckpt",
            max_delta_filesets=2,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("auto-compaction stream did not finish")
        m = table._read_manifest()
        n_outstanding = len(m.get("deltas", []))
        n_maint = sum(
            1 for b in m["batch_ids"] if b.startswith("stream-maint-")
        )
        out = (
            table.read_resolved(spark)
            .groupBy(
                F.pmod("c_custkey", F.lit(8)).cast("bigint").alias("bucket")
            )
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("sum_cents"),
            )
            .withColumn(
                "n_outstanding_filesets", F.lit(n_outstanding).cast("bigint")
            )
            .withColumn(
                "n_maintenance_commits", F.lit(n_maint).cast("bigint")
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
