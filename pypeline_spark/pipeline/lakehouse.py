"""Lakehouse pipeline sink: the YAML step surface over ManifestTable.

The reference's per-step lifecycle writes into its target DATABASE
(extract -> transform -> keyed write -> post_query, ref:
/root/reference/pypeline/Pype.py:31-80,164-167).  The ``lakehouse``
step type binds that exact surface to :class:`ManifestTable` instead:
upserts dispatch to the conditional ``MERGE INTO`` (deletion-vector
mode whenever merge-on-read deltas are outstanding, so a streaming
table never needs a mid-ingest compact), update steps to a
matched-only merge or ``UPDATE .. WHERE``, delete steps to a keyed
anti-merge or ``DELETE .. WHERE`` — and every step's ``batch_id``
flows into the table's bounded exactly-once ledger, so a re-run
pipeline step is a proven no-op and a replay from beyond ledger
retention is rejected loudly (``StaleBatchReplay``) instead of
double-applying.  ``post_query`` then runs over the RESOLVED view
(deletion vectors applied, outstanding deltas folded) registered
under the step's ``target_table`` name.

This is the round-17 directive wiring the repo's two halves together:
the reference-shaped declarative pipeline finally lands on the
ACID/OCC/time-travel tier instead of join-based parquet rewrites.
"""

from __future__ import annotations

import os
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession

from pypeline_spark.sinks.manifest import ManifestTable


class LakehouseCatalog:
    """Resolves pipeline ``target_table`` names to ManifestTable roots.

    Default resolution is ``base_dir/<name>``; :meth:`register` pins a
    name to an explicit root (an existing table living elsewhere).
    ManifestTable instances are cached per name so a multi-step
    pipeline shares one materialization cache per table.
    """

    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        self._roots: dict[str, str] = {}
        self._tables: dict[str, ManifestTable] = {}

    def register(self, name: str, root: str) -> None:
        self._roots[name] = root

    def owns(self, name: str) -> bool:
        """True when the catalog actually owns a COMMITTED table under
        this name: explicitly registered, or version files exist on
        disk at its default root.  Side-effect-free by contract — it
        never instantiates (and so never mkdirs) a
        :class:`ManifestTable` for a name it does not own.  The SQL
        router's r18 probe used the instance cache as a known-table
        set, which its own ``catalog.table(name)`` probe polluted: the
        second identical statement against a plain Spark table found
        the cached empty instance and was silently routed to a
        phantom lakehouse table (ADVICE r19, high)."""
        if name in self._roots:
            return True
        root = os.path.join(self.base_dir, name)
        if os.path.exists(os.path.join(root, "_manifest.json")):
            return True
        try:
            return any(
                f.startswith("_manifest.v") and f.endswith(".json")
                for f in os.listdir(root)
            )
        except OSError:
            return False

    def table(self, name: str) -> ManifestTable:
        t = self._tables.get(name)
        if t is None:
            root = self._roots.get(name, os.path.join(self.base_dir, name))
            t = ManifestTable(root)
            self._tables[name] = t
        return t

    def get(self, spark: SparkSession, name: str) -> Optional[DataFrame]:
        """The RESOLVED current view — dv applied, outstanding
        merge-on-read deltas last-writer-wins folded — or None when
        the table has no committed version yet.  A table a predicate
        DML emptied (``ManifestTable.read`` returns None on an empty
        file list) still resolves to a zero-row frame under its
        tracked schema, so a ``DELETE .. WHERE`` step that removes the
        last row keeps the target view registrable (ADVICE r18)."""
        t = self.table(name)
        if t.version() == 0:
            return None
        m = t._read_manifest()
        if m.get("deltas"):
            return t.read_resolved(spark)
        out = t.read(spark)
        if out is None:
            sch = m.get("schema")
            if sch is None:
                return None
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(sch))
        return out


def _hydrate_batch_id(
    template: Optional[str], ph: Mapping[str, object]
) -> Optional[str]:
    """Hydrate a ``{name}``-token batch-id template with the SAME
    placeholder surface the extract query uses, so one run-scoped
    value (a CDC sequence number, a date) keys both the scan and the
    ledger entry.  Unresolved tokens raise exactly like the query
    path."""
    if template is None:
        return None
    from pypeline_spark.pipeline.hydrate import hydrate_query

    return hydrate_query(template, ph)


def run_lakehouse_step(
    spark: SparkSession,
    catalog: LakehouseCatalog,
    spec,
    source: Optional[DataFrame],
    ph: Mapping[str, object],
) -> None:
    """Dispatch one ``type: lakehouse`` step onto its ManifestTable.

    ``source`` is the extracted+transformed batch (None for the
    predicate-only forms, which consume no extract).  Dispatch:

    - ``lakehouse_op: upsert`` — first load seeds the table
      (``commit_overwrite``); afterwards a MERGE with
      WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT, honouring
      ``fields_excluded_from_update`` on the update clause only (the
      reference's exclusion semantics, Pype.py:117-125).
    - ``lakehouse_op: update`` — ``where`` + ``assignments`` present:
      ``UPDATE .. WHERE``; else a matched-only merge (source rows
      without a target match are ignored — the N6 contract).
    - ``lakehouse_op: delete`` — ``where`` present: ``DELETE ..
      WHERE``; else a keyed anti-merge on ``identifier`` (the N7
      delete-by-key contract; source keys set-deduped like the
      reference's ``set()`` at Pype.py:184).

    Mode selection is :meth:`ManifestTable.dml_mode`: ``dv`` whenever
    the table carries outstanding merge-on-read deltas (the
    copy-on-write forms refuse that state) or tracks row ids, else
    ``cow``.  The step's hydrated
    ``batch_id`` rides into the exactly-once ledger on every form.

    Keyed merges (upsert, keyed update, keyed delete) prune by key
    range: the first key column bounds the batch, and only the base and
    delta files whose recorded [min, max] overlaps it are read and
    joined.  That is exact, since every image of a key shares its key
    value.  The files these merges write record [min, max] stats for
    the key columns, so later steps can skip them too.
    """
    t = catalog.table(spec.target_table)
    batch_id = _hydrate_batch_id(spec.batch_id, ph)
    op = spec.lakehouse_op
    mode = t.dml_mode()

    if op == "upsert":
        keys = list(spec.key_columns)
        if t.version() == 0:
            t.commit_overwrite(
                source, batch_id=batch_id, stats_cols=keys
            )
            return
        excluded = set(spec.fields_excluded_from_update or ())
        if excluded:
            payload = {
                c: f"s.{c}"
                for c in source.columns
                if c not in keys and c not in excluded
            }
        else:
            payload = "*"
        t.merge_into(
            spark,
            source,
            key_columns=keys,
            clauses=[("update", None, payload), ("insert", None, "*")],
            batch_id=batch_id,
            stats_cols=keys,
            prune_col=keys[0],
            mode=mode,
        )
    elif op == "update":
        if spec.where:
            t.update_where(
                spark,
                spec.where,
                dict(spec.assignments),
                batch_id=batch_id,
                mode=mode,
            )
        else:
            keys = list(spec.key_columns)
            excluded = set(spec.fields_excluded_from_update or ())
            payload = {
                c: f"s.{c}"
                for c in source.columns
                if c not in keys and c not in excluded
            }
            t.merge_into(
                spark,
                source,
                key_columns=keys,
                clauses=[("update", None, payload)],
                batch_id=batch_id,
                stats_cols=keys,
                prune_col=keys[0],
                mode=mode,
            )
    elif op == "delete":
        if spec.where:
            t.delete_where(spark, spec.where, batch_id=batch_id, mode=mode)
        else:
            key = spec.identifier
            t.merge_into(
                spark,
                source.select(key).distinct(),
                key_columns=[key],
                clauses=[("delete", None, None)],
                batch_id=batch_id,
                stats_cols=[key],
                prune_col=key,
                mode=mode,
            )
    elif op in ("append", "overwrite"):
        # the plain ingest forms (r18 directive #2): append commits
        # the batch as NEW base files through the ledger — no existing
        # file read or rewritten; overwrite replaces the content.
        # Per-file skipping stats come from the declared key columns
        # (the columns later steps predicate on), skipping any the
        # batch doesn't carry.
        stats = [c for c in spec.key_columns if c in source.columns]
        if op == "append":
            t.commit_append(source, batch_id=batch_id, stats_cols=stats)
        else:
            t.commit_overwrite(
                source, batch_id=batch_id, stats_cols=stats
            )
    else:  # pragma: no cover - spec validation rejects earlier
        raise ValueError(f"unknown lakehouse_op {op!r}")


def run_lakehouse_stream(
    spark: SparkSession,
    catalog: LakehouseCatalog,
    spec,
    sdf: DataFrame,
    ph: Mapping[str, object],
):
    """Micro-batch a STREAMING extract into the lakehouse step's table
    (r18 directive #2): ``foreachBatch`` dispatches every micro-batch
    through :func:`run_lakehouse_step` with the step's ``batch_id``
    template hydrated per batch — ``{seq}`` binds to the Structured
    Streaming epoch id, so each trigger lands in the table's bounded
    exactly-once ledger under a monotone per-stream id
    (``stream-{seq}`` → the ``(stream, seq)`` high-water-mark shape).
    A post-crash checkpoint replay re-delivers the same epoch id with
    the same rows, and the ledger makes the re-commit a version-level
    no-op — the hand-written shape of tests/test_stream_to_sink.py as
    a declarative YAML step.

    Runs with ``availableNow`` (drain the backlog, then stop): the
    batch-pipeline runner awaits termination so later steps see the
    fully-ingested table.  A long-lived continuous ingest would start
    the same binding with a processing-time trigger instead."""
    template = spec.batch_id
    if template is None or "{seq}" not in template:
        raise ValueError(
            f"pype {spec.name!r}: a streaming lakehouse step needs a "
            "batch_id template containing '{seq}' (e.g. "
            "'stream-{seq}') — without a per-epoch ledger id a "
            "checkpoint replay after a crash would double-apply the "
            "batch"
        )
    if not spec.checkpoint_dir:
        raise ValueError(
            f"pype {spec.name!r}: a streaming lakehouse step needs "
            "checkpoint_dir (the Structured Streaming offset log)"
        )

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        run_lakehouse_step(
            spark, catalog, spec, batch_df,
            {**ph, "seq": int(epoch_id)},
        )

    return (
        sdf.writeStream.foreachBatch(_commit)
        .trigger(availableNow=True)
        .option("checkpointLocation", spec.checkpoint_dir)
        .start()
    )
