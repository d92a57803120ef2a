"""Sequential pipeline runner: the reference's Pypeline on Spark.

One run = ordered steps sharing a source catalog (temp views) and a
target catalog.  Mirrors the reference's Pypeline.py:11-50 (sequencing,
placeholder override, debug flag) and Pype.py:31-80 (per-step
lifecycle), with the batch loop replaced by partitioned execution and
per-step metrics replacing the per-batch log line (ref: Pype.py:65-75).

Every step runs one tail: extract -> transform -> ``_write`` (the only
code that knows the target's catalog) -> register the target's view ->
``post_query`` -> debug counts.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession

from pypeline_spark.pipeline.hydrate import hydrate_query
from pypeline_spark.pipeline.spec import PipelineConfig, PypeSpec
from pypeline_spark.pipeline.transformers import apply_transform_chain, load_transformers
from pypeline_spark.sinks.history import cdc_apply
from pypeline_spark.sinks.keyed import (
    MemoryCatalog, _dedupe_last_writer, dedup_ingest, delete_by_keys, update_only, upsert,
)

log = logging.getLogger("pypeline_spark")


@dataclass
class StepMetrics:
    """Per-step observability (replaces the reference's per-batch log,
    ref: Pype.py:65-75; rss_mb mirrors the psutil RSS at Pype.py:73 —
    driver-process resident set, read from /proc so no dependency).

    ``extract_secs`` and ``transform_secs`` time lazy planning only; the
    Spark jobs that execute extract, transform chain and write all land
    in ``load_secs``.  ``rows_in`` (extract+transform output) and
    ``rows_out`` (the target's view after the post hook) are debug-mode
    counts — production runs skip both actions."""

    name: str
    rows_in: int = 0
    rows_out: int = 0
    extract_secs: float = 0.0
    transform_secs: float = 0.0
    load_secs: float = 0.0
    rss_mb: float = 0.0


def _rss_mb() -> float:
    """Driver-process resident set in MB (0.0 where /proc is absent)."""
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return round(int(line.split()[1]) / 1024, 1)
    except OSError:  # pragma: no cover - non-Linux
        pass
    return 0.0


@dataclass
class RunResult:
    steps: list[StepMetrics] = field(default_factory=list)


class Pypeline:
    """Compile + run named pipelines from a validated config.

    ``catalog`` is the mutable target database for non-lakehouse
    steps: a get/put catalog (MemoryCatalog) or a merge-capable one
    (ParquetCatalog's file-pruned merges, JdbcMergeCatalog,
    DeltaCatalog).  ``lakehouse`` is the LakehouseCatalog for
    ``type: lakehouse`` steps.  Source
    tables are whatever temp views are registered on the session — the
    extract query runs through ``spark.sql`` (the native form of the
    reference shipping extract_query to MySQL, ref: Pype.py:36).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        catalog: Optional[MemoryCatalog] = None,
        placeholders: Optional[Mapping[str, object]] = None,
        debug: bool = False,
        lakehouse=None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.catalog = catalog if catalog is not None else MemoryCatalog()
        self.placeholders = dict(placeholders or {})
        self.debug = debug
        # LakehouseCatalog for `type: lakehouse` steps (the ACID tier);
        # None until a pipeline actually uses one.
        self.lakehouse = lakehouse

    def run(
        self, name: str, placeholders: Optional[Mapping[str, object]] = None
    ) -> RunResult:
        """Run one named pipeline; run-time placeholders override the
        constructor's (ref: Pypeline.py:27-28)."""
        ph = dict(self.placeholders)
        ph.update(placeholders or {})
        result = RunResult()
        for spec in self.config.get_pypes(name):
            result.steps.append(self._run_step(spec, ph))
        return result

    def _run_step(self, spec: PypeSpec, ph: Mapping[str, object]) -> StepMetrics:
        m = StepMetrics(name=spec.name)

        # extract (N1/N9): hydrate then spark.sql.  The lakehouse
        # UPDATE/DELETE .. WHERE forms consume no extract (the
        # predicate runs against the target) — spec validation only
        # admits an empty extract_query for those.
        t0 = time.time()
        df = None
        if spec.extract_query:
            df = self.spark.sql(hydrate_query(spec.extract_query, ph))
        m.extract_secs = time.time() - t0

        # transform chain (N3/N4)
        t0 = time.time()
        if spec.transformers and df is not None:
            chain = load_transformers(spec.transformers)
            df = apply_transform_chain(df, chain, spec.transformer_schema)
        m.transform_secs = time.time() - t0

        # rows_in: debug-only explicit count (ref: Pype.py:65-75).  An
        # Observation metric silently reads 0: the catalog's
        # localCheckpoint severs the plan above the CollectMetrics node.
        if (self.debug or spec.debug) and df is not None and not df.isStreaming:
            m.rows_in = df.count()

        # load (N5-N7; ref: Pype.py:58-61,89-92), then register the
        # target as a view so post_query and later steps see it
        t0 = time.time()
        self._register(spec.target_table, self._write(spec, df, ph))
        m.load_secs = time.time() - t0
        return self._finish_step(spec, ph, m)

    def _write(
        self, spec: PypeSpec, df: Optional[DataFrame], ph: Mapping[str, object]
    ) -> DataFrame:
        """Load one step's batch into its target; return the target's view.

        Lakehouse steps commit through ManifestTable with the batch
        ledger; keyed steps on a merge-capable catalog (ParquetCatalog,
        JdbcMergeCatalog, DeltaCatalog) run its native MERGE, which
        rewrites only what the batch touches; every other step reads the
        target, computes its new value and puts it."""
        name = spec.target_table
        if spec.type == "lakehouse":
            return self._write_lakehouse(spec, df, ph)
        if df is not None and df.isStreaming:
            raise ValueError(
                f"pype {spec.name!r}: a streaming extract_query is only supported on "
                "'type: lakehouse' steps (foreachBatch + the exactly-once ledger); "
                "other sinks are batch-only"
            )
        cols = {
            "key_columns": spec.key_columns,
            "fields_excluded_from_update": spec.fields_excluded_from_update,
        }
        # keyed types: (the catalog's native MERGE, the join-based sink, arguments)
        op, sink, kwargs = {
            "upsert": ("merge_upsert", upsert, cols),
            "update": ("merge_update_only", update_only, cols),
            "delete": ("merge_delete", delete_by_keys, {"identifier": spec.identifier}),
        }.get(spec.type, (None, None, {}))
        merge = getattr(self.catalog, op, None) if op else None
        if merge is not None:
            merge(name, df, **kwargs)
        else:
            target = self.catalog.get(name)
            self.catalog.put(name, self._new_value(spec, target, df, sink, kwargs))
        return self.catalog.get(name)

    def _new_value(self, spec: PypeSpec, target, df, sink, kwargs) -> DataFrame:
        """The target's next value on a get/put catalog."""
        if target is None and spec.type in ("update", "delete"):
            raise ValueError(f"{spec.type} target {spec.target_table!r} does not exist")
        if sink is not None:  # the first upsert creates the table, one row per key
            if target is None:
                return _dedupe_last_writer(df, spec.key_columns, None)
            return sink(target, df, **kwargs)
        if spec.type == "cdc":
            if target is None:
                # first batch against an empty base: survivors only
                base = [c for c in df.columns if c not in (spec.seq_column, spec.op_column)]
                target = self.spark.createDataFrame([], df.select(base).schema)
            return cdc_apply(
                target, df, key_columns=spec.key_columns,
                seq_col=spec.seq_column, op_col=spec.op_column,
            )
        if spec.type == "dedup":
            return dedup_ingest(
                target, df, spec.key_columns[0], spec.text_column, spec.dedup_method
            )
        if spec.type == "append" and target is not None:
            return target.unionByName(df)
        return df  # overwrite, or an append's first load

    def _write_lakehouse(
        self, spec: PypeSpec, df: Optional[DataFrame], ph: Mapping[str, object]
    ) -> DataFrame:
        # the same YAML surface over ManifestTable MERGE/DML with the
        # exactly-once batch ledger; the returned view is the RESOLVED
        # table (deletion vectors applied, deltas folded)
        from pypeline_spark.pipeline import lakehouse

        if self.lakehouse is None:
            raise ValueError(
                f"pype {spec.name!r} is a lakehouse step but the Pypeline was built "
                "without a LakehouseCatalog (pass lakehouse=LakehouseCatalog(base_dir))"
            )
        if df is not None and df.isStreaming:
            # a STREAMING extract: foreachBatch micro-batches with
            # per-epoch ledger ids, drained with availableNow
            q = lakehouse.run_lakehouse_stream(self.spark, self.lakehouse, spec, df, ph)
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    f"pype {spec.name!r}: streaming ingest did not drain within 600s"
                )
        else:
            lakehouse.run_lakehouse_step(self.spark, self.lakehouse, spec, df, ph)
        resolved = self.lakehouse.get(self.spark, spec.target_table)
        if resolved is None:
            # version 0 (a predicate-only step on a never-seeded table)
            # or an emptied UNTRACKED table
            raise ValueError(
                f"lakehouse step {spec.name!r}: target table {spec.target_table!r} has no "
                "readable view (never seeded, or emptied without a tracked schema) — "
                "seed it with an upsert/append/overwrite step first"
            )
        return resolved

    def _register(self, name: str, view: Optional[DataFrame]) -> None:
        """Publish a table's current value as the temp view SQL reads."""
        if view is not None:
            view.createOrReplaceTempView(name)

    def _finish_step(
        self, spec: PypeSpec, ph: Mapping[str, object], m: StepMetrics
    ) -> StepMetrics:
        # post hook (N10; ref: Pype.py:164-167).  With a LakehouseCatalog
        # attached the hook is WRITE-CAPABLE: a MERGE/UPDATE/DELETE/
        # DESCRIBE HISTORY/VACUUM/RESTORE statement on one of its tables
        # dispatches through the SQL router onto ManifestTable, whatever
        # the step's type; anything else runs through spark.sql.
        if spec.post_query:
            post = hydrate_query(spec.post_query, ph)
            routed = False
            if self.lakehouse is not None:
                from pypeline_spark.sinks.sql import try_execute_table_sql

                routed, _res, tname = try_execute_table_sql(self.spark, self.lakehouse, post)
                if routed:
                    # the statement may have written: re-register the
                    # resolved view so later steps see the new state
                    self._register(tname, self.lakehouse.get(self.spark, tname))
            if not routed:
                self.spark.sql(post)

        if self.debug or spec.debug:
            m.rows_out = self.spark.table(spec.target_table).count()
            m.rss_mb = _rss_mb()
            log.info(
                "pype %s: rows_in=%d rows=%d extract=%.2fs transform=%.2fs "
                "load=%.2fs rss=%.1fMB", spec.name, m.rows_in, m.rows_out,
                m.extract_secs, m.transform_secs, m.load_secs, m.rss_mb,
            )
        return m
