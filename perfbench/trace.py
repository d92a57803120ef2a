"""Traced-run instrumentation, applied from outside the program.

The tracer wraps the layer entry points that
``pypeline_spark.pipeline.runner`` resolves by module attribute
(``hydrate_query``, ``load_transformers``, ``apply_transform_chain``,
``upsert`` / ``update_only`` / ``delete_by_keys``), the lakehouse step
dispatcher, the session's ``sql`` method and the catalog objects the
benchmark hands to ``Pypeline``.  Every wrapped call records a span
(name, start, end, parent, run id, step id) in memory.

Spark is lazy, so the work a step does would otherwise all land in the
sink's span.  The traced run therefore forces the extracted frame, and
the transformed frame, into a ``noop`` write right where they are
built, persisting each so the sink reads the cached result instead of
recomputing it: the extract's and the transformer chain's execution
then show up in their own spans, and the sink span holds only the
merge and the write.  A layer's self time is its span's duration minus
its child spans, so the self times of one step's span tree add up to
the step's wall time exactly; the cost of forcing shows as the traced
run's overhead over an untraced pass.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Optional

import pypeline_spark.pipeline.lakehouse as lakehouse_mod
import pypeline_spark.pipeline.runner as runner_mod

from perfbench import plugins

_MISSING = object()
STEP = "step"


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    run: int
    step: int
    start: float
    end: float = 0.0


def self_times(spans: list) -> dict:
    """Total self time per span name: duration minus direct children."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    out: dict = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.sid, 0.0)
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._undo: list = []
        self._persisted: list = []
        self._phase = "extract"
        self.run = 0
        self.step = 0
        self.replay = False
        self.groups: list = []  # job group ids of steps not yet counted
        self.commits = 0
        self.replays = 0
        self.noops = 0
        self.user_s = self.sc.accumulator(0.0)
        self.rows = self.sc.accumulator(0)

    # -- spans ------------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, self.run, self.step, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, name: str, fn, then_post: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if then_post:
                self._phase = "post"
            return out

        return wrapper

    def _force(self, df):
        """Execute ``df`` now and keep the result for the sink to read."""
        df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._persisted.append(df)
        return df

    # -- patching ----------------------------------------------------------------

    def _patch(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, vars(obj).get(attr, _MISSING)))
        setattr(obj, attr, new)

    def install(self) -> None:
        """Patch the process-wide entry points; undone by :meth:`uninstall`."""
        r = runner_mod
        self._patch(r, "hydrate_query", self._wrap("runner.hydrate", r.hydrate_query))
        self._patch(r, "load_transformers", self._wrap("transformers.load", r.load_transformers))
        self._patch(r, "apply_transform_chain", self._chain(r.apply_transform_chain))
        for fn in ("upsert", "update_only", "delete_by_keys"):
            self._patch(r, fn, self._wrap("keyed.merge_plan", getattr(r, fn)))
        self._patch(
            lakehouse_mod, "run_lakehouse_step", self._lakehouse(lakehouse_mod.run_lakehouse_step)
        )
        self._patch(self.spark, "sql", self._sql(self.spark.sql))
        self._patch(plugins, "COUNTERS", {"user_s": self.user_s, "rows": self.rows})

    def uninstall(self) -> None:
        for obj, attr, old in reversed(self._undo):
            if old is _MISSING:
                delattr(obj, attr)
            else:
                setattr(obj, attr, old)
        self._undo.clear()

    def attach(self, pipe) -> None:
        """Wrap one pass's Pypeline and the catalogs it was given."""
        pipe._run_step = self._step(pipe._run_step)
        cat = pipe.catalog
        cat.get = self._wrap("keyed.get", cat.get)
        cat.put = self._wrap("keyed.put", cat.put, then_post=True)
        if pipe.lakehouse is not None:
            pipe.lakehouse.get = self._wrap("manifest.resolve", pipe.lakehouse.get)

    def _step(self, fn):
        @functools.wraps(fn)
        def wrapper(spec, ph):
            self._phase = "extract"
            gid = f"perfbench-{self.run}-{self.step}"
            self.sc.setJobGroup(gid, gid)
            try:
                with self.span(STEP):
                    return fn(spec, ph)
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.groups.append(gid)
                for df in self._persisted:
                    df.unpersist()
                self._persisted.clear()

        return wrapper

    def _sql(self, fn):
        @functools.wraps(fn)
        def wrapper(query, *args, **kwargs):
            # only the runner's own calls, made directly under the step
            # span; sql issued inside a sink stays part of that sink
            if not self._stack or self._stack[-1].name != STEP:
                return fn(query, *args, **kwargs)
            if self._phase == "post":
                with self.span("runner.post"):
                    return fn(query, *args, **kwargs)
            with self.span("runner.extract_plan"):
                df = fn(query, *args, **kwargs)
            with self.span("runner.extract_exec"):
                return self._force(df)

        return wrapper

    def _chain(self, fn):
        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            with self.span("transformers.plan"):
                out = fn(df, *args, **kwargs)
            with self.span("transformers.exec"):
                return self._force(out)

        return wrapper

    def _lakehouse(self, fn):
        @functools.wraps(fn)
        def wrapper(spark, catalog, spec, source, ph):
            with self.span("trace.probe"):
                table = catalog.table(spec.target_table)
                v0 = table.version()
            with self.span("manifest.step"):
                fn(spark, catalog, spec, source, ph)
            with self.span("trace.probe"):
                v1 = table.version()
            self.commits += v1 - v0
            if self.replay:
                self.replays += 1
                self.noops += v1 == v0
            self._phase = "post"

        return wrapper

    # -- engine counters ------------------------------------------------------------

    def spark_counts(self) -> dict:
        """Jobs, stages that ran and tasks completed under each traced
        step's job group, read from the status tracker.  Drains the
        pending groups, so call it once per pass, before the tracker's
        retention limit drops old jobs."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for gid in self.groups:
            for jid in st.getJobIdsForGroup(gid):
                out["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        out["stages"] += 1
                        out["tasks"] += si.numCompletedTasks
        self.groups.clear()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
