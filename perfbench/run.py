"""Pipeline benchmark: seeded batch workloads through ``Pypeline.run``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload keyed_batches --seed 1 --seconds 10 --trace 0

One invocation generates TPC-H-shaped source tables from ``--seed``,
starts one Spark session on ``local[<cpus>]``, and drives one workload
as a closed loop with a single client: one ``Pypeline.run`` call per
planned step, the steps one after another as a scheduler would run
them.  A *pass* restores the seeded target and runs the whole plan.
Untimed warm-up passes come first; timed passes then repeat until
``--seconds`` have elapsed, at least two of them.  After every timed
pass the final targets are checked against a DuckDB replay of the same
plan.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced pass, then traced passes that time each layer from outside
(see :mod:`perfbench.trace`), and prints the per-layer metrics.  The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("keyed_batches", "row_transform", "rollup_extract", "lakehouse_batches")
APP = "perfbench"
SOURCE_TABLES = ("customer", "orders", "lineitem")
#: TPC-H scale factor of the generated sources (sf 0.1: ~600k line items)
SCALE = 0.1
WARM_SECONDS = 10.0
#: set-ups timed per pass (the last one's pipeline runs the pass)
SETUP_REPEATS = 10
#: set-ups of the first warm-up pass: set-up times still fall by half
#: over the first ~200 in a process, as the JIT compiles that path
SETUP_WARMUPS = 250
#: driver JVM heap (the session runs local mode: driver = executor)
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "step_p50_s": "s",
    "bytes_written_per_row": "B/row",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.register_s": "s",
    "spec.compile_s": "s",
    "runner.self_s": "s",
    "runner.hydrate_s": "s",
    "runner.extract_plan_s": "s",
    "runner.extract_exec_s": "s",
    "runner.post_s": "s",
    "transformers.plan_s": "s",
    "transformers.exec_self_s": "s",
    "transformers.user_s": "s",
    "transformers.user_share": "ratio",
    "transformers.rows": "count",
    "keyed.get_s": "s",
    "keyed.merge_plan_s": "s",
    "keyed.put_s": "s",
    "keyed.rows_written": "count",
    "keyed.bytes_written": "B",
    "keyed.write_amp": "ratio",
    "manifest.step_s": "s",
    "manifest.resolve_s": "s",
    "manifest.commits": "count",
    "manifest.replay_noop_ratio": "ratio",
    "manifest.bytes_written": "B",
    "manifest.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
}


@dataclass
class Pass:
    run: int
    setup_s: list = field(default_factory=list)  # one entry per set-up
    step_s: list = field(default_factory=list)  # one entry per completed step
    replay: list = field(default_factory=list)  # parallel to step_s
    bytes_written: int = 0
    rows_written: int = 0
    attempted: int = 0
    ok: bool = True

    @property
    def run_s(self) -> float:
        return sum(self.step_s)


@dataclass
class Result:
    workload: str
    passes: list
    rows_per_pass: int
    metrics: dict
    spans_path: str = ""
    notes: list = field(default_factory=list)

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.passes)

    @property
    def failed(self) -> int:
        return sum(p.attempted for p in self.passes if not p.ok)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and let Spark's Python workers import this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        # the whole heap resident from the start, so peak RSS does not
        # depend on when the collector last grew it
        f'-Xms{HEAP} -XX:+AlwaysPreTouch" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and anything still
    running under this process, waiting for each to exit."""
    from perfbench.measure import tree_pids

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and len(tree_pids(os.getpid())) > 1:
        time.sleep(0.1)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _p90(values: list) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def bench(workload: str, seed: int, seconds: float, trace: bool, work: str,
          scale: float = SCALE, warm_s: float = WARM_SECONDS) -> Result:
    """Run one invocation's passes inside ``work``; spans of a traced
    run go to ``<work>/../spans``."""
    import yaml

    from perfbench import datagen, oracle
    from perfbench.measure import RssSampler, WriteMeter
    from perfbench.workloads import WORKLOADS

    fixtures = os.path.join(work, "fixtures")
    counts = datagen.generate(fixtures, seed, scale)
    wl = WORKLOADS[workload](work, fixtures, counts, seed)
    con = oracle.connect(fixtures, SOURCE_TABLES)
    expected = wl.oracle_hashes(con)
    rows_per_pass = sum(s.rows for s in wl.steps)
    cfg_path = os.path.join(work, "pipeline.yaml")
    with open(cfg_path, "w") as fh:
        yaml.safe_dump(wl.config(), fh)

    from pypeline_spark.pipeline.spec import PipelineConfig
    from pypeline_spark.session import get_spark, register_tables

    notes: list = []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(APP)
        start_s = time.perf_counter() - t0
        try:
            register_tables(spark, fixtures, only=wl.tables)
            wl.prepare(spark)
            meter = WriteMeter(wl.target_root)
            tracer = None

            def one_pass(run: int, steps: list, setups: int = SETUP_REPEATS,
                         check: bool = True) -> Pass:
                """Set up ``setups`` times (each restores the target), run
                ``steps`` once, and, if ``check``, compare the targets
                with the oracle's."""
                traced = tracer is not None
                span = tracer.span if traced else (lambda name: nullcontext())
                if traced:
                    tracer.run, tracer.step = run, -1
                p = Pass(run)
                for _ in range(setups):
                    t0 = time.perf_counter()
                    s = get_spark(APP)
                    with span("session.register"):
                        register_tables(s, fixtures, only=wl.tables)
                    with span("spec.compile"):
                        config = PipelineConfig.from_yaml(cfg_path)
                    wl.restore()
                    pipe = wl.pipeline(s, config)
                    p.setup_s.append(time.perf_counter() - t0)
                meter.reset()
                if traced:
                    tracer.attach(pipe)
                for i, step in enumerate(steps):
                    p.attempted += 1
                    if traced:
                        tracer.step, tracer.replay = i, step.replay
                    t = time.perf_counter()
                    try:
                        pipe.run(step.pipeline, step.ph)
                    except Exception:
                        # a failing step fails its whole run; keep going
                        traceback.print_exc(file=sys.stderr)
                        notes.append(f"pass {run} step {i} ({step.pipeline}) raised")
                        p.ok = False
                        return p
                    p.step_s.append(time.perf_counter() - t)
                    p.replay.append(step.replay)
                    b, r = meter.delta(rows=traced)
                    p.bytes_written += b
                    p.rows_written += r
                    if not wl.after_step(step, pipe):
                        notes.append(f"pass {run} step {i}: replayed batch changed the version")
                        p.ok = False
                if check and p.ok:
                    got = wl.engine_hashes(s, con)
                    if got != expected:
                        notes.append(f"pass {run}: oracle mismatch {got} != {expected}")
                        p.ok = False
                return p

            # JIT warm-up: whole passes over the warm-up plan until
            # WARM_SECONDS have passed, at least one of them; their
            # failures count, their times do not
            warm: list = []
            warm_end = time.perf_counter() + warm_s
            while not warm or time.perf_counter() < warm_end:
                setups = SETUP_REPEATS if warm else SETUP_WARMUPS
                warm.append(one_pass(-1, wl.warmup(), setups, check=False))
            passes = [w for w in warm if not w.ok]
            baseline = None
            deadline = time.perf_counter() + seconds
            spark_counts = {"jobs": 0, "stages": 0, "tasks": 0}
            run = 0
            while True:
                if trace and run == 1:
                    from perfbench.trace import Tracer

                    baseline = passes[-1]
                    tracer = Tracer(spark)
                    tracer.install()
                passes.append(one_pass(run, wl.steps))
                if tracer is not None:
                    for k, v in tracer.spark_counts().items():
                        spark_counts[k] += v
                run += 1
                if time.perf_counter() >= deadline and run >= 2:
                    break
            if tracer is not None:
                tracer.uninstall()
        finally:
            _stop_spark(spark)
    con.close()

    timed = [p for p in passes if p.run >= 0]
    if not trace:
        metrics = _end_to_end(timed, rows_per_pass, rss.peak_mb)
        return Result(workload, passes, rows_per_pass, metrics, notes=notes)
    spans_dir = os.path.join(os.path.dirname(work), "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{workload}-seed{seed}-{os.getpid()}.json")
    tracer.dump(spans_path)
    traced = [p for p in timed if p is not baseline]
    metrics = _per_layer(wl, tracer, traced, baseline, rows_per_pass, start_s, spark_counts)
    return Result(workload, passes, rows_per_pass, metrics, spans_path, notes)


def _good(passes: list) -> list:
    """The timed passes that checked out, or every timed pass if none
    did: a run whose every step raised still reports (as failed) numbers."""
    timed = [p for p in passes if p.run >= 0]
    return [p for p in timed if p.ok] or timed


def _planned_steps(passes: list) -> list:
    """Wall times of the planned steps of ``passes``, replays left out."""
    return [t for p in passes for t, rep in zip(p.step_s, p.replay) if not rep] or [0.0]


def _end_to_end(passes: list, rows_per_pass: int, peak_mb: float) -> dict:
    good = _good(passes)
    steps = _planned_steps(good)
    # the plan's wall time with each planned step at its median over the
    # passes: a stall in one step of a pass moves only that step's median
    run_s = sum(statistics.median(ts) for ts in zip(*(p.step_s for p in good)))
    return {
        "setup_s": statistics.median(t for p in good for t in p.setup_s),
        "run_s": run_s,
        "rows_per_s": rows_per_pass / run_s if run_s else 0.0,
        "step_p50_s": statistics.median(steps),
        "bytes_written_per_row": sum(p.bytes_written for p in good) / (rows_per_pass * len(good)),
        "peak_rss_mb": peak_mb,
    }


def _per_layer(wl, tracer, traced: list, baseline, rows_per_pass: int,
               start_s: float, spark_counts: dict) -> dict:
    from perfbench.trace import STEP, self_times

    runs = {p.run for p in traced}
    step_spans = [s for s in tracer.spans if s.step >= 0 and s.run in runs]
    n_steps = max(1, sum(1 for s in step_spans if s.name == STEP))
    st = self_times(step_spans)

    def per_step(*names: str) -> float:
        return sum(st.get(n, 0.0) for n in names) / n_steps

    def setup_median(name: str) -> float:
        d = [s.end - s.start for s in tracer.spans if s.name == name and s.run in runs]
        return statistics.median(d) if d else 0.0

    batch_rows = rows_per_pass * len(traced)
    written = sum(p.rows_written for p in traced)
    written_b = sum(p.bytes_written for p in traced)
    sink = {
        "rows_written": written / n_steps,
        "bytes_written": written_b / n_steps,
        "write_amp": written / batch_rows if batch_rows else 0.0,
    }
    exec_total = st.get("transformers.exec", 0.0)
    m = {
        "session.start_s": start_s,
        "session.register_s": setup_median("session.register"),
        "spec.compile_s": setup_median("spec.compile"),
        "runner.self_s": per_step(STEP),
        "runner.hydrate_s": per_step("runner.hydrate"),
        "runner.extract_plan_s": per_step("runner.extract_plan"),
        "runner.extract_exec_s": per_step("runner.extract_exec"),
        "runner.post_s": per_step("runner.post"),
        "transformers.plan_s": per_step("transformers.load", "transformers.plan"),
        "transformers.exec_self_s": per_step("transformers.exec"),
        "transformers.user_s": tracer.user_s.value / n_steps,
        "transformers.user_share": tracer.user_s.value / exec_total if exec_total else 0.0,
        "transformers.rows": tracer.rows.value / n_steps,
        "keyed.get_s": per_step("keyed.get"),
        "keyed.merge_plan_s": per_step("keyed.merge_plan"),
        "keyed.put_s": per_step("keyed.put"),
        "manifest.step_s": per_step("manifest.step"),
        "manifest.resolve_s": per_step("manifest.resolve"),
        "manifest.commits": tracer.commits / n_steps,
        "manifest.replay_noop_ratio": tracer.noops / tracer.replays if tracer.replays else 0.0,
        "spark.jobs": spark_counts["jobs"] / n_steps,
        "spark.stages": spark_counts["stages"] / n_steps,
        "spark.tasks": spark_counts["tasks"] / n_steps,
        "trace.overhead_s": statistics.median(p.run_s for p in traced) - baseline.run_s,
    }
    for layer in ("keyed", "manifest"):
        for k, v in sink.items():
            m[f"{layer}.{k}"] = v if wl.sink == layer else 0.0
    return {k: m[k] for k in PER_LAYER}


def _report(res: Result, load_avg, args) -> dict:
    units = PER_LAYER if args.trace else END_TO_END
    print(
        f"perfbench workload={res.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} load_avg_start={load_avg} passes={len(res.passes)} "
        f"rows_per_pass={res.rows_per_pass}"
    )
    for k, v in res.metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    if not args.trace:
        # printed, not in the result line: a run has fewer than ten step
        # samples above its p90 (a few on lakehouse_batches), too few to
        # hold a p90 within any bound from run to run
        steps = _planned_steps(_good(res.passes))
        p90 = _p90(steps)
        above = sum(1 for t in steps if t > p90)
        print(f"  step_p90_s = {p90:.6g} s ({len(steps)} step samples, {above} above it)")
    ratio = res.failed / res.attempted if res.attempted else 0.0
    print(f"  failed_ratio = {ratio:.6g} ratio ({res.failed}/{res.attempted} steps)")
    print(f"  oracle: {'ok' if res.failed == 0 else 'FAILED'}")
    for note in res.notes:
        print(f"  note: {note}")
    if res.spans_path:
        print(f"  spans: {os.path.relpath(res.spans_path, ROOT)}")
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res.metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pypeline_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 3

    load_avg = [round(x, 2) for x in os.getloadavg()]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        res = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = _report(res, load_avg, args)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
