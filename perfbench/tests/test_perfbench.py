"""Tests of the pipeline benchmark itself, on sf 0.001 sources.

Each Spark-backed case runs the benchmark in a fresh interpreter (one
JVM per invocation, as the command line does).  Run with::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.datagen import generate  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

_SNIPPET = """
import json, sys
sys.path.insert(0, {root!r})
{prelude}
from perfbench import run
run._environment({work!r})
res = run.bench({workload!r}, 3, 0.5, {trace}, {work!r}, scale=0.001, warm_s=0.3)
print(json.dumps({{"metrics": res.metrics, "attempted": res.attempted,
                  "failed": res.failed, "spans": res.spans_path}}))
"""


def _bench(tmp_path, workload: str, trace: bool, prelude: str = "") -> dict:
    code = _SNIPPET.format(
        root=ROOT, work=str(tmp_path / "work"), workload=workload, trace=trace, prelude=prelude
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600, cwd=ROOT
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_emits_every_end_to_end_metric(tmp_path, workload):
    out = _bench(tmp_path, workload, trace=False)
    assert out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == set(END_TO_END)
    assert all(v > 0 for v in out["metrics"].values()), out["metrics"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_step_self_times_sum_to_wall(tmp_path, workload):
    out = _bench(tmp_path, workload, trace=True)
    assert out["failed"] == 0
    assert set(out["metrics"]) == set(PER_LAYER)
    with open(out["spans"]) as fh:
        spans = json.load(fh)
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def self_sum(s) -> float:
        kids = children.get(s["sid"], [])
        own = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
        return own + sum(self_sum(k) for k in kids)

    steps = [s for s in spans if s["name"] == "step"]
    assert steps
    slack = max(abs(out["metrics"]["trace.overhead_s"]), 1e-6)
    for s in steps:
        assert abs(self_sum(s) - (s["end"] - s["start"])) <= slack
    if workload == "lakehouse_batches":
        assert out["metrics"]["manifest.replay_noop_ratio"] == 1.0


def test_oracle_rejects_corrupted_engine_output(tmp_path):
    # the native plugin lower-cases instead of upper-casing: every pass's
    # final target differs from the DuckDB replay, so every step fails
    prelude = (
        "import perfbench.plugins as p\n"
        "from pyspark.sql import functions as F\n"
        "p.UpperComment.apply = lambda self, df: "
        "df.withColumn('o_comment', F.lower('o_comment'))"
    )
    out = _bench(tmp_path, "keyed_batches", trace=False, prelude=prelude)
    assert out["attempted"] > 0
    assert out["failed"] == out["attempted"]


@pytest.mark.parametrize(
    "corrupt",
    [
        "UPDATE orders_sync SET o_totalprice = o_totalprice + 0.01 WHERE o_orderkey = "
        "(SELECT MIN(o_orderkey) FROM orders_sync)",
        "DELETE FROM orders_sync WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders_sync)",
        "INSERT INTO orders_sync SELECT * FROM orders_sync LIMIT 1",
    ],
)
def test_content_hash_detects_changed_dropped_and_duplicated_rows(tmp_path, corrupt):
    fixtures = str(tmp_path / "fx")
    counts = generate(fixtures, 5, 0.001)
    wl = WORKLOADS["keyed_batches"](str(tmp_path), fixtures, counts, 5)
    con = oracle.connect(fixtures, ("orders",))
    expected = wl.oracle_hashes(con)
    out = tmp_path / "orders_sync"
    out.mkdir()
    con.execute(f"COPY orders_sync TO '{out}/part-0.parquet' (FORMAT PARQUET)")
    assert oracle.parquet_dir_hash(con, str(out)) == expected["orders_sync"]
    con.execute(corrupt)
    con.execute(f"COPY orders_sync TO '{out}/part-0.parquet' (FORMAT PARQUET)")
    assert oracle.parquet_dir_hash(con, str(out)) != expected["orders_sync"]


def test_same_seed_same_inputs_and_plan(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert generate(a, 9, 0.001) == generate(b, 9, 0.001)
    for t in ("customer", "orders", "lineitem"):
        with open(f"{a}/{t}.parquet", "rb") as fa, open(f"{b}/{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read()
    counts = generate(a, 9, 0.001)
    for name, cls in WORKLOADS.items():
        one = cls(str(tmp_path), a, counts, 9).steps
        two = cls(str(tmp_path), a, counts, 9).steps
        assert [(s.pipeline, s.ph, s.replay) for s in one] == [
            (s.pipeline, s.ph, s.replay) for s in two
        ], name


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "keyed_batches",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
