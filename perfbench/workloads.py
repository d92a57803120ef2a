"""The benchmark's four workloads.

Each workload is a pipeline config (what a user would put in YAML), a
batch plan generated from ``--seed`` (which pipeline to run next and
with which placeholders), the set-up and restore of its target, and the
SQL mirror of its transformer plugins that the DuckDB oracle evaluates.
Every pipeline in a config holds exactly one step, so the benchmark
drives one ``Pypeline.run(name, placeholders)`` call per planned step,
the way a scheduler drives a recurring sync.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field

from pypeline_spark.pipeline.lakehouse import LakehouseCatalog
from pypeline_spark.pipeline.runner import Pypeline
from pypeline_spark.sinks.keyed import ParquetCatalog

from perfbench import oracle

_PLUGINS = "perfbench.plugins."


@dataclass
class Step:
    """One planned ``Pypeline.run`` call."""

    pipeline: str
    ph: dict
    replay: bool = False
    #: rows handed to the sink, filled in by the oracle replay
    rows: int = 0


@dataclass
class Workload:
    work: str
    fixtures: str
    counts: dict
    seed: int
    steps: list = field(default_factory=list)

    name = ""
    tables = ()
    #: the layer that receives the batches: "keyed" or "manifest"
    sink = "keyed"
    targets = ()

    def __post_init__(self) -> None:
        self.target_root = os.path.join(self.work, "target")
        self.snapshot = os.path.join(self.work, "snapshot")
        self.steps = self.plan()

    # -- the pipeline under test --------------------------------------------

    def config(self) -> dict:
        raise NotImplementedError

    def plan(self) -> list:
        raise NotImplementedError

    def warmup(self) -> list:
        """Steps of the untimed warm-up passes."""
        return self.steps

    def prepare(self, spark) -> None:
        """One-time: build the seeded target snapshot, if any."""

    def restore(self) -> None:
        # no sink writes a file in place (each writes new files and swaps
        # them in), so the target can share the snapshot's files: a
        # restore then writes no data
        shutil.rmtree(self.target_root, ignore_errors=True)
        if os.path.isdir(self.snapshot):
            shutil.copytree(self.snapshot, self.target_root, copy_function=os.link)

    def pipeline(self, spark, config) -> Pypeline:
        return Pypeline(spark, config, catalog=ParquetCatalog(self.target_root, spark))

    def after_step(self, step: Step, pipe: Pypeline) -> bool:
        """Per-step check outside the timed call; False fails the run."""
        return True

    # -- correctness ----------------------------------------------------------

    def engine_hashes(self, spark, con) -> dict:
        return {
            t: oracle.parquet_dir_hash(con, os.path.join(self.target_root, t))
            for t in self.targets
        }

    def oracle_seed(self, con) -> None:
        """Create the seeded target tables in DuckDB."""

    def oracle_transform(self, pype: dict, sql: str) -> str:
        """SQL mirror of the step's transformer chain."""
        return sql

    def oracle_hashes(self, con) -> dict:
        """Replay the plan in DuckDB; fill each step's batch row count
        and return the expected content hash of every target."""
        cfg = self.config()
        self.oracle_seed(con)
        last = 0
        for step in self.steps:
            if step.replay:
                step.rows = last
                continue
            (pname,) = cfg["pypelines"][step.pipeline]
            pype = cfg["pypes"][pname]
            sql = self.oracle_transform(pype, pype["extract_query"].format(**step.ph))
            step.rows = last = oracle.stage_batch(con, sql)
            op = pype.get("lakehouse_op") if pype["type"] == "lakehouse" else pype["type"]
            keys = [pype["identifier"]] if op == "delete" else pype.get("key_columns", [])
            oracle.apply_sink(con, pype["target_table"], op, list(keys))
        return {t: oracle.content_hash(con, f'"{t}"') for t in self.targets}


# ---------------------------------------------------------------------------
# keyed_batches / lakehouse_batches: one seeded plan, two sinks
# ---------------------------------------------------------------------------

_CHANGE_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, "
    "CAST(o_totalprice + {bump} AS DECIMAL(15,2)) AS o_totalprice, "
    "o_orderdate, o_orderpriority, 'b{seq} ' || o_comment AS o_comment "
    "FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
)
_DELETE_SQL = "SELECT o_orderkey FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
_POST_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
    "FROM orders_sync GROUP BY o_orderstatus"
)
#: the fixed op mix of the recurring sync
_OPS = ("upsert", "update", "upsert", "delete")
BATCHES = 4


class _Batches(Workload):
    tables = ("orders",)
    targets = ("orders_sync",)
    replay = False

    def _split(self) -> tuple:
        """(hole, trim, reup) residues of ``o_orderkey % 20``: the seed
        target misses the ``hole`` and ``trim`` slices (~90% of orders
        remain) and the lakehouse table re-upserts ``reup`` as an
        outstanding merge-on-read delta."""
        return tuple(random.Random(f"split:{self.seed}").sample(range(20), 3))

    def _seed_sql(self) -> str:
        hole, trim, _ = self._split()
        return f"SELECT * FROM orders WHERE o_orderkey % 20 NOT IN ({hole}, {trim})"

    def plan(self) -> list:
        rng = random.Random(f"batches:{self.seed}")
        n = self.counts["orders"]
        width = max(1, n // 100)
        steps = []
        for i in range(BATCHES):
            lo = rng.randint(1, n - width + 1)
            ph = {
                "lo": lo,
                "hi": lo + width,
                "bump": f"{rng.randint(1, 99_999) / 100:.2f}",
                "seq": i,
            }
            name = _OPS[i % len(_OPS)] + ("_post" if i % 3 == 2 else "")
            steps.append(Step(name, ph))
            if self.replay:
                steps.append(Step(name, dict(ph), replay=True))
        return steps

    def _pype(self, op: str) -> dict:
        raise NotImplementedError

    def config(self) -> dict:
        pypes = {}
        for op in ("upsert", "update", "delete"):
            base = self._pype(op)
            if op == "delete":
                base.update(extract_query=_DELETE_SQL, identifier="o_orderkey")
            else:
                base.update(
                    extract_query=_CHANGE_SQL,
                    key_columns=["o_orderkey"],
                    transformers=[_PLUGINS + "UpperComment"],
                )
            pypes[op] = base
            pypes[op + "_post"] = {**base, "post_query": _POST_SQL}
        return {"pypes": pypes, "pypelines": {n: [n] for n in pypes}}

    def oracle_seed(self, con) -> None:
        con.execute(f"CREATE TABLE orders_sync AS {self._seed_sql()}")

    def oracle_transform(self, pype: dict, sql: str) -> str:
        if pype.get("transformers"):
            return f"SELECT * REPLACE (upper(o_comment) AS o_comment) FROM ({sql})"
        return sql


class KeyedBatches(_Batches):
    """Small keyed upsert/update/delete batches into a ParquetCatalog
    target: the read-modify-write sink dominates."""

    name = "keyed_batches"

    def _pype(self, op: str) -> dict:
        return {"target_table": "orders_sync", "type": op}

    def prepare(self, spark) -> None:
        shutil.rmtree(self.target_root, ignore_errors=True)
        ParquetCatalog(self.target_root, spark).put("orders_sync", spark.sql(self._seed_sql()))
        shutil.copytree(self.target_root, self.snapshot)


class LakehouseBatches(_Batches):
    """The keyed_batches plan as deletion-vector MERGEs on a messy
    LakehouseCatalog table, each batch replayed once with its batch id."""

    name = "lakehouse_batches"
    sink = "manifest"
    replay = True

    def __post_init__(self) -> None:
        super().__post_init__()
        self._version = 0

    def _pype(self, op: str) -> dict:
        return {
            "target_table": "orders_sync",
            "type": "lakehouse",
            "lakehouse_op": op,
            "batch_id": "b-{seq}",
        }

    def prepare(self, spark) -> None:
        hole, trim, reup = self._split()
        shutil.rmtree(self.target_root, ignore_errors=True)
        t = LakehouseCatalog(self.target_root).table("orders_sync")
        orders = spark.table("orders")
        # the table enters messy: dv-deleted rows on top of the base
        # files, and an outstanding delta re-upserting identical rows,
        # so every step takes the deletion-vector MERGE path
        t.commit_overwrite(
            orders.filter(f"o_orderkey % 20 <> {hole}").repartitionByRange(8, "o_orderkey"),
            batch_id="seed",
            stats_cols=["o_orderkey"],
        )
        t.delete_where(spark, f"o_orderkey % 20 = {trim}", batch_id="trim", mode="dv")
        t.commit_delta(
            orders.filter(f"o_orderkey % 20 = {reup}"),
            ["o_orderkey"],
            batch_id="reup",
            stats_cols=["o_orderkey"],
        )
        shutil.copytree(self.target_root, self.snapshot)

    def pipeline(self, spark, config) -> Pypeline:
        self._version = 0
        return Pypeline(spark, config, lakehouse=LakehouseCatalog(self.target_root))

    def after_step(self, step: Step, pipe: Pypeline) -> bool:
        version = pipe.lakehouse.table("orders_sync").version()
        ok = not step.replay or version == self._version
        self._version = version
        return ok

    def engine_hashes(self, spark, con) -> dict:
        cat = LakehouseCatalog(self.target_root)
        return {t: oracle.arrow_hash(con, cat.get(spark, t).toArrow()) for t in self.targets}


# ---------------------------------------------------------------------------
# row_transform: the per-row plugin surface
# ---------------------------------------------------------------------------

_LINEITEM_SQL = (
    "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_returnflag, l_shipdate, l_shipmode, l_comment "
    "FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
)
_ROW_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_linenumber int, "
    "l_quantity decimal(15,2), l_extendedprice decimal(15,2), "
    "l_discount decimal(15,2), l_returnflag string, l_shipdate date, "
    "l_shipmode string, l_comment string, l_netprice decimal(18,4), "
    "l_band string"
)
_ROW_ORACLE = (
    "SELECT * REPLACE ("
    "lower(replace(l_shipmode, ' ', '_')) AS l_shipmode, "
    "CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted' "
    "ELSE 'none' END AS l_returnflag), "
    "l_extendedprice * (1 - l_discount) AS l_netprice, "
    "CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS l_band "
    "FROM ({sql})"
)
ROW_STEPS = 8


class RowTransform(Workload):
    """Every lineitem row through three row-dict ``filter()`` plugins in
    key-range append steps: the mapInPandas dict round trip dominates."""

    name = "row_transform"
    tables = ("lineitem",)
    targets = tuple(f"lineitem_xf_{k}" for k in range(ROW_STEPS))

    def plan(self) -> list:
        rng = random.Random(f"rows:{self.seed}")
        n = self.counts["orders"]
        cuts = [1]
        for k in range(1, ROW_STEPS):
            jitter = rng.randint(-n // 40, n // 40)
            cuts.append(k * n // ROW_STEPS + jitter)
        cuts.append(n + 1)
        return [
            Step(f"xf_{k}", {"lo": cuts[k], "hi": cuts[k + 1]})
            for k in range(ROW_STEPS)
        ]

    def warmup(self) -> list:
        """Narrow slices of every step: the same plans on ~2k rows."""
        return [Step(s.pipeline, {"lo": s.ph["lo"], "hi": s.ph["lo"] + 500}) for s in self.steps]

    def config(self) -> dict:
        pypes = {
            f"xf_{k}": {
                "extract_query": _LINEITEM_SQL,
                "target_table": f"lineitem_xf_{k}",
                "type": "append",
                "transformers": [
                    _PLUGINS + "ShipModeRewrite",
                    _PLUGINS + "NetPrice",
                    _PLUGINS + "QuantityBand",
                ],
                "transformer_schema": _ROW_SCHEMA,
            }
            for k in range(ROW_STEPS)
        }
        return {"pypes": pypes, "pypelines": {n: [n] for n in pypes}}

    def oracle_transform(self, pype: dict, sql: str) -> str:
        return _ROW_ORACLE.format(sql=sql)


# ---------------------------------------------------------------------------
# rollup_extract: heavy relational extract, tiny keyed outputs
# ---------------------------------------------------------------------------

_REVENUE = "SUM(l_extendedprice * (1 - l_discount))"
_ROLLUPS = {
    "pricing": {
        "extract_query": (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
            "SUM(l_extendedprice) AS sum_base_price, "
            f"{_REVENUE} AS sum_disc_price, COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= DATE '{cutoff}' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "target_table": "rollup_pricing",
        "key_columns": ["l_returnflag", "l_linestatus"],
        "post_query": "SELECT SUM(count_order) AS n FROM rollup_pricing",
    },
    "shipping": {
        "extract_query": (
            f"SELECT l_orderkey, {_REVENUE} AS revenue, o_orderdate "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE c_mktsegment = '{segment}' AND o_orderdate < DATE '{day}' "
            "AND l_shipdate > DATE '{day}' "
            "GROUP BY l_orderkey, o_orderdate "
            "ORDER BY revenue DESC, l_orderkey LIMIT 20"
        ),
        "target_table": "rollup_shipping",
        "key_columns": ["l_orderkey"],
        "post_query": "SELECT COUNT(*) AS n, SUM(revenue) AS revenue FROM rollup_shipping",
    },
    "returns": {
        "extract_query": (
            f"SELECT c_custkey, c_name, {_REVENUE} AS revenue, c_acctbal, c_nationkey "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE o_orderdate >= DATE '{start}' AND o_orderdate < DATE '{end}' "
            "AND l_returnflag = 'R' "
            "GROUP BY c_custkey, c_name, c_acctbal, c_nationkey "
            "ORDER BY revenue DESC, c_custkey LIMIT 20"
        ),
        "target_table": "rollup_returns",
        "key_columns": ["c_custkey"],
        "post_query": "SELECT COUNT(*) AS n, SUM(revenue) AS revenue FROM rollup_returns",
    },
}
ROLLUP_ROUNDS = 2


class RollupExtract(Workload):
    """Q1/Q3/Q10-style aggregates over lineitem, orders and customer
    upserted into tiny targets: the extract SQL dominates."""

    name = "rollup_extract"
    tables = ("customer", "orders", "lineitem")
    targets = tuple(p["target_table"] for p in _ROLLUPS.values())

    def plan(self) -> list:
        from perfbench.datagen import SEGMENTS

        rng = random.Random(f"rollup:{self.seed}")
        day0 = dt.date(1992, 1, 1)
        steps = []
        for _ in range(ROLLUP_ROUNDS):
            month = rng.randint(0, 23)
            start = dt.date(1993 + month // 12, month % 12 + 1, 1)
            end_m = month + 3
            end = dt.date(1993 + end_m // 12, end_m % 12 + 1, 1)
            steps += [
                Step("pricing", {"cutoff": str(dt.date(1998, 12, 1) - dt.timedelta(rng.randint(60, 120)))}),
                Step("shipping", {
                    "segment": rng.choice(SEGMENTS),
                    "day": str(day0 + dt.timedelta(rng.randint(1100, 1300))),
                }),
                Step("returns", {"start": str(start), "end": str(end)}),
            ]
        return steps

    def config(self) -> dict:
        pypes = {k: {**p, "type": "upsert"} for k, p in _ROLLUPS.items()}
        return {"pypes": pypes, "pypelines": {n: [n] for n in pypes}}


WORKLOADS = {
    w.name: w for w in (KeyedBatches, RowTransform, RollupExtract, LakehouseBatches)
}
