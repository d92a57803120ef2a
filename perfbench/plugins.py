"""Transformer plugins the benchmark's pipelines load by dotted path.

``row_transform`` chains the three row-dict plugins (the reference's
``filter(row) -> row`` contract, run inside ``mapInPandas``);
``keyed_batches`` / ``lakehouse_batches`` use the native ``apply``
plugin.  Each plugin is mirrored by a SQL expression in
:mod:`perfbench.workloads`, which the DuckDB oracle evaluates instead.

The plugins count their own time and rows for the traced run: the
tracer installs two Spark accumulators in :data:`COUNTERS` before the
pipeline loads the plugins, each instance captures them in its
constructor (the no-argument constructor is the plugin contract), and
the pickled instance carries them to the Python workers.  With no
counters installed the plugins do no timing at all.
"""

from __future__ import annotations

import time
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: ``{"user_s": Accumulator[float], "rows": Accumulator[int]}`` while a
#: traced run is active, else empty.
COUNTERS: dict = {}

_ONE = Decimal(1)
_FLAGS = {"R": "returned", "A": "accepted", "N": "none"}


class _Counted:
    counts_rows = False

    def __init__(self) -> None:
        self._user_s = COUNTERS.get("user_s")
        self._rows = COUNTERS.get("rows") if self.counts_rows else None

    def filter(self, row: dict) -> dict:  # noqa: A003 - reference API name
        if self._user_s is None:
            return self.rewrite(row)
        t0 = time.perf_counter()
        out = self.rewrite(row)
        self._user_s.add(time.perf_counter() - t0)
        if self._rows is not None:
            self._rows.add(1)
        return out

    def rewrite(self, row: dict) -> dict:
        raise NotImplementedError


class ShipModeRewrite(_Counted):
    """String rewrite: ``'REG AIR'`` -> ``'reg_air'``, flag letters
    spelled out."""

    counts_rows = True  # first plugin of the chain: one call per row

    def rewrite(self, row: dict) -> dict:
        row["l_shipmode"] = row["l_shipmode"].lower().replace(" ", "_")
        row["l_returnflag"] = _FLAGS[row["l_returnflag"]]
        return row


class NetPrice(_Counted):
    """Derived numeric column: exact decimal net price."""

    def rewrite(self, row: dict) -> dict:
        row["l_netprice"] = row["l_extendedprice"] * (_ONE - row["l_discount"])
        return row


class QuantityBand(_Counted):
    """Added column declared by the step's ``transformer_schema``."""

    def rewrite(self, row: dict) -> dict:
        row["l_band"] = "bulk" if row["l_quantity"] >= 25 else "small"
        return row


class UpperComment:
    """Native (``apply``) plugin: stays inside Catalyst."""

    def __init__(self) -> None:
        self._user_s = COUNTERS.get("user_s")

    def apply(self, df: DataFrame) -> DataFrame:
        t0 = time.perf_counter()
        out = df.withColumn("o_comment", F.upper(F.col("o_comment")))
        if self._user_s is not None:
            self._user_s.add(time.perf_counter() - t0)
        return out
