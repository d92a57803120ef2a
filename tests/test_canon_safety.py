"""Registry-wide output-schema lint: every query must be canonicalizable
by the DRIVER's pandas comparison harness.

The driver collects each query's result into pandas and sort_values it
before hashing; two schema shapes break that in ways a friendlier local
compare never sees (the round-2 red rows):

- array/map-typed columns -> ``TypeError: unhashable type`` inside
  pandas' lexsort (q_embedding_quantize, q_feature_hist,
  q_feature_extract in r2/r3).  Struct columns collect as Row objects
  and are equally unsortable.
- a raw ``events.ts`` passthrough -> Spark truncates the file's
  TIMESTAMP(NANOS) to µs while DuckDB keeps ns, so the value hash can
  never match (q_sessionize_sql in r2).  Queries emit integer epoch
  micros (``unix_micros`` / ``epoch_us``) instead.

Plain TIMESTAMP outputs are allowed when they are derived bucket bounds
at whole-second granularity (ns == µs there), but TIMESTAMP_NTZ must
never escape a builder: whether the parquet reader produces NTZ is a
Spark-version artifact the oracles can't see (see
``session._normalize_events_ts``).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import types as T

from pypeline_spark.registry import load_all
from pypeline_spark.session import TABLES

_FORBIDDEN = (T.ArrayType, T.MapType, T.StructType)


@pytest.fixture(scope="module")
def schemas(built_queries):
    return {name: b.schema for name, b in built_queries.items()}


def test_no_unhashable_output_columns(schemas):
    bad = [
        (name, f.name, f.dataType.simpleString())
        for name, schema in schemas.items()
        for f in schema.fields
        if isinstance(f.dataType, _FORBIDDEN)
    ]
    assert not bad, f"driver canon cannot sort these output columns: {bad}"


# µs-precision naive parquet columns (TPC-H dates) are engine-portable
# as-is: both engines collect them as naive µs datetimes, so an NTZ
# passthrough is canon-safe.  Only the ns-resolution events column is
# not — and that one must leave load_table as plain TIMESTAMP.
_PORTABLE_NTZ_COLS = {"o_orderdate", "last_order"}


def test_no_ntz_output_columns_outside_date_allowlist(schemas):
    bad = [
        (name, f.name)
        for name, schema in schemas.items()
        for f in schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
        and f.name not in _PORTABLE_NTZ_COLS
    ]
    assert not bad, (
        "TIMESTAMP_NTZ escaped ts normalization (events.ts must go "
        f"through session._normalize_events_ts): {bad}"
    )


# q_asof_join ships raw event timestamps and has hash-matched on the
# driver in BOTH the TIMESTAMP (r2) and NTZ (r3) read shapes — its
# oracle's date_diff('second', …) semantics don't observe sub-µs nanos.
# Any NEW query must use the unix_micros/epoch_us convention instead.
_CERTIFIED_TS_PASSTHROUGH = {"q_asof_join"}


def test_no_raw_events_ts_passthrough(schemas):
    bad = [
        (name, f.name)
        for name, schema in schemas.items()
        if name not in _CERTIFIED_TS_PASSTHROUGH
        for f in schema.fields
        if f.name == "ts" and isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    ]
    assert not bad, (
        "raw events.ts output can never hash-match the ns-resolution "
        f"oracle — emit unix_micros(ts) instead: {bad}"
    )


# ---------------------------------------------------------------------------
# Oracle result-type lint (the r2-r4 q_sessionize_sql failure class).
#
# DuckDB widens SUM(BIGINT) to HUGEINT, and HUGEINT lands in pandas as
# float64 — so the driver hashes '1.0' against Spark's '1' and the row
# goes red even when every value is identical.  The old local canon
# unified integral floats with ints and masked this for three rounds.
# This lint DESCRIBEs every oracle in DuckDB (bind only, no execution)
# and fails on:
#   - any HUGEINT/UHUGEINT output column (always a latent driver red);
#   - an oracle float/decimal column where the Spark column is integral
#     (float64-vs-int64 hash mismatch), or the reverse.
# ---------------------------------------------------------------------------

_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
_DUCK_HUGE = {"HUGEINT", "UHUGEINT"}
_DUCK_FLOATISH_PREFIX = ("FLOAT", "DOUBLE", "DECIMAL", "REAL")
_SPARK_INT = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@pytest.fixture(scope="module")
def oracle_types(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name, case in load_all().items():
        if case.oracle is None:
            continue
        desc = con.execute(f"DESCRIBE {case.oracle}").fetchall()
        out[name] = {row[0]: row[1].upper() for row in desc}
    con.close()
    return out


def test_no_hugeint_oracle_columns(oracle_types):
    bad = [
        (name, col, typ)
        for name, cols in oracle_types.items()
        for col, typ in cols.items()
        if typ in _DUCK_HUGE
    ]
    assert not bad, (
        "HUGEINT oracle outputs land in pandas as float64 and can never "
        f"hash-match Spark int64 — CAST(... AS BIGINT): {bad}"
    )


def test_no_negative_zero_in_oracle_outputs(sf_dir):
    """IEEE negative zero is a canon hazard: the engines' ROUND
    implementations disagree on the SIGN of a tiny negative rounding
    to zero (q_anomaly_zscore at sf0.1: Spark -0.0 vs DuckDB 0.0), and
    '-0.0' != '0.0' under a string canon.  Executing every oracle in
    DuckDB and scanning float cells catches the class on the cheap
    side; queries that can emit signed zeros must normalize with
    ``+ 0.0`` on BOTH sides.  (The Spark side is swept by the strict
    differential harness at sf0.001/0.01/0.1.)"""
    import math

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = []
    for name, case in load_all().items():
        if case.oracle is None:
            continue
        for row in con.execute(case.oracle).fetchall():
            if any(
                isinstance(v, float) and v == 0.0 and math.copysign(1, v) < 0
                for v in row
            ):
                bad.append(name)
                break
    con.close()
    assert not bad, f"oracles emit IEEE -0.0 (normalize with + 0.0): {bad}"


def test_oracle_numeric_kinds_match_spark(schemas, oracle_types):
    bad = []
    for name, cols in oracle_types.items():
        spark_types = {f.name: f.dataType for f in schemas[name].fields}
        for col, dtyp in cols.items():
            styp = spark_types.get(col)
            if styp is None:
                continue  # column-name mismatch is caught elsewhere
            s_int = isinstance(styp, _SPARK_INT)
            d_int = dtyp in _DUCK_INT or dtyp in _DUCK_HUGE
            d_float = dtyp.startswith(_DUCK_FLOATISH_PREFIX)
            if s_int and d_float:
                bad.append((name, col, "spark int vs oracle " + dtyp))
            if isinstance(styp, (T.FloatType, T.DoubleType)) and d_int:
                bad.append((name, col, "spark float vs oracle " + dtyp))
    assert not bad, (
        "int-vs-float physical type mismatch between Spark output and "
        f"DuckDB oracle will hash-mismatch on the driver: {bad}"
    )
