import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pypeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pypeline_spark_tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def built_queries(spark, sf_dir):
    """Every registry builder, called ONCE for the registry-wide sweeps
    (output-schema lint, lazy-DataFrame gate, nested-loop gate): per
    query the builder's return type, its output schema and whether its
    plan has a nested loop — the DataFrames themselves are dropped, so
    eager checkpoints do not pile up across the session.  The cache is
    cleared first so cached relations from earlier tests cannot hide
    a join shape from the plan check."""
    from types import SimpleNamespace

    from pyspark.sql import DataFrame

    from pypeline_spark.plans import has_nested_loop
    from pypeline_spark.registry import load_all

    spark.catalog.clearCache()
    out = {}
    for name, case in load_all().items():
        df = case.builder(spark, sf_dir)
        is_df = isinstance(df, DataFrame)
        out[name] = SimpleNamespace(
            type=type(df),
            schema=df.schema if is_df else None,
            nested_loop=has_nested_loop(df) if is_df else None,
        )
    return out
