"""Z-order layout writer: prove the data-skipping claim from parquet
footers — z-disjoint files, narrow per-file envelopes in BOTH dims."""

import os

import pytest
from pyspark.sql import functions as F

from pypeline_spark.session import load_table
from pypeline_spark.sinks.layout import write_zordered
from pypeline_spark.sinks.manifest import ManifestTable


def _file_ranges(path, col):
    """Per-file footer (min, max) of ``col`` from the same reader file
    pruning uses; files without stats (empty ones) are left out."""
    stats = (
        ManifestTable._footer_stats(os.path.join(path, f), [col])
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    )
    return [tuple(s[col]) for s in stats if col in s]


@pytest.fixture(scope="module")
def zordered_path(spark, sf_dir, tmp_path_factory):
    """lineitem with the two cluster dims pre-bucketed to the 8-bit
    z domain (px, py) so footer stats measure exactly what z orders."""
    path = str(tmp_path_factory.mktemp("layout") / "lineitem_z")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
        .withColumn("px", (F.col("l_partkey") % 256).cast("int"))
        # l_suppkey's domain at small SF is ~10 values — too narrow for
        # an envelope to shrink; orderkey%256 gives both dims a full
        # 8-bit domain, which is what the z-curve assumes anyway
        .withColumn("py", (F.col("l_orderkey") % 256).cast("int"))
    )
    write_zordered(li, path, "px", "py", num_files=16)
    return path


def test_files_are_z_disjoint(zordered_path):
    ranges = _file_ranges(zordered_path, "__z")
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # repartitionByRange => non-overlapping z spans


def test_both_dimensions_get_narrow_envelopes(zordered_path):
    """Mean per-file min/max width in EACH dimension must be well under
    the global range — that width ratio IS the expected file-skipping
    rate for point/range predicates on either column.  An arrival-
    ordered or one-key-sorted layout narrows at most one dimension;
    z-order narrows both."""
    for col in ("px", "py"):
        per_file = _file_ranges(zordered_path, col)
        assert len(per_file) >= 2
        widths = [hi - lo for lo, hi in per_file]
        global_width = max(hi for _, hi in per_file) - min(lo for lo, _ in per_file)
        assert global_width > 0
        mean_width = sum(widths) / len(widths)
        # 8 z-disjoint files over a 2-dim Morton curve: each file spans
        # ~1/8 of z-space, which projects to <= ~half of each axis
        assert mean_width <= 0.65 * global_width, (col, mean_width, global_width)


def test_roundtrip_preserves_rows(spark, sf_dir, zordered_path):
    li = load_table(spark, sf_dir, "lineitem")
    back = spark.read.parquet(zordered_path)
    assert back.count() == li.count()
    assert back.agg(F.sum("l_orderkey")).collect()[0][0] == li.agg(
        F.sum("l_orderkey")
    ).collect()[0][0]


class TestCompaction:
    @pytest.fixture()
    def small_files_dir(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "frag")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        li.repartition(24).write.mode("overwrite").parquet(path)  # fragment
        return path

    def test_plan_bins_respect_target(self, small_files_dir):
        import os

        from pypeline_spark.sinks.layout import plan_compaction

        sizes = {
            os.path.join(small_files_dir, f): os.path.getsize(
                os.path.join(small_files_dir, f)
            )
            for f in os.listdir(small_files_dir)
            if f.endswith(".parquet")
        }
        target = 8 * max(sizes.values())
        groups = plan_compaction(small_files_dir, target_bytes=target)
        assert groups, "24 fragments must yield at least one rewrite group"
        seen = [f for g in groups for f in g]
        assert len(seen) == len(set(seen))  # no file in two groups
        for g in groups:
            assert len(g) > 1
            assert sum(sizes[f] for f in g) <= target

    def test_compact_preserves_rows_and_cuts_files(self, spark, small_files_dir):
        import os

        from pypeline_spark.sinks.layout import compact, plan_compaction

        before = spark.read.parquet(small_files_dir)
        n_before = before.count()
        checksum = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        sum_before = before.agg(checksum).collect()[0][0]
        files_before = len(
            [f for f in os.listdir(small_files_dir) if f.endswith(".parquet")]
        )

        sizes = [
            os.path.getsize(os.path.join(small_files_dir, f))
            for f in os.listdir(small_files_dir)
            if f.endswith(".parquet")
        ]
        groups = plan_compaction(small_files_dir, target_bytes=8 * max(sizes))
        removed = compact(spark, small_files_dir, groups)
        assert removed > 0

        files_after = len(
            [f for f in os.listdir(small_files_dir) if f.endswith(".parquet")]
        )
        assert files_after < files_before
        after = spark.read.parquet(small_files_dir)
        assert after.count() == n_before
        assert after.agg(checksum).collect()[0][0] == sum_before
