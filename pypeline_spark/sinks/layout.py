r"""Physical layout writers: Z-order clustered parquet for
multi-dimensional data skipping.

Why this exists: a 100 TB fact table is usually range-partitioned (or
just arrival-ordered) on ONE key, so predicates on any other column
read every file.  Writing the table clustered by a Morton (Z-order)
key over the two hottest filter columns gives every output file a
narrow min/max envelope in BOTH dimensions, and every engine that
reads parquet footers (Spark, DuckDB, Trino, ...) prunes files/row
groups on either column for free.  This is the same layout strategy
lakehouse table formats expose as ``OPTIMIZE ... ZORDER BY``;
here it is a plain-parquet writer with no table-format dependency.

Mechanics: compute z = interleave(bits(x), bits(y)) (see
``operators/multidim.py::zvalue``), then ``repartitionByRange(z)`` —
one range shuffle, identical cost shape to a global sort-by-one-key —
and ``sortWithinPartitions(z)`` so row groups inside a file are
clustered too.  The z column is kept in the file: it doubles as the
cluster key for later compactions and costs one int16-range column.

The test (tests/test_layout.py) proves the skipping claim from the
parquet footers themselves: per-file z ranges are pairwise disjoint,
and the mean per-file envelope width in x and y is a small fraction
of the global range.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pypeline_spark.operators.multidim import Z_BITS, zvalue


def write_zordered(
    df: DataFrame,
    path: str,
    x: "str | Column",
    y: "str | Column",
    num_files: int = 8,
    bits: int = Z_BITS,
    z_col: str = "__z",
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of (x, y).

    ``x`` / ``y`` must be non-negative int expressions; they are
    bucketed to ``bits`` bits with a mask (callers with wider domains
    should pre-bucket, e.g. ``F.col("ts_day")`` or a modulus).  One
    range shuffle on z; files come out z-disjoint.
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    mask = (1 << bits) - 1
    z = zvalue(xc.bitwiseAND(mask), yc.bitwiseAND(mask), bits=bits)
    (
        df.withColumn(z_col, z)
        .repartitionByRange(num_files, F.col(z_col))
        .sortWithinPartitions(z_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def plan_compaction(
    path: str, target_bytes: int = 128 * 1024 * 1024, min_fill: float = 0.5
) -> list[list[str]]:
    """Greedy small-file compaction plan: bins of files whose summed
    size approaches ``target_bytes``.

    Returns rewrite groups (lists of file paths); singleton files that
    already exceed ``min_fill * target_bytes`` are left alone — they
    are not worth rewriting.  This is driver-side FILE METADATA only
    (one listing; no row data): at lakehouse scale the same plan reads
    the table format's manifest instead of the directory.

    First-fit-decreasing keeps bins near target without splitting any
    file; rewrite cost is proportional to the small-file bytes, which
    is exactly the data whose per-file overhead (task scheduling, open
    cost, footer reads) the compaction removes.
    """
    files = sorted(
        (
            (os.path.getsize(os.path.join(path, f)), os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ),
        reverse=True,
    )
    bins: list[tuple[int, list[str]]] = []
    leave_alone = min_fill * target_bytes
    for size, fp in files:
        if size >= leave_alone:
            continue  # big enough already
        for i, (bsize, members) in enumerate(bins):
            if bsize + size <= target_bytes:
                bins[i] = (bsize + size, members + [fp])
                break
        else:
            bins.append((size, [fp]))
    # a bin with one small file and nothing merged into it is a no-op
    return [members for _, members in bins if len(members) > 1]


def compact(spark, path: str, groups: list[list[str]]) -> int:
    """Execute a compaction plan: each group is rewritten as ONE file
    (coalesce(1) per group — groups were sized to one target file),
    then the originals are removed.  Returns files removed.

    Atomicity note: plain parquet has no manifest swap, so the window
    between write and delete shows duplicates; production binds this
    to a table-format transaction (Delta OPTIMIZE / Iceberg rewrite).
    """
    removed = 0
    for gi, group in enumerate(groups):
        out = os.path.join(path, f"compact-{gi:05d}.parquet")
        df = spark.read.parquet(*group)
        # one output file per group by construction
        df.coalesce(1).write.mode("overwrite").parquet(out + ".__tmp__")
        part = [
            f
            for f in os.listdir(out + ".__tmp__")
            if f.endswith(".parquet")
        ]
        assert len(part) == 1
        os.replace(os.path.join(out + ".__tmp__", part[0]), out)
        import shutil

        shutil.rmtree(out + ".__tmp__", ignore_errors=True)
        for f in group:
            os.remove(f)
            removed += 1
    return removed


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    files_per_partition: int = 1,
) -> None:
    """Hive-style partitioned parquet layout (``col=value/`` dirs).

    This is the OTHER half of the data-skipping story next to
    ``write_zordered``: directory partitioning prunes whole partitions
    from the listing before any footer is read — the coarse knob for
    the one or two lowest-cardinality hot predicates (date, tenant),
    with z-ordering handling the finer in-file dimensions.

    The pre-shuffle on the partition columns matters at 100 TB: without
    it every task holds a writer per open partition (the small-files
    explosion — tasks x partitions files); hashing rows to tasks by the
    partition value first gives exactly ``files_per_partition`` files
    per directory (a deterministic row-content salt spreads hot
    partitions when more than one is asked for).  Keep partition
    cardinality in the hundreds-to-thousands: each directory is a
    listing round-trip on object storage.
    """
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), files_per_partition
        )
        shuffled = df.repartition(*keys, salt)
    else:
        shuffled = df.repartition(*keys)
    (
        shuffled.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
