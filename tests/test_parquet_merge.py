"""ParquetCatalog's native keyed merges: footer-pruned, carry-by-link.

Every merge must equal its join sink (``upsert`` / ``update_only`` /
``delete_by_keys``) over the whole table, while rewriting only the
files whose footer first-key range may overlap the batch's and
hard-linking the rest into the new version.
"""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from pypeline_spark.sinks import keyed
from pypeline_spark.sinks.keyed import (
    MemoryCatalog, ParquetCatalog, delete_by_keys, update_only, upsert,
)

_SINKS = {
    "merge_upsert": upsert,
    "merge_update_only": update_only,
    "merge_delete": delete_by_keys,
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _files(path):
    """Data file -> (inode, mtime_ns)."""
    out = {}
    for f in os.listdir(path):
        if not f.startswith(("_", ".")):
            st = os.stat(os.path.join(path, f))
            out[f] = (st.st_ino, st.st_mtime_ns)
    return out


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A catalog root holding ``base``: int key ``k``, built by a put and
    three merges, so it spans several files; each test copies it."""
    root = str(tmp_path_factory.mktemp("pq_merge"))
    cat = ParquetCatalog(root, spark)
    cat.put(
        "base",
        spark.range(0, 400, numPartitions=4).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("k2"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
            F.lit("orig").alias("tag"),
        ),
    )
    batch = spark.range(50, 80).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("k2"),
        F.lit("u1").alias("v"), F.lit("b1").alias("tag"),
    )
    cat.merge_upsert("base", batch, ["k"])
    batch = spark.range(390, 450).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("k2"),
        F.lit("u2").alias("v"), F.lit("b2").alias("tag"),
    )
    cat.merge_upsert("base", batch, ["k"])
    cat.merge_delete("base", spark.range(100, 120).select(F.col("id").alias("k")), "k")
    return root


def _copy(base, spark, name):
    shutil.copytree(os.path.join(base, "base"), os.path.join(base, name))
    return ParquetCatalog(base, spark)


def _merge_equals_sink(cat, name, method, batch, **kwargs):
    """Run one merge; assert it equals the join sink over the whole
    table.  Returns (files before, files after)."""
    path = cat._path(name)
    want = _rows(_SINKS[method](cat.get(name), batch, **kwargs))
    before = _files(path)
    getattr(cat, method)(name, batch, **kwargs)
    assert _rows(cat.get(name)) == want
    return before, _files(path)


def _footer_rows(path, f):
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(path, f)).num_rows


def _batch(spark, lo, hi, v="new"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("k2"),
        F.lit(v).alias("v"), F.lit("batch").alias("tag"),
    )


def _carried(before, after):
    return {f for f in after if before.get(f) == after[f]}


class TestMergeEqualsJoinSink:
    @pytest.mark.parametrize("excluded", [(), ("tag",)])
    def test_upsert(self, spark, base, excluded):
        name = f"ups_{len(excluded)}"
        cat = _copy(base, spark, name)
        assert len(_files(cat._path(name))) >= 4
        before, after = _merge_equals_sink(
            cat, name, "merge_upsert", _batch(spark, 200, 215),
            key_columns=["k"], fields_excluded_from_update=list(excluded),
        )
        carried = _carried(before, after)
        assert carried and len(carried) < len(before)  # pruned, not everything

    def test_update(self, spark, base):
        cat = _copy(base, spark, "upd")
        before, after = _merge_equals_sink(
            cat, "upd", "merge_update_only", _batch(spark, 300, 320),
            key_columns=["k"], fields_excluded_from_update=["tag"],
        )
        assert _carried(before, after)

    def test_delete(self, spark, base):
        cat = _copy(base, spark, "del")
        keys = spark.range(10, 30).select(F.col("id").alias("k"))
        before, after = _merge_equals_sink(cat, "del", "merge_delete", keys, identifier="k")
        assert _carried(before, after)

    def test_composite_key(self, spark, base):
        cat = _copy(base, spark, "comp")
        # k2 differs from the stored k % 7 on half the rows: those insert
        batch = _batch(spark, 250, 262).withColumn(
            "k2", F.when(F.col("k") % 2 == 0, F.col("k2")).otherwise(F.lit(99))
        )
        before, after = _merge_equals_sink(
            cat, "comp", "merge_upsert", batch, key_columns=["k", "k2"]
        )
        assert _carried(before, after)

    def test_null_keys(self, spark, base):
        cat = _copy(base, spark, "nulls")

        def null_keyed(lo, hi):
            return _batch(spark, lo, hi).withColumn("k", F.lit(None).cast("long"))

        cat.put("nulls", cat.get("nulls").unionByName(null_keyed(1, 3)))
        batch = _batch(spark, 5, 8).unionByName(null_keyed(3, 4))
        for method, b, kw in (
            ("merge_upsert", batch, {"key_columns": ["k"]}),
            ("merge_update_only", batch, {"key_columns": ["k"]}),
            ("merge_delete", batch.select("k"), {"identifier": "k"}),
        ):
            _merge_equals_sink(cat, "nulls", method, b, **kw)
        # a batch of NULL keys only matches nothing: an update is a no-op
        before, after = _merge_equals_sink(
            cat, "nulls", "merge_update_only", null_keyed(3, 4), key_columns=["k"]
        )
        assert before == after

    @pytest.mark.parametrize(
        "key_type, prunes",
        [("string", True), ("date", True), ("decimal(12,0)", False)],
    )
    def test_key_types(self, spark, tmp_path, key_type, prunes):
        def keyed_rows(lo, hi, v):
            k = (
                F.format_string("k%04d", F.col("id")) if key_type == "string"
                else F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
                if key_type == "date"
                else F.col("id").cast(key_type)
            )
            return spark.range(lo, hi, numPartitions=4).select(k.alias("k"), F.lit(v).alias("v"))

        cat = ParquetCatalog(str(tmp_path), spark)
        cat.put("t", keyed_rows(0, 200, "orig"))
        before, after = _merge_equals_sink(
            cat, "t", "merge_upsert", keyed_rows(20, 30, "new"), key_columns=["k"]
        )
        assert bool(_carried(before, after)) == prunes

    def test_empty_batch_is_a_noop(self, spark, base):
        cat = _copy(base, spark, "empty")
        path = cat._path("empty")
        ino = os.stat(path).st_ino
        empty = _batch(spark, 0, 0)
        for method, b, kw in (
            ("merge_upsert", empty, {"key_columns": ["k"]}),
            ("merge_update_only", empty, {"key_columns": ["k"]}),
            ("merge_delete", empty.select("k"), {"identifier": "k"}),
        ):
            before, after = _merge_equals_sink(cat, "empty", method, b, **kw)
            assert before == after
        assert os.stat(path).st_ino == ino  # no swap

    def test_batch_outside_every_file(self, spark, base):
        cat = _copy(base, spark, "outside")
        path = cat._path("outside")
        before, after = _merge_equals_sink(
            cat, "outside", "merge_update_only", _batch(spark, 5000, 5010), key_columns=["k"]
        )
        assert before == after
        stored = sum(_footer_rows(path, f) for f in after)
        before, after = _merge_equals_sink(
            cat, "outside", "merge_upsert", _batch(spark, 5000, 5010), key_columns=["k"]
        )
        # the inserts fold into at most the nearest file below them
        assert len(set(before) - _carried(before, after)) <= 1
        assert sum(_footer_rows(path, f) for f in after) == stored + 10


def test_carried_files_keep_inode_and_mtime(spark, base):
    cat = _copy(base, spark, "carry")
    before, after = _merge_equals_sink(
        cat, "carry", "merge_upsert", _batch(spark, 60, 70), key_columns=["k"]
    )
    carried = _carried(before, after)
    assert carried
    for f in carried:
        assert after[f] == before[f]  # (inode, mtime) unchanged
        assert os.path.exists(os.path.join(cat._path("carry"), f".{f}.crc"))
    # rewritten files hold at most ceil((table + batch rows) / parallelism)
    path = cat._path("carry")
    cap = -(-(sum(_footer_rows(path, f) for f in after) + 10)
            // spark.sparkContext.defaultParallelism)
    for f in set(after) - carried:
        assert _footer_rows(path, f) <= cap


def test_large_insert_only_batch_keeps_its_parallelism(spark, base):
    """A batch of new keys many file caps large is written by several
    range partitions, not one task; each file holds at most the cap."""
    cat = _copy(base, spark, "wide")
    before, after = _merge_equals_sink(
        cat, "wide", "merge_upsert", _batch(spark, 1000, 1600), key_columns=["k"]
    )
    path = cat._path("wide")
    new = set(after) - _carried(before, after)
    cap = -(-sum(_footer_rows(path, f) for f in after) // spark.sparkContext.defaultParallelism)
    assert len({f.split("-")[1] for f in new}) > 1  # part-<task>-...: several writers
    assert all(_footer_rows(path, f) <= cap for f in new)


def test_inserts_past_every_key_keep_the_file_count_bounded(spark, base):
    """Batches of keys above every stored key fold into the tail file
    rather than each adding a file of its own: a file split from the
    tail holds about half the cap or more."""
    cat = _copy(base, spark, "tail")
    path = cat._path("tail")
    start = len(_files(path))
    want = _rows(cat.get("tail"))
    for i in range(16):
        batch = _batch(spark, 1000 + 10 * i, 1010 + 10 * i)
        want += _rows(batch)
        cat.merge_upsert("tail", batch, ["k"])
    assert _rows(cat.get("tail")) == sorted(want, key=repr)
    cap = -(-sum(_footer_rows(path, f) for f in _files(path))
            // spark.sparkContext.defaultParallelism)
    assert len(_files(path)) - start <= 2 * 160 / cap + 1


@pytest.mark.parametrize("crash", ["link", "aside", "into_place", "cleanup"])
def test_crash_inside_merge_leaves_table_readable(spark, base, monkeypatch, crash):
    """A crash while linking carried files, at either rename of the
    swap, or before the aside copy is removed leaves a readable table,
    and the next merge converges and cleans up ``.__tmp__``."""
    name = f"crash_{crash}"
    cat = _copy(base, spark, name)
    path = cat._path(name)
    start = _rows(cat.get(name))
    batch = _batch(spark, 140, 150)
    want = _rows(upsert(cat.get(name), batch, ["k"]))

    real_link, real_rename, real_rmtree = os.link, os.rename, shutil.rmtree
    calls = {"link": 0, "rename": 0}

    def link(src, dst):
        calls["link"] += 1
        if crash == "link" and calls["link"] == 2:
            raise OSError("injected crash while linking")
        return real_link(src, dst)

    def rename(src, dst):
        calls["rename"] += 1
        if (crash, calls["rename"]) in (("aside", 1), ("into_place", 2)):
            raise OSError("injected crash at rename")
        return real_rename(src, dst)

    def rmtree(p, *a, **kw):
        if crash == "cleanup" and p.endswith(".__old__") and os.path.exists(p):
            raise OSError("injected crash before cleanup")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(keyed.os, "link", link)
    monkeypatch.setattr(keyed.os, "rename", rename)
    monkeypatch.setattr(keyed.shutil, "rmtree", rmtree)
    with pytest.raises(OSError, match="injected"):
        cat.merge_upsert(name, batch, ["k"])
    monkeypatch.undo()

    assert _rows(cat.get(name)) == (want if crash == "cleanup" else start)
    assert _rows(ParquetCatalog(cat.root, spark).get(name)) == _rows(cat.get(name))
    cat.merge_upsert(name, batch, ["k"])
    assert _rows(cat.get(name)) == want
    assert not os.path.exists(path + ".__tmp__")
    assert not os.path.exists(path + ".__old__")


class TestSchemaMemo:
    def _jobs_of(self, spark, fn):
        """Spark job ids ``fn`` starts, from a job group of its own."""
        sc = spark.sparkContext
        group = f"memo-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    def test_get_of_a_known_table_starts_no_job(self, spark, base):
        cat = _copy(base, spark, "memo")
        assert self._jobs_of(spark, lambda: cat.get("memo"))  # first read infers
        assert self._jobs_of(spark, lambda: cat.get("memo")) == []
        cat.merge_upsert("memo", _batch(spark, 1, 3), ["k"])
        # a merge records the target's schema for the new directory
        assert self._jobs_of(spark, lambda: cat.get("memo")) == []

    def test_put_with_a_new_schema_invalidates_the_memo(self, spark, base):
        cat = _copy(base, spark, "memo_put")
        old = cat.get("memo_put")
        cat.put("memo_put", old.withColumn("extra", F.lit(1)))
        assert cat._path("memo_put") not in cat._schemas
        assert cat.get("memo_put").columns == old.columns + ["extra"]
        cat.put("memo_put", spark.range(3).withColumnRenamed("id", "only"))
        assert cat.get("memo_put").columns == ["only"]


def test_first_upsert_keeps_one_row_per_key(spark, tmp_path):
    """The first load of an upsert target dedupes like every later one:
    loading the same batch twice leaves the same rows."""
    from pypeline_spark.pipeline.runner import Pypeline
    from pypeline_spark.pipeline.spec import PipelineConfig

    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
    ).createOrReplaceTempView("dup_src")
    config = PipelineConfig.from_dict({
        "pypes": {"load": {
            "extract_query": "SELECT * FROM dup_src", "target_table": "dup_t",
            "type": "upsert", "key_columns": ["id"],
        }},
        "pypelines": {"p": ["load"]},
    })
    for catalog in (MemoryCatalog(), ParquetCatalog(str(tmp_path), spark)):
        pipe = Pypeline(spark, config, catalog=catalog)
        pipe.run("p")
        first = _rows(catalog.get("dup_t"))
        pipe.run("p")
        assert first == _rows(catalog.get("dup_t")) == [(1, "b"), (2, "c")]
