"""Manifest-committed table: atomicity, snapshot isolation,
exactly-once batch replay, time travel, and vacuum retention."""

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pypeline_spark.session import load_table
from pypeline_spark.sinks.keyed import upsert
from pypeline_spark.sinks.manifest import (
    ConstraintViolation,
    ManifestTable,
    ProtocolTooNew,
)


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "tbl"))


@pytest.fixture()
def customers(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_then_read_roundtrip(spark, table, customers):
    v = table.commit_overwrite(customers)
    assert v == 1
    assert _canon(table.read(spark)) == _canon(customers)


def test_unpublished_files_are_invisible(spark, table, customers):
    """Crash simulation: data files written but manifest never swapped
    must leave readers on the old version."""
    table.commit_overwrite(customers.filter(F.col("c_custkey") <= 100))
    before = _canon(table.read(spark))
    # write a fileset exactly as a commit would, then 'crash' pre-publish
    table._write_fileset(customers.filter(F.col("c_custkey") > 100))
    assert _canon(table.read(spark)) == before
    assert table.version() == 1


def test_snapshot_isolation_across_commits(spark, table, customers):
    table.commit_overwrite(customers.filter(F.col("c_custkey") <= 100))
    snapshot = table.read(spark)  # reader opens version 1
    expected = _canon(snapshot)
    table.commit_overwrite(customers)  # version 2 lands afterwards
    # the open reader still scans exactly the version-1 file list
    assert _canon(snapshot) == expected
    # and a new reader sees version 2
    assert len(_canon(table.read(spark))) == customers.count()


def test_merge_commit_and_exactly_once_replay(spark, table, customers):
    base = customers.filter(F.col("c_custkey") <= 1000)
    table.commit_overwrite(base, batch_id="b0")
    updates = (
        customers.filter(F.col("c_custkey").between(800, 1200))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    v1 = table.commit_merge(spark, updates, ("c_custkey",), batch_id="b1")
    after_first = _canon(table.read(spark))
    # replaying the same batch id must be a detected no-op
    v2 = table.commit_merge(spark, updates, ("c_custkey",), batch_id="b1")
    assert v2 == v1
    assert _canon(table.read(spark)) == after_first
    assert table.applied_batch_ids() == {"b0", "b1"}


def test_time_travel_reads_old_version(spark, table, customers):
    small = customers.filter(F.col("c_custkey") <= 50)
    table.commit_overwrite(small)
    table.commit_overwrite(customers)
    assert _canon(table.read(spark, version=1)) == _canon(small)


def test_vacuum_drops_only_unreferenced(spark, table, customers):
    table.commit_overwrite(customers.filter(F.col("c_custkey") <= 50))
    table.commit_overwrite(customers.filter(F.col("c_custkey") <= 100))
    table.commit_overwrite(customers)
    removed = table.vacuum(keep_versions=1)
    assert removed > 0
    # newest version fully readable; vacuumed version raises
    assert len(_canon(table.read(spark))) == customers.count()
    with pytest.raises(ValueError):
        table.read(spark, version=1)
    # no dangling files: everything in data/ is referenced by a
    # retained manifest version (materialized through the commit log)
    live = set()
    for _v, _rec, mf in table._scan_log():
        assert mf is not None  # every retained version stays derivable
        live.update(mf["files"])
    on_disk = set(os.listdir(table.data_dir))
    assert on_disk == live


class TestFilePruning:
    """Manifest column stats + stats-pruned reads and merges — the
    Iceberg/Delta data-skipping layout on the plain-filesystem table."""

    @pytest.fixture()
    def seeded(self, spark, table, customers):
        # range-cluster on the key so per-file [min, max] are disjoint
        # and pruning has something to skip
        v = table.commit_overwrite(
            customers.repartitionByRange(8, "c_custkey"),
            stats_cols=["c_custkey"],
        )
        return table, v

    def test_stats_recorded_per_file(self, seeded):
        table, _ = seeded
        m = table._read_manifest()
        assert m["files"] and m["stats"]
        for f in m["files"]:
            lo, hi = m["stats"][f]["c_custkey"]
            assert lo <= hi

    def test_pruned_read_skips_files_and_matches_full_filter(self, spark, seeded, customers):
        table, _ = seeded
        keep, total = table.prune_plan("c_custkey", 10, 99)
        assert total >= 4 and len(keep) < total  # real skipping happened
        got = table.read_pruned(spark, "c_custkey", 10, 99)
        expected = customers.filter(F.col("c_custkey").between(10, 99))
        assert _canon(got) == _canon(expected)

    def test_pruned_read_with_no_overlap_is_empty(self, spark, seeded):
        table, _ = seeded
        got = table.read_pruned(spark, "c_custkey", 10**9, 2 * 10**9)
        assert got.count() == 0

    def test_pruned_merge_carries_untouched_files_verbatim(self, spark, seeded, customers):
        table, _ = seeded
        before = table._read_manifest()
        updates = customers.filter(F.col("c_custkey").between(10, 99)).withColumn(
            "c_acctbal", F.col("c_acctbal") + 50.0
        )
        table.commit_merge(
            spark, updates, ["c_custkey"],
            stats_cols=["c_custkey"], prune_col="c_custkey",
        )
        after = table._read_manifest()
        untouched_before = {
            f for f in before["files"]
            if not table._overlaps(before, f, "c_custkey", 10, 99)
        }
        # every non-overlapping file carried over by NAME (not rewritten)
        assert untouched_before and untouched_before <= set(after["files"])
        assert all(after["stats"][f] == before["stats"][f] for f in untouched_before)
        # and the merged table equals the unpruned-merge semantics
        from pypeline_spark.sinks.keyed import upsert

        expected = upsert(customers, updates, ["c_custkey"])
        assert _canon(table.read(spark)) == _canon(expected)

    def test_pruned_merge_inserts_keys_outside_all_ranges(self, spark, seeded, customers):
        table, _ = seeded
        inserts = spark.createDataFrame(
            [(10**7, "new", 1.5)], "c_custkey bigint, c_name string, c_acctbal double"
        )
        table.commit_merge(
            spark, inserts, ["c_custkey"],
            stats_cols=["c_custkey"], prune_col="c_custkey",
        )
        assert table.read(spark).count() == customers.count() + 1


class TestMergeOnRead:
    """commit_delta / read_resolved / compact — the merge-on-read path:
    O(batch) appends, single-shuffle last-writer-wins resolution,
    scheduled compaction; all under the same atomic-pointer-swap and
    batch_id exactly-once protocol as the copy-on-write commits."""

    @pytest.fixture()
    def seeded(self, spark, table, customers):
        base = customers.filter(F.col("c_custkey") <= 400)
        table.commit_overwrite(
            base.repartitionByRange(4, "c_custkey"),
            batch_id="seed",
            stats_cols=["c_custkey"],
        )
        return table, base

    def _upd(self, customers, lo, hi, bump):
        return customers.filter(F.col("c_custkey").between(lo, hi)).withColumn(
            "c_acctbal", F.col("c_acctbal") + bump
        )

    def test_delta_commit_appends_without_touching_base(self, spark, seeded, customers):
        table, _ = seeded
        base_files = list(table._read_manifest()["files"])
        v = table.commit_delta(
            self._upd(customers, 10, 50, 5.0), ["c_custkey"], batch_id="d1"
        )
        m = table._read_manifest()
        assert v == 2
        assert m["files"] == base_files  # zero base rewrites
        assert len(m["deltas"]) == 1 and m["deltas"][0]
        assert m["key_columns"] == ["c_custkey"]

    def test_resolution_is_last_writer_wins_across_overlapping_deltas(
        self, spark, seeded, customers
    ):
        table, base = seeded
        table.commit_delta(self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1")
        table.commit_delta(self._upd(customers, 40, 80, 9.0), ["c_custkey"], "d2")
        got = {
            r.c_custkey: round(r.c_acctbal, 2)
            for r in table.read_resolved(spark).collect()
        }
        for r in base.collect():
            k, bal = r.c_custkey, round(r.c_acctbal, 2)
            if 40 <= k <= 80:
                assert got[k] == round(bal + 9.0, 2)  # d2 beats d1
            elif 10 <= k <= 60:
                assert got[k] == round(bal + 5.0, 2)
            else:
                assert got[k] == bal
        assert set(got) == {r.c_custkey for r in base.collect()}

    def test_delta_inserts_new_keys(self, spark, seeded, customers):
        table, base = seeded
        novel = customers.filter(F.col("c_custkey").between(401, 420))
        table.commit_delta(novel, ["c_custkey"], "d1")
        n_base, n_novel = base.count(), novel.count()
        assert table.read_resolved(spark).count() == n_base + n_novel

    def test_delta_replay_is_skipped(self, spark, seeded, customers):
        table, _ = seeded
        v1 = table.commit_delta(self._upd(customers, 10, 50, 5.0), ["c_custkey"], "d1")
        v2 = table.commit_delta(self._upd(customers, 10, 50, 5.0), ["c_custkey"], "d1")
        assert v1 == v2 == table.version()
        assert len(table._read_manifest()["deltas"]) == 1

    def test_compact_folds_deltas_and_preserves_content(self, spark, seeded, customers):
        table, _ = seeded
        table.commit_delta(self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1")
        table.commit_delta(self._upd(customers, 40, 80, 9.0), ["c_custkey"], "d2")
        before = _canon(table.read_resolved(spark))
        v = table.compact(spark, stats_cols=["c_custkey"])
        m = table._read_manifest()
        assert v == 4 and m["deltas"] == []
        assert _canon(table.read(spark)) == before  # folded base == resolved view
        assert _canon(table.read_resolved(spark)) == before  # and resolved is now trivial
        # pre-compaction versions still time-travel (files retained)
        assert _canon(table.read_resolved(spark, version=3)) == before

    def test_mor_equals_copy_on_write(self, spark, tmp_path, customers):
        base = customers.filter(F.col("c_custkey") <= 400)
        upd = self._upd(customers, 20, 120, 7.5)
        cow = ManifestTable(str(tmp_path / "cow"))
        cow.commit_overwrite(base, batch_id="seed")
        cow.commit_merge(spark, upd, ["c_custkey"], batch_id="b1")
        mor = ManifestTable(str(tmp_path / "mor"))
        mor.commit_overwrite(base, batch_id="seed")
        mor.commit_delta(upd, ["c_custkey"], batch_id="b1")
        assert _canon(mor.read_resolved(spark)) == _canon(cow.read(spark))

    def test_resolved_pruned_read_matches_full_filter(self, spark, seeded, customers):
        table, _ = seeded
        table.commit_delta(
            self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1",
            stats_cols=["c_custkey"],
        )
        full = table.read_resolved(spark).filter(F.col("c_custkey").between(30, 70))
        pruned = table.read_resolved(spark, prune=("c_custkey", 30, 70))
        assert _canon(pruned) == _canon(full)

    def test_resolved_prune_requires_key_column(self, spark, seeded, customers):
        table, _ = seeded
        table.commit_delta(self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1")
        with pytest.raises(ValueError, match="key column"):
            table.read_resolved(spark, prune=("c_acctbal", 0, 100))

    def test_cow_merge_refuses_over_outstanding_deltas(self, spark, seeded, customers):
        table, _ = seeded
        table.commit_delta(self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1")
        with pytest.raises(ValueError, match="compact"):
            table.commit_merge(spark, self._upd(customers, 10, 60, 1.0), ["c_custkey"])

    def test_vacuum_keeps_delta_files_of_retained_versions(self, spark, seeded, customers):
        table, _ = seeded
        table.commit_delta(self._upd(customers, 10, 60, 5.0), ["c_custkey"], "d1")
        before = _canon(table.read_resolved(spark))
        # keep the current (delta-bearing) version only
        table.vacuum(keep_versions=1)
        assert _canon(table.read_resolved(spark)) == before


def test_pruned_merge_computes_bounds_on_materialized_updates(spark, table, customers):
    """The prune-bounds job and the merge job must read the SAME rows:
    commit_merge materializes the updates (localCheckpoint) before the
    bounds aggregate, so a non-deterministic updates plan cannot emit
    keys outside the sampled [lo, hi] during the merge (which would
    duplicate them past carried-over files).  White-box pin: the
    DataFrame handed to the file writer scans the checkpointed RDD,
    not the original lineage."""
    base = customers.filter(F.col("c_custkey") <= 400)
    table.commit_overwrite(
        base.repartitionByRange(4, "c_custkey"),
        batch_id="seed",
        stats_cols=["c_custkey"],
    )
    captured = {}
    orig = table._write_fileset

    def spy(df, stats_cols=(), bloom_cols=()):
        captured["plan"] = df._jdf.queryExecution().optimizedPlan().toString()
        return orig(df, stats_cols, bloom_cols)

    table._write_fileset = spy
    upd = customers.filter(F.col("c_custkey").between(10, 60)).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1.0
    )
    table.commit_merge(
        spark, upd, ["c_custkey"], batch_id="b1",
        stats_cols=["c_custkey"], prune_col="c_custkey",
    )
    # the merged plan's updates side is the checkpointed block scan
    # (LogicalRDD), not a re-executable parquet+filter lineage of upd
    assert "LogicalRDD" in captured["plan"], captured["plan"][:500]


def test_merge_on_read_additive_schema_evolution(spark, table, customers):
    """A delta batch carrying a NEW column resolves: winning delta rows
    show the new value, untouched base rows show NULL (the
    mergeSchema read behavior), and compaction bakes the widened
    schema into the new base files."""
    base = customers.filter(F.col("c_custkey") <= 100)
    table.commit_overwrite(base, batch_id="seed")
    upd = (
        customers.filter(F.col("c_custkey").between(50, 120))
        .withColumn("c_acctbal", F.col("c_acctbal") + 5.0)
        .withColumn("tier", F.lit("gold"))
    )
    table.commit_delta(upd, ["c_custkey"], batch_id="d1")
    got = table.read_resolved(spark)
    assert "tier" in got.columns
    rows = {r.c_custkey: r.tier for r in got.collect()}
    assert rows[75] == "gold" and rows[10] is None
    assert set(rows) == {r.c_custkey for r in base.collect()} | {
        r.c_custkey for r in upd.collect()
    }
    table.compact(spark)
    assert "tier" in table.read(spark).columns
    assert table.read(spark).filter(F.col("tier") == "gold").count() == upd.count()


def test_zorder_layout_prunes_on_both_dimensions(spark, tmp_path, sf_dir):
    """The point of Z-order clustering: on a z-clustered manifest
    commit, a range predicate on EITHER column alone skips files, and
    the conjunction skips at least as many as either side — while a
    layout range-partitioned on one key alone cannot skip on the other
    column.  Content equality with the full-scan filter is the
    lossless-ness check (the hash proof is q_manifest_zorder)."""
    from pypeline_spark.operators.multidim import zbucket, zvalue
    from pypeline_spark.session import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    b = o.agg(
        F.min("o_custkey").alias("ck_lo"), F.max("o_custkey").alias("ck_hi"),
        F.min("cents").alias("c_lo"), F.max("cents").alias("c_hi"),
    )
    z = zvalue(
        zbucket(F.col("o_custkey"), F.col("ck_lo"), F.col("ck_hi")),
        zbucket(F.col("cents"), F.col("c_lo"), F.col("c_hi")),
    )

    zt = ManifestTable(str(tmp_path / "ztbl"))
    zt.commit_overwrite(
        o.crossJoin(F.broadcast(b))
        .withColumn("__z", z)
        .drop("ck_lo", "ck_hi", "c_lo", "c_hi")
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z"),
        batch_id="seed",
        stats_cols=["o_custkey", "cents"],
    )
    kt = ManifestTable(str(tmp_path / "ktbl"))  # one-key layout: custkey only
    kt.commit_overwrite(
        o.repartitionByRange(16, "o_custkey"),
        batch_id="seed",
        stats_cols=["o_custkey", "cents"],
    )

    ck, price = ("o_custkey", (10, 99)), ("cents", (1_000_000, 2_000_000))
    z_by_ck, total = zt.prune_plan_multi(dict([ck]))
    z_by_price, _ = zt.prune_plan_multi(dict([price]))
    z_both, _ = zt.prune_plan_multi(dict([ck, price]))
    assert total == 16
    assert len(z_by_ck) < total  # custkey predicate skips files
    assert len(z_by_price) < total  # price predicate ALSO skips files
    assert len(z_both) <= min(len(z_by_ck), len(z_by_price))

    # the single-key layout prunes its own key but NOT the other column
    k_by_ck, k_total = kt.prune_plan_multi(dict([ck]))
    k_by_price, _ = kt.prune_plan_multi(dict([price]))
    assert len(k_by_ck) < k_total
    assert len(k_by_price) == k_total  # every file overlaps the price range

    # losslessness: doubly-pruned read == full-scan filter
    full = (
        zt.read(spark)
        .filter(F.col("o_custkey").between(10, 99))
        .filter(F.col("cents").between(1_000_000, 2_000_000))
    )
    pruned = zt.read_pruned_multi(spark, dict([ck, price]))
    assert _canon(pruned.drop("__z")) == _canon(full.drop("__z"))


class TestBloomIndex:
    @pytest.fixture()
    def seeded(self, spark, tmp_path, sf_dir):
        from pypeline_spark.session import load_table

        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5(F.col("text")).alias("fp")
        )
        t = ManifestTable(str(tmp_path / "btbl"))
        t.commit_overwrite(
            d.repartition(16, "fp"),
            batch_id="seed",
            stats_cols=["fp"],
            bloom_cols=["fp"],
        )
        return t, d

    def test_bloom_skips_where_minmax_cannot(self, spark, seeded):
        """On a hashed key, every file's [min, max] envelope spans the
        keyspace (range pruning keeps ALL files); the bloom keeps ~1."""
        t, d = seeded
        probe = d.filter(F.col("doc_id") == 7).select("fp").first()[0]
        by_range, total = t.prune_plan("fp", probe, probe)
        by_bloom, _ = t.prune_plan_eq("fp", probe)
        assert len(by_range) == total  # min/max is useless on md5 keys
        assert len(by_bloom) < total // 2  # bloom actually skips
        # losslessness: the probed doc is in the surviving files
        got = t.read_pruned_eq(spark, "fp", probe)
        assert {r.doc_id for r in got.collect()} >= {7}

    def test_bloom_proves_absence_for_foreign_keys(self, spark, seeded):
        """Keys that were never written should (almost always) prune to
        zero files — and the read contract still returns an empty
        DataFrame with the table schema, never an error."""
        t, _ = seeded
        kept = sum(
            len(t.prune_plan_eq("fp", f"absent-key-{i}")[0]) for i in range(50)
        )
        # 50 absent probes over 16 files: expected ~fp_rate*16*50 ≈ a
        # handful; a broken index would keep 800
        assert kept < 80
        empty = t.read_pruned_eq(spark, "fp", "absent-key-0")
        assert empty.count() == 0 and "doc_id" in empty.columns

    def test_bloom_never_false_negatives(self, spark, seeded):
        """Every present key's file survives its own probe — across a
        50-key sample (the one property a bloom filter must never
        break)."""
        t, d = seeded
        for r in d.limit(50).collect():
            keep, _ = t.prune_plan_eq("fp", r.fp)
            assert keep, f"bloom false-negative for doc {r.doc_id}"
            assert any(
                rr.doc_id == r.doc_id
                for rr in t.read_pruned_eq(spark, "fp", r.fp).collect()
            )


class TestBloomTypeCanonicalization:
    """ADVICE r7 (medium): bloom positions hashed str(value), so an int
    column probed with 42.0 or Decimal('42') gave '42.0'/'42' string
    mismatches — silent bloom FALSE NEGATIVES that dropped matching
    rows even though min/max pruning (numeric comparison) kept the
    file.  Values are now canonicalized before hashing."""

    def test_canonical_forms_unify_numeric_types(self):
        from decimal import Decimal

        c = ManifestTable._bloom_canon
        assert c(42) == c(42.0) == c(Decimal("42"))
        assert c(0.5) == c(Decimal("0.5"))
        assert c(True) != c(1)  # bool is its own domain, not the int 1
        assert c("abc") == "abc"  # non-numerics pass through
        c(float("nan")), c(float("inf"))  # no crash on non-finite

    def test_int_column_probed_with_float_keeps_the_file(self, spark, tmp_path, customers):
        from decimal import Decimal

        t = ManifestTable(str(tmp_path / "ints"))
        t.commit_overwrite(
            customers.repartition(8, "c_custkey"),
            stats_cols=["c_custkey"],
            bloom_cols=["c_custkey"],
        )
        keep_int, total = t.prune_plan_eq("c_custkey", 7)
        assert keep_int and len(keep_int) < total
        for probe in (7.0, Decimal("7")):
            keep, _ = t.prune_plan_eq("c_custkey", probe)
            assert keep == keep_int, (
                f"bloom false-negative probing int column with "
                f"{type(probe).__name__}"
            )
            got = t.read_pruned_eq(spark, "c_custkey", probe)
            assert got.count() == 1


class TestPrunedReadersOverDeltas:
    def test_pruned_reads_refuse_outstanding_deltas(self, spark, tmp_path, customers):
        """ADVICE r7: the base-only pruned readers silently returned
        stale pre-delta rows on a merge-on-read table; they now raise
        and point at read_resolved, like commit_merge does."""
        t = ManifestTable(str(tmp_path / "mor"))
        t.commit_overwrite(customers, batch_id="seed", stats_cols=["c_custkey"])
        upd = customers.filter(F.col("c_custkey").between(5, 9)).withColumn(
            "c_acctbal", F.col("c_acctbal") + 5.0
        )
        t.commit_delta(upd, ["c_custkey"], batch_id="d1", stats_cols=["c_custkey"])
        with pytest.raises(ValueError, match="read_resolved"):
            t.read_pruned(spark, "c_custkey", 5, 9)
        with pytest.raises(ValueError, match="read_resolved"):
            t.read_pruned_multi(spark, {"c_custkey": (5, 9)})
        with pytest.raises(ValueError, match="read_resolved"):
            t.read_pruned_eq(spark, "c_custkey", 7)
        # time travel to the pre-delta version still prunes (that
        # snapshot has no deltas to miss)
        assert t.read_pruned(spark, "c_custkey", 5, 9, version=1).count() == 5
        # compaction folds the deltas and restores the pruned readers
        t.compact(spark, stats_cols=["c_custkey"])
        got = {
            r.c_custkey: round(r.c_acctbal, 2)
            for r in t.read_pruned(spark, "c_custkey", 5, 9).collect()
        }
        want = {r.c_custkey: round(r.c_acctbal, 2) for r in upd.collect()}
        assert got == want


class TestBloomIndexSurvivesRewrites:
    """ADVICE r7: compact() had no bloom_cols path, so compacting a
    bloom-indexed table silently dropped its per-file Bloom indexes
    (reads stayed correct — missing bloom is conservative — but
    equality-probe skipping degraded to opening every file).  The
    bloom column list is now a persisted table property reused by
    compact(), commit_merge(), and commit_delta()."""

    @pytest.fixture()
    def docs(self, spark, sf_dir):
        return load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5(F.col("text")).alias("fp")
        )

    def test_compact_rebuilds_recorded_bloom_index(self, spark, tmp_path, docs):
        t = ManifestTable(str(tmp_path / "bt"))
        t.commit_overwrite(
            docs.repartition(16, "fp"),
            batch_id="seed",
            stats_cols=["fp"],
            bloom_cols=["fp"],
        )
        assert t._read_manifest()["bloom_cols"] == ["fp"]
        upd = docs.filter(F.col("doc_id") < 20).withColumn(
            "fp", F.md5(F.concat(F.col("fp"), F.lit("v2")))
        )
        t.commit_delta(upd, ["doc_id"], batch_id="d1", stats_cols=["fp"])
        t.compact(spark, stats_cols=["fp"])
        m = t._read_manifest()
        assert m["deltas"] == [] and m["bloom_cols"] == ["fp"]
        # every post-compaction file carries a rebuilt bloom bitset
        assert all("bloom" in m["stats"][f] for f in m["files"])
        # and equality probes still skip: an ABSENT key prunes below
        # total, which only a live bloom can do (min/max envelopes on
        # md5 keys span the whole keyspace and keep every file) — note
        # compaction may coalesce to few files, so probe absence rather
        # than asserting a present key skips
        probe = upd.filter(F.col("doc_id") == 7).first().fp
        keep, total = t.prune_plan_eq("fp", probe)
        assert keep  # present key survives (no false negative)
        absent = sum(
            len(t.prune_plan_eq("fp", f"absent-{i}")[0]) for i in range(20)
        )
        assert absent < 20 * total  # a dropped index would keep all, always
        assert {r.doc_id for r in t.read_pruned_eq(spark, "fp", probe).collect()} == {7}

    def test_cow_merge_rebuilds_bloom_on_rewritten_slice(self, spark, tmp_path, docs):
        t = ManifestTable(str(tmp_path / "cb"))
        t.commit_overwrite(
            docs.repartition(8, "fp"),
            batch_id="seed",
            stats_cols=["fp"],
            bloom_cols=["fp"],
        )
        upd = docs.filter(F.col("doc_id") < 10).withColumn(
            "fp", F.md5(F.concat(F.col("fp"), F.lit("v2")))
        )
        t.commit_merge(spark, upd, ["doc_id"], batch_id="b1", stats_cols=["fp"])
        m = t._read_manifest()
        assert m["bloom_cols"] == ["fp"]
        assert all("bloom" in m["stats"][f] for f in m["files"])
        probe = upd.filter(F.col("doc_id") == 3).first().fp
        keep, total = t.prune_plan_eq("fp", probe)
        assert keep  # present key survives in the rewritten slice
        absent = sum(
            len(t.prune_plan_eq("fp", f"absent-{i}")[0]) for i in range(20)
        )
        assert absent < 20 * total  # rewritten files' blooms prove absence


class TestDistributedBloomBuild:
    """r8 VERDICT (perf-weak #2): the bloom index was built by a
    driver-side per-value Python md5 loop — O(total rows) on the
    driver per commit/compaction.  The build now runs DISTRIBUTED
    (mapInArrow partial bitsets, driver OR-combine of 1 KiB metadata);
    these tests pin bit-for-bit equality with the single-file
    reference builder ``_build_bloom`` across types, nulls, and
    multi-partition files."""

    def test_distributed_equals_reference_builder(self, spark, tmp_path):
        df = spark.range(0, 2_000).selectExpr(
            "id",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 1000000007 END AS big",
            "CASE WHEN id % 5 = 0 THEN NULL ELSE md5(CAST(id AS STRING)) END AS fp",
            "CASE WHEN id % 3 = 0 THEN id * 0.5 ELSE CAST(id AS DOUBLE) END AS x",
        )
        t = ManifestTable(str(tmp_path / "dist"))
        t.commit_overwrite(
            df.repartition(8, "fp"),
            stats_cols=["id"],
            bloom_cols=["id", "big", "fp", "x"],
        )
        m = t._read_manifest()
        assert m["files"]
        for f in m["files"]:
            entry = m["stats"][f]
            assert entry.get("bloom_v") == ManifestTable._BLOOM_V
            path = os.path.join(t.data_dir, f)
            for col in ("id", "big", "fp", "x"):
                ref = ManifestTable._build_bloom(path, col)
                assert entry["bloom"][col] == ref, (f, col)

    def test_absent_column_builds_no_index(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "nocol"))
        t.commit_overwrite(
            customers, stats_cols=["c_custkey"], bloom_cols=["no_such_col"]
        )
        m = t._read_manifest()
        assert all("bloom" not in m["stats"].get(f, {}) for f in m["files"])
        # conservative: every file survives an equality probe
        keep, total = t.prune_plan_eq("no_such_col", "x")
        assert len(keep) == total


class TestDistributedFooterStats:
    """r9 VERDICT (optional #7): ``_footer_stats`` read each staged
    file's parquet footer serially on the driver — O(files) metadata
    (NOT a scale defect), but the same staged-read Spark job shape
    that builds the bloom bitsets can return per-file [min, max] and
    drop the serial loop.  These tests pin the distributed job
    bit-identical to the serial footer reader across types, nulls,
    missing columns, and multi-file layouts."""

    def test_distributed_equals_serial_footer_reader(self, spark, tmp_path):
        df = spark.range(0, 2_000).selectExpr(
            "id",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 1000000007 END AS big",
            "md5(CAST(id AS STRING)) AS fp",
            "CASE WHEN id % 3 = 0 THEN -id * 0.5 ELSE CAST(id AS DOUBLE) END AS x",
        )
        staging = str(tmp_path / "staged")
        df.repartition(8, "fp").write.parquet(staging)
        cols = ["id", "big", "fp", "x", "no_such_col"]
        # force the job shape: 8 staged files would auto-pick the
        # driver loop on a wide local master (r19 adaptive switch)
        dist = ManifestTable._footer_stats_distributed(
            spark, staging, cols, distributed=True
        )
        staged = sorted(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        assert len(staged) == 8 and set(dist) == set(staged)
        for f in staged:
            serial = ManifestTable._footer_stats(
                os.path.join(staging, f), cols
            )
            assert dist[f] == serial, f
            # the stats must be the real envelope, not a placeholder
            assert "fp" in serial and "no_such_col" not in serial

    def test_empty_inputs_return_empty(self, spark, tmp_path):
        empty = str(tmp_path / "empty")
        os.makedirs(empty)
        assert ManifestTable._footer_stats_distributed(spark, empty, ["a"]) == {}
        staged = str(tmp_path / "staged")
        spark.range(5).write.parquet(staged)
        assert ManifestTable._footer_stats_distributed(spark, staged, []) == {}

    def test_driver_loop_equals_distributed_job(self, spark, tmp_path):
        """r19 adaptive switch: the sub-parallelism driver loop must be
        bit-identical to the distributed job in BOTH payload modes
        (plain stats and the write-path ``with_rows`` wrapper), and the
        auto mode must pick the loop below defaultParallelism files and
        the job above it."""
        df = spark.range(0, 500).selectExpr(
            "id", "md5(CAST(id AS STRING)) AS fp"
        )
        staging = str(tmp_path / "staged")
        df.repartition(4, "fp").write.parquet(staging)
        cols = ["id", "fp"]
        for with_rows in (False, True):
            loop = ManifestTable._footer_stats_distributed(
                spark, staging, cols, with_rows=with_rows, distributed=False
            )
            job = ManifestTable._footer_stats_distributed(
                spark, staging, cols, with_rows=with_rows, distributed=True
            )
            assert loop == job and len(loop) == 4
            if with_rows:
                assert sum(v["rows"] for v in loop.values()) == 500
        # auto mode: 4 files <= defaultParallelism -> driver loop
        # (observable: equals the forced loop; the switch itself is
        # size-driven, so a fileset wider than the cluster would take
        # the job path — exercised via a tiny threshold stand-in)
        auto = ManifestTable._footer_stats_distributed(spark, staging, cols)
        assert auto == ManifestTable._footer_stats_distributed(
            spark, staging, cols, distributed=False
        )

    def test_written_value_counts_driver_equals_distributed(
        self, spark, tmp_path
    ):
        """r20 adaptive switch for the post-write count-back jobs (dv
        suppression counts, CDC op metrics): the driver pyarrow path
        must be bit-identical to the distributed aggregation,
        including multi-file filesets and null marker values."""
        t = ManifestTable(str(tmp_path / "vc"))
        df = spark.range(0, 1_000).selectExpr(
            "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('f', CAST(id % 7 AS STRING)) END AS __file__",
            "id AS __pos__",
        )
        staging = os.path.join(t.root, "stage")
        df.repartition(3).write.parquet(staging)
        files = []
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                os.replace(
                    os.path.join(staging, f), os.path.join(t.data_dir, f)
                )
                files.append(f)
        loop = t._written_value_counts(
            spark, files, "__file__", distributed=False
        )
        job = t._written_value_counts(
            spark, files, "__file__", distributed=True
        )
        assert loop == job
        assert sum(v for k, v in loop.items() if k is not None) > 0
        # auto mode picks the loop for a tiny local fileset
        assert t._written_value_counts(spark, files, "__file__") == loop
        assert t._written_value_counts(spark, [], "__file__") == {}

    def test_merge_dv_counts_match_brute_recount(self, spark, tmp_path):
        """End-to-end: the dv suppression counts and CDC op metrics a
        dv merge publishes (now via the adaptive counter) must equal a
        brute-force Spark recount of the written filesets."""
        from pyspark.sql import functions as F

        t = ManifestTable(str(tmp_path / "vc2"))
        base = spark.range(0, 200).selectExpr(
            "id AS k", "CAST(id * 2 AS DOUBLE) AS v"
        )
        t.commit_overwrite(base.repartition(4, "k"), stats_cols=["k"])
        src = spark.range(0, 80).selectExpr(
            "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
        )
        t.merge_into(
            spark,
            src,
            key_columns=["k"],
            clauses=[("update", None, "*"), ("insert", None, "*")],
            mode="dv",
        )
        m = t._read_manifest()
        dv = m["dv"]
        recount = (
            spark.read.schema(ManifestTable._dv_read_schema())
            .parquet(*[os.path.join(t.data_dir, f) for f in dv["files"]])
            .groupBy("__file__")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert dv["rows"] == {r["__file__"]: r["n"] for r in recount}
        cdc = (
            spark.read.parquet(
                *[os.path.join(t.data_dir, f) for f in m["cdc_files"]]
            )
            .groupBy("__ct__")
            .count()
            .collect()
        )
        by_ct = {r["__ct__"]: r["count"] for r in cdc}
        # op metrics surface through DESCRIBE HISTORY (transient key,
        # popped into the per-commit record)
        hist = {
            r["version"]: r
            for r in t.history(spark).collect()
        }
        rec = hist[m["version"]]
        assert rec["rows_updated"] == by_ct.get("update_postimage", 0)
        assert rec["rows_inserted"] == by_ct.get("insert", 0)

    def test_write_fileset_records_identical_stats(self, spark, tmp_path, customers):
        # end-to-end: the manifest entry written through the
        # distributed job equals what the serial loop would have put
        # there, and range pruning still works on it
        t = ManifestTable(str(tmp_path / "diststats"))
        t.commit_overwrite(
            customers.repartitionByRange(4, "c_custkey"),
            stats_cols=["c_custkey"],
        )
        m = t._read_manifest()
        assert m["files"]
        for f in m["files"]:
            serial = ManifestTable._footer_stats(
                os.path.join(t.data_dir, f), ["c_custkey"]
            )
            assert m["stats"][f] == serial, f
        keep, total = t.prune_plan("c_custkey", 1, 5)
        assert total == 4 and len(keep) < total


class TestBloomSchemeVersioning:
    """ADVICE r8 (medium): the bloom hash input changed in r8
    (str -> canonical numeric form) with no scheme marker, so bitsets
    persisted by pre-change code (bits set for '42.0') probed with the
    new canon ('42') were silent FALSE NEGATIVES — read_pruned_eq
    dropped matching rows from existing tables.  Every bitset now
    carries ``bloom_v``; a missing or older version is treated as
    ABSENT (file kept and scanned) until a rewrite rebuilds it."""

    def test_unversioned_bitset_is_ignored_not_trusted(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "legacy"))
        t.commit_overwrite(
            customers.repartition(4, "c_custkey"),
            stats_cols=["c_custkey"],
            bloom_cols=["c_custkey"],
        )
        m = t._read_manifest()
        # simulate a pre-versioning manifest: strip the scheme marker
        # and poison every bitset to all-zero (the worst case — an
        # old-scheme bitset that proves EVERYTHING absent under the
        # new probe positions)
        for f in m["files"]:
            m["stats"][f].pop("bloom_v", None)
            m["stats"][f]["bloom"] = {
                c: "00" * (ManifestTable._BLOOM_BITS // 8)
                for c in m["stats"][f]["bloom"]
            }
        t._publish({**m, "version": m["version"] + 1})
        # unversioned bitsets must NOT prune: the all-zero poison would
        # drop every file, so the bloom must contribute NOTHING beyond
        # plain [min, max] stats pruning — and the read still returns
        # the row
        keep_eq, _ = t.prune_plan_eq("c_custkey", 7)
        keep_stats, _ = t.prune_plan("c_custkey", 7, 7)
        assert keep_eq == keep_stats  # bitsets untrusted, not consulted
        assert t.read_pruned_eq(spark, "c_custkey", 7).count() == 1
        # a rewrite rebuilds under the current scheme and restores
        # skipping on hashed-key-style probes
        t.commit_overwrite(
            customers.repartition(4, "c_custkey"),
            stats_cols=["c_custkey"],
        )
        m2 = t._read_manifest()
        assert all(
            m2["stats"][f].get("bloom_v") == ManifestTable._BLOOM_V
            for f in m2["files"]
        )
        assert t.read_pruned_eq(spark, "c_custkey", 7).count() == 1

    def test_version_mismatch_is_conservative_in_may_contain(self, table):
        zero = "00" * (ManifestTable._BLOOM_BITS // 8)
        m = {"stats": {"f1": {"bloom": {"k": zero}, "bloom_v": 1}}}
        # old scheme version: treated as absent -> may contain
        assert table._bloom_may_contain(m, "f1", "k", "v") is True
        m["stats"]["f1"]["bloom_v"] = ManifestTable._BLOOM_V
        # current version: the all-zero bitset proves absence
        assert table._bloom_may_contain(m, "f1", "k", "v") is False


class TestBloomColsClearable:
    """ADVICE r8 (low): ``list(bloom_cols) or inherited`` treated an
    empty list as 'inherit', so the persisted bloom_cols property
    could never be cleared — every later commit paid the per-file
    index rebuild forever.  ``None`` now inherits; an explicit empty
    sequence clears."""

    def test_empty_list_clears_the_table_property(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "clr"))
        t.commit_overwrite(
            customers, stats_cols=["c_custkey"], bloom_cols=["c_custkey"]
        )
        assert t._read_manifest()["bloom_cols"] == ["c_custkey"]
        # None (default) inherits: the index keeps being built
        t.commit_overwrite(customers, stats_cols=["c_custkey"])
        m = t._read_manifest()
        assert m["bloom_cols"] == ["c_custkey"]
        assert all("bloom" in m["stats"][f] for f in m["files"])
        # explicit [] clears: property dropped, no index built
        t.commit_overwrite(customers, stats_cols=["c_custkey"], bloom_cols=[])
        m = t._read_manifest()
        assert m["bloom_cols"] == []
        assert all("bloom" not in m["stats"].get(f, {}) for f in m["files"])


class TestMergeOnReadPointLookup:
    """ADVICE r8 (low): commit_delta built bloom bitsets on delta
    files but no reader consulted them.  read_resolved's key pruning
    now probes the blooms on a POINT prune (lo == hi), so a
    single-key read of a merge-on-read table opens only files whose
    bloom admits the key — the delta blooms pay for themselves."""

    @pytest.fixture()
    def mor(self, spark, tmp_path, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select(
            F.md5(F.col("text")).alias("fp"), "doc_id", "source"
        )
        t = ManifestTable(str(tmp_path / "morpt"))
        t.commit_overwrite(
            docs.repartition(8, "fp"),
            batch_id="seed",
            stats_cols=["fp"],
            bloom_cols=["fp"],
        )
        # two disjoint delta batches keyed on the hashed column: their
        # [min, max] envelopes both span the md5 keyspace, so only the
        # bloom can tell which delta holds a probed key
        d1 = docs.filter(F.col("doc_id") < 10).withColumn(
            "source", F.lit("d1")
        )
        d2 = docs.filter(F.col("doc_id").between(200, 209)).withColumn(
            "source", F.lit("d2")
        )
        t.commit_delta(d1, ["fp"], batch_id="d1", stats_cols=["fp"])
        t.commit_delta(d2, ["fp"], batch_id="d2", stats_cols=["fp"])
        return t, docs

    def test_point_lookup_skips_non_matching_delta_files(self, spark, mor):
        t, docs = mor
        m = t._read_manifest()
        d1_files, d2_files = m["deltas"]
        probe = docs.filter(F.col("doc_id") == 5).first().fp
        resolved = t.read_resolved(spark, prune=("fp", probe, probe))
        opened = {os.path.basename(p) for p in resolved.inputFiles()}
        # the d2 delta (doc_ids 200-209) cannot contain doc 5's fp:
        # min/max keeps it, the bloom proves it absent
        assert not opened & set(d2_files)
        rows = resolved.collect()
        assert [r.doc_id for r in rows] == [5]
        assert rows[0].source == "d1"  # the delta row won resolution

    def test_point_lookup_without_deltas_uses_bloom_skipping(self, spark, mor):
        t, docs = mor
        t.compact(spark, stats_cols=["fp"])
        probe = docs.filter(F.col("doc_id") == 205).first().fp
        got = t.read_resolved(spark, prune=("fp", probe, probe))
        rows = got.collect()
        assert [r.doc_id for r in rows] == [205]
        assert rows[0].source == "d2"

    def test_range_prune_on_deltas_still_exact(self, spark, mor):
        """A RANGE prune (lo != hi) must not consult blooms (a bloom
        answers equality only) — pin losslessness vs the full resolve."""
        t, _ = mor
        full = t.read_resolved(spark).filter(F.col("fp") >= "8").filter(F.col("fp") <= "9")
        pruned = t.read_resolved(spark, prune=("fp", "8", "9"))
        assert _canon(pruned) == _canon(full)


class TestOptimize:
    """Bin-packing OPTIMIZE: small-file compaction to a target file
    count with content, index, and protocol invariants preserved."""

    def test_bin_packs_to_ceil_rows_over_target(self, spark, table, customers):
        base = customers.filter(F.col("c_custkey") <= 120)
        n = base.count()
        table.commit_overwrite(base.repartition(12))  # fragmented seed
        assert len(table._read_manifest()["files"]) == 12
        v = table.optimize(spark, target_rows=50)
        m = table._read_manifest()
        assert m["version"] == v == 2
        assert len(m["files"]) == -(-n // 50)  # ceil
        assert _canon(table.read(spark)) == _canon(base)
        # the pre-optimize version stays time-travel readable
        assert _canon(table.read(spark, version=1)) == _canon(base)

    def test_folds_outstanding_deltas_last_writer_wins(
        self, spark, table, customers
    ):
        base = customers.filter(F.col("c_custkey") <= 100)
        table.commit_overwrite(base.repartition(6))
        upd = base.filter(F.col("c_custkey") % 2 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 99.0
        )
        table.commit_delta(upd, ["c_custkey"], batch_id="d1")
        expected = _canon(table.read_resolved(spark))
        table.optimize(spark, target_rows=1000)
        m = table._read_manifest()
        assert m["deltas"] == []
        assert len(m["files"]) == 1
        assert _canon(table.read(spark)) == expected
        # key_columns survive: a later delta commit still resolves
        upd2 = base.filter(F.col("c_custkey") <= 10).withColumn(
            "c_acctbal", F.lit(0.0)
        )
        table.commit_delta(upd2, ["c_custkey"], batch_id="d2")
        got = {
            r.c_custkey: r.c_acctbal
            for r in table.read_resolved(spark).collect()
        }
        assert all(got[k] == 0.0 for k in got if k <= 10)

    def test_rebuilds_recorded_bloom_index(self, spark, table, customers):
        d = customers.select(
            "c_custkey", F.md5(F.col("c_name")).alias("fp")
        ).filter(F.col("c_custkey") <= 100)
        table.commit_overwrite(
            d.repartition(8), stats_cols=["fp"], bloom_cols=["fp"]
        )
        table.optimize(spark, target_rows=25, stats_cols=["fp"])
        m = table._read_manifest()
        assert m["bloom_cols"] == ["fp"]  # property inherited
        for f in m["files"]:
            assert "fp" in m["stats"][f]["bloom"], f
            assert m["stats"][f]["bloom_v"] == ManifestTable._BLOOM_V
        probe = d.filter(F.col("c_custkey") == 7).first().fp
        hit = table.read_pruned_eq(spark, "fp", probe)
        assert [r.c_custkey for r in hit.collect()] == [7]

    def test_replay_empty_and_bad_target(self, spark, table, customers):
        assert table.optimize(spark, target_rows=10) == 0  # empty: no-op
        table.commit_overwrite(customers.limit(20).repartition(4))
        v = table.optimize(spark, target_rows=100, batch_id="opt1")
        assert table.optimize(spark, target_rows=100, batch_id="opt1") == v
        assert table.version() == v  # replay did not publish
        with pytest.raises(ValueError):
            table.optimize(spark, target_rows=0)

    def test_selective_rewrites_only_small_files(self, spark, table, customers):
        """small_file_bytes: right-sized files carry over verbatim
        (name + stats + bloom), only the small tail is bin-packed."""
        d = customers.select(
            "c_custkey", F.md5(F.col("c_name")).alias("fp")
        )
        big = d.filter(F.col("c_custkey") <= 100).coalesce(1)
        small = d.filter(F.col("c_custkey") > 100).repartition(6)
        table.commit_overwrite(
            big.unionByName(small).repartition(7, "c_custkey"),
            stats_cols=["fp"], bloom_cols=["fp"],
        )
        # make a genuinely bimodal layout: one big commit + small deltas
        # is refused in selective mode, so build it as one fileset where
        # sizes differ by content volume instead
        m0 = table._read_manifest()
        import os as _os
        sizes = {
            f: _os.path.getsize(_os.path.join(table.data_dir, f))
            for f in m0["files"]
        }
        floor = sorted(sizes.values())[len(sizes) // 2]  # median as floor
        expect_carried = sorted(f for f, s in sizes.items() if s >= floor)
        before = _canon(table.read(spark))
        v = table.optimize(
            spark, target_rows=10_000, stats_cols=["fp"],
            small_file_bytes=floor,
        )
        m = table._read_manifest()
        assert m["version"] == v
        # carried files kept their names AND their stats/bloom entries
        assert set(expect_carried) <= set(m["files"])
        for f in expect_carried:
            assert m["stats"][f] == m0["stats"][f], f
        # the small tail was folded into ceil(rows/target)=1 new file
        assert len(m["files"]) == len(expect_carried) + 1
        # content is bit-identical
        assert _canon(table.read(spark)) == before

    def test_selective_noop_when_nothing_is_small(self, spark, table, customers):
        table.commit_overwrite(customers.repartition(4))
        v0 = table.version()
        assert table.optimize(spark, target_rows=10, small_file_bytes=1) == v0
        assert table.version() == v0  # no version published

    def test_selective_refuses_outstanding_deltas(self, spark, table, customers):
        base = customers.filter(F.col("c_custkey") <= 50)
        table.commit_overwrite(base)
        table.commit_delta(
            base.withColumn("c_acctbal", F.lit(1.0)), ["c_custkey"], batch_id="d"
        )
        with pytest.raises(ValueError, match="selective optimize"):
            table.optimize(spark, target_rows=10, small_file_bytes=10**9)


class TestFileMetadataPlanning:
    """r10 VERDICT nits #1/#2: OPTIMIZE derived its target file count
    from an extra count() pass and sized the selective split with one
    os.stat per file — both numbers the write path already knew.  Every
    commit now records per-file {bytes, rows} in the manifest
    ("filemeta", the Delta/Iceberg file-entry shape) and OPTIMIZE plans
    from that metadata alone; these tests pin the recording, the
    metadata-only code paths (by making the old I/O impossible), and
    the legacy fallback."""

    def test_commits_record_bytes_and_rows(self, spark, table, customers):
        base = customers.filter(F.col("c_custkey") <= 200)
        table.commit_overwrite(base.repartition(5), stats_cols=["c_custkey"])
        m = table._read_manifest()
        assert set(m["filemeta"]) == set(m["files"])
        for f in m["files"]:
            path = os.path.join(table.data_dir, f)
            assert m["filemeta"][f]["bytes"] == os.path.getsize(path), f
        assert sum(m["filemeta"][f]["rows"] for f in m["files"]) == base.count()
        # delta commits extend the map without touching base entries
        upd = base.limit(10).withColumn("c_acctbal", F.lit(0.0))
        table.commit_delta(upd, ["c_custkey"], batch_id="d1")
        m2 = table._read_manifest()
        delta_files = [n for fs in m2["deltas"] for n in fs]
        assert set(m2["filemeta"]) == set(m2["files"]) | set(delta_files)
        for f in m2["files"]:
            assert m2["filemeta"][f] == m["filemeta"][f], f

    def test_selective_optimize_never_stats_data_files(
        self, spark, table, customers, monkeypatch
    ):
        """The selective split must read sizes from the manifest: any
        os.stat against a COMMITTED data file fails the test (staging
        files are exempt — the write path legitimately stats what it
        just wrote)."""
        import pypeline_spark.sinks.manifest as mmod

        table.commit_overwrite(
            customers.repartition(6, "c_custkey"), stats_cols=["c_custkey"]
        )
        before = _canon(table.read(spark))
        real = os.path.getsize
        data_dir = os.path.abspath(table.data_dir)

        def guarded(path):
            if os.path.abspath(path).startswith(data_dir):
                raise AssertionError(f"os.stat on committed file: {path}")
            return real(path)

        monkeypatch.setattr(mmod.os.path, "getsize", guarded)
        sizes = [m["bytes"] for m in table._read_manifest()["filemeta"].values()]
        floor = sorted(sizes)[len(sizes) // 2]
        v = table.optimize(
            spark, target_rows=10_000, stats_cols=["c_custkey"],
            small_file_bytes=floor,
        )
        assert table.version() == v
        assert _canon(table.read(spark)) == before

    def test_full_optimize_plans_without_a_count_pass(
        self, spark, table, customers, monkeypatch
    ):
        """No deltas + full filemeta coverage: the ceil(rows/target)
        sizing must come from the manifest — a count() anywhere in
        optimize fails the test."""
        from pyspark.sql import DataFrame

        base = customers.filter(F.col("c_custkey") <= 120)
        n = base.count()
        table.commit_overwrite(base.repartition(12))
        before = _canon(table.read(spark))

        def boom(self_df):
            raise AssertionError("optimize ran a count() pass")

        monkeypatch.setattr(DataFrame, "count", boom)
        table.optimize(spark, target_rows=50)
        monkeypatch.undo()
        m = table._read_manifest()
        assert len(m["files"]) == -(-n // 50)
        assert _canon(table.read(spark)) == before

    def test_legacy_manifest_without_filemeta_falls_back(
        self, spark, table, customers
    ):
        """Tables written before filemeta existed must still optimize:
        sizes fall back to os.stat, the target count to count()."""
        import json as _json

        base = customers.filter(F.col("c_custkey") <= 120)
        n = base.count()
        table.commit_overwrite(base.repartition(8))
        # strip filemeta in place, as a pre-upgrade manifest would look
        # (commit records carry the manifest under "snapshot"/"actions")
        for fname in os.listdir(table.root):
            if fname.startswith("_manifest") and fname.endswith(".json"):
                p = os.path.join(table.root, fname)
                with open(p) as fh:
                    m = _json.load(fh)
                m.pop("filemeta", None)
                if isinstance(m.get("snapshot"), dict):
                    m["snapshot"].pop("filemeta", None)
                if isinstance(m.get("actions"), dict):
                    m["actions"].get("set", {}).pop("filemeta", None)
                    m["actions"].get("patch", {}).pop("filemeta", None)
                if isinstance(m.get("record"), dict):  # the pointer hint
                    m["record"].get("snapshot", {}).pop("filemeta", None)
                with open(p, "w") as fh:
                    _json.dump(m, fh)
        v = table.optimize(spark, target_rows=50, small_file_bytes=1)
        assert v == 1  # every file is >= 1 byte: selective no-op
        table.optimize(spark, target_rows=50)
        m = table._read_manifest()
        assert len(m["files"]) == -(-n // 50)
        assert _canon(table.read(spark)) == _canon(base)


class TestClusteredOptimize:
    """r10 VERDICT #3: round-robin OPTIMIZE destroys Z-order clustering
    and widens every per-file stats envelope — an optimized table
    traded skipping for file count.  cluster_by=(x, y) range-partitions
    the rewrite on the Morton interleave instead, so the compacted
    files keep narrow envelopes in BOTH dimensions."""

    @pytest.fixture()
    def orders2d(self, spark, sf_dir):
        return load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )

    def _skips(self, t, n_expected_total):
        # narrow probes: with ~12 clustered files each dimension splits
        # into a handful of blocks, so a range covering <~40% of either
        # domain must leave some files disjoint
        ck, price = ("o_custkey", (10, 60)), ("cents", (1_000_000, 2_000_000))
        by_ck, total = t.prune_plan_multi(dict([ck]))
        by_price, _ = t.prune_plan_multi(dict([price]))
        assert total == n_expected_total
        return len(by_ck), len(by_price), total

    def test_cluster_by_restores_two_dim_skipping(
        self, spark, tmp_path, orders2d
    ):
        # fragmented, arrival-ordered seed: no envelope is narrow
        t = ManifestTable(str(tmp_path / "clustered"))
        t.commit_overwrite(
            orders2d.repartition(24), batch_id="seed",
            stats_cols=["o_custkey", "cents"],
        )
        before = _canon(t.read(spark))
        n = orders2d.count()
        target = -(-n // 12)  # ~12 files
        t.optimize(
            spark, target_rows=target, stats_cols=["o_custkey", "cents"],
            cluster_by=("o_custkey", "cents"),
        )
        m = t._read_manifest()
        assert _canon(t.read(spark)) == before  # content-lossless
        by_ck, by_price, total = self._skips(t, len(m["files"]))
        assert by_ck < total  # custkey predicate skips files
        assert by_price < total  # price predicate ALSO skips files
        # control: the same rewrite round-robin skips on neither
        rr = ManifestTable(str(tmp_path / "roundrobin"))
        rr.commit_overwrite(
            orders2d.repartition(24), batch_id="seed",
            stats_cols=["o_custkey", "cents"],
        )
        rr.optimize(
            spark, target_rows=target, stats_cols=["o_custkey", "cents"]
        )
        rr_ck, rr_price, rr_total = self._skips(
            rr, len(rr._read_manifest()["files"])
        )
        assert rr_ck == rr_total and rr_price == rr_total

    def test_cluster_bounds_come_from_manifest_stats(
        self, spark, tmp_path, orders2d, monkeypatch
    ):
        """With full stats coverage on both cluster columns the bounds
        are metadata (min of mins / max of maxes) — no bounds aggregate
        runs; without coverage the in-plan fallback still clusters."""
        import pypeline_spark.sinks.manifest as mmod

        t = ManifestTable(str(tmp_path / "statbounds"))
        t.commit_overwrite(
            orders2d.repartition(8), batch_id="seed",
            stats_cols=["o_custkey", "cents"],
        )
        seen = {}
        orig = mmod.ManifestTable._cluster_for_rewrite

        def spy(self, current, cluster_by, n_files, m, touched):
            out = orig(self, current, cluster_by, n_files, m, touched)
            seen["plan"] = out._jdf.queryExecution().optimizedPlan().toString()
            return out

        monkeypatch.setattr(mmod.ManifestTable, "_cluster_for_rewrite", spy)
        t.optimize(
            spark, target_rows=10_000, stats_cols=["o_custkey", "cents"],
            cluster_by=("o_custkey", "cents"),
        )
        # metadata bounds: the plan has no Aggregate under the bounds side
        assert "Aggregate" not in seen["plan"], seen["plan"][:800]

        # no stats at seed -> the fallback folds a min/max aggregate in
        t2 = ManifestTable(str(tmp_path / "aggbounds"))
        t2.commit_overwrite(orders2d.repartition(8), batch_id="seed")
        before = _canon(t2.read(spark))
        t2.optimize(
            spark, target_rows=10_000, stats_cols=["o_custkey", "cents"],
            cluster_by=("o_custkey", "cents"),
        )
        assert "Aggregate" in seen["plan"]
        assert _canon(t2.read(spark)) == before

    def test_cluster_by_folds_deltas_too(self, spark, tmp_path, orders2d):
        t = ManifestTable(str(tmp_path / "clusterdelta"))
        base = orders2d.filter(F.col("o_orderkey") <= 3000)
        t.commit_overwrite(base.repartition(6), batch_id="seed")
        upd = base.filter(F.col("o_custkey") % 5 == 0).withColumn(
            "cents", F.col("cents") + 1
        )
        t.commit_delta(upd, ["o_orderkey"], batch_id="d1")
        expected = _canon(t.read_resolved(spark))
        t.optimize(
            spark, target_rows=1_000, stats_cols=["o_custkey", "cents"],
            cluster_by=("o_custkey", "cents"),
        )
        m = t._read_manifest()
        assert m["deltas"] == []
        assert _canon(t.read(spark)) == expected

    def test_cluster_by_three_columns_skips_in_every_dim(
        self, spark, tmp_path, orders2d
    ):
        """r11 VERDICT #5: Delta's ZORDER accepts N columns but
        cluster_by hard-unpacked a pair.  A 3-column Morton rewrite
        must keep narrow envelopes in ALL THREE dimensions — each
        single-dimension range probe skips files — and stay
        content-lossless."""
        t = ManifestTable(str(tmp_path / "clustered3"))
        cols = ["o_custkey", "cents", "o_orderkey"]
        t.commit_overwrite(
            orders2d.repartition(24), batch_id="seed", stats_cols=cols
        )
        before = _canon(t.read(spark))
        n = orders2d.count()
        t.optimize(
            spark, target_rows=-(-n // 16), stats_cols=cols,
            cluster_by=tuple(cols),
        )
        assert _canon(t.read(spark)) == before
        total = len(t._read_manifest()["files"])
        # narrow probes (~5-10% of each domain): 16 z-clustered files
        # give every dimension a few disjoint blocks
        lo_hi = {
            "o_custkey": (10, 40),
            "cents": (1_000_000, 1_500_000),
            "o_orderkey": (100, 400),
        }
        for col, rng in lo_hi.items():
            files, tot = t.prune_plan_multi({col: rng})
            assert tot == total
            assert len(files) < total, f"no skipping on {col}"

    def test_cluster_by_single_column_is_plain_range(
        self, spark, tmp_path, orders2d
    ):
        """One column degenerates to range clustering on the raw value:
        exact envelopes (no z-bucketing loss), content-lossless, and
        the clustered column's range probes skip."""
        t = ManifestTable(str(tmp_path / "clustered1"))
        t.commit_overwrite(
            orders2d.repartition(24), batch_id="seed", stats_cols=["cents"]
        )
        before = _canon(t.read(spark))
        n = orders2d.count()
        t.optimize(
            spark, target_rows=-(-n // 12), stats_cols=["cents"],
            cluster_by=("cents",),
        )
        assert _canon(t.read(spark)) == before
        total = len(t._read_manifest()["files"])
        files, tot = t.prune_plan_multi({"cents": (1_000_000, 1_500_000)})
        assert tot == total and len(files) < total

    def test_mor_cluster_bounds_fold_delta_stats(
        self, spark, tmp_path, orders2d, monkeypatch
    ):
        """ADVICE r11: a merge-on-read clustered OPTIMIZE used to take
        z bounds from BASE-file stats only while rewriting the resolved
        view — delta rows past the base range bucketed out of the z
        domain and wrapped.  Bounds must now fold the delta files'
        recorded stats (still pure metadata: no bounds aggregate in the
        plan), stay content-lossless, and keep the clustering useful —
        the extreme delta rows land in files whose envelopes don't
        poison in-range probes."""
        import pypeline_spark.sinks.manifest as mmod

        t = ManifestTable(str(tmp_path / "mordelta"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(
            orders2d.repartition(8), batch_id="seed", stats_cols=cols
        )
        # delta rows FAR outside the base cents range
        upd = orders2d.filter(F.col("o_custkey") % 7 == 0).withColumn(
            "cents", F.col("cents") + F.lit(10_000_000_000)
        )
        t.commit_delta(upd, ["o_orderkey"], batch_id="d1", stats_cols=cols)
        expected = _canon(t.read_resolved(spark))

        seen = {}
        orig = mmod.ManifestTable._cluster_for_rewrite

        def spy(self, current, cluster_by, n_files, m, touched):
            out = orig(self, current, cluster_by, n_files, m, touched)
            seen["plan"] = out._jdf.queryExecution().optimizedPlan().toString()
            return out

        monkeypatch.setattr(mmod.ManifestTable, "_cluster_for_rewrite", spy)
        n = orders2d.count()
        t.optimize(
            spark, target_rows=-(-n // 12), stats_cols=cols,
            cluster_by=tuple(cols),
        )
        # bounds stayed metadata-only even though deltas were folded
        assert "plan" in seen and "Aggregate" not in seen["plan"]
        assert t._read_manifest()["deltas"] == []
        assert _canon(t.read(spark)) == expected
        # the extreme delta rows cluster to the top of the z range:
        # an in-base-range cents probe still skips files
        total = len(t._read_manifest()["files"])
        files, tot = t.prune_plan_multi({"cents": (1_000_000, 1_500_000)})
        assert tot == total and len(files) < total


class TestRestore:
    """restore(version): the Delta RESTORE rollback shape — content
    snaps back to a retained version as one metadata-only commit,
    history stays, the ledger (and NDV sketch upper bound) survive."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_content_snaps_back_metadata_only(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "rst"))
        good = cust.filter(F.col("c_custkey") % 2 == 0)
        t.commit_overwrite(good, batch_id="seed",
                           stats_cols=("c_custkey",))  # v1
        want = _canon(t.read(spark))
        bad = cust.limit(10).withColumn("c_acctbal", F.lit(-1.0))
        t.commit_merge(spark, bad, ["c_custkey"], batch_id="oops")  # v2
        n_data_before = len(os.listdir(str(tmp_path / "rst" / "data")))
        v = t.restore(1, batch_id="undo")
        assert v == 3
        # exact old content, no data files written or removed
        assert _canon(t.read(spark)) == want
        assert len(os.listdir(str(tmp_path / "rst" / "data"))) == n_data_before
        # stats restored with the files: pruning works post-restore
        files, total = t.prune_plan_multi({"c_custkey": (0, 10)})
        assert total == len(t._read_manifest()["files"])
        # bad version still time-travelable until vacuum
        assert t.read(spark, version=2).count() > 0

    def test_ledger_survives_rollback(self, spark, tmp_path, cust):
        """The recovery hazard RESTORE must not create: re-running the
        rolled-back batch after the restore must STILL be skipped —
        content undo never reopens exactly-once."""
        t = ManifestTable(str(tmp_path / "ledg"))
        t.commit_overwrite(cust, batch_id="seed")  # v1
        upd = cust.limit(5).withColumn("c_acctbal", F.lit(0.0))
        t.commit_delta(upd, ["c_custkey"], batch_id="b1")  # v2
        t.restore(1, batch_id="undo")  # v3: content back to v1
        want = _canon(t.read(spark))
        v = t.version()
        assert t.commit_delta(upd, ["c_custkey"], batch_id="b1") == v
        assert _canon(t.read(spark)) == want  # replay skipped
        # and the restore itself is replay-skippable by ITS batch id
        assert t.restore(1, batch_id="undo") == v

    def test_restore_edges(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "edge"))
        t.commit_overwrite(cust, batch_id="seed",
                           ndv_cols=["c_custkey"])  # v1
        est = t.ndv_estimate("c_custkey")
        assert t.restore(1) == 1  # restoring the tip: no-op
        t.commit_delta(cust.limit(3), ["c_custkey"], batch_id="d1")  # v2
        t.restore(1)  # v3
        # NDV tracking survives as an upper bound and keeps updating
        assert t.ndv_estimate("c_custkey") >= est
        t.commit_delta(cust.limit(4), ["c_custkey"], batch_id="d2")
        assert t.ndv_estimate("c_custkey") >= est
        with pytest.raises(ValueError, match="not found"):
            t.restore(99)

    def test_restore_mor_version_with_deltas(self, spark, tmp_path, cust):
        """Restoring to a version with outstanding deltas restores the
        RESOLVED content (deltas ride along in the manifest)."""
        t = ManifestTable(str(tmp_path / "mor"))
        t.commit_overwrite(cust.filter(F.col("c_custkey") <= 80),
                           batch_id="seed")  # v1
        upd = cust.filter(F.col("c_custkey").between(81, 99))
        t.commit_delta(upd, ["c_custkey"], batch_id="d1")  # v2: MoR state
        want = _canon(t.read_resolved(spark))
        t.compact(spark, batch_id="c1")  # v3: folded
        t.restore(2, batch_id="undo")  # v4: back to the MoR shape
        m = t._read_manifest()
        assert len(m["deltas"]) == 1
        assert _canon(t.read_resolved(spark)) == want


class TestChangeFeed:
    """changes(since, until): the merge-on-read incremental change
    feed — exact row sets per delta commit, metadata-only commits
    skipped, rewriting commits refused, bounds validated."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def _setup(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "cdf"))
        t.commit_overwrite(cust.filter(F.col("c_custkey") % 3 != 0),
                           batch_id="seed")  # v1
        d1 = cust.filter(
            (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 2 == 0)
        )
        d2 = cust.filter(
            (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 2 == 1)
        )
        t.commit_delta(d1, ["c_custkey"], batch_id="d1")  # v2
        t.analyze(spark, ["c_custkey"], batch_id="an")  # v3 metadata-only
        t.commit_delta(d2, ["c_custkey"], batch_id="d2")  # v4
        return t, d1, d2

    def test_exact_rows_per_commit_and_metadata_skipped(
        self, spark, tmp_path, cust
    ):
        t, d1, d2 = self._setup(spark, tmp_path, cust)
        feed = t.changes(spark, since_version=1)
        got = {
            v: sorted(r.c_custkey for r in rows)
            for v, rows in (
                (2, feed.filter(F.col("_commit_version") == 2).collect()),
                (4, feed.filter(F.col("_commit_version") == 4).collect()),
            )
        }
        assert got[2] == sorted(r.c_custkey for r in d1.collect())
        assert got[4] == sorted(r.c_custkey for r in d2.collect())
        versions = {r._commit_version for r in
                    feed.select("_commit_version").distinct().collect()}
        assert versions == {2, 4}  # v3 (ANALYZE) contributes nothing

    def test_until_version_and_empty_range(self, spark, tmp_path, cust):
        t, d1, _ = self._setup(spark, tmp_path, cust)
        upto = t.changes(spark, since_version=1, until_version=3)
        assert {r._commit_version for r in upto.collect()} == {2}
        assert upto.count() == d1.count()
        empty = t.changes(spark, since_version=4)
        assert empty.count() == 0
        assert "_commit_version" in empty.columns

    def test_reorg_commits_read_through(self, spark, tmp_path, cust):
        """compact/OPTIMIZE are reorg-tagged and the feed reads
        straight THROUGH them (Delta CDF: data reorganization emits no
        CDF rows) — a maintenance job never forces consumers to
        re-snapshot.  The pre-reorg delta filesets stay readable from
        their own manifests until vacuum."""
        t, d1, d2 = self._setup(spark, tmp_path, cust)
        t.compact(spark, batch_id="c1")  # v5: reorg
        late = cust.limit(7)
        t.commit_delta(late, ["c_custkey"], batch_id="d3")  # v6
        t.optimize(spark, target_rows=10_000, batch_id="o1")  # v7: reorg
        feed = t.changes(spark, since_version=1)
        versions = {r._commit_version for r in
                    feed.select("_commit_version").distinct().collect()}
        assert versions == {2, 4, 6}  # reorgs contribute nothing
        assert feed.count() == d1.count() + d2.count() + 7
        # a cursor parked exactly AT a reorg boundary also continues
        assert t.changes(spark, since_version=5).count() == 7

    def test_content_rewrite_refused(self, spark, tmp_path, cust):
        """A CONTENT rewrite (copy-on-write merge / overwrite) is NOT
        feed-derivable and still raises — reorgs, predicate DML and
        restores read through (each by its own mechanism)."""
        t, _, _ = self._setup(spark, tmp_path, cust)
        t.compact(spark, batch_id="c1")  # v5: reorg (folds deltas)
        t.commit_merge(
            spark, cust.limit(5), ["c_custkey"], batch_id="m1"
        )  # v6: CoW content rewrite
        with pytest.raises(ValueError, match="rewrote content"):
            t.changes(spark, since_version=1)
        # but a range that stops BEFORE the rewrite still works...
        assert t.changes(spark, 1, until_version=5).count() > 0
        # ...and a cursor checkpointed AT the rewrite boundary
        # continues cleanly after new deltas land
        t.commit_delta(cust.limit(7), ["c_custkey"], batch_id="d3")  # v7
        after = t.changes(spark, since_version=6)
        assert after.count() == 7
        assert {r._commit_version for r in after.collect()} == {7}

    def test_bounds_validated(self, spark, tmp_path, cust):
        t, _, _ = self._setup(spark, tmp_path, cust)
        with pytest.raises(ValueError, match="out of range"):
            t.changes(spark, since_version=99)
        with pytest.raises(ValueError, match="not found"):
            t.changes(spark, 1, until_version=99)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(plan=st.lists(st.integers(0, 5), min_size=3, max_size=6))
    def test_feed_matches_model_across_random_histories(
        self, spark, sf_dir, tmp_path, plan
    ):
        """Model check: a random history of upsert deltas, delete
        deltas, ANALYZE, compact, OPTIMIZE, and evolve_schema commits
        must yield a feed containing EXACTLY one (version, type, n)
        event group per delta commit — metadata and reorg commits
        contribute nothing and never break the read."""
        import uuid as _uuid

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        k = F.col("c_custkey")
        t = ManifestTable(str(tmp_path / f"feedprop-{_uuid.uuid4().hex}"))
        t.commit_overwrite(cust.filter(k % 3 != 0), batch_id="seed")  # v1
        expected: dict = {}
        for i, op in enumerate(plan):
            if op == 0:
                s = cust.filter(k % 6 == i % 6)
                t.commit_delta(s, ["c_custkey"], batch_id=f"u{i}")
                expected[(t.version(), "upsert")] = s.count()
            elif op == 1:
                s = cust.filter(k % 7 == i % 7).limit(40)
                t.commit_delta(None, ["c_custkey"], batch_id=f"x{i}",
                               deletes=s)
                expected[(t.version(), "delete")] = s.count()
            elif op == 2:
                t.analyze(spark, ["c_custkey"], batch_id=f"a{i}")
            elif op == 3:
                t.compact(spark, batch_id=f"c{i}")
            elif op == 4:
                t.optimize(spark, target_rows=100_000, batch_id=f"o{i}")
            else:
                t.evolve_schema(f"extra_{i} double", batch_id=f"e{i}")
        feed = t.changes(spark, since_version=1)
        if not expected:
            assert feed.count() == 0
            return
        got = {
            (r.v, r.ct): r.n
            for r in feed.groupBy(
                F.col("_commit_version").alias("v"),
                F.col("_change_type").alias("ct"),
            ).agg(F.count("*").alias("n")).collect()
        }
        assert got == expected

    def test_vacuumed_history_raises_cleanly(self, spark, tmp_path, cust):
        """Retention truncates the derivable feed: a cursor pointing
        before the retention horizon must fail loudly (the manifest
        version is gone), never silently skip commits — the consumer
        re-bootstraps from a snapshot, exactly like Delta CDF after
        VACUUM."""
        t, _, _ = self._setup(spark, tmp_path, cust)
        t.compact(spark, batch_id="c1")  # v5
        t.vacuum(keep_versions=1)  # drops manifests v1..v4
        with pytest.raises(ValueError, match="vacuumed"):
            t.changes(spark, since_version=1)
        # post-vacuum commits feed normally from the new horizon
        t.commit_delta(cust.limit(3), ["c_custkey"], batch_id="d3")  # v6
        after = t.changes(spark, since_version=5)
        assert after.count() == 3


class TestNdvSketch:
    """Incremental NDV tracking (`ndv_cols`): a mergeable HLL sketch
    per tracked column updated with ONE O(batch) pass at every content
    commit; the materialized estimate reads back as pure metadata."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_estimate_tracks_across_commits(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "ndv"))
        n = cust.count()
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") % 3 == 1),
            batch_id="seed", ndv_cols=["c_custkey"],
        )
        e1 = t.ndv_estimate("c_custkey")
        third = cust.filter(F.col("c_custkey") % 3 == 1).count()
        assert abs(e1 - third) <= max(2, 0.1 * third)
        # property inherited: delta commits update WITHOUT re-stating
        t.commit_delta(cust.filter(F.col("c_custkey") % 3 == 2),
                       ["c_custkey"], batch_id="d1")
        t.commit_delta(cust.filter(F.col("c_custkey") % 3 == 0),
                       ["c_custkey"], batch_id="d2")
        e3 = t.ndv_estimate("c_custkey")
        assert abs(e3 - n) <= max(2, 0.1 * n)
        assert t.ndv_estimate("c_acctbal") is None  # untracked

    def test_estimate_read_is_pure_metadata(self, spark, tmp_path, cust):
        """ndv_estimate must launch no Spark job — the estimate was
        materialized at commit time."""
        t = ManifestTable(str(tmp_path / "meta"))
        t.commit_overwrite(cust, batch_id="seed", ndv_cols=["c_custkey"])
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        est = t.ndv_estimate("c_custkey")
        bits = t.suggest_bloom_bits("c_custkey")
        after = tracker.getJobIdsForGroup(None)
        assert est > 0 and bits is not None
        assert before == after, "metadata read launched a Spark job"

    def test_suggest_bloom_bits_prefers_fresh_sketch(
        self, spark, tmp_path, cust
    ):
        """With both an (old) ANALYZE profile and live sketch tracking,
        sizing must use the sketch estimate — no staleness scaling."""
        from pypeline_spark.operators.runtime_filter import (
            BITS_PER_KEY,
            BLOOM_BITS,
        )

        t = ManifestTable(str(tmp_path / "prefer"))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") < 50),
            batch_id="seed", ndv_cols=["c_custkey"],
        )
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        # grow the table: the sketch refreshes, the profile goes stale
        t.commit_delta(cust.filter(F.col("c_custkey") >= 50),
                       ["c_custkey"], batch_id="grow")
        est = t.ndv_estimate("c_custkey")
        expect = max(BLOOM_BITS, -(-est * BITS_PER_KEY // 64) * 64)
        assert t.suggest_bloom_bits("c_custkey") == expect

    def test_empty_batch_keeps_state(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "empty"))
        t.commit_overwrite(cust, batch_id="seed", ndv_cols=["c_custkey"])
        e0 = t.ndv_estimate("c_custkey")
        t.commit_delta(cust.limit(0), ["c_custkey"], batch_id="noop")
        assert t.ndv_estimate("c_custkey") == e0

    def test_overwrite_resets_merge_only_absorbs(self, spark, tmp_path, cust):
        """HLL union never forgets: a COW merge REPLACING keys keeps
        the estimate an upper bound; an overwrite recomputes from the
        new content (smaller table -> smaller estimate)."""
        t = ManifestTable(str(tmp_path / "reset"))
        t.commit_overwrite(cust, batch_id="seed", ndv_cols=["c_custkey"])
        e_full = t.ndv_estimate("c_custkey")
        # merge with brand-new key values: upper bound absorbs them
        shifted = cust.limit(50).withColumn(
            "c_custkey", F.col("c_custkey") + 10_000_000
        )
        t.commit_merge(spark, shifted, ["c_custkey"], batch_id="m1")
        assert t.ndv_estimate("c_custkey") >= e_full
        # overwrite with a tenth of the keys: estimate resets down
        small = cust.filter(F.col("c_custkey") % 10 == 0)
        t.commit_overwrite(small, batch_id="ow")
        e_small = t.ndv_estimate("c_custkey")
        k = small.count()
        assert abs(e_small - k) <= max(2, 0.1 * k)

    def test_state_carries_through_maintenance(self, spark, tmp_path, cust):
        """compact / optimize / evolve_clustering are content-
        preserving: the sketch state and tracking property must ride
        along unchanged."""
        t = ManifestTable(str(tmp_path / "maint"))
        t.commit_overwrite(cust.repartition(6), batch_id="seed",
                           ndv_cols=["c_custkey"], stats_cols=["c_custkey"])
        e0 = t.ndv_estimate("c_custkey")
        t.commit_delta(cust.limit(20), ["c_custkey"], batch_id="d1")
        e1 = t.ndv_estimate("c_custkey")
        t.compact(spark, batch_id="c1", stats_cols=["c_custkey"])
        assert t.ndv_estimate("c_custkey") == e1
        t.optimize(spark, target_rows=10_000, batch_id="o1",
                   stats_cols=["c_custkey"])
        assert t.ndv_estimate("c_custkey") == e1
        _, k = t.evolve_clustering(spark, ["c_custkey"], target_rows=10_000,
                                   stats_cols=["c_custkey"])
        assert k > 0
        assert t.ndv_estimate("c_custkey") == e1
        assert t._read_manifest().get("ndv_cols") == ["c_custkey"]
        assert e0 > 0  # sanity


class TestPartitionEvolution:
    """evolve_clustering: live re-clustering in bounded commits —
    metadata-decided pending set, per-step rewrite cap, monotone
    convergence, lossless at every intermediate version, and the usual
    ledger/delta guards."""

    @pytest.fixture()
    def orders2d(self, spark, sf_dir):
        return load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
        )

    def test_converges_in_bounded_steps_losslessly(
        self, spark, tmp_path, orders2d
    ):
        t = ManifestTable(str(tmp_path / "evo"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(
            orders2d.repartition(24), batch_id="seed", stats_cols=cols
        )
        before = _canon(t.read(spark))
        n = orders2d.count()
        target = max(1, -(-n // 12))
        seen_steps = []
        while True:
            v_prev = t.version()
            _, k = t.evolve_clustering(
                spark, cols, target_rows=target,
                max_files_per_step=10, stats_cols=cols,
            )
            if k == 0:
                assert t.version() == v_prev  # converged: NO commit
                break
            seen_steps.append(k)
            # every intermediate version stays content-lossless and the
            # step honored the rewrite cap
            assert k <= 10
            assert _canon(t.read(spark)) == before
        assert seen_steps == [10, 10, 4]  # ceil(24/10) bounded commits
        m = t._read_manifest()
        fm = m["filemeta"]
        assert all(fm[f].get("clustered") == cols for f in m["files"])
        # clustering converged: both single-column probes skip files
        total = len(m["files"])
        for col, rng in (("o_custkey", (10, 60)),
                         ("cents", (1_000_000, 2_000_000))):
            files, tot = t.prune_plan_multi({col: rng})
            assert tot == total and len(files) < total, col

    def test_snapshot_isolation_during_evolution(
        self, spark, tmp_path, orders2d
    ):
        """A reader pinned to the pre-evolution version sees the exact
        old table even after steps rewrite files under it."""
        t = ManifestTable(str(tmp_path / "iso"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(
            orders2d.repartition(8), batch_id="seed", stats_cols=cols
        )
        v0 = t.version()
        before = _canon(t.read(spark, version=v0))
        t.evolve_clustering(
            spark, cols, target_rows=10_000,
            max_files_per_step=3, stats_cols=cols,
        )
        assert t.version() == v0 + 1
        assert _canon(t.read(spark, version=v0)) == before

    def test_ledger_skip_delta_refusal_and_validation(
        self, spark, tmp_path, orders2d
    ):
        t = ManifestTable(str(tmp_path / "guards"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(orders2d.repartition(4), batch_id="seed",
                           stats_cols=cols)
        v, k = t.evolve_clustering(
            spark, cols, target_rows=10_000, batch_id="e1", stats_cols=cols
        )
        assert k == 4
        # replay of the same batch id: ledger-skipped, zero rewrites
        assert t.evolve_clustering(
            spark, cols, target_rows=10_000, batch_id="e1"
        ) == (v, 0)
        # converged: a fresh call is a no-op without a commit
        assert t.evolve_clustering(spark, cols, target_rows=10_000) == (v, 0)
        with pytest.raises(ValueError, match="target_rows"):
            t.evolve_clustering(spark, cols, target_rows=0)
        with pytest.raises(ValueError, match="max_files_per_step"):
            t.evolve_clustering(spark, cols, 10, max_files_per_step=0)
        with pytest.raises(ValueError, match="at least one column"):
            t.evolve_clustering(spark, [], 10)
        upd = orders2d.limit(5)
        t.commit_delta(upd, ["o_orderkey"], batch_id="d1")
        with pytest.raises(ValueError, match="deltas"):
            t.evolve_clustering(spark, cols, target_rows=10_000)

    def test_round_robin_optimize_resets_the_tag(
        self, spark, tmp_path, orders2d
    ):
        """A plain (round-robin) OPTIMIZE genuinely destroys clustering,
        so its output must come back UNTAGGED — a later evolution pass
        picks those files up again; re-keying to a different cluster_by
        likewise re-pends every file."""
        t = ManifestTable(str(tmp_path / "retag"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(orders2d.repartition(4), batch_id="seed",
                           stats_cols=cols)
        _, k = t.evolve_clustering(spark, cols, target_rows=10_000,
                                   stats_cols=cols)
        assert k == 4
        t.optimize(spark, target_rows=10_000, stats_cols=cols)  # round-robin
        m = t._read_manifest()
        assert all(
            "clustered" not in m["filemeta"].get(f, {}) for f in m["files"]
        )
        # different key: everything pends again
        _, k2 = t.evolve_clustering(
            spark, ["cents"], target_rows=10_000, stats_cols=cols
        )
        assert k2 == len(m["files"])


class TestAnalyze:
    """ANALYZE: a metadata-only commit persisting per-column NDV /
    nulls / min / max + row count, carried by content commits,
    invalidated by overwrite, and feeding the bloom auto-sizer from
    metadata (suggest_bloom_bits)."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_nationkey"
        )

    def test_analyze_is_metadata_only_and_exact(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "an"))
        t.commit_overwrite(cust.repartition(4), batch_id="seed")
        files_before = list(t._read_manifest()["files"])
        v = t.analyze(spark, ["c_custkey", "c_nationkey"], batch_id="an1")
        m = t._read_manifest()
        assert m["version"] == v == 2
        assert m["files"] == files_before  # no data files touched
        cs = t.column_stats()
        n = cust.count()
        assert cs["row_count"] == n
        ck = t.column_stats("c_custkey")
        assert ck["nulls"] == 0
        assert ck["min"] == 0 and ck["max"] == n - 1  # custkey is 0..n-1
        # HLL NDV within 10% of exact
        assert abs(ck["ndv"] - n) <= 0.1 * n
        # replay of the same batch id is ledger-skipped
        assert t.analyze(spark, ["c_custkey"], batch_id="an1") == v
        assert t.version() == v

    def test_profile_carries_through_commits_and_overwrite_drops(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "carry"))
        t.commit_overwrite(cust, batch_id="seed")
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        upd = cust.limit(10).withColumn("c_acctbal", F.lit(0.0))
        t.commit_merge(spark, upd, ["c_custkey"], batch_id="m1")
        assert t.column_stats("c_custkey") is not None  # carried
        t.commit_delta(upd, ["c_custkey"], batch_id="d1")
        assert t.column_stats("c_custkey") is not None
        t.compact(spark, batch_id="c1")
        assert t.column_stats("c_custkey") is not None
        prov = t.column_stats()["analyzed_version"]
        assert prov == 1  # provenance preserved for staleness detection
        t.commit_overwrite(cust, batch_id="ow1")
        assert t.column_stats() is None  # invalidated

    def test_analyze_profiles_resolved_view_on_mor(self, spark, tmp_path, cust):
        """With outstanding deltas the profile must describe the
        RESOLVED content (what readers see), not the raw base."""
        t = ManifestTable(str(tmp_path / "mor"))
        t.commit_overwrite(cust.filter(F.col("c_custkey") <= 50), batch_id="s")
        extra = cust.filter(F.col("c_custkey").between(51, 80))
        t.commit_delta(extra, ["c_custkey"], batch_id="d1")
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        cs = t.column_stats()
        assert cs["row_count"] == 81  # custkey 0..80 resolved
        assert t.column_stats("c_custkey")["max"] == 80

    def test_suggest_bloom_bits_matches_auto_sizer(self, spark, tmp_path, cust):
        """The metadata-fed size must follow runtime_filter's sizing
        arithmetic exactly (whole words, floor/ceiling clamps) and
        scale up when the table has grown since the ANALYZE."""
        from pypeline_spark.operators.runtime_filter import (
            BITS_PER_KEY,
            BLOOM_BITS,
        )

        t = ManifestTable(str(tmp_path / "bits"))
        t.commit_overwrite(cust, batch_id="seed")
        assert t.suggest_bloom_bits("c_custkey") is None  # never analyzed
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        ndv = t.column_stats("c_custkey")["ndv"]
        expect = max(BLOOM_BITS, -(-ndv * BITS_PER_KEY // 64) * 64)
        got = t.suggest_bloom_bits("c_custkey")
        assert got == expect and got % 64 == 0
        assert t.suggest_bloom_bits("c_acctbal") is None  # not analyzed

        # growth: double the rows -> suggested size scales with filemeta
        more = cust.withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
        t.commit_delta(more, ["c_custkey"], batch_id="grow")
        grown = t.suggest_bloom_bits("c_custkey")
        assert grown >= 2 * (expect // 64) * 32  # ~2x, word-rounded

    def test_suggested_bits_feed_keyset_bloom(self, spark, tmp_path, cust):
        """End-to-end: sizing from the persisted profile pins the
        bitset WITHOUT the in-plan sizing aggregate, and the filter
        still admits every true match."""
        from pypeline_spark.operators.runtime_filter import (
            bloom_prefilter,
            keyset_bloom,
        )

        t = ManifestTable(str(tmp_path / "feed"))
        t.commit_overwrite(cust, batch_id="seed")
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        bits = t.suggest_bloom_bits("c_custkey")
        dim = t.read(spark).select("c_custkey")
        bloom = keyset_bloom(dim, "c_custkey", num_bits=bits)
        # pinned size, no approx_count_distinct subtree in the build
        plan = bloom._jdf.queryExecution().optimizedPlan().toString()
        assert "approx_count_distinct" not in plan
        assert bloom.first()["__bloom_bits"] == bits
        fact = cust.select(F.col("c_custkey").alias("k"))
        assert bloom_prefilter(fact, bloom, "k").count() == cust.count()

    def test_analyze_validates_inputs(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "val"))
        with pytest.raises(ValueError, match="at least one column"):
            ManifestTable(str(tmp_path / "v2")).analyze(spark, [])
        with pytest.raises(ValueError, match="no data"):
            t.analyze(spark, ["c_custkey"])


class TestZBucketClamp:
    """zbucket must clamp out-of-bounds values to the domain edges
    instead of producing negative / overflowing buckets whose bits wrap
    inside the Morton interleave (ADVICE r11)."""

    def test_out_of_range_values_clamp_to_edges(self, spark):
        from pypeline_spark.operators.multidim import Z_BITS, zbucket

        df = spark.createDataFrame(
            [(-500,), (0,), (50,), (100,), (9_999,)], "v bigint"
        ).select(
            "v",
            zbucket(F.col("v"), F.lit(0), F.lit(100)).alias("b"),
        )
        got = {r.v: r.b for r in df.collect()}
        assert got[-500] == 0  # below lo: clamps, never negative
        assert got[9_999] == (1 << Z_BITS) - 1  # above hi: clamps
        assert 0 <= got[0] <= got[50] <= got[100] <= (1 << Z_BITS) - 1

    def test_zvalue_n_matches_two_dim_zvalue(self, spark):
        from pypeline_spark.operators.multidim import zvalue, zvalue_n

        df = spark.createDataFrame(
            [(x, y) for x in (0, 1, 7, 200, 255) for y in (0, 3, 129, 255)],
            "x int, y int",
        ).select(
            zvalue(F.col("x"), F.col("y")).alias("z2"),
            zvalue_n([F.col("x"), F.col("y")]).alias("zn"),
        )
        assert all(r.z2 == r.zn for r in df.collect())

    def test_zvalue_n_three_dims_interleaves(self, spark):
        """bit i of dim j lands at z-bit 3i+j: spot-check against a
        pure-Python interleave."""
        from pypeline_spark.operators.multidim import zvalue_n

        rows = [(3, 200, 255), (0, 0, 0), (255, 255, 255), (17, 4, 99)]
        df = spark.createDataFrame(rows, "a int, b int, c int").select(
            "a", "b", "c",
            zvalue_n([F.col("a"), F.col("b"), F.col("c")]).alias("z"),
        )
        for r in df.collect():
            assert r.z == _py_morton([r.a, r.b, r.c])

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        rows=st.lists(
            st.lists(st.integers(0, 255), min_size=1, max_size=4),
            min_size=1, max_size=8,
        ).filter(lambda rs: len({len(r) for r in rs}) == 1)
    )
    def test_zvalue_n_matches_python_reference(self, spark, rows):
        """Property: the JVM-expression k-D Morton interleave equals
        the from-first-principles Python computation for every k in
        1..4 — a silent hash-family change in the clustering key would
        reorder every future clustered rewrite."""
        from pypeline_spark.operators.multidim import zvalue_n

        k = len(rows[0])
        cols = [f"c{i}" for i in range(k)]
        df = spark.createDataFrame(
            [tuple(r) for r in rows], ", ".join(f"{c} int" for c in cols)
        ).select(
            *cols, zvalue_n([F.col(c) for c in cols]).alias("z")
        )
        for r in df.collect():
            assert r.z == _py_morton([r[c] for c in cols])


def _py_morton(vals, bits=8):
    k = len(vals)
    z = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> i) & 1) << (k * i + j)
    return z


class TestOptimisticConcurrency:
    """Two-writer races on the manifest protocol: the versioned file is
    published put-if-absent (the commit point), so a lost update is
    DETECTED — blind delta appends and metadata-only commits rebase
    onto the new tip, rewrites abort with CommitConflict."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_publish_collision_detected(self, tmp_path):
        from pypeline_spark.sinks.manifest import CommitConflict

        t = ManifestTable(str(tmp_path / "t"))
        t._publish({"version": 1, "files": [], "batch_ids": [], "stats": {}})
        with pytest.raises(CommitConflict, match="version 1"):
            t._publish(
                {"version": 1, "files": ["x"], "batch_ids": [], "stats": {}}
            )
        # the slot holder's content survived the losing attempt
        assert t._read_manifest()["files"] == []

    @pytest.mark.parametrize("first", ["a", "b"])
    def test_two_writer_delta_race_rebases(self, spark, tmp_path, cust, first):
        """Writer A reads the tip, writer B commits INSIDE A's
        read-modify-write window (race hook): A's publish conflicts,
        rebases onto B's commit, and BOTH batches land — content and
        ledger — in either interleaving order."""
        root = str(tmp_path / "race")
        a, b = ManifestTable(root), ManifestTable(root)
        seed = cust.filter(F.col("c_custkey") % 3 == 1)
        a.commit_overwrite(seed, batch_id="seed")  # v1
        upd_a = cust.filter(F.col("c_custkey") % 3 == 2).withColumn(
            "c_acctbal", F.col("c_acctbal") + 100.0
        )
        upd_b = cust.filter(F.col("c_custkey") % 3 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 200.0
        )
        winner, w_upd = (a, upd_a) if first == "a" else (b, upd_b)
        loser, l_upd = (b, upd_b) if first == "a" else (a, upd_a)
        loser._race_once = lambda: winner.commit_delta(
            w_upd, ["c_custkey"], batch_id=f"d-{first}"
        )
        v = loser.commit_delta(
            l_upd, ["c_custkey"], batch_id=f"d-{'b' if first == 'a' else 'a'}"
        )
        assert v == 3  # seed + winner's delta + rebased loser's delta
        assert a.applied_batch_ids() == {"seed", "d-a", "d-b"}
        from pypeline_spark.sinks.keyed import upsert

        expected = upsert(upsert(seed, upd_a, ["c_custkey"]), upd_b,
                          ["c_custkey"])
        assert _canon(a.read_resolved(spark)) == _canon(expected)

    def test_concurrent_duplicate_batch_is_noop(self, spark, tmp_path, cust):
        """Two writers racing the SAME batch id: the loser's rebase
        sees the id in the tip's ledger and no-ops — exactly-once
        holds across concurrent duplicate deliveries, not just
        sequential replays."""
        root = str(tmp_path / "dup")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        upd = cust.limit(10).withColumn("c_acctbal", F.lit(0.0))
        a._race_once = lambda: b.commit_delta(
            upd, ["c_custkey"], batch_id="same"
        )
        v = a.commit_delta(upd, ["c_custkey"], batch_id="same")
        assert v == 2  # B's commit; A's attempt no-opped on rebase
        assert a.version() == 2
        assert len(a._read_manifest()["deltas"]) == 1

    def test_delta_aborts_over_concurrent_rewrite(self, spark, tmp_path, cust):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "abort")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        replacement = cust.filter(F.col("c_custkey") % 2 == 0)
        a._race_once = lambda: b.commit_overwrite(replacement, batch_id="ow")
        upd = cust.limit(10).withColumn("c_acctbal", F.lit(0.0))
        with pytest.raises(CommitConflict, match="rewrite"):
            a.commit_delta(upd, ["c_custkey"], batch_id="d1")
        # the overwrite's content is intact; the aborted batch never landed
        assert _canon(a.read(spark)) == _canon(replacement)
        assert "d1" not in a.applied_batch_ids()
        # caller-level retry on the fresh tip succeeds
        assert a.commit_delta(upd, ["c_custkey"], batch_id="d1") == 3
        assert "d1" in a.applied_batch_ids()

    def test_cow_merge_aborts_on_any_conflict(self, spark, tmp_path, cust):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "cow")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        a._race_once = lambda: b.commit_delta(
            cust.limit(5), ["c_custkey"], batch_id="d1"
        )
        with pytest.raises(CommitConflict):
            a.commit_merge(spark, cust.limit(10), ["c_custkey"],
                           batch_id="m1")
        assert "m1" not in a.applied_batch_ids()
        assert "d1" in a.applied_batch_ids()

    def test_analyze_rebases_over_analyze_aborts_over_content(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "an")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(200), batch_id="seed")
        # metadata-on-metadata: rebases
        a._race_once = lambda: b.analyze(spark, ["c_custkey"], batch_id="b1")
        v = a.analyze(spark, ["c_acctbal"], batch_id="a1")
        assert v == 3
        assert "c_acctbal" in a.column_stats()["columns"]  # tip = A's profile
        # metadata-on-content: aborts (profile would be silently stale)
        a._race_once = lambda: b.commit_delta(
            cust.limit(5), ["c_custkey"], batch_id="d1"
        )
        with pytest.raises(CommitConflict, match="analyze"):
            a.analyze(spark, ["c_custkey"], batch_id="a2")

    def test_pointer_lag_self_heals(self, spark, tmp_path, cust):
        """A committed version file with a stale pointer (crash between
        link and pointer refresh) is still visible: version files are
        the source of truth, the pointer only a cache."""
        import json as _json

        t = ManifestTable(str(tmp_path / "heal"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")
        m = t._read_manifest()
        m2 = {**m, "version": 2, "batch_ids": m["batch_ids"] + ["ghost"]}
        # simulate the crash: version file exists, pointer never updated
        with open(os.path.join(t.root, "_manifest.v2.json"), "w") as fh:
            _json.dump(m2, fh)
        assert t.version() == 2
        assert "ghost" in t.applied_batch_ids()

    def test_threaded_contention_exactly_once(self, spark, tmp_path, cust):
        """Genuinely concurrent writers (no hook): every batch lands
        exactly once, versions are dense, content equals the serial
        upsert result regardless of interleaving."""
        import threading

        root = str(tmp_path / "threads")
        seed_tbl = ManifestTable(root)
        seed_tbl.commit_overwrite(
            cust.filter(F.col("c_custkey") % 5 == 0), batch_id="seed"
        )
        slices = {
            i: cust.filter(F.col("c_custkey") % 5 == i).withColumn(
                "c_acctbal", F.col("c_acctbal") + 100.0 * i
            ).localCheckpoint()
            for i in range(1, 5)
        }
        errs = []

        def worker(i):
            try:
                ManifestTable(root).commit_delta(
                    slices[i], ["c_custkey"], batch_id=f"t{i}"
                )
            except Exception as exc:  # pragma: no cover - failure detail
                errs.append((i, exc))

        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(1, 5)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errs == []
        t = ManifestTable(root)
        assert t.version() == 5  # seed + 4 deltas, no version lost
        assert t.applied_batch_ids() == {"seed", "t1", "t2", "t3", "t4"}
        # disjoint key slices: resolved content is their exact union
        got = {r.c_custkey for r in t.read_resolved(spark).collect()}
        assert got == {r.c_custkey for r in cust.collect()}


class TestZKeyBitBudget:
    """ADVICE r12: the Morton key must stay inside the positive bigint
    range — zvalue_n raises on k*bits > 63 (silent truncation would
    collide buckets), and the clustering rewrite shrinks bits for the
    bucketing and interleave TOGETHER as k grows."""

    def test_zvalue_n_raises_past_63_bits(self):
        from pypeline_spark.operators.multidim import zvalue_n

        cols = [F.lit(1) for _ in range(8)]
        with pytest.raises(ValueError, match="63"):
            zvalue_n(cols)  # 8 dims x 8 bits = 64: sign bit
        with pytest.raises(ValueError, match="63"):
            zvalue_n([F.lit(1) for _ in range(9)])  # shift wraps mod 64
        assert zvalue_n(cols, bits=7) is not None  # 56 bits: fine

    def test_eight_column_clustered_optimize(self, spark, tmp_path, sf_dir):
        """k=8 clustering end-to-end: the rewrite path shrinks to 7
        bits per dimension (pre-fix this interleaved into the sign
        bit) and stays content-lossless."""
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            F.floor(F.col("l_quantity")).cast("bigint").alias("qty"),
            F.floor(F.col("l_extendedprice")).cast("bigint").alias("price"),
            F.floor(F.col("l_discount") * 100).cast("bigint").alias("disc"),
            F.floor(F.col("l_tax") * 100).cast("bigint").alias("tax"),
        ).limit(2000)
        cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "qty", "price", "disc", "tax"]
        t = ManifestTable(str(tmp_path / "k8"))
        t.commit_overwrite(li.repartition(4), batch_id="seed",
                           stats_cols=cols)
        before = _canon(t.read(spark))
        t.optimize(spark, target_rows=500, cluster_by=cols, stats_cols=cols)
        assert _canon(t.read(spark)) == before

    def test_statless_evolution_uses_full_table_bounds(
        self, spark, tmp_path, sf_dir
    ):
        """ADVICE r12: with incomplete stats coverage the z-bounds
        fallback aggregates the FULL table, not the pending slice —
        evolution over a stats-less table converges losslessly across
        bounded steps (this path previously diverged bounds per
        step)."""
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint").alias("cents"),
        )
        t = ManifestTable(str(tmp_path / "nostats"))
        cols = ["o_custkey", "cents"]
        t.commit_overwrite(o.repartition(6), batch_id="seed")  # NO stats
        before = _canon(t.read(spark))
        steps = 0
        while True:
            _, k = t.evolve_clustering(
                spark, cols, target_rows=100_000,
                max_files_per_step=2, stats_cols=cols,
            )
            if k == 0:
                break
            steps += 1
            assert _canon(t.read(spark)) == before
        assert steps == 3  # ceil(6/2) bounded commits


class TestTombstonesAndTypedFeed:
    """MoR delete tombstones (commit_delta(deletes=...)) and the typed
    change feed: _change_type insert/update/delete/upsert, Delta-CDF
    parity on the read-merging path."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_delete_drops_key_and_upsert_resurrects(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "del"))
        seed = cust.filter(F.col("c_custkey") <= 100)
        t.commit_overwrite(seed, batch_id="seed")
        dead = seed.filter(F.col("c_custkey") <= 10)
        t.commit_delta(None, ["c_custkey"], batch_id="d1", deletes=dead)
        got = t.read_resolved(spark)
        assert "__ct__" not in got.columns
        keys = {r.c_custkey for r in got.collect()}
        assert keys == {r.c_custkey for r in
                        seed.filter(F.col("c_custkey") > 10).collect()}
        # a later upsert RESURRECTS a deleted key (LWW then delete)
        back = seed.filter(F.col("c_custkey") <= 5).withColumn(
            "c_acctbal", F.lit(1.0)
        )
        t.commit_delta(back, ["c_custkey"], batch_id="d2")
        got2 = {r.c_custkey: r.c_acctbal
                for r in t.read_resolved(spark).collect()}
        assert all(got2[k] == 1.0 for k in range(1, 6) if k in got2)
        assert set(got2) == keys | {r.c_custkey for r in back.collect()}

    def test_delete_of_absent_key_is_noop_and_validation(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "absent"))
        seed = cust.filter(F.col("c_custkey").between(50, 60))
        t.commit_overwrite(seed, batch_id="seed")
        ghost = cust.filter(F.col("c_custkey") > 10_000_000)
        t.commit_delta(None, ["c_custkey"], batch_id="d1",
                       deletes=cust.limit(0))
        t.commit_delta(None, ["c_custkey"], batch_id="d2", deletes=ghost)
        assert _canon(t.read_resolved(spark)) == _canon(seed)
        with pytest.raises(ValueError, match="updates and/or deletes"):
            t.commit_delta(None, ["c_custkey"], batch_id="d3")
        with pytest.raises(ValueError, match="key column"):
            t.commit_delta(None, ["c_custkey"], batch_id="d4",
                           deletes=cust.select("c_acctbal"))

    def test_mixed_upsert_delete_commit_and_compaction(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "mixed"))
        seed = cust.filter(F.col("c_custkey") <= 200)
        t.commit_overwrite(seed, batch_id="seed")
        upd = seed.filter(F.col("c_custkey") % 10 == 1).withColumn(
            "c_acctbal", F.col("c_acctbal") + 5.0
        )
        dead = seed.filter(F.col("c_custkey") % 10 == 2)
        t.commit_delta(upd, ["c_custkey"], batch_id="d1", deletes=dead)
        expected = _canon(
            seed.filter(F.col("c_custkey") % 10 != 2)
            .withColumn(
                "c_acctbal",
                F.when(F.col("c_custkey") % 10 == 1,
                       F.col("c_acctbal") + 5.0)
                .otherwise(F.col("c_acctbal")),
            )
        )
        assert _canon(t.read_resolved(spark)) == expected
        # compaction folds tombstones away for good
        t.compact(spark, batch_id="c1")
        base = t.read(spark)
        assert "__ct__" not in base.columns
        assert _canon(base) == expected

    def test_point_lookup_prune_respects_tombstones(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "point"))
        seed = cust.filter(F.col("c_custkey") <= 100)
        t.commit_overwrite(
            seed.repartitionByRange(4, "c_custkey"),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        dead = seed.filter(F.col("c_custkey") == 7)
        t.commit_delta(None, ["c_custkey"], batch_id="d1", deletes=dead,
                       stats_cols=["c_custkey"])
        hit = t.read_resolved(spark, prune=("c_custkey", 7, 7))
        assert hit.count() == 0
        still = t.read_resolved(spark, prune=("c_custkey", 8, 8))
        assert still.count() == 1

    def test_typed_feed_insert_update_delete(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "typed"))
        seed = cust.filter(F.col("c_custkey") % 3 != 0)
        t.commit_overwrite(seed, batch_id="seed")  # v1
        # v2: typed upserts spanning existing and new keys
        u2 = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
            "c_acctbal", F.col("c_acctbal") + 100.0
        )
        t.commit_delta(u2, ["c_custkey"], batch_id="d1", cdc=True)
        # v3: blind (legacy-style) upsert
        u3 = cust.filter(F.col("c_custkey") % 5 == 1)
        t.commit_delta(u3, ["c_custkey"], batch_id="d2")
        # v4: typed deletes
        dead = cust.filter(F.col("c_custkey") % 4 == 1)
        t.commit_delta(None, ["c_custkey"], batch_id="d3", deletes=dead,
                       cdc=True)
        feed = t.changes(spark, since_version=1)
        assert "__ct__" not in feed.columns
        got = {
            (r.v, r.ct): r.n
            for r in feed.groupBy(
                F.col("_commit_version").alias("v"),
                F.col("_change_type").alias("ct"),
            ).agg(F.count("*").alias("n")).collect()
        }
        n_insert = cust.filter(
            F.col("c_custkey") % 6 == 0
        ).count()  # even AND %3==0: absent from seed
        n_update = u2.count() - n_insert
        assert got[(2, "insert")] == n_insert
        assert got[(2, "update")] == n_update
        assert got[(3, "upsert")] == u3.count()
        assert got[(4, "delete")] == dead.count()
        # delete rows carry keys; value columns are null
        drows = feed.filter(F.col("_change_type") == "delete")
        assert drows.filter(F.col("c_acctbal").isNotNull()).count() == 0
        assert drows.filter(F.col("c_custkey").isNull()).count() == 0

    def test_cdc_types_reinsert_after_delete_as_insert(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "reins"))
        seed = cust.filter(F.col("c_custkey") <= 50)
        t.commit_overwrite(seed, batch_id="seed")
        dead = seed.filter(F.col("c_custkey") <= 10)
        t.commit_delta(None, ["c_custkey"], batch_id="d1", deletes=dead)
        back = seed.filter(F.col("c_custkey") <= 10)
        t.commit_delta(back, ["c_custkey"], batch_id="d2", cdc=True)
        feed = t.changes(spark, since_version=2)
        types = {r._change_type for r in feed.collect()}
        assert types == {"insert"}  # the keys did NOT exist at v2

    def test_feed_survives_additive_schema_evolution(
        self, spark, tmp_path, cust
    ):
        """ADVICE r12: a delta commit that ADDS a column must not break
        the feed over a range containing it."""
        t = ManifestTable(str(tmp_path / "evoschema"))
        t.commit_overwrite(cust.limit(100), batch_id="seed")
        t.commit_delta(cust.limit(5), ["c_custkey"], batch_id="d1")
        widened = cust.limit(3).withColumn("flag", F.lit(1))
        t.commit_delta(widened, ["c_custkey"], batch_id="d2")
        feed = t.changes(spark, since_version=1)
        assert "flag" in feed.columns and "_change_type" in feed.columns
        rows = feed.collect()
        assert len(rows) == 8
        assert sum(r.flag is None for r in rows) == 5  # v2 rows null-fill

    def test_empty_range_schema_from_range_end_manifest(
        self, spark, tmp_path, cust
    ):
        """ADVICE r12: the empty-range frame's schema derives from the
        manifest AT the range end, not the (possibly since-rewritten)
        current base."""
        t = ManifestTable(str(tmp_path / "emptyrange"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")  # v1
        empty = t.changes(spark, since_version=1, until_version=1)
        assert empty.count() == 0
        assert set(empty.columns) == {
            "c_custkey", "c_acctbal", "_commit_version", "_change_type"
        }
        # v2 rewrites with a DIFFERENT schema; the v1-bounded empty
        # range must still answer in v1's schema
        t.commit_overwrite(
            cust.limit(10).withColumnRenamed("c_acctbal", "bal"),
            batch_id="ow",
        )
        still = t.changes(spark, since_version=1, until_version=1)
        assert "c_acctbal" in still.columns and "bal" not in still.columns

    def test_feed_range_vacuumed_raises(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "ret"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")
        t.commit_delta(cust.limit(5), ["c_custkey"], batch_id="d1")
        t.commit_delta(cust.limit(3), ["c_custkey"], batch_id="d2")
        t.vacuum(keep_versions=1)
        with pytest.raises(ValueError, match="not found"):
            t.changes(spark, since_version=1)

    def test_ndv_and_analyze_see_tombstones_correctly(
        self, spark, tmp_path, cust
    ):
        """ANALYZE profiles the RESOLVED content (deleted keys gone);
        the NDV sketch keeps absorbed marks (documented upper bound)."""
        t = ManifestTable(str(tmp_path / "ndvdel"))
        seed = cust.filter(F.col("c_custkey") <= 100)
        t.commit_overwrite(seed, batch_id="seed", ndv_cols=["c_custkey"])
        t.commit_delta(None, ["c_custkey"], batch_id="d1",
                       deletes=seed.filter(F.col("c_custkey") <= 50))
        t.analyze(spark, ["c_custkey"], batch_id="an1")
        cs = t.column_stats()
        live = t.read_resolved(spark).count()
        assert cs["row_count"] == live
        assert t.ndv_estimate("c_custkey") >= live  # absorb-only bound


class TestSchemaEvolution:
    """Table-level additive schema evolution: the manifest tracks the
    table schema (Delta mergeSchema shape); evolved commits widen it,
    carried-over files null-fill new columns at read, overwrite
    resets, restore carries it with the content."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def _seed(self, tmp_path, cust, name="tbl"):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            cust.repartitionByRange(8, "c_custkey"),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        return t

    def test_pruned_merge_adds_column_null_fills_carried(
        self, spark, tmp_path, cust
    ):
        t = self._seed(tmp_path, cust)
        upd = cust.filter(F.col("c_custkey") <= 30).select(
            "c_custkey",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.when(F.col("c_custkey") % 2 == 0, F.lit("gold"))
            .otherwise(F.lit("silver"))
            .alias("tier"),
        )
        t.commit_merge(spark, upd, ["c_custkey"], batch_id="m1",
                       prune_col="c_custkey", stats_cols=["c_custkey"])
        got = t.read(spark)
        assert got.columns == ["c_custkey", "c_acctbal", "tier"]
        # custkey is dense from 0 at the fixture SFs: count, don't guess
        assert got.filter(F.col("tier").isNotNull()).count() == upd.count()
        expected = cust.select(
            "c_custkey",
            F.when(F.col("c_custkey") <= 30, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
            F.when(F.col("c_custkey") > 30, F.lit(None).cast("string"))
            .when(F.col("c_custkey") % 2 == 0, F.lit("gold"))
            .otherwise(F.lit("silver")).alias("tier"),
        )
        assert _canon(got) == _canon(expected)
        # pruning on the ORIGINAL column still works over the mixed base
        files, total = t.prune_plan("c_custkey", 10_000, None)
        assert len(files) < total

    def test_merge_missing_existing_column_raises(
        self, spark, tmp_path, cust
    ):
        t = self._seed(tmp_path, cust, "miss")
        with pytest.raises(ValueError, match="lacks existing column"):
            t.commit_merge(
                spark, cust.limit(5).select("c_custkey"),
                ["c_custkey"], batch_id="m1",
            )

    def test_type_change_raises(self, spark, tmp_path, cust):
        t = self._seed(tmp_path, cust, "type")
        bad = cust.limit(5).withColumn(
            "c_acctbal", F.col("c_acctbal").cast("string")
        )
        with pytest.raises(ValueError, match="additive/widening-only"):
            t.commit_merge(spark, bad, ["c_custkey"], batch_id="m1")
        with pytest.raises(ValueError, match="additive/widening-only"):
            t.commit_delta(bad, ["c_custkey"], batch_id="d1")

    def test_delta_widens_then_compact_materializes(
        self, spark, tmp_path, cust
    ):
        t = self._seed(tmp_path, cust, "delta")
        widened = cust.filter(F.col("c_custkey") % 9 == 2).withColumn(
            "bonus", F.lit(1.5)
        )
        t.commit_delta(widened, ["c_custkey"], batch_id="d1")
        res = t.read_resolved(spark)
        assert "bonus" in res.columns
        n_bonus = res.filter(F.col("bonus").isNotNull()).count()
        assert n_bonus == widened.count()
        t.compact(spark, batch_id="c1", stats_cols=["c_custkey"])
        base = t.read(spark)
        assert "bonus" in base.columns
        assert (
            base.filter(F.col("bonus").isNotNull()).count() == n_bonus
        )
        # the tracked schema survived the compaction
        m = t._read_manifest()
        names = [f["name"] for f in m["schema"]["fields"]]
        assert names == ["c_custkey", "c_acctbal", "bonus"]

    def test_overwrite_resets_schema(self, spark, tmp_path, cust):
        t = self._seed(tmp_path, cust, "reset")
        t.commit_delta(
            cust.limit(5).withColumn("extra", F.lit(1)),
            ["c_custkey"], batch_id="d1",
        )
        t.commit_overwrite(cust.select("c_custkey"), batch_id="ow")
        assert t.read(spark).columns == ["c_custkey"]
        m = t._read_manifest()
        assert [f["name"] for f in m["schema"]["fields"]] == ["c_custkey"]

    def test_untracked_pruned_evolving_merge_refused(
        self, spark, tmp_path, cust
    ):
        import json as _json

        t = self._seed(tmp_path, cust, "legacy")
        # simulate a pre-evolution manifest: drop the tracked schema
        m = t._read_manifest()
        m.pop("schema")
        vfile = os.path.join(t.root, f"_manifest.v{m['version']}.json")
        for p in (vfile, t._pointer):
            with open(p, "w") as fh:
                _json.dump(m, fh)
        upd = cust.filter(F.col("c_custkey") <= 20).withColumn(
            "tier", F.lit("gold")
        )
        with pytest.raises(ValueError, match="schema tracking"):
            t.commit_merge(spark, upd, ["c_custkey"], batch_id="m1",
                           prune_col="c_custkey")
        # an UNPRUNED evolving merge rewrites everything: allowed, and
        # it establishes tracking
        t.commit_merge(spark, upd, ["c_custkey"], batch_id="m2")
        assert "tier" in t.read(spark).columns
        assert t._read_manifest().get("schema") is not None

    def test_restore_carries_schema_with_content(
        self, spark, tmp_path, cust
    ):
        t = self._seed(tmp_path, cust, "restore")
        v1 = t.version()
        upd = cust.filter(F.col("c_custkey") <= 10).withColumn(
            "tier", F.lit("gold")
        )
        t.commit_merge(spark, upd, ["c_custkey"], batch_id="m1",
                       prune_col="c_custkey")
        assert "tier" in t.read(spark).columns
        t.restore(v1, batch_id="undo")
        assert t.read(spark).columns == ["c_custkey", "c_acctbal"]

    def test_optimize_heterogeneous_base_lossless(
        self, spark, tmp_path, cust
    ):
        t = self._seed(tmp_path, cust, "opt")
        upd = cust.filter(F.col("c_custkey") <= 25).withColumn(
            "tier", F.lit("gold")
        )
        t.commit_merge(spark, upd, ["c_custkey"], batch_id="m1",
                       prune_col="c_custkey")
        before = _canon(t.read(spark))
        t.optimize(spark, target_rows=10_000, batch_id="o1",
                   stats_cols=["c_custkey"])
        assert _canon(t.read(spark)) == before


class TestOrphanGC:
    """gc_orphans: reclaims unreferenced data files (aborted OCC
    commits, crashed pre-publish writes) that vacuum cannot see, with
    an age floor protecting in-flight commits."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_aborted_commit_debris_collected(self, spark, tmp_path, cust):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "gc")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        a._race_once = lambda: b.commit_overwrite(
            cust.limit(50), batch_id="ow"
        )
        with pytest.raises(CommitConflict):
            a.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")
        n_files = len(os.listdir(a.data_dir))
        live = set(a._read_manifest()["files"])
        before = _canon(a.read(spark))
        # young debris is protected (in-flight commits look identical)
        assert a.gc_orphans(min_age_seconds=3600) == 0
        removed = a.gc_orphans(min_age_seconds=0.0)
        assert removed > 0
        remaining = set(os.listdir(a.data_dir))
        assert live <= remaining  # referenced files untouched
        assert len(remaining) == n_files - removed
        # every retained version still reads exactly (v1 + v2 live)
        assert _canon(a.read(spark)) == before
        assert _canon(a.read(spark, version=1)) == _canon(cust.limit(100))

    def test_crashed_staging_dir_collected(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "stage"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")
        # simulate a crash mid-_write_fileset: fileset staged, no commit
        t._write_fileset(cust.limit(10))
        staging = os.path.join(t.root, "staging-deadbeef")
        os.makedirs(staging, exist_ok=True)
        t.gc_orphans(min_age_seconds=0.0)
        assert not os.path.exists(staging)
        assert not [f for f in os.listdir(t.root)
                    if f.startswith("staging-")]
        assert _canon(t.read(spark)) == _canon(cust.limit(50))

    def test_gc_never_touches_referenced_files(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "ref"))
        t.commit_overwrite(cust.limit(100), batch_id="seed")
        t.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")
        before = _canon(t.read_resolved(spark))
        assert t.gc_orphans(min_age_seconds=0.0) == 0
        assert _canon(t.read_resolved(spark)) == before


class TestOccInterleavingProperty:
    """Model-based OCC check: random two-writer interleavings of delta
    commits (each loser forced through the race window) must always
    yield a ledger equal to the applied-batch set, dense versions, and
    content equal to applying the batches in COMMIT order."""

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(plan=st.lists(st.integers(0, 1), min_size=2, max_size=4))
    def test_random_interleavings_converge(self, spark, sf_dir, tmp_path, plan):
        import uuid as _uuid

        from pypeline_spark.sinks.keyed import upsert

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        root = str(tmp_path / f"prop-{_uuid.uuid4().hex}")
        a, b = ManifestTable(root), ManifestTable(root)
        seed = cust.filter(F.col("c_custkey") % 7 == 0)
        a.commit_overwrite(seed, batch_id="seed")
        expected = seed
        applied = {"seed"}
        # each step: the chosen loser commits slice i while the OTHER
        # writer races a commit of slice i+100 inside its window
        for i, who in enumerate(plan):
            loser, winner = (a, b) if who == 0 else (b, a)
            l_slice = cust.filter(F.col("c_custkey") % 7 == (i % 6) + 1) \
                .withColumn("c_acctbal", F.col("c_acctbal") + float(i))
            w_slice = cust.filter(F.col("c_custkey") % 5 == i % 5) \
                .withColumn("c_acctbal", F.col("c_acctbal") + 100.0 + i)
            loser._race_once = (
                lambda w=winner, s=w_slice, n=f"w{i}": w.commit_delta(
                    s, ["c_custkey"], batch_id=n
                )
            )
            loser.commit_delta(l_slice, ["c_custkey"], batch_id=f"l{i}")
            # commit order: winner's commit lands first (inside the
            # loser's window), then the loser's rebase
            expected = upsert(expected, w_slice, ["c_custkey"])
            expected = upsert(expected, l_slice, ["c_custkey"])
            applied |= {f"w{i}", f"l{i}"}
        t = ManifestTable(root)
        assert t.applied_batch_ids() == applied
        assert t.version() == 1 + 2 * len(plan)  # dense: no lost commit
        assert _canon(t.read_resolved(spark)) == _canon(expected)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(plan=st.lists(st.integers(0, 2), min_size=2, max_size=4))
    def test_random_interleavings_with_reorgs_converge(
        self, spark, sf_dir, tmp_path, plan
    ):
        """Same model with MAINTENANCE in the mix: each step's racing
        winner is a delta (0), a compact (1) or an OPTIMIZE (2) — the
        loser's blind append must rebase over ALL of them (reorgs are
        content-preserving), the ledger must hold every batch, and the
        resolved content must equal applying the deltas in commit
        order (maintenance contributes nothing)."""
        import uuid as _uuid

        from pypeline_spark.sinks.keyed import upsert

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        root = str(tmp_path / f"prop-{_uuid.uuid4().hex}")
        a, b = ManifestTable(root), ManifestTable(root)
        seed = cust.filter(F.col("c_custkey") % 7 == 0)
        a.commit_overwrite(seed, batch_id="seed")
        expected = seed
        applied = {"seed"}
        for i, kind in enumerate(plan):
            l_slice = cust.filter(F.col("c_custkey") % 7 == (i % 6) + 1) \
                .withColumn("c_acctbal", F.col("c_acctbal") + float(i))
            if kind == 0:
                w_slice = cust.filter(F.col("c_custkey") % 5 == i % 5) \
                    .withColumn("c_acctbal", F.col("c_acctbal") + 100.0 + i)
                a._race_once = (
                    lambda s=w_slice, n=f"w{i}": b.commit_delta(
                        s, ["c_custkey"], batch_id=n
                    )
                )
                expected = upsert(expected, w_slice, ["c_custkey"])
                applied.add(f"w{i}")
            elif kind == 1:
                a._race_once = lambda n=f"w{i}": b.compact(
                    spark, batch_id=n
                )
                if i > 0:  # step 0 has no deltas: compact no-ops
                    applied.add(f"w{i}")
            else:
                a._race_once = lambda n=f"w{i}": b.optimize(
                    spark, target_rows=100_000, batch_id=n
                )
                applied.add(f"w{i}")
            a.commit_delta(l_slice, ["c_custkey"], batch_id=f"l{i}")
            expected = upsert(expected, l_slice, ["c_custkey"])
            applied.add(f"l{i}")
        t = ManifestTable(root)
        assert t.applied_batch_ids() == applied
        assert _canon(t.read_resolved(spark)) == _canon(expected)


class TestOccDmlInterleavingProperty:
    """Model-based OCC check over the r15 'dml' commit kind: random
    interleavings where a blind delta append races a predicate DELETE
    landing inside its window — the append must REBASE over the dml
    commit (never abort, never lose), the ledger must hold every
    batch, and the content must equal applying delete-then-upsert in
    commit order."""

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(plan=st.lists(st.booleans(), min_size=2, max_size=3))
    def test_appends_rebase_over_racing_deletes(
        self, spark, sf_dir, tmp_path, plan
    ):
        import uuid as _uuid

        from pypeline_spark.sinks.keyed import upsert

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        root = str(tmp_path / f"dmlprop-{_uuid.uuid4().hex}")
        a, b = ManifestTable(root), ManifestTable(root)
        seed = cust.filter(F.col("c_custkey") % 7 == 0)
        a.commit_overwrite(seed, batch_id="seed")
        expected = seed
        applied = {"seed"}
        for i, race in enumerate(plan):
            # fold outstanding deltas so the racing DELETE is legal
            b.compact(spark, batch_id=f"c{i}")
            if i > 0:
                applied.add(f"c{i}")  # step 0 has no deltas: no-op
            # the delete targets a residue class that provably exists:
            # the seed (step 0) or the slice upserted at step i-1
            pred = (
                "c_custkey % 7 = 0" if i == 0
                else f"c_custkey % 7 = {(i - 1) % 6 + 1}"
            )
            l_slice = cust.filter(
                F.col("c_custkey") % 7 == (i % 6) + 1
            ).withColumn("c_acctbal", F.col("c_acctbal") + float(i))
            if race:
                # DELETE lands INSIDE the append's commit window
                a._race_once = lambda p=pred, n=f"w{i}": b.delete_where(
                    spark, p, batch_id=n
                )
            else:
                b.delete_where(spark, pred, batch_id=f"w{i}")
            a.commit_delta(l_slice, ["c_custkey"], batch_id=f"l{i}")
            applied |= {f"w{i}", f"l{i}"}
            # commit order is always delete first, then the append
            expected = upsert(
                expected.filter(~F.expr(pred)), l_slice, ["c_custkey"]
            )
        t = ManifestTable(root)
        assert t.applied_batch_ids() == applied
        assert _canon(t.read_resolved(spark)) == _canon(expected)


class TestEvolvedMergeEdges:
    """Nothing-overlaps prune paths must not bypass the schema
    evolution guards (a widened batch inserting beside carried files
    would make an untracked base silently heterogeneous)."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def _untracked(self, spark, tmp_path, cust, name):
        import json as _json

        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 100)
            .repartitionByRange(4, "c_custkey"),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        m = t._read_manifest()
        m.pop("schema")
        vfile = os.path.join(t.root, f"_manifest.v{m['version']}.json")
        for p in (vfile, t._pointer):
            with open(p, "w") as fh:
                _json.dump(m, fh)
        return t

    def test_untracked_nothing_overlaps_widened_batch_refused(
        self, spark, tmp_path, cust
    ):
        t = self._untracked(spark, tmp_path, cust, "wide")
        # keys far above the seeded range: zero files overlap
        far = cust.filter(F.col("c_custkey") > 100).limit(5).withColumn(
            "tier", F.lit("gold")
        )
        with pytest.raises(ValueError, match="untracked"):
            t.commit_merge(spark, far, ["c_custkey"], batch_id="m1",
                           prune_col="c_custkey")
        # a schema-matching non-overlapping batch still inserts fine
        ok = cust.filter(F.col("c_custkey") > 100).limit(5)
        t.commit_merge(spark, ok, ["c_custkey"], batch_id="m2",
                       prune_col="c_custkey")
        assert t.read(spark).count() == 101 + 5

    def test_tracked_nothing_overlaps_missing_column_refused(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "narrow"))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 100)
            .repartitionByRange(4, "c_custkey"),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        narrow = (
            cust.filter(F.col("c_custkey") > 100).limit(5)
            .select("c_custkey")
        )
        with pytest.raises(ValueError, match="lacks existing column"):
            t.commit_merge(spark, narrow, ["c_custkey"], batch_id="m1",
                           prune_col="c_custkey")


def test_occ_rebase_aborts_when_intervening_version_vacuumed(
    spark, sf_dir, tmp_path
):
    """A concurrent vacuum that removes an intervening version file
    mid-race makes rebase safety unprovable: the loser must abort with
    CommitConflict (conservative), never leak a version-not-found
    ValueError."""
    from pypeline_spark.sinks.manifest import CommitConflict

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    root = str(tmp_path / "vac-race")
    a, b = ManifestTable(root), ManifestTable(root)
    a.commit_overwrite(cust.limit(100), batch_id="seed")

    def race():
        b.commit_delta(cust.limit(5), ["c_custkey"], batch_id="w")
        # simulate the concurrent vacuum: the just-published version's
        # manifest file disappears (pointer cache still serves the tip)
        os.remove(os.path.join(root, "_manifest.v2.json"))

    a._race_once = race
    with pytest.raises(CommitConflict, match="cannot be rebased"):
        a.commit_delta(cust.limit(3), ["c_custkey"], batch_id="l")
    assert "w" in a.applied_batch_ids()  # the winner's commit survives


class TestAdviceR13Fixes:
    """Regressions for the four r13-ADVICE findings: cdc-typed first
    commit on an empty table, vacuum under a stale pointer, the
    publish stale-slot guard with a broken roll-forward chain, and
    in-flight-writer safety of gc_orphans."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_first_commit_cdc_on_empty_table(self, spark, tmp_path, cust):
        """commit_delta(cdc=True) as the VERY FIRST commit: version 0
        resolves as the empty table, so the existence probe finds
        nothing and the whole batch types 'insert' (previously crashed
        probing read_resolved(version=0))."""
        t = ManifestTable(str(tmp_path / "cdc0"))
        batch = cust.limit(20)
        v = t.commit_delta(batch, ["c_custkey"], batch_id="d0", cdc=True)
        assert v == 1
        assert _canon(t.read_resolved(spark)) == _canon(batch)
        feed = t.changes(spark, since_version=0)
        assert feed.count() == 20
        types = {r._change_type for r in
                 feed.select("_change_type").distinct().collect()}
        assert types == {"insert"}

    def test_delete_only_first_commit_resolves_empty(
        self, spark, tmp_path, cust
    ):
        """Tombstones-before-any-content: legal, resolves to empty."""
        t = ManifestTable(str(tmp_path / "tomb0"))
        t.commit_delta(None, ["c_custkey"], batch_id="d0",
                       deletes=cust.limit(5), cdc=True)
        got = t.read_resolved(spark)
        assert got is None or got.count() == 0

    def test_vacuum_with_stale_pointer_rolls_forward_first(
        self, spark, tmp_path, cust
    ):
        """The pointer cache lags at v1 while v2..v4 are committed
        (crashes between link and refresh).  vacuum must compute
        retention from the TRUE tip and refresh the pointer BEFORE
        removing manifests — otherwise readers would be stranded on a
        vacuumed version forever."""
        t = ManifestTable(str(tmp_path / "stale"))
        t.commit_overwrite(cust.limit(100), batch_id="s")  # v1
        t.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")  # v2
        t.commit_delta(cust.limit(20), ["c_custkey"], batch_id="d2")  # v3
        t.commit_delta(cust.limit(30), ["c_custkey"], batch_id="d3")  # v4
        tip_content = _canon(t.read_resolved(spark))
        # regress the pointer to v1 (simulated crash-lag)
        import shutil as _sh
        _sh.copyfile(os.path.join(t.root, "_manifest.v1.json"), t._pointer)
        t.vacuum(keep_versions=2)  # must retain v3, v4 — not v0, v1
        assert t.version() == 4  # pointer healed to the true tip
        assert _canon(t.read_resolved(spark)) == tip_content
        assert os.path.exists(os.path.join(t.root, "_manifest.v4.json"))
        assert not os.path.exists(os.path.join(t.root, "_manifest.v1.json"))

    def test_publish_guard_scans_disk_when_chain_is_broken(
        self, spark, tmp_path, cust
    ):
        """Stale pointer + vacuumed intermediate manifest = broken
        roll-forward chain: the old guard (chain only) saw v1 and let
        a writer RE-LINK the vacuumed v2 slot — a lost commit wearing
        a historical version number.  The directory-scan guard turns
        it into an ordinary conflict."""
        from pypeline_spark.sinks.manifest import CommitConflict

        t = ManifestTable(str(tmp_path / "hole"))
        t.commit_overwrite(cust.limit(100), batch_id="s")  # v1
        t.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")  # v2
        t.commit_delta(cust.limit(20), ["c_custkey"], batch_id="d2")  # v3
        # break the chain: pointer back to v1, v2's manifest gone
        import shutil as _sh
        _sh.copyfile(os.path.join(t.root, "_manifest.v1.json"), t._pointer)
        os.remove(os.path.join(t.root, "_manifest.v2.json"))
        w = ManifestTable(t.root)
        assert w._read_manifest()["version"] == 1  # chain stops at the hole
        with pytest.raises(CommitConflict):
            w.commit_overwrite(cust.limit(5), batch_id="ow")
        # v3 (the true tip) was never clobbered — its commit record
        # still carries d2 as the appended batch
        assert not os.path.exists(os.path.join(t.root, "_manifest.v4.json"))
        with open(os.path.join(t.root, "_manifest.v3.json")) as fh:
            assert json.load(fh)["summary"]["batch_id"] == "d2"

    def test_gc_keeps_staging_tree_with_fresh_writes_inside(
        self, tmp_path, spark, cust
    ):
        """A long-running write job's staging dir has an OLD top-level
        mtime (set at creation) but FRESH files inside (tasks still
        committing).  gc must age by the newest mtime in the tree."""
        t = ManifestTable(str(tmp_path / "inflight"))
        t.commit_overwrite(cust.limit(10), batch_id="s")
        staging = os.path.join(t.root, "staging-slowjob")
        os.makedirs(staging)
        part = os.path.join(staging, "part-0.parquet")
        with open(part, "wb") as fh:
            fh.write(b"x")
        old = 1_000_000_000.0
        os.utime(staging, (old, old))  # dir looks ancient
        t.gc_orphans(min_age_seconds=3600)
        assert os.path.exists(part)  # fresh file inside kept the tree
        # once EVERYTHING in the tree is old, it is reclaimed
        os.utime(part, (old, old))
        t.gc_orphans(min_age_seconds=3600)
        assert not os.path.exists(staging)

    def test_gc_concurrent_with_inflight_publish_is_safe(
        self, spark, tmp_path, cust
    ):
        """Adversarial interleaving (r13 directive #6): gc_orphans runs
        INSIDE a writer's read-modify-write window, after its fileset
        landed in data/ but before the manifest names it.  With an age
        floor above the write→publish latency the fileset survives and
        the commit completes intact."""
        root = str(tmp_path / "gcrace")
        a, g = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        removed = []
        a._race_once = lambda: removed.append(
            g.gc_orphans(min_age_seconds=3600)
        )
        batch = cust.limit(25)
        v = a.commit_delta(batch, ["c_custkey"], batch_id="d1")
        assert v == 2
        assert removed == [0]  # the in-flight fileset was NOT reclaimed
        assert _canon(a.read_resolved(spark)) == _canon(
            upsert(cust.limit(100), batch, ["c_custkey"])
        )


class TestOccOverReorg:
    """Content-preserving reorg commits (compact / OPTIMIZE) are
    rebase-safe for blind delta appends and ANALYZE — scheduled
    maintenance no longer aborts concurrent writers."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_delta_append_rebases_over_concurrent_compact(
        self, spark, tmp_path, cust
    ):
        root = str(tmp_path / "dvc")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")  # v1
        a.commit_delta(cust.limit(40), ["c_custkey"], batch_id="d1")  # v2
        # b compacts INSIDE a's read-modify-write window
        a._race_once = lambda: b.compact(spark, batch_id="c1")
        batch = cust.limit(10).withColumn("c_acctbal", F.lit(9.75))
        v = a.commit_delta(batch, ["c_custkey"], batch_id="d2")
        assert v == 4  # rebased onto the compacted tip, no abort
        m = a._read_manifest()
        assert {"d2", "c1"} <= set(m["batch_ids"])
        got = a.read_resolved(spark)
        assert got.filter(F.col("c_acctbal") == 9.75).count() == 10
        assert got.count() == 100

    def test_delta_append_rebases_over_concurrent_optimize(
        self, spark, tmp_path, cust
    ):
        root = str(tmp_path / "dvo")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")  # v1
        a._race_once = lambda: b.optimize(
            spark, target_rows=10_000, batch_id="o1"
        )
        v = a.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")
        assert v == 3
        assert a.read_resolved(spark).count() == 100

    def test_analyze_rebases_over_concurrent_optimize(
        self, spark, tmp_path, cust
    ):
        root = str(tmp_path / "avo")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")  # v1
        a._race_once = lambda: b.optimize(
            spark, target_rows=10_000, batch_id="o1"
        )
        v = a.analyze(spark, ["c_custkey"], batch_id="an")
        assert v == 3  # rebased over the content-preserving reorg
        assert a.column_stats("c_custkey")["ndv"] > 0

    def test_delta_still_aborts_over_content_rewrite(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "dvr")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")  # v1
        a._race_once = lambda: b.commit_overwrite(
            cust.limit(50), batch_id="ow"
        )
        with pytest.raises(CommitConflict, match="cannot be rebased"):
            a.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")


class TestEvolveSchemaCommit:
    """evolve_schema: metadata-only ALTER TABLE ADD COLUMN — zero data
    writes, null-fill at read, additive-only, ledger-idempotent — and
    the feed/stream schema contract across it."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_metadata_only_add_column(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "evo"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")  # v1
        files_before = t._read_manifest()["files"]
        data_before = set(os.listdir(t.data_dir))
        v = t.evolve_schema("tier string", batch_id="e1")
        assert v == 2
        m = t._read_manifest()
        assert m["files"] == files_before  # not a single data write
        assert set(os.listdir(t.data_dir)) == data_before
        got = t.read(spark)
        assert got.columns == ["c_custkey", "c_acctbal", "tier"]
        assert got.filter(F.col("tier").isNotNull()).count() == 0
        # ledger replay is a no-op
        assert t.evolve_schema("tier string", batch_id="e1") == 2
        # re-declaring an existing column with the SAME type widens
        # nothing and commits cleanly
        t.evolve_schema("tier string, bonus double", batch_id="e2")
        assert t.read(spark).columns == [
            "c_custkey", "c_acctbal", "tier", "bonus"
        ]

    def test_type_change_and_untracked_refused(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "evobad"))
        t.commit_overwrite(cust.limit(20), batch_id="seed")
        with pytest.raises(ValueError, match="additive/widening-only"):
            t.evolve_schema("c_acctbal string")
        u = ManifestTable(str(tmp_path / "untracked"))
        u.commit_delta(cust.limit(5), ["c_custkey"], batch_id="d0")
        with pytest.raises(ValueError, match="schema-tracked"):
            u.evolve_schema("tier string")
        with pytest.raises(ValueError, match="DDL string"):
            t.evolve_schema([])

    def test_feed_spans_evolution_with_nullfill(self, spark, tmp_path, cust):
        """A changes() range spanning evolve_schema emits rows under
        the EVOLVED superset schema: pre-evolution rows null-fill the
        new column; the output column set is the table's, not an
        artifact of which delta files were in range."""
        k = F.col("c_custkey")
        t = ManifestTable(str(tmp_path / "evofeed"))
        t.commit_overwrite(cust.filter(k % 3 != 0), batch_id="seed")  # v1
        t.commit_delta(cust.limit(10), ["c_custkey"], batch_id="d1")  # v2
        t.evolve_schema("tier string", batch_id="e1")  # v3: metadata
        d2 = cust.limit(4).withColumn("tier", F.lit("gold"))
        t.commit_delta(d2, ["c_custkey"], batch_id="d2")  # v4
        feed = t.changes(spark, since_version=1)
        assert feed.columns == [
            "c_custkey", "c_acctbal", "tier",
            "_commit_version", "_change_type",
        ]
        assert feed.filter(
            (F.col("_commit_version") == 2) & F.col("tier").isNotNull()
        ).count() == 0
        assert feed.filter(
            (F.col("_commit_version") == 4) & (F.col("tier") == "gold")
        ).count() == 4
        # a pure-metadata range is empty but carries the evolved schema
        empty = t.changes(spark, since_version=2, until_version=3)
        assert empty.count() == 0
        assert "tier" in empty.columns
        # resolved read surfaces the evolved column across base rows
        got = t.read_resolved(spark)
        assert "tier" in got.columns
        assert got.filter(F.col("tier") == "gold").count() == 4

    def test_evolution_rebases_over_concurrent_delta(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "evoocc"))
        b = ManifestTable(t.root)
        t.commit_overwrite(cust.limit(50), batch_id="seed")  # v1
        t._race_once = lambda: b.commit_delta(
            cust.limit(5), ["c_custkey"], batch_id="d1"
        )
        v = t.evolve_schema("tier string", batch_id="e1")
        assert v == 3  # rebased over the concurrent delta append
        assert "tier" in t.read_resolved(spark).columns


class TestColumnMapping:
    """Column mapping (Delta columnMapping.mode='name' / Iceberg
    field-id design): rename and drop are metadata-only, physical
    names are immutable per column id, re-added names mint new ids,
    stats/blooms survive renames, and every write/read path
    translates at the file boundary."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )

    def _mapped(self, spark, tmp_path, cust, name="cm"):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            cust.repartitionByRange(8, "c_acctbal"),
            batch_id="seed",
            stats_cols=["c_custkey", "c_acctbal"],
        )  # v1
        t.enable_column_mapping(batch_id="cm")  # v2
        return t

    def test_rename_is_metadata_only_and_stats_survive(
        self, spark, tmp_path, cust
    ):
        t = self._mapped(spark, tmp_path, cust)
        files = t._read_manifest()["files"]
        data_before = set(os.listdir(t.data_dir))
        t.rename_column("c_acctbal", "balance", batch_id="rn")  # v3
        m = t._read_manifest()
        assert m["files"] == files  # zero data writes
        assert set(os.listdir(t.data_dir)) == data_before
        got = t.read(spark)
        assert got.columns == ["c_custkey", "balance", "c_mktsegment"]
        assert _canon(got) == _canon(
            cust.withColumnRenamed("c_acctbal", "balance")
        )
        # per-file [min,max] stats keyed by physical name still prune
        # under the NEW logical name
        kept, total = t.prune_plan("balance", lo=-1000.0, hi=0.0)
        assert total == 8 and len(kept) < total
        # guard rails
        with pytest.raises(ValueError, match="already exists"):
            t.rename_column("c_custkey", "balance")
        with pytest.raises(ValueError, match="no such column"):
            t.rename_column("ghost", "x")

    def test_unmapped_table_refuses_rename_and_drop(
        self, spark, tmp_path, cust
    ):
        t = ManifestTable(str(tmp_path / "plain"))
        t.commit_overwrite(cust.limit(20), batch_id="seed")
        with pytest.raises(ValueError, match="column mapping"):
            t.rename_column("c_acctbal", "balance")
        with pytest.raises(ValueError, match="column mapping"):
            t.drop_column("c_mktsegment")
        u = ManifestTable(str(tmp_path / "untracked"))
        u.commit_delta(cust.limit(5), ["c_custkey"], batch_id="d")
        with pytest.raises(ValueError, match="schema-tracked"):
            u.enable_column_mapping()

    def test_writes_after_rename_stay_physical(self, spark, tmp_path, cust):
        """A delta committed AFTER the rename writes the ORIGINAL
        physical name into its files — old and new files stay
        physically homogeneous, so one mapping serves all reads."""
        import pyarrow.parquet as pq

        k = F.col("c_custkey")
        t = self._mapped(spark, tmp_path, cust)
        t.rename_column("c_acctbal", "balance", batch_id="rn")  # v3
        upd = (
            cust.filter(k % 2 == 0)
            .select(
                "c_custkey",
                (F.col("c_acctbal") + 100.0).alias("balance"),
                "c_mktsegment",
            )
        )
        t.commit_delta(upd, ["c_custkey"], batch_id="d1")  # v4
        m = t._read_manifest()
        delta_file = m["deltas"][-1][0]
        names = pq.ParquetFile(
            os.path.join(t.data_dir, delta_file)
        ).schema_arrow.names
        assert "c_acctbal" in names and "balance" not in names
        got = t.read_resolved(spark)
        assert got.columns == ["c_custkey", "balance", "c_mktsegment"]
        assert got.filter(k % 2 == 0).select(
            F.min(F.col("balance"))
        ).first()[0] == cust.filter(k % 2 == 0).select(
            F.min(F.col("c_acctbal") + 100.0)
        ).first()[0]

    def test_rename_key_column_follows_everywhere(
        self, spark, tmp_path, cust
    ):
        k = F.col("c_custkey")
        t = self._mapped(spark, tmp_path, cust)
        t.commit_delta(
            cust.limit(10), ["c_custkey"], batch_id="d1"
        )  # v3: record key_columns pre-rename
        t.rename_column("c_custkey", "cid", batch_id="rn")  # v4
        assert t._read_manifest()["key_columns"] == ["cid"]
        upd = cust.limit(5).select(
            F.col("c_custkey").alias("cid"),
            (F.col("c_acctbal") + 1.0).alias("c_acctbal"),
            "c_mktsegment",
        )
        t.commit_delta(upd, ["cid"], batch_id="d2")  # v5: new key name
        got = t.read_resolved(spark)
        assert got.count() == cust.count()
        assert "cid" in got.columns

    def test_drop_then_readd_cannot_resurrect(self, spark, tmp_path, cust):
        """drop retires the (id, physical) pair; re-adding the same
        logical name mints a NEW id — the dropped bytes stay invisible
        on every path (base read, resolved read, feed)."""
        k = F.col("c_custkey")
        t = self._mapped(spark, tmp_path, cust)
        t.drop_column("c_mktsegment", batch_id="dr")  # v3
        assert t.read(spark).columns == ["c_custkey", "c_acctbal"]
        t.evolve_schema("c_mktsegment string", batch_id="re")  # v4: new id
        got = t.read(spark)
        assert got.columns == ["c_custkey", "c_acctbal", "c_mktsegment"]
        assert got.filter(F.col("c_mktsegment").isNotNull()).count() == 0
        upd = cust.filter(k % 10 == 0).select(
            "c_custkey", "c_acctbal", F.lit("NEW").alias("c_mktsegment")
        )
        t.commit_delta(upd, ["c_custkey"], batch_id="d1")  # v5
        res = t.read_resolved(spark)
        assert res.filter(F.col("c_mktsegment") == "NEW").count() == (
            upd.count()
        )
        assert res.filter(F.col("c_mktsegment").isNotNull()).count() == (
            upd.count()
        )
        # the two c_mktsegment incarnations carry different ids
        fields = {
            f["name"]: f["metadata"]
            for f in t._read_manifest()["schema"]["fields"]
        }
        retired = t._read_manifest()["retired_cols"]
        assert retired and retired[0]["physical"] == "c_mktsegment"
        assert fields["c_mktsegment"]["cm.id"] != retired[0]["id"]
        assert fields["c_mktsegment"]["cm.physical"] != "c_mktsegment"
        # guard rails
        with pytest.raises(ValueError, match="no such column"):
            t.drop_column("ghost")

    def test_drop_key_or_last_column_refused(self, spark, tmp_path, cust):
        t = self._mapped(spark, tmp_path, cust)
        t.commit_delta(cust.limit(3), ["c_custkey"], batch_id="d1")
        with pytest.raises(ValueError, match="key column"):
            t.drop_column("c_custkey")
        u = ManifestTable(str(tmp_path / "one"))
        u.commit_overwrite(cust.select("c_custkey"), batch_id="seed")
        u.enable_column_mapping()
        with pytest.raises(ValueError, match="last column"):
            u.drop_column("c_custkey")

    def test_compact_optimize_overwrite_preserve_mapping(
        self, spark, tmp_path, cust
    ):
        k = F.col("c_custkey")
        t = self._mapped(spark, tmp_path, cust)
        t.rename_column("c_acctbal", "balance", batch_id="rn")  # v3
        id_before = {
            f["name"]: f["metadata"]["cm.id"]
            for f in t._read_manifest()["schema"]["fields"]
        }
        upd = cust.filter(k % 3 == 0).select(
            "c_custkey",
            (F.col("c_acctbal") + 50.0).alias("balance"),
            "c_mktsegment",
        )
        t.commit_delta(upd, ["c_custkey"], batch_id="d1")  # v4
        before = _canon(t.read_resolved(spark))
        t.compact(spark, batch_id="c1", stats_cols=["c_custkey"])  # v5
        assert _canon(t.read_resolved(spark)) == before
        t.optimize(spark, target_rows=10_000, batch_id="o1")  # v6
        assert _canon(t.read_resolved(spark)) == before
        m = t._read_manifest()
        assert self_ids(m) == id_before
        assert m["column_mapping"] == "name"
        # overwrite keeps ids of same-named columns, mints new ones
        t.commit_overwrite(
            t.read(spark).withColumn("extra", F.lit(1.5)),
            batch_id="ow",
        )  # v7
        m2 = t._read_manifest()
        ids2 = self_ids(m2)
        for c, i in id_before.items():
            assert ids2[c] == i
        assert ids2["extra"] == m2["max_column_id"]
        assert _canon(t.read(spark).drop("extra")) == before

    def test_feed_and_stream_after_rename(self, spark, tmp_path, cust):
        from pypeline_spark.sources.manifest_stream import register

        k = F.col("c_custkey")
        t = self._mapped(spark, tmp_path, cust)
        t.commit_delta(
            cust.filter(k % 2 == 0).withColumn(
                "c_acctbal", F.col("c_acctbal") + 9.0
            ),
            ["c_custkey"], batch_id="d1",
        )  # v3: pre-rename delta (physical c_acctbal)
        t.rename_column("c_acctbal", "balance", batch_id="rn")  # v4
        feed = t.changes(spark, since_version=2)
        assert feed.columns == [
            "c_custkey", "balance", "c_mktsegment",
            "_commit_version", "_change_type",
        ]
        n_even = cust.filter(k % 2 == 0).count()
        assert feed.filter(F.col("balance").isNotNull()).count() == n_even
        register(spark)
        df = (
            spark.readStream.format("manifest_changes")
            .option("path", t.root).option("since_version", 2).load()
        )
        assert "balance" in df.columns
        out = str(tmp_path / "o"); ckpt = str(tmp_path / "c")
        q = (
            df.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.filter(F.col("balance").isNotNull()).count() == n_even


def self_ids(m):
    return {
        f["name"]: f["metadata"]["cm.id"]
        for f in m["schema"]["fields"]
        if "cm.id" in (f.get("metadata") or {})
    }


class TestJoinAdvisor:
    """Metadata-fed broadcast planning: live_bytes /
    estimated_resolved_bytes / suggest_join_strategy read ONLY the
    manifest; read_resolved_hinted turns the advice into a broadcast
    hint Catalyst honors."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_live_bytes_matches_filesystem(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "sz"))
        t.commit_overwrite(cust.limit(200), batch_id="seed")
        t.commit_delta(cust.limit(50), ["c_custkey"], batch_id="d1")
        m = t._read_manifest()
        expect = sum(
            os.path.getsize(os.path.join(t.data_dir, f))
            for f in m["files"] + [n for fs in m["deltas"] for n in fs]
        )
        assert t.live_bytes() == expect

    def test_ndv_shrinks_mor_estimate(self, spark, tmp_path, cust):
        """Deltas that re-upsert the SAME keys inflate raw bytes but
        not the resolved view — the key-NDV sketch sees through it."""
        t = ManifestTable(str(tmp_path / "mor"))
        keys = cust.limit(100)
        t.commit_overwrite(keys, batch_id="seed", ndv_cols=["c_custkey"])
        for i in range(4):  # same 100 keys re-upserted 4 times
            t.commit_delta(
                keys.withColumn("c_acctbal", F.lit(float(i))),
                ["c_custkey"], batch_id=f"d{i}",
            )
        raw = t.live_bytes()
        est = t.estimated_resolved_bytes()
        assert est is not None and est < raw / 2  # ~5x smaller
        # strategy flips with the threshold
        assert t.suggest_join_strategy(threshold_bytes=est + 1) == "broadcast"
        assert t.suggest_join_strategy(threshold_bytes=max(1, est // 2)) == "shuffle"

    def test_hinted_read_broadcasts_in_the_plan(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "dim"))
        t.commit_overwrite(cust.limit(50), batch_id="seed")
        dim = t.read_resolved_hinted(spark, threshold_bytes=1 << 30)
        fact = cust
        plan = fact.join(dim, "c_custkey")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # over-threshold: no hint — planner decides from its own stats
        dim2 = t.read_resolved_hinted(spark, threshold_bytes=1)
        assert t.suggest_join_strategy(threshold_bytes=1) == "shuffle"
        assert dim2 is not None


class TestClusteringSurvivesRename:
    """The per-file 'clustered' convergence tag stores PHYSICAL names:
    renaming a clustering column must not make converged files look
    pending (a spurious full re-cluster on a 100 TB table)."""

    def test_rename_keeps_convergence(self, spark, tmp_path, sf_dir):
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        t = ManifestTable(str(tmp_path / "clus"))
        t.commit_overwrite(cust, batch_id="seed")
        t.enable_column_mapping(batch_id="cm")
        t.optimize(
            spark, target_rows=50, batch_id="o1",
            cluster_by=["c_custkey", "c_acctbal"],
            stats_cols=["c_custkey", "c_acctbal"],
        )
        _v, n = t.evolve_clustering(
            spark, ["c_custkey", "c_acctbal"], target_rows=50,
            batch_id="e0",
        )
        assert n == 0  # converged under the original names
        t.rename_column("c_acctbal", "balance", batch_id="rn")
        v_before = t.version()
        _v, n = t.evolve_clustering(
            spark, ["c_custkey", "balance"], target_rows=50,
            batch_id="e1",
        )
        assert n == 0  # STILL converged: tags are physical
        assert t.version() == v_before  # no spurious commit
        # and pruning under the renamed name still works post-cluster
        kept, total = t.prune_plan("balance", lo=-1000.0, hi=0.0)
        assert len(kept) < total


class TestColumnMappingPrunedPaths:
    """The data-skipping tiers composed with column mapping: pruned
    copy-on-write MERGE and bloom point lookups must keep skipping
    through a rename (stats/bitsets are keyed by physical name)."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_pruned_merge_after_key_rename(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "pm"))
        t.commit_overwrite(
            cust.repartitionByRange(8, "c_custkey"),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        t.enable_column_mapping(batch_id="cm")
        t.rename_column("c_custkey", "cid", batch_id="rn")
        before = set(t._read_manifest()["files"])
        upd = cust.filter(F.col("c_custkey") <= 20).select(
            F.col("c_custkey").alias("cid"),
            (F.col("c_acctbal") + 5.0).alias("c_acctbal"),
        )
        t.commit_merge(
            spark, upd, ["cid"], batch_id="m1",
            prune_col="cid", stats_cols=["cid"],
        )
        after = t._read_manifest()["files"]
        carried = sum(1 for f in after if f in before)
        assert carried >= 6  # the narrow batch rewrote a sliver
        got = t.read(spark)
        assert got.columns == ["cid", "c_acctbal"]
        assert got.count() == cust.count()
        assert got.filter(F.col("cid") <= 20).agg(
            F.min("c_acctbal")
        ).first()[0] == cust.filter(F.col("c_custkey") <= 20).agg(
            F.min(F.col("c_acctbal") + 5.0)
        ).first()[0]
        # rewritten files recorded their stats under the PHYSICAL name
        # and pruning still works under the logical one
        kept, total = t.prune_plan("cid", lo=0, hi=20)
        assert len(kept) < total

    def test_bloom_point_lookup_after_rename(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "bl"))
        t.commit_overwrite(
            cust.repartitionByRange(8, "c_custkey"),
            batch_id="seed",
            stats_cols=["c_custkey"],
            bloom_cols=["c_custkey"],
        )
        t.enable_column_mapping(batch_id="cm")
        t.rename_column("c_custkey", "cid", batch_id="rn")
        key = cust.limit(1).first()[0]
        keep, total = t.prune_plan_eq("cid", key)
        assert total == 8 and len(keep) <= 2  # stats + bloom both live
        got = t.read_pruned_eq(spark, "cid", key)
        assert got.count() == 1
        # a delta committed under the new name keeps the bloom
        # property alive on its (physically named) files
        t.commit_delta(
            cust.limit(5).select(
                F.col("c_custkey").alias("cid"),
                F.lit(42.0).alias("c_acctbal"),
            ),
            ["cid"], batch_id="d1",
        )
        res = t.read_resolved(spark, prune=("cid", key, key))
        assert res.count() == 1


class TestCommitTimestamps:
    """r15 directive 3: every publish stamps a monotone commit
    timestamp; TIMESTAMP AS OF resolution on read/read_resolved/
    restore/changes; age-based vacuum retention."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    @staticmethod
    def _set_ct(table, version, ts):
        """Test-only: rewrite a stored commit's committed_at (record
        top level + the manifest inside it, and the pointer cache when
        it is the tip) to a controlled value."""
        vfile = os.path.join(table.root, f"_manifest.v{version}.json")
        with open(vfile) as fh:
            m = json.load(fh)
        m["committed_at"] = ts
        if isinstance(m.get("snapshot"), dict):
            m["snapshot"]["committed_at"] = ts
        if isinstance(m.get("actions"), dict):
            m["actions"].setdefault("set", {})["committed_at"] = ts
        with open(vfile, "w") as fh:
            json.dump(m, fh)
        with open(table._pointer) as fh:
            p = json.load(fh)
        if p["version"] == version:
            if p.get("hint"):
                p["record"] = m
            else:
                p = m
            with open(table._pointer, "w") as fh:
                json.dump(p, fh)

    def _seed3(self, spark, tmp_path, cust, name):
        """v1 overwrite, v2/v3 deltas (fresh keys — counts add); cts
        pinned to 1000/2000/3000.  Returns (table, [n@v1, n@v2, n@v3])."""
        t = ManifestTable(str(tmp_path / name))
        s1 = cust.filter(F.col("c_custkey") <= 50)
        s2 = cust.filter(F.col("c_custkey").between(51, 60))
        s3 = cust.filter(F.col("c_custkey").between(61, 70))
        t.commit_overwrite(s1, batch_id="seed")
        t.commit_delta(s2, ["c_custkey"], batch_id="d1")
        t.commit_delta(s3, ["c_custkey"], batch_id="d2")
        for v, ts in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
            self._set_ct(t, v, ts)
        n1 = s1.count()
        n2 = n1 + s2.count()
        return t, [n1, n2, n2 + s3.count()]

    def test_every_commit_is_stamped_monotone(self, spark, tmp_path, cust):
        t = ManifestTable(str(tmp_path / "stamp"))
        t.commit_overwrite(cust.limit(30), batch_id="s")
        t.commit_delta(cust.limit(5), ["c_custkey"], batch_id="d1")
        t.compact(spark, batch_id="c1")
        t.commit_overwrite(cust.limit(10), batch_id="o2")
        cts = [
            t._manifest_at(v)["committed_at"] for v in range(1, 5)
        ]
        assert all(isinstance(c, float) and c > 0 for c in cts)
        assert cts == sorted(cts)

    def test_stepped_back_clock_keeps_history_monotone(
        self, spark, tmp_path, cust, monkeypatch
    ):
        t = ManifestTable(str(tmp_path / "skew"))
        t.commit_overwrite(cust.limit(30), batch_id="s")
        ct1 = t._manifest_at(1)["committed_at"]
        # step the wall clock BACK for the next (metadata-only, no
        # Spark job) commit: the max(parent, now) rule must hold
        import time as _time

        real = _time.time
        monkeypatch.setattr(_time, "time", lambda: real() - 3600.0)
        t.evolve_schema("tier string", batch_id="e1")
        monkeypatch.setattr(_time, "time", real)
        ct2 = t._manifest_at(2)["committed_at"]
        assert ct2 >= ct1  # never travels back; ties allowed

    def test_version_at_timestamp_rule(self, spark, tmp_path, cust):
        t, _ = self._seed3(spark, tmp_path, cust, "asof")
        assert t.version_at_timestamp(1500.0) == 1
        assert t.version_at_timestamp(2000.0) == 2  # exact tie: that commit
        assert t.version_at_timestamp(2999.0) == 2
        assert t.version_at_timestamp(3000.0) == 3
        assert t.version_at_timestamp(10_000.0) == 3  # after tip: tip
        with pytest.raises(ValueError, match="predates"):
            t.version_at_timestamp(999.0)

    def test_read_and_resolved_as_of_timestamp(self, spark, tmp_path, cust):
        t, n = self._seed3(spark, tmp_path, cust, "rd")
        assert t.read(spark, timestamp=1500.0).count() == n[0]
        assert t.read_resolved(spark, timestamp=2500.0).count() == n[1]
        assert t.read_resolved(spark, timestamp=3000.0).count() == n[2]
        with pytest.raises(ValueError, match="not both"):
            t.read(spark, version=1, timestamp=1500.0)

    def test_changes_timestamp_bounds(self, spark, tmp_path, cust):
        t, _ = self._seed3(spark, tmp_path, cust, "ch")
        # startingTimestamp: commits stamped AT or AFTER ts
        f = t.changes(spark, since_timestamp=2000.0)
        assert set(
            r._commit_version for r in f.select("_commit_version")
            .distinct().collect()
        ) == {2, 3}
        f = t.changes(spark, since_timestamp=2500.0)
        assert set(
            r._commit_version for r in f.select("_commit_version")
            .distinct().collect()
        ) == {3}
        # endingTimestamp: range ends at latest commit <= ts
        f = t.changes(spark, since_version=1, until_timestamp=2500.0)
        assert set(
            r._commit_version for r in f.select("_commit_version")
            .distinct().collect()
        ) == {2}
        with pytest.raises(ValueError, match="since_version or"):
            t.changes(spark)

    def test_restore_to_timestamp(self, spark, tmp_path, cust):
        t, n = self._seed3(spark, tmp_path, cust, "rst")
        v = t.restore(timestamp=2500.0, batch_id="r1")
        assert v == 4
        assert t.read_resolved(spark).count() == n[1]  # v2 content
        with pytest.raises(ValueError, match="version or a timestamp"):
            t.restore()

    def test_vacuum_age_based_retention(self, spark, tmp_path, cust):
        import time as _time

        t, n = self._seed3(spark, tmp_path, cust, "vac")
        now = _time.time()
        self._set_ct(t, 1, now - 1000.0)
        self._set_ct(t, 2, now - 100.0)
        self._set_ct(t, 3, now - 10.0)
        t.vacuum(keep_versions=1, retain_seconds=500.0)
        # v1 aged out (beyond both retentions); v2 kept by AGE alone
        assert not os.path.exists(
            os.path.join(t.root, "_manifest.v1.json")
        )
        assert os.path.exists(os.path.join(t.root, "_manifest.v2.json"))
        assert t.read_resolved(spark, version=2).count() == n[1]
        assert t.read_resolved(spark).count() == n[2]


class TestTypeWidening:
    """r15 directive 4: safe type widening (int chain, float→double,
    decimal growth) as metadata-only evolution — old narrow files
    upcast at read, stats/blooms stay valid, everything else raises."""

    @pytest.fixture()
    def frame(self, spark):
        return spark.range(0, 400).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 0.5).cast("float").alias("v"),
            F.col("id").cast("decimal(10,2)").alias("d"),
        ).repartition(8, "k")

    def _seed(self, tmp_path, frame, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            frame, batch_id="seed", stats_cols=["k"], bloom_cols=["k"]
        )
        return t

    def test_widen_is_metadata_only_and_reads_upcast(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w1")
        files_before = t._read_manifest()["files"]
        v = t.evolve_schema("k bigint, v double, d decimal(14,4)",
                            batch_id="w")
        assert v == 2
        m = t._read_manifest()
        assert m["files"] == files_before  # zero data files rewritten
        got = t.read(spark)
        typ = dict(got.dtypes)
        assert typ["k"] == "bigint" and typ["v"] == "double"
        assert typ["d"] == "decimal(14,4)"
        assert got.count() == 400
        assert got.agg(F.sum("k")).first()[0] == sum(range(400))

    def test_widen_idempotent_narrowing_and_incompatible_raise(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w2")
        t.evolve_schema("k bigint", batch_id="w")
        v = t.evolve_schema("k bigint", batch_id="w2")  # re-declare: no-op
        assert dict(t.read(spark).dtypes)["k"] == "bigint"
        with pytest.raises(ValueError, match="widening-only"):
            t.evolve_schema("k int")  # narrowing
        with pytest.raises(ValueError, match="widening-only"):
            t.evolve_schema("v string")  # incompatible
        with pytest.raises(ValueError, match="widening-only"):
            t.evolve_schema("d decimal(10,4)")  # shrinks integer digits

    def test_stats_and_bloom_pruning_survive_widening(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w3")
        keep0, total0 = t.prune_plan_eq("k", 7)
        assert len(keep0) < total0
        t.evolve_schema("k bigint", batch_id="w")
        keep1, total1 = t.prune_plan_eq("k", 7)
        assert (keep1, total1) == (keep0, total0)  # byte-identical pruning
        got = t.read_pruned_eq(spark, "k", 7)
        assert got.count() == 1 and got.first()["k"] == 7

    def test_narrow_delta_after_widening_resolves_wide(
        self, spark, tmp_path, frame, spark_int_batch=None
    ):
        t = self._seed(tmp_path, frame, "w4")
        t.evolve_schema("k bigint", batch_id="w")
        narrow = frame.filter(F.col("k") < 10).withColumn(
            "v", F.lit(-1.5).cast("float")
        )
        assert dict(narrow.dtypes)["k"] == "int"
        t.commit_delta(narrow, ["k"], batch_id="d1")
        res = t.read_resolved(spark)
        assert dict(res.dtypes)["k"] == "bigint"
        assert res.count() == 400
        assert res.filter(F.col("v") == -1.5).count() == 10

    def test_wide_delta_auto_widens_tracked_schema(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w5")
        wide = frame.limit(5).withColumn("k", F.col("k").cast("bigint"))
        t.commit_delta(wide, ["k"], batch_id="d1")
        sch = {
            f["name"]: f["type"]
            for f in t._read_manifest()["schema"]["fields"]
        }
        assert sch["k"] == "long"
        assert dict(t.read_resolved(spark).dtypes)["k"] == "bigint"

    def test_feed_emits_widened_type_across_evolution(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w6")
        t.commit_delta(frame.limit(3), ["k"], batch_id="d1")  # narrow rows
        t.evolve_schema("k bigint", batch_id="w")
        t.commit_delta(
            frame.limit(2).withColumn("k", F.col("k").cast("bigint")),
            ["k"], batch_id="d2",
        )
        feed = t.changes(spark, 1)
        assert dict(feed.dtypes)["k"] == "bigint"
        assert feed.count() == 5  # pre-widening rows included, upcast

    def test_compact_after_widening_materializes_wide(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w7")
        t.commit_delta(frame.limit(3), ["k"], batch_id="d1")
        t.evolve_schema("k bigint", batch_id="w")
        t.compact(spark, batch_id="c1", stats_cols=["k"])
        base = t.read(spark)
        assert dict(base.dtypes)["k"] == "bigint"
        assert base.count() == 400
        # the rewritten parquet files physically store the wide type
        import pyarrow.parquet as pq

        m = t._read_manifest()
        f0 = pq.ParquetFile(
            os.path.join(t.data_dir, m["files"][0])
        ).schema_arrow
        assert str(f0.field("k").type) == "int64"

    def test_widening_on_mapped_table_keeps_id_and_physical(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "w8")
        t.enable_column_mapping(batch_id="cm")
        before = {
            f["name"]: f.get("metadata")
            for f in t._read_manifest()["schema"]["fields"]
        }
        t.rename_column("k", "key", batch_id="rn")
        t.evolve_schema("key bigint", batch_id="w")
        after = {
            f["name"]: f.get("metadata")
            for f in t._read_manifest()["schema"]["fields"]
        }
        assert after["key"] == before["k"]  # same id + physical name
        got = t.read(spark)
        assert dict(got.dtypes)["key"] == "bigint"
        assert got.count() == 400


class TestAdviceR14Fixes:
    """Regression tests for the three r14 ADVICE findings."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def test_delta_aborts_on_concurrent_drop_readd(
        self, spark, tmp_path, cust
    ):
        """ADVICE r14 (medium): a batch column concurrently dropped
        and re-added keeps its logical (name, type) but retires the
        physical name the in-flight fileset was written under — the
        rebase must abort, not silently null the column."""
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "readd")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        a.enable_column_mapping(batch_id="cm")

        def race():
            b.drop_column("c_acctbal", batch_id="dr")
            b.evolve_schema("c_acctbal double", batch_id="re")

        a._race_once = race
        batch = cust.limit(10).withColumn("c_acctbal", F.lit(7.25))
        with pytest.raises(CommitConflict, match="re-keyed|schema change"):
            a.commit_delta(batch, ["c_custkey"], batch_id="d1")
        # and the table's resolved content is untouched by the abort
        assert b.read_resolved(spark).filter(
            F.col("c_acctbal") == 7.25
        ).count() == 0

    def test_delta_still_rebases_over_unrelated_add_column(
        self, spark, tmp_path, cust
    ):
        """Positive control: a concurrent ADD COLUMN of a column the
        batch does not carry leaves every batch column's (id,
        physical) assignment intact — the rebase proceeds."""
        root = str(tmp_path / "addcol")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        a.enable_column_mapping(batch_id="cm")
        a._race_once = lambda: b.evolve_schema("extra string", batch_id="e")
        batch = cust.limit(10).withColumn("c_acctbal", F.lit(7.25))
        v = a.commit_delta(batch, ["c_custkey"], batch_id="d1")
        assert v == 4
        got = a.read_resolved(spark)
        assert got.filter(F.col("c_acctbal") == 7.25).count() == 10
        assert "extra" in got.columns

    def test_publish_scan_cost_is_bounded_by_vacuum(
        self, tmp_path, spark, cust
    ):
        """ADVICE r14 (low), resolved the documented-contract way: the
        per-commit directory scan stays — skipping it when the
        roll-forward chain reaches the slot's parent is UNSOUND (a
        slow writer's pointer refresh landing after a vacuum's heal
        regresses the pointer below the vacuum horizon, recreating
        exactly the r13 relink hazard; the r15 build shipped the skip,
        test_publish_guard_scans_disk_when_chain_is_broken caught it,
        and it was reverted).  What bounds the cost instead is
        VACUUM: the listing is O(retained manifests), so periodic
        retention keeps commit latency flat regardless of total
        commit count."""
        t = ManifestTable(str(tmp_path / "bounded"))
        t.commit_overwrite(cust.limit(20), batch_id="s")
        for i in range(12):
            t.evolve_schema(f"c{i} string", batch_id=f"e{i}")
        t.vacuum(keep_versions=2)
        on_disk = [
            f for f in os.listdir(t.root)
            if f.startswith("_manifest.v") and f.endswith(".json")
        ]
        assert len(on_disk) == 2  # the scan's cost after retention
        v = t.evolve_schema("late string", batch_id="late")
        assert v == 14  # and commits keep flowing over the gap


class TestConstraints:
    """r15 directive 5: CHECK / NOT NULL invariants stored in the
    manifest and enforced against every incoming batch at commit time
    — the Delta constraints design (the reference gets this from its
    Postgres target's column constraints, Pype.py:107)."""

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )

    def _seed(self, tmp_path, cust, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(cust.limit(100), batch_id="seed")
        return t

    def test_check_gates_every_content_path(self, spark, tmp_path, cust):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, cust, "chk")
        t.add_check_constraint(
            spark, "bal_floor", "c_acctbal >= -1000.0", batch_id="c1"
        )
        bad = cust.limit(5).withColumn("c_acctbal", F.lit(-9999.0))
        before = _canon(t.read_resolved(spark))
        with pytest.raises(ConstraintViolation, match="bal_floor"):
            t.commit_overwrite(bad, batch_id="ow")
        with pytest.raises(ConstraintViolation, match="bal_floor"):
            t.commit_merge(spark, bad, ["c_custkey"], batch_id="mg")
        with pytest.raises(ConstraintViolation, match="bal_floor"):
            t.commit_delta(bad, ["c_custkey"], batch_id="dl")
        # a rejected commit leaves the table byte-identical
        assert _canon(t.read_resolved(spark)) == before
        assert t.applied_batch_ids() == {"seed", "c1"}
        # a satisfying batch commits fine
        good = cust.limit(5).withColumn("c_acctbal", F.lit(10.0))
        t.commit_delta(good, ["c_custkey"], batch_id="ok")
        assert t.read_resolved(spark).filter(
            F.col("c_acctbal") == 10.0
        ).count() == 5

    def test_check_null_passes_sql_semantics(self, spark, tmp_path, cust):
        t = self._seed(tmp_path, cust, "nullok")
        t.add_check_constraint(spark, "pos", "c_acctbal >= -1000.0")
        nully = cust.limit(3).withColumn(
            "c_acctbal", F.lit(None).cast("double")
        )
        # CHECK evaluates UNKNOWN on NULL input -> passes (use NOT
        # NULL for nullability)
        t.commit_delta(nully, ["c_custkey"], batch_id="d1")
        assert t.read_resolved(spark).filter(
            F.col("c_acctbal").isNull()
        ).count() == 3

    def test_not_null_rejects_nulls_and_missing_column(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, cust, "nn")
        t.add_not_null(spark, ["c_acctbal"], batch_id="n1")
        nully = cust.limit(3).withColumn(
            "c_acctbal", F.lit(None).cast("double")
        )
        with pytest.raises(ConstraintViolation, match="NOT NULL"):
            t.commit_delta(nully, ["c_custkey"], batch_id="d1")
        with pytest.raises(ConstraintViolation, match="lacks NOT NULL"):
            t.commit_delta(
                cust.limit(3).select("c_custkey", "c_mktsegment"),
                ["c_custkey"], batch_id="d2",
            )
        # tombstone deletes are exempt (keys + marker only)
        t.commit_delta(
            None, ["c_custkey"],
            deletes=cust.limit(2).select("c_custkey"), batch_id="d3",
        )
        assert t.read_resolved(spark).count() == 98

    def test_add_constraint_scan_validates_existing_rows(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, cust, "scan")
        with pytest.raises(ConstraintViolation, match="impossible"):
            t.add_check_constraint(
                spark, "impossible", "c_acctbal > 1e18"
            )
        with pytest.raises(ConstraintViolation):
            t.add_not_null(spark, ["nope_col"])
        # nothing was committed by the failed adds
        assert t.version() == 1

    def test_idempotent_readd_conflict_and_drop(self, spark, tmp_path, cust):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, cust, "drop")
        v1 = t.add_check_constraint(spark, "floor", "c_acctbal >= -1e6")
        assert t.add_check_constraint(
            spark, "floor", "c_acctbal >= -1e6"
        ) == v1  # same expr: idempotent no-op
        with pytest.raises(ValueError, match="already exists"):
            t.add_check_constraint(spark, "floor", "c_acctbal >= 0")
        bad = cust.limit(2).withColumn("c_acctbal", F.lit(-1e9))
        with pytest.raises(ConstraintViolation):
            t.commit_delta(bad, ["c_custkey"], batch_id="d1")
        t.drop_constraint("floor", batch_id="dc")
        t.commit_delta(bad, ["c_custkey"], batch_id="d1")  # now fine
        with pytest.raises(ValueError, match="no constraint"):
            t.drop_constraint("floor")

    def test_rename_and_drop_guards(self, spark, tmp_path, cust):
        t = self._seed(tmp_path, cust, "guard")
        t.enable_column_mapping(batch_id="cm")
        t.add_check_constraint(spark, "floor", "c_acctbal >= -1e6")
        t.add_not_null(spark, ["c_mktsegment"], batch_id="n1")
        with pytest.raises(ValueError, match="referenced by CHECK"):
            t.rename_column("c_acctbal", "bal")
        with pytest.raises(ValueError, match="referenced by CHECK"):
            t.drop_column("c_acctbal")
        # NOT NULL follows a rename structurally
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t.rename_column("c_mktsegment", "segment", batch_id="rn")
        nully = (
            cust.limit(2)
            .withColumnRenamed("c_mktsegment", "segment")
            .withColumn("segment", F.lit(None).cast("string"))
        )
        with pytest.raises(ConstraintViolation, match="NOT NULL segment"):
            t.commit_delta(nully, ["c_custkey"], batch_id="d1")
        # and disappears with a drop of its column
        t.drop_column("segment", batch_id="dcX")
        assert t._constraints(t._read_manifest())["not_null"] == []

    def test_constraints_survive_overwrite_and_restore(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, cust, "carry")
        t.add_check_constraint(spark, "floor", "c_acctbal >= -1e6")
        t.commit_overwrite(cust.limit(50), batch_id="ow")  # v3
        bad = cust.limit(2).withColumn("c_acctbal", F.lit(-1e9))
        with pytest.raises(ConstraintViolation):
            t.commit_overwrite(bad, batch_id="bad")
        t.restore(version=1, batch_id="rs")  # pre-constraint content...
        # ...but constraint state travels with the restored MANIFEST
        # (v1 had none recorded -> gone after restore; Delta restores
        # table configuration the same way)
        assert t._constraints(t._read_manifest())["checks"] == {}

    def test_delta_aborts_on_concurrent_constraint_add(
        self, spark, tmp_path, cust
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "race")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(cust.limit(100), batch_id="seed")
        a._race_once = lambda: b.add_check_constraint(
            spark, "floor", "c_acctbal >= -1e18", batch_id="c1"
        )
        batch = cust.limit(5).withColumn("c_acctbal", F.lit(1.0))
        with pytest.raises(CommitConflict, match="constraint"):
            a.commit_delta(batch, ["c_custkey"], batch_id="d1")


class TestPredicateDML:
    """r15 directive 2: DELETE FROM .. WHERE / UPDATE .. SET .. WHERE
    as stats-pruned copy-on-write commits with typed CDC the change
    feed reads through (the reference runs these as post_query SQL on
    its target DB, Pype.py:167)."""

    @pytest.fixture()
    def frame(self, spark):
        # range-partitioned so per-file k envelopes are NARROW and the
        # metadata prune has something to prune
        return spark.range(0, 400).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ).repartitionByRange(8, "k")

    def _seed(self, tmp_path, frame, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            frame, batch_id="seed", stats_cols=["k"], bloom_cols=["k"]
        )
        return t

    def test_delete_where_prunes_and_matches_sql(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "dw")
        m0 = t._read_manifest()
        overlapping = [
            f for f in m0["files"] if t._overlaps(m0, f, "k", 100, 149)
        ]
        assert 0 < len(overlapping) < len(m0["files"])
        v = t.delete_where(
            spark, "k >= 100 AND k <= 149", batch_id="d1",
            stats_cols=["k"],
        )
        assert v == 2
        m1 = t._read_manifest()
        # every file OUTSIDE the predicate's envelope carried verbatim
        carried = set(m0["files"]) & set(m1["files"])
        assert carried == set(m0["files"]) - set(overlapping)
        # stats + filemeta carried verbatim for untouched files
        for f in carried:
            assert m1["stats"][f] == m0["stats"][f]
        got = t.read_resolved(spark)
        assert got.count() == 350
        assert got.filter(F.col("k").between(100, 149)).count() == 0
        # replay: detected, no-op
        assert t.delete_where(spark, "k >= 100 AND k <= 149",
                              batch_id="d1") == v

    def test_delete_where_null_and_false_rows_stay(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "nulls"))
        base = (
            spark.range(0, 10)
            .select(
                F.col("id").alias("k"),
                F.when(F.col("id") < 5, F.col("id") * 1.0).alias("v"),
            )
        )
        t.commit_overwrite(base, batch_id="s")
        t.delete_where(spark, "v >= 3.0", batch_id="d")
        got = t.read(spark)
        # v NULL rows (k 5..9) and v<3 rows stay; only 3.0/4.0 deleted
        assert got.count() == 8
        assert got.filter(F.col("v").isNull()).count() == 5

    def test_update_where_simultaneous_assignment_and_cast(
        self, spark, tmp_path
    ):
        t = ManifestTable(str(tmp_path / "swap"))
        t.commit_overwrite(
            spark.createDataFrame([(1, 10, 20), (2, 3, 4)],
                                  "k int, a int, b int"),
            batch_id="s",
        )
        t.update_where(spark, "k = 1", {"a": "b", "b": "a"}, batch_id="u")
        r = {x.k: (x.a, x.b) for x in t.read(spark).collect()}
        assert r[1] == (20, 10)  # OLD values on both right-hand sides
        assert r[2] == (3, 4)
        # assignment result is cast to the column's existing type
        t.update_where(spark, "k = 2", {"a": "a * 2.7"}, batch_id="u2")
        got = t.read(spark)
        assert dict(got.dtypes)["a"] == "int"
        assert {x.k: x.a for x in got.collect()}[2] == 8  # 8.1 cast int

    def test_feed_and_last_writer_wins_through_dml(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "feed")
        t.commit_delta(
            frame.filter(F.col("k") < 10).withColumn("v", F.lit(-1.0)),
            ["k"], batch_id="d1",
        )  # v2
        t.compact(spark, batch_id="c1", stats_cols=["k"])  # v3 reorg
        t.delete_where(spark, "k >= 390", batch_id="dw")  # v4
        t.update_where(
            spark, "k < 3", {"v": "v - 10.0"}, batch_id="uw"
        )  # v5
        feed = t.changes(spark, 1)
        by_type = {
            r._change_type: r.n
            for r in feed.groupBy("_change_type")
            .agg(F.count("*").alias("n")).collect()
        }
        assert by_type == {
            "upsert": 10, "delete": 10,
            "update_preimage": 3, "update_postimage": 3,
        }
        # DML delete CDC carries the FULL pre-image row
        dels = feed.filter(F.col("_change_type") == "delete")
        assert dels.filter(F.col("v").isNotNull()).count() == 10
        # resolved content agrees with applying the events in order
        got = t.read_resolved(spark)
        assert got.count() == 390
        assert got.filter(F.col("k") < 3).agg(
            F.min("v")).first()[0] == -11.0

    def test_refuses_outstanding_deltas_and_empty_ok(
        self, spark, tmp_path, frame
    ):
        t = ManifestTable(str(tmp_path / "mor"))
        assert t.delete_where(spark, "k < 5") == 0  # empty table: no-op
        t.commit_overwrite(frame, batch_id="s")
        t.commit_delta(frame.limit(3), ["k"], batch_id="d1")
        with pytest.raises(ValueError, match="compact"):
            t.delete_where(spark, "k < 5")
        with pytest.raises(ValueError, match="compact"):
            t.update_where(spark, "k < 5", {"v": "0.0"})

    def test_no_match_is_a_noop_commit_free(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "nomatch")
        assert t.delete_where(spark, "k = 123456", batch_id="x") == 1
        assert t.version() == 1  # nothing published

    def test_constraints_gate_update_postimage(self, spark, tmp_path, frame):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, frame, "cons")
        t.add_check_constraint(spark, "v_floor", "v >= 0.0")
        with pytest.raises(ConstraintViolation, match="v_floor"):
            t.update_where(spark, "k < 5", {"v": "v - 1e9"})
        # table untouched by the rejected DML
        assert t.version() == 2
        assert t.read(spark).filter(F.col("v") < 0).count() == 0

    def test_dml_on_mapped_table_after_rename(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "mapped")
        t.enable_column_mapping(batch_id="cm")
        t.rename_column("k", "key", batch_id="rn")
        m0 = t._read_manifest()
        v = t.delete_where(spark, "key < 50", batch_id="dw",
                           stats_cols=["key"])
        m1 = t._read_manifest()
        # physical-keyed stats still pruned: files outside [0,50)
        # envelope carried verbatim
        overlapping = [
            f for f in m0["files"] if t._overlaps(m0, f, "key", None, 50)
        ]
        assert set(m0["files"]) - set(overlapping) <= set(m1["files"])
        got = t.read_resolved(spark)
        assert got.count() == 350
        assert got.agg(F.min("key")).first()[0] == 50
        # the CDC fileset maps back to logical names in the feed
        feed = t.changes(spark, v - 1, until_version=v)
        assert "key" in feed.columns
        assert feed.count() == 50

    def test_occ_aborts_on_content_rebases_over_analyze(
        self, spark, tmp_path, frame
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "occ")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(frame, batch_id="s", stats_cols=["k"])
        a._race_once = lambda: b.commit_delta(
            frame.limit(2), ["k"], batch_id="d1"
        )
        with pytest.raises(CommitConflict):
            a.delete_where(spark, "k < 5", batch_id="dw")
        b.compact(spark, batch_id="c1", stats_cols=["k"])
        # a pure-metadata ANALYZE raced in: the DML rebases over it
        a._race_once = lambda: b.analyze(spark, ["k"], batch_id="an")
        v = a.delete_where(spark, "k < 5", batch_id="dw2")
        assert v == b.version()
        assert a.read_resolved(spark).count() == 395

    def test_vacuum_reaps_cdc_files_with_their_version(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "vac")
        t.delete_where(spark, "k < 10", batch_id="dw")  # v2 (dml)
        cdc = t._read_manifest()["cdc_files"]
        assert cdc and all(
            os.path.exists(os.path.join(t.data_dir, f)) for f in cdc
        )
        t.commit_overwrite(frame.limit(5), batch_id="ow")  # v3
        t.vacuum(keep_versions=1)
        assert not any(
            os.path.exists(os.path.join(t.data_dir, f)) for f in cdc
        )

    def test_ivm_maintainer_syncs_through_dml(self, spark, tmp_path, frame):
        from pypeline_spark.operators.ivm import FeedRollupMaintainer

        t = self._seed(tmp_path, frame, "ivm")
        mt = FeedRollupMaintainer(t, ["k"], "g", "v")
        mt.sync(spark)
        t.commit_delta(
            frame.filter(F.col("k") < 20).withColumn("v", F.lit(2.0)),
            ["k"], batch_id="d1",
        )
        t.compact(spark, batch_id="c1", stats_cols=["k"])
        t.delete_where(spark, "k >= 350", batch_id="dw")
        # move rows ACROSS groups: preimage marks the departed group
        t.update_where(spark, "k < 10", {"g": "6"}, batch_id="uw")
        rolled = mt.sync(spark)
        expect = (
            t.read_resolved(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.floor(F.col("v") * 100 + 0.5).cast("bigint"))
                .cast("bigint").alias("sum_cents"),
            )
        )
        assert _canon(rolled) == _canon(expect)
        assert mt.full_refreshes == 0  # everything came from the feed


class TestFeedAcrossRestore:
    """r15 directive 8: the change feed derives a RESTORE's row-level
    events lazily from the rolled-away range — deletes for keys the
    rollback removed, upserts re-asserting restored rows — so cursors
    survive operational rollbacks without re-seeding."""

    @pytest.fixture()
    def frame(self, spark):
        return spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ).repartition(4, "k")

    def _seed(self, tmp_path, frame, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            frame.filter(F.col("k") < 80), batch_id="seed",
            stats_cols=["k"],
        )
        return t

    def test_restore_events_exact(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "exact")
        # v2: update keys 0..9; v3: INSERT keys 80..89
        t.commit_delta(
            frame.filter(F.col("k") < 10).withColumn("v", F.lit(-1.0)),
            ["k"], batch_id="d1",
        )
        t.commit_delta(
            frame.filter(F.col("k") >= 80), ["k"], batch_id="d2",
        )
        t.restore(version=1, batch_id="undo")  # v4
        feed = t.changes(spark, 3)  # ONLY the restore's events
        ups = feed.filter(F.col("_change_type") == "upsert")
        dels = feed.filter(F.col("_change_type") == "delete")
        # keys 0..9 re-asserted at their restored values
        assert ups.count() == 10
        assert ups.agg(F.min("v"), F.max("k")).first() == (0.0, 9)
        # inserted keys 80..89 deleted by the rollback (tombstone shape)
        assert dels.count() == 20
        assert dels.agg(F.min("k")).first()[0] == 80
        assert dels.filter(F.col("v").isNull()).count() == 20
        assert feed.filter(F.col("_commit_version") != 4).count() == 0
        # a range SPANNING everything applies to the restored state
        whole = t.changes(spark, 1)
        assert whole.count() == 10 + 20 + 10 + 20
        # seed snapshot + feed events under last-writer-wins
        # reproduces the restored snapshot exactly
        from pyspark.sql import Window

        seeded = (
            t.read(spark, version=1)
            .withColumn("_commit_version", F.lit(1).cast("bigint"))
            .withColumn("_change_type", F.lit("upsert"))
            .unionByName(whole)
        )
        w = Window.partitionBy("k").orderBy(
            F.col("_commit_version").desc()
        )
        final = (
            seeded.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .filter(F.col("_change_type") != "delete")
            .select("k", "g", "v")
        )
        assert _canon(final) == _canon(t.read_resolved(spark))

    def test_restore_across_reorg_and_dml_derivable(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "mix")
        t.commit_delta(
            frame.filter(F.col("k") < 10).withColumn("v", F.lit(-1.0)),
            ["k"], batch_id="d1",
        )  # v2
        t.compact(spark, batch_id="c1", stats_cols=["k"])  # v3 reorg
        t.delete_where(spark, "k >= 70 AND k < 80", batch_id="dw")  # v4 dml
        t.restore(version=1, batch_id="undo")  # v5: across reorg + dml
        feed = t.changes(spark, 4)
        ups = feed.filter(F.col("_change_type") == "upsert")
        dels = feed.filter(F.col("_change_type") == "delete")
        # updated keys 0..9 re-asserted; DML-deleted keys 70..79
        # resurrected as upserts; nothing inserted got rolled away
        assert ups.count() == 20
        assert dels.count() == 0
        assert t.read_resolved(spark).count() == 80

    def test_restore_of_metadata_only_range_is_silent(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "meta")
        t.evolve_schema("tier string", batch_id="e1")  # v2 metadata
        t.restore(version=1, batch_id="undo")  # v3: nothing rolled away
        feed = t.changes(spark, 1)
        assert feed is not None and feed.count() == 0  # no row events

    def test_restore_across_rewrite_still_refuses(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "bad")
        t.commit_delta(frame.limit(3), ["k"], batch_id="d1")  # v2
        t.commit_overwrite(
            frame.filter(F.col("k") < 50), batch_id="ow"
        )  # v3: content rewrite (drops key recording too)
        t.commit_delta(frame.limit(4), ["k"], batch_id="d2")  # v4: keys back
        t.restore(version=1, batch_id="undo")  # v5: spans the rewrite
        with pytest.raises(ValueError, match="underivable rewrite"):
            t.changes(spark, 4)
        # keyless tables refuse too
        u = ManifestTable(str(tmp_path / "keyless"))
        u.commit_overwrite(frame.limit(10), batch_id="s")
        u.commit_overwrite(frame.limit(5), batch_id="s2")
        u.restore(version=1, batch_id="undo")
        with pytest.raises(ValueError, match="underivable|key columns"):
            u.changes(spark, 2)

    def test_maintainer_stays_incremental_across_restore(
        self, spark, tmp_path, frame
    ):
        from pypeline_spark.operators.ivm import FeedRollupMaintainer

        t = self._seed(tmp_path, frame, "ivm")
        m = FeedRollupMaintainer(t, ["k"], "g", "v")
        m.sync(spark)
        t.commit_delta(
            frame.filter(F.col("k") >= 80), ["k"], batch_id="d1"
        )
        m.sync(spark)
        t.restore(version=1, batch_id="undo")
        rolled = m.sync(spark)
        assert m.full_refreshes == 0  # restore rode the feed
        expect = (
            t.read_resolved(spark).groupBy("g").agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.floor(F.col("v") * 100 + 0.5).cast("bigint"))
                .cast("bigint").alias("sum_cents"),
            )
        )
        assert _canon(rolled) == _canon(expect)


class TestDeletionVectors:
    """delete_where(mode='dv'): the merge-on-read DELETE (Delta 3.x
    deletion vectors) — commits grow a (file, position) suppression
    set instead of rewriting base files; every reader anti-joins it
    away until compaction materializes it."""

    @pytest.fixture()
    def frame(self, spark):
        return spark.range(0, 400).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ).repartitionByRange(8, "k")

    def _seed(self, tmp_path, frame, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            frame, batch_id="seed", stats_cols=["k"], bloom_cols=["k"]
        )
        return t

    def test_dv_delete_rewrites_nothing_and_prunes(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "dv")
        m0 = t._read_manifest()
        overlapping = {
            f for f in m0["files"] if t._overlaps(m0, f, "k", 100, 149)
        }
        assert 0 < len(overlapping) < len(m0["files"])
        v = t.delete_where(
            spark, "k >= 100 AND k <= 149", batch_id="d1", mode="dv"
        )
        assert v == 2
        m1 = t._read_manifest()
        # ZERO base-file I/O: the file list is bit-identical, stats and
        # filemeta of every base file carried verbatim
        assert m1["files"] == m0["files"]
        for f in m0["files"]:
            assert m1["stats"][f] == m0["stats"][f]
        # the dv names only files the stats prune could not clear
        assert set(m1["dv"]["rows"]) <= overlapping
        assert sum(m1["dv"]["rows"].values()) == 50
        got = t.read(spark)
        assert got.count() == 350
        assert got.filter(F.col("k").between(100, 149)).count() == 0
        # replay: detected, no-op
        assert t.delete_where(spark, "k < 0", batch_id="d1",
                              mode="dv") == v

    def test_dv_deletes_stack_and_time_travel(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "stack")
        t.delete_where(spark, "k < 10", batch_id="a", mode="dv")
        t.delete_where(spark, "k >= 390", batch_id="b", mode="dv")
        # a row already suppressed cannot match again
        t.delete_where(spark, "k < 20", batch_id="c", mode="dv")
        m = t._read_manifest()
        assert sum(m["dv"]["rows"].values()) == 30
        assert t.read(spark).count() == 370
        # each version reads with ITS OWN dv
        assert t.read(spark, version=1).count() == 400
        assert t.read(spark, version=2).count() == 390
        assert t.read(spark, version=3).count() == 380
        # pruned + bloom point reads apply the dv too
        assert t.read_pruned(spark, "k", 0, 29).count() == 10
        assert t.read_pruned_eq(spark, "k", 5).count() == 0
        assert t.read_pruned_eq(spark, "k", 25).count() == 1

    def test_dv_sql_parity_with_duckdb(self, spark, tmp_path, frame):
        import duckdb

        t = self._seed(tmp_path, frame, "parity")
        t.delete_where(
            spark, "g = 3 AND v > 100.0", batch_id="d", mode="dv"
        )
        got = _canon(
            t.read(spark).groupBy("g").agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("k").cast("bigint").alias("sk"),
            )
        )
        con = duckdb.connect()
        exp = con.execute(
            """
            WITH base AS (
              SELECT range AS k, range % 7 AS g, range * 1.0 AS v
              FROM range(0, 400)
            ), after AS (
              SELECT * FROM base WHERE NOT (g = 3 AND v > 100.0)
            )
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(k) AS BIGINT) AS sk
            FROM after GROUP BY g ORDER BY g
            """
        ).fetchall()
        assert got == sorted(tuple(r) for r in exp)

    def test_dv_cdc_feeds_through(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "cdc")
        t.delete_where(spark, "k < 5", batch_id="d", mode="dv")
        ch = t.changes(spark, since_version=1)
        rows = ch.filter(F.col("_change_type") == "delete").select(
            "k", "g", "v"
        )
        # full pre-image rows, exactly the deleted ones
        assert _canon(rows) == _canon(
            t.read(spark, version=1).filter(F.col("k") < 5)
        )

    def test_partial_cow_keeps_carried_dv(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "cow")
        t.delete_where(spark, "k = 5", batch_id="dv1", mode="dv")
        t.delete_where(spark, "k = 395", batch_id="dv2", mode="dv")
        # CoW delete touches only the low-k file; the high-k file's dv
        # must survive the commit
        t.delete_where(spark, "k = 6", batch_id="cow", stats_cols=["k"])
        m = t._read_manifest()
        assert m.get("dv"), "carried file's dv dropped by partial CoW"
        got = t.read(spark)
        assert got.count() == 397
        for k in (5, 6, 395):
            assert got.filter(F.col("k") == k).count() == 0

    def test_delta_append_and_resolution_over_dv(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "mor")
        t.delete_where(spark, "k = 50", batch_id="dv", mode="dv")
        up = spark.createDataFrame(
            [(50, 1, 9.9), (1000, 2, 1.0)], "k long, g long, v double"
        )
        t.commit_delta(up, key_columns=["k"], batch_id="d1")
        res = t.read_resolved(spark)
        # the upsert resurrects k=50 (its base row is dv-suppressed,
        # the delta row wins) and inserts k=1000
        assert res.count() == 401
        assert res.filter("k = 50").select("v").collect()[0][0] == 9.9
        # dv deletes over outstanding deltas delegate to the keyed dv
        # merge (r18): every image of the matched key is suppressed,
        # the deltas carry through, nothing rewrites
        base = list(t._read_manifest()["files"])
        t.delete_where(spark, "k = 1", batch_id="x", mode="dv")
        m = t._read_manifest()
        assert m["files"][: len(base)] == base
        assert m.get("deltas")
        res2 = t.read_resolved(spark)
        assert res2.count() == 400
        assert res2.filter("k = 1").count() == 0
        # cow DML still refuses outstanding deltas (it rewrites base)
        with pytest.raises(ValueError, match="compact"):
            t.delete_where(spark, "k = 2", batch_id="x2", mode="cow")

    def test_dv_update_over_deltas_refuses_key_assignment(
        self, spark, tmp_path, frame
    ):
        """r19 ADVICE (medium): the over-deltas UPDATE delegates to a
        keyed dv MERGE matching ON key_columns — a post-image carrying
        a NEW key matches nothing (update silently lost) or clobbers a
        DIFFERENT row.  Key-changing updates must stay a loud refusal
        while deltas are outstanding; non-key assignments still work."""
        t = self._seed(tmp_path, frame, "keyup")
        t.commit_delta(
            spark.createDataFrame([(1, 1, 5.0)], "k long, g long, v double"),
            key_columns=["k"], batch_id="d1",
        )
        with pytest.raises(ValueError, match="key column"):
            t.update_where(
                spark, "k = 2", {"k": "k + 100"}, batch_id="u1", mode="dv"
            )
        # the non-key update on the same state lands and resolves
        t.update_where(
            spark, "k = 2", {"v": "v + 1000"}, batch_id="u2", mode="dv"
        )
        got = t.read_resolved(spark).filter("k = 2").select("v").collect()
        assert len(got) == 1 and got[0][0] > 1000

    def test_compact_and_optimize_materialize_dv(
        self, spark, tmp_path, frame
    ):
        t = self._seed(tmp_path, frame, "mat")
        t.delete_where(spark, "k < 100", batch_id="d", mode="dv")
        before = _canon(t.read(spark))
        t.compact(spark, batch_id="c", stats_cols=["k"])
        m = t._read_manifest()
        assert not m.get("dv") and not m.get("deltas")
        assert _canon(t.read(spark)) == before
        # feed reads THROUGH the compaction (reorg on logical content)
        ch = t.changes(spark, since_version=1)
        assert ch.filter("_change_type = 'delete'").count() == 100

        t2 = self._seed(tmp_path, frame, "opt")
        t2.delete_where(spark, "k < 200", batch_id="d", mode="dv")
        t2.optimize(spark, target_rows=100, batch_id="o", stats_cols=["k"])
        m2 = t2._read_manifest()
        assert not m2.get("dv")
        # sizing used LIVE rows (200), not footer rows (400)
        assert len(m2["files"]) == 2
        assert t2.read(spark).count() == 200

    def test_restore_carries_dv(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "rst")
        t.delete_where(spark, "k < 50", batch_id="d", mode="dv")  # v2
        t.compact(spark, batch_id="c")  # v3: dv gone
        t.restore(version=2, batch_id="undo")
        m = t._read_manifest()
        assert m.get("dv"), "restored version's dv must ride"
        assert t.read(spark).count() == 350

    def test_vacuum_retains_live_dv_files(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "vac")
        t.delete_where(spark, "k < 50", batch_id="d", mode="dv")
        dv_files = t._read_manifest()["dv"]["files"]
        t.evolve_schema("note string", batch_id="e")  # v3
        t.vacuum(keep_versions=1)
        for f in dv_files:
            assert os.path.exists(os.path.join(t.data_dir, f)), (
                "dv file of the retained tip removed by vacuum"
            )
        assert t.read(spark).count() == 350

    def test_dv_under_column_mapping_rename(self, spark, tmp_path, frame):
        t = self._seed(tmp_path, frame, "map")
        t.enable_column_mapping(batch_id="cm")
        t.rename_column("v", "val", batch_id="rn")
        t.delete_where(spark, "val >= 390.0", batch_id="d", mode="dv")
        got = t.read(spark)
        assert got.count() == 390
        assert "val" in got.columns
        # feed emits logical names with full pre-images
        ch = t.changes(spark, since_version=3)
        assert ch.filter("_change_type = 'delete'").count() == 10
        assert "val" in ch.columns

    def test_dv_delete_classifies_as_dml_not_metadata(
        self, spark, tmp_path, frame
    ):
        """A dv delete leaves both file lists untouched — the one
        commit shape that LOOKS like metadata but is a content change.
        The conflict matrix must see 'dml': a blind append may rebase
        over it (it serializes after, rank-resolution is unaffected),
        but ANALYZE must abort (its profile describes content the
        delete just changed)."""
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "occ")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(frame, batch_id="seed", stats_cols=["k"])
        a._race_once = lambda: b.delete_where(
            spark, "k < 10", batch_id="race", mode="dv"
        )
        up = spark.createDataFrame([(5, 0, 1.0)], "k long, g long, v double")
        a.commit_delta(up, ["k"], batch_id="d1")  # rebases, serializes after
        m = a._read_manifest()
        assert ManifestTable._commit_kind(
            a._manifest_at(1), a._manifest_at(2)
        ) == "dml"
        assert m.get("dv"), "rebase must carry the concurrent dv"
        res = a.read_resolved(spark)
        # dv suppressed k<10; the append's k=5 wins by rank (resurrect)
        assert res.count() == 391
        assert res.filter("k = 5").select("v").collect()[0][0] == 1.0
        # ANALYZE racing a dv delete must abort, not publish a profile
        # of pre-delete content
        a2, b2 = ManifestTable(str(tmp_path / "occ2")), None
        a2.commit_overwrite(frame, batch_id="seed", stats_cols=["k"])
        b2 = ManifestTable(str(tmp_path / "occ2"))
        a2._race_once = lambda: b2.delete_where(
            spark, "k < 10", batch_id="race", mode="dv"
        )
        with pytest.raises(CommitConflict, match="dml"):
            a2.analyze(spark, ["k"], batch_id="an")

    def test_dml_aborts_on_concurrent_constraint_add(
        self, spark, tmp_path, frame
    ):
        """Regression (r15): the DML rebase guard must also compare
        CONSTRAINT sets — a CHECK added concurrently was never proven
        against the rewritten post-images."""
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "cc")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(frame, batch_id="seed", stats_cols=["k"])
        a._race_once = lambda: b.add_check_constraint(
            spark, "v_low", "v < 1000.0", batch_id="race"
        )
        with pytest.raises(CommitConflict, match="constraint"):
            a.update_where(
                spark, "k = 1", {"v": "v + 10000.0"}, batch_id="u1"
            )


class TestMergeInto:
    """Conditional MERGE INTO: WHEN MATCHED [AND cond] UPDATE/DELETE,
    WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/DELETE
    — the full SQL/Delta merge surface over the pruned-CoW + typed-CDC
    commit protocol (the reference's users run this as post_query SQL,
    Pype.py:167)."""

    @pytest.fixture()
    def target(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k long, name string, qty long",
        )

    def _seed(self, tmp_path, target, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            target.repartition(2), batch_id="seed", stats_cols=["k"]
        )
        return t

    def test_mixed_clauses_and_cdc(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "mix")
        src = spark.createDataFrame(
            [(2, "B", 0), (3, "C", 99), (5, "e", 50)],
            "k long, name string, qty long",
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("delete", "s.qty = 0", None),
                ("update", None, {"name": "s.name", "qty": "s.qty + t.qty"}),
                ("insert", None, "*"),
            ],
            batch_id="m1", stats_cols=["k"], prune_col="k",
        )
        assert _canon(t.read(spark)) == sorted(
            [(1, "a", 10), (3, "C", 129), (4, "d", 40), (5, "e", 50)]
        )
        ch = t.changes(spark, since_version=1)
        by_type = {
            r["_change_type"]: (r["k"], r["name"], r["qty"])
            for r in ch.collect()
        }
        assert by_type["delete"] == (2, "b", 20)
        assert by_type["update_preimage"] == (3, "c", 30)
        assert by_type["update_postimage"] == (3, "C", 129)
        assert by_type["insert"] == (5, "e", 50)
        # replay is a no-op
        v = t._read_manifest()["version"]
        assert t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("insert", None, "*")], batch_id="m1",
        ) == v

    def test_clause_order_first_wins(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "order")
        src = spark.createDataFrame(
            [(2, "x", 7)], "k long, name string, qty long"
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("update", "t.qty >= 20", {"qty": "0"}),
                ("update", None, {"qty": "999"}),  # shadowed for k=2
            ],
            batch_id="m",
        )
        assert _canon(t.read(spark).filter("k = 2").select("qty")) == [(0,)]

    def test_null_condition_is_not_matched(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "nullc")
        src = spark.createDataFrame(
            [(2, None, None)], "k long, name string, qty long"
        )
        # s.qty IS NULL => condition NULL => clause does NOT apply (SQL)
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("delete", "s.qty > 0", None)],
            batch_id="m",
        )
        assert t.read(spark).count() == 4

    def test_pruned_merge_rewrites_only_matched_files(
        self, spark, tmp_path
    ):
        t = ManifestTable(str(tmp_path / "prune"))
        base = spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("qty")
        ).repartitionByRange(8, "k")
        t.commit_overwrite(base, batch_id="seed", stats_cols=["k"])
        m0 = t._read_manifest()
        src = spark.createDataFrame([(7, 1), (9, 2)], "k long, qty long")
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("update", None, {"qty": "s.qty"})],
            batch_id="m", stats_cols=["k"], prune_col="k",
        )
        m1 = t._read_manifest()
        carried = set(m0["files"]) & set(m1["files"])
        # both keys live in one range file: everything else carried
        assert len(m0["files"]) - len(carried) == 1
        for f in carried:
            assert m1["stats"][f] == m0["stats"][f]
        got = t.read(spark)
        assert got.count() == 400
        assert _canon(got.filter("k in (7, 9)").select("qty")) == [(1,), (2,)]

    def test_by_source_clauses(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "bysrc")
        src = spark.createDataFrame(
            [(3, "x", 1)], "k long, name string, qty long"
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("update", None, {"qty": "t.qty + s.qty"}),
                ("delete_by_source", "t.qty < 20", None),
                ("update_by_source", None, {"name": "concat(t.name, '!')"}),
            ],
            batch_id="m",
        )
        assert _canon(t.read(spark)) == sorted(
            [(2, "b!", 20), (3, "c", 31), (4, "d!", 40)]
        )

    def test_ambiguous_source_raises(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "amb")
        dup = spark.createDataFrame(
            [(3, "p", 1), (3, "q", 2)], "k long, name string, qty long"
        )
        with pytest.raises(ValueError, match="multiple source rows"):
            t.merge_into(
                spark, dup, key_columns=["k"],
                clauses=[("update", None, "*")], batch_id="m",
            )
        # insert-only merges tolerate source duplicates (SQL inserts both)
        dup2 = spark.createDataFrame(
            [(9, "p", 1), (9, "q", 2)], "k long, name string, qty long"
        )
        t.merge_into(
            spark, dup2, key_columns=["k"],
            clauses=[("insert", None, "*")], batch_id="m2",
        )
        assert t.read(spark).filter("k = 9").count() == 2

    def test_duplicate_unmatched_source_keys_pass_guard(
        self, spark, tmp_path, target
    ):
        # duplicated source keys that match NO target row are legal
        # (the SQL rule only bans multiple matches of the same target
        # row) — pins phase 2 of the two-phase guard: the source-only
        # duplicate probe alone must not raise
        t = self._seed(tmp_path, target, "ambnm")
        dup = spark.createDataFrame(
            [(77, "p", 1), (77, "q", 2), (3, "r", 5)],
            "k long, name string, qty long",
        )
        t.merge_into(
            spark, dup, key_columns=["k"],
            clauses=[
                ("update", None, {"qty": "s.qty"}),
                ("insert", None, "*"),
            ],
            batch_id="mnm",
        )
        got = t.read(spark)
        assert got.filter("k = 77").count() == 2  # both inserted
        assert _canon(got.filter("k = 3").select("qty")) == [(5,)]

    def test_insert_dict_null_fills_and_casts(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "ins")
        src = spark.createDataFrame([(8,)], "k long")
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("insert", None, {"k": "s.k", "qty": "'77'"})],
            batch_id="m",
        )
        got = t.read(spark).filter("k = 8").collect()[0]
        assert got["qty"] == 77 and got["name"] is None
        # the string RHS was cast to the tracked long type
        assert dict(t.read(spark).dtypes)["qty"] == "bigint"

    def test_constraint_gate_on_merge(self, spark, tmp_path, target):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = self._seed(tmp_path, target, "cons")
        t.add_check_constraint(spark, "qty_pos", "qty >= 0", batch_id="c")
        src = spark.createDataFrame(
            [(3, "c", -5)], "k long, name string, qty long"
        )
        before = _canon(t.read(spark))
        with pytest.raises(ConstraintViolation, match="qty_pos"):
            t.merge_into(
                spark, src, key_columns=["k"],
                clauses=[("update", None, "*")], batch_id="bad",
            )
        assert _canon(t.read(spark)) == before

    def test_merge_on_column_mapped_table(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "map")
        t.enable_column_mapping(batch_id="cm")
        t.rename_column("qty", "amount", batch_id="rn")
        src = spark.createDataFrame(
            [(1, "A", 11), (6, "f", 60)], "k long, name string, amount long"
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("update", None, "*"), ("insert", None, "*")],
            batch_id="m",
        )
        got = t.read(spark)
        assert "amount" in got.columns
        assert _canon(got.filter("k in (1, 6)")) == sorted(
            [(1, "A", 11), (6, "f", 60)]
        )

    def test_empty_table_bootstrap_and_noop(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "boot"))
        src = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, name string"
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("insert", None, "*")], batch_id="b",
        )
        assert t.read(spark).count() == 2
        # nothing matched, nothing inserted => no commit at all
        v = t._read_manifest()["version"]
        assert t.merge_into(
            spark, src.limit(0), key_columns=["k"],
            clauses=[("insert", None, "*")],
        ) == v

    def test_validation_errors(self, spark, tmp_path, target):
        t = self._seed(tmp_path, target, "val")
        src = spark.createDataFrame([(1, "a", 1)],
                                    "k long, name string, qty long")
        with pytest.raises(ValueError, match="unknown kind"):
            t.merge_into(spark, src, key_columns=["k"],
                         clauses=[("upsert", None, "*")])
        with pytest.raises(ValueError, match="no such target column"):
            t.merge_into(spark, src, key_columns=["k"],
                         clauses=[("update", None, {"nope": "1"})])
        with pytest.raises(ValueError, match="must be a key column"):
            t.merge_into(spark, src, key_columns=["k"],
                         clauses=[("update", None, "*")],
                         prune_col="qty")
        with pytest.raises(ValueError, match="at least one clause"):
            t.merge_into(spark, src, key_columns=["k"], clauses=[])
        with pytest.raises(ValueError, match="takes no payload"):
            t.merge_into(spark, src, key_columns=["k"],
                         clauses=[("delete", None, {"k": "1"})])

    def test_merge_aborts_on_concurrent_constraint_add(
        self, spark, tmp_path, target
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        root = str(tmp_path / "occ")
        a, b = ManifestTable(root), ManifestTable(root)
        a.commit_overwrite(target, batch_id="seed")
        a._race_once = lambda: b.add_not_null(
            spark, ["name"], batch_id="race"
        )
        src = spark.createDataFrame(
            [(1, "A", 11)], "k long, name string, qty long"
        )
        with pytest.raises(CommitConflict, match="constraint"):
            a.merge_into(
                spark, src, key_columns=["k"],
                clauses=[("update", None, "*")], batch_id="m",
            )


class TestDeletionVectorUpdate:
    """update_where(mode='dv'): the Delta deletion-vector UPDATE —
    matched rows' old positions join the suppression set and ONLY the
    post-image rows land as new base files; untouched rows of touched
    files are never copied."""

    @pytest.fixture()
    def seeded(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "dvu"))
        df = spark.range(0, 400).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ).repartitionByRange(8, "k")
        t.commit_overwrite(
            df, batch_id="seed", stats_cols=["k"], bloom_cols=["k"]
        )
        return t

    def test_update_appends_postimages_only(self, spark, tmp_path, seeded):
        t = seeded
        m0 = t._read_manifest()
        t.update_where(
            spark, "k % 40 = 0", {"v": "v + 1000.0"},
            batch_id="u", mode="dv", stats_cols=["k"],
        )
        m1 = t._read_manifest()
        # every old base file survives verbatim; post-images appended
        assert set(m0["files"]) <= set(m1["files"])
        assert len(m1["files"]) > len(m0["files"])
        for f in m0["files"]:
            assert m1["stats"][f] == m0["stats"][f]
        assert sum(m1["dv"]["rows"].values()) == 10
        got = t.read(spark)
        assert got.count() == 400
        assert got.filter("v >= 1000.0").count() == 10
        assert got.filter("k = 80").select("v").first()[0] == 1080.0
        # simultaneous assignment + CDC pairs through the feed
        ch = t.changes(spark, 1)
        assert ch.filter("_change_type = 'update_preimage'").count() == 10
        assert ch.filter("_change_type = 'update_postimage'").count() == 10
        # time travel unaffected; compaction materializes
        assert t.read(spark, version=1).filter("v >= 1000.0").count() == 0
        t.compact(spark, batch_id="c", stats_cols=["k"])
        assert not t._read_manifest().get("dv")
        assert t.read(spark).filter("k = 80").select("v").first()[0] == 1080.0

    def test_update_constraint_gate_and_sql_rules(
        self, spark, tmp_path, seeded
    ):
        from pypeline_spark.sinks.manifest import ConstraintViolation

        t = seeded
        t.add_check_constraint(spark, "v_cap", "v < 2000.0", batch_id="cc")
        with pytest.raises(ConstraintViolation, match="v_cap"):
            t.update_where(
                spark, "k < 5", {"v": "v + 99999.0"},
                batch_id="bad", mode="dv",
            )
        assert t.read(spark).filter("v > 2000.0").count() == 0
        # NULL predicate rows are not matched (SQL rule), like CoW
        t2 = ManifestTable(str(tmp_path / "nulls"))
        base = spark.range(0, 10).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 5, F.col("id") * 1.0).alias("v"),
        )
        t2.commit_overwrite(base, batch_id="s")
        t2.update_where(
            spark, "v >= 3.0", {"v": "0.0"}, batch_id="u", mode="dv"
        )
        got = t2.read(spark)
        assert got.count() == 10
        # 3.0 and 4.0 zeroed; k=0 was 0.0 already; NULL v rows untouched
        assert got.filter("v = 0.0").count() == 3
        assert got.filter("v IS NULL").count() == 5
        assert got.filter("v IN (1.0, 2.0)").count() == 2

    def test_dv_update_then_dv_delete_stacks(self, spark, tmp_path, seeded):
        t = seeded
        t.update_where(
            spark, "k = 100", {"v": "v + 1000.0"},
            batch_id="u", mode="dv", stats_cols=["k"],
        )
        # the delete matches the POST-image row (in a new base file)
        t.delete_where(spark, "v = 1100.0", batch_id="d", mode="dv")
        got = t.read(spark)
        assert got.count() == 399
        assert got.filter("k = 100").count() == 0


class TestDvHistoryModelProperty:
    """Model check for deletion-vector histories: random interleavings
    of dv deletes, dv updates, CoW deletes, compaction, OPTIMIZE and
    RESTORE must keep every version's readable content equal to a
    pure-Python model of the same operations — including time travel
    back into dv'd versions and vacuum retention of dv files."""

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(plan=st.lists(st.integers(0, 5), min_size=3, max_size=7))
    def test_dv_histories_match_model(self, spark, tmp_path, plan):
        import uuid as _uuid

        N = 200
        base = spark.range(0, N).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ).repartitionByRange(4, "k")
        t = ManifestTable(str(tmp_path / f"dvprop-{_uuid.uuid4().hex}"))
        t.commit_overwrite(base, batch_id="seed", stats_cols=["k"])
        model = {k: (k % 7, float(k)) for k in range(N)}
        snaps = {t.version(): dict(model)}
        for i, op in enumerate(plan):
            if op == 0:  # dv delete
                r = i % 5
                t.delete_where(
                    spark, f"k % 5 = {r}", batch_id=f"dd{i}", mode="dv"
                )
                model = {
                    k: gv for k, gv in model.items() if k % 5 != r
                }
            elif op == 1:  # dv update (simultaneous assignment)
                r = i % 7
                t.update_where(
                    spark, f"g = {r}", {"v": "v + 100.0"},
                    batch_id=f"du{i}", mode="dv", stats_cols=["k"],
                )
                model = {
                    k: (g, v + 100.0 if g == r else v)
                    for k, (g, v) in model.items()
                }
            elif op == 2:  # CoW delete over a k range
                lo = (i * 37) % 150
                t.delete_where(
                    spark, f"k >= {lo} AND k < {lo + 20}",
                    batch_id=f"cd{i}", stats_cols=["k"],
                )
                model = {
                    k: gv for k, gv in model.items()
                    if not (lo <= k < lo + 20)
                }
            elif op == 3:
                t.compact(spark, batch_id=f"c{i}", stats_cols=["k"])
            elif op == 4:
                t.optimize(
                    spark, target_rows=120, batch_id=f"o{i}",
                    stats_cols=["k"],
                )
            else:  # restore to a random recorded version
                vs = sorted(snaps)
                target = vs[i % len(vs)]
                t.restore(version=target, batch_id=f"r{i}")
                model = dict(snaps[target])
            snaps[t.version()] = dict(model)

        def canon(df):
            return {
                (r["k"], r["g"], round(r["v"], 6)) for r in df.collect()
            }

        def mcanon(mm):
            return {(k, g, round(v, 6)) for k, (g, v) in mm.items()}

        got = t.read(spark)
        assert (got is None and not model) or canon(got) == mcanon(model)
        # TIME TRAVEL: every recorded version reads with ITS OWN dv
        for w, snap in snaps.items():
            df = t.read(spark, version=w)
            assert (df is None and not snap) or canon(df) == mcanon(snap)
        # vacuum retains the tip's dv files; the tip still reads right
        t.vacuum(keep_versions=1)
        got = t.read(spark)
        assert (got is None and not model) or canon(got) == mcanon(model)


class TestHistory:
    """DESCRIBE HISTORY: one metadata row per retained version with
    the structural commit kind, the ledger batch id, and size facts."""

    def test_history_rows_and_kinds(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "hist"))
        t.commit_overwrite(customers.limit(50), batch_id="seed")  # v1
        t.commit_delta(
            customers.limit(5), ["c_custkey"], batch_id="d1"
        )  # v2
        t.evolve_schema("tier string", batch_id="e1")  # v3
        t.compact(spark, batch_id="c1")  # v4
        t.delete_where(
            spark, "c_custkey < 3", batch_id="dv1", mode="dv"
        )  # v5
        t.restore(version=4, batch_id="undo")  # v6
        h = {r["version"]: r for r in t.history(spark).collect()}
        assert [h[v]["kind"] for v in range(1, 7)] == [
            "overwrite", "delta", "metadata", "reorg", "dml", "restore",
        ]
        assert [h[v]["batch_id"] for v in range(1, 7)] == [
            "seed", "d1", "e1", "c1", "dv1", "undo",
        ]
        assert h[5]["dv_rows"] == 3 and h[6]["dv_rows"] == 0
        assert h[2]["n_delta_filesets"] == 1
        # timestamps are monotone (the publish contract)
        ts = [h[v]["committed_at"] for v in range(1, 7)]
        assert ts == sorted(ts)
        # vacuumed versions drop out; the parent-less survivor KEEPS
        # its kind — commit records stamp it at publish, so history
        # no longer degrades to 'unknown' when the parent is vacuumed
        # (the pre-r16 full-snapshot protocol had to diff neighbors)
        t.vacuum(keep_versions=2)
        h2 = {r["version"]: r for r in t.history(spark).collect()}
        assert sorted(h2) == [5, 6]
        assert h2[5]["kind"] == "dml"
        assert h2[6]["kind"] == "restore"


class TestReorgPurge:
    """REORG TABLE .. APPLY (PURGE): materialize deletion vectors by
    rewriting ONLY dv'd files (optionally only the dv-dense ones);
    clean files carry verbatim and the feed reads through."""

    def test_purge_rewrites_only_dvd_files(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "purge"))
        df = spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartitionByRange(8, "k")
        t.commit_overwrite(df, batch_id="s", stats_cols=["k"])
        m0 = t._read_manifest()
        t.delete_where(spark, "k < 100", batch_id="d", mode="dv")
        dvd = set(t._read_manifest()["dv"]["rows"])
        before = _canon(t.read(spark))
        v = t.reorg_purge(spark, batch_id="p", stats_cols=["k"])
        m1 = t._read_manifest()
        assert v == 3
        assert not m1.get("dv"), "purge materializes the whole dv"
        # only dv'd files rewrote; every clean file carried verbatim
        carried = set(m0["files"]) & set(m1["files"])
        assert carried == set(m0["files"]) - dvd
        for f in carried:
            assert m1["stats"][f] == m0["stats"][f]
        assert _canon(t.read(spark)) == before
        # reorg commit: the feed reads THROUGH it
        ch = t.changes(spark, 1)
        assert ch.filter("_change_type = 'delete'").count() == 100
        # idempotent + no-op without dv
        assert t.reorg_purge(spark, batch_id="p") == v
        assert t.reorg_purge(spark, batch_id="p2") == v

    def test_purge_threshold_keeps_sparse_files(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "thresh"))
        df = spark.range(0, 400).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartitionByRange(8, "k")
        t.commit_overwrite(df, batch_id="s", stats_cols=["k"])
        # dense dv on the low file (all 50 rows), sparse everywhere else
        t.delete_where(spark, "k < 50", batch_id="d1", mode="dv")
        t.delete_where(spark, "k % 50 = 7", batch_id="d2", mode="dv")
        before = _canon(t.read(spark))
        t.reorg_purge(
            spark, batch_id="p", min_dv_fraction=0.5, stats_cols=["k"]
        )
        m = t._read_manifest()
        # the dense file is gone from the dv map; sparse entries stay
        assert m.get("dv"), "sparse dv entries must survive the purge"
        for f, n in m["dv"]["rows"].items():
            assert n / m["filemeta"][f]["rows"] <= 0.5, (
                "a dv-dense file survived the thresholded purge"
            )
        assert _canon(t.read(spark)) == before
        # a full purge then clears the rest
        t.reorg_purge(spark, batch_id="p2", stats_cols=["k"])
        assert not t._read_manifest().get("dv")
        assert _canon(t.read(spark)) == before


class TestShallowClone:
    """clone_to: a new independent table referencing the source's data
    files at a pinned version with zero data copies; rewrites localize,
    vacuum/GC on the clone never touch source files."""

    def test_clone_reads_writes_and_isolates(
        self, spark, tmp_path, customers
    ):
        src = ManifestTable(str(tmp_path / "src"))
        src.commit_overwrite(
            customers.limit(100).repartition(4),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        src.delete_where(
            spark, "c_custkey < 5", batch_id="dv", mode="dv"
        )  # clone must carry the dv
        pinned = _canon(src.read(spark))
        clone = src.clone_to(str(tmp_path / "dst"), batch_id="c0")
        # zero data copied
        assert os.listdir(clone.data_dir) == []
        assert _canon(clone.read(spark)) == pinned
        assert clone.version() == 1
        m = clone._read_manifest()
        assert m["cloned_from"]["version"] == 2
        assert m.get("dv"), "source dv state must ride the clone"
        # diverge: writes land locally, the source never sees them
        clone.commit_delta(
            customers.limit(3).withColumn("c_acctbal", F.lit(7.0)),
            ["c_custkey"], batch_id="d1",
        )
        assert len(os.listdir(clone.data_dir)) > 0
        assert _canon(src.read(spark)) == pinned
        assert clone.read_resolved(spark).filter(
            F.col("c_acctbal") == 7.0
        ).count() == 3
        # source evolution after the clone: invisible to the clone
        src.update_where(
            spark, "c_custkey >= 90", {"c_acctbal": "0.0"}, batch_id="u"
        )
        assert _canon(
            clone.read(spark)
        ) == pinned
        # a full optimize LOCALIZES the clone (severs the dependency)
        clone.optimize(spark, target_rows=200, batch_id="opt",
                       stats_cols=["c_custkey"])
        mm = clone._read_manifest()
        local = set(os.listdir(clone.data_dir))
        assert set(mm["files"]) <= local
        # the clone's vacuum/GC never touched the source's data
        clone.vacuum(keep_versions=1)
        clone.gc_orphans(min_age_seconds=0)
        assert _canon(src.read(spark)) != pinned  # src moved on
        assert src.read(spark, version=2).count() == 95  # still readable

    def test_clone_of_clone_and_nonempty_dest_refused(
        self, spark, tmp_path, customers
    ):
        src = ManifestTable(str(tmp_path / "a"))
        src.commit_overwrite(customers.limit(20), batch_id="s")
        c1 = src.clone_to(str(tmp_path / "b"))
        c2 = c1.clone_to(str(tmp_path / "c"))
        assert c2.read(spark).count() == 20
        with pytest.raises(ValueError, match="not an empty"):
            src.clone_to(str(tmp_path / "b"))
        # pinned-version clone
        src.commit_delta(
            customers.limit(5).withColumn("c_acctbal", F.lit(1.0)),
            ["c_custkey"], batch_id="d",
        )
        c3 = src.clone_to(str(tmp_path / "d"), version=1)
        assert c3.read_resolved(spark).filter(
            F.col("c_acctbal") == 1.0
        ).count() == 0


class TestMergeIntoModelProperty:
    """Model check for conditional MERGE: random ordered clause lists
    over random keyed target/source tables must produce exactly the
    content and CDC tallies of a pure-Python evaluator implementing
    the SQL rules (population routing, first-satisfied-wins ordering,
    simultaneous assignment, insert null-fill)."""

    # (clause-for-merge_into, model twin) pairs; conditions reference
    # only the aliases their population has (matched: t+s, insert: s,
    # by_source: t)
    _POOL = [
        (("update", None, {"a": "s.a + t.a"}),
         lambda t, s: ("update", {"a": s["a"] + t["a"]})),
        (("update", "s.a % 2 = 0", {"a": "s.a", "b": "t.b + 100"}),
         lambda t, s: ("update", {"a": s["a"], "b": t["b"] + 100})
         if s["a"] % 2 == 0 else None),
        (("update", None, "*"),
         lambda t, s: ("update", {"a": s["a"], "b": s["b"]})),
        (("delete", "s.a > t.a", None),
         lambda t, s: ("delete", None) if s["a"] > t["a"] else None),
        (("delete", None, None), lambda t, s: ("delete", None)),
        (("insert", None, "*"),
         lambda t, s: ("insert", {"a": s["a"], "b": s["b"]})),
        # SQL % truncates toward zero (-1 % 2 = -1) while Python %
        # floors (-1 % 2 = 1): the model must use the SQL rule, so
        # `= 1` only holds for POSITIVE odd values (hypothesis found
        # the divergence on a = -1)
        (("insert", "s.a % 2 = 1", {"k": "s.k", "a": "s.a * 10"}),
         lambda t, s: ("insert", {"a": s["a"] * 10, "b": None})
         if s["a"] > 0 and s["a"] % 2 == 1 else None),
        (("update_by_source", "t.b % 3 = 0", {"b": "t.b + 1"}),
         lambda t, s: ("update", {"b": t["b"] + 1})
         if t["b"] % 3 == 0 else None),
        (("delete_by_source", "t.a < 0", None),
         lambda t, s: ("delete", None) if t["a"] < 0 else None),
    ]

    @staticmethod
    def _model(target, source, picks, pool):
        out, tallies = {}, {"delete": 0, "update": 0, "insert": 0}
        for k, row in target.items():
            s = source.get(k)
            routed = False
            for idx in picks:
                clause, twin = pool[idx]
                kind = clause[0]
                if s is not None and kind in ("update", "delete"):
                    r = twin(row, s)
                elif s is None and kind.endswith("_by_source"):
                    r = twin(row, None)
                else:
                    continue
                if r is None:
                    continue
                verb, assigns = r
                if verb == "update":
                    out[k] = {**row, **assigns}
                    tallies["update"] += 1
                else:
                    tallies["delete"] += 1
                routed = True
                break
            if not routed:
                out[k] = row
        for k, s in source.items():
            if k in target:
                continue
            for idx in picks:
                clause, twin = pool[idx]
                if clause[0] != "insert":
                    continue
                r = twin(None, s)
                if r is None:
                    continue
                out[k] = {"a": r[1]["a"], "b": r[1]["b"]}
                tallies["insert"] += 1
                break
        return out, tallies

    @pytest.mark.parametrize("mode", ["cow", "dv"])
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(
        picks=st.lists(st.integers(0, 8), min_size=1, max_size=4),
        tdata=st.dictionaries(
            st.integers(0, 24),
            st.tuples(st.integers(-5, 9), st.integers(0, 9)),
            min_size=1, max_size=12,
        ),
        sdata=st.dictionaries(
            st.integers(0, 24),
            st.tuples(st.integers(-5, 9), st.integers(0, 9)),
            max_size=12,
        ),
    )
    def test_random_merges_match_model(
        self, spark, tmp_path, mode, picks, tdata, sdata
    ):
        import uuid as _uuid

        target = {k: {"a": a, "b": b} for k, (a, b) in tdata.items()}
        source = {k: {"a": a, "b": b} for k, (a, b) in sdata.items()}
        t = ManifestTable(str(tmp_path / f"mprop-{_uuid.uuid4().hex}"))
        if mode == "dv":
            # messy seeding: the dv merge must see through OUTSTANDING
            # merge-on-read state — every odd key arrives via a delta
            # upsert superseding a deliberately stale base image, so an
            # acted key holds TWO stored images the suppression scan
            # must kill together
            delta_keys = sorted(target)[1::2]
            base_rows = [
                (
                    k,
                    target[k]["a"] + (7 if k in set(delta_keys) else 0),
                    target[k]["b"] + (3 if k in set(delta_keys) else 0),
                )
                for k in target
            ]
            t.commit_overwrite(
                spark.createDataFrame(
                    base_rows, "k long, a long, b long"
                ).repartition(2),
                batch_id="seed", stats_cols=["k"],
            )
            if delta_keys:
                t.commit_delta(
                    spark.createDataFrame(
                        [
                            (k, target[k]["a"], target[k]["b"])
                            for k in delta_keys
                        ],
                        "k long, a long, b long",
                    ),
                    ["k"], batch_id="d-seed", stats_cols=["k"],
                )
        else:
            t.commit_overwrite(
                spark.createDataFrame(
                    [(k, r["a"], r["b"]) for k, r in target.items()],
                    "k long, a long, b long",
                ).repartition(2),
                batch_id="seed", stats_cols=["k"],
            )
        src_rows = [(k, r["a"], r["b"]) for k, r in source.items()]
        src = spark.createDataFrame(
            src_rows, "k long, a long, b long"
        ) if src_rows else spark.createDataFrame([], "k long, a long, b long")
        clauses = [self._POOL[i][0] for i in picks]
        before_v = t.version()
        pre_m = t._read_manifest()
        t.merge_into(
            spark, src, key_columns=["k"], clauses=clauses,
            batch_id="m", stats_cols=["k"], prune_col="k", mode=mode,
        )
        if mode == "dv" and t.version() > before_v:
            post_m = t._read_manifest()
            # dv merge rewrites nothing: base files only ever append,
            # outstanding deltas carry through verbatim
            assert post_m["files"][: len(pre_m["files"])] == pre_m["files"]
            # an overwrite-seeded manifest has no "deltas" key at all
            # (None), the merge writes an explicit [] — both mean "no
            # outstanding deltas"
            assert (post_m.get("deltas") or []) == (pre_m.get("deltas") or [])
        exp, tallies = self._model(target, source, picks, self._POOL)
        got = {
            r["k"]: {"a": r["a"], "b": r["b"]}
            for r in t.read_resolved(spark).collect()
        } if t.read(spark) is not None else {}
        assert got == exp
        if t.version() > before_v:
            ch = t.changes(spark, before_v)
            counts = {
                r["ct"]: r["n"]
                for r in ch.groupBy(
                    F.col("_change_type").alias("ct")
                ).agg(F.count("*").alias("n")).collect()
            }
            assert counts.get("delete", 0) == tallies["delete"]
            assert counts.get("update_postimage", 0) == tallies["update"]
            assert counts.get("update_preimage", 0) == tallies["update"]
            assert counts.get("insert", 0) == tallies["insert"]
        else:
            # no commit: the merge must have been a provable no-op
            assert exp == target and sum(tallies.values()) == 0


class TestMergeIntoDv:
    """merge_into(mode='dv') — the Delta 3.x deletion-vector MERGE:
    no base/delta file rewrites, O(changed rows) write cost, works
    over outstanding merge-on-read deltas and existing dv state."""

    @staticmethod
    def _seed_messy(spark, tmp_path):
        """A dv'd + delta'd table resolving to keys 0..9 with a=k*10,
        b=k: v1 overwrites keys 0..11 (extra keys 10,11 and stale
        values for 4..7), v2 dv-deletes keys 10,11, v3 delta-upserts
        the true images of 4..7 and tombstones key 3."""
        t = ManifestTable(str(tmp_path / "dvm"))
        rows = [
            (k, k * 10 + (5 if 4 <= k <= 7 else 0), k) for k in range(12)
        ]
        t.commit_overwrite(
            spark.createDataFrame(rows, "k long, a long, b long")
            .repartitionByRange(3, "k"),
            batch_id="seed", stats_cols=["k"],
        )
        t.delete_where(spark, "k >= 10", batch_id="trim", mode="dv")
        t.commit_delta(
            spark.createDataFrame(
                [(k, k * 10, k) for k in range(4, 8)],
                "k long, a long, b long",
            ),
            ["k"], batch_id="fix", stats_cols=["k"],
            deletes=spark.createDataFrame([(3,)], "k long"),
        )
        # resolved: keys 0..9 minus tombstoned 3
        return t

    def test_dv_merge_over_deltas_and_dv(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        m0 = t._read_manifest()
        src = spark.createDataFrame(
            # 5: update (delta-backed key, two stored images);
            # 1: delete (base-backed); 3: insert onto a TOMBSTONED key
            # (resurrection needs the tombstone suppressed too);
            # 20: plain insert
            [(5, 1000, 0), (1, 0, 0), (3, 333, 3), (20, 2000, 20)],
            "k long, a long, b long",
        )
        v = t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("delete", "t.k = 1", None),
                ("update", None, {"a": "s.a"}),
                ("insert", None, "*"),
            ],
            batch_id="m", mode="dv", stats_cols=["k"], prune_col="k",
        )
        m1 = t._read_manifest()
        assert v == m0["version"] + 1
        # nothing rewritten: base prefix intact, deltas verbatim
        assert m1["files"][: len(m0["files"])] == m0["files"]
        assert m1["deltas"] == m0["deltas"]
        got = {
            r["k"]: (r["a"], r["b"])
            for r in t.read_resolved(spark).collect()
        }
        exp = {k: (k * 10, k) for k in range(10) if k not in (1, 3)}
        exp[5] = (1000, 5)
        exp[3] = (333, 3)
        exp[20] = (2000, 20)
        assert got == exp
        # typed CDC of the merge commit
        ch = t.changes(spark, m0["version"])
        counts = {
            r["ct"]: r["n"]
            for r in ch.groupBy(F.col("_change_type").alias("ct"))
            .agg(F.count("*").alias("n")).collect()
        }
        assert counts == {
            "delete": 1, "update_preimage": 1, "update_postimage": 1,
            "insert": 2,
        }

    def test_dv_merge_matches_cow_result(self, spark, tmp_path, customers):
        """Same clauses on the same clean table: dv and cow modes must
        produce identical resolved content."""
        seed = customers.limit(60)
        src = (
            customers.limit(80)
            .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
        )
        results = []
        for mode in ("cow", "dv"):
            t = ManifestTable(str(tmp_path / f"eq-{mode}"))
            t.commit_overwrite(seed, batch_id="s", stats_cols=["c_custkey"])
            t.merge_into(
                spark, src, key_columns=["c_custkey"],
                clauses=[
                    ("delete", "s.c_acctbal > 5000.0", None),
                    ("update", None, "*"),
                    ("insert", "s.c_acctbal < 1000.0", "*"),
                ],
                batch_id="m", mode=mode,
            )
            results.append(_canon(t.read_resolved(spark)))
        assert results[0] == results[1]

    def test_dv_merge_by_source_over_deltas(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        src = spark.createDataFrame([(0, 0, 0)], "k long, a long, b long")
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("update", None, {"a": "t.a + s.a"}),
                ("delete_by_source", "t.k >= 8", None),
                ("update_by_source", "t.k = 2", {"b": "t.b * 100"}),
            ],
            batch_id="m", mode="dv",
        )
        got = {
            r["k"]: (r["a"], r["b"])
            for r in t.read_resolved(spark).collect()
        }
        exp = {k: (k * 10, k) for k in range(8) if k != 3}
        exp[2] = (20, 200)
        assert got == exp

    def test_dv_merge_key_mismatch_on_deltas_raises(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        src = spark.createDataFrame([(1, 1, 1)], "k long, a long, b long")
        with pytest.raises(ValueError, match="recorded key_columns"):
            t.merge_into(
                spark, src, key_columns=["a"],
                clauses=[("update", None, {"b": "s.b"})],
                mode="dv",
            )

    def test_dv_merge_noop_commits_nothing(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        v0 = t.version()
        src = spark.createDataFrame([(50, 0, 0)], "k long, a long, b long")
        v = t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("update", None, {"a": "s.a"})],
            batch_id="noop", mode="dv",
        )
        assert v == v0 and t.version() == v0

    def test_dv_merge_concurrent_content_aborts(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        src = spark.createDataFrame([(5, 1, 1)], "k long, a long, b long")
        upd = spark.createDataFrame([(6, 66, 6)], "k long, a long, b long")
        t._race_once = lambda: ManifestTable(t.root).commit_delta(
            upd, ["k"], batch_id="race"
        )
        with pytest.raises(Exception, match="lost to concurrent|content changed"):
            t.merge_into(
                spark, src, key_columns=["k"],
                clauses=[("update", None, {"a": "s.a"})],
                batch_id="m", mode="dv",
            )
        # the racing delta won; the merge never half-applied
        got = {r["k"]: r["a"] for r in t.read_resolved(spark).collect()}
        assert got[6] == 66 and got[5] == 50

    def test_dv_merge_idempotent_replay(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        src = spark.createDataFrame([(5, 77, 5)], "k long, a long, b long")
        clauses = [("update", None, {"a": "s.a"})]
        v1 = t.merge_into(
            spark, src, key_columns=["k"], clauses=clauses,
            batch_id="once", mode="dv",
        )
        v2 = t.merge_into(
            spark, src, key_columns=["k"], clauses=clauses,
            batch_id="once", mode="dv",
        )
        assert v1 == v2
        got = {r["k"]: r["a"] for r in t.read_resolved(spark).collect()}
        assert got[5] == 77

    def test_dv_merge_then_compact_materializes(self, spark, tmp_path):
        t = self._seed_messy(spark, tmp_path)
        src = spark.createDataFrame(
            [(5, 1000, 0), (20, 2000, 20)], "k long, a long, b long"
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[("update", None, {"a": "s.a"}), ("insert", None, "*")],
            batch_id="m", mode="dv",
        )
        before = _canon(t.read_resolved(spark))
        t.compact(spark, batch_id="c", stats_cols=["k"])
        m = t._read_manifest()
        assert not m.get("dv") and not m.get("deltas")
        assert _canon(t.read(spark)) == before

    def test_dv_reserved_names_rejected(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "resv"))
        t.commit_overwrite(
            spark.createDataFrame(
                [(1, 2)], "k long, `__file__` long"
            ),
            batch_id="s",
        )
        with pytest.raises(ValueError, match="reserved deletion-vector"):
            t.delete_where(spark, "k = 1", mode="dv")
        with pytest.raises(ValueError, match="reserved deletion-vector"):
            t.merge_into(
                spark,
                spark.createDataFrame([(1,)], "k long"),
                key_columns=["k"],
                clauses=[("delete", None, None)],
                mode="dv",
            )

    def test_dv_delete_stats_cols_rejected(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "sc"))
        t.commit_overwrite(customers.limit(10), batch_id="s")
        with pytest.raises(ValueError, match="stats_cols"):
            t.delete_where(
                spark, "c_custkey = 1", mode="dv",
                stats_cols=["c_custkey"],
            )


class TestCommitLog:
    """r16 directive #2 — the incremental commit log: per-version
    action records + periodic checkpoints replace full-snapshot
    manifests.  Commit cost is O(delta) bytes; every version
    materializes identically to the full manifest the writer built;
    vacuum keeps every retained version derivable."""

    @staticmethod
    def _synthetic(version, files, extra=None):
        m = {
            "version": version,
            "files": list(files),
            "deltas": [],
            "batch_ids": [f"b{v}" for v in range(1, version + 1)],
            "stats": {f: {"k": [i, i + 1]} for i, f in enumerate(files)},
            "filemeta": {f: {"bytes": 7, "rows": 3} for f in files},
        }
        if extra:
            m.update(extra)
        return m

    def test_commit_cost_is_o_delta_not_o_files(self, tmp_path):
        """A one-file change on a 5000-file table writes an O(delta)
        log record (< 2 KB), not an O(files) snapshot; the checkpoint
        cadence bounds replay."""
        t = ManifestTable(str(tmp_path / "cost"))
        files = [f"f{i:05}.parquet" for i in range(5000)]
        t._publish(self._synthetic(1, files))
        sz1 = os.path.getsize(os.path.join(t.root, "_manifest.v1.json"))
        log_sizes = []
        for v in range(2, 10):  # v2..v9: below the v10 checkpoint
            cur = files[: 5000 - (v - 1)] + [f"g{v}.parquet"]
            m = self._synthetic(v, files[: 5000 - (v - 1)])
            m["files"] = cur
            m["stats"]["%s" % f"g{v}.parquet"] = {"k": [0, 1]}
            m["filemeta"][f"g{v}.parquet"] = {"bytes": 7, "rows": 3}
            m["dml"] = True
            t._publish(m)
            log_sizes.append(
                os.path.getsize(
                    os.path.join(t.root, f"_manifest.v{v}.json")
                )
            )
        # the checkpoint is COLUMNAR at this file count (r17 #3): a
        # small JSON core + a parquet sidecar carrying the per-file
        # state — the record itself is no longer O(files) JSON
        with open(os.path.join(t.root, "_manifest.v1.json")) as fh:
            rec1 = json.load(fh)
        assert "snapshot_core" in rec1 and rec1["protocol"] == 3
        assert sz1 < 4_000
        side = os.path.join(t.root, rec1["sidecar"])
        assert os.path.exists(side)
        assert os.path.getsize(side) > 10_000  # the per-file state
        assert max(log_sizes) < 2_000, log_sizes  # records are O(delta)
        # the pointer hint is O(record), never an O(files) snapshot
        assert os.path.getsize(t._pointer) < 4_000
        # v10 (the CHECKPOINT_INTERVAL boundary) checkpoints columnar
        m10 = self._synthetic(10, files[:4991] + ["g10.parquet"])
        t._publish(m10)
        assert os.path.getsize(
            os.path.join(t.root, "_manifest.v10.json")
        ) < 4_000
        with open(os.path.join(t.root, "_manifest.v10.json")) as fh:
            rec10 = json.load(fh)
        assert "snapshot_core" in rec10
        # and it reconstructs bit-identically
        got = t._manifest_at(10)
        got.pop("committed_at", None)
        m10.pop("committed_at", None)
        assert got == m10

    @settings(max_examples=20, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        steps=st.lists(
            st.tuples(
                st.sampled_from(
                    ["append", "remove", "overwrite", "delta",
                     "clear_deltas", "meta", "restore_jump"]
                ),
                st.integers(0, 9),
            ),
            min_size=1,
            max_size=25,
        )
    )
    def test_replay_equals_snapshot_across_random_histories(
        self, tmp_path, steps
    ):
        """Equivalence property: for ANY history of manifest edits —
        appends, removals, overwrites, delta filesets, metadata ops,
        restore-shaped jumps back to an old state — every version
        materialized from the commit log equals the exact manifest the
        writer published (the model keeps each full manifest in
        memory).  Exercises log records, checkpoint boundaries and the
        legacy fallback paths together."""
        self._replay_equivalence_body(tmp_path, steps)

    @settings(max_examples=20, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        steps=st.lists(
            st.tuples(
                st.sampled_from(
                    ["append", "remove", "overwrite", "delta",
                     "clear_deltas", "meta", "restore_jump"]
                ),
                st.integers(0, 9),
            ),
            min_size=1,
            max_size=25,
        )
    )
    def test_replay_equivalence_over_columnar_checkpoints(
        self, tmp_path, steps
    ):
        """The SAME equivalence property with every checkpoint forced
        COLUMNAR (r17 directive #3): JSON core + parquet sidecar must
        reconstruct each checkpointed manifest bit-identically —
        including key presence (absent vs empty stats/filemeta),
        mixed-type stats entries, and the restore/legacy paths."""
        prev = ManifestTable.SIDECAR_MIN_FILES
        ManifestTable.SIDECAR_MIN_FILES = 0
        try:
            self._replay_equivalence_body(tmp_path, steps)
        finally:
            ManifestTable.SIDECAR_MIN_FILES = prev

    def _replay_equivalence_body(self, tmp_path, steps):
        import uuid as _uuid

        t = ManifestTable(str(tmp_path / f"hist-{_uuid.uuid4().hex}"))
        model: dict[int, dict] = {}
        cur = {"version": 0, "files": [], "deltas": [], "batch_ids": [],
               "stats": {}, "filemeta": {}}
        for i, (op, arg) in enumerate(steps):
            m = json.loads(json.dumps(cur))  # deep copy, JSON-faithful
            m["version"] = cur["version"] + 1
            m["batch_ids"] = m["batch_ids"] + [f"s{i}"]
            if op == "append":
                nf = f"a{i}.parquet"
                m["files"] = m["files"] + [nf]
                m["stats"][nf] = {"k": [arg, arg + 1]}
                m["filemeta"][nf] = {"bytes": arg, "rows": 1}
            elif op == "remove" and m["files"]:
                victim = m["files"][arg % len(m["files"])]
                m["files"] = [f for f in m["files"] if f != victim]
                m["stats"].pop(victim, None)
                m["dml"] = True
            elif op == "overwrite":
                m = {
                    "version": m["version"],
                    "files": [f"o{i}-{j}.parquet" for j in range(arg + 1)],
                    "deltas": [],
                    "batch_ids": m["batch_ids"],
                    "stats": {},
                    "filemeta": {},
                }
            elif op == "delta":
                m["deltas"] = m["deltas"] + [[f"d{i}.parquet"]]
                m["key_columns"] = ["k"]
            elif op == "clear_deltas":
                m["deltas"] = []
                m["reorg"] = True
            elif op == "meta":
                m["colstats"] = {"k": {"ndv": arg}}
            elif op == "restore_jump" and model:
                target = sorted(model)[arg % len(model)]
                old = json.loads(json.dumps(model[target]))
                old["version"] = m["version"]
                old["batch_ids"] = m["batch_ids"]
                old["restore_of"] = target
                m = old
            t._publish(m)
            m.pop("committed_at", None)
            model[m["version"]] = m
            cur = m
        for v, expect in model.items():
            got = t._manifest_at(v)
            got.pop("committed_at", None)
            assert got == json.loads(json.dumps(expect)), f"version {v}"
        # the tip read agrees too
        tip = t._read_manifest()
        tip.pop("committed_at", None)
        assert tip == json.loads(json.dumps(model[max(model)]))

    def test_vacuum_keeps_retained_versions_derivable(self, tmp_path):
        """Vacuuming mid-segment (between checkpoints) writes a
        sidecar checkpoint at the new horizon: every retained version
        still materializes, every removed one raises, and a LATER
        vacuum can advance the horizon again."""
        t = ManifestTable(str(tmp_path / "vchain"))
        for v in range(1, 16):
            files = [f"f{j}.parquet" for j in range(v)]
            t._publish(self._synthetic(v, files, {"dml": v > 1 or None}))
        t.vacuum(keep_versions=3)  # horizon at v13, mid-segment
        for v in (13, 14, 15):
            assert t._manifest_at(v)["version"] == v
        for v in (1, 5, 10, 12):
            with pytest.raises(ValueError):
                t._manifest_at(v)
        assert os.path.exists(t._ckpt_sidecar(13))
        # keep committing and vacuum again: horizon advances, the old
        # sidecar goes with it
        for v in range(16, 22):
            t._publish(self._synthetic(v, [f"f{j}.parquet" for j in range(v)]))
        t.vacuum(keep_versions=2)
        assert not os.path.exists(t._ckpt_sidecar(13))
        for v in (21, 20):
            assert t._manifest_at(v)["version"] == v
        with pytest.raises(ValueError):
            t._manifest_at(15)

    def test_legacy_full_manifests_upgrade_in_place(
        self, spark, tmp_path, customers
    ):
        """A pre-r16 table (every version file a full manifest, the
        pointer a full-manifest cache) keeps working: legacy files act
        as their own checkpoints, new commits append log records."""
        t = ManifestTable(str(tmp_path / "legacy"))
        t.commit_overwrite(customers.limit(30), batch_id="s")
        t.commit_delta(customers.limit(5), ["c_custkey"], batch_id="d")
        # rewrite history to the LEGACY on-disk format
        for v in (1, 2):
            mf = t._manifest_at(v)
            with open(
                os.path.join(t.root, f"_manifest.v{v}.json"), "w"
            ) as fh:
                json.dump(mf, fh)
        with open(t._pointer, "w") as fh:
            json.dump(t._manifest_at(2), fh)
        # reads, history and new commits all work across the mix
        t2 = ManifestTable(t.root)
        assert t2.version() == 2
        assert t2.read_resolved(spark).count() == 30
        t2.compact(spark, batch_id="c")  # v3: a NEW-format record
        with open(os.path.join(t.root, "_manifest.v3.json")) as fh:
            rec = json.load(fh)
        assert "actions" in rec or "snapshot" in rec
        assert t2._manifest_at(1)["files"]  # legacy still materializes
        kinds = [
            r["kind"]
            for r in sorted(
                t2.history(spark).collect(), key=lambda r: r["version"]
            )
        ]
        assert kinds == ["overwrite", "delta", "reorg"]


class TestBoundedLedger:
    """r16 directive #3 — the exactly-once batch ledger is bounded
    (Delta setTransaction retention): commits keep only the newest
    ``max_entries`` ids; expired structured ids fold into a per-stream
    high-water mark so a replay from beyond retention raises
    StaleBatchReplay instead of double-applying."""

    def test_streaming_ingest_ledger_stays_bounded(
        self, spark, tmp_path, customers
    ):
        from pypeline_spark.sinks.manifest import StaleBatchReplay

        t = ManifestTable(str(tmp_path / "bled"))
        t.set_ledger_retention(4)
        n0 = customers.limit(30)
        t.commit_overwrite(n0, batch_id="seed-0")
        for i in range(1, 13):  # the micro-batch cadence
            t.commit_delta(
                customers.limit(3), ["c_custkey"],
                batch_id=f"stream-{i}",
            )
            assert len(t._read_manifest()["batch_ids"]) <= 4
        m = t._read_manifest()
        # inside retention: exact membership, replay is a no-op
        v = t.version()
        t.commit_delta(
            customers.limit(3), ["c_custkey"], batch_id="stream-12"
        )
        assert t.version() == v
        # beyond retention: the structured id is below the stream's
        # expired high-water mark — rejected loudly, nothing published
        with pytest.raises(StaleBatchReplay, match="high-water"):
            t.commit_delta(
                customers.limit(3), ["c_custkey"], batch_id="stream-2"
            )
        assert t.version() == v
        # the seed's expired id folded into ITS stream's mark too
        assert m["batch_hwm"]["stream"] >= 8
        assert m["batch_hwm"]["seed"] == 0
        # fresh sequence numbers keep flowing
        t.commit_delta(
            customers.limit(3), ["c_custkey"], batch_id="stream-13"
        )
        assert t.version() == v + 1
        # content was never double-applied across the whole run
        assert t.read_resolved(spark).count() == 30

    def test_unstructured_ids_expire_silently(self, spark, tmp_path, customers):
        """Opaque ids get Delta's documented behavior: membership
        inside retention, forgotten beyond it (no seq to rule on)."""
        t = ManifestTable(str(tmp_path / "uled"))
        t.set_ledger_retention(2)
        t.commit_overwrite(customers.limit(10), batch_id="alpha")
        t.commit_delta(customers.limit(2), ["c_custkey"], batch_id="beta")
        t.commit_delta(customers.limit(2), ["c_custkey"], batch_id="gamma")
        m = t._read_manifest()
        assert "alpha" not in m["batch_ids"] and len(m["batch_ids"]) == 2
        assert "alpha" not in (m.get("batch_hwm") or {})

    def test_clearing_retention_stops_expiry(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "cled"))
        t.set_ledger_retention(2)
        t.commit_overwrite(customers.limit(10), batch_id="w-1")
        t.set_ledger_retention(None)
        for i in range(2, 7):
            t.commit_delta(
                customers.limit(2), ["c_custkey"], batch_id=f"w-{i}"
            )
        m = t._read_manifest()
        assert m.get("ledger_retention") is None
        # w-1 never expired: retention was cleared while it was still
        # inside the bound, and nothing truncates afterwards
        assert [b for b in m["batch_ids"] if b.startswith("w-")] == [
            f"w-{i}" for i in range(1, 7)
        ]

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        k=st.integers(1, 4),
        seqs=st.lists(st.integers(0, 12), min_size=1, max_size=30),
    )
    def test_ledger_model_property(self, tmp_path, k, seqs):
        """Model check across random id sequences (repeats = replays,
        arbitrary order): a commit with an id still IN the ledger is a
        no-op; an id at-or-below the expired high-water mark raises;
        anything else commits — and the ledger never exceeds the
        retention bound.  Driven through real commits (the
        set_ledger_retention metadata commit carries a batch id
        through the same publish choke point as every content
        commit)."""
        import uuid as _uuid

        from pypeline_spark.sinks.manifest import StaleBatchReplay

        t = ManifestTable(str(tmp_path / f"led-{_uuid.uuid4().hex}"))
        ledger: list = []
        hwm: dict = {}
        for seq in seqs:
            bid = f"s-{seq}"
            before = t.version()
            if bid in ledger:
                assert t.set_ledger_retention(k, batch_id=bid) == before
                assert t.version() == before
            elif "s" in hwm and seq <= hwm["s"]:
                with pytest.raises(StaleBatchReplay):
                    t.set_ledger_retention(k, batch_id=bid)
                assert t.version() == before
            else:
                assert t.set_ledger_retention(k, batch_id=bid) == before + 1
                ledger.append(bid)
                for dropped in ledger[:-k]:
                    dseq = int(dropped.rsplit("-", 1)[1])
                    hwm["s"] = max(hwm.get("s", dseq), dseq)
                ledger = ledger[-k:]
        m = t._read_manifest()
        assert m["batch_ids"] == ledger
        assert (m.get("batch_hwm") or {}) == hwm


class TestHistoryOperationMetrics:
    """r16 directive #7 — DESCRIBE HISTORY operation metrics (the
    Delta operationMetrics shape) across a mixed commit history:
    files added/removed from the publish-time diff, rows written for
    appends/overwrites, typed row counts for DML/MERGE from each
    commit's own CDC fileset."""

    def test_per_kind_metrics_across_mixed_history(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "hm"))
        t.commit_overwrite(
            spark.createDataFrame(
                [(k, k * 10, k) for k in range(20)], "k long, a long, b long"
            ).repartitionByRange(4, "k"),
            batch_id="seed", stats_cols=["k"],
        )  # v1: overwrite, 20 rows / 4 files
        t.update_where(
            spark, "k >= 15", {"a": "a + 1"}, batch_id="u1"
        )  # v2: cow UPDATE, 5 rows
        t.delete_where(
            spark, "k < 3", batch_id="del1", mode="dv"
        )  # v3: dv DELETE, 3 rows, zero file writes
        t.commit_delta(
            spark.createDataFrame(
                [(k, 0, 0) for k in range(20, 25)], "k long, a long, b long"
            ).coalesce(1),
            ["k"], batch_id="d1",
        )  # v4: delta append, 5 rows
        src = spark.createDataFrame(
            [(5, 100, 0), (6, 100, 0), (7, 0, 1), (30, 300, 0)],
            "k long, a long, b long",
        )
        t.merge_into(
            spark, src, key_columns=["k"],
            clauses=[
                ("delete", "s.b = 1", None),
                ("update", None, {"a": "s.a"}),
                ("insert", None, "*"),
            ],
            batch_id="m1", mode="dv",
        )  # v5: dv MERGE — 2 updates, 1 delete, 1 insert
        t.compact(spark, batch_id="c1", stats_cols=["k"])  # v6: reorg
        t.evolve_schema("tag string", batch_id="e1")  # v7: metadata
        h = {r["version"]: r for r in t.history(spark).collect()}

        assert h[1]["kind"] == "overwrite"
        assert h[1]["files_added"] == 4 and h[1]["files_removed"] == 0
        assert h[1]["num_output_rows"] == 20

        assert h[2]["kind"] == "dml"
        assert h[2]["rows_updated"] == 5
        assert h[2]["rows_inserted"] is None  # cow UPDATE: updates only
        assert h[2]["files_removed"] >= 1  # the touched files rewrote

        assert h[3]["kind"] == "dml"
        assert h[3]["rows_deleted"] == 3
        assert h[3]["files_added"] == 0 and h[3]["files_removed"] == 0
        assert h[3]["dv_rows"] == 3  # the suppression the read pays

        assert h[4]["kind"] == "delta"
        assert h[4]["num_output_rows"] == 5
        assert h[4]["files_added"] == 0  # delta filesets, not base files
        assert h[4]["n_delta_filesets"] == 1

        assert h[5]["kind"] == "dml"
        assert h[5]["rows_updated"] == 2
        assert h[5]["rows_deleted"] == 1
        assert h[5]["rows_inserted"] == 1
        assert h[5]["files_removed"] == 0  # dv merge rewrites nothing

        assert h[6]["kind"] == "reorg"
        assert h[6]["files_removed"] >= 4 and h[6]["files_added"] >= 1
        assert h[6]["dv_rows"] == 0  # compaction materialized the dv

        assert h[7]["kind"] == "metadata"
        assert h[7]["files_added"] == 0 and h[7]["files_removed"] == 0
        # content sanity: the metrics described what actually happened
        got = {r["k"]: r["a"] for r in t.read_resolved(spark).collect()}
        assert len(got) == 20 - 3 + 5 - 1 + 1
        assert got[5] == 100 and got[15] == 151 and got[30] == 300

    def test_clone_seed_kind_is_clone(self, spark, tmp_path, customers):
        """ADVICE r15: a shallow clone's seed commit reports kind
        'clone' in DESCRIBE HISTORY (provenance was hiding as
        'overwrite'), while an ordinary seed stays 'overwrite'."""
        src = ManifestTable(str(tmp_path / "csrc"))
        src.commit_overwrite(customers.limit(15), batch_id="s")
        clone = src.clone_to(str(tmp_path / "cdst"))
        hc = {r["version"]: r for r in clone.history(spark).collect()}
        assert hc[1]["kind"] == "clone"
        hs = {r["version"]: r for r in src.history(spark).collect()}
        assert hs[1]["kind"] == "overwrite"
        # the clone keeps evolving under its own history
        clone.commit_delta(
            customers.limit(3), ["c_custkey"], batch_id="d"
        )
        hc2 = {r["version"]: r for r in clone.history(spark).collect()}
        assert hc2[2]["kind"] == "delta"


class TestMaterializationCache:
    """The per-instance version-keyed manifest cache (the Delta
    SnapshotManagement shape): hits skip the checkpoint parse +
    replay; stat-validation keeps behavior bit-identical under
    on-disk edits and vacuum."""

    def test_cache_hit_returns_same_content_and_respects_vacuum(
        self, tmp_path
    ):
        import json as _json

        t = ManifestTable(str(tmp_path / "mc"))
        files = [f"f{i}.parquet" for i in range(50)]
        t._publish({"version": 1, "files": files, "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        for v in range(2, 9):
            m = _json.loads(_json.dumps(t._read_manifest()))
            m["version"] = v
            m["files"] = m["files"] + [f"g{v}.parquet"]
            m["dml"] = True
            t._publish(m)
        a = t._manifest_at(5)
        assert t._cache_get(5) is a  # cached, shared object
        b = t._manifest_at(5)
        assert b is a  # the hit path
        # a second instance materializes independently but equally
        t2 = ManifestTable(t.root)
        assert t2._manifest_at(5) == a
        t.vacuum(keep_versions=2)
        with pytest.raises(ValueError):
            t._manifest_at(5)  # the stat validation dropped the entry
        assert t._read_manifest()["version"] == 8

    def test_cache_honors_on_disk_record_edits(self, tmp_path):
        """A version record rewritten on disk (test fixtures do this
        for commit timestamps) must invalidate the cached entry."""
        import json as _json

        t = ManifestTable(str(tmp_path / "mce"))
        t._publish({"version": 1, "files": ["a.parquet"], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        assert t._manifest_at(1)["files"] == ["a.parquet"]
        vfile = os.path.join(t.root, "_manifest.v1.json")
        with open(vfile) as fh:
            rec = _json.load(fh)
        rec["snapshot"]["files"] = ["b.parquet"]
        with open(vfile, "w") as fh:
            _json.dump(rec, fh)
        os.utime(vfile, ns=(1, 1))  # force a distinct stat signature
        assert t._manifest_at(1)["files"] == ["b.parquet"]

    def test_future_protocol_record_fails_loudly(self, tmp_path):
        """A record stamped with a HIGHER protocol than this build
        reads (the Delta minReaderVersion rule) raises a clear error
        instead of being misparsed."""
        import json as _json

        t = ManifestTable(str(tmp_path / "proto"))
        t._publish({"version": 1, "files": [], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        vfile = os.path.join(t.root, "_manifest.v1.json")
        with open(vfile) as fh:
            rec = _json.load(fh)
        # minimum-reader rule (r17): an inline-snapshot record stamps
        # protocol 2 even though this build READS up to
        # PROTOCOL_VERSION (columnar checkpoints stamp 3)
        assert rec["protocol"] == 2 <= ManifestTable.PROTOCOL_VERSION
        rec["protocol"] = ManifestTable.PROTOCOL_VERSION + 1
        with open(vfile, "w") as fh:
            _json.dump(rec, fh)
        os.utime(vfile, ns=(1, 1))
        t2 = ManifestTable(t.root)
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2._manifest_at(1)

    @staticmethod
    def _stamp_future(t, version):
        """Rewrite version ``version``'s record with protocol+1."""
        import json as _json

        vfile = os.path.join(t.root, f"_manifest.v{version}.json")
        with open(vfile) as fh:
            rec = _json.load(fh)
        rec["protocol"] = ManifestTable.PROTOCOL_VERSION + 1
        with open(vfile, "w") as fh:
            _json.dump(rec, fh)
        os.utime(vfile, ns=(1, 1))

    def test_rollforward_rejects_future_protocol_tip(self, tmp_path):
        """ADVICE r16 (medium): the _read_manifest roll-forward loop
        must NOT raw-parse a future-protocol record and silently serve
        its snapshot as the manifest — it must raise loudly."""
        t = ManifestTable(str(tmp_path / "pr"))
        t._publish({"version": 1, "files": ["a.parquet"], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        t._publish({"version": 2, "files": ["a.parquet", "b.parquet"],
                    "deltas": [], "batch_ids": [], "stats": {},
                    "filemeta": {}})
        # lag the pointer to v1 so the roll-forward walks v2
        with open(t._pointer, "w") as fh:
            json.dump({"hint": True, "version": 1}, fh)
        self._stamp_future(t, 2)
        t2 = ManifestTable(t.root)
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2._read_manifest()

    def test_hint_fallback_rejects_future_protocol(self, tmp_path):
        """The pointer hint's EMBEDDED record copy carries the stamp
        too: a racing removal must not let a future-protocol embed be
        misparsed (ADVICE r16 low)."""
        t = ManifestTable(str(tmp_path / "ph"))
        t._publish({"version": 1, "files": ["a.parquet"], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        with open(os.path.join(t.root, "_manifest.v1.json")) as fh:
            rec = json.load(fh)
        rec["protocol"] = ManifestTable.PROTOCOL_VERSION + 1
        with open(t._pointer, "w") as fh:
            json.dump({"hint": True, "version": 1, "record": rec}, fh)
        os.remove(os.path.join(t.root, "_manifest.v1.json"))
        t2 = ManifestTable(t.root)
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2._read_manifest()

    def test_history_rejects_future_protocol(self, spark, tmp_path):
        """ADVICE r16 (low): DESCRIBE HISTORY must fail loudly on a
        future-protocol record instead of misreporting it (or
        misclassifying it as a legacy full manifest)."""
        t = ManifestTable(str(tmp_path / "phh"))
        t._publish({"version": 1, "files": [], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        t._publish({"version": 2, "files": [], "deltas": [],
                    "batch_ids": [], "stats": {}, "filemeta": {}})
        self._stamp_future(t, 2)
        t2 = ManifestTable(t.root)
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2.history(spark)

    def test_vacuum_gc_abort_on_future_protocol(
        self, spark, tmp_path, customers
    ):
        """ADVICE r16 (medium): _scan_log's removed-mid-listing skip
        must NOT swallow a protocol mismatch — vacuum and gc_orphans
        on a table containing a newer-protocol commit abort loudly
        (the alternative silently excludes that version's data files
        from the live set and can DELETE files a live newer-protocol
        version references)."""
        t = ManifestTable(str(tmp_path / "pvg"))
        t.commit_overwrite(customers.limit(20), batch_id="a")
        t.commit_overwrite(customers.limit(30), batch_id="b")
        self._stamp_future(t, 2)
        t2 = ManifestTable(t.root)
        data_before = sorted(os.listdir(t.data_dir))
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2.gc_orphans(min_age_seconds=0.0)
        with pytest.raises(ProtocolTooNew, match="protocol"):
            t2.vacuum(keep_versions=1)
        # nothing was deleted before the abort
        assert sorted(os.listdir(t.data_dir)) == data_before


class TestVacuumDryRunAndDetail:
    """VACUUM DRY RUN (report without removing) and DESCRIBE DETAIL
    (one-row table facts from pure metadata)."""

    def test_vacuum_dry_run_reports_without_removing(
        self, spark, tmp_path, customers
    ):
        t = ManifestTable(str(tmp_path / "vdr"))
        t.commit_overwrite(customers.limit(50), batch_id="a")
        t.commit_overwrite(customers.limit(80), batch_id="b")
        t.commit_overwrite(customers.limit(20), batch_id="c")
        files_before = sorted(os.listdir(t.data_dir))
        manifests_before = sorted(
            f for f in os.listdir(t.root) if f.startswith("_manifest")
        )
        would = t.vacuum(keep_versions=1, dry_run=True)
        assert would > 0
        # nothing moved: data, records, pointer, no sidecars
        assert sorted(os.listdir(t.data_dir)) == files_before
        assert sorted(
            f for f in os.listdir(t.root) if f.startswith("_manifest")
        ) == manifests_before
        assert not any(
            f.startswith("_ckpt.") for f in os.listdir(t.root)
        )
        assert t.read(spark, version=1).count() == 50  # still readable
        # the real vacuum then removes exactly what the dry run said
        assert t.vacuum(keep_versions=1) == would
        with pytest.raises(ValueError):
            t.read(spark, version=1)

    def test_describe_detail(self, spark, tmp_path, customers):
        t = ManifestTable(str(tmp_path / "dd"))
        t.set_ledger_retention(10)
        t.commit_overwrite(
            customers.limit(40), batch_id="s",
            bloom_cols=["c_custkey"], ndv_cols=["c_custkey"],
        )
        t.commit_delta(customers.limit(5), ["c_custkey"], batch_id="d")
        t.add_not_null(spark, ["c_custkey"], batch_id="nn")
        d = t.describe_detail(spark).collect()[0]
        m = t._read_manifest()
        assert d["version"] == t.version()
        assert d["num_files"] == len(m["files"]) and d["size_bytes"] > 0
        assert d["num_delta_filesets"] == 1 and d["delta_size_bytes"] > 0
        assert d["key_columns"] == "c_custkey"
        assert d["bloom_cols"] == "c_custkey"
        assert d["num_constraints"] == 1
        assert d["ledger_size"] == len(m["batch_ids"])
        assert d["ledger_retention"] == 10
        assert d["protocol"] == ManifestTable.PROTOCOL_VERSION


_ROW_WRITERS = [
    (verb, mode)
    for verb in ("merge", "update", "delete")
    for mode in ("cow", "dv")
]
# the content writers outside the row-level DML surface share the same
# commit builder: snapshot writers (strict) and blind appends (additive)
_SNAPSHOT_WRITERS = [("commit_merge", None), ("commit_overwrite", None)]
_CONTENT_WRITERS = _SNAPSHOT_WRITERS + [
    ("commit_append", None), ("commit_delta", None),
]


class TestOccDvMergeInterleaving:
    """OCC posture of the r16 dv MERGE: it REBASES over racing
    pure-metadata commits (schema/mapping/constraints unchanged), and
    blind delta appends rebase over IT (kind 'dml'), with commit-order
    content in both cases.  The rebase and abort rules are the one
    commit builder every row-level writer shares, so the first two
    tests run each writer form: MERGE, UPDATE and DELETE, each
    copy-on-write and deletion-vector."""

    @staticmethod
    def _seed(spark, t, verb):
        # every writer form ends with key 3 at 999 among keys 0-9: the
        # merge/update/overwrite forms write it, the append form adds
        # it, the delete forms remove key 10
        rows = (
            [(k, 999 if k == 3 else k * 10) for k in range(11)]
            if verb == "delete"
            else [(k, k * 10) for k in range(10) if k != 3]
            if verb == "commit_append"
            else [(k, k * 10) for k in range(10)]
        )
        t.commit_overwrite(
            spark.createDataFrame(rows, "k long, a long"),
            batch_id="seed", stats_cols=["k"],
        )

    @staticmethod
    def _write(spark, t, verb, mode):
        k3 = spark.createDataFrame([(3, 999)], "k long, a long")
        if verb == "commit_merge":
            return t.commit_merge(spark, k3, ["k"], batch_id="m")
        if verb == "commit_overwrite":
            return t.commit_overwrite(
                spark.createDataFrame(
                    [(k, 999 if k == 3 else k * 10) for k in range(10)],
                    "k long, a long",
                ),
                batch_id="m",
            )
        if verb == "commit_append":
            return t.commit_append(k3, batch_id="m")
        if verb == "commit_delta":
            return t.commit_delta(k3, ["k"], batch_id="m")
        if verb == "merge":
            return t.merge_into(
                spark,
                spark.createDataFrame([(3, 999)], "k long, a long"),
                key_columns=["k"],
                clauses=[("update", None, {"a": "s.a"})],
                batch_id="m", mode=mode,
            )
        if verb == "update":
            return t.update_where(
                spark, "k = 3", {"a": "999"}, batch_id="m", mode=mode
            )
        return t.delete_where(spark, "k = 10", batch_id="m", mode=mode)

    @pytest.mark.parametrize("verb, mode", _ROW_WRITERS + _CONTENT_WRITERS)
    def test_dv_merge_rebases_over_racing_metadata(
        self, spark, tmp_path, verb, mode
    ):
        t = ManifestTable(str(tmp_path / "dvmm"))
        self._seed(spark, t, verb)
        b = ManifestTable(t.root)
        t._race_once = lambda: b.set_ledger_retention(50, batch_id="meta")
        v = self._write(spark, t, verb, mode)
        assert v == 3  # seed + racing metadata + the rebased merge
        m = t._read_manifest()
        assert {"seed", "meta", "m"} <= set(m["batch_ids"])
        assert (m.get("ledger_retention") or {}).get("max_entries") == 50
        got = {r["k"]: r["a"] for r in t.read_resolved(spark).collect()}
        assert got[3] == 999 and len(got) == 10

    @pytest.mark.parametrize("verb, mode", _ROW_WRITERS + _SNAPSHOT_WRITERS)
    def test_dv_merge_aborts_on_racing_schema_change(
        self, spark, tmp_path, verb, mode
    ):
        from pypeline_spark.sinks.manifest import CommitConflict

        t = ManifestTable(str(tmp_path / "dvms"))
        self._seed(spark, t, verb)
        b = ManifestTable(t.root)
        t._race_once = lambda: b.evolve_schema("tag string", batch_id="e")
        with pytest.raises(CommitConflict, match="schema|rebased"):
            self._write(spark, t, verb, mode)
        # the schema change won; the merge never half-applied
        m = ManifestTable(t.root)._read_manifest()
        assert "e" in m["batch_ids"] and "m" not in m["batch_ids"]
        assert not m.get("dv")

    def test_append_rebases_over_racing_dv_merge(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "dvma"))
        t.commit_overwrite(
            spark.createDataFrame(
                [(k, k * 10) for k in range(10)], "k long, a long"
            ),
            batch_id="seed", stats_cols=["k"],
        )
        b = ManifestTable(t.root)

        def race():
            b.merge_into(
                spark,
                spark.createDataFrame([(2, -1), (20, 200)], "k long, a long"),
                key_columns=["k"],
                clauses=[
                    ("delete", "s.a < 0", None),
                    ("insert", None, "*"),
                ],
                batch_id="m", mode="dv",
            )

        a = ManifestTable(t.root)
        a._race_once = race
        a.commit_delta(
            spark.createDataFrame([(5, 555), (30, 300)], "k long, a long"),
            ["k"], batch_id="d",
        )
        m = ManifestTable(t.root)._read_manifest()
        assert {"seed", "m", "d"} <= set(m["batch_ids"])
        got = {r["k"]: r["a"] for r in t.read_resolved(spark).collect()}
        # merge applied (k=2 deleted, k=20 inserted), then the append
        assert 2 not in got and got[20] == 200
        assert got[5] == 555 and got[30] == 300
        assert len(got) == 10 - 1 + 1 + 1


class TestRowWriterTail:
    """The validate -> write -> commit path delete_where, update_where
    and merge_into share in both modes: a rejected assignment writes
    nothing, and no commit lists a zero-row part-file unless the
    fileset would otherwise be empty."""

    @pytest.mark.parametrize("mode", ["cow", "dv"])
    @pytest.mark.parametrize(
        "assignments, match",
        [
            ({"nope": "1"}, "no such column"),
            ({"__row_id__": "0"}, "__row_id__"),
            ({"sk": "7"}, "GENERATED ALWAYS"),
        ],
        ids=["unknown", "row_id", "identity"],
    )
    def test_rejected_update_writes_no_files(
        self, spark, tmp_path, mode, assignments, match
    ):
        t = ManifestTable(str(tmp_path / "rej"))
        t.commit_overwrite(
            spark.range(0, 40, numPartitions=4).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("a")
            ),
            batch_id="seed", stats_cols=["k"],
        )
        t.enable_row_tracking(batch_id="rt")
        t.add_identity_column(name="sk", start=1, step=1, batch_id="idc")
        v = t.version()
        before = set(os.listdir(t.data_dir))
        with pytest.raises(ValueError, match=match):
            t.update_where(spark, "k < 5", assignments, batch_id="u",
                           mode=mode)
        assert t.version() == v
        assert set(os.listdir(t.data_dir)) == before

    @staticmethod
    def _rows(spark, lo, hi):
        return spark.range(lo, hi, numPartitions=1).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("a")
        )

    def _two_files(self, spark, tmp_path):
        t = ManifestTable(str(tmp_path / "two"))
        t.commit_overwrite(self._rows(spark, 0, 10), batch_id="seed",
                           stats_cols=["k"])
        t.commit_append(self._rows(spark, 10, 20), batch_id="app",
                        stats_cols=["k"])
        return t

    @pytest.mark.parametrize("op", ["update", "delete", "merge"])
    def test_cow_writers_list_no_zero_row_files(self, spark, tmp_path, op):
        # every row of the first file is acted on, so the rewrite's
        # partition 0 holds no row — and Spark writes partition 0 anyway
        t = self._two_files(spark, tmp_path)
        if op == "update":
            t.update_where(spark, "k < 10", {"a": "a + 1"}, batch_id="w")
        elif op == "delete":
            t.delete_where(spark, "k < 10", batch_id="w")
        else:
            t.merge_into(
                spark, self._rows(spark, 0, 10), key_columns=["k"],
                clauses=[("delete", None, None)], batch_id="w",
            )
        m = t._read_manifest()
        listed = m["files"] + m["cdc_files"]
        assert all(m["filemeta"][f]["rows"] > 0 for f in listed)
        got = sorted(r.k for r in t.read(spark).collect())
        assert got == list(range(0 if op == "update" else 10, 20))

    def test_cow_delete_emptying_the_table_keeps_one_file(
        self, spark, tmp_path
    ):
        t = self._two_files(spark, tmp_path)
        t.delete_where(spark, "k >= 0", batch_id="w")
        m = t._read_manifest()
        assert len(m["files"]) == 1
        assert m["filemeta"][m["files"][0]]["rows"] == 0
        got = t.read(spark)
        assert got.columns == ["k", "a"] and got.count() == 0


class TestVectorizedPrune:
    """r17 directive #4 — vectorized prune planning must produce
    keep-sets IDENTICAL to the per-file scalar loop for any stats
    content, falling back to the loop wherever float64 cannot
    represent the stats exactly."""

    @staticmethod
    def _loop_keep(t, m, bounds):
        return [
            f for f in m["files"]
            if all(
                t._overlaps(m, f, col, lo, hi)
                for col, (lo, hi) in bounds.items()
            )
        ]

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        entries=st.lists(
            st.one_of(
                st.none(),  # no stats: must always be kept
                st.tuples(
                    st.one_of(
                        st.integers(-(2**60), 2**60),  # incl. > 2^53
                        st.floats(allow_nan=True, allow_infinity=True),
                        st.text(min_size=0, max_size=4),
                        st.none(),
                    ),
                    st.one_of(
                        st.integers(-(2**60), 2**60),
                        st.floats(allow_nan=True, allow_infinity=True),
                        st.text(min_size=0, max_size=4),
                        st.none(),
                    ),
                ),
            ),
            min_size=0,
            max_size=40,
        ),
        lo=st.one_of(st.none(), st.integers(-100, 100),
                     st.floats(allow_nan=False, allow_infinity=False,
                               min_value=-1e6, max_value=1e6)),
        hi=st.one_of(st.none(), st.integers(-100, 100),
                     st.floats(allow_nan=False, allow_infinity=False,
                               min_value=-1e6, max_value=1e6)),
    )
    def test_keep_sets_identical_to_scalar_loop(
        self, tmp_path, entries, lo, hi
    ):
        import uuid as _uuid

        t = ManifestTable(str(tmp_path / f"vp-{_uuid.uuid4().hex}"))
        files = [f"f{i}.parquet" for i in range(len(entries))]
        stats = {}
        for f, e in zip(files, entries):
            if e is None:
                continue
            a, b = e
            # scalar _overlaps requires comparable types within one
            # compare; mixed str/num pairs would crash BOTH paths —
            # keep pairs homogeneous like real footer stats
            if isinstance(a, str) != isinstance(b, str):
                b = a
            stats[f] = {"k": [a, b]}
        t._publish({
            "version": 1, "files": files, "deltas": [],
            "batch_ids": ["s"], "stats": stats, "filemeta": {},
        })
        m = t._read_manifest()
        bounds = {"k": (lo, hi)}

        def safe(fn):
            try:
                return fn(), None
            except TypeError as exc:  # str-vs-num compare: both raise
                return None, "type"

        vec, verr = safe(lambda: t.prune_plan_multi(bounds)[0])
        loop, lerr = safe(lambda: self._loop_keep(t, m, bounds))
        assert verr == lerr
        if verr is None:
            assert vec == loop

    def test_string_stats_fall_back_and_match(self, tmp_path):
        t = ManifestTable(str(tmp_path / "vps"))
        files = [f"f{i}.parquet" for i in range(6)]
        stats = {
            "f0.parquet": {"k": ["aa", "cc"]},
            "f1.parquet": {"k": ["dd", "ff"]},
            "f3.parquet": {"k": ["b", "e"]},
        }
        t._publish({
            "version": 1, "files": files, "deltas": [],
            "batch_ids": ["s"], "stats": stats, "filemeta": {},
        })
        m = t._read_manifest()
        bounds = {"k": ("c", "d")}
        assert t.prune_plan_multi(bounds)[0] == self._loop_keep(t, m, bounds)
        # index cache records the fallback; a second plan agrees too
        bounds2 = {"k": ("a", "b")}
        assert t.prune_plan_multi(bounds2)[0] == self._loop_keep(t, m, bounds2)

    def test_index_invalidates_across_versions(self, tmp_path):
        t = ManifestTable(str(tmp_path / "vpv"))
        t._publish({
            "version": 1, "files": ["a.parquet"], "deltas": [],
            "batch_ids": ["s1"], "stats": {"a.parquet": {"k": [0, 10]}},
            "filemeta": {},
        })
        assert t.prune_plan("k", 5, 6)[0] == ["a.parquet"]
        t._publish({
            "version": 2, "files": ["a.parquet", "b.parquet"],
            "deltas": [], "batch_ids": ["s1", "s2"],
            "stats": {"a.parquet": {"k": [0, 10]},
                      "b.parquet": {"k": [20, 30]}},
            "filemeta": {}, "dml": True,
        })
        assert t.prune_plan("k", 25, 26)[0] == ["b.parquet"]
        assert t.prune_plan("k", 5, 6, version=1)[0] == ["a.parquet"]


class TestColumnDefaults:
    """r17 directive #6 — ADD COLUMN .. DEFAULT and generated columns:
    metadata-only declaration, default/generated fill on evolved reads
    (file-dated, never value-guessed), write-side fill + validation,
    DML/CDF/time-travel interaction, constraint composition."""

    @pytest.mark.parametrize("fill", ["default", "generated"])
    @pytest.mark.parametrize("writer", ["append", "delta"])
    def test_blind_append_aborts_on_racing_fill_declaration(
        self, spark, tmp_path, writer, fill
    ):
        """A batch filled against the old snapshot must not rebase over
        a concurrent ADD COLUMN .. DEFAULT / generated column: its files
        would be dated after the column's declaration, so reads would
        never fill them and the column would read NULL."""
        from pypeline_spark.sinks.manifest import CommitConflict

        t = ManifestTable(str(tmp_path / "fillrace"))
        t.commit_overwrite(
            spark.createDataFrame(
                [(k, k) for k in range(5)], "k long, a long"
            ),
            batch_id="seed",
        )
        b = ManifestTable(t.root)
        decl = (
            {"defaults": {"tier": "'N/A'"}}
            if fill == "default"
            else {"generated": {"tier": "cast(a as string)"}}
        )
        t._race_once = lambda: b.evolve_schema(
            "tier string", batch_id="e", **decl
        )
        batch = spark.createDataFrame(
            [(k, k) for k in range(10, 13)], "k long, a long"
        )

        def write():
            if writer == "append":
                return t.commit_append(batch, batch_id="w")
            return t.commit_delta(batch, ["k"], batch_id="w")

        with pytest.raises(CommitConflict, match="default"):
            write()
        assert "e" in t.applied_batch_ids()
        assert "w" not in t.applied_batch_ids()
        # the caller's retry fills the batch against the declared column
        write()
        got = {r["k"]: r["tier"] for r in t.read_resolved(spark).collect()}
        want = "N/A" if fill == "default" else None
        assert {k: got[k] for k in range(10, 13)} == {
            k: want or str(k) for k in range(10, 13)
        }

    @pytest.fixture()
    def cust(self, spark, sf_dir):
        from pypeline_spark.session import load_table

        return load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )

    def _seeded(self, tmp_path, cust, name):
        t = ManifestTable(str(tmp_path / name))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 50),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        return t

    def test_pre_files_read_default_not_null(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "d1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        got = t.read(spark)
        assert got.filter(F.col("tier") != "BASIC").count() == 0
        assert got.filter(F.col("tier").isNull()).count() == 0
        # time travel BEFORE the add: no such column
        assert "tier" not in t.read(spark, version=1).columns

    def test_post_add_null_stays_null(self, spark, tmp_path, cust):
        """missing-vs-null is FILE-dated: a post-add write that stores
        an explicit NULL keeps it (coalesce-at-read would lie)."""
        t = self._seeded(tmp_path, cust, "d2")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        batch = (
            cust.filter(
                (F.col("c_custkey") > 50) & (F.col("c_custkey") <= 55)
            ).withColumn("tier", F.lit(None).cast("string"))
        )
        t.commit_delta(batch, ["c_custkey"], batch_id="d")
        r = t.read_resolved(spark)
        assert r.filter(F.col("tier").isNull()).count() == 5
        assert r.filter(F.col("tier") == "BASIC").count() == 51

    def test_write_omitting_column_gets_default(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "d3")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        t.commit_delta(
            cust.filter(
                (F.col("c_custkey") > 50) & (F.col("c_custkey") <= 60)
            ),
            ["c_custkey"], batch_id="d",
        )
        r = t.read_resolved(spark)
        assert r.count() == 61
        assert r.filter(F.col("tier").isNull()).count() == 0

    def test_generated_computed_validated_and_rejected(
        self, spark, tmp_path, cust
    ):
        t = self._seeded(tmp_path, cust, "g1")
        t.evolve_schema(
            "cents bigint", batch_id="e",
            generated={"cents": "CAST(FLOOR(c_acctbal * 100) AS BIGINT)"},
        )
        bad = t.read(spark).filter(
            F.col("cents")
            != F.floor(F.col("c_acctbal") * 100).cast("bigint")
        )
        assert bad.count() == 0
        t.commit_delta(
            cust.filter(
                (F.col("c_custkey") > 50) & (F.col("c_custkey") <= 55)
            ),
            ["c_custkey"], batch_id="d1",
        )
        assert (
            t.read_resolved(spark).filter(F.col("cents").isNull()).count()
            == 0
        )
        wrong = cust.filter(
            (F.col("c_custkey") > 55) & (F.col("c_custkey") <= 60)
        ).withColumn("cents", F.lit(0).cast("bigint"))
        v = t.version()
        with pytest.raises(ConstraintViolation, match="generated"):
            t.commit_delta(wrong, ["c_custkey"], batch_id="d2")
        assert t.version() == v
        right = cust.filter(
            (F.col("c_custkey") > 55) & (F.col("c_custkey") <= 60)
        ).withColumn(
            "cents", F.floor(F.col("c_acctbal") * 100).cast("bigint")
        )
        t.commit_delta(right, ["c_custkey"], batch_id="d3")
        assert t.read_resolved(spark).count() == 61

    def test_merge_insert_fills_literal_default(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "m1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'NEW'"})
        src = spark.range(900, 905).select(
            F.col("id").alias("c_custkey"), F.lit(1.5).alias("c_acctbal")
        )
        t.merge_into(
            spark, src, key_columns=["c_custkey"],
            clauses=[(
                "insert", None,
                {"c_custkey": "s.c_custkey", "c_acctbal": "s.c_acctbal"},
            )],
            batch_id="m",
        )
        ins = t.read(spark).filter(F.col("c_custkey") >= 900)
        assert ins.count() == 5
        assert ins.filter(F.col("tier") != "NEW").count() == 0

    def test_compaction_materializes_then_fill_stops(
        self, spark, tmp_path, cust
    ):
        t = self._seeded(tmp_path, cust, "c1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        # OPTIMIZE reads through the fill and rewrites: values become
        # physical, and the new files carry schema_v past added_v
        t.optimize(spark, target_rows=30, batch_id="opt",
                   stats_cols=["c_custkey"])
        # clearing the default no longer changes reads
        t.clear_column_default("tier", batch_id="clr")
        r = t.read(spark)
        assert r.filter(F.col("tier") == "BASIC").count() == 51

    def test_clear_default_reverts_prefiles_to_null(
        self, spark, tmp_path, cust
    ):
        t = self._seeded(tmp_path, cust, "c2")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        t.clear_column_default("tier", batch_id="clr")
        assert (
            t.read(spark).filter(F.col("tier").isNull()).count() == 51
        )
        with pytest.raises(ValueError, match="no DEFAULT"):
            t.clear_column_default("tier")

    def test_cdf_and_dml_carry_defaults(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "f1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        v = t.version()
        t.update_where(
            spark, "c_custkey <= 5", {"c_acctbal": "c_acctbal + 1.0"},
            batch_id="u",
        )
        feed = t.changes(spark, v)
        post = feed.filter(F.col("_change_type") == "update_postimage")
        assert post.count() == 6
        # pre/post images read through the default fill
        assert post.filter(F.col("tier") != "BASIC").count() == 0
        t.delete_where(spark, "tier = 'BASIC' AND c_custkey > 45",
                       batch_id="dw")
        assert t.read(spark).count() == 46

    def test_constraint_interaction(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "k1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        # ADD CONSTRAINT scan-validates the snapshot WITH the default
        # applied (pre-files read 'BASIC', which passes)
        t.add_check_constraint(
            spark, "tier_ok", "tier IN ('BASIC', 'GOLD')", batch_id="cc"
        )
        # a new batch whose EXPLICIT tier violates the check is
        # rejected AFTER the fill (fill cannot mask a bad value)
        bad = cust.filter(F.col("c_custkey") == 60).withColumn(
            "tier", F.lit("JUNK")
        )
        with pytest.raises(ConstraintViolation):
            t.commit_delta(bad, ["c_custkey"], batch_id="b")
        # an omitting batch passes: the filled default satisfies it
        t.commit_delta(
            cust.filter(F.col("c_custkey") == 60), ["c_custkey"],
            batch_id="ok",
        )
        # dropping a column a generated col references is refused
        t2 = self._seeded(tmp_path, cust, "k2")
        t2.enable_column_mapping(batch_id="cm")
        t2.evolve_schema(
            "cents bigint", batch_id="e2",
            generated={"cents": "CAST(FLOOR(c_acctbal * 100) AS BIGINT)"},
        )
        with pytest.raises(ValueError, match="generated"):
            t2.drop_column("c_acctbal", batch_id="dc")

    def test_overwrite_carries_declarations(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "o1")
        t.evolve_schema("tier string", batch_id="e",
                        defaults={"tier": "'BASIC'"})
        # an overwrite whose batch omits the column: the declaration
        # is a table property — the fill completes the new content
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 20), batch_id="ow"
        )
        r = t.read(spark)
        assert r.count() == 21
        assert r.filter(F.col("tier") != "BASIC").count() == 0
        assert "tier" in r.columns

    def test_defaults_survive_columnar_checkpoint(
        self, spark, tmp_path, cust
    ):
        prev = ManifestTable.SIDECAR_MIN_FILES
        ManifestTable.SIDECAR_MIN_FILES = 0
        try:
            t = self._seeded(tmp_path, cust, "s1")
            t.evolve_schema("tier string", batch_id="e",
                            defaults={"tier": "'BASIC'"})
            for i in range(2, 12):  # cross a checkpoint boundary
                t.commit_delta(
                    cust.filter(F.col("c_custkey") == 50 + i),
                    ["c_custkey"], batch_id=f"d-{i}",
                )
            t2 = ManifestTable(t.root)  # cold
            m = t2._read_manifest()
            assert "tier" in (m.get("column_defaults") or {})
            r = t2.read_resolved(spark)
            assert r.filter(F.col("tier").isNull()).count() == 0
        finally:
            ManifestTable.SIDECAR_MIN_FILES = prev

    def test_declaration_validation(self, spark, tmp_path, cust):
        t = self._seeded(tmp_path, cust, "v1")
        with pytest.raises(ValueError, match="not in new_columns"):
            t.evolve_schema("a string", defaults={"b": "'x'"})
        with pytest.raises(ValueError, match="both"):
            t.evolve_schema(
                "a string", defaults={"a": "'x'"}, generated={"a": "'y'"}
            )
        t.evolve_schema("a string", batch_id="e1")
        with pytest.raises(ValueError, match="already exist"):
            t.evolve_schema("a string", defaults={"a": "'x'"})


class TestGeneratedRecompute:
    """Generated columns RECOMPUTE when DML/MERGE touches their source
    columns (the Delta rule) — and direct assignment is rejected."""

    @pytest.fixture()
    def gt(self, spark, sf_dir, tmp_path):
        from pypeline_spark.session import load_table

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        t = ManifestTable(str(tmp_path / "gr"))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 60),
            batch_id="seed", stats_cols=["c_custkey"],
        )
        t.evolve_schema(
            "cents bigint", batch_id="e",
            generated={"cents": "CAST(FLOOR(c_acctbal * 100) AS BIGINT)"},
        )
        return t

    @staticmethod
    def _consistent(df):
        return (
            df.filter(
                ~F.col("cents").eqNullSafe(
                    F.floor(F.col("c_acctbal") * 100).cast("bigint")
                )
            ).count()
            == 0
        )

    def test_update_where_recomputes_both_modes(self, spark, gt):
        gt.update_where(
            spark, "c_custkey <= 10", {"c_acctbal": "c_acctbal + 3.5"},
            batch_id="u1",
        )
        assert self._consistent(gt.read(spark))
        gt.update_where(
            spark, "c_custkey BETWEEN 11 AND 20",
            {"c_acctbal": "c_acctbal * 2"},
            batch_id="u2", mode="dv",
        )
        assert self._consistent(gt.read(spark))
        # the CDC post-images carry the recomputed value too
        post = gt.changes(spark, gt.version() - 1).filter(
            F.col("_change_type") == "update_postimage"
        )
        assert post.count() == 10 and self._consistent(post)

    def test_direct_assignment_rejected(self, spark, gt):
        with pytest.raises(ValueError, match="derived"):
            gt.update_where(
                spark, "c_custkey = 1", {"cents": "0"}, batch_id="x"
            )
        src = spark.range(1, 3).select(
            F.col("id").alias("c_custkey"),
            F.lit(5.0).alias("c_acctbal"),
            F.lit(0).cast("bigint").alias("cents"),
        )
        with pytest.raises(ValueError, match="derived"):
            gt.merge_into(
                spark, src, key_columns=["c_custkey"],
                clauses=[("update", None, {"cents": "s.cents"})],
                batch_id="y",
            )

    def test_merge_recomputes_updates_and_inserts(self, spark, gt):
        src = spark.range(50, 70).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") * 1.25).alias("c_acctbal"),
        )
        gt.merge_into(
            spark, src, key_columns=["c_custkey"],
            clauses=[("update", None, "*"), ("insert", None, "*")],
            batch_id="m",
        )
        r = gt.read(spark)
        assert r.count() == 70
        assert self._consistent(r)
        # inserted rows (61..69) got their generated value computed
        ins = r.filter(F.col("c_custkey") > 60)
        assert ins.count() == 9
        assert self._consistent(ins)
        assert ins.filter(F.col("cents").isNull()).count() == 0

    def test_chained_generated_recompute(self, spark, sf_dir, tmp_path):
        from pypeline_spark.session import load_table

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        t = ManifestTable(str(tmp_path / "chain"))
        t.commit_overwrite(
            cust.filter(F.col("c_custkey") <= 30), batch_id="seed"
        )
        t.evolve_schema(
            "cents bigint", batch_id="e1",
            generated={"cents": "CAST(FLOOR(c_acctbal * 100) AS BIGINT)"},
        )
        t.evolve_schema(
            "euros bigint", batch_id="e2",
            generated={"euros": "cents DIV 100"},
        )
        t.update_where(
            spark, "c_custkey <= 5", {"c_acctbal": "c_acctbal + 11.0"},
            batch_id="u",
        )
        r = t.read(spark)
        bad = r.filter(
            ~F.col("euros").eqNullSafe(
                F.expr("cents DIV 100").cast("bigint")
            )
            | ~F.col("cents").eqNullSafe(
                F.floor(F.col("c_acctbal") * 100).cast("bigint")
            )
        )
        assert bad.count() == 0


class TestColumnarVacuumSidecars:
    """Vacuum-horizon checkpoints (`_ckpt.vN.json`) go COLUMNAR above
    SIDECAR_MIN_FILES — same core+parquet form as commit checkpoints —
    and the whole chain (materialize, _scan_log, later vacuums, GC)
    reads through them."""

    def test_horizon_checkpoint_columnar_and_derivable(self, tmp_path):
        import json as _json

        prev = ManifestTable.SIDECAR_MIN_FILES
        ManifestTable.SIDECAR_MIN_FILES = 4
        try:
            t = ManifestTable(str(tmp_path / "cv"))
            for v in range(1, 16):
                files = [f"f{j}.parquet" for j in range(5 + v)]
                t._publish({
                    "version": v, "files": files, "deltas": [],
                    "batch_ids": [f"b{i}" for i in range(1, v + 1)],
                    "stats": {f: {"k": [i, i + 1]}
                              for i, f in enumerate(files)},
                    "filemeta": {f: {"bytes": 7, "rows": 3}
                                 for f in files},
                    **({"dml": True} if v > 1 else {}),
                })
            t.vacuum(keep_versions=3)  # horizon v13, mid-segment
            ck = t._ckpt_sidecar(13)
            assert os.path.exists(ck)
            with open(ck) as fh:
                wrap = _json.load(fh)
            assert "snapshot_core" in wrap and wrap.get("sidecar")
            assert os.path.exists(os.path.join(t.root, wrap["sidecar"]))
            # every retained version still materializes exactly
            t2 = ManifestTable(t.root)
            for v in (13, 14, 15):
                got = t2._manifest_at(v)
                assert got["version"] == v
                assert len(got["files"]) == 5 + v
                assert got["stats"]["f0.parquet"] == {"k": [0, 1]}
            # GC keeps the wrapper's parquet alive
            t2.gc_orphans(min_age_seconds=0.0)
            assert os.path.exists(os.path.join(t.root, wrap["sidecar"]))
            assert t2._manifest_at(13)["version"] == 13
            # a later vacuum advances the horizon and reaps BOTH halves
            for v in range(16, 22):
                files = [f"f{j}.parquet" for j in range(5 + v)]
                t2._publish({
                    "version": v, "files": files, "deltas": [],
                    "batch_ids": [f"b{i}" for i in range(1, v + 1)],
                    "stats": {}, "filemeta": {}, "dml": True,
                })
            t2.vacuum(keep_versions=2)
            assert not os.path.exists(ck)
            assert not os.path.exists(
                os.path.join(t.root, wrap["sidecar"])
            )
            assert t2._manifest_at(21)["version"] == 21
        finally:
            ManifestTable.SIDECAR_MIN_FILES = prev

    def test_row_tracked_filemeta_stays_typed(self, spark, tmp_path, sf_dir):
        """base_row_id / row_id_phys / schema_v ride the TYPED
        checkpoint columns (no JSON fallback for row-tracked
        tables)."""
        from pypeline_spark.session import load_table

        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
        prev = ManifestTable.SIDECAR_MIN_FILES
        ManifestTable.SIDECAR_MIN_FILES = 0
        try:
            import json as _json

            t = ManifestTable(str(tmp_path / "rtck"))
            t.commit_overwrite(
                cust.filter(F.col("c_custkey") <= 40),
                batch_id="seed", stats_cols=["c_custkey"],
            )
            t.enable_row_tracking(batch_id="rt")
            t.optimize(spark, target_rows=15, batch_id="opt",
                       stats_cols=["c_custkey"])
            # drive to the v10 CHECKPOINT boundary and inspect it
            t.add_not_null(spark, ["c_custkey"], batch_id="nn")
            k = 5
            while t.version() < 10:
                t.set_ledger_retention(k, batch_id=f"lr-{k}")
                k += 1
            tip = t.version()
            with open(
                os.path.join(t.root, f"_manifest.v{tip}.json")
            ) as fh:
                rec = _json.load(fh)
            assert rec.get("sidecar_typed", {}).get("filemeta") is True
            # cold reconstruction keeps ids + phys flags exactly
            t2 = ManifestTable(t.root)
            m = t2._materialize(tip)
            assert all(
                m["filemeta"][f].get("row_id_phys")
                and "base_row_id" in m["filemeta"][f]
                for f in m["files"]
            )
            ids = {
                r["c_custkey"]: r["_row_id"]
                for r in t2.read_rowids(spark).collect()
            }
            assert len(set(ids.values())) == len(ids) == 41
        finally:
            ManifestTable.SIDECAR_MIN_FILES = prev
