"""The `type: lakehouse` pipeline step (r17 directive #2): the YAML
surface dispatching onto ManifestTable MERGE/DML with the exactly-once
batch ledger — restart/replay semantics, dv-mode auto-selection, the
predicate UPDATE/DELETE forms, and spec validation."""

import os

import pytest
from pyspark.sql import functions as F

from pypeline_spark.pipeline.lakehouse import (
    LakehouseCatalog,
    run_lakehouse_step,
)
from pypeline_spark.pipeline.runner import Pypeline
from pypeline_spark.pipeline.spec import PipelineConfig, PypeSpec, SpecError
from pypeline_spark.session import register_tables
from pypeline_spark.sinks.manifest import StaleBatchReplay


@pytest.fixture()
def customers(spark, sf_dir):
    register_tables(spark, sf_dir)
    return spark.table("customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def _one_step_config(**overrides):
    step = {
        "extract_query": (
            "SELECT c_custkey, c_name, c_acctbal FROM customer "
            "WHERE c_custkey <= {hi}"
        ),
        "target_table": "dim",
        "type": "lakehouse",
        "lakehouse_op": "upsert",
        "key_columns": ["c_custkey"],
        "batch_id": "load-{seq}",
    }
    step.update(overrides)
    return PipelineConfig.from_dict(
        {"pypes": {"load": step}, "pypelines": {"p": ["load"]}}
    )


class TestLakehouseStep:
    def test_first_load_then_merge_upsert(self, spark, tmp_path, customers):
        cat = LakehouseCatalog(str(tmp_path))
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 100, "seq": 1})
        t = cat.table("dim")
        assert t.version() == 1  # first load seeds via overwrite
        assert t.read(spark).count() == 101  # keys 0..100
        # second run widens the slice: 100 matched updates + inserts
        pl.run("p", {"hi": 140, "seq": 2})
        assert t.version() == 2
        assert t.read(spark).count() == 141
        # the commit is a real MERGE: typed CDC rides the feed
        kinds = {
            r["_change_type"]
            for r in t.changes(spark, 1).select("_change_type").distinct().collect()
        }
        assert "insert" in kinds and "update_postimage" in kinds

    def test_rerun_is_ledger_noop(self, spark, tmp_path, customers):
        cat = LakehouseCatalog(str(tmp_path))
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 120, "seq": 1})
        pl.run("p", {"hi": 200, "seq": 2})
        t = cat.table("dim")
        v = t.version()
        before = t.read(spark).orderBy("c_custkey").collect()
        # a restart replays BOTH steps with the same batch ids: the
        # ledger absorbs each as a no-op — no version, no content drift
        pl.run("p", {"hi": 120, "seq": 1})
        pl.run("p", {"hi": 200, "seq": 2})
        assert t.version() == v
        assert t.read(spark).orderBy("c_custkey").collect() == before

    def test_beyond_retention_replay_raises_stale(
        self, spark, tmp_path, customers
    ):
        cat = LakehouseCatalog(str(tmp_path))
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 100, "seq": 1})
        cat.table("dim").set_ledger_retention(2)
        for seq in (2, 3, 4, 5):
            pl.run("p", {"hi": 100 + seq, "seq": seq})
        # seq 1 expired from the bounded ledger; its stream's
        # high-water mark proves it predates retention — the YAML
        # surface rejects the replay loudly instead of double-applying
        with pytest.raises(StaleBatchReplay):
            pl.run("p", {"hi": 100, "seq": 1})
        # an id still IN the ledger stays a clean no-op
        v = cat.table("dim").version()
        pl.run("p", {"hi": 105, "seq": 5})
        assert cat.table("dim").version() == v

    def test_dv_mode_over_outstanding_deltas(
        self, spark, tmp_path, customers
    ):
        cat = LakehouseCatalog(str(tmp_path))
        t = cat.table("dim")
        t.commit_overwrite(
            customers.filter(F.col("c_custkey") <= 120), batch_id="seed"
        )
        t.commit_delta(
            customers.filter(F.col("c_custkey") <= 40),
            ["c_custkey"],
            batch_id="reup",
        )  # outstanding merge-on-read delta
        m0 = t._read_manifest()
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 149, "seq": 1})  # updates + inserts
        m1 = t._read_manifest()
        # the step auto-selected mode='dv': nothing rewritten, the
        # delta fileset carried verbatim
        assert m1["files"][: len(m0["files"])] == m0["files"]
        assert m1.get("deltas") == m0.get("deltas")
        assert t.read(spark).count() == 150  # 121 seeded + 29 inserted

    def test_update_where_and_delete_where_forms(
        self, spark, tmp_path, customers
    ):
        cat = LakehouseCatalog(str(tmp_path))
        t = cat.table("dim")
        t.commit_overwrite(
            customers.filter(F.col("c_custkey") <= 100), batch_id="seed"
        )
        cfg = PipelineConfig.from_dict(
            {
                "pypes": {
                    "flag": {
                        "extract_query": "",
                        "target_table": "dim",
                        "type": "lakehouse",
                        "lakehouse_op": "update",
                        "where": "c_custkey <= 10",
                        "assignments": {"c_acctbal": "c_acctbal + 1000.0"},
                        "batch_id": "flag-{seq}",
                    },
                    "purge": {
                        "extract_query": "",
                        "target_table": "dim",
                        "type": "lakehouse",
                        "lakehouse_op": "delete",
                        "where": "c_custkey > 90",
                        "batch_id": "purge-{seq}",
                    },
                },
                "pypelines": {"p": ["flag", "purge"]},
            }
        )
        base = {
            r["c_custkey"]: r["c_acctbal"]
            for r in customers.filter(F.col("c_custkey") <= 100).collect()
        }
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"seq": 1})
        got = {
            r["c_custkey"]: r["c_acctbal"]
            for r in t.read(spark).collect()
        }
        assert set(got) == {k for k in base if k <= 90}
        for k, v in got.items():
            want = base[k] + 1000.0 if k <= 10 else base[k]
            assert v == pytest.approx(want)

    def test_post_query_sees_resolved_view(self, spark, tmp_path, customers):
        cat = LakehouseCatalog(str(tmp_path))
        cfg = _one_step_config(
            post_query=(
                "CREATE OR REPLACE TEMPORARY VIEW dim_summary AS "
                "SELECT COUNT(*) AS n FROM dim"
            )
        )
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 77, "seq": 1})
        assert spark.table("dim_summary").collect()[0]["n"] == 78

    def test_keyed_delete_dedupes_source(self, spark, tmp_path, customers):
        cat = LakehouseCatalog(str(tmp_path))
        t = cat.table("dim")
        t.commit_overwrite(
            customers.filter(F.col("c_custkey") <= 100), batch_id="seed"
        )
        cfg = PipelineConfig.from_dict(
            {
                "pypes": {
                    "del": {
                        # duplicate key rows (the reference set-dedups,
                        # Pype.py:184) must not trip the merge ambiguity
                        "extract_query": (
                            "SELECT c_custkey FROM customer "
                            "WHERE c_custkey <= 20 "
                            "UNION ALL SELECT c_custkey FROM customer "
                            "WHERE c_custkey <= 20"
                        ),
                        "target_table": "dim",
                        "type": "lakehouse",
                        "lakehouse_op": "delete",
                        "identifier": "c_custkey",
                        "batch_id": "del-1",
                    }
                },
                "pypelines": {"p": ["del"]},
            }
        )
        Pypeline(spark, cfg, lakehouse=cat).run("p")
        assert t.read(spark).filter(F.col("c_custkey") <= 20).count() == 0
        assert t.read(spark).count() == 80  # 101 - 21 deleted

    def test_composes_with_row_tracking_and_identity(
        self, spark, tmp_path, customers
    ):
        """r18: the YAML surface over a ROW-TRACKED table with an
        IDENTITY column — the ADVICE r18 composition gap: dv
        auto-select now includes row tracking, updates keep both the
        row id and the derived identity, merge inserts mint fresh."""
        cat = LakehouseCatalog(str(tmp_path))
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg, lakehouse=cat)
        pl.run("p", {"hi": 100, "seq": 1})
        t = cat.table("dim")
        t.enable_row_tracking(batch_id="rt")
        t.add_identity_column("sk", start=10, step=3, batch_id="idc")
        before = {
            r["c_custkey"]: (r["_row_id"], r["sk"])
            for r in t.read_rowids(spark).collect()
        }
        assert all(
            sk == 10 + 3 * rid for rid, sk in before.values()
        )
        # the step auto-selects dv on the tracked table: updates keep
        # identity, inserts mint fresh
        pl.run("p", {"hi": 130, "seq": 2})
        after = {
            r["c_custkey"]: (r["_row_id"], r["sk"])
            for r in t.read_rowids(spark).collect()
        }
        assert all(after[k] == before[k] for k in before)
        fresh = [after[k][1] for k in after if k not in before]
        assert fresh and len(set(v[1] for v in after.values())) == len(after)
        # replay stays a ledger no-op with the features on
        v = t.version()
        pl.run("p", {"hi": 130, "seq": 2})
        assert t.version() == v

    def test_missing_catalog_raises(self, spark, customers):
        cfg = _one_step_config()
        pl = Pypeline(spark, cfg)  # no lakehouse=
        with pytest.raises(ValueError, match="LakehouseCatalog"):
            pl.run("p", {"hi": 10, "seq": 1})

    def test_registered_root_resolution(self, spark, tmp_path, customers):
        cat = LakehouseCatalog(str(tmp_path / "base"))
        ext = str(tmp_path / "elsewhere")
        cat.register("dim", ext)
        cfg = _one_step_config()
        Pypeline(spark, cfg, lakehouse=cat).run("p", {"hi": 10, "seq": 1})
        assert os.path.exists(os.path.join(ext, "_manifest.v1.json"))


class TestLakehouseSpecValidation:
    def test_bad_op(self):
        with pytest.raises(SpecError, match="lakehouse_op"):
            PypeSpec(
                name="x", extract_query="SELECT 1", target_table="t",
                type="lakehouse", lakehouse_op="merge",
            )

    def test_upsert_requires_keys(self):
        with pytest.raises(SpecError, match="key_columns"):
            PypeSpec(
                name="x", extract_query="SELECT 1", target_table="t",
                type="lakehouse", key_columns=(),
            )

    def test_update_where_requires_assignments(self):
        with pytest.raises(SpecError, match="assignments"):
            PypeSpec(
                name="x", extract_query="", target_table="t",
                type="lakehouse", lakehouse_op="update", where="x > 1",
            )

    def test_delete_requires_identifier_or_where(self):
        with pytest.raises(SpecError, match="identifier"):
            PypeSpec(
                name="x", extract_query="SELECT 1", target_table="t",
                type="lakehouse", lakehouse_op="delete",
            )

    def test_predicate_forms_need_no_extract(self):
        spec = PypeSpec(
            name="x", extract_query="", target_table="t",
            type="lakehouse", lakehouse_op="delete", where="x > 1",
        )
        assert spec.where == "x > 1"

    def test_where_rejected_on_other_types(self):
        with pytest.raises(SpecError, match="lakehouse"):
            PypeSpec(
                name="x", extract_query="SELECT 1", target_table="t",
                type="upsert", where="x > 1",
            )

    def test_batch_id_rejected_on_other_types(self):
        with pytest.raises(SpecError, match="ledger"):
            PypeSpec(
                name="x", extract_query="SELECT 1", target_table="t",
                type="append", batch_id="a-1",
            )



class TestKeyRangePruning:
    """Keyed lakehouse steps prune their MERGE by the first key column's
    range and write key stats on the files they add.  Pruning must be
    exact on a messy table: dv-deleted rows, an outstanding delta with
    a tombstone, and post-image files of an earlier step."""

    @staticmethod
    def _df(spark, keys, tag):
        return spark.createDataFrame(
            [(k // 50, k, f"{tag}{k}") for k in keys],
            "g long, k long, v string",
        )

    def _step(self, spark, cat, op, keys, batch, tag, exp):
        """Run one keyed step on table ``t`` and apply its semantics to
        the expected rows ``exp`` (keyed by ``k``)."""
        batch = list(batch)
        kw = (
            {"identifier": keys[0]} if op == "delete"
            else {"key_columns": keys}
        )
        spec = PypeSpec(
            name=op, extract_query="SELECT 1", target_table="t",
            type="lakehouse", lakehouse_op=op, batch_id=f"{op}-{tag}", **kw,
        )
        run_lakehouse_step(spark, cat, spec, self._df(spark, batch, tag), {})
        for k in batch:
            if op == "delete":
                exp.pop(k, None)
            elif op == "upsert" or k in exp:
                exp[k] = {"g": k // 50, "k": k, "v": f"{tag}{k}"}

    def _messy(self, spark, root, keys):
        """Keys 0..399 minus the gap 100..139, range-partitioned over 8
        base files with key stats; every k % 10 == 7 dv-deleted; a
        delta re-upserting 60..69, adding the delta-only key 120 and
        tombstoning 50; then an upsert step's post images for 200..209.
        Returns the catalog and the expected resolved rows."""
        cat = LakehouseCatalog(str(root))
        t = cat.table("t")
        seeded = [k for k in range(400) if not 100 <= k < 140]
        t.commit_overwrite(
            self._df(spark, seeded, "s").repartitionByRange(8, "g", "k"),
            batch_id="seed", stats_cols=keys,
        )
        t.delete_where(spark, "k % 10 = 7", batch_id="trim", mode="dv")
        redo = [k for k in range(60, 70) if k % 10 != 7] + [120]
        t.commit_delta(
            self._df(spark, redo, "d"), keys, batch_id="redo",
            stats_cols=keys,
            deletes=spark.createDataFrame([(1, 50)], "g long, k long"),
        )
        exp = {
            k: {"g": k // 50, "k": k, "v": f"s{k}"}
            for k in seeded if k % 10 != 7 and k != 50
        }
        exp.update({k: {"g": k // 50, "k": k, "v": f"d{k}"} for k in redo})
        self._step(spark, cat, "upsert", keys, range(200, 210), "p", exp)
        return cat, exp

    @pytest.mark.parametrize(
        "keys", [["k"], ["g", "k"]], ids=["single", "composite"]
    )
    def test_pruned_steps_match_model_and_unpruned(
        self, spark, tmp_path, monkeypatch, keys
    ):
        import shutil

        cat, exp = self._messy(spark, tmp_path / "pruned", keys)
        shutil.copytree(tmp_path / "pruned", tmp_path / "blind")
        blind = LakehouseCatalog(str(tmp_path / "blind"))
        # every manifest read of the copy sees no file stats, so its
        # merges take the unpruned path
        bt = blind.table("t")
        read = bt._read_manifest
        monkeypatch.setattr(
            bt, "_read_manifest", lambda: {**read(), "stats": {}}
        )
        plan = [
            # base keys, the gap 100..139 (inserts), the dv-deleted
            # keys 107/117 and the delta-only key 120
            ("upsert", range(95, 125), "u"),
            # post-image keys 205..209, base keys 210..214, absent 500
            ("update", list(range(205, 215)) + [500], "w"),
            ("delete", list(range(300, 310)) + [1000], "x"),
            # the tombstoned key 50 and its neighbour
            ("upsert", [50, 51], "y"),
        ]
        if len(keys) > 1:
            # a keyed delete names one identifier column, and a delta'd
            # table only merges on its full recorded key
            plan = [p for p in plan if p[0] != "delete"]
        for op, batch, tag in plan:
            self._step(spark, cat, op, keys, batch, tag, exp)
            self._step(spark, blind, op, keys, batch, tag, {})

        def resolved(c):
            return sorted(map(tuple, c.get(spark, "t").collect()))

        got = resolved(cat)
        assert got == sorted((r["g"], r["k"], r["v"]) for r in exp.values())
        assert resolved(blind) == got

    def test_step_reads_only_overlapping_base_files(
        self, spark, tmp_path, monkeypatch
    ):
        cat, _exp = self._messy(spark, tmp_path, ["k"])
        t = cat.table("t")
        m0 = t._read_manifest()
        base = m0["files"]
        lo, hi = 95, 124
        want = {
            f for f in base
            if m0["stats"][f]["k"][0] <= hi and m0["stats"][f]["k"][1] >= lo
        }
        assert 0 < len(want) < len(base)
        seen = set()
        for name in ("_read_base", "_read_base_tagged"):
            orig = getattr(t, name)

            def spy(spark_, m, names, *a, _orig=orig, **kw):
                seen.update(f for f in names if f in base)
                return _orig(spark_, m, names, *a, **kw)

            monkeypatch.setattr(t, name, spy)
        self._step(spark, cat, "upsert", ["k"], range(lo, hi + 1), "u", {})
        m1 = t._read_manifest()
        assert m1["version"] == m0["version"] + 1
        assert seen and seen <= want
        # the post images record their key range in the manifest
        added = [f for f in m1["files"] if f not in base]
        assert added
        for f in added:
            flo, fhi = m1["stats"][f]["k"]
            assert lo <= flo <= fhi <= hi
