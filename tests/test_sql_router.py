"""The six-shape SQL statement router over ManifestTable (r18
directive #3): MERGE / UPDATE / DELETE / DESCRIBE HISTORY / VACUUM /
RESTORE parsed and dispatched, unsupported syntax rejected loudly,
post_query write-capability on lakehouse pipeline steps."""

import pytest
from pyspark.sql import functions as F

from pypeline_spark.session import load_table, register_tables
from pypeline_spark.sinks.manifest import ManifestTable
from pypeline_spark.sinks.sql import (
    SqlStatementError,
    execute_table_sql,
    parse_statement,
    try_execute_table_sql,
)


@pytest.fixture()
def cust(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )


def _table(tmp_path, cust, name="t", hi=60):
    t = ManifestTable(str(tmp_path / name))
    t.commit_overwrite(
        cust.filter(F.col("c_custkey") <= hi).repartitionByRange(
            4, "c_custkey"
        ),
        batch_id="seed",
        stats_cols=["c_custkey"],
    )
    return t


class TestStatements:
    def test_update_where(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust)
        v = execute_table_sql(
            spark, lambda n: t,
            "UPDATE accounts SET c_acctbal = c_acctbal + 10.0, "
            "c_mktsegment = 'X' WHERE c_custkey < 5;",
        )
        assert v == 2
        got = t.read(spark).filter("c_custkey < 5")
        assert got.filter("c_mktsegment = 'X'").count() == got.count()

    def test_update_without_where_hits_all(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "u2", hi=10)
        execute_table_sql(
            spark, lambda n: t, "UPDATE t SET c_acctbal = 0.0"
        )
        df = t.read(spark)
        assert df.filter("c_acctbal = 0.0").count() == df.count()

    def test_delete_from(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "d1")
        n0 = t.read(spark).count()
        execute_table_sql(
            spark, lambda n: t,
            "DELETE FROM accounts WHERE c_custkey % 2 = 0",
        )
        df = t.read(spark)
        assert df.count() < n0
        assert df.filter("c_custkey % 2 = 0").count() == 0

    def test_merge_full_surface(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "m1")
        cust.filter(F.col("c_custkey").between(50, 70)).select(
            "c_custkey", (F.col("c_acctbal") * 2).alias("bal")
        ).createOrReplaceTempView("router_src")
        v = execute_table_sql(
            spark, lambda n: t,
            """MERGE INTO accounts a USING router_src u
               ON a.c_custkey = u.c_custkey
               WHEN MATCHED THEN UPDATE SET c_acctbal = u.bal
               WHEN NOT MATCHED THEN INSERT
                   (c_custkey, c_acctbal, c_mktsegment)
                   VALUES (u.c_custkey, u.bal, 'NEW')""",
        )
        assert v == 2
        got = {r.c_custkey: (r.c_acctbal, r.c_mktsegment)
               for r in t.read(spark).collect()}
        assert set(got) == set(range(71))
        assert all(got[k][1] == "NEW" for k in range(61, 71))

    def test_merge_using_subquery_and_update_star(
        self, spark, tmp_path, cust
    ):
        t = _table(tmp_path, cust, "m2", hi=30)
        register = cust.filter(F.col("c_custkey") <= 40)
        register.createOrReplaceTempView("router_all")
        execute_table_sql(
            spark, lambda n: t,
            """MERGE INTO accounts USING (
                 SELECT c_custkey, c_acctbal + 1.0 AS c_acctbal,
                        c_mktsegment
                 FROM router_all WHERE c_custkey <= 35
               ) AS src
               ON accounts.c_custkey = src.c_custkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        df = t.read(spark)
        assert df.count() == 36

    def test_insert_into(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "ins1", hi=20)
        v = execute_table_sql(
            spark, lambda n: t,
            "INSERT INTO t VALUES (1000, 5.0, 'NEW'), (1001, 6.0, 'NEW')",
        )
        assert v == 2
        assert t._load_record(v)["kind"] == "append"
        assert t.read(spark).filter("c_custkey >= 1000").count() == 2
        cust.filter(F.col("c_custkey").between(100, 110)
                    ).createOrReplaceTempView("ins_src")
        execute_table_sql(
            spark, lambda n: t,
            "INSERT INTO t (c_custkey, c_acctbal, c_mktsegment) "
            "SELECT c_custkey, c_acctbal, c_mktsegment FROM ins_src",
        )
        assert t.read(spark).count() == 21 + 2 + 11
        with pytest.raises(SqlStatementError, match="VALUES"):
            parse_statement("INSERT INTO t SET x = 1")
        with pytest.raises(SqlStatementError, match="column list"):
            execute_table_sql(
                spark, lambda n: t,
                "INSERT INTO t (a, b) VALUES (1, 2, 3)",
            )

    def test_alter_table_shapes(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "alt1", hi=20)
        execute_table_sql(
            spark, lambda n: t,
            "ALTER TABLE t ADD COLUMNS (tier string DEFAULT 'STD', "
            "bonus double)",
        )
        df = t.read(spark)
        assert df.filter("tier = 'STD'").count() == 21  # pre-add fill
        assert "bonus" in df.columns
        execute_table_sql(
            spark, lambda n: t,
            "ALTER TABLE t ADD CONSTRAINT pos CHECK (c_custkey >= 0)",
        )
        with pytest.raises(Exception, match="pos"):
            t.commit_append(
                cust.filter(F.col("c_custkey") == 5).select(
                    (-F.col("c_custkey")).alias("c_custkey"), "c_acctbal"
                ),
                batch_id="bad",
            )
        execute_table_sql(
            spark, lambda n: t, "ALTER TABLE t DROP CONSTRAINT pos"
        )
        assert "pos" not in (
            t._read_manifest().get("constraints") or {}
        ).get("checks", {})
        for bad, frag in [
            ("ALTER TABLE t RENAME COLUMN a TO b", "supported ALTER"),
            ("ALTER TABLE t ADD COLUMN x", "column declaration"),
            ("ALTER TABLE t ADD COLUMN x int NOT NULL",
             "unsupported column option"),
        ]:
            with pytest.raises(SqlStatementError, match=frag):
                parse_statement(bad)

    def test_describe_history_vacuum_restore(self, spark, tmp_path, cust):
        t = _table(tmp_path, cust, "h1", hi=20)
        execute_table_sql(
            spark, lambda n: t, "DELETE FROM t WHERE c_custkey > 10"
        )
        hist = execute_table_sql(spark, lambda n: t, "DESCRIBE HISTORY t")
        assert hist.count() == 2
        assert {r["kind"] for r in hist.collect()} >= {"overwrite", "dml"}
        # restore to v1 resurrects the deleted slice
        v = execute_table_sql(
            spark, lambda n: t, "RESTORE TABLE t TO VERSION AS OF 1"
        )
        assert v == 3
        assert t.read(spark).count() == 21
        # dry-run vacuum is side-effect free; real vacuum reaps the
        # DML rewrite's files once retention drops to zero
        n_dry = execute_table_sql(
            spark, lambda n: t, "VACUUM t RETAIN 0 HOURS DRY RUN"
        )
        assert n_dry > 0
        assert t.read(spark).count() == 21
        n = execute_table_sql(spark, lambda n: t, "VACUUM t")
        assert n == n_dry
        assert t.read(spark).count() == 21

    def test_dv_auto_select(self, spark, tmp_path, cust):
        """DML through the router picks deletion vectors whenever
        outstanding deltas or row tracking demand/deserve it."""
        t = _table(tmp_path, cust, "dv1", hi=30)
        t.commit_delta(
            cust.filter(F.col("c_custkey").between(31, 35)),
            ["c_custkey"], batch_id="d1",
        )
        base = list(t._read_manifest()["files"])
        # predicate DELETE on a delta'd table routes through the keyed
        # dv merge (r18 headroom): no base rewrite, deltas carried, all
        # images of matched keys suppressed
        execute_table_sql(
            spark, lambda n: t, "DELETE FROM t WHERE c_custkey <= 5"
        )
        m = t._read_manifest()
        assert m["files"][: len(base)] == base  # dv merge: no rewrite
        assert m.get("dv")
        assert m.get("deltas")  # outstanding deltas carried through
        assert t.read_resolved(spark).count() == 30
        # predicate UPDATE over the same delta'd state
        execute_table_sql(
            spark, lambda n: t,
            "UPDATE t SET c_acctbal = 0.0 WHERE c_custkey BETWEEN 31 AND 33",
        )
        got = {r.c_custkey: r.c_acctbal
               for r in t.read_resolved(spark).collect()}
        assert all(got[k] == 0.0 for k in (31, 32, 33))
        assert t._read_manifest().get("deltas")
        # row-tracked table: ids preserved through routed UPDATE
        t2 = _table(tmp_path, cust, "dv2", hi=20)
        t2.enable_row_tracking(batch_id="rt")
        before = {r["c_custkey"]: r["_row_id"]
                  for r in t2.read_rowids(spark).collect()}
        execute_table_sql(
            spark, lambda n: t2,
            "UPDATE t2 SET c_acctbal = 1.0 WHERE c_custkey <= 3",
        )
        after = {r["c_custkey"]: r["_row_id"]
                 for r in t2.read_rowids(spark).collect()}
        assert after == before

    def test_rejections(self, spark):
        bad = [
            ("SELECT 1", "not a manifest-table"),
            ("MERGE INTO t USING s ON t.a > s.a WHEN MATCHED THEN DELETE",
             "equality"),
            ("MERGE INTO t USING s ON t.a = s.b WHEN MATCHED THEN DELETE",
             "equality"),
            ("MERGE INTO t USING s ON t.a = s.a", "WHEN clause"),
            ("MERGE INTO t USING s ON t.a = s.a "
             "WHEN NOT MATCHED THEN UPDATE SET x = 1", "INSERT only"),
            ("MERGE INTO t USING s ON t.a = s.a "
             "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *", "BY SOURCE"),
            ("MERGE INTO t USING s ON t.a = s.a "
             "WHEN MATCHED THEN INSERT *", "WHEN NOT MATCHED"),
            ("MERGE INTO t USING s ON t.a = s.a "
             "WHEN MATCHED THEN UPSERT", "unsupported action"),
            ("MERGE INTO t USING s ON t.a = s.a WHEN NOT MATCHED THEN "
             "INSERT (a, b) VALUES (1)", "columns but"),
            ("UPDATE t SET WHERE x = 1", "assignment"),
            ("UPDATE t SET x = 1, x = 2", "assigned twice"),
            ("DELETE FROM t WHERE", "empty WHERE"),
            ("DESCRIBE HISTORY", "DESCRIBE HISTORY"),
            ("VACUUM t RETAIN five HOURS", "VACUUM"),
            ("RESTORE t TO VERSION AS OF x", "version literal"),
            ("RESTORE t AS OF 3", "RESTORE"),
        ]
        for sql, frag in bad:
            with pytest.raises(SqlStatementError, match=frag):
                parse_statement(sql)

    def test_quoted_strings_survive_realias(self, spark, tmp_path, cust):
        """String literals containing 'alias.' shapes are untouched by
        alias canonicalization."""
        t = _table(tmp_path, cust, "q1", hi=10)
        execute_table_sql(
            spark, lambda n: t,
            "UPDATE t SET c_mktsegment = 't. u. literal' "
            "WHERE c_custkey = 1",
        )
        got = t.read(spark).filter("c_custkey = 1").first()
        assert got["c_mktsegment"] == "t. u. literal"


class TestPostQueryRouting:
    def test_post_query_writes_through_router(
        self, spark, sf_dir, tmp_path
    ):
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig

        register_tables(spark, sf_dir)
        config = PipelineConfig.from_dict({
            "pypes": {
                "seed": {
                    "extract_query": (
                        "SELECT c_custkey AS k, c_acctbal AS amt "
                        "FROM customer WHERE c_custkey <= 40"
                    ),
                    "target_table": "ledger",
                    "type": "lakehouse",
                    "lakehouse_op": "overwrite",
                    "key_columns": ["k"],
                    "batch_id": "seed-1",
                    # the write-capable post hook: a DELETE statement
                    # against the table the step just wrote
                    "post_query": "DELETE FROM ledger WHERE k % 2 = 0",
                },
            },
            "pypelines": {"p": ["seed"]},
        })
        cat = LakehouseCatalog(str(tmp_path))
        Pypeline(spark, config, lakehouse=cat).run("p")
        t = cat.table("ledger")
        assert t.version() == 2  # seed + the routed DELETE
        assert t.read(spark).filter("k % 2 = 0").count() == 0
        # the registered view reflects the post-DML state
        assert spark.table("ledger").filter("k % 2 = 0").count() == 0

    def test_keyed_step_post_query_writes_through_router(
        self, spark, sf_dir, tmp_path
    ):
        """The post hook routes by the table it names, not by the
        step's type: a DELETE on a lakehouse table from an upsert step
        into a MemoryCatalog lands as a new table version."""
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig
        from pypeline_spark.sinks.keyed import MemoryCatalog

        register_tables(spark, sf_dir)
        config = PipelineConfig.from_dict({
            "pypes": {
                "seed": {
                    "extract_query": (
                        "SELECT c_custkey AS k, c_acctbal AS amt "
                        "FROM customer WHERE c_custkey BETWEEN 1 AND 40"
                    ),
                    "target_table": "audit",
                    "type": "lakehouse",
                    "lakehouse_op": "overwrite",
                    "batch_id": "seed-1",
                },
                "dim": {
                    "extract_query": (
                        "SELECT c_custkey AS k, c_name FROM customer "
                        "WHERE c_custkey BETWEEN 1 AND 10"
                    ),
                    "target_table": "names",
                    "type": "upsert",
                    "key_columns": ["k"],
                    "post_query": "DELETE FROM audit WHERE k > 20",
                },
            },
            "pypelines": {"p": ["seed", "dim"]},
        })
        lake = LakehouseCatalog(str(tmp_path))
        mem = MemoryCatalog()
        Pypeline(spark, config, catalog=mem, lakehouse=lake).run("p")
        t = lake.table("audit")
        assert t.version() == 2  # seed + the routed DELETE
        assert t.read(spark).count() == 20
        assert spark.table("audit").count() == 20  # view refreshed
        assert mem.get("names").count() == 10

    def test_non_claimed_post_query_falls_back(self, spark, sf_dir, tmp_path):
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig

        register_tables(spark, sf_dir)
        config = PipelineConfig.from_dict({
            "pypes": {
                "seed": {
                    "extract_query": (
                        "SELECT c_custkey AS k FROM customer "
                        "WHERE c_custkey <= 10"
                    ),
                    "target_table": "ledger2",
                    "type": "lakehouse",
                    "lakehouse_op": "overwrite",
                    "batch_id": "seed-1",
                    # plain SELECT: spark.sql fallback, no routing
                    "post_query": "SELECT COUNT(*) FROM ledger2",
                },
            },
            "pypelines": {"p": ["seed"]},
        })
        cat = LakehouseCatalog(str(tmp_path))
        Pypeline(spark, config, lakehouse=cat).run("p")
        assert cat.table("ledger2").version() == 1

    def test_unknown_table_falls_back(self, spark, tmp_path):
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog

        cat = LakehouseCatalog(str(tmp_path))
        routed, res, name = try_execute_table_sql(
            spark, cat, "DELETE FROM never_seeded WHERE x = 1"
        )
        assert routed is False and res is None and name is None

    def test_malformed_claimed_statement_raises(self, spark, tmp_path, cust):
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog

        cat = LakehouseCatalog(str(tmp_path))
        _table(tmp_path, cust, "known", hi=5)
        cat.register("known", str(tmp_path / "known"))
        with pytest.raises(SqlStatementError):
            try_execute_table_sql(
                spark, cat, "MERGE INTO known USING s ON x WHEN"
            )

    def test_repeat_fallthrough_is_not_cached_as_lakehouse(
        self, spark, tmp_path
    ):
        """r19 ADVICE (high): the r18 routing probe cached an empty
        ManifestTable instance (and mkdir'd its root), so the SECOND
        identical statement against a plain Spark table found the name
        "known" and was silently routed to a phantom lakehouse table.
        Routing must decide on ownership (registered root or committed
        version files), never on the probe's own instance cache."""
        import os

        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog

        cat = LakehouseCatalog(str(tmp_path))
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(0).alias("v")
        ).createOrReplaceTempView("plain_tbl")
        for _ in range(3):  # every repetition must keep falling through
            routed, res, name = try_execute_table_sql(
                spark, cat, "DELETE FROM plain_tbl WHERE k = 1"
            )
            assert routed is False and res is None and name is None
        # and the probe left no phantom table directory behind
        assert not os.path.exists(str(tmp_path / "plain_tbl"))

    def test_unclaimed_grammar_falls_through_for_foreign_targets(
        self, spark, tmp_path, cust
    ):
        """r19 ADVICE (low): valid Spark SQL outside the router's
        grammar (INSERT OVERWRITE, ALTER .. RENAME) must fall through
        to spark.sql when the target is NOT a catalog table — and stay
        a loud SqlStatementError when it IS one."""
        from pypeline_spark.pipeline.lakehouse import LakehouseCatalog

        cat = LakehouseCatalog(str(tmp_path))
        for stmt in (
            "INSERT OVERWRITE some_spark_tbl SELECT 1 AS x",
            "ALTER TABLE some_spark_tbl RENAME TO other_tbl",
            "UPDATE some_spark_tbl SET x = y = z",
        ):
            routed, res, name = try_execute_table_sql(spark, cat, stmt)
            assert routed is False and res is None and name is None
        _table(tmp_path, cust, "owned9", hi=5)
        cat.register("owned9", str(tmp_path / "owned9"))
        with pytest.raises(SqlStatementError):
            try_execute_table_sql(
                spark, cat, "INSERT OVERWRITE owned9 SELECT 1 AS x"
            )

    def test_assignment_rhs_comparison_operators(
        self, spark, tmp_path, cust
    ):
        """r19 ADVICE (low): a bare ``=`` split must not shatter RHS
        comparison operators — ``SET flag = acctbal >= 10`` is ONE
        assignment whose expression is a boolean comparison."""
        t = _table(tmp_path, cust, "cmp1", hi=10)
        kind, p = parse_statement(
            "UPDATE cmp1 SET c_mktsegment = CASE WHEN c_acctbal >= 0 "
            "THEN 'POS' ELSE 'NEG' END WHERE c_custkey <= 10"
        )
        assert kind == "update"
        assert list(p["assignments"]) == ["c_mktsegment"]
        execute_table_sql(
            spark, lambda n: t,
            "UPDATE cmp1 SET c_mktsegment = CASE WHEN c_acctbal >= 0 "
            "THEN 'POS' ELSE 'NEG' END WHERE c_custkey <= 10",
        )
        rows = {r.c_custkey: r.c_mktsegment
                for r in t.read(spark).collect()}
        assert set(rows.values()) <= {"POS", "NEG"}
