"""JDBC MERGE sink: real server-side keyed merges against embedded
Derby, asserted EQUAL to the join-based emulation in sinks/keyed.py —
the reference's actual RDBMS load surface (Pype.py:97-148,179-186)
exercised over a live driver, not a mock."""

import pytest
from pyspark.sql import functions as F

from pypeline_spark.sinks.jdbc_merge import (
    JdbcMergeCatalog,
    merge_delete_sql,
    merge_update_only_sql,
    merge_upsert_sql,
)
from pypeline_spark.sinks.keyed import delete_by_keys, update_only, upsert

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def cat(spark, tmp_path):
    return JdbcMergeCatalog(
        spark, f"jdbc:derby:{tmp_path}/db;create=true", driver=DRIVER, bulk_size=100
    )


def _rows(df):
    return sorted(
        tuple(repr(v) for v in r)
        for r in df.select(sorted(df.columns)).collect()
    )


def _tables(cat):
    """Names of the user tables in the catalog's database."""
    conn = cat._connect()
    try:
        rs = conn.getMetaData().getTables(None, "APP", "%", None)
        names = []
        while rs.next():
            names.append(rs.getString("TABLE_NAME"))
        rs.close()
        return names
    finally:
        conn.close()


@pytest.fixture()
def target(spark):
    # note the NULL in the excluded column 'note' for key 2: an upsert
    # match must PRESERVE it (ref: Pype.py:132-143)
    return spark.createDataFrame(
        [(1, "a", 10.0, "keep1"), (2, "b", 20.0, None), (3, "c", 30.0, "keep3")],
        "id bigint, name string, bal double, note string",
    )


@pytest.fixture()
def updates(spark):
    # key 2 matched (new bal, note must NOT overwrite), key 9 inserts;
    # key 9 appears twice -> last-writer-wins dedupe before the merge
    return spark.createDataFrame(
        [
            (2, "b2", 99.0, "clobber"),
            (9, "z", 1.0, "new"),
            (9, "z", 2.0, "new2"),
        ],
        "id bigint, name string, bal double, note string",
    )


class TestSqlBuilders:
    def test_upsert_omits_excluded_and_keys_from_set(self):
        sql = merge_upsert_sql("t", "t__stage", ["id", "a", "b"], ["id"], ["b"])
        assert 'UPDATE SET "a" = u."a"' in sql
        assert '"b" = u."b"' not in sql.split("INSERT")[0]
        assert 'INSERT ("id", "a", "b")' in sql

    def test_update_only_has_no_insert_branch(self):
        sql = merge_update_only_sql("t", "s", ["id", "a"], ["id"])
        assert "WHEN NOT MATCHED" not in sql

    def test_delete_sql(self):
        sql = merge_delete_sql("t", "s", "id")
        assert sql.endswith("WHEN MATCHED THEN DELETE")


class TestStageIsolation:
    def test_stage_names_unique_per_invocation(self, cat, updates):
        """Two concurrent writers must never share a stage table: a
        fixed name would let writer B's stage overwrite between writer
        A's load and MERGE, silently merging the wrong batch."""
        s1 = cat._stage("t", updates)
        s2 = cat._stage("t", updates)
        try:
            assert s1 != s2
            assert s1.startswith("t__stage_") and s2.startswith("t__stage_")
        finally:
            cat._drop_stage(s1)
            cat._drop_stage(s2)

    def test_stage_name_deterministic_for_batch_id(self, cat, updates):
        """A ledgered batch stages under a batch_id-derived name (so a
        replay of the same batch reuses — and overwrites — its own
        stage, never a different batch's); hostile characters fold to
        identifier-safe underscores."""
        s = cat._stage("t", updates, batch_id="2024-02-01T00:00/run 1")
        try:
            assert s == "t__stage_2024_02_01T00_00_run_1"
        finally:
            cat._drop_stage(s)

    def test_stage_name_bounded_for_long_table_names(self, cat, updates):
        """ADVICE r7: the hashed-suffix fallback capped the batch_id
        part but not the table-name part — a ~100+-char table name
        still pushed the stage name past Derby's identifier limit.
        The name portion is now bounded too, and the hash covers the
        FULL (name, batch_id) pair so two long names sharing a
        truncated prefix still stage under distinct names."""
        long_a = "t" * 110 + "_a"
        long_b = "t" * 110 + "_b"  # same 100-char prefix as long_a
        batch = "batch_" + "x" * 150  # identifier-safe: sanitize is a no-op
        sa = cat._stage(long_a, updates, batch_id=batch)
        sb = cat._stage(long_b, updates, batch_id=batch)
        try:
            assert len(sa) <= 120 and len(sb) <= 120
            assert sa != sb  # prefix-sharing names must not collide
            # deterministic per (name, batch_id): a replay reuses its
            # own stage (name computed, not re-staged, to avoid a write)
            import hashlib

            digest = hashlib.sha1(f"{long_a}|{batch}".encode()).hexdigest()[:12]
            assert sa == f"{long_a[:100]}__stage_{digest}"
        finally:
            cat._drop_stage(sa)
            cat._drop_stage(sb)


class TestDerbyMergeParity:
    def test_upsert_matches_join_emulation(self, cat, target, updates):
        cat.put("t", target)
        cat.merge_upsert(
            "t", updates, key_columns=["id"], fields_excluded_from_update=["note"],
            order_col="bal",
        )
        expected = upsert(
            target, updates, key_columns=["id"],
            fields_excluded_from_update=["note"], order_col="bal",
        )
        assert _rows(cat.get("t")) == _rows(expected)
        # the excluded column survived the match — including the NULL
        note2 = cat.get("t").filter("id = 2").collect()[0].note
        assert note2 is None

    def test_upsert_is_idempotent(self, cat, target, updates):
        cat.put("t", target)
        for _ in range(2):  # rerun = no-op (crash-recovery contract)
            cat.merge_upsert(
                "t", updates, key_columns=["id"],
                fields_excluded_from_update=["note"], order_col="bal",
            )
        expected = upsert(
            target, updates, key_columns=["id"],
            fields_excluded_from_update=["note"], order_col="bal",
        )
        assert _rows(cat.get("t")) == _rows(expected)

    def test_upsert_creates_missing_target(self, cat, updates):
        assert cat.get("t") is None
        cat.merge_upsert("t", updates, key_columns=["id"], order_col="bal")
        assert {r.id for r in cat.get("t").collect()} == {2, 9}

    def test_update_only_matches_emulation_and_writes_nulls(self, spark, cat, target):
        upd = spark.createDataFrame(
            [(1, "a9", None, "x"), (8, "ghost", 0.0, "x")],
            "id bigint, name string, bal double, note string",
        )
        cat.put("t", target)
        cat.merge_update_only("t", upd, key_columns=["id"])
        expected = update_only(target, upd, key_columns=["id"])
        assert _rows(cat.get("t")) == _rows(expected)
        got = {r.id: (r.name, r.bal) for r in cat.get("t").collect()}
        assert got[1] == ("a9", None)  # legitimate NULL written through
        assert 8 not in got  # never inserts

    def test_update_only_missing_target_raises(self, cat, updates):
        with pytest.raises(ValueError, match="does not exist"):
            cat.merge_update_only("ghost", updates, key_columns=["id"])

    def test_string_key_merge_casts_clob(self, spark, cat):
        """Derby stores Spark strings as CLOB; the ON clause must CAST
        both sides to VARCHAR or the merge is a syntax error — pins the
        string-surrogate-key path (the reference's uuid delete keys,
        Pype.py:180, arrive as strings)."""
        t = spark.createDataFrame(
            [("u-1", 1.0), ("u-2", 2.0)], "uid string, v double"
        )
        u = spark.createDataFrame(
            [("u-2", 20.0), ("u-3", 30.0)], "uid string, v double"
        )
        cat.put("t", t)
        cat.merge_upsert("t", u, key_columns=["uid"])
        got = {r.uid: r.v for r in cat.get("t").collect()}
        assert got == {"u-1": 1.0, "u-2": 20.0, "u-3": 30.0}
        cat.merge_delete("t", u.select("uid"), identifier="uid")
        assert {r.uid for r in cat.get("t").collect()} == {"u-1"}

    def test_delete_matches_emulation(self, spark, cat, target):
        keys = spark.createDataFrame([(1,), (3,), (3,), (7,)], "id bigint")
        cat.put("t", target)
        cat.merge_delete("t", keys, identifier="id")
        expected = delete_by_keys(target, keys, identifier="id")
        assert _rows(cat.get("t")) == _rows(expected)
        assert {r.id for r in cat.get("t").collect()} == {2}


class TestRunnerDelegation:
    def test_pipeline_pushes_merges_down_to_the_database(self, spark, tmp_path):
        """A 3-step YAML pipeline (upsert seed -> update boost -> delete)
        against a JdbcMergeCatalog produces the same final table as the
        same pipeline against the in-memory join emulation."""
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig
        from pypeline_spark.sinks.keyed import MemoryCatalog

        spark.createDataFrame(
            [(i, f"n{i}", float(i * 10)) for i in range(1, 11)],
            "id bigint, name string, bal double",
        ).createOrReplaceTempView("__src__")
        config = PipelineConfig.from_dict(
            {
                "pypes": {
                    "seed": {
                        "extract_query": "SELECT * FROM __src__",
                        "target_table": "acct",
                        "type": "upsert",
                        "key_columns": ["id"],
                    },
                    "boost": {
                        "extract_query": (
                            "SELECT id, name, bal + 5.0 AS bal FROM __src__ WHERE id <= 4"
                        ),
                        "target_table": "acct",
                        "type": "update",
                        "key_columns": ["id"],
                    },
                    "prune": {
                        "extract_query": "SELECT id FROM __src__ WHERE id >= 9",
                        "target_table": "acct",
                        "type": "delete",
                        "identifier": "id",
                    },
                },
                "pypelines": {"p": ["seed", "boost", "prune"]},
            }
        )
        jdbc_cat = JdbcMergeCatalog(
            spark, f"jdbc:derby:{tmp_path}/pipedb;create=true", driver=DRIVER
        )
        Pypeline(spark, config, catalog=jdbc_cat).run("p")
        mem_cat = MemoryCatalog()
        Pypeline(spark, config, catalog=mem_cat).run("p")
        assert _rows(jdbc_cat.get("acct")) == _rows(mem_cat.get("acct"))
        got = {r.id: r.bal for r in jdbc_cat.get("acct").collect()}
        assert got[1] == 15.0 and 9 not in got and 10 not in got
        # rerunning the whole pipeline against the SAME live database is
        # a no-op — the reference's crash-recovery contract (idempotent
        # keyed loads, Pype.py:148) holds over real MERGE INTO too
        before = _rows(jdbc_cat.get("acct"))
        Pypeline(spark, config, catalog=jdbc_cat).run("p")
        assert _rows(jdbc_cat.get("acct")) == before

    def test_read_modify_write_steps_keep_existing_rows(self, spark, tmp_path):
        """append and cdc steps read the target they replace; the
        database must end where the in-memory catalog does instead of
        losing the rows the overwrite dropped before reading them."""
        from pypeline_spark.pipeline.runner import Pypeline
        from pypeline_spark.pipeline.spec import PipelineConfig
        from pypeline_spark.sinks.keyed import MemoryCatalog

        spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 6)], "id bigint, name string"
        ).createOrReplaceTempView("__rmw_src__")
        spark.createDataFrame(
            [(2, 1, "upsert", "two"), (3, 2, "delete", None), (6, 3, "upsert", "six")],
            "id bigint, seq bigint, op string, name string",
        ).createOrReplaceTempView("__rmw_log__")
        config = PipelineConfig.from_dict(
            {
                "pypes": {
                    "seed": {
                        "extract_query": "SELECT * FROM __rmw_src__ WHERE id <= 3",
                        "target_table": "rmw",
                        "type": "upsert",
                        "key_columns": ["id"],
                    },
                    "more": {
                        "extract_query": "SELECT * FROM __rmw_src__ WHERE id >= 4",
                        "target_table": "rmw",
                        "type": "append",
                    },
                    "log": {
                        "extract_query": "SELECT id, seq, op, name FROM __rmw_log__",
                        "target_table": "rmw",
                        "type": "cdc",
                        "key_columns": ["id"],
                    },
                },
                "pypelines": {"append": ["seed", "more"], "cdc": ["log"]},
            }
        )
        jdbc_cat = JdbcMergeCatalog(
            spark, f"jdbc:derby:{tmp_path}/rmwdb;create=true", driver=DRIVER
        )
        mem_cat = MemoryCatalog()
        for cat in (jdbc_cat, mem_cat):
            Pypeline(spark, config, catalog=cat).run("append")
        assert sorted(r.id for r in jdbc_cat.get("rmw").collect()) == [1, 2, 3, 4, 5]
        assert _rows(jdbc_cat.get("rmw")) == _rows(mem_cat.get("rmw"))
        for cat in (jdbc_cat, mem_cat):
            Pypeline(spark, config, catalog=cat).run("cdc")
        got = {r.id: r.name for r in jdbc_cat.get("rmw").collect()}
        assert got == {1: "n1", 2: "two", 4: "n4", 5: "n5", 6: "six"}
        assert _rows(jdbc_cat.get("rmw")) == _rows(mem_cat.get("rmw"))
        # the replace went through a stage table, which is gone again
        assert not [t for t in _tables(jdbc_cat) if "__STAGE" in t]


class TestJdbcMergeProperties:
    """Property-based parity: for randomized adversarial inputs (key
    collisions, empty updates, disjoint/overlapping key sets), the
    server-side MERGE must land exactly where the join emulation does.
    Fewer examples than the pure-Spark property suite — every case
    pays a Derby round-trip — but the same differential method."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    SCHEMA = "id bigint, name string, val bigint, seq bigint"
    row = st.tuples(
        st.integers(0, 4),
        st.sampled_from(["a", "b", None]),
        st.integers(-50, 50),
    )
    target_rows = st.lists(row, min_size=1, max_size=5, unique_by=lambda r: r[0])
    update_rows = st.lists(row, max_size=5)

    @staticmethod
    def _df(spark, rows):
        return spark.createDataFrame(
            [(k, n, v, i) for i, (k, n, v) in enumerate(rows)],
            "id bigint, name string, val bigint, seq bigint",
        )

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.too_slow,
                               HealthCheck.function_scoped_fixture],
    )
    @given(t=target_rows, u=update_rows)
    def test_upsert_parity_with_emulation(self, spark, tmp_path_factory, t, u):
        from pypeline_spark.sinks.keyed import upsert

        cat = JdbcMergeCatalog(
            spark,
            f"jdbc:derby:{tmp_path_factory.mktemp('prop')}/db;create=true",
            driver=DRIVER,
        )
        cat.put("t", self._df(spark, t))
        cat.merge_upsert(
            "t", self._df(spark, u), key_columns=["id"],
            fields_excluded_from_update=["name"], order_col="seq",
        )
        expected = upsert(
            self._df(spark, t), self._df(spark, u), key_columns=["id"],
            fields_excluded_from_update=["name"], order_col="seq",
        )
        assert _rows(cat.get("t")) == _rows(expected)


class TestBatchLedger:
    def test_replayed_batch_id_is_skipped_outright(self, spark, cat, target, updates):
        """Exactly-once application: the ledger skips a replayed batch
        id even when the replay carries DIFFERENT data — stronger than
        merge idempotence, which only protects identical replays."""
        cat.put("t", target)
        cat.merge_upsert("t", updates, key_columns=["id"], order_col="bal",
                         batch_id="b1")
        after_first = _rows(cat.get("t"))
        poisoned = updates.withColumn("bal", F.col("bal") + 1000.0)
        cat.merge_upsert("t", poisoned, key_columns=["id"], order_col="bal",
                         batch_id="b1")  # same id, different rows
        assert _rows(cat.get("t")) == after_first
        # a NEW batch id applies normally
        cat.merge_upsert("t", poisoned, key_columns=["id"], order_col="bal",
                         batch_id="b2")
        assert _rows(cat.get("t")) != after_first

    def test_first_batch_creation_is_ledgered(self, spark, cat, updates):
        assert cat.get("t") is None
        cat.merge_upsert("t", updates, key_columns=["id"], order_col="bal",
                         batch_id="b0")
        n = cat.get("t").count()
        assert n == 2
        cat.merge_upsert("t", updates, key_columns=["id"], order_col="bal",
                         batch_id="b0")  # replay of the creating batch
        assert cat.get("t").count() == n
