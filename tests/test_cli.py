"""CLI entrypoint: a YAML config + directories of parquet in and out,
driven exactly as a shell user would (arg parsing included), against
the session fixture."""

import os
import textwrap

from pypeline_spark.__main__ import main


def test_cli_runs_pipeline_end_to_end(spark, sf_dir, tmp_path):
    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(
        textwrap.dedent(
            """
            pypes:
              seed_dim:
                extract_query: >
                  SELECT c_custkey AS id, c_name, c_mktsegment
                  FROM customer WHERE c_custkey <= {max_key}
                target_table: dim_customer
                type: upsert
                key_columns: [id]
              bump:
                extract_query: >
                  SELECT id, c_name, 'VIP' AS c_mktsegment
                  FROM dim_customer WHERE id <= 10
                target_table: dim_customer
                type: upsert
                key_columns: [id]
            pypelines:
              demo: [seed_dim, bump]
            """
        )
    )
    out = tmp_path / "out"
    rc = main(
        [
            "--config", str(cfg),
            "--pipeline", "demo",
            "--source-dir", sf_dir,
            "--target-dir", str(out),
            "--placeholder", "max_key=50",
        ],
        spark=spark,
    )
    assert rc == 0
    assert os.path.isdir(out / "dim_customer")
    got = spark.read.parquet(str(out / "dim_customer"))
    assert got.count() == 51  # c_custkey starts at 0
    assert got.filter("c_mktsegment = 'VIP'").count() == 11


def test_cli_jdbc_target_runs_server_side_merges(spark, sf_dir, tmp_path):
    """--target-jdbc-url drives the JdbcMergeCatalog: keyed steps land
    as server-side MERGE INTO in a live database — the reference's
    actual conn_to deployment from the shell."""
    import textwrap

    from pypeline_spark.sinks.jdbc_merge import JdbcMergeCatalog

    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(
        textwrap.dedent(
            """
            pypes:
              seed_dim:
                extract_query: >
                  SELECT c_custkey AS id, c_acctbal
                  FROM customer WHERE c_custkey <= {max_key}
                target_table: dim_customer
                type: upsert
                key_columns: [id]
              prune:
                extract_query: SELECT id FROM dim_customer WHERE id >= 40
                target_table: dim_customer
                type: delete
                identifier: id
            pypelines:
              demo: [seed_dim, prune]
            """
        )
    )
    url = f"jdbc:derby:{tmp_path}/clidb;create=true"
    rc = main(
        [
            "--config", str(cfg),
            "--pipeline", "demo",
            "--source-dir", sf_dir,
            "--target-jdbc-url", url,
            "--jdbc-driver", "org.apache.derby.jdbc.EmbeddedDriver",
            "--placeholder", "max_key=50",
        ],
        spark=spark,
    )
    assert rc == 0
    cat = JdbcMergeCatalog(spark, url, driver="org.apache.derby.jdbc.EmbeddedDriver")
    got = cat.get("dim_customer")
    assert got.count() == 40  # 0..39 survive the delete


def test_cli_full_database_to_database_lifecycle(spark, sf_dir, tmp_path):
    """--source-jdbc-url + --target-jdbc-url: the complete reference
    deployment (extract from one live database, keyed-MERGE into
    another) driven from the shell."""
    import textwrap

    from pypeline_spark.session import load_table
    from pypeline_spark.sinks.jdbc_merge import JdbcMergeCatalog

    derby_driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src_url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    dst_url = f"jdbc:derby:{tmp_path}/dstdb;create=true"

    # seed the SOURCE database with a customers table
    src_cat = JdbcMergeCatalog(spark, src_url, driver=derby_driver)
    src_cat.put(
        "customers",
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .filter("c_custkey <= 30"),
    )

    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(
        textwrap.dedent(
            """
            pypes:
              load:
                extract_query: >
                  SELECT c_custkey AS id, c_acctbal + {bonus} AS bal
                  FROM customers
                target_table: accounts
                type: upsert
                key_columns: [id]
            pypelines:
              etl: [load]
            """
        )
    )
    rc = main(
        [
            "--config", str(cfg),
            "--pipeline", "etl",
            "--source-jdbc-url", src_url,
            "--target-jdbc-url", dst_url,
            "--jdbc-driver", derby_driver,
            "--placeholder", "bonus=100.0",
        ],
        spark=spark,
    )
    assert rc == 0
    dst = JdbcMergeCatalog(spark, dst_url, driver=derby_driver)
    got = {r.id: r.bal for r in dst.get("accounts").collect()}
    want = {
        r.c_custkey: r.c_acctbal + 100.0
        for r in load_table(spark, sf_dir, "customer")
        .filter("c_custkey <= 30")
        .collect()
    }
    assert got == want


def test_parquet_catalog_pinned_session_survives_active_clone(spark, tmp_path):
    """py4j thread reuse can leave a foreign (micro-batch clone) session
    'active' after any streaming query has run in the process; a pinned
    ParquetCatalog must keep using ITS session so temp views register
    where the caller's spark.sql looks (r13 regression: canon-safety
    built q_stream_autocompact, after which the CLI's second step
    resolved a stale view)."""
    from pyspark.sql import functions as F

    from pypeline_spark.sinks.keyed import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "out"), spark=spark)
    cat.put("t", spark.range(5).withColumn("v", F.lit(1)))
    clone = spark.newSession()
    jvm_ss = spark._jvm.org.apache.spark.sql.SparkSession
    jvm_ss.setActiveSession(clone._jsparkSession)
    try:
        got = cat.get("t")
        assert got.sparkSession is spark
        got.createOrReplaceTempView("t_pinned_view")
        assert spark.catalog.tableExists("t_pinned_view")
    finally:
        jvm_ss.setActiveSession(spark._jsparkSession)


def test_source_jdbc_skips_leftover_stage_tables(spark, tmp_path):
    """A stage table a killed run left behind (``{name}__stage_{suffix}``)
    is engine bookkeeping, not a source table: it gets no view."""
    from pypeline_spark.__main__ import _register_source_jdbc
    from pypeline_spark.sinks.jdbc_merge import JdbcMergeCatalog

    derby_driver = "org.apache.derby.jdbc.EmbeddedDriver"
    url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    cat = JdbcMergeCatalog(spark, url, driver=derby_driver)
    rows = spark.createDataFrame([(1, 2.0)], "id bigint, bal double")
    cat.put("customers", rows)
    stages = [cat._stage("customers", rows), cat._stage("customers", rows, batch_id="b-1")]
    assert _register_source_jdbc(spark, url, derby_driver) == ["customers"]
    for stage in stages:
        assert not spark.catalog.tableExists(stage.lower())
