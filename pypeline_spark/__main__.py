"""CLI entrypoint: run a YAML pipeline config from the shell.

    python -m pypeline_spark --config pipeline.yaml --pipeline my_flow \
        --source-dir /data/views --target-dir /data/out \
        [--placeholder key=value ...] [--debug]

The reference is driven as ``Pypeline(config_file, conn_from,
conn_to).run(name)`` from user code (ref: /root/reference/pypeline/
Pypeline.py:11-35); this is the same lifecycle with the connections
replaced by directories of parquet tables — every ``*.parquet`` file
or subdirectory under ``--source-dir`` is registered as a temp view
(what ``extract_query`` sees), and the target catalog persists merged
tables under ``--target-dir`` (read-modify-write parquet; swaps to
Delta/Iceberg MERGE when those jars are present).

Scale: nothing here is driver-side compute — the CLI only compiles
the validated spec and triggers the runner; all data movement is the
same partitioned plans the library builds.
"""

from __future__ import annotations

import argparse
import os
import re
import sys


def _register_source_dir(spark, source_dir: str) -> list[str]:
    """Register every parquet table under source_dir as a temp view
    named after the file/dir stem."""
    names = []
    for entry in sorted(os.listdir(source_dir)):
        path = os.path.join(source_dir, entry)
        name = entry[:-8] if entry.endswith(".parquet") else entry
        if not (entry.endswith(".parquet") or os.path.isdir(path)):
            continue
        spark.read.parquet(path).createOrReplaceTempView(name)
        names.append(name)
    return names


def _register_source_jdbc(spark, url: str, driver: str | None) -> list[str]:
    """Register every user table of a source database as a temp view
    (lower-cased name) — the reference's ``conn_from`` surface: the
    extract_query runs against these views exactly as it ran against
    the MySQL connection (ref: Pype.py:34-36).  Views stay lazy; a
    partitioned parallel extract is available via
    ``sources.read_source`` options when a single table needs it."""
    from pypeline_spark.sources.formats import read_source

    jvm = spark._sc._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    # JDBC wants a Java String[] for the table-type filter; a Python
    # list would arrive as ArrayList and miss the overload
    types = spark._sc._gateway.new_array(jvm.java.lang.String, 1)
    types[0] = "TABLE"
    names = []
    try:
        rs = conn.getMetaData().getTables(None, None, "%", types)
        try:
            while rs.next():
                names.append(rs.getString("TABLE_NAME"))
        finally:
            rs.close()
    finally:
        conn.close()
    opts_base = {"driver": driver} if driver else {}
    out = []
    for t in sorted(names):
        view = t.lower()
        if view == "pypeline_applied_batches" or re.search(r"__stage(_\w+)?$", view):
            continue  # engine bookkeeping (ledger, stage tables), not source data
        read_source(
            spark, "jdbc", url, options={**opts_base, "dbtable": t}
        ).createOrReplaceTempView(view)
        out.append(view)
    return out


def main(argv: list[str] | None = None, spark=None) -> int:
    from pypeline_spark.pipeline.runner import Pypeline
    from pypeline_spark.pipeline.spec import PipelineConfig
    from pypeline_spark.session import get_spark
    from pypeline_spark.sinks.keyed import ParquetCatalog

    ap = argparse.ArgumentParser(prog="python -m pypeline_spark")
    ap.add_argument("--config", required=True, help="YAML pipeline config")
    ap.add_argument("--pipeline", required=True, help="pypeline name to run")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--source-dir", help="dir of parquet tables -> temp views")
    src.add_argument(
        "--source-jdbc-url",
        help="JDBC URL of the source database — every table becomes a "
        "temp view the extract_query can reference (the reference's "
        "conn_from deployment)",
    )
    tgt = ap.add_mutually_exclusive_group(required=True)
    tgt.add_argument("--target-dir", help="dir for merged target tables (parquet)")
    tgt.add_argument(
        "--target-jdbc-url",
        help="JDBC URL of the target database — keyed steps run as "
        "server-side MERGE INTO (the reference's conn_to deployment)",
    )
    ap.add_argument(
        "--jdbc-driver",
        help="JDBC driver class for --source-jdbc-url / --target-jdbc-url",
    )
    ap.add_argument(
        "--placeholder",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="hydration placeholder (repeatable)",
    )
    ap.add_argument("--debug", action="store_true", help="per-step row counts + timings")
    args = ap.parse_args(argv)

    placeholders = {}
    for kv in args.placeholder:
        if "=" not in kv:
            ap.error(f"--placeholder must be KEY=VALUE, got {kv!r}")
        k, v = kv.split("=", 1)
        placeholders[k] = v

    config = PipelineConfig.from_yaml(args.config)
    owns_session = spark is None
    if owns_session:
        spark = get_spark("pypeline_cli")
    if args.source_jdbc_url:
        views = _register_source_jdbc(spark, args.source_jdbc_url, args.jdbc_driver)
    else:
        views = _register_source_dir(spark, args.source_dir)
    print(f"registered source views: {', '.join(views) or '(none)'}")

    if args.target_jdbc_url:
        from pypeline_spark.sinks.jdbc_merge import JdbcMergeCatalog

        catalog = JdbcMergeCatalog(spark, args.target_jdbc_url, driver=args.jdbc_driver)
    else:
        catalog = ParquetCatalog(args.target_dir, spark=spark)
    pipeline = Pypeline(
        spark, config, catalog=catalog, placeholders=placeholders, debug=args.debug
    )
    result = pipeline.run(args.pipeline)
    for m in result.steps:
        print(
            f"step {m.name}: extract={m.extract_secs:.2f}s "
            f"transform={m.transform_secs:.2f}s load={m.load_secs:.2f}s"
            + (f" rows={m.rows_out}" if m.rows_out else "")
        )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
