"""Engine-independent correctness oracle.

DuckDB replays a workload's batch plan over the same generated source
files: it runs each step's extract SQL, applies the transformer chain
as the workload's own SQL mirror of the plugins, and applies the sink
semantics (upsert / update / delete / append, last writer wins) to
in-memory tables.  Targets are compared by an order-insensitive content
hash that both sides compute in DuckDB over canonicalised values, so a
target matches only if it holds the same multiset of rows.
"""

from __future__ import annotations

import duckdb


def connect(fixtures: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')"
        )
    return con


def _canon(col: str, typ: str) -> str:
    c = f'"{col}"'
    if typ.startswith("DECIMAL"):
        # every decimal this benchmark produces has scale <= 6, so the
        # widening cast is exact and the text form is scale-independent
        return f"CAST(CAST({c} AS DECIMAL(38,6)) AS VARCHAR)"
    if typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return f"CAST(CAST({c} AS BIGINT) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def content_hash(con: duckdb.DuckDBPyConnection, relation: str) -> str:
    """``'<rows>:<columns>:<sum of row hashes>'`` of a relation (a table
    name or a parenthesised query)."""
    cols = sorted(
        (name, typ) for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    )
    row = ", ".join(_canon(name, typ) for name, typ in cols)
    rows, digest = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(hash({row})::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return f"{rows}:{','.join(name for name, _ in cols)}:{digest}"


def parquet_dir_hash(con: duckdb.DuckDBPyConnection, path: str) -> str:
    return content_hash(con, f"read_parquet('{path}/*.parquet')")


def arrow_hash(con: duckdb.DuckDBPyConnection, table) -> str:
    con.register("__engine_out", table)
    try:
        return content_hash(con, "__engine_out")
    finally:
        con.unregister("__engine_out")


def _exists(con: duckdb.DuckDBPyConnection, table: str) -> bool:
    return bool(
        con.execute(
            "SELECT COUNT(*) FROM duckdb_tables() WHERE table_name = ?", [table]
        ).fetchone()[0]
    )


def apply_sink(
    con: duckdb.DuckDBPyConnection,
    target: str,
    op: str,
    keys: list[str],
) -> None:
    """Apply the staged batch table ``__b`` to ``target`` with the
    pipeline sink semantics of ``op``."""
    match = " AND ".join(f'__b."{k}" = "{target}"."{k}"' for k in keys)
    if not _exists(con, target):
        if op in ("update", "delete"):
            raise ValueError(f"{op} target {target!r} does not exist")
        con.execute(f'CREATE TABLE "{target}" AS SELECT * FROM __b')
        return
    if op == "append":
        con.execute(f'INSERT INTO "{target}" BY NAME SELECT * FROM __b')
    elif op == "upsert":
        con.execute(
            f'DELETE FROM "{target}" WHERE EXISTS (SELECT 1 FROM __b WHERE {match})'
        )
        con.execute(f'INSERT INTO "{target}" BY NAME SELECT * FROM __b')
    elif op == "update":
        cols = [
            c
            for c, *_ in con.execute("DESCRIBE __b").fetchall()
            if c not in keys
        ]
        sets = ", ".join(f'"{c}" = __b."{c}"' for c in cols)
        con.execute(f'UPDATE "{target}" SET {sets} FROM __b WHERE {match}')
    elif op == "delete":
        con.execute(
            f'DELETE FROM "{target}" WHERE EXISTS (SELECT 1 FROM __b WHERE {match})'
        )
    else:
        raise ValueError(f"oracle has no sink semantics for {op!r}")


def stage_batch(con: duckdb.DuckDBPyConnection, sql: str) -> int:
    """Materialise one step's batch as ``__b``; return its row count."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE __b AS {sql}")
    return con.execute("SELECT COUNT(*) FROM __b").fetchone()[0]
