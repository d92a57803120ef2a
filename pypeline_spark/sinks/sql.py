"""SQL statement front-end for the manifest lakehouse tier (r18
directive #3).

The reference's users express their table maintenance as SQL strings
against the target database (``post_query`` is free-form SQL, ref:
/root/reference/pypeline/Pype.py:164-167).  Delta users write MERGE /
UPDATE / DELETE / DESCRIBE HISTORY / VACUUM / RESTORE the same way.
This module parses exactly those statement shapes (the verdict's six
plus ``INSERT INTO``, the append everyone writes) and dispatches
them onto the existing :class:`ManifestTable` methods — a thin,
loud-failure router, deliberately NOT a general SQL engine (Spark SQL
is right there for queries; anything this parser does not recognize
raises :class:`SqlStatementError` with the supported grammar).

Supported grammar (case-insensitive keywords; one statement, optional
trailing semicolon):

- ``MERGE INTO t [AS a] USING (src | (subquery)) [AS b] ON <equi-keys>
  WHEN MATCHED [AND c] THEN UPDATE SET *|x=e,.. | DELETE
  WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT *|(cols) VALUES (exprs)
  WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET x=e,.. | DELETE``
  — the ON clause must be a conjunction of ``a.k = b.k`` equalities
  (they become the merge key columns; non-equi residuals belong in
  clause conditions).
- ``INSERT INTO t [(c1, ..)] VALUES (..), (..)`` /
  ``INSERT INTO t [(c1, ..)] SELECT ..`` — dispatches to
  ``commit_append`` (new base files through the ledger; a column
  list reorders/renames, otherwise the query's own columns apply)
- ``UPDATE t SET x = e[, ..] [WHERE pred]``
- ``DELETE FROM t [WHERE pred]``
- ``ALTER TABLE t ADD COLUMN[S] c type [DEFAULT expr][, ..]`` —
  metadata-only schema evolution (``evolve_schema``); ``ALTER TABLE t
  ADD CONSTRAINT n CHECK (expr)`` / ``DROP CONSTRAINT n``
- ``DESCRIBE HISTORY t``
- ``VACUUM t [RETAIN n HOURS] [DRY RUN]``
- ``RESTORE [TABLE] t TO VERSION AS OF n`` /
  ``.. TO TIMESTAMP AS OF '<ts>'``

Execution semantics are the dispatched methods' own: DML/MERGE
take :meth:`ManifestTable.dml_mode` (deletion vectors whenever
outstanding merge-on-read deltas or row tracking make them the right
physical plan — the lakehouse step asks the same method),
predicates/expressions are Spark SQL expression strings
evaluated by the engine (never re-implemented here), and every write
lands as one OCC-published manifest version.

Caveat (documented, loud where possible): alias canonicalization
rewrites ``alias.`` qualifiers textually outside string literals into
the ``t.``/``s.`` aliases :meth:`ManifestTable.merge_into` plans with.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from pyspark.sql import SparkSession

from pypeline_spark.sinks.manifest import ManifestTable


class SqlStatementError(ValueError):
    """Statement not in the supported six-shape grammar."""


_IDENT = r"(?:`[^`]+`|[A-Za-z_][\w.]*)"

#: leading keywords this router claims; anything else is not ours
_LEAD = re.compile(
    r"(?is)^\s*(MERGE|INSERT|UPDATE|DELETE|ALTER|DESCRIBE|VACUUM"
    r"|RESTORE)\b"
)

#: the stricter claim the post_query hook uses: plain ``DESCRIBE t``
#: is valid Spark SQL and must keep falling through to spark.sql —
#: only ``DESCRIBE HISTORY`` is ours
_CLAIM = re.compile(
    r"(?is)^\s*(MERGE|INSERT|UPDATE|DELETE|ALTER|VACUUM|RESTORE"
    r"|DESCRIBE\s+HISTORY)\b"
)

#: cheap target extraction for statements _CLAIM leads on but
#: parse_statement rejects — enough to decide "is this a lakehouse
#: table's statement" without parsing the full shape
_TARGET = re.compile(
    r"(?is)^\s*(?:MERGE\s+INTO|INSERT\s+(?:INTO|OVERWRITE(?:\s+TABLE)?)"
    r"|UPDATE|DELETE\s+FROM|ALTER\s+TABLE|DESCRIBE\s+HISTORY|VACUUM"
    r"|RESTORE(?:\s+TABLE)?)\s+(`[^`]+`|[A-Za-z_][\w.]*)"
)


def _unquote(name: str) -> str:
    name = name.strip()
    if name.startswith("`") and name.endswith("`"):
        return name[1:-1]
    return name


def _split_top(s: str, sep: str) -> list[str]:
    """Split ``s`` on top-level occurrences of ``sep`` — a keyword
    (word-bounded, case-insensitive) or a single character — ignoring
    matches inside parentheses and single-quoted strings."""
    out: list[str] = []
    depth = 0
    i = start = 0
    n = len(s)
    word = len(sep) > 1 or sep.isalpha()
    w = sep.upper()
    lw = len(w)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and s[i:i + lw].upper() == w:
            ok = True
            if word:
                before = s[i - 1] if i else " "
                after = s[i + lw] if i + lw < n else " "
                ok = not (before.isalnum() or before == "_") and not (
                    after.isalnum() or after == "_"
                )
            if ok:
                out.append(s[start:i])
                start = i + lw
                i += lw
                continue
        i += 1
    out.append(s[start:])
    return out


def _realias(expr: str, mapping: dict) -> str:
    """Rewrite ``alias.`` qualifiers to the canonical ``t.``/``s.``
    merge aliases (textual, word-bounded, skipping string literals)."""
    parts = re.split(r"('(?:[^']|'')*')", expr)
    for k, a in enumerate(parts):
        if k % 2:  # a string literal: untouched
            continue
        for alias, canon in mapping.items():
            if alias == canon:
                continue
            a = re.sub(
                rf"(?i)(?<![\w.]){re.escape(alias)}\s*\.", canon + ".", a
            )
        parts[k] = a
    return "".join(parts)


def _take_ident(s: str, what: str) -> tuple[str, str]:
    m = re.match(rf"(?s)^\s*({_IDENT})", s)
    if not m:
        raise SqlStatementError(f"expected {what} identifier at: {s[:40]!r}")
    return _unquote(m.group(1)), s[m.end():]


_KEYWORDS = {
    "USING", "ON", "WHEN", "SET", "WHERE", "THEN", "TO", "RETAIN",
    "DRY", "VALUES", "AND", "NOT", "MATCHED",
}


def _maybe_alias(s: str) -> tuple[Optional[str], str]:
    m = re.match(r"(?is)^\s*AS\s+(`[^`]+`|[A-Za-z_]\w*)", s)
    if m:
        return _unquote(m.group(1)), s[m.end():]
    m = re.match(r"(?s)^\s*(`[^`]+`|[A-Za-z_]\w*)", s)
    if m and _unquote(m.group(1)).upper() not in _KEYWORDS:
        return _unquote(m.group(1)), s[m.end():]
    return None, s


def _take_parens(s: str) -> tuple[str, str]:
    s = s.lstrip()
    if not s.startswith("("):
        raise SqlStatementError(f"expected '(' at: {s[:40]!r}")
    depth = 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return s[1:i], s[i + 1:]
    raise SqlStatementError("unbalanced parentheses")


def _expect(s: str, kw: str) -> str:
    m = re.match(rf"(?is)^\s*{kw}\b", s)
    if not m:
        raise SqlStatementError(f"expected {kw} at: {s.strip()[:40]!r}")
    return s[m.end():]


def _split_assign(part: str) -> Optional[tuple[str, str]]:
    """Split ``col = expr`` on the FIRST top-level assignment ``=`` —
    skipping string literals, parenthesized subexpressions, and the
    comparison operators ``== != <= >=`` (a bare ``=`` in the RHS is
    SQL equality and belongs to the expression: ``SET flag = amount
    >= 10`` is one assignment, not three pieces — ADVICE r19, low)."""
    depth = 0
    i, n = 0, len(part)
    while i < n:
        c = part[i]
        if c == "'":
            j = i + 1
            while j < n:
                if part[j] == "'":
                    if j + 1 < n and part[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = part[i - 1] if i else " "
            nxt = part[i + 1] if i + 1 < n else " "
            if prev not in "!<>=" and nxt != "=":
                return part[:i], part[i + 1:]
        i += 1
    return None


def _assignments(text: str, mapping: dict, target_names) -> dict:
    out: dict = {}
    for part in _split_top(text, ","):
        pieces = _split_assign(part)
        if pieces is None:
            raise SqlStatementError(
                f"bad assignment {part.strip()!r} (expected col = expr)"
            )
        lhs, rhs = pieces[0].strip(), pieces[1].strip()
        col = _unquote(lhs)
        for q in target_names:
            if col.lower().startswith(q.lower() + "."):
                col = col[len(q) + 1:]
                break
        if not re.fullmatch(r"[\w]+", col):
            raise SqlStatementError(
                f"assignment target {lhs!r} is not a column of the "
                "target table"
            )
        if col in out:
            raise SqlStatementError(f"column {col!r} assigned twice")
        out[col] = _realias(rhs, mapping)
    if not out:
        raise SqlStatementError("empty SET list")
    return out


def _merge_keys(cond: str, mapping: dict) -> list[str]:
    keys: list[str] = []
    for conj in _split_top(cond, "AND"):
        c = conj.strip()
        while c.startswith("(") and c.endswith(")"):
            inner = c[1:-1]
            if _split_top(inner, "AND") == [inner]:
                c = inner.strip()
            else:
                break
        c = _realias(c, mapping)
        m = re.fullmatch(
            r"\s*([ts])\s*\.\s*(\w+)\s*=\s*([ts])\s*\.\s*(\w+)\s*", c
        )
        if (
            not m
            or {m.group(1), m.group(3)} != {"t", "s"}
            or m.group(2) != m.group(4)
        ):
            raise SqlStatementError(
                f"ON conjunct {conj.strip()!r} is not a "
                "target.k = source.k equality — the router's MERGE "
                "keys must be equi-joins (put non-equi residuals in "
                "WHEN clause conditions)"
            )
        keys.append(m.group(2))
    if not keys:
        raise SqlStatementError("MERGE needs at least one ON key equality")
    return keys


def _parse_merge(stmt: str) -> dict:
    s = _expect(stmt, "MERGE")
    s = _expect(s, "INTO")
    target, s = _take_ident(s, "target table")
    t_alias, s = _maybe_alias(s)
    s = _expect(s, "USING")
    s_l = s.lstrip()
    if s_l.startswith("("):
        src_query, s = _take_parens(s_l)
        src_name = None
    else:
        src_name, s = _take_ident(s, "source")
        src_query = None
    s_alias, s = _maybe_alias(s)
    s = _expect(s, "ON")
    parts = _split_top(s, "WHEN")
    cond_text = parts[0]
    if len(parts) < 2:
        raise SqlStatementError("MERGE needs at least one WHEN clause")
    mapping = {}
    for name in (target, t_alias):
        if name:
            mapping[name.split(".")[-1]] = "t"
            mapping[name] = "t"
    for name in (src_name, s_alias):
        if name:
            mapping[name.split(".")[-1]] = "s"
            mapping[name] = "s"
    keys = _merge_keys(cond_text, mapping)
    clauses: list[tuple] = []
    for ct in parts[1:]:
        m = re.match(
            r"(?is)^\s*(NOT\s+MATCHED\s+BY\s+SOURCE"
            r"|NOT\s+MATCHED(?:\s+BY\s+TARGET)?"
            r"|MATCHED)\b",
            ct,
        )
        if not m:
            raise SqlStatementError(f"bad WHEN clause: {ct.strip()[:60]!r}")
        pop = re.sub(r"\s+", " ", m.group(1).upper())
        rest = ct[m.end():]
        halves = _split_top(rest, "THEN")
        if len(halves) != 2:
            raise SqlStatementError(
                f"WHEN clause needs exactly one THEN: {ct.strip()[:60]!r}"
            )
        condpart, action = halves[0].strip(), halves[1].strip()
        cond = None
        if condpart:
            c = _expect(condpart, "AND")
            cond = _realias(c.strip(), mapping)
        am = re.match(r"(?is)^(UPDATE\s+SET|DELETE|INSERT)\b", action)
        if not am:
            raise SqlStatementError(
                f"unsupported action {action[:40]!r} (UPDATE SET / "
                "DELETE / INSERT)"
            )
        verb = re.sub(r"\s+", " ", am.group(1).upper())
        body = action[am.end():].strip().rstrip(";").strip()
        by_source = pop == "NOT MATCHED BY SOURCE"
        insert_pop = pop.startswith("NOT MATCHED") and not by_source
        if verb == "DELETE":
            if body:
                raise SqlStatementError("DELETE takes no payload")
            if insert_pop:
                raise SqlStatementError(
                    "WHEN NOT MATCHED supports INSERT only"
                )
            clauses.append(
                ("delete_by_source" if by_source else "delete", cond, None)
            )
        elif verb == "UPDATE SET":
            if insert_pop:
                raise SqlStatementError(
                    "WHEN NOT MATCHED supports INSERT only"
                )
            payload = (
                "*"
                if body == "*"
                else _assignments(
                    body, mapping, [n for n in (target, t_alias) if n]
                )
            )
            if by_source and payload == "*":
                raise SqlStatementError(
                    "UPDATE SET * is undefined BY SOURCE (no source row)"
                )
            clauses.append(
                (
                    "update_by_source" if by_source else "update",
                    cond,
                    payload,
                )
            )
        else:  # INSERT
            if not insert_pop:
                raise SqlStatementError(
                    "INSERT is only valid WHEN NOT MATCHED"
                )
            if body == "*":
                payload = "*"
            else:
                cols_text, rest2 = _take_parens(body)
                rest2 = _expect(rest2, "VALUES")
                vals_text, tail = _take_parens(rest2)
                if tail.strip().rstrip(";").strip():
                    raise SqlStatementError(
                        f"trailing tokens after VALUES: {tail.strip()[:40]!r}"
                    )
                cols = [
                    _unquote(c).strip() for c in _split_top(cols_text, ",")
                ]
                vals = [v.strip() for v in _split_top(vals_text, ",")]
                if len(cols) != len(vals):
                    raise SqlStatementError(
                        f"INSERT lists {len(cols)} columns but "
                        f"{len(vals)} values"
                    )
                payload = {
                    c: _realias(v, mapping) for c, v in zip(cols, vals)
                }
            clauses.append(("insert", cond, payload))
    return {
        "table": target,
        "source_name": src_name,
        "source_query": src_query,
        "keys": keys,
        "clauses": clauses,
    }


def parse_statement(sql: str) -> tuple[str, dict]:
    """Parse one statement into ``(kind, payload)``; raises
    :class:`SqlStatementError` on anything outside the grammar."""
    stmt = sql.strip().rstrip(";").strip()
    lead = _LEAD.match(stmt)
    if not lead:
        raise SqlStatementError(
            "not a manifest-table statement (supported: MERGE INTO, "
            "INSERT INTO, UPDATE, DELETE FROM, DESCRIBE HISTORY, "
            "VACUUM, RESTORE)"
        )
    kind = lead.group(1).upper()
    if kind == "MERGE":
        return "merge", _parse_merge(stmt)
    if kind == "INSERT":
        s = _expect(stmt, "INSERT")
        s = _expect(s, "INTO")
        table, s = _take_ident(s, "table")
        cols = None
        if s.lstrip().startswith("("):
            cols_text, s = _take_parens(s)
            cols = [
                _unquote(c).strip() for c in _split_top(cols_text, ",")
            ]
            if not all(re.fullmatch(r"\w+", c) for c in cols):
                raise SqlStatementError(
                    f"bad INSERT column list ({cols_text.strip()!r})"
                )
        body = s.strip()
        if not re.match(r"(?is)^(VALUES|SELECT|WITH)\b", body):
            raise SqlStatementError(
                "expected VALUES (..) or SELECT .. after INSERT INTO "
                f"{table}"
            )
        return "insert", {"table": table, "cols": cols, "query": body}
    if kind == "UPDATE":
        s = _expect(stmt, "UPDATE")
        table, s = _take_ident(s, "table")
        s = _expect(s, "SET")
        halves = _split_top(s, "WHERE")
        if len(halves) > 2:
            raise SqlStatementError("more than one top-level WHERE")
        assigns = _assignments(halves[0], {}, [table, table.split(".")[-1]])
        pred = halves[1].strip() if len(halves) == 2 else "true"
        if not pred:
            raise SqlStatementError("empty WHERE predicate")
        return "update", {
            "table": table, "assignments": assigns, "where": pred,
        }
    if kind == "DELETE":
        s = _expect(stmt, "DELETE")
        s = _expect(s, "FROM")
        table, s = _take_ident(s, "table")
        s = s.strip()
        if s:
            s = _expect(s, "WHERE")
            pred = s.strip()
            if not pred:
                raise SqlStatementError("empty WHERE predicate")
        else:
            pred = "true"
        return "delete", {"table": table, "where": pred}
    if kind == "ALTER":
        s = _expect(stmt, "ALTER")
        s = _expect(s, "TABLE")
        table, s = _take_ident(s, "table")
        m = re.match(r"(?is)^\s*ADD\s+COLUMNS?\b", s)
        if m:
            body = s[m.end():].strip()
            if body.startswith("("):
                body, tail = _take_parens(body)
                if tail.strip():
                    raise SqlStatementError(
                        f"trailing tokens after column list: "
                        f"{tail.strip()[:40]!r}"
                    )
            cols: list = []
            defaults: dict = {}
            for part in _split_top(body, ","):
                cm = re.match(
                    rf"(?s)^\s*({_IDENT})\s+(\w+(?:\s*\(\s*\d+"
                    r"(?:\s*,\s*\d+)?\s*\))?)\s*(.*)$",
                    part,
                )
                if not cm:
                    raise SqlStatementError(
                        f"bad column declaration {part.strip()!r} "
                        "(expected name type [DEFAULT expr])"
                    )
                name, typ, rest = (
                    _unquote(cm.group(1)), cm.group(2), cm.group(3).strip()
                )
                if rest:
                    dm = re.match(r"(?is)^DEFAULT\s+(.+)$", rest)
                    if not dm:
                        raise SqlStatementError(
                            f"unsupported column option {rest[:30]!r} "
                            "(only DEFAULT <expr>)"
                        )
                    defaults[name] = dm.group(1).strip()
                cols.append(f"{name} {typ}")
            if not cols:
                raise SqlStatementError("empty ADD COLUMNS list")
            return "add_columns", {
                "table": table,
                "ddl": ", ".join(cols),
                "defaults": defaults,
            }
        m = re.match(
            rf"(?is)^\s*ADD\s+CONSTRAINT\s+({_IDENT})\s+CHECK\s*", s
        )
        if m:
            expr, tail = _take_parens(s[m.end():])
            if tail.strip():
                raise SqlStatementError(
                    f"trailing tokens after CHECK: {tail.strip()[:40]!r}"
                )
            return "add_constraint", {
                "table": table,
                "name": _unquote(m.group(1)),
                "expr": expr.strip(),
            }
        m = re.match(rf"(?is)^\s*DROP\s+CONSTRAINT\s+({_IDENT})\s*$", s)
        if m:
            return "drop_constraint", {
                "table": table,
                "name": _unquote(m.group(1)),
            }
        raise SqlStatementError(
            "supported ALTER TABLE forms: ADD COLUMN[S] c type "
            "[DEFAULT expr][, ..], ADD CONSTRAINT n CHECK (expr), "
            "DROP CONSTRAINT n"
        )
    if kind == "DESCRIBE":
        m = re.fullmatch(
            rf"(?is)DESCRIBE\s+HISTORY\s+({_IDENT})", stmt
        )
        if not m:
            raise SqlStatementError("expected DESCRIBE HISTORY <table>")
        return "history", {"table": _unquote(m.group(1))}
    if kind == "VACUUM":
        m = re.fullmatch(
            rf"(?is)VACUUM\s+({_IDENT})"
            r"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?"
            r"(\s+DRY\s+RUN)?",
            stmt,
        )
        if not m:
            raise SqlStatementError(
                "expected VACUUM <table> [RETAIN n HOURS] [DRY RUN]"
            )
        return "vacuum", {
            "table": _unquote(m.group(1)),
            "retain_hours": float(m.group(2)) if m.group(2) else None,
            "dry_run": bool(m.group(3)),
        }
    # RESTORE
    m = re.fullmatch(
        rf"(?is)RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+TO\s+"
        r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+(.+)",
        stmt,
    )
    if not m:
        raise SqlStatementError(
            "expected RESTORE [TABLE] <table> TO VERSION AS OF <n> "
            "(or TO TIMESTAMP AS OF '<ts>')"
        )
    table = _unquote(m.group(1))
    if m.group(2).upper() == "VERSION":
        v = m.group(3).strip()
        if not re.fullmatch(r"\d+", v):
            raise SqlStatementError(f"bad version literal {v!r}")
        return "restore", {"table": table, "version": int(v)}
    ts = m.group(3).strip()
    tm = re.fullmatch(r"'((?:[^']|'')*)'", ts)
    if not tm:
        raise SqlStatementError(f"bad timestamp literal {ts!r}")
    return "restore", {"table": table, "timestamp": tm.group(1)}


def execute_table_sql(
    spark: SparkSession,
    resolver: Callable[[str], ManifestTable],
    sql: str,
    batch_id: Optional[str] = None,
):
    """Parse + dispatch one statement.  ``resolver`` maps a table name
    to its :class:`ManifestTable` (a :class:`LakehouseCatalog.table`
    bound method fits).  Returns the :meth:`history` DataFrame for
    DESCRIBE HISTORY, the removed-file count for VACUUM, and the new
    (or ledger-replayed) version number for every write statement.
    DML/MERGE take the table's :meth:`ManifestTable.dml_mode`."""
    kind, p = parse_statement(sql)
    t = resolver(p["table"])
    if kind == "history":
        return t.history(spark)
    if kind == "vacuum":
        kw = {"dry_run": p["dry_run"]}
        if p["retain_hours"] is not None:
            kw["retain_seconds"] = p["retain_hours"] * 3600.0
        return t.vacuum(**kw)
    if kind == "restore":
        if "version" in p:
            return t.restore(version=p["version"], batch_id=batch_id)
        return t.restore(timestamp=p["timestamp"], batch_id=batch_id)
    if kind == "add_columns":
        return t.evolve_schema(
            p["ddl"],
            batch_id=batch_id,
            defaults=p["defaults"] or None,
        )
    if kind == "add_constraint":
        return t.add_check_constraint(
            spark, p["name"], p["expr"], batch_id=batch_id
        )
    if kind == "drop_constraint":
        return t.drop_constraint(p["name"], batch_id=batch_id)
    if kind == "insert":
        df = spark.sql(p["query"])
        if p["cols"] is not None:
            if len(p["cols"]) != len(df.columns):
                raise SqlStatementError(
                    f"INSERT column list has {len(p['cols'])} names "
                    f"but the query produces {len(df.columns)} columns"
                )
            df = df.toDF(*p["cols"])
        sch = (
            t._read_manifest().get("schema")
            if t.version() > 0 else None
        )
        if sch is not None:
            # SQL INSERT semantics: positional alignment to the table
            # schema when no column list is given (a bare VALUES query
            # arrives as col1/col2/..), implicit cast to the tracked
            # types, unknown names rejected; identity columns are
            # table-assigned and never count as insert targets
            from pyspark.sql import functions as F
            from pyspark.sql.types import StructType

            m = t._read_manifest()
            idc = set(m.get("identity_cols") or {})
            fields = [
                f for f in StructType.fromJson(sch).fields
                if f.name not in idc
            ]
            if p["cols"] is None:
                if len(df.columns) != len(fields):
                    raise SqlStatementError(
                        f"INSERT provides {len(df.columns)} columns "
                        f"but table {p['table']!r} has {len(fields)} "
                        "(add a column list)"
                    )
                df = df.toDF(*[f.name for f in fields])
            typ = {f.name: f.dataType for f in fields}
            unknown = [c for c in df.columns if c not in typ]
            if unknown:
                raise SqlStatementError(
                    f"INSERT column(s) {unknown} not in table "
                    f"{p['table']!r}"
                )
            df = df.select(
                *[F.col(c).cast(typ[c]).alias(c) for c in df.columns]
            )
        return t.commit_append(df, batch_id=batch_id)
    if kind == "update":
        return t.update_where(
            spark,
            p["where"],
            p["assignments"],
            batch_id=batch_id,
            mode=t.dml_mode(),
        )
    if kind == "delete":
        return t.delete_where(
            spark,
            p["where"],
            batch_id=batch_id,
            mode=t.dml_mode(),
        )
    # merge
    src = (
        spark.sql(p["source_query"])
        if p["source_query"] is not None
        else spark.table(p["source_name"])
    )
    return t.merge_into(
        spark,
        src,
        key_columns=p["keys"],
        clauses=p["clauses"],
        batch_id=batch_id,
        mode=t.dml_mode(),
    )


def try_execute_table_sql(
    spark: SparkSession, catalog, sql: str
) -> tuple[bool, object, Optional[str]]:
    """The ``post_query`` hook: dispatch through the router when the
    statement leads with one of the six claimed shapes AND its target
    is a table the :class:`LakehouseCatalog` knows; otherwise
    ``(False, None, None)`` so the caller falls back to ``spark.sql``
    (plain ``DESCRIBE t`` is deliberately NOT claimed).  A claimed
    statement that fails to parse raises — a malformed MERGE against a
    lakehouse table must never be silently handed to an engine that
    cannot write it.  Returns ``(True, result, table_name)`` so the
    caller can refresh the written table's registered view."""
    if not _CLAIM.match(sql or ""):
        return False, None, None
    try:
        kind, p = parse_statement(sql)
    except SqlStatementError:
        # Valid Spark SQL outside this grammar (INSERT OVERWRITE,
        # ALTER TABLE .. RENAME, ..) must keep falling through to
        # spark.sql when the target is not a table the catalog owns
        # (ADVICE r19, low — r18 hard-failed here).  Only statements
        # whose target IS a lakehouse table stay loud: handing them
        # to an engine that cannot write the manifest would silently
        # diverge the table.
        m = _TARGET.match(sql)
        if m is None or not catalog.owns(_unquote(m.group(1))):
            return False, None, None
        raise
    name = p["table"]
    if not catalog.owns(name):
        return False, None, None
    return True, execute_table_sql(spark, catalog.table, sql), name
