"""postgres_query / postgres_execute equivalents.

Parity with reference src/postgres_query.cpp (run arbitrary SELECT on
the remote side, scan the result) and src/postgres_execute.cpp (run
DDL/DML remotely, no result).

Spark-first: for an attached parquet-backed database the "remote
side" is Spark SQL over the registered views — the query text runs
unchanged through Catalyst. For a live Postgres attach the query
ships to the remote engine through the `postgres_scan`
DataSource's query mode (true passthrough: the remote engine executes
it, Spark scans the result — identical split of work to the
reference), and postgres_execute runs on one pgclient connection.

Statement text is read only through `pushdown.sql_tokens`, the one
Postgres lexer: a `;`, `,` or parenthesis inside '...', E'...',
$tag$...$tag$, "..." or a comment is never code, and every statement
is classified by its body, the text without the whitespace, comments
and `;` around it (`pushdown.sql_body`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog
from .pushdown import sql_body, sql_tokens
from .settings import SETTINGS


def pg_query(catalog: Catalog, alias: str, sql: str) -> DataFrame:
    """postgres_query(db, sql): the SQL executes on the attached db's
    engine; the result is a scannable DataFrame.

    reference: src/postgres_query.cpp PostgresQueryBind — validates
    the db handle, requires a SELECT. The statement's body decides;
    a live server gets the text as given and the `postgres_scan`
    query mode takes its body.
    """
    if alias not in catalog.attached:
        raise KeyError(f"Failed to find attached database {alias!r}")
    db = catalog.attached[alias]
    body = sql_body(sql)
    if not _READ_STMT_RE.match(body):
        # reference: PostgresQueryBind rejects non-SELECT input — and
        # routing DDL here would bypass pg_execute's READ_ONLY gate
        raise ValueError(
            "postgres_query: input must be a SELECT statement")
    if db.backend == "postgres":
        # true passthrough: the attached engine executes the SQL and the
        # postgres_scan DataSource streams the result on the EXECUTORS
        # (reference: PostgresQueryBind runs the text on the PG side and
        # streams the result set). No driver materialization: the driver
        # only probes the result schema (LIMIT 0); executor partitions
        # fetch Arrow batches.
        from .pg_datasource import ensure_registered
        ensure_registered(catalog.spark)
        return (catalog.spark.read.format("postgres_scan")
                .options(**SETTINGS.scan_options())
                .option("dsn", db.dsn).option("query", sql)
                .option("pg_experimental_filter_pushdown", "false").load())
    if db.backend == "store":
        # DESCRIBE / PRAGMA table_info carry constraint+default info
        # the session catalog doesn't know (attach_describe.test)
        if m := re.match(rf"DESCRIBE\s+{_QIDENT}$", body, re.IGNORECASE):
            rows = db.store.describe(_unquote(m.group(1)))
            return catalog.spark.createDataFrame(
                [(r["column_name"], r["column_type"], r["null"],
                  r["key"], r["default"], None) for r in rows],
                "column_name STRING, column_type STRING, null STRING, "
                "key STRING, default STRING, extra STRING")
        if m := re.match(r"PRAGMA\s+table_info\s*\(\s*'(.+?)'\s*\)$",
                         body, re.IGNORECASE):
            rows = db.store.describe(_unquote(m.group(1)))
            return catalog.spark.createDataFrame(
                [(r["cid"], r["column_name"], r["column_type"],
                  r["null"] == "NO", r["default"], r["key"] == "PRI")
                 for r in rows],
                "cid INT, name STRING, type STRING, notnull BOOLEAN, "
                "dflt_value STRING, pk BOOLEAN")
    return _pg_sql(catalog.spark, body)


def _escape_pg_literals(sql: str) -> str:
    """Rewrite PG-dialect quoting for Spark's parser:

    - string literals: in PG (standard_conforming_strings) a
      backslash inside '...' is a LITERAL character and '' is the
      quote escape; Spark processes backslash escapes, so '\\42\\'
      is a parse error. Double every backslash — Spark decodes them
      back — and '' keeps working on both.
      (spark.sql.parser.escapedStringLiterals is deprecated AND
      changes '' handling in Spark 4, so a conf flip cannot do this;
      spark.sql.ansi.doubleQuotedIdentifiers would drag in ANSI
      arithmetic semantics.) Reference: attach_backslash.test.
    - identifiers: PG "Quoted_Ident" ("" escapes a quote) becomes
      Spark `Quoted_Ident` (`` escapes a backtick). Reference:
      attach_case_sensitive_columns.test, attach_keywords.test.
    - dollar-quoted strings ($$...$$ / $tag$...$tag$): the body is RAW
      (no escapes) and Spark has no dollar quoting, so it becomes a
      standard literal with Spark's escaping ('' for quotes, doubled
      backslashes).
    - E'...' escape strings: backslash escapes are real there, which is
      Spark's default literal semantics — the E drops, the body stays.
    - comments pass through untouched."""
    out = []
    for m in sql_tokens(sql):
        kind, text = m.lastgroup, m.group()
        if kind == "string":
            text = text.replace("\\", "\\\\")
        elif kind == "estring":
            text = f"'{m.group('ebody')}'"
        elif kind == "dollar":
            body = m.group("dbody").replace("\\", "\\\\").replace("'", "''")
            text = f"'{body}'"
        elif kind == "ident":
            text = ("`" + _ident_name(m).replace("`", "``")
                    + "`" * len(m.group("iclose")))
        out.append(text)
    return "".join(out)


def _ident_name(m) -> str:
    """The name an `ident` token spells ("" unescapes a quote)."""
    return m.group("ibody").replace('""', '"')


def _pg_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Run routed PG-dialect SQL under PG string-literal semantics."""
    return spark.sql(_escape_pg_literals(sql))


# identifier: bare word OR double-quoted (PG-style, "" escapes a quote)
# — reference handles quoted/keyword/case-sensitive table names
# (attach_keywords.test, attach_case_sensitive_tables.test); tables may
# be schema-qualified (attach_schemas.test)
_ID = r'(?:"(?:[^"]|"")+"|\w+)'
_IDENT = rf"({_ID})"
_QIDENT = rf"({_ID}(?:\.{_ID})?)"

# MERGE INTO t USING src ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
# WHEN NOT MATCHED THEN INSERT * — the delta-style upsert form; the
# source is a subquery or view, keys are same-named equality columns
_MERGE_PREFIX_RE = re.compile(
    rf"^\s*MERGE\s+INTO\s+{_QIDENT}\s+USING\s+", re.IGNORECASE)
_MERGE_CLAUSES_RE = re.compile(
    r"^ON\s+(.+?)"
    r"(\s+WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*)?"
    r"(\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*)?$",
    re.IGNORECASE | re.DOTALL)

# COPY t TO 'path' (FORMAT fmt) / COPY (SELECT ..) TO 'path' /
# COPY t FROM 'path' (FORMAT fmt) — reference:
# test/sql/misc/postgres_binary.test (binary-format file interchange
# driven through SQL). Reference FORMAT names map onto copyio's:
# binary/postgres_binary → the PGCOPY wire codec, text/csv → text,
# parquet → the Spark-native columnar path.
_COPY_TO_RE = re.compile(
    rf"^\s*COPY\s+(?:{_QIDENT}|\((.+)\))\s+TO\s+'([^']+)'"
    r"(?:\s*\(\s*FORMAT\s+(\w+)\s*\))?$",
    re.IGNORECASE | re.DOTALL)
_COPY_FROM_RE = re.compile(
    rf"^\s*COPY\s+{_QIDENT}\s+FROM\s+'([^']+)'"
    r"(?:\s*\(\s*FORMAT\s+(\w+)\s*\))?$",
    re.IGNORECASE | re.DOTALL)


def _copy_fmt(word: str | None) -> str | None:
    if word is None:
        return None
    w = word.lower()
    return {"binary": "pg_binary", "postgres_binary": "pg_binary",
            "text": "text", "csv": "text", "parquet": "binary"}.get(w, w)


_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+{_QIDENT}(?:\s+WHERE\s+(.+?))?$",
    re.IGNORECASE | re.DOTALL)
# PG TRUNCATE: unconditionally empty the table (fast path of DELETE)
_TRUNCATE_RE = re.compile(
    rf"^\s*TRUNCATE\s+(?:TABLE\s+)?{_QIDENT}$", re.IGNORECASE)
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+{_QIDENT}\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?$",
    re.IGNORECASE | re.DOTALL)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+{_QIDENT}\s*"
    rf"(?:\(([^()]*)\)\s*)?"   # optional explicit column list
    rf"(SELECT\s+.+?|VALUES\s*\(.+?\))$",
    re.IGNORECASE | re.DOTALL)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?{_QIDENT}$", re.IGNORECASE)
# CREATE TEMP/TEMPORARY TABLE x → CREATE TABLE pg_temp.x (reference:
# attach_temporary_table.test — PG session temp tables live in the
# lazily-created pg_temp schema, dropped at session end / detach)
_TEMP_TABLE_RE = re.compile(
    rf"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?)(?:TEMP|TEMPORARY)\s+TABLE\s+"
    # the (?!IF\s+NOT\s+EXISTS) guard stops backtracking from treating
    # the keyword IF as the table name when the optional group fails
    # ('... IF NOT EXISTS pg_temp.t' must fall through to the
    # qualified rewrite, not become 'pg_temp.IF NOT EXISTS ...')
    rf"((?:IF\s+NOT\s+EXISTS\s+)?)(?!pg_temp\.)(?!IF\s+NOT\s+EXISTS)"
    rf"({_ID})(?!\.)",
    re.IGNORECASE)
# explicit qualifier (CREATE TEMP TABLE pg_temp.t ...): just strip the
# TEMP keyword — the name already routes to the temp namespace
_TEMP_QUALIFIED_RE = re.compile(
    r"^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?)(?:TEMP|TEMPORARY)\s+TABLE\s+"
    r"(?=(?:IF\s+NOT\s+EXISTS\s+)?pg_temp\.)",
    re.IGNORECASE)
_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    rf"{_QIDENT}\s+AS\s+(SELECT\s+.+?)$",
    re.IGNORECASE | re.DOTALL)
_CREATE_SCHEMA_RE = re.compile(
    rf"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?{_IDENT}$",
    re.IGNORECASE)
_DROP_SCHEMA_RE = re.compile(
    rf"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?{_IDENT}\s*(CASCADE)?$",
    re.IGNORECASE)
_CREATE_VIEW_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+{_IDENT}\s+AS\s+(SELECT\s+.+?)$",
    re.IGNORECASE | re.DOTALL)
_DROP_VIEW_RE = re.compile(
    rf"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?{_IDENT}$", re.IGNORECASE)
_CREATE_TABLE_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    rf"{_QIDENT}\s*\((.+)\)$",
    re.IGNORECASE | re.DOTALL)
_ALTER_ADD_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_QIDENT}\s+ADD\s+(?:COLUMN\s+)?{_IDENT}\s+([\w(), ]+?)$",
    re.IGNORECASE)
_ALTER_RENAME_TABLE_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_QIDENT}\s+RENAME\s+TO\s+{_IDENT}$",
    re.IGNORECASE)
_ALTER_RENAME_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_QIDENT}\s+RENAME\s+(?:COLUMN\s+)?{_IDENT}\s+TO\s+{_IDENT}$",
    re.IGNORECASE)
_ALTER_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+{_QIDENT}\s+DROP\s+(?:COLUMN\s+)?{_IDENT}$",
    re.IGNORECASE)
_CREATE_INDEX_RE = re.compile(
    rf"^\s*CREATE\s+INDEX\s+(?:{_ID}\s+)?ON\s+{_QIDENT}\s*\(\s*{_IDENT}\s*\)$",
    re.IGNORECASE)


_CONSTRAINT_KW = re.compile(
    r"\s+(NOT\s+NULL|NULL\b|PRIMARY\s+KEY|UNIQUE\b|CHECK\s*\(|DEFAULT\s+|"
    r"REFERENCES\s+)", re.IGNORECASE)


# tokens whose text is never code
_QUOTED = frozenset({"comment", "dollar", "estring", "string", "ident"})


def _code_only(text: str) -> str:
    """`text` with each quoted token and comment masked to '_' of the
    same length, so a regex over it matches code only — a DEFAULT like
    'no default given' must not be split at the ' default ' inside
    the literal."""
    return "".join(
        "_" * len(m.group()) if m.lastgroup in _QUOTED else m.group()
        for m in sql_tokens(text))


def _split_top(text: str, kind: str) -> list[str]:
    """`text` cut at each token of `kind` outside parentheses."""
    parts, start, depth = [], 0, 0
    for m in sql_tokens(text):
        depth += (m.lastgroup == "open") - (m.lastgroup == "close")
        if m.lastgroup == kind and depth == 0:
            parts.append(text[start:m.start()])
            start = m.end()
    return parts + [text[start:]]


def _split_top_commas(text: str) -> list[str]:
    """The non-empty comma-separated items of `text`, split outside
    parentheses, quotes and comments."""
    return [p.strip() for p in _split_top(text, "comma") if p.strip()]


def _balanced_paren(text: str) -> tuple[str, str]:
    """text starts at '('; return (inner, rest-after-close)."""
    head, *tail = _split_top(text, "close")
    if not tail:
        raise ValueError(f"unbalanced parens in {text!r}")
    return head[1:], text[len(head) + 1:]


def _parse_merge(sql: str):
    """Parse a MERGE statement into (table, source_sql, keys, upd, ins)
    or return None if `sql` is not a MERGE. The USING source is read
    with balanced-paren scanning so subqueries containing JOIN .. ON
    survive; the ON clause must be a conjunction of same-named
    equality columns (t.k = s.k [AND ...]) — OR and non-equality
    predicates are REJECTED rather than silently dropped."""
    m = _MERGE_PREFIX_RE.match(sql)
    if not m:
        return None
    table = m.group(1)
    rest = sql[m.end():].lstrip()
    if rest.startswith("("):
        src_sql, rest = _balanced_paren(rest)
    else:
        im = re.match(_ID, rest)
        if not im:
            raise ValueError("MERGE: cannot parse USING source")
        src_sql, rest = f"SELECT * FROM {im.group(0)}", rest[im.end():]
    # optional [AS] alias before ON
    rest = re.sub(rf"^\s*(?:AS\s+)?{_ID}\s+(?=ON\s)", "", rest.lstrip(),
                  flags=re.IGNORECASE)
    cm = _MERGE_CLAUSES_RE.match(rest.lstrip())
    if not cm:
        raise ValueError(
            "MERGE: expected ON <cond> followed by WHEN MATCHED THEN "
            "UPDATE SET * and/or WHEN NOT MATCHED THEN INSERT *")
    on_clause, upd, ins = cm.group(1), bool(cm.group(2)), bool(cm.group(3))
    if not (upd or ins):
        raise ValueError(
            "MERGE needs WHEN MATCHED THEN UPDATE SET * and/or "
            "WHEN NOT MATCHED THEN INSERT *")
    keys = []
    for part in re.split(r"\s+AND\s+", on_clause.strip(),
                         flags=re.IGNORECASE):
        pm = re.fullmatch(
            rf"\s*{_ID}\.({_ID})\s*=\s*{_ID}\.({_ID})\s*", part)
        if not pm or _unquote(pm.group(1)) != _unquote(pm.group(2)):
            raise ValueError(
                f"MERGE ON must be equality conjunctions on same-named "
                f"columns (t.k = s.k [AND ...]); cannot route {part!r}")
        keys.append(_unquote(pm.group(1)))
    return table, src_sql, keys, upd, ins


def _parse_col_constraints(name: str, tail: str, meta: dict) -> None:
    """Scan a column definition's constraint tail: NOT NULL, PRIMARY
    KEY, UNIQUE, CHECK(expr), DEFAULT expr (reference:
    attach_constraints.test, attach_defaults.test)."""
    while tail:
        tail = tail.strip()
        if not tail:
            break
        up = tail.upper()
        if up.startswith("NOT"):
            meta.setdefault("not_null", []).append(name)
            tail = re.sub(r"^NOT\s+NULL", "", tail, flags=re.IGNORECASE)
            continue
        if up.startswith("NULL"):
            tail = tail[4:]
            continue
        if up.startswith("PRIMARY"):
            meta.setdefault("keys", []).append([name])
            meta.setdefault("not_null", []).append(name)
            tail = re.sub(r"^PRIMARY\s+KEY", "", tail, flags=re.IGNORECASE)
            continue
        if up.startswith("UNIQUE"):
            meta.setdefault("keys", []).append([name])
            tail = tail[6:]
            continue
        if up.startswith("CHECK"):
            after = tail[5:].lstrip()
            inner, tail = _balanced_paren(after)
            meta.setdefault("checks", []).append(inner.strip())
            continue
        if up.startswith("DEFAULT"):
            after = tail[7:].lstrip()
            m = _CONSTRAINT_KW.search(_code_only(after))
            expr, tail = (after[:m.start()], after[m.start():]) if m \
                else (after, "")
            meta.setdefault("defaults", {})[name] = expr.strip()
            continue
        if up.startswith("REFERENCES"):
            # FK is catalog-only here (reference records but does not
            # enforce FKs through the scanner either)
            break
        break


def _coldefs_to_schema(coldefs: str):
    """Backwards-compatible wrapper: schema only."""
    return _parse_coldefs(coldefs)[0]


def _parse_coldefs(coldefs: str):
    """'id INT PRIMARY KEY, name VARCHAR(20) DEFAULT ''x''' →
    (StructType, constraint-meta) via the PG type map (reference:
    postgres_table_set.cpp CreateTable DDL path +
    attach_constraints/attach_defaults tests)."""
    from pyspark.sql import types as T
    from .types import pg_type_to_spark
    fields = []
    meta: dict = {}
    for part in _split_top_commas(coldefs):
        up = part.upper()
        if up.startswith("CONSTRAINT"):
            part = re.sub(rf"^CONSTRAINT\s+{_ID}\s+", "", part,
                          flags=re.IGNORECASE)
            up = part.upper()
        if up.startswith("PRIMARY"):
            inner, _ = _balanced_paren(part[part.index("("):])
            cols = [_unquote(c) for c in _split_top_commas(inner)]
            meta.setdefault("keys", []).append(cols)
            meta.setdefault("not_null", []).extend(cols)
            continue
        if up.startswith("UNIQUE"):
            inner, _ = _balanced_paren(part[part.index("("):])
            meta.setdefault("keys", []).append(
                [_unquote(c) for c in _split_top_commas(inner)])
            continue
        if up.startswith("CHECK"):
            inner, _ = _balanced_paren(part[part.index("("):])
            meta.setdefault("checks", []).append(inner.strip())
            continue
        if up.startswith("FOREIGN"):
            continue   # catalog-only
        m = re.match(rf"{_IDENT}\s+(.+)$", part, re.DOTALL)
        name, rest = _unquote(m.group(1)), m.group(2).strip()
        km = _CONSTRAINT_KW.search(_code_only(" " + rest))
        if km:
            typ = rest[: max(km.start() - 1, 0)].strip()
            _parse_col_constraints(name, rest[km.start() - 1:], meta)
        else:
            typ = rest
        prec = scale = None
        pm = re.match(r"([\w ]+?)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$", typ)
        if pm:
            typ = pm.group(1).strip()
            base = typ.lower()
            if base in ("numeric", "decimal"):
                typ = "numeric"
                prec = int(pm.group(2))
                scale = int(pm.group(3) or 0)
            elif base in ("char", "character", "bpchar", "nchar",
                          "varchar", "character varying", "nvarchar"):
                # length is ENFORCED, not advisory (reference:
                # attach_types_char.test:30-33 "value too long" on
                # over-length INSERT). bpchar additionally blank-
                # strips on read — PG pads to n on storage and the
                # reference's scan surfaces the value trailing-space-
                # trimmed, so the store keeps the trimmed form.
                meta.setdefault("char_limits", {})[name] = {
                    "n": int(pm.group(2)),
                    "pad": base in ("char", "character", "bpchar",
                                    "nchar")}
        fields.append(T.StructField(name, pg_type_to_spark(
            typ, precision=prec, scale=scale,
            array_as_varchar=SETTINGS.pg_array_as_varchar), True))
    return T.StructType(fields), meta


def _unquote(name: str) -> str:
    """A possibly schema-qualified name with each double-quoted part
    unquoted; bare parts pass through verbatim (the store is
    case-preserving, like Spark's catalog)."""
    return "".join(_ident_name(m) if m.lastgroup == "ident" else m.group()
                   for m in sql_tokens(name))


def _expand_default_values(store, table: str, values_sql: str,
                           cols: list[str] | None) -> str:
    """Replace bare DEFAULT tokens in a VALUES list with the target
    column's stored DEFAULT expression (attach_describe.test:
    INSERT INTO t VALUES (DEFAULT))."""
    if not re.search(r"\bDEFAULT\b", values_sql, re.IGNORECASE):
        return values_sql
    body = values_sql.strip()[len("VALUES"):].strip()
    target_cols = cols or store.scan(table).columns
    defaults = store.table_meta(table).get("defaults", {})
    out_rows = []
    for r in _split_top_commas(body):
        inner, _ = _balanced_paren(r.strip())
        cells = []
        for i, cell in enumerate(_split_top_commas(inner)):
            if cell.strip().upper() == "DEFAULT":
                col = target_cols[i] if i < len(target_cols) else None
                cells.append(defaults.get(col, "NULL"))
            else:
                cells.append(cell)
        out_rows.append("(" + ", ".join(cells) + ")")
    return "VALUES " + ", ".join(out_rows)


def _split_statements(sql: str) -> list[str]:
    """The bodies of the `;`-separated statements in `sql` (reference:
    postgres_execute ships the whole string to PQexec, which executes
    each statement); a statement of only comments is dropped."""
    return [b for p in _split_top(sql, "semi") if (b := sql_body(p))]


def _split_assignments(set_clause: str) -> dict[str, str]:
    # quote/paren-aware split: SET v = greatest(a, b), s = 'x,y' must
    # not break at the commas inside the call or the literal
    out = {}
    for part in _split_top_commas(set_clause):
        col, _, expr = part.partition("=")
        out[_unquote(col.strip())] = expr.strip()
    return out


def pg_execute(catalog: Catalog, alias: str, sql: str) -> None:
    """postgres_execute(db, sql): DDL/DML with no result set.

    reference: src/postgres_execute.cpp — requires write access. For a
    writable attached store, the statement routes to the managed
    store's distributed DML (DELETE/UPDATE = snapshot rewrite, INSERT
    = file append, CTAS/DROP = catalog ops — reference:
    test/sql/storage/attach_delete.test, attach_update.test). A live
    Postgres attach runs the statement on one connection and commits
    on success. Anything else runs through Spark SQL against the
    registered views.
    """
    db = catalog.attached[alias]
    if db.read_only:
        raise PermissionError(f"database {alias!r} attached READ_ONLY")
    if db.backend == "postgres":
        from . import pgclient
        # the connection's exit commits on success, rolls back on error
        with pgclient.connect(db.dsn) as con, con.cursor() as cur:
            cur.execute(sql)
        # a cached table's schema may be stale after remote DDL
        catalog.clear_cache(alias)
        return
    if db.backend == "store":
        # postgres_execute accepts multiple ';'-separated statements
        # (reference: postgres_execute_transaction.test); each routes
        # by its body, and one of only comments does nothing
        stmts = _split_statements(sql)
        if len(stmts) != 1:
            for s in stmts:
                pg_execute(catalog, alias, s)
            return
        sql = _TEMP_TABLE_RE.sub(r"\1TABLE \2pg_temp.\3", stmts[0])
        sql = _TEMP_QUALIFIED_RE.sub(r"\1TABLE ", sql)
        store = db.store
        if re.match(r"^\s*BEGIN(\s+TRANSACTION)?\s*$", sql,
                    re.IGNORECASE):
            store.begin()
            return
        if re.match(r"^\s*COMMIT\s*$", sql, re.IGNORECASE):
            store.commit()
        elif re.match(r"^\s*ROLLBACK\s*$", sql, re.IGNORECASE):
            store.rollback()
        elif re.match(r"^\s*CHECKPOINT(\s+\w+)?\s*$", sql,
                      re.IGNORECASE):
            store.checkpoint()
        elif m := re.match(rf"^\s*VACUUM(\s+{_ID})?\s*$", sql,
                           re.IGNORECASE):
            store.vacuum(_unquote(m.group(1).strip()) if m.group(1)
                         else None)
        elif m := _COPY_TO_RE.match(sql):
            from .copyio import copy_to
            table, sub, path, fmt = m.groups()
            df = (_pg_sql(catalog.spark, sub) if sub
                  else store.scan(_unquote(table)))
            copy_to(df, path, format=_copy_fmt(fmt))
        elif m := _COPY_FROM_RE.match(sql):
            from .copyio import copy_from
            table, path, fmt = m.groups()
            t = _unquote(table)
            cur = store.scan(t)
            store.insert(t, copy_from(catalog.spark, path,
                                      format=_copy_fmt(fmt),
                                      schema=cur.schema))
        elif parsed := _parse_merge(sql):
            table, src_sql, keys, upd, ins = parsed
            store.merge(_unquote(table),
                        _pg_sql(catalog.spark, src_sql),
                        keys, update_all=upd, insert_all=ins)
        elif m := _TRUNCATE_RE.match(sql):
            store.delete(_unquote(m.group(1)), "true")
        elif m := _DELETE_RE.match(sql):
            # no WHERE = whole-table delete (standard SQL). WHERE/SET
            # fragments run through F.expr (Spark's parser) inside the
            # store, so they need the same PG-dialect translation the
            # full-statement paths get
            store.delete(_unquote(m.group(1)),
                         _escape_pg_literals(m.group(2))
                         if m.group(2) else "true")
        elif m := _UPDATE_RE.match(sql):
            store.update(_unquote(m.group(1)),
                         _escape_pg_literals(m.group(3))
                         if m.group(3) else "true",
                         {k: _escape_pg_literals(v) for k, v in
                          _split_assignments(m.group(2)).items()})
        elif m := _INSERT_RE.match(sql):
            table, collist, src = (_unquote(m.group(1)),
                                   m.group(2), m.group(3))
            # explicit column list fills the rest from DEFAULTs
            # (attach_defaults.test); without one INSERT is positional
            cols = ([_unquote(c) for c in _split_top_commas(collist)]
                    if collist else None)
            if src.upper().startswith("VALUES"):
                src = _expand_default_values(store, table, src, cols)
                src = f"SELECT * FROM ({src})"
            df = _pg_sql(catalog.spark, src)
            store.insert(table, df, columns=cols)
        elif m := _CTAS_RE.match(sql):
            store.create_table(_unquote(m.group(3)),
                               _pg_sql(catalog.spark, m.group(4)),
                               if_not_exists=bool(m.group(2)),
                               or_replace=bool(m.group(1)))
        elif m := _CREATE_TABLE_RE.match(sql):
            schema, tmeta = _parse_coldefs(m.group(4))
            empty = catalog.spark.createDataFrame([], schema)
            store.create_table(_unquote(m.group(3)), empty,
                               if_not_exists=bool(m.group(2)),
                               or_replace=bool(m.group(1)),
                               meta=tmeta or None)
        elif m := _ALTER_ADD_RE.match(sql):
            typ = m.group(3).strip()
            dt = _coldefs_to_schema(f"c {typ}")["c"].dataType
            store.add_column(_unquote(m.group(1)),
                             _unquote(m.group(2)), "NULL",
                             dt.simpleString())
        elif m := _ALTER_RENAME_TABLE_RE.match(sql):
            old, new = _unquote(m.group(1)), _unquote(m.group(2))
            store.rename_table(old, new)
            catalog.drop_table_views(db, old)
            target = (old.partition(".")[0] + "." + new
                      if "." in old else new)
            catalog.register_table_views(db, target)
        elif m := _ALTER_RENAME_RE.match(sql):
            store.rename_column(_unquote(m.group(1)),
                                _unquote(m.group(2)), _unquote(m.group(3)))
        elif m := _ALTER_DROP_RE.match(sql):
            store.drop_column(_unquote(m.group(1)),
                              _unquote(m.group(2)))
        elif m := _CREATE_INDEX_RE.match(sql):
            store.create_index(_unquote(m.group(1)),
                               _unquote(m.group(2)))
        elif m := _DROP_RE.match(sql):
            dropped = _unquote(m.group(2))
            store.drop_table(dropped, if_exists=bool(m.group(1)))
            catalog.drop_table_views(db, dropped)
        elif m := _CREATE_SCHEMA_RE.match(sql):
            store.create_schema(_unquote(m.group(2)),
                                if_not_exists=bool(m.group(1)))
        elif m := _DROP_SCHEMA_RE.match(sql):
            store.drop_schema(_unquote(m.group(2)),
                              if_exists=bool(m.group(1)),
                              cascade=bool(m.group(3)))
        elif m := _CREATE_VIEW_RE.match(sql):
            vname = _unquote(m.group(2))
            # store the TRANSLATED body: scan_view replays it through
            # spark.sql on every read, where raw PG-dialect quoting
            # would misparse (the stored text is Spark SQL by contract
            # of ManagedStore.create_view's Python API)
            store.create_view(vname, _escape_pg_literals(m.group(3)),
                              or_replace=bool(m.group(1)))
        elif m := _DROP_VIEW_RE.match(sql):
            vname = _unquote(m.group(2))
            store.drop_view(vname, if_exists=bool(m.group(1)))
            for name in (f"{alias}_{vname}", vname):
                if name in db.views:
                    catalog.spark.catalog.dropTempView(name)
                    db.views.remove(name)
        else:
            _pg_sql(catalog.spark, sql)
        # rebind every view to the new snapshot: a stale DataFrame pins
        # the OLD one (wrong rows after DML; FileNotFound after a
        # CHECKPOINT/VACUUM garbage-collects its version dir)
        catalog.refresh_views(db)
        return
    _pg_sql(catalog.spark, sql)


# ---------------------------------------------------------------------
# Session-level SQL: the reference is driven entirely through SQL —
# `ATTACH 'dsn' AS s (TYPE POSTGRES, ...)`, `USE s`, `DETACH s` — so
# the engine accepts the same statements (reference:
# postgres_attach.cpp AttachFunction; test/sql/storage/attach_*.test).
_ATTACH_RE = re.compile(
    rf"^\s*ATTACH\s+(?:DATABASE\s+)?'((?:[^']|'')*)'\s+AS\s+{_IDENT}\s*"
    rf"(?:\(([^()]*)\))?$", re.IGNORECASE)
_DETACH_RE = re.compile(
    rf"^\s*DETACH\s+(?:DATABASE\s+)?{_IDENT}\s*$", re.IGNORECASE)
_USE_RE = re.compile(rf"^\s*USE\s+{_IDENT}\s*$", re.IGNORECASE)
# statements that produce a result set without mutating anything —
# safe on READ_ONLY attaches, routed to pg_query
_READ_STMT_RE = re.compile(
    r"^\s*(?:SELECT|WITH|VALUES|TABLE|DESCRIBE|PRAGMA|SHOW|EXPLAIN|\()",
    re.IGNORECASE)


def _parse_attach_options(opts: str) -> dict:
    """`TYPE POSTGRES, READ_ONLY, SCHEMA 'x'` → kwargs. Unknown or
    malformed options raise ValueError (matching the reference's
    binder errors). Quote-aware split: SCHEMA 'a,b' stays one option."""
    def value_of(o: str) -> str:
        parts = o.split(None, 1)
        if len(parts) < 2 or not parts[1].strip():
            raise ValueError(f"ATTACH option {parts[0]!r} needs a value")
        return parts[1].strip().strip("'\"")

    out: dict = {}
    for o in _split_top_commas(opts):
        up = o.upper()
        if up.startswith("TYPE"):
            typ = value_of(o).upper()
            if typ != "POSTGRES":
                raise ValueError(f"unsupported ATTACH type {typ!r}")
        elif up == "READ_ONLY" or up == "READ_ONLY TRUE":
            out["read_only"] = True
        elif up.startswith("SCHEMA") or up.startswith("SOURCE_SCHEMA"):
            out["schema"] = value_of(o)
        else:
            raise ValueError(f"unknown ATTACH option {o!r}")
    return out


_CALL_ATTACH_RE = re.compile(
    r"^\s*CALL\s+postgres_attach\s*\(\s*'((?:[^']|'')*)'\s*"
    r"(?:,\s*(.*?))?\s*\)\s*$",
    re.IGNORECASE | re.DOTALL)
_CALL_KWARG_RE = re.compile(
    r"\s*(\w+)\s*(?::?=|=>)\s*(?:'((?:[^']|'')*)'|(\w+))\s*(?:,|$)")


def _call_postgres_attach(catalog: Catalog, dsn: str, argstr: str):
    """`CALL postgres_attach(dsn, ...)` — the reference's table-
    function attach (src/postgres_attach.cpp AttachFunction), which
    creates one view per table of the source schema. Here the call is
    `Catalog.attach(dsn)` under the DSN's dbname as alias (else
    "pg"), made the current database when none is: a live attach is
    lazy and registers NO views, so a table reads through
    `Catalog.table` and a bare table name in routed SQL reaches the
    server through `pg_query`. Named args map: source_schema →
    attach(schema=...); overwrite=true re-attaches where the default
    keeps an existing attach of the same DSN, and resolves the new
    source before it detaches the old one; filter_pushdown and
    sink_schema are accepted — attached tables scan with pushdown
    off, and the sink namespace has no Spark equivalent."""
    from .pg_datasource import refuse_standin
    refuse_standin(dsn, "CALL postgres_attach")
    kwargs: dict = {}
    overwrite = False
    # anchored scan: every byte of the argument list must parse as a
    # name=value pair — a positional or malformed argument raises
    # instead of silently attaching the wrong surface (the same
    # strictness _parse_attach_options applies to ATTACH options)
    pos, matches = 0, []
    argstr = (argstr or "").strip()
    while pos < len(argstr):
        m = _CALL_KWARG_RE.match(argstr, pos)
        if not m:
            raise ValueError(
                f"malformed postgres_attach argument near "
                f"{argstr[pos:pos + 30]!r} — expected name=value")
        matches.append(m)
        pos = m.end()
    for m in matches:
        key = m.group(1).lower()
        val = (m.group(2).replace("''", "'")
               if m.group(2) is not None else m.group(3))
        if key == "source_schema":
            kwargs["schema"] = val
        elif key == "overwrite":
            overwrite = str(val).lower() in ("true", "1", "t")
        elif key in ("sink_schema", "suffix", "filter_pushdown"):
            pass  # accepted for statement parity; no-op here
        else:
            raise ValueError(
                f"unknown postgres_attach argument {key!r}")
    # alias: the dbname from the DSN, the reference's mental model of
    # "the attached postgres database"
    alias = "pg"
    if dm := re.search(r"dbname=([\w-]+)", dsn):
        alias = dm.group(1)
    existing = catalog.attached.get(alias)
    if existing is not None and not overwrite:
        if existing.source != dsn:
            raise ValueError(
                f"database {alias!r} is already attached to "
                f"{existing.source!r}; re-attaching a DIFFERENT "
                f"source needs overwrite=true")
        return existing                     # VIEW IF NOT EXISTS
    # a source that cannot attach fails here, with the old attach and
    # its views untouched
    db = catalog.resolve(dsn, alias, **kwargs)
    if existing is not None:
        catalog.detach(alias)               # CREATE OR REPLACE VIEW
    catalog.add(db)
    if catalog.current is None:
        catalog.current = alias
    return db


def execute_statement(catalog: Catalog, sql: str):
    """Single SQL entry point for session statements: routes
    ATTACH/DETACH/USE here (incl. the reference's CALL
    postgres_attach table function), everything else to `pg_execute`
    against the current database (set by USE, else the sole attached
    one). Each statement routes by its body."""
    body = sql_body(sql)
    if m := _CALL_ATTACH_RE.match(body):
        return _call_postgres_attach(
            catalog, m.group(1).replace("''", "'"), m.group(2))
    if m := _ATTACH_RE.match(body):
        source = m.group(1).replace("''", "'")
        alias, opts = _unquote(m.group(2)), m.group(3)
        kwargs = _parse_attach_options(opts or "")
        db = catalog.attach(source, alias=alias, **kwargs)
        if catalog.current is None:
            # first attach becomes current; later attaches do NOT
            # hijack routing away from a database already in use
            catalog.current = alias
        return db
    if m := _DETACH_RE.match(body):
        catalog.detach(_unquote(m.group(1)))
        return None
    if m := _USE_RE.match(body):
        alias = _unquote(m.group(1))
        if alias not in catalog.attached:
            raise KeyError(f"no attached database {alias!r}")
        catalog.current = alias
        return None
    current = catalog.current
    if current is None:
        if len(catalog.attached) == 1:
            current = next(iter(catalog.attached))
        else:
            raise ValueError(
                "no current database — run USE <alias> (or attach "
                "exactly one database)")
    # read statements return result sets → pg_query (works on
    # READ_ONLY attaches); DDL/DML routes through pg_execute — a
    # single SQL entry point, like the reference's DuckDB shell
    if _READ_STMT_RE.match(body):
        return pg_query(catalog, current, sql)
    return pg_execute(catalog, current, sql)
