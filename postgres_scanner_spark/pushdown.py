"""Filter pushdown: Spark-side filters → remote Postgres WHERE SQL.

Parity with reference src/postgres_filter_pushdown.cpp
(TransformFilters/TransformFilter/TransformComparison): =, <>, <, >,
<=, >=, IS NULL, IS NOT NULL, AND, OR, IN, struct-field extract —
rendered as a conjunction appended to the generated COPY/SELECT.

The filter model here is the stable tuple form Spark's DataSource
pushdown uses (("col", "op", value)), plus nested ("and"/"or",
[children]). The `postgres_scan` DataSource feeds these from
Catalyst's pushed filters (pg_datasource._spark_filter_to_tuple);
unit tests feed them directly.

The module also holds the one Postgres SQL lexer (`sql_tokens`): the
statement router (queryfn.py) and the connector's query mode
(pg_datasource.py) read quotes, comments and `;` only through it.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime
from typing import Any, Sequence

_COMPARISON_OPS = {
    "=": "=", "==": "=", "eq": "=",
    "<>": "<>", "!=": "<>", "ne": "<>",
    "<": "<", "lt": "<",
    ">": ">", "gt": ">",
    "<=": "<=", "le": "<=",
    ">=": ">=", "ge": ">=",
    "like": "LIKE",
}


def quote_ident(name: str) -> str:
    """Quote a Postgres identifier; nested struct access becomes
    (col).field (reference: postgres_filter_pushdown.cpp STRUCT_EXTRACT)."""
    if "." in name:
        head, *rest = name.split(".")
        expr = '"' + head.replace('"', '""') + '"'
        for f in rest:
            expr = f"({expr}).\"" + f.replace('"', '""') + '"'
        return expr
    return '"' + name.replace('"', '""') + '"'


def quote_literal(value: Any,
                  null_byte_replacement: str | None = None) -> str:
    """Render a python value as a PG literal (reference:
    postgres_filter_pushdown.cpp TransformLiteral → Value::ToSQLString)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        # repr() renders NaN/Infinity as bare nan/inf — invalid PG SQL;
        # PG wants the quoted-cast spellings
        if math.isnan(value):
            return "'NaN'::float8"
        if math.isinf(value):
            return ("'Infinity'" if value > 0 else "'-Infinity'") + "::float8"
        return repr(value)
    if isinstance(value, int):
        return repr(value)
    if isinstance(value, datetime):
        return "'" + value.isoformat(sep=" ") + "'"
    if isinstance(value, date):
        return "'" + value.isoformat() + "'"
    if isinstance(value, (bytes, bytearray)):
        return "'\\x" + bytes(value).hex() + "'::bytea"
    s = str(value).replace("'", "''")
    if "\x00" in s:
        # NUL is illegal inside PG text values; apply the same
        # replacement policy the reference exposes
        # (pg_null_byte_replacement, postgres_extension.cpp:179)
        s = s.replace("\x00", null_byte_replacement or "")
    return f"'{s}'"


def transform_filter(f: Sequence[Any],
                     null_byte_replacement: str | None = None) -> str:
    """One filter → SQL fragment.

    Accepted shapes:
      ("col", "op", value)            comparison
      ("col", "isnull") / ("col", "isnotnull")
      ("col", "in", [v1, v2, ...])
      ("and"|"or", [f1, f2, ...])
      ("not", f)
    """
    head = f[0]
    if head in ("and", "or"):
        parts = [transform_filter(c, null_byte_replacement) for c in f[1]]
        joiner = " AND " if head == "and" else " OR "
        return "(" + joiner.join(parts) + ")"
    if head == "not":
        return "NOT (" + transform_filter(f[1], null_byte_replacement) + ")"
    col = quote_ident(head)
    op = f[1].lower()
    if op == "isnull":
        return f"{col} IS NULL"
    if op == "isnotnull":
        return f"{col} IS NOT NULL"
    if op == "in":
        vals = ", ".join(quote_literal(v, null_byte_replacement)
                         for v in f[2])
        return f"{col} IN ({vals})"
    if op in _COMPARISON_OPS:
        lit = quote_literal(f[2], null_byte_replacement)
        return f"{col} {_COMPARISON_OPS[op]} {lit}"
    raise ValueError(f"unsupported pushdown op: {op!r}")


def transform_filters(filters: Sequence[Sequence[Any]] | None,
                      null_byte_replacement: str | None = None) -> str:
    """All filters → 'WHERE ...' (empty string when none), mirroring
    reference TransformFilters which ANDs every table filter."""
    if not filters:
        return ""
    return "WHERE " + " AND ".join(
        transform_filter(f, null_byte_replacement) for f in filters)


# One token per match, named by the group that matched (`m.lastgroup`).
# Quoted text and comments are whole tokens, so a `'`, `;`, `,` or
# parenthesis inside them is never seen as code. Comments do not nest;
# an unterminated quote or comment runs to the end of the text. An
# E'...' string starts only where an identifier cannot continue.
_SQL_TOKEN = re.compile(r"""
    (?P<space>\s+)
  | (?P<comment>--[^\n]*|/\*.*?(?:\*/|\Z))
  | (?P<dollar>(?P<tag>\$(?:[A-Za-z_]\w*)?\$)(?P<dbody>.*?)(?:(?P=tag)|\Z))
  | (?P<estring>(?<![\w"`])[eE]'(?P<ebody>(?:\\.|''|[^'\\])*\\?)'?)
  | (?P<string>'(?:''|[^'])*'?)
  | (?P<ident>"(?P<ibody>(?:""|[^"])*)(?P<iclose>"?))
  | (?P<semi>;)
  | (?P<comma>,)
  | (?P<open>\()
  | (?P<close>\))
  | (?P<other>(?:[^\s\-/$eE'";,()]|-(?!-)|/(?!\*)|[eE](?!'))+|.)
""", re.DOTALL | re.VERBOSE)

# tokens that never start, end or classify a statement
_BLANK = frozenset({"space", "comment", "semi"})


def sql_tokens(sql: str):
    """The Postgres lexer: an iterator of `re.Match`, one per token,
    whose `lastgroup` names its kind (space, comment, dollar, estring,
    string, ident, semi, comma, open, close, other)."""
    return _SQL_TOKEN.finditer(sql)


def sql_body(sql: str) -> str:
    """One statement's text without the whitespace, comments and `;`
    that lead or trail it ("" when nothing else is left)."""
    words = [m for m in sql_tokens(sql) if m.lastgroup not in _BLANK]
    return sql[words[0].start():words[-1].end()] if words else ""
