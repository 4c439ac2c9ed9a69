"""Property tests for the SQL-DML router's parsers.

Both review rounds found quote/paren-handling bugs in the DDL parser
(DEFAULT literals containing commas, constraint keywords inside
strings). These hypothesis strategies build CREATE TABLE column lists,
UPDATE SET clauses and statement lists together with their EXPECTED
parse, then assert the parser recovers exactly that — pure Python, no
Spark. The text mixes every quoting form Postgres lexes ('...',
E'...', $$...$$, $tag$...$tag$, "..." and both comment forms) with
the quotes, `;`, `,` and parentheses that must not count inside them.
"""

from __future__ import annotations

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from postgres_scanner_spark.queryfn import (  # noqa: E402
    _parse_coldefs, _split_assignments, _split_statements,
    _split_top_commas)

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)

# string literals that contain every character class that has broken
# the parser: commas, parens, doubled quotes, constraint keywords
_literal_body = st.text(
    alphabet="abc,()' DEFAULTnulcheck;\"\\", min_size=0, max_size=12)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# a literal in any Postgres quoting form: standard, E'...' (backslash
# escapes), $$...$$ and $tag$...$tag$ (raw bodies)
_literal = st.one_of(
    _literal_body.map(_sql_quote),
    _literal_body.map(lambda s: "E'" + s.replace("\\", "\\\\")
                      .replace("'", "\\'") + "'"),
    _literal_body.map(lambda s: "$$" + s + "$$"),
    _literal_body.map(lambda s: f"$q${s}$q$"))

# a column name, bare or double-quoted with quotes, `;`, `,` and
# parentheses inside ("" escapes a quote)
_quoted_name = st.text(alphabet="ab,;()' \"", min_size=1, max_size=6)
_name = st.one_of(
    _ident.map(lambda n: (n, n)),
    _quoted_name.map(lambda n: ('"' + n.replace('"', '""') + '"', n)))


_types = st.sampled_from(
    ["INT", "BIGINT", "VARCHAR", "DOUBLE PRECISION", "NUMERIC(10,2)",
     "BOOLEAN", "DATE"])


@st.composite
def _coldef(draw):
    name, unquoted = draw(_name)
    typ = draw(_types)
    parts = [f"{name} {typ}"]
    expected = {"name": unquoted, "default": None, "not_null": False,
                "pk": False, "check": None}
    if draw(st.booleans()):
        lit = draw(_literal)
        parts.append(f"DEFAULT {lit}")
        expected["default"] = lit
    if draw(st.booleans()):
        parts.append("NOT NULL")
        expected["not_null"] = True
    elif draw(st.booleans()):
        parts.append("PRIMARY KEY")
        expected["pk"] = True
        expected["not_null"] = True
    if draw(st.booleans()):
        lit = draw(_literal)
        parts.append(f"CHECK ({name} <> {lit})")
        expected["check"] = f"{name} <> {lit}"
    return " ".join(parts), expected


@settings(max_examples=200, deadline=None)
@given(st.lists(_coldef(), min_size=1, max_size=5,
                unique_by=lambda ce: ce[1]["name"]))
def test_parse_coldefs_roundtrip(coldefs):
    ddl = ", ".join(c for c, _ in coldefs)
    schema, meta = _parse_coldefs(ddl)
    assert [f.name for f in schema.fields] == [e["name"] for _, e in coldefs]
    for _, e in coldefs:
        if e["default"] is not None:
            assert meta["defaults"][e["name"]] == e["default"], ddl
        else:
            assert e["name"] not in meta.get("defaults", {}), ddl
        assert (e["name"] in meta.get("not_null", [])) == e["not_null"], ddl
        if e["pk"]:
            assert [e["name"]] in meta.get("keys", []), ddl
        if e["check"] is not None:
            assert e["check"] in meta.get("checks", []), ddl


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.tuples(_ident, st.sampled_from(
        ["1 + 2", "greatest(a, b)", "'x,y'", "coalesce(v, 'a,b', 0)",
         "'it''s'", "f(g(1,2), 3)", "$$a,b'$$", "$q$x, (y$q$",
         "E'it\\'s, ok'", "coalesce(v /* it's, ( */, 0)",
         '"we,ird" + 1'])),
    min_size=1, max_size=4, unique_by=lambda t: t[0]))
def test_split_assignments_roundtrip(pairs):
    clause = ", ".join(f"{c} = {e}" for c, e in pairs)
    got = _split_assignments(clause)
    assert got == {c: e for c, e in pairs}, clause


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(["", "-- it's; (\n", "/* ; */ "]),
       st.lists(st.tuples(st.sampled_from(
           ["INSERT INTO t VALUES (1, 'a;b')", "DELETE FROM t WHERE s = ';'",
            "COMMIT", "UPDATE t SET v = 'x;y' WHERE id = 1",
            'CREATE TABLE "a;b" (x INT)', 'INSERT INTO "it\'s;" VALUES (1)',
            "INSERT INTO t VALUES (1, $$a;b'$$)", "SELECT $q$x; 'y$q$",
            "SELECT E'it\\'s; ok'", "SELECT 1 /* it's; (, */ + 2",
            "SELECT 1 -- it's; done\n  + 2"]),
           # what follows each statement: its `;` and maybe a comment
           st.sampled_from(["; ", ";", " ;\n", "; -- it's; done, (\n",
                            ";/* ' ; , ) */ "])),
           min_size=1, max_size=4))
def test_split_statements_ignores_quoted_semicolons(head, stmts):
    joined = head + "".join(s + end for s, end in stmts)
    assert _split_statements(joined) == [s for s, _ in stmts], joined


def test_split_top_commas_quote_aware():
    assert _split_top_commas("a 'x,y', b (1,2), c") == \
        ["a 'x,y'", "b (1,2)", "c"]
    assert _split_top_commas(
        '"a,b" INT, $$x,y$$, E\'p\\\',q\', c /* d, ( */') == \
        ['"a,b" INT', "$$x,y$$", "E'p\\',q'", "c /* d, ( */"]


@settings(max_examples=200, deadline=None)
@given(
    st.booleans(),                      # READ_ONLY present
    st.one_of(st.none(), _ident),       # SCHEMA value
    st.sampled_from(["POSTGRES", "postgres", "'POSTGRES'"]),
    st.booleans(),                      # option order flipped
)
def test_parse_attach_options_properties(ro, schema, typ, flip):
    from postgres_scanner_spark.queryfn import _parse_attach_options
    opts = [f"TYPE {typ}"]
    if ro:
        opts.append("READ_ONLY")
    if schema is not None:
        opts.append(f"SCHEMA '{schema}'")
    if flip:
        opts = opts[::-1]
    got = _parse_attach_options(", ".join(opts))
    assert got.get("read_only", False) is ro
    assert got.get("schema") == schema
    try:
        _parse_attach_options("TYPE MYSQL")
        raise AssertionError("TYPE MYSQL must be rejected")
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(_ident, st.booleans(), st.booleans(), st.booleans())
def test_temp_table_rewrite_properties(name, or_replace, if_nx, spell_temp):
    """Any CREATE TEMP[ORARY] TABLE lands in pg_temp exactly once,
    whether or not the statement already qualifies the name."""
    from postgres_scanner_spark.queryfn import (
        _TEMP_QUALIFIED_RE, _TEMP_TABLE_RE)
    kw = "TEMP" if spell_temp else "TEMPORARY"
    orr = "OR REPLACE " if or_replace else ""
    inx = "IF NOT EXISTS " if if_nx else ""
    for qualified in (False, True):
        tname = f"pg_temp.{name}" if qualified else name
        sql = f"CREATE {orr}{kw} TABLE {inx}{tname}(i INT)"
        out = _TEMP_TABLE_RE.sub(r"\1TABLE \2pg_temp.\3", sql)
        out = _TEMP_QUALIFIED_RE.sub(r"\1TABLE ", out)
        assert " TEMP " not in f" {out} " and " TEMPORARY " not in f" {out} ", out
        assert out.count("pg_temp.") == 1, out
        assert f"CREATE {orr}TABLE {inx}pg_temp." in out, out


# ---- MERGE parser properties ----------------------------------------
from postgres_scanner_spark.queryfn import _parse_merge  # noqa: E402


@st.composite
def _merge_stmt(draw):
    """A well-formed MERGE with randomized table/alias/key names,
    quoted or bare, view or subquery source (subquery may contain
    JOIN .. ON and string literals with parens), and a random clause
    combination — together with the EXPECTED parse."""
    def maybe_quote(name):
        return f'"{name}"' if draw(st.booleans()) else name
    table = draw(_ident)
    keys = draw(st.lists(_ident, min_size=1, max_size=3, unique=True))
    t_al, s_al = draw(_ident), draw(_ident)
    if draw(st.booleans()):
        lit = _sql_quote(draw(_literal_body))
        src = (f"(SELECT a.x FROM a JOIN b ON a.k = b.k "
               f"WHERE a.s = {lit})")
        expect_src = src[1:-1]
    else:
        v = draw(_ident)
        src = v
        expect_src = f"SELECT * FROM {v}"
    alias = draw(st.sampled_from([f" AS {s_al}", f" {s_al}"]))
    on = " AND ".join(
        f"{t_al}.{maybe_quote(k)} = {s_al}.{maybe_quote(k)}"
        for k in keys)
    upd = draw(st.booleans())
    ins = draw(st.booleans() if upd else st.just(True))
    clauses = ""
    if upd:
        clauses += " WHEN MATCHED THEN UPDATE SET *"
    if ins:
        clauses += " WHEN NOT MATCHED THEN INSERT *"
    sql = (f"MERGE INTO {maybe_quote(table)} USING {src}{alias} "
           f"ON {on}{clauses}")
    return sql, (maybe_quote(table), expect_src, keys, upd, ins)


@settings(max_examples=80, deadline=None)
@given(_merge_stmt())
def test_parse_merge_roundtrip(case):
    sql, (table, expect_src, keys, upd, ins) = case
    got = _parse_merge(sql)
    assert got is not None, sql
    g_table, g_src, g_keys, g_upd, g_ins = got
    assert g_keys == keys, sql
    assert (g_upd, g_ins) == (upd, ins), sql
    assert g_src.strip() == expect_src.strip(), sql


@settings(max_examples=40, deadline=None)
@given(_ident, _ident, st.sampled_from([
    "t.{k} = s.other",         # different column names
    "t.{k} = s.{k} OR t.a = s.a",
    "t.{k} < s.{k}",
    "t.{k} = 'literal'",
]))
def test_parse_merge_rejects_unroutable_on(table, k, bad_tpl):
    bad = bad_tpl.format(k=k)
    sql = (f"MERGE INTO {table} USING v AS s ON {bad} "
           f"WHEN MATCHED THEN UPDATE SET *")
    with pytest.raises(ValueError):
        _parse_merge(sql)


def test_parse_merge_non_merge_returns_none():
    assert _parse_merge("SELECT 1") is None
    assert _parse_merge("UPDATE t SET x = 1") is None
