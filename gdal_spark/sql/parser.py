"""Recursive-descent grammar for the OGR SQL dialect.

Mirrors the swq bison grammar's select_statement
(/root/reference/ogr/swq_parser.y:821 — SELECT select_field_list FROM
table_def join_def* where_clause? order_by? limit? offset?, chained by
UNION ALL), re-expressed as a token-tree over `lexer.tokenize`.  The
grammar EXTENDS swq with a parenthesized sub-SELECT in FROM (the
reference dialect has no subqueries; Spark does), and one tree walk
(`emit`) applies every dialect rewrite in its scope:

* ``* EXCLUDE (...)`` expands against the columns of ITS OWN query's
  FROM target — including a sub-SELECT's output schema;
* HSTORE_GET_VALUE / double-quoted-identifier re-spelling (`respell`)
  apply to every expression slice at every depth;
* one-to-first-match LEFT JOIN semantics apply ONLY to the top-level
  statement's joins whose ON clause is exactly ``a.k = b.k`` (a nested
  sub-SELECT is Spark SQL, not OGR dialect — its joins keep standard
  all-matches semantics, as
  tests/test_ogr_sql.py::test_subquery_left_join_untouched pins).

Expressions are kept as raw token slices (the dialect's expression
grammar is a subset of Spark's, so they pass through byte-for-byte
except for the two in-slice rewrites); the tree structure captures
exactly the productions the dialect treats specially.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from .lexer import Token, significant, tokenize

_CLAUSE_KWS = frozenset(
    ["FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
     "UNION", "JOIN", "LEFT", "INNER", "ON"])
_NAME_KINDS = ("ident", "qident", "bident")
_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


class ParseError(ValueError):
    pass


@dataclass
class FromItem:
    table: str | None = None          # plain layer/table name
    sub: "SelectStmt | None" = None   # parenthesized sub-SELECT
    alias: str | None = None

    @property
    def ref_name(self) -> str | None:
        """Name join conditions refer to this item by."""
        return self.alias or self.table


@dataclass
class Join:
    left: bool
    item: FromItem
    on_text: str                       # raw ON expression slice
    # captured  a.ka = b.kb  equality, when the ON clause is exactly
    # that shape (the only form swq_parser.y accepts for joins)
    eq: tuple[str, str, str, str] | None = None


@dataclass
class SelectStmt:
    distinct: bool = False
    # fields: ("star", None) | ("exclude", [names]) | ("raw", text)
    fields: list[tuple[str, object]] = field(default_factory=list)
    from_item: FromItem | None = None
    joins: list[Join] = field(default_factory=list)
    where: str | None = None
    group_by: str | None = None
    having: str | None = None
    order_by: str | None = None
    limit: str | None = None
    offset: str | None = None
    union_next: "SelectStmt | None" = None


class _Cursor:
    def __init__(self, sql: str, toks: list[Token]):
        self.sql = sql
        self.toks = toks
        self.i = 0

    def peek(self, k: int = 0) -> Token | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t is not None and any(t.is_kw(w) for w in words)

    def take(self) -> Token:
        t = self.peek()
        if t is None:
            raise ParseError("unexpected end of statement")
        self.i += 1
        return t

    def expect_kw(self, word: str) -> Token:
        t = self.peek()
        if t is None or not t.is_kw(word):
            raise ParseError(f"expected {word} at "
                             f"{'<end>' if t is None else t.text!r}")
        return self.take()

    def expect_op(self, op: str) -> Token:
        t = self.peek()
        if t is None or t.kind != "op" or t.text != op:
            raise ParseError(f"expected {op!r} at "
                             f"{'<end>' if t is None else t.text!r}")
        return self.take()

    def slice_text(self, start_tok: Token, end_tok: Token) -> str:
        return self.sql[start_tok.start:end_tok.end]


def parse(sql: str) -> SelectStmt:
    cur = _Cursor(sql, significant(tokenize(sql)))
    stmt = _parse_select(cur, nested=False)
    if cur.peek() is not None:
        raise ParseError(f"trailing tokens at {cur.peek().text!r}")
    return stmt


def _parse_select(cur: _Cursor, nested: bool) -> SelectStmt:
    cur.expect_kw("SELECT")
    s = SelectStmt()
    if cur.at_kw("DISTINCT"):
        cur.take()
        s.distinct = True
    elif cur.at_kw("ALL"):
        cur.take()
    s.fields = _parse_field_list(cur)
    if cur.at_kw("FROM"):
        cur.take()
        s.from_item = _parse_from_item(cur)
        while True:
            if cur.at_kw("LEFT"):
                mark = cur.i
                cur.take()
                if not cur.at_kw("JOIN"):
                    cur.i = mark
                    break
                cur.take()
                s.joins.append(_parse_join(cur, left=True))
            elif cur.at_kw("INNER"):
                mark = cur.i
                cur.take()
                if not cur.at_kw("JOIN"):
                    cur.i = mark
                    break
                cur.take()
                s.joins.append(_parse_join(cur, left=False))
            elif cur.at_kw("JOIN"):
                cur.take()
                s.joins.append(_parse_join(cur, left=False))
            else:
                break
    if cur.at_kw("WHERE"):
        cur.take()
        s.where = _raw_until(cur, ["GROUP", "HAVING", "ORDER", "LIMIT",
                                   "OFFSET", "UNION"], nested)
    if cur.at_kw("GROUP"):
        cur.take()
        cur.expect_kw("BY")
        s.group_by = _raw_until(cur, ["HAVING", "ORDER", "LIMIT",
                                      "OFFSET", "UNION"], nested)
    if cur.at_kw("HAVING"):
        cur.take()
        s.having = _raw_until(cur, ["ORDER", "LIMIT", "OFFSET", "UNION"],
                              nested)
    if cur.at_kw("ORDER"):
        cur.take()
        cur.expect_kw("BY")
        s.order_by = _raw_until(cur, ["LIMIT", "OFFSET", "UNION"], nested)
    if cur.at_kw("LIMIT"):
        cur.take()
        s.limit = cur.take().text
    if cur.at_kw("OFFSET"):
        cur.take()
        s.offset = cur.take().text
    if cur.at_kw("UNION"):
        cur.take()
        cur.expect_kw("ALL")
        s.union_next = _parse_select(cur, nested)
    return s


def _parse_field_list(cur: _Cursor) -> list[tuple[str, object]]:
    fields: list[tuple[str, object]] = []
    while True:
        t = cur.peek()
        if t is None:
            break
        if t.kind == "op" and t.text == "*":
            nxt = cur.peek(1)
            if nxt is not None and nxt.is_kw("EXCLUDE"):
                cur.take()
                cur.take()
                cur.expect_op("(")
                names = []
                while not (cur.peek() and cur.peek().kind == "op"
                           and cur.peek().text == ")"):
                    nt = cur.take()
                    if nt.kind in _NAME_KINDS:
                        names.append(nt.name)
                    elif not (nt.kind == "op" and nt.text == ","):
                        raise ParseError(
                            f"bad EXCLUDE list token {nt.text!r}")
                cur.expect_op(")")
                fields.append(("exclude", names))
            else:
                cur.take()
                fields.append(("star", None))
        else:
            text = _raw_until(cur, ["FROM"], nested=False,
                              stop_comma=True)
            if not text:
                raise ParseError("empty select field")
            fields.append(("raw", text))
        t = cur.peek()
        if t is not None and t.kind == "op" and t.text == ",":
            cur.take()
            continue
        break
    if not fields:
        raise ParseError("empty select list")
    return fields


def _parse_from_item(cur: _Cursor) -> FromItem:
    t = cur.peek()
    if t is None:
        raise ParseError("expected table after FROM")
    if t.kind == "op" and t.text == "(":
        cur.take()
        if not cur.at_kw("SELECT"):
            raise ParseError("expected SELECT in parenthesized FROM")
        sub = _parse_select(cur, nested=True)
        cur.expect_op(")")
        item = FromItem(sub=sub)
    elif t.kind in _NAME_KINDS:
        cur.take()
        name = t.name
        # 'schema'.table / a.b qualified spelling passes through whole
        if (cur.peek() and cur.peek().kind == "op"
                and cur.peek().text == "."):
            cur.take()
            nt = cur.take()
            if nt.kind not in _NAME_KINDS:
                raise ParseError("bad qualified table name")
            name = f"{name}.{nt.name}"
        item = FromItem(table=name)
    else:
        raise ParseError(f"bad FROM target {t.text!r}")
    if cur.at_kw("AS"):
        cur.take()
        at = cur.take()
        if at.kind not in _NAME_KINDS:
            raise ParseError("bad alias")
        item.alias = at.name
    else:
        t = cur.peek()
        if (t is not None and t.kind in _NAME_KINDS
                and not (t.kind == "ident"
                         and t.text.upper() in _CLAUSE_KWS)):
            cur.take()
            item.alias = t.name
    return item


def _parse_join(cur: _Cursor, left: bool) -> Join:
    item = _parse_from_item(cur)
    cur.expect_kw("ON")
    start = cur.peek()
    if start is None:
        raise ParseError("empty ON clause")
    text = _raw_until(cur, ["WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
                            "OFFSET", "UNION", "LEFT", "INNER", "JOIN"],
                      nested=True)
    eq = _match_eq(text)
    return Join(left=left, item=item, on_text=text, eq=eq)


def _match_eq(on_text: str):
    """Capture  a.ka = b.kb  (the only join form swq accepts)."""
    toks = significant(tokenize(on_text))
    if (len(toks) == 7
            and toks[0].kind in _NAME_KINDS
            and toks[1].kind == "op" and toks[1].text == "."
            and toks[2].kind in _NAME_KINDS
            and toks[3].kind == "op" and toks[3].text == "="
            and toks[4].kind in _NAME_KINDS
            and toks[5].kind == "op" and toks[5].text == "."
            and toks[6].kind in _NAME_KINDS):
        return (toks[0].name, toks[2].name, toks[4].name, toks[6].name)
    return None


def _raw_until(cur: _Cursor, stop_kws: list[str], nested: bool,
               stop_comma: bool = False) -> str:
    """Consume a balanced raw token run until a depth-0 stop keyword,
    a depth-0 comma (when stop_comma), or — when nested — the
    enclosing ')'.  Returns the source slice."""
    depth = 0
    first = last = None
    while True:
        t = cur.peek()
        if t is None:
            break
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                if depth == 0:
                    break               # enclosing subquery's paren
                depth -= 1
            elif t.text == "," and depth == 0 and stop_comma:
                break
        elif depth == 0 and t.kind == "ident" \
                and t.text.upper() in stop_kws:
            break
        cur.take()
        first = first or t
        last = t
    if first is None:
        return ""
    return cur.slice_text(first, last)


# ------------------------------------------------------------------ emit
def _emit_name(name: str) -> str:
    """Spell an identifier for Spark SQL: bare when it lexes as one,
    backtick-quoted (with `` escaping) otherwise."""
    if _PLAIN_IDENT.match(name):
        return name
    return "`" + name.replace("`", "``") + "`"


def _splice(sql: str, edits: list[tuple[int, int, str]]) -> str:
    """Apply non-overlapping [start, end) -> text edits."""
    for start, end, text in sorted(edits, reverse=True):
        sql = sql[:start] + text + sql[end:]
    return sql


def _rewrite_hstore(sql: str) -> str:
    """HSTORE_GET_VALUE(h, 'k') -> str_to_map(h, ',', '=>')['k']
    (swq_op_general.cpp:291).  Arguments are split at the TOP-LEVEL
    comma by token-balanced paren scan, so nested calls and literals
    containing commas or parens pass through intact."""
    toks = significant(tokenize(sql))
    edits: list[tuple[int, int, str]] = []
    i = 0
    while i + 1 < len(toks):
        if not (toks[i].is_kw("HSTORE_GET_VALUE")
                and toks[i + 1].kind == "op" and toks[i + 1].text == "("):
            i += 1
            continue
        depth = 1
        comma = None
        j = i + 2
        while j < len(toks) and depth:
            tj = toks[j]
            if tj.kind == "op":
                depth += tj.text == "("
                depth -= tj.text == ")"
                if depth == 1 and tj.text == ",":
                    comma = tj
            j += 1
        if depth or comma is None:
            raise ValueError("malformed HSTORE_GET_VALUE(...) call")
        rparen = toks[j - 1]
        h = sql[toks[i + 1].end:comma.start].strip()
        k = sql[comma.end:rparen.start].strip()
        edits.append((
            toks[i].start, rparen.end,
            f"str_to_map(replace({h}, ' ', ''), ',', '=>')[{k}]",
        ))
        i = j
    return _splice(sql, edits)


def _rewrite_quoted_idents(sql: str) -> str:
    """Re-spell OGR double-quoted identifiers as Spark backtick
    identifiers.  In the dialect ``"..."`` is always a column/table
    reference (swq_scanner.l), while Spark SQL lexes it as a string
    literal — so every qident token is converted, with ``""``
    unescaped and ``\\``` re-escaped."""
    toks = tokenize(sql)
    edits = [(t.start, t.end, _emit_name(t.name))
             for t in toks if t.kind == "qident"]
    return _splice(sql, edits)


def respell(sql: str) -> str:
    """The expression-level dialect re-spellings: HSTORE_GET_VALUE
    calls, then double-quoted identifiers."""
    return _rewrite_quoted_idents(_rewrite_hstore(sql))


def emit(stmt: SelectStmt, spark: SparkSession | None,
         top: bool = True) -> str:
    """Walk the tree once, applying the dialect rewrites in scope."""
    parts = ["SELECT"]
    if stmt.distinct:
        parts.append("DISTINCT")
    cols = []
    for kind, val in stmt.fields:
        if kind == "star":
            cols.append("*")
        elif kind == "exclude":
            cols.append(", ".join(
                _emit_name(c) for c in _from_columns(stmt.from_item, spark)
                if c.lower() not in {v.lower() for v in val}))
        else:
            cols.append(respell(val))
    parts.append(", ".join(cols))
    if stmt.from_item is not None:
        parts.append("FROM")
        parts.append(_emit_from(stmt.from_item, spark))
        for j in stmt.joins:
            parts.append(_emit_join(j, spark, first_match=top))
    for kw, val in (("WHERE", stmt.where), ("GROUP BY", stmt.group_by),
                    ("HAVING", stmt.having), ("ORDER BY", stmt.order_by),
                    ("LIMIT", stmt.limit), ("OFFSET", stmt.offset)):
        if val:
            parts.append(f"{kw} {respell(val) if kw not in ('LIMIT', 'OFFSET') else val}")
    out = " ".join(parts)
    if stmt.union_next is not None:
        out += " UNION ALL " + emit(stmt.union_next, spark, top=top)
    return out


def _from_columns(item: FromItem | None, spark: SparkSession) -> list[str]:
    if item is None:
        raise ParseError("* EXCLUDE requires a FROM clause")
    if item.table is not None:
        return spark.table(item.table).columns
    return spark.sql(emit(item.sub, spark, top=False)).columns


def _emit_table(name: str) -> str:
    """Spell a possibly schema-qualified table name part by part."""
    return ".".join(_emit_name(p) for p in name.split("."))


def _emit_from(item: FromItem, spark: SparkSession) -> str:
    if item.table is not None:
        base = _emit_table(item.table)
    else:
        base = "(" + emit(item.sub, spark, top=False) + ")"
    if item.alias:
        base += f" {_emit_name(item.alias)}"
    return base


def _first_match_keys(j: Join) -> tuple[str, str, str] | None:
    """(secondary key, primary ref, primary key) of a LEFT JOIN whose
    ON clause is ``a.ka = b.kb`` with one side naming the joined item;
    None for any other join."""
    ref = j.item.ref_name
    if not (j.left and j.eq is not None and ref is not None):
        return None
    a, ka, b, kb = j.eq
    if b.lower() == ref.lower():
        return kb, a, ka
    if a.lower() == ref.lower():
        return ka, b, kb
    return None


def _emit_join(j: Join, spark: SparkSession | None, first_match: bool) -> str:
    keys = _first_match_keys(j) if first_match else None
    if keys is None:
        kw = "LEFT JOIN" if j.left else "JOIN"
        return f"{kw} {_emit_from(j.item, spark)} ON {respell(j.on_text)}"
    sec_key, prim, prim_key = keys
    # one-to-FIRST-match (ogr_gensql.cpp:1497-1527): lowest FID wins;
    # layers (or sub-selects) without FID order by the join key
    if spark is None:
        order = sec_key
    else:
        try:
            order = "FID" if "FID" in _from_columns(j.item, spark) else sec_key
        except AnalysisException:
            order = sec_key
    if j.item.table is not None:
        src = _emit_table(j.item.table)
    else:
        src = "(" + emit(j.item.sub, spark, top=False) + ")"
    ref_q, key_q = _emit_name(j.item.ref_name), _emit_name(sec_key)
    sub = (f"(SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
           f"(PARTITION BY {key_q} ORDER BY {_emit_name(order)}) AS __rn "
           f"FROM {src}) WHERE __rn = 1) {ref_q}")
    return (f"LEFT JOIN {sub} ON "
            f"{_emit_name(prim)}.{_emit_name(prim_key)} = {ref_q}.{key_q}")
