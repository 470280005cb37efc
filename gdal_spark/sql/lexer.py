"""Tokenizer for the OGR SQL dialect surface.

The reference parses OGR SQL with a flex/bison pair
(/root/reference/ogr/swq_scanner.l token rules,
/root/reference/ogr/swq_parser.y grammar).  This module is the
scanner half re-expressed for the Spark shim: it produces the flat
token stream that `parser` builds its grammar tree from and its
expression re-spellings walk, so quoted identifiers, string
literals, and comments are atomic — text such as ``LEFT JOIN``
inside a literal can never be mistaken for syntax (the failure mode
of the former regex scanner).

Token kinds (mirroring swq_scanner.l's lexeme classes):

* ``ident``    bare identifier / keyword: ``[A-Za-z_][A-Za-z0-9_.$]*``
               minus the dot, which is its own token (qualified names
               are parsed structurally, as swq_parser.y:258 does);
* ``qident``   double-quoted identifier with ``""`` escape
               (swq_scanner.l single/double-quote rule — in the OGR
               dialect double quotes always mean an identifier, never
               a string);
* ``bident``   backtick-quoted identifier (Spark spelling, accepted
               on input so already-translated SQL round-trips);
* ``str``      single-quoted string literal with ``''`` escape;
* ``num``      integer / decimal / exponent literal;
* ``op``       operators and punctuation, longest-match first
               (``<=`` ``>=`` ``<>`` ``!=`` ``||`` before the
               single-character set);
* ``comment``  ``-- ...`` to end of line or ``/* ... */`` (kept in
               the stream so splice positions stay faithful; the
               rewrites skip them).

Whitespace separates tokens and is not emitted; every token carries
its [start, end) span in the source so rewrites splice the original
text and leave everything untouched byte-for-byte.
"""

from __future__ import annotations

from dataclasses import dataclass

_MULTI_OPS = ("<=", ">=", "<>", "!=", "||")
_IDENT_START = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz_")
_IDENT_CONT = _IDENT_START | frozenset("0123456789$")
_DIGITS = frozenset("0123456789")


@dataclass(frozen=True)
class Token:
    kind: str
    text: str        # raw source slice, quotes/escapes included
    start: int
    end: int

    def is_kw(self, word: str) -> bool:
        return self.kind == "ident" and self.text.upper() == word

    @property
    def name(self) -> str:
        """Identifier value with quoting stripped and escapes folded."""
        if self.kind == "qident":
            return self.text[1:-1].replace('""', '"')
        if self.kind == "bident":
            return self.text[1:-1].replace("``", "`")
        return self.text


class SqlLexError(ValueError):
    def __init__(self, msg: str, pos: int):
        super().__init__(f"{msg} at offset {pos}")
        self.pos = pos


def _scan_quoted(sql: str, i: int, q: str) -> int:
    """Return end index (past the closing quote) of a quoted run
    starting at sql[i] == q, treating a doubled quote as an escape."""
    n = len(sql)
    j = i + 1
    while j < n:
        if sql[j] == q:
            if j + 1 < n and sql[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    raise SqlLexError(f"unterminated {q}...{q}", i)


def tokenize(sql: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in " \t\r\n":
            i += 1
            continue
        if ch == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j
            toks.append(Token("comment", sql[i:j], i, j))
            i = j
            continue
        if ch == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            if j < 0:
                raise SqlLexError("unterminated /* comment", i)
            toks.append(Token("comment", sql[i:j + 2], i, j + 2))
            i = j + 2
            continue
        if ch == "'":
            j = _scan_quoted(sql, i, "'")
            toks.append(Token("str", sql[i:j], i, j))
            i = j
            continue
        if ch == '"':
            j = _scan_quoted(sql, i, '"')
            toks.append(Token("qident", sql[i:j], i, j))
            i = j
            continue
        if ch == "`":
            j = _scan_quoted(sql, i, "`")
            toks.append(Token("bident", sql[i:j], i, j))
            i = j
            continue
        if ch in _IDENT_START:
            j = i + 1
            while j < n and sql[j] in _IDENT_CONT:
                j += 1
            toks.append(Token("ident", sql[i:j], i, j))
            i = j
            continue
        if ch in _DIGITS or (ch == "." and i + 1 < n and sql[i + 1] in _DIGITS):
            j = i
            while j < n and sql[j] in _DIGITS:
                j += 1
            if j < n and sql[j] == ".":
                j += 1
                while j < n and sql[j] in _DIGITS:
                    j += 1
            if j < n and sql[j] in "eE":
                k = j + 1
                if k < n and sql[k] in "+-":
                    k += 1
                if k < n and sql[k] in _DIGITS:
                    j = k
                    while j < n and sql[j] in _DIGITS:
                        j += 1
            toks.append(Token("num", sql[i:j], i, j))
            i = j
            continue
        for op in _MULTI_OPS:
            if sql.startswith(op, i):
                toks.append(Token("op", op, i, i + len(op)))
                i += len(op)
                break
        else:
            toks.append(Token("op", ch, i, i + 1))
            i += 1
    return toks


def significant(tokens: list[Token]) -> list[Token]:
    """Tokens with comments dropped — the stream the rewrites walk."""
    return [t for t in tokens if t.kind != "comment"]
