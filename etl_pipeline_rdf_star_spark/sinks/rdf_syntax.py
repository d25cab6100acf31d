"""RDF term syntax shared by the Turtle reader and the SPARQL parser.

Turtle and SPARQL spell IRIs, literals, numbers and quoted triples the
same way and differ in names, keywords and punctuation. The common part
lives here once: the :class:`TermLexer` base both lexers extend, the
numeric shorthand and its datatype, and the engine's serialized
quoted-triple term ``"<< s p o >>"``. Every pattern matches at a position
(``pattern.match(text, pos)``), so a token costs time in its own length,
not in the rest of the document.
"""

from __future__ import annotations

import re
from typing import Any, NoReturn

from pyspark.sql import Column
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"

# numeric shorthand: integer, decimal (a leading '.' allowed) or double.
# A decimal needs a digit after its '.', so a statement's terminating '.'
# is never read as part of a number. Digits are ASCII: Python's \d also
# matches other scripts' digits, which no RDF or SPARQL number allows.
NUMBER_RE = re.compile(
    r"[+-]?([0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?|\.[0-9]+([eE][+-]?[0-9]+)?)"
)


def numeric_datatype(lex: str) -> str:
    """The XSD datatype a numeric shorthand literal denotes (Turtle 1.1
    §2.5.2, SPARQL 1.1 §19.8): an exponent makes it a double, a '.' a
    decimal, anything else an integer."""
    if "e" in lex or "E" in lex:
        return XSD + "double"
    if "." in lex:
        return XSD + "decimal"
    return XSD + "integer"


_SPACE_RE = re.compile(r"(?:[ \t\r\n]+|#[^\n]*)*")
# a string body: no bare quote, backslash or (short form) line break; an
# escape is a backslash and any one character, decoded by _unescape
_STRING_RES = {
    '"': re.compile(r'"([^"\\\n\r]*(?:\\.[^"\\\n\r]*)*)"', re.S),
    "'": re.compile(r"'([^'\\\n\r]*(?:\\.[^'\\\n\r]*)*)'", re.S),
    '"""': re.compile(r'"""([^"\\]*(?:(?:\\.|"(?!""))[^"\\]*)*)"""', re.S),
    "'''": re.compile(r"'''([^'\\]*(?:(?:\\.|'(?!''))[^'\\]*)*)'''", re.S),
}
_ESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))", re.S)
_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
# IRIREF: no control character, space or <>"{}|^`\ inside, except as a
# \u / \U escape, decoded like a string's
IRIREF_RE = re.compile(
    r'<([^\x00-\x20<>"{}|^`\\]*'
    r'(?:\\(?:u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})[^\x00-\x20<>"{}|^`\\]*)*)>'
)
_LANG_RE = re.compile(r"@([A-Za-z][A-Za-z0-9-]*)")
# the token after '^^': an IRI or a prefixed name, under the token kind
# each dialect's lexer gives prefixed names
_DATATYPE_TOKENS = ("iri", "pname", "bare")


class TermLexer:
    """Token-stream base: whitespace and ``#``-comment skipping, one-token
    lookahead, errors with context, IRIs, string literals (short and long
    quotes, every ECHAR, both UCHAR forms, ``@lang`` / ``^^dt``) and
    numbers. A dialect sets ``error`` and implements ``_next()``, which
    returns the next ``(kind, value)`` token or None at the end, calling
    :meth:`_iri` at a ``<``, :meth:`_literal` at a quote and
    :meth:`_number` where its grammar allows a number. A literal token's
    value is ``(lexical form, language tag or None, datatype token or
    None)``."""

    error: type[ValueError] = ValueError

    def __init__(self, text: str):
        self.t = text
        self.i = 0
        self.n = len(text)
        self._peeked: tuple[str, Any] | None = None

    def _skip(self) -> None:
        self.i = _SPACE_RE.match(self.t, self.i).end()

    def peek(self):
        if self._peeked is None:
            self._peeked = self._next()
        return self._peeked

    def next(self):
        tok = self.peek()
        self._peeked = None
        return tok

    def _err(self, msg: str) -> NoReturn:
        ctx = self.t[max(0, self.i - 30) : self.i + 30].replace("\n", "\\n")
        line = self.t.count("\n", 0, self.i) + 1
        raise self.error(f"{msg} at line {line} near ...{ctx}...")

    def _number(self) -> tuple[str, str] | None:
        m = NUMBER_RE.match(self.t, self.i)
        if m is None:
            return None
        self.i = m.end()
        return ("num", m.group(0))

    def _iri(self) -> tuple[str, str] | None:
        """The IRIREF at the position as an ``("iri", value)`` token, its
        UCHARs decoded; None when no IRIREF starts there."""
        m = IRIREF_RE.match(self.t, self.i)
        if m is None:
            return None
        self.i = m.end()
        iri = m.group(1)
        if "\\" in iri:
            iri = _ESCAPE_RE.sub(self._unescape, iri)
        return ("iri", iri)

    def _literal(self) -> tuple[str, tuple]:
        t, i = self.t, self.i
        quote = t[i] * 3 if t.startswith(t[i] * 3, i) else t[i]
        m = _STRING_RES[quote].match(t, i)
        if m is None:
            self._err("unterminated string or line break in a short string")
        self.i = m.end()
        lex = m.group(1)
        if "\\" in lex:
            lex = _ESCAPE_RE.sub(self._unescape, lex)
        if t.startswith("@", self.i):
            m = _LANG_RE.match(t, self.i)
            if m is None:
                self._err("bad language tag")
            self.i = m.end()
            return ("literal", (lex, m.group(1), None))
        if t.startswith("^^", self.i):
            self.i += 2
            dt = self._next()
            if dt is None or dt[0] not in _DATATYPE_TOKENS:
                self._err("bad datatype after ^^")
            return ("literal", (lex, None, dt))
        return ("literal", (lex, None, None))

    def _unescape(self, m: re.Match) -> str:
        hexa = m.group(1) or m.group(2)
        if hexa is not None and int(hexa, 16) <= 0x10FFFF:
            return chr(int(hexa, 16))
        if m.group(3) in _ECHAR:
            return _ECHAR[m.group(3)]
        self._err(f"bad escape {m.group(0)!r}")


# the engine's serialized quoted-triple term. Values stay lexical strings,
# so a quoted triple nested inside another (or a triple-valued object) is
# stored as this one string; the SPARQL-star accessors destructure it.
TRIPLE_TERM_RE = r"^<< \S+ \S+ .* >>$"
# SUBJECT/PREDICATE/OBJECT: subject and predicate are IRIs or blank nodes
# (no whitespace); the object capture is greedy so a nested serialized
# triple stays whole
TRIPLE_PART_RES = {
    "subject": r"^<< (\S+) \S+ .* >>$",
    "predicate": r"^<< \S+ (\S+) .* >>$",
    "object": r"^<< \S+ \S+ (.*) >>$",
}
_UNKEPT_RE = re.compile(r"\s|<<|>>")


def serialize_quoted(s: str, p: str, o: str) -> str:
    return f"<< {s} {p} {o} >>"


def quoted_column(s: Column, p: Column, o: Column) -> Column:
    """:func:`serialize_quoted` per row; null when any part is null."""
    return F.concat(F.lit("<< "), s, F.lit(" "), p, F.lit(" "), o, F.lit(" >>"))


def unkept_literal(lex: str, datatype: str | None, lang: str | None) -> str | None:
    """Why the serialized form cannot hold this literal, or None when it
    can. The form keeps a lexical form only, and the accessors split it at
    whitespace and read ``<<``/``>>`` as its brackets, so a datatype, a
    language tag, whitespace or ``<<``/``>>`` would be lost or misread."""
    if datatype or lang or _UNKEPT_RE.search(lex):
        return (
            f"literal {lex!r} inside a nested quoted triple has a datatype, "
            "language tag, whitespace or '<<'/'>>' that the serialized "
            "'<< s p o >>' form cannot keep"
        )
    return None
