"""The RDF text reader: Turtle / TriG(-star), N-Triples and N-Quads —
the loader subset the reference workbench exposes (rdf-workbench.py:99-133
``load_rdf_file``: arbitrary TTL/TriG/NT/NQ files into named graphs).

N-Triples is a subset of Turtle. N-Quads adds one construct Turtle lacks:
an IRI or blank node after the object of a statement names that triple's
graph. The parser accepts it at top level after a single triple only; it
is an error inside a TriG block and after a ``;``/``,`` list. Every file,
whatever its extension, loads through this one parser, so one text gives
the same quads under any name.

Scale design: Turtle statements span lines and strings may contain ``.``,
so statement splitting cannot be a per-line Catalyst expression. The
Spark-idiomatic shape for such formats is the one Spark itself uses for
multiline JSON/XML: the FILE is the unit of parallelism —
``spark.read.text(..., wholetext=True)`` gives one row per file, and an
Arrow-batched ``mapInPandas`` runs the pure-Python kernel per file. A
100 TB corpus of ontology/instance files is many files, so executors
stay busy; a single giant file is the degenerate case (same as
multiLine JSON).

Grammar subset (everything the reference fixtures use, verified against
``/root/reference/rdf-data-input/``):
IRIs (``\\u``/``\\U`` escapes decoded, no space or ``{}|^`` inside),
``@prefix``/``PREFIX``, ``@base``/``BASE``, prefixed names, ``a``,
``;``/``,`` lists, anonymous bnodes ``[...]`` (nested), collections
``(...)``, numeric/boolean shorthand literals, ``@lang``, ``^^dt``
(prefixed or IRI), short and long (``\"\"\"``) strings with escapes,
comments, quoted triples in SUBJECT position ``<< s p o >> pred obj``
(Turtle-star annotation style) AND in OBJECT position ``reifier
rdf:reifies << s p o >>`` — including the RDF 1.2 triple-term spelling
``<<( s p o )>>`` — which is the reference engine's OWN batch export
shape (rdf_star_etl_yarrrml.py:496-503, output/batch_simulation/
two_batches.trig), and TriG graph blocks ``<g> { ... }`` /
``GRAPH <g> { ... }``. A single statement with quoted triples on BOTH
ends is rejected with a clear error (one set of ``q_*`` columns; no
known producer emits that shape).
"""

from __future__ import annotations

import re
from typing import Any, Iterator, NoReturn

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rdf_syntax import (
    XSD,
    TermLexer,
    numeric_datatype,
    serialize_quoted,
    unkept_literal,
)

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

# a bareword (pname, keyword, boolean, blank node) runs to a terminator
# char; a '.' continues it only when a name char follows
_BARE_RE = re.compile(
    r"""[^ \t\r\n;,.()\[\]{}<>"'#^]*"""
    r"""(?:\.(?=[A-Za-z0-9_\-%:])[^ \t\r\n;,.()\[\]{}<>"'#^]*)*"""
)
_DIRECTIVE_RE = re.compile(r"@(prefix|base)\b")


class TurtleParseError(ValueError):
    pass


class _Lexer(TermLexer):
    """Turtle's tokens over the shared term syntax: IRIs, ``<<``/``>>``,
    punctuation, ``@prefix``/``@base`` and barewords."""

    error = TurtleParseError

    def _next(self):
        self._skip()
        if self.i >= self.n:
            return None
        t, i = self.t, self.i
        c = t[i]
        if c == "<":
            if t.startswith("<<", i):
                self.i += 2
                return ("<<", None)
            return self._iri() or self._err("bad IRI")
        if c == ">":
            if t.startswith(">>", i):
                self.i += 2
                return (">>", None)
            self._err("stray '>'")
        if c in "+-.0123456789":
            # a '.' not followed by a digit is the statement terminator
            num = self._number()
            if num:
                return num
        if c in ".;,[](){}":
            self.i += 1
            return (c, None)
        if c == "^":
            if t.startswith("^^", i):
                self.i += 2
                return ("^^", None)
            self._err("stray '^'")
        if c in "\"'":
            return self._literal()
        if c == "@":  # @prefix / @base
            m = _DIRECTIVE_RE.match(t, i)
            if not m:
                self._err("unknown @directive")
            self.i = m.end()
            return ("dir", m.group(1))
        m = _BARE_RE.match(t, i)
        if m.end() == i:
            self._err(f"unexpected character {c!r}")
        self.i = m.end()
        return ("bare", m.group(0))


def _emit_base(row: dict[str, Any]) -> dict[str, Any]:
    base = {
        "subject": None,
        "subject_kind": None,
        "predicate": None,
        "object": None,
        "object_datatype": None,
        "object_lang": None,
        "object_kind": None,
        "graph": None,
        "q_s": None,
        "q_p": None,
        "q_o": None,
    }
    base.update(row)
    return base


class _Parser:
    """One pass over one document; emits quad dicts."""

    def __init__(self, text: str, default_graph: str | None = None):
        self.lx = _Lexer(text)
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.default_graph = default_graph
        self.quads: list[dict[str, Any]] = []
        self._bn = 0
        # generated labels are '<prefix><n>'; an explicit label equal to
        # one would appear in the text as '_:<prefix>...', so a prefix the
        # text never spells after '_:' cannot meet a label of the document
        self._bn_prefix = "genid"
        while "_:" + self._bn_prefix in text:
            self._bn_prefix += "_"
        self._qdepth = 0  # quoted-triple nesting depth (max 2)

    def _err(self, msg: str) -> NoReturn:
        self.lx._err(msg)

    # -- terms -------------------------------------------------------------

    def _new_bnode(self) -> str:
        self._bn += 1
        return f"{self._bn_prefix}{self._bn}"

    def _resolve(self, iri: str) -> str:
        # absolute = has a scheme (RFC 3986): never touched, so mailto:,
        # did:, urn:, tag: survive a file-level @base (review finding:
        # '://'-sniffing corrupted scheme-only IRIs)
        if not self.base or re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            return iri
        if iri.startswith("#"):
            # same-document reference (RFC 3986 5.3): replace only the
            # base's fragment — '<#Foo>' against base '.../file.owl' is
            # '.../file.owl#Foo', NOT a sibling path (review finding)
            return self.base.split("#", 1)[0] + iri
        if iri.startswith("?"):
            # query-only reference: replace base query (and fragment)
            return self.base.split("#", 1)[0].split("?", 1)[0] + iri
        if iri.startswith("//"):
            scheme = self.base.split(":", 1)[0]
            return f"{scheme}:{iri}"
        base = self.base.split("#", 1)[0].split("?", 1)[0]
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)(/.*)?$", base)
        if iri.startswith("/"):
            return (m.group(1) + iri) if m else base + iri
        if m:  # merge with the base path minus its last segment
            path = m.group(2) or "/"
            return m.group(1) + path[: path.rfind("/") + 1] + iri
        return base + iri

    def _expand_bare(self, word: str) -> str:
        if ":" not in word:
            self._err(f"expected prefixed name, got {word!r}")
        p, local = word.split(":", 1)
        if p.startswith("_"):  # _:label handled by caller
            self._err(f"blank node {word!r} used as IRI")
        if p not in self.prefixes:
            self._err(f"undefined prefix {p!r} in {word!r}")
        return self.prefixes[p] + local

    def _dt_iri(self, dt_tok) -> str:
        kind, val = dt_tok
        return self._resolve(val) if kind == "iri" else self._expand_bare(val)

    def _term(self, graph: str | None):
        """Returns (value, kind, dt, lang). kind ∈ iri|blank|literal|quoted;
        for quoted, value is the (s, p, o) tuple."""
        tok = self.lx.next()
        if tok is None:
            self._err("unexpected end of input")
        kind, val = tok
        if kind == "iri":
            return (self._resolve(val), "iri", None, None)
        if kind == "literal":
            lex, lang, dt_tok = val
            dt = self._dt_iri(dt_tok) if dt_tok else None
            return (lex, "literal", dt, lang)
        if kind == "bare":
            if val.startswith("_:"):
                return (val[2:], "blank", None, None)
            if val == "true" or val == "false":
                return (val, "literal", XSD + "boolean", None)
            return (self._expand_bare(val), "iri", None, None)
        if kind == "num":
            return (val, "literal", numeric_datatype(val), None)
        if kind == "[":
            label = self._new_bnode()
            if self.lx.peek() != ("]", None):
                self._po_list(label, "blank", graph)
            if self.lx.next() != ("]", None):
                self._err("expected ']'")
            return (label, "blank", None, None)
        if kind == "(":
            items = []
            while self.lx.peek() != (")", None):
                item = self._term(graph)
                if item[1] == "quoted":
                    self._err(
                        "quoted triples are not supported inside collections"
                    )
                items.append(item)
            self.lx.next()  # ')'
            if not items:
                return (RDF_NIL, "iri", None, None)
            head = self._new_bnode()
            cur = head
            for idx, (v, k, dt, lang) in enumerate(items):
                self._emit(cur, "blank", RDF_FIRST, v, k, dt, lang, graph)
                if idx == len(items) - 1:
                    self._emit(cur, "blank", RDF_REST, RDF_NIL, "iri", None, None, graph)
                else:
                    nxt = self._new_bnode()
                    self._emit(cur, "blank", RDF_REST, nxt, "blank", None, None, graph)
                    cur = nxt
            return (head, "blank", None, None)
        if kind == "<<":
            # RDF 1.2 triple-term spelling <<( s p o )>> — what pyoxigraph
            # (the reference's store) serializes for rdf:reifies objects —
            # lexes as '<<' '(' ... ')' '>>'; the paren pair is optional
            self._qdepth += 1
            nested = self._qdepth == 2
            if self._qdepth > 2:
                # deeper nesting would require serializing a serialized
                # form — ambiguous to re-parse; keep the loud guard
                self._err(
                    "quoted triples nested deeper than 2 levels are not "
                    "supported"
                )
            try:
                paren = self.lx.peek() == ("(", None)
                if paren:
                    self.lx.next()
                qs, qsk, qsdt, qslang = self._term(graph)
                qp = self._predicate()
                qo, qok, qodt, qolang = self._term(graph)
                if paren and self.lx.next() != (")", None):
                    self._err("expected ')' in '<<( ... )>>'")
                if self.lx.next() != (">>", None):
                    self._err("expected '>>'")
            finally:
                self._qdepth -= 1
            # depth-2: the INNER quoted triple desugars into the engine's
            # serialized term form (rdf_syntax.serialize_quoted), so
            # q_s/q_p/q_o stay scalar string columns. An inner literal
            # that form would change is refused, not stored.
            inner = ((qs, qsk, qsdt, qslang), (qo, qok, qodt, qolang))
            for v, k, dt, lang in inner if nested else ():
                why = k == "literal" and unkept_literal(v, dt, lang)
                if why:
                    self._err(why)
            if qsk == "quoted":
                qs = serialize_quoted(*qs)
            if qok == "quoted":
                qo = serialize_quoted(*qo)
            return ((qs, qp, qo), "quoted", None, None)
        self._err(f"unexpected token {kind!r} {val!r}")

    def _predicate(self) -> str:
        tok = self.lx.next()
        if tok is None:
            self._err("unexpected end of input in predicate")
        kind, val = tok
        if kind == "iri":
            return self._resolve(val)
        if kind == "bare":
            if val == "a":
                return RDF_TYPE
            return self._expand_bare(val)
        self._err(f"bad predicate token {kind!r} {val!r}")

    # -- emission ----------------------------------------------------------

    def _emit(self, s, skind, p, o, okind, dt, lang, graph, quoted=None):
        row = {
            "predicate": p,
            "object_datatype": dt,
            "object_lang": lang,
            "object_kind": okind,
            "graph": graph if graph is not None else self.default_graph,
        }
        if skind == "quoted" and okind == "quoted":
            self._err(
                "quoted triples on both subject and object of one "
                "statement are not supported (single q_s/q_p/q_o column set)"
            )
        if okind == "quoted":
            # reference export shape: `reifier rdf:reifies <<( s p o )>>` —
            # the quoted triple rides in the q_* columns, object stays NULL
            row["q_s"], row["q_p"], row["q_o"] = o
        else:
            row["object"] = o
        if skind == "quoted":
            row["subject_kind"] = "quoted"
            row["q_s"], row["q_p"], row["q_o"] = quoted
        else:
            row["subject"], row["subject_kind"] = s, skind
        self.quads.append(_emit_base(row))

    def _po_list(self, s, skind, graph, quoted=None) -> None:
        while True:
            p = self._predicate()
            while True:
                o, okind, dt, lang = self._term(graph)
                self._emit(s, skind, p, o, okind, dt, lang, graph, quoted)
                if self.lx.peek() == (",", None):
                    self.lx.next()
                    continue
                break
            if self.lx.peek() == (";", None):
                self.lx.next()
                # permit trailing ';' before '.', ']' or '}'
                nxt = self.lx.peek()
                if nxt in ((".", None), ("]", None), ("}", None)) or nxt is None:
                    return
                continue
            return

    # -- statements --------------------------------------------------------

    def _statement(self, graph: str | None, *, in_block: bool = False) -> None:
        s, skind, _, _ = self._term(graph)
        if skind == "quoted":
            self._po_list(None, "quoted", graph, quoted=s)
        elif skind == "blank" and self.lx.peek() == (".", None):
            pass  # bare `[ ... ] .` statement: quads already emitted
        else:
            self._po_list(s, skind, graph)
        # TriG permits the LAST statement of a block to omit its dot
        if in_block and self.lx.peek() == ("}", None):
            return
        if self.lx.next() != (".", None):
            self._err("expected '.' at end of statement")

    def _graph_label(self, first: int) -> None:
        """N-Quads: an IRI or blank node after the object of a top-level
        statement names the graph of its triple. The statement emitted
        the quads from index ``first`` on; it must have emitted one."""
        kind, val = self.lx.peek() or (None, None)
        if kind != "iri" and not (kind == "bare" and val.startswith("_:")):
            return
        if len(self.quads) != first + 1:
            self._err("a graph label may follow only a single triple")
        self.quads[-1]["graph"] = self._term(None)[0]

    def _block(self, graph: str | None) -> None:
        if self.lx.next() != ("{", None):
            self._err("expected '{'")
        while self.lx.peek() != ("}", None):
            self._statement(graph, in_block=True)
        self.lx.next()  # '}'
        if self.lx.peek() == (".", None):  # optional trailing dot after block
            self.lx.next()

    def parse(self) -> list[dict[str, Any]]:
        while True:
            tok = self.lx.peek()
            if tok is None:
                return self.quads
            kind, val = tok
            if kind == "dir" or (
                kind == "bare" and val.lower() in ("prefix", "base")
            ):
                self.lx.next()
                sparql_form = kind == "bare"
                name = val if kind == "dir" else val.lower()
                if name == "prefix":
                    ptok = self.lx.next()
                    if ptok is None or ptok[0] != "bare" or not ptok[1].endswith(":"):
                        self._err(f"bad prefix name {ptok!r}")
                    itok = self.lx.next()
                    if itok is None or itok[0] != "iri":
                        self._err("bad prefix IRI")
                    self.prefixes[ptok[1][:-1]] = self._resolve(itok[1])
                else:
                    itok = self.lx.next()
                    if itok is None or itok[0] != "iri":
                        self._err("bad base IRI")
                    self.base = itok[1]
                if not sparql_form:
                    if self.lx.next() != (".", None):
                        self._err("expected '.' after @directive")
                elif self.lx.peek() == (".", None):
                    self.lx.next()
                continue
            if kind == "bare" and val.lower() == "graph":
                self.lx.next()
                g, gkind, _, _ = self._term(None)
                if gkind not in ("iri", "blank"):
                    self._err("bad graph label")
                self._block(g)
                continue
            if kind == "{":
                self._block(None)
                continue
            # `term { ... }` TriG block vs ordinary statement: parse the
            # first term, then look at the next token
            mark_peek = self.lx.peek()
            if mark_peek[0] in ("iri", "bare") and mark_peek[1] not in (
                "true",
                "false",
            ):
                s, skind, _, _ = self._term(None)
                if self.lx.peek() == ("{", None):
                    self._block(s)
                    continue
                first = len(self.quads)
                self._po_list(s, skind, None)
                self._graph_label(first)
                if self.lx.next() != (".", None):
                    self._err("expected '.' at end of statement")
                continue
            self._statement(None)


def parse_turtle_text(
    text: str, default_graph: str | None = None
) -> list[dict[str, Any]]:
    """Parse one Turtle/TriG(-star) document into quad dicts (the pure
    kernel — unit-testable without Spark)."""
    return _Parser(text, default_graph).parse()


TURTLE_SCHEMA = (
    "subject string, subject_kind string, predicate string, object string,"
    " object_datatype string, object_lang string, object_kind string,"
    " graph string, q_s string, q_p string, q_o string"
)

_COLS = [
    "subject",
    "subject_kind",
    "predicate",
    "object",
    "object_datatype",
    "object_lang",
    "object_kind",
    "graph",
    "q_s",
    "q_p",
    "q_o",
]


def read_turtle(
    spark: SparkSession, path: str, graph: str | None = None
) -> DataFrame:
    """Load Turtle/TriG(-star), N-Triples or N-Quads file(s) into the
    engine's quad relation. ``graph`` assigns a target named graph to
    statements outside explicit TriG blocks and without an N-Quads graph
    label (the reference loads each uploaded file into a chosen graph,
    rdf-workbench.py:99-133). One file = one parse task (wholetext +
    Arrow-batched mapInPandas); see module docstring for why that is the
    right distribution unit. A malformed file fails the action with a
    :class:`TurtleParseError` naming the file, line and context."""
    import pandas as pd

    files = spark.read.text(path, wholetext=True).select(
        "value", F.col("_metadata.file_path").alias("file")
    )

    def _parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for text, file in zip(pdf["value"], pdf["file"]):
                try:
                    rows = parse_turtle_text(text, default_graph=graph)
                except TurtleParseError as e:
                    raise TurtleParseError(
                        f"unparseable RDF in {file}: {e}"
                    ) from None
                yield pd.DataFrame(
                    {c: [r[c] for r in rows] for c in _COLS}, columns=_COLS
                )

    return files.mapInPandas(_parse, schema=TURTLE_SCHEMA)
