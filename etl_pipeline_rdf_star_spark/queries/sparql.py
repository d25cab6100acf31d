"""SPARQL-star SELECT/ASK/CONSTRUCT subset → Catalyst plans.

The reference's users speak SPARQL: its endpoint executes the Postman
corpus (tests/test_postman_queries.py:97-774) and the query library
(sparql/batch_queries.rq) against pyoxigraph. This module closes that
last API gap by compiling the SELECT-family subset those corpora
actually use into DataFrame plans over the engine's relations — no
per-row Python, no triple-at-a-time iteration; Catalyst plans the joins.

Supported grammar (everything the reference SELECT/ASK corpus uses):

* ``PREFIX`` / ``BASE`` prologue, ``a``, ``;`` / ``,`` lists
* basic graph patterns with variables in any position
* **quoted-triple patterns** ``<< ?s ex:p ?o >> ex:conf ?c`` (subject
  position — what the reference emits), matched against the annotation
  relation
* ``OPTIONAL { ... }`` (left join), ``UNION`` (null-filled union),
  ``MINUS { ... }`` (domain-overlap anti join), ``GRAPH <g>/?g { ... }``
* ``VALUES`` inline data with UNDEF — in-group blocks and the trailing
  clause (joined per §18.2.4.4 order: after HAVING, before projection)
* ``{ SELECT ... }`` subqueries, evaluated independently and joined on
  their projected variables
* ``FILTER`` with comparisons, ``&&`` ``||`` ``!``, ``[NOT] IN``,
  ``regex``, ``bound``, ``str``, ``lang``, ``datatype`` (numeric
  comparison auto-casts), term tests ``isIRI/isURI/isLiteral/isNumeric/
  isBlank`` (kind sniffed from the lexical form), and the string/date/
  hash builtins ``STRSTARTS/STRENDS/CONTAINS/STRLEN/UCASE/LCASE/CONCAT/
  STRBEFORE/STRAFTER/REPLACE/SUBSTR/ENCODE_FOR_URI/YEAR/MONTH/DAY/HOURS/
  MINUTES/SECONDS/MD5/SHA1/SHA256/SHA384/SHA512``
* ``SELECT [DISTINCT] ?v ... | * | (COUNT/SUM/AVG/MIN/MAX/GROUP_CONCAT/
  SAMPLE([DISTINCT] ?v|*) AS ?alias)`` (GROUP_CONCAT takes ``;
  SEPARATOR="..."`` and sorts members for determinism; SAMPLE = min)
  ``| (expr AS ?alias)`` (non-aggregate select expressions, desugared to
  trailing BINDs), ``GROUP BY``, ``HAVING`` (aggregate calls become
  hidden aggregate columns), ``ORDER BY [ASC|DESC]``, ``LIMIT/OFFSET``
* ``ASK { ... }`` and single-template ``CONSTRUCT { ... } WHERE { ... }``

Execution model: each triple pattern is a constant-filtered projection of
the triples (or annotations) relation with variable columns renamed; the
BGP is a chain of equi-joins on shared variables (Catalyst reorders /
broadcasts); OPTIONAL is a left join; FILTER a ``where``. When the dataset
carries the engine's stored wide rows (``SparqlDataset.wide``), a star —
the BGP's patterns on one subject — is instead one filtered projection of
those rows, and a UNION of stars one scan (see ``_Planner._bgp``). Every
operator stays JVM-side.

Known subset deviation: GRAPH groups and plain nested groups are
FLATTENED into the enclosing group, so a FILTER inside them that
references a variable bound only OUTSIDE its own group evaluates against
the joined bindings instead of erroring-to-false as strict SPARQL group
scoping requires. Identical results whenever filter variables are bound
inside their own group — which is every query in the reference's corpora;
strict scoping would need per-group error semantics for a case no
reference query exercises.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sinks.rdf_syntax import (
    NUMBER_RE,
    TRIPLE_PART_RES,
    TRIPLE_TERM_RE,
    XSD,
    TermLexer,
    numeric_datatype,
    quoted_column,
    serialize_quoted,
    unkept_literal,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_RDF_REIFIES = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
# the XSD numeric type hierarchy (isNUMERIC consults a typed literal's
# stored datatype against this set, 17.4.2.4)
_XSD_NUMERIC_TYPES = tuple(
    "http://www.w3.org/2001/XMLSchema#" + n
    for n in (
        "decimal", "integer", "double", "float", "byte", "short", "int",
        "long", "nonPositiveInteger", "negativeInteger",
        "nonNegativeInteger", "positiveInteger", "unsignedByte",
        "unsignedShort", "unsignedInt", "unsignedLong",
    )
)
# xsd:dateTime lexical shape (date 'T' time, optional fraction/zone) —
# what TZ() accepts; shared with the property-suite naive model
_DATETIME_LEX_RE = r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$"

# a whole value that spells a number (an rlike pattern)
_NUMBER_LEX_RE = f"^(?:{NUMBER_RE.pattern})$"
# general ABSOLUTE-IRI shape (RFC 3987 scheme + no forbidden chars):
# what IRI()-minting validity and subject-position kind inference use —
# deliberately broader than the serving sniff's known-scheme _IRI_RE,
# which would misfile mailto:/did:/tag: IRIs the engine itself stores
# with kind 'iri' (review finding)
_ABS_IRI_RE = r'^[A-Za-z][A-Za-z0-9+.\-]*:[^\s<>"{}|\\^`]*$'


def _serialize_quoted(t) -> str:
    """Render a parsed GROUND quoted-triple Term in the engine's
    serialized form (rdf_syntax.serialize_quoted). What that form would
    lose is rejected loudly: a variable inside (serializing its NAME
    would make every comparison false; use TRIPLE(?s, p, o) for per-row
    construction) and a literal ``unkept_literal`` refuses."""
    parts = []
    for c in t.value:
        if c.kind == "var":
            raise SparqlUnsupported(
                "variable inside a quoted-triple expression term — "
                "use TRIPLE() to build a per-row triple term"
            )
        if c.kind in ("literal", "num"):
            dt = numeric_datatype(c.value) if c.kind == "num" else c.datatype
            why = unkept_literal(c.value, dt, c.lang)
            if why:
                raise SparqlUnsupported(why)
        parts.append(
            _serialize_quoted(c) if c.kind == "quoted" else str(c.value)
        )
    return serialize_quoted(*parts)


class SparqlParseError(ValueError):
    pass


class SparqlUnsupported(ValueError):
    """Query uses SPARQL outside the implemented subset."""


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    kind: str  # var | iri | literal | num | quoted
    value: Any  # str, or (s, p, o) Terms for quoted
    datatype: str | None = None
    lang: str | None = None


@dataclass
class Path:
    """SPARQL 1.1 property-path AST node (predicate position only).

    ``op``: ``link`` (items = [iri str]) | ``inv`` | ``seq`` | ``alt`` |
    ``plus`` | ``star`` | ``opt`` (items = child Paths) | ``neg``
    (negated property set — items = [forward iris, reverse iris], two
    lists of strings)."""

    op: str
    items: list


@dataclass
class TriplePattern:
    s: Term
    p: Term  # kind "var" | "iri" | "path" (value = Path)
    o: Term
    graph: Term | None = None


@dataclass
class Group:
    """One group graph pattern: patterns + filters + optional/union parts."""

    patterns: list = field(default_factory=list)  # TriplePattern | Optional_ | UnionOp
    filters: list = field(default_factory=list)  # Expr


@dataclass
class Optional_:
    group: Group


@dataclass
class Bind:
    """``BIND(expr AS ?var)`` — extends the solution with a computed
    column (batch_queries.rq uses it 12×, Postman 2.3/6.4 for constant
    anchors)."""

    var: str
    expr: "Expr"


@dataclass
class ExistsFilter:
    """``FILTER [NOT] EXISTS { ... }`` — correlated semi/anti join on the
    shared variables (the Catalyst shape DuckDB/Spark both plan for
    EXISTS subqueries). batch_queries.rq leans on NOT EXISTS for its
    batch-diff queries."""

    group: Group
    negated: bool


@dataclass
class UnionOp:
    groups: list  # list[Group]


@dataclass
class MinusOp:
    """``MINUS { ... }`` (SPARQL 1.1 §8.3): drop a solution when the
    right group has a COMPATIBLE mapping whose domain OVERLAPS it —
    disjoint-domain matches remove nothing, unlike NOT EXISTS."""

    group: Group


@dataclass
class InlineData:
    """``VALUES`` inline data (SPARQL 1.1 §10.2) — in-group block or the
    trailing values clause. ``rows`` hold Terms; ``None`` = UNDEF."""

    vars: list  # list[str]
    rows: list  # list[list[Term | None]]


@dataclass
class SubSelect:
    """``{ SELECT ... }`` subquery pattern (SPARQL 1.1 §12) — evaluated
    independently, then joined into the enclosing group on its projected
    variables."""

    query: "SelectQuery"


@dataclass
class Expr:
    op: str  # cmp ops, and, or, not, call, term
    args: list


@dataclass
class Aggregate:
    fn: str  # count | sum | avg | min | max | group_concat | sample
    var: str | None  # None = COUNT(*) (unless expr is set)
    distinct: bool
    alias: str
    expr: "Expr | None" = None  # aggregate over an expression, e.g. SUM(IF(...))
    sep: str | None = None  # GROUP_CONCAT(...; SEPARATOR="...")


@dataclass
class SelectQuery:
    form: str  # select | ask | construct
    projections: list  # list[str] vars, or ['*']
    aggregates: list  # list[Aggregate]
    where: Group
    group_by: list  # list[str]
    order_by: list  # list[(str var, bool desc)]
    limit: int | None
    offset: int | None
    distinct: bool
    template: list = field(default_factory=list)  # CONSTRUCT TriplePatterns
    from_graphs: list = field(default_factory=list)  # FROM <g> (default graph)
    from_named: list = field(default_factory=list)  # FROM NAMED <g>
    having: list = field(default_factory=list)  # HAVING constraints (Expr)
    values: "InlineData | None" = None  # trailing VALUES clause
    # aliases of aggregates synthesized for HAVING constraints — tracked
    # by identity so a user variable that happens to be named ?_hv0 is
    # not mistaken for one (review finding)
    hidden_aliases: list = field(default_factory=list)
    # non-aggregate SELECT expressions (expr AS ?v), desugared to BINDs
    # appended after the WHERE group's patterns
    select_binds: list = field(default_factory=list)
    # DESCRIBE resources: Terms of kind "var" | "iri" (projections holds
    # ["*"] for DESCRIBE *)
    describe_terms: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_KEYWORDS = {
    "select", "ask", "construct", "describe", "where", "prefix", "base",
    "optional",
    "filter", "union", "graph", "distinct", "order", "by", "asc", "desc",
    "limit", "offset", "group", "as", "a", "count", "sum", "avg", "min",
    "max", "regex", "bound", "str", "lang", "datatype", "true", "false",
    "bind", "exists", "not", "if", "coalesce", "now", "strstarts",
    "strends", "contains", "strlen", "floor", "abs", "round", "ucase",
    "lcase", "concat", "from", "named", "values", "undef", "minus",
    "having", "group_concat", "sample", "separator", "strbefore",
    "strafter", "replace", "substr", "year", "month", "day", "hours",
    "minutes", "seconds", "in", "isiri", "isuri", "isliteral",
    "isnumeric", "isblank", "encode_for_uri", "md5", "sha1", "sha256",
    "sha384", "sha512",
    "ceil", "sameterm", "iri", "uri", "tz", "uuid", "struuid", "rand",
    "istriple", "triple", "subject", "predicate", "object",
    "langmatches", "strdt", "strlang",
}

# aggregate function keywords (SELECT clause + HAVING expressions)
_AGG_KEYWORDS = {
    "count", "sum", "avg", "min", "max", "group_concat", "sample",
}

# zero-or-more-arg builtin calls handled uniformly in _expr_unary
_FN_KEYWORDS = {
    "regex", "bound", "str", "lang", "datatype", "if", "coalesce", "now",
    "strstarts", "strends", "contains", "strlen", "floor", "abs", "round",
    "ucase", "lcase", "concat", "strbefore", "strafter", "replace",
    "substr", "year", "month", "day", "hours", "minutes", "seconds",
    "isiri", "isuri", "isliteral", "isnumeric", "isblank",
    "encode_for_uri", "md5", "sha1", "sha256", "sha384", "sha512",
    "ceil", "sameterm", "iri", "uri", "tz", "uuid", "struuid", "rand",
    # SPARQL-star (1.2) triple-term accessors — operate on the engine's
    # serialized quoted-term representation "<< s p o >>"
    # (dataset_from_quads keeps non-reifies quoted objects in that form)
    "istriple", "triple", "subject", "predicate", "object",
    "langmatches", "strdt", "strlang",
}
_PUNCT2 = ("<<", ">>", "<=", ">=", "!=", "&&", "||")


_VAR_RE = re.compile(r"[?$]([A-Za-z_][A-Za-z0-9_]*)")
# local part additionally admits '$' for $PARAM template placeholders
# (batch_queries.rq: ex:BatchStatus/$STATUS). A '.' is consumed only when
# another local-part char follows — else 'ex:Person.' (no space before the
# statement dot) would swallow the terminator into the IRI and match
# nothing (review finding)
_PNAME_RE = re.compile(
    r"[A-Za-z_][A-Za-z0-9_\-]*(\.[A-Za-z0-9_\-]+)*:"
    r"(?:[A-Za-z0-9_\-%/#$]|\.(?=[A-Za-z0-9_\-.%/#$]))*"
)
_WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class _Lex(TermLexer):
    """SPARQL's tokens over the shared term syntax: IRIs, variables,
    operators, prefixed names (with the reference templates' '/', '$'
    and '#') and keywords."""

    error = SparqlParseError

    def peek2(self):
        """One-token lookahead past peek() — needed only to tell
        expression-level ``NOT EXISTS`` from a bare ``NOT``. Single-token
        buffering elsewhere stays untouched: this materializes peek(),
        saves the lexer position, reads one token, and rewinds."""
        first = self.peek()
        if first is None:
            return None
        save_i = self.i
        second = self._next()
        self.i = save_i
        self._peeked = first
        return second

    def expect(self, kind, val=None):
        tok = self.next()
        if tok is None or tok[0] != kind or (val is not None and tok[1] != val):
            raise SparqlParseError(f"expected {kind} {val or ''}, got {tok!r}")
        return tok

    def _next(self):
        self._skip()
        if self.i >= self.n:
            return None
        t, i = self.t, self.i
        c = t[i]
        two = t[i : i + 2]
        if two in _PUNCT2:
            self.i += 2
            return (two, None)
        if c == "<":
            iri = self._iri()
            if iri:
                return iri
            self.i += 1
            return ("<", None)
        if c in "?$":
            m = _VAR_RE.match(t, i)
            if not m:
                if c == "?":  # bare '?': zero-or-one property-path modifier
                    self.i += 1
                    return ("?", None)
                self._err("bad variable")
            self.i = m.end()
            return ("var", m.group(1))
        if c in "\"'":
            return self._literal()
        num = self._number()
        if num:
            return num
        if c in "{}().;,*=>!/+-^|":
            self.i += 1
            return (c, None)
        m = _PNAME_RE.match(t, i)
        if m:
            lex = m.group(0)
            end = m.end()
            # '/' in local parts is reference-template compat
            # (ex:BatchStatus/pending) — but an UNSPACED property-path
            # sequence like rdf:type/rdfs:subClassOf greedily matches up
            # to the second ':' and dies there. When the match stops
            # right before a ':' and carries a '/', the trailing segment
            # is really the next path element's prefix: backtrack to the
            # last '/'
            if end < self.n and t[end] == ":" and "/" in lex.split(":", 1)[1]:
                cut = lex.rindex("/")
                self.i = i + cut
                return ("pname", lex[:cut])
            # a trailing '/' is kept in the pname here (ex:doc/ is a
            # legitimate IRI in this dialect); whether it is really the
            # path-sequence operator is a GRAMMAR-position question the
            # lexer cannot answer — _path_elt decides it in predicate
            # position (review finding: a context-free split here broke
            # trailing-slash pnames in subject/object position)
            self.i = end
            return ("pname", lex)
        m = _WORD_RE.match(t, i)
        if m:
            word = m.group(0)
            self.i = m.end()
            if word.lower() in _KEYWORDS:
                return ("kw", word.lower())
            return ("word", word)
        self._err(f"unexpected character {c!r}")


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, text: str):
        self.lx = _Lex(text)
        self.prefixes: dict[str, str] = {}
        # enclosing GRAPH context while parsing a FILTER/BIND expression,
        # so expression-level EXISTS groups inherit it (SPARQL semantics
        # of GRAPH g { BIND(IF(EXISTS { ... }, ...) AS ?x) })
        self._graph_ctx: Term | None = None
        # set by _path_elt when a trailing-slash pname (ex:a/) acts as a
        # sequence operator; consumed by _path_seq's continuation loop
        self._pending_seq = False
        # the SelectQuery whose HAVING clause is being parsed: aggregate
        # calls inside it become hidden aggregates on that query
        self._having_q: SelectQuery | None = None

    def parse(self) -> SelectQuery:
        while True:
            tok = self.lx.peek()
            if tok == ("kw", "prefix"):
                self.lx.next()
                p = self.lx.next()
                if p is None or p[0] != "pname" or not p[1].endswith(":"):
                    # "ex:" lexes as pname with empty local part
                    raise SparqlParseError(f"bad prefix decl {p!r}")
                iri = self.lx.expect("iri")
                self.prefixes[p[1][:-1]] = iri[1]
            elif tok == ("kw", "base"):
                self.lx.next()
                self.lx.expect("iri")
            else:
                break
        tok = self.lx.next()
        if tok == ("kw", "select"):
            return self._select()
        if tok == ("kw", "ask"):
            # SPARQL 1.1: ASK DatasetClause* 'WHERE'? GroupGraphPattern —
            # the common 'ASK WHERE { ... }' form must parse (review
            # finding)
            q = SelectQuery("ask", [], [], Group(), [], [], None, None, False)
            _parse_dataset_clauses(self, q)
            if self.lx.peek() == ("kw", "where"):
                self.lx.next()
            q.where = self._group()
            # ASK takes solution modifiers + a ValuesClause in the 1.1
            # grammar; skipping this silently ignored a trailing VALUES
            # (review finding)
            _parse_modifiers(self, q)
            return q
        if tok == ("kw", "describe"):
            # SPARQL 1.1 §16.4: DESCRIBE (VarOrIri+ | '*') DatasetClause*
            # WhereClause? SolutionModifier. We implement the common CBD
            # subset the reference endpoint serves: every asserted triple
            # whose SUBJECT is a described node.
            q = SelectQuery(
                "describe", [], [], Group(), [], [], None, None, False
            )
            star = False
            while True:
                t2 = self.lx.peek()
                if t2 == ("*", None):
                    self.lx.next()
                    star = True
                elif t2 is not None and t2[0] in ("var", "iri", "pname"):
                    kind, val = self.lx.next()
                    if kind == "var":
                        q.describe_terms.append(Term("var", val))
                    else:
                        q.describe_terms.append(Term(
                            "iri", val if kind == "iri" else self._expand(val)
                        ))
                else:
                    break
            if star:
                if q.describe_terms:
                    raise SparqlParseError(
                        "DESCRIBE * cannot mix with explicit resources"
                    )
                q.projections = ["*"]
            elif not q.describe_terms:
                raise SparqlParseError(
                    "DESCRIBE needs a resource, a variable, or *"
                )
            _parse_dataset_clauses(self, q)
            nxt = self.lx.peek()
            if nxt == ("kw", "where") or nxt == ("{", None):
                if nxt == ("kw", "where"):
                    self.lx.next()
                q.where = self._group()
            _parse_modifiers(self, q)
            if not q.where.patterns:
                if star:
                    raise SparqlParseError("DESCRIBE * requires WHERE")
                if any(t.kind == "var" for t in q.describe_terms):
                    raise SparqlParseError(
                        "DESCRIBE ?var requires a WHERE pattern binding it"
                    )
            return q
        if tok == ("kw", "construct"):
            template = self._template()
            q = SelectQuery(
                "construct", [], [], Group(), [], [], None, None, False,
                template=template,
            )
            _parse_dataset_clauses(self, q)
            self.lx.expect("kw", "where")
            q.where = self._group()
            _parse_modifiers(self, q)
            return q
        raise SparqlUnsupported(f"unsupported query form {tok!r}")

    # -- terms ------------------------------------------------------------

    def _expand(self, pname: str) -> str:
        p, local = pname.split(":", 1)
        if p not in self.prefixes:
            raise SparqlParseError(f"undefined prefix {p!r}")
        return self.prefixes[p] + local

    def _term(self, *, allow_quoted: bool = True, qdepth: int = 0) -> Term:
        tok = self.lx.next()
        if tok is None:
            raise SparqlParseError("unexpected end of query")
        kind, val = tok
        if kind == "var":
            return Term("var", val)
        if kind == "iri":
            return Term("iri", val)
        if kind == "pname":
            return Term("iri", self._expand(val))
        if kind == "kw" and val == "a":
            return Term("iri", RDF_TYPE)
        if kind == "kw" and val in ("true", "false"):
            return Term(
                "literal", val,
                datatype="http://www.w3.org/2001/XMLSchema#boolean",
            )
        if kind == "literal":
            lex, lang, dt = val
            dtv = None
            if dt is not None:
                dtv = dt[1] if dt[0] == "iri" else self._expand(dt[1])
            return Term("literal", lex, datatype=dtv, lang=lang)
        if kind == "num":
            return Term("num", val)
        if kind == "<<":
            if not allow_quoted:
                raise SparqlUnsupported("nested quoted pattern")
            # one nesting level inside a quoted term: a GROUND depth-2
            # quoted s/o compiles to the engine's serialized string form
            # (see _bind / _serialize_quoted); depth 3 stays loud. The
            # flag is threaded, not reset, so <<<<<<...>>>>>> can't
            # sneak through the recursion.
            inner = allow_quoted and qdepth == 0
            s = self._term(allow_quoted=inner, qdepth=qdepth + 1)
            p = self._term(allow_quoted=False, qdepth=qdepth + 1)
            o = self._term(allow_quoted=inner, qdepth=qdepth + 1)
            self.lx.expect(">>")
            return Term("quoted", (s, p, o))
        raise SparqlParseError(f"unexpected term token {tok!r}")

    # -- groups -----------------------------------------------------------

    def _group(self, graph: Term | None = None) -> Group:
        """Parse one ``{ ... }`` group. ``graph`` is the enclosing GRAPH
        context — every triple pattern (including ones inside nested
        OPTIONAL/UNION/EXISTS groups) inherits it, which is exactly the
        SPARQL semantics of ``GRAPH g { ... OPTIONAL { ... } ... }``."""
        self.lx.expect("{")
        g = Group()
        while True:
            tok = self.lx.peek()
            if tok == ("}", None):
                self.lx.next()
                return g
            if tok is None:
                raise SparqlParseError("unterminated group")
            if tok == ("kw", "optional"):
                self.lx.next()
                g.patterns.append(Optional_(self._group(graph)))
                self._maybe_dot()
                continue
            if tok == ("kw", "minus"):
                self.lx.next()
                g.patterns.append(MinusOp(self._group(graph)))
                self._maybe_dot()
                continue
            if tok == ("kw", "values"):
                self.lx.next()
                g.patterns.append(self._inline_data())
                self._maybe_dot()
                continue
            if tok == ("kw", "filter"):
                self.lx.next()
                nxt = self.lx.peek()
                if nxt in (("kw", "exists"), ("kw", "not")):
                    negated = nxt == ("kw", "not")
                    self.lx.next()
                    if negated:
                        self.lx.expect("kw", "exists")
                    g.filters.append(ExistsFilter(self._group(graph), negated))
                else:
                    prev_ctx, self._graph_ctx = self._graph_ctx, graph
                    try:
                        g.filters.append(self._expr_primary_paren())
                    finally:
                        self._graph_ctx = prev_ctx
                self._maybe_dot()
                continue
            if tok == ("kw", "bind"):
                self.lx.next()
                self.lx.expect("(")
                prev_ctx, self._graph_ctx = self._graph_ctx, graph
                try:
                    e = self._expr()
                finally:
                    self._graph_ctx = prev_ctx
                self.lx.expect("kw", "as")
                v = self.lx.next()
                if v is None or v[0] != "var":
                    raise SparqlParseError("expected ?var after BIND(... AS")
                self.lx.expect(")")
                g.patterns.append(Bind(v[1], e))
                self._maybe_dot()
                continue
            if tok == ("kw", "graph"):
                self.lx.next()
                gt = self._term()
                sub = self._group(gt)
                g.patterns.extend(sub.patterns)
                g.filters.extend(sub.filters)
                self._maybe_dot()
                continue
            if tok == ("{", None):
                if self.lx.peek2() == ("kw", "select"):
                    # subquery: { SELECT ... } — parsed as a full select
                    # (modifiers stop at the closing brace); its WHERE
                    # inherits the enclosing GRAPH context (review
                    # finding: GRAPH <g> { { SELECT ... } } must scope the
                    # inner patterns to <g>). A VARIABLE graph context is
                    # refused loudly: Graph(?g, subselect) binds ?g from
                    # the Graph operator itself, which this compiler does
                    # not model through a subquery's projection (review
                    # finding: it surfaced as an unresolved-column error)
                    if graph is not None and graph.kind == "var":
                        raise SparqlUnsupported("subquery inside GRAPH ?var")
                    self.lx.next()
                    self.lx.expect("kw", "select")
                    sub = self._select(subquery=True, graph=graph)
                    self.lx.expect("}")
                    g.patterns.append(SubSelect(sub))
                    self._maybe_dot()
                    continue
                # group (possibly a UNION chain)
                first = self._group(graph)
                parts = [first]
                while self.lx.peek() == ("kw", "union"):
                    self.lx.next()
                    parts.append(self._group(graph))
                if len(parts) == 1:
                    g.patterns.extend(first.patterns)
                    g.filters.extend(first.filters)
                else:
                    g.patterns.append(UnionOp(parts))
                self._maybe_dot()
                continue
            self._triples_block(g, graph)
        return g

    def _maybe_dot(self):
        if self.lx.peek() == (".", None):
            self.lx.next()

    # -- VALUES inline data --------------------------------------------------

    def _inline_data(self) -> InlineData:
        """``VALUES ?v { t ... }`` or ``VALUES (?a ?b) { (t t) ... }``
        with UNDEF wildcards (SPARQL 1.1 §10.2)."""
        tok = self.lx.peek()
        if tok is not None and tok[0] == "var":
            vars_ = [self.lx.next()[1]]
            self.lx.expect("{")
            rows = []
            while True:
                tok = self.lx.peek()
                if tok is None:
                    raise SparqlParseError("unterminated VALUES block")
                if tok == ("}", None):
                    self.lx.next()
                    return InlineData(vars_, rows)
                rows.append([self._data_value()])
        self.lx.expect("(")
        vars_ = []
        while self.lx.peek() is not None and self.lx.peek()[0] == "var":
            vars_.append(self.lx.next()[1])
        self.lx.expect(")")
        self.lx.expect("{")
        rows = []
        while True:
            tok = self.lx.peek()
            if tok is None:
                raise SparqlParseError("unterminated VALUES block")
            if tok == ("}", None):
                self.lx.next()
                return InlineData(vars_, rows)
            self.lx.expect("(")
            row = []
            while self.lx.peek() != (")", None):
                if self.lx.peek() is None:
                    raise SparqlParseError("unterminated VALUES row")
                row.append(self._data_value())
            self.lx.next()
            if len(row) != len(vars_):
                raise SparqlParseError(
                    f"VALUES row arity {len(row)} != {len(vars_)} variables"
                )
            rows.append(row)

    def _data_value(self) -> Term | None:
        if self.lx.peek() == ("kw", "undef"):
            self.lx.next()
            return None
        t = self._term(allow_quoted=False)
        if t.kind == "var":
            raise SparqlParseError("variable inside a VALUES data block")
        return t

    # -- property paths ----------------------------------------------------

    _PATH_START = {("^", None), ("(", None), ("!", None)}
    _PATH_OPS = {("|", None), ("/", None), ("*", None), ("+", None), ("?", None)}

    def _path_or_term(self) -> Term:
        """Predicate position: a plain term (var/iri — the zero-regression
        fast path) or a SPARQL 1.1 property path. NB pname local parts may
        legally contain ``/`` in this dialect (reference template compat:
        ``ex:BatchStatus/pending``), so an interior ``/`` in a pname path
        SEQUENCE needs a second ``:`` (rdf:type/rdfs:subClassOf) or spaces;
        a TRAILING ``/`` (ex:a/ ex:b) is resolved here, in path position,
        where a following path-element starter marks it as the sequence
        operator — subject/object pnames keep their slashes untouched."""
        nxt = self.lx.peek()
        if nxt in self._PATH_START:
            return Term("path", self._path_alt())
        if self._peek_trailing_slash_pname():
            p = self._path_alt(None)
            if p.op == "link":  # no continuation: plain trailing-slash IRI
                return Term("iri", p.items[0])
            return Term("path", p)
        t = self._term()
        if t.kind == "iri" and self.lx.peek() in self._PATH_OPS:
            return Term("path", self._path_alt(first=Path("link", [t.value])))
        return t  # var predicate or plain iri

    def _peek_trailing_slash_pname(self) -> bool:
        nxt = self.lx.peek()
        return (
            nxt is not None
            and nxt[0] == "pname"
            and nxt[1].split(":", 1)[1].endswith("/")
        )

    def _path_alt(self, first: Path | None = None) -> Path:
        items = [self._path_seq(first)]
        while self.lx.peek() == ("|", None):
            self.lx.next()
            items.append(self._path_seq(None))
        return items[0] if len(items) == 1 else Path("alt", items)

    def _neg_prop_set(self) -> tuple[list[str], list[str]]:
        """PathNegatedPropertySet after the consumed '!': a single
        PathOneInPropertySet or a parenthesized '|' list of them. Returns
        (forward iris, reverse iris) — the spec splits the set by the
        ``^`` marker and unions the two directions."""
        fwd: list[str] = []
        rev: list[str] = []

        def one() -> None:
            inv = False
            if self.lx.peek() == ("^", None):
                self.lx.next()
                inv = True
            tok = self.lx.next()
            if tok == ("kw", "a"):
                iri = RDF_TYPE
            elif tok is not None and tok[0] == "iri":
                iri = tok[1]
            elif tok is not None and tok[0] == "pname":
                iri = self._expand(tok[1])
            else:
                raise SparqlParseError(
                    f"negated property set expects an IRI, got {tok!r}"
                )
            (rev if inv else fwd).append(iri)

        if self.lx.peek() == ("(", None):
            self.lx.next()
            if self.lx.peek() != (")", None):
                one()
                while self.lx.peek() == ("|", None):
                    self.lx.next()
                    one()
            self.lx.expect(")")
        else:
            one()
        return fwd, rev

    def _path_seq(self, first: Path | None) -> Path:
        items = [self._path_elt(first)]
        while self.lx.peek() == ("/", None) or self._pending_seq:
            if self._pending_seq:
                self._pending_seq = False  # slash already inside the pname
            else:
                self.lx.next()
            items.append(self._path_elt(None))
        return items[0] if len(items) == 1 else Path("seq", items)

    def _path_elt(self, first: Path | None) -> Path:
        if first is not None:
            p = first  # already-consumed leading iri (modifier may follow)
        else:
            inv = False
            if self.lx.peek() == ("^", None):
                self.lx.next()
                inv = True
            if self.lx.peek() == ("(", None):
                self.lx.next()
                p = self._path_alt()
                self.lx.expect(")")
            elif self.lx.peek() == ("!", None):
                self.lx.next()
                p = Path("neg", list(self._neg_prop_set()))
            elif self._peek_trailing_slash_pname():
                # ex:a/ in PATH position: a following path-element starter
                # means the slash is the sequence operator (sets
                # _pending_seq for _path_seq); otherwise the slash is part
                # of the IRI. Irreducibly ambiguous corner: a trailing-
                # slash predicate IRI with a PNAME object reads as a path
                # and errors loudly — write the full <IRI> there.
                tok = self.lx.next()
                nxt = self.lx.peek()
                if nxt is not None and (
                    nxt in self._PATH_START
                    or nxt[0] in ("pname", "iri")
                    or nxt == ("kw", "a")  # rdf:type is a path element too
                ):
                    # strip exactly ONE slash — ex:a// is the IRI …a/
                    # followed by the operator
                    p = Path("link", [self._expand(tok[1][:-1])])
                    self._pending_seq = True
                else:
                    p = Path("link", [self._expand(tok[1])])
            else:
                t = self._term(allow_quoted=False)
                if t.kind != "iri":
                    raise SparqlParseError(
                        f"property-path element must be an IRI, got {t.kind}"
                    )
                p = Path("link", [t.value])
            if inv:
                p = Path("inv", [p])
        mods = {("*", None): "star", ("+", None): "plus", ("?", None): "opt"}
        m = self.lx.peek()
        if m in mods:
            self.lx.next()
            p = Path(mods[m], [p])
        return p

    def _triples_block(self, g: Group, graph: Term | None = None) -> None:
        s = self._term()
        while True:
            p = self._path_or_term()
            while True:
                o = self._term()
                g.patterns.append(TriplePattern(s, p, o, graph=graph))
                if self.lx.peek() == (",", None):
                    self.lx.next()
                    continue
                break
            if self.lx.peek() == (";", None):
                self.lx.next()
                nxt = self.lx.peek()
                if nxt in ((".", None), ("}", None)) or nxt is None:
                    break
                continue
            break
        self._maybe_dot()

    def _template(self) -> list:
        g = Group()
        self.lx.expect("{")
        while self.lx.peek() != ("}", None):
            self._triples_block(g)
        self.lx.next()
        if any(not isinstance(p, TriplePattern) for p in g.patterns):
            raise SparqlUnsupported("CONSTRUCT template must be plain triples")
        return g.patterns

    # -- expressions ------------------------------------------------------

    def _expr_primary_paren(self) -> Expr:
        self.lx.expect("(")
        e = self._expr()
        self.lx.expect(")")
        return e

    def _expr(self) -> Expr:
        left = self._expr_and()
        while self.lx.peek() == ("||", None):
            self.lx.next()
            left = Expr("or", [left, self._expr_and()])
        return left

    def _expr_and(self) -> Expr:
        left = self._expr_cmp()
        while self.lx.peek() == ("&&", None):
            self.lx.next()
            left = Expr("and", [left, self._expr_cmp()])
        return left

    def _expr_cmp(self) -> Expr:
        left = self._expr_add()
        tok = self.lx.peek()
        ops = {("=", None): "=", ("!=", None): "!=", ("<", None): "<",
               (">", None): ">", ("<=", None): "<=", (">=", None): ">="}
        if tok in ops:
            self.lx.next()
            right = self._expr_add()
            return Expr(ops[tok], [left, right])
        if tok == ("kw", "in") or (
            tok == ("kw", "not") and self.lx.peek2() == ("kw", "in")
        ):
            # SPARQL 1.1 17.4.1.9/.10: Expr [NOT] IN ( list )
            negated = tok == ("kw", "not")
            self.lx.next()
            if negated:
                self.lx.expect("kw", "in")
            self.lx.expect("(")
            items = []
            if self.lx.peek() != (")", None):
                items.append(self._expr())
                while self.lx.peek() == (",", None):
                    self.lx.next()
                    items.append(self._expr())
            self.lx.expect(")")
            return Expr("in", [left, items, negated])
        return left

    def _expr_add(self) -> Expr:
        left = self._expr_mul()
        while self.lx.peek() in (("+", None), ("-", None)):
            op = "add" if self.lx.next()[0] == "+" else "sub"
            left = Expr(op, [left, self._expr_mul()])
        return left

    def _expr_mul(self) -> Expr:
        left = self._expr_unary()
        while self.lx.peek() in (("*", None), ("/", None)):
            op = "mul" if self.lx.next()[0] == "*" else "div"
            left = Expr(op, [left, self._expr_unary()])
        return left

    def _expr_unary(self) -> Expr:
        tok = self.lx.peek()
        if tok == ("!", None):
            self.lx.next()
            return Expr("not", [self._expr_unary()])
        if tok == ("kw", "exists") or (
            tok == ("kw", "not") and self.lx.peek2() == ("kw", "exists")
        ):
            # expression-level [NOT] EXISTS (SPARQL 1.1 17.4.1.4 as an
            # *operand*, e.g. IF(BOUND(?x) && EXISTS { ... }, ...) in
            # batch_queries.rq:561) — distinct from clause-level
            # FILTER EXISTS, which _group handles. The inner group
            # inherits the enclosing GRAPH context (_graph_ctx).
            negated = tok == ("kw", "not")
            self.lx.next()
            if negated:
                self.lx.expect("kw", "exists")
            return Expr("exists", [self._group(self._graph_ctx), negated])
        if tok == ("(", None):
            return self._expr_primary_paren()
        if (
            tok is not None
            and tok[0] == "kw"
            and tok[1] in _AGG_KEYWORDS
            and self._having_q is not None
            and self.lx.peek2() == ("(", None)
        ):
            # aggregate call inside a HAVING constraint: becomes a hidden
            # aggregate column on the query, referenced here by alias
            q = self._having_q
            fn = self.lx.next()[1]
            alias = f"_hv{len(q.aggregates)}"
            # dodge user names: aggregate aliases, GROUP BY keys, and
            # projected vars are all columns of the aggregated frame
            # (review finding: a ?_hvN group key produced a duplicate
            # column)
            taken = (
                {a.alias for a in q.aggregates}
                | set(q.group_by)
                | set(q.projections)
            )
            while alias in taken:
                alias += "_"
            q.aggregates.append(_parse_agg_call(self, fn, alias))
            q.hidden_aliases.append(alias)
            return Expr("term", [Term("var", alias)])
        if tok is not None and tok[0] == "kw" and tok[1] in _FN_KEYWORDS:
            fn = tok[1]
            self.lx.next()
            self.lx.expect("(")
            args = []
            if self.lx.peek() != (")", None):
                args.append(self._expr())
                while self.lx.peek() == (",", None):
                    self.lx.next()
                    args.append(self._expr())
            self.lx.expect(")")
            return Expr("call", [fn, args])
        return Expr("term", [self._term()])


# ---------------------------------------------------------------------------
# dataset + planner
# ---------------------------------------------------------------------------


# the object metadata columns a relation may store, in _META_FIELDS order
_OBJECT_META_COLS = ("object_kind", "object_datatype", "object_lang")


class WideColumn(NamedTuple):
    """One stored column of the wide rows and the constant metadata of
    the triples it holds: the asserted column ``name`` (or the field of
    the ``annotation`` struct) carries ``predicate``'s objects."""

    name: str
    predicate: str
    kind: str
    dt: str | None
    lang: str | None
    graph: str | None = None


@dataclass(frozen=True)
class WideRelation:
    """The stored wide rows the engine's triples and annotations are
    exploded from: one live row per subject, one column per asserted
    predicate and the annotation struct (``quoted`` + one field per
    annotation predicate) on the same row. ``annotation`` is empty when
    the annotations relation is not served from these rows."""

    rows: DataFrame
    asserted: tuple[WideColumn, ...]
    # one row's asserted triples: the array of structs (predicate, object,
    # object_kind, object_datatype, object_lang, ...) the triples relation
    # explodes
    triples: Column
    annotation: tuple[WideColumn, ...] = ()

    def column_of(self, predicate: str) -> WideColumn | None:
        """The one default-graph column holding ``predicate``'s triples,
        or None when there is none or more than one."""
        hits = [c for c in self.asserted if c.predicate == predicate]
        if len(hits) == 1 and hits[0].graph is None:
            return hits[0]
        return None

    def field_of(self, predicate: str) -> WideColumn | None:
        """The one annotation field holding ``predicate``, or None."""
        hits = [c for c in self.annotation if c.predicate == predicate]
        return hits[0] if len(hits) == 1 else None


@dataclass
class SparqlDataset:
    """The two relations SPARQL-star patterns match against. ``triples``
    needs (subject, predicate, object[, graph]); ``annotations`` needs
    (q_s, q_p, q_o, predicate, object[, graph]) — quoted-subject rows.

    ``wide``, when set, holds the stored rows ``triples`` and
    ``annotations`` are exploded from; star patterns then read those rows
    directly. ``quads`` is the rest of both relations — the HTTP-loaded
    graphs, aligned to their schemas — so a star reads the wide rows
    plus its generic form over ``quads`` only."""

    triples: DataFrame
    annotations: DataFrame | None = None
    wide: WideRelation | None = None
    quads: "SparqlDataset | None" = None
    _subjects_unique: bool | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def subjects_unique(self) -> bool:
        """True when no two live wide rows share a subject and no loaded
        quad (or quoted triple) is about a wide-row subject — the
        condition under which a multi-pattern star matches within one
        row. ``sanitize_for_iri`` is lossy, so paths ``a/b.py`` and
        ``a_b.py`` can mint one subject. One aggregate over the subjects,
        stopped at the first duplicate and cached for the dataset's
        lifetime (two concurrent first callers may both run it; they
        store the same answer)."""
        if self._subjects_unique is None:
            subj = self.wide.rows.select("subject")
            if self.quads is not None:
                q = self.quads.triples.select("subject")
                if self.quads.annotations is not None:
                    q = q.union(
                        self.quads.annotations.select(F.col("q_s").alias("subject"))
                    )
                subj = subj.union(q.distinct())
            dup = (
                subj.where(F.col("subject").isNotNull())
                .groupBy("subject")
                .count()
                .where(F.col("count") > 1)
            )
            self._subjects_unique = dup.isEmpty()
        return self._subjects_unique


def dataset_from_engine(engine) -> SparqlDataset:
    triples, av, wide = engine.serving_views()
    # keep stored term metadata when present: DATATYPE()/LANG() serve
    # from it (e.g. the flagship mapping's xsd:decimal confidence)
    extra = [c for c in ("object_datatype", "object_lang") if c in av.columns]
    anns = av.select(
        F.col("quoted.s").alias("q_s"),
        F.col("quoted.p").alias("q_p"),
        F.col("quoted.o").alias("q_o"),
        "predicate",
        "object",
        *extra,
    )
    return SparqlDataset(triples=triples, annotations=anns, wide=wide)


def with_loaded(lake: SparqlDataset, loaded: SparqlDataset) -> SparqlDataset:
    """``lake`` plus HTTP-loaded graphs: each relation is the union of
    both, null-filled by name (both carry the same lexical + metadata
    column model, so the union is exact). ``loaded`` is also kept as
    ``quads``, in the union's schemas, so a star that reads the lake's
    wide rows adds the loaded triples alone."""

    def aligned(df: DataFrame, to: DataFrame) -> DataFrame:
        return df.select(*[
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in to.schema
        ])

    tri = lake.triples.unionByName(loaded.triples, allowMissingColumns=True)
    ann, q_ann = lake.annotations, loaded.annotations
    if ann is None:
        ann = q_ann
    elif q_ann is None:
        q_ann = ann.where(F.lit(False))
    else:
        ann = ann.unionByName(q_ann, allowMissingColumns=True)
        q_ann = aligned(q_ann, ann)
    quads = SparqlDataset(aligned(loaded.triples, tri), q_ann)
    return SparqlDataset(tri, ann, wide=lake.wide, quads=quads)


def dataset_from_quads(df: DataFrame) -> SparqlDataset:
    """Adapter for the Turtle reader's quad relation (sinks/turtle.py).

    Both RDF-star annotation spellings land in the annotations relation:

    * subject position — ``<< s p o >> ap ao`` (the repo's own TriG-star
      export shape) maps row-for-row;
    * object position — ``r rdf:reifies <<( s p o )>>`` plus companion
      triples ``r ap ao`` (the reference engine's pyoxigraph export shape,
      rdf_star_etl_yarrrml.py:496-503) desugars per RDF 1.2 reification:
      each companion triple about the reifier becomes an annotation of the
      quoted triple. Only the ``rdf:reifies`` predicate desugars (review
      finding: gating on object kind alone misfiled ordinary statements).

    The structural ``rdf:reifies`` link and the reifier-subject companions
    move out of the asserted relation (mirroring dataset_from_engine, where
    annotations never appear as triples), so asserted rows never carry a
    NULL object. A quoted OBJECT under any other predicate (``ex:claims
    << s p o >>``) stays asserted with the object rendered as its
    serialized triple term ``<< s p o >>`` — visible to queries by string
    equality rather than silently dropped.
    """
    cols = df.columns
    asserted = df
    anns = None
    if "subject_kind" in cols:
        okind = (
            F.coalesce(F.col("object_kind"), F.lit(""))
            if "object_kind" in cols
            else F.lit("")
        )
        not_quoted_subj = F.coalesce(F.col("subject_kind"), F.lit("")) != "quoted"
        has_quoted_cols = "object_kind" in cols and "q_s" in cols
        is_reifies = (
            (okind == "quoted") & (F.col("predicate") == _RDF_REIFIES)
            if has_quoted_cols
            else F.lit(False)
        )
        asserted = df.where(not_quoted_subj & ~is_reifies)
        if has_quoted_cols:
            # non-reifies quoted objects stay asserted with the object
            # rendered as the serialized triple term (never silently lost)
            asserted = asserted.withColumn(
                "object",
                F.when(
                    okind == "quoted",
                    quoted_column(F.col("q_s"), F.col("q_p"), F.col("q_o")),
                ).otherwise(F.col("object")),
            )
        if "q_s" in cols:
            gcols = ["graph"] if "graph" in cols else []
            anns = df.where(F.col("subject_kind") == "quoted").select(
                "q_s", "q_p", "q_o", "predicate", "object", *gcols
            )
            # one bounded driver check per dataset build: plain Turtle
            # loads (no reifier rows) skip the desugaring joins entirely
            if has_quoted_cols and df.where(is_reifies).limit(1).count():
                # rename to break same-lineage ambiguity: asserted and the
                # reifier side both descend from df
                reifiers = df.where(not_quoted_subj & is_reifies).select(
                    F.col("subject").alias("_r"),
                    F.col("q_s").alias("_r_qs"),
                    F.col("q_p").alias("_r_qp"),
                    F.col("q_o").alias("_r_qo"),
                    *(F.col(g).alias(f"_r_{g}") for g in gcols),
                )
                cond = F.col("subject") == F.col("_r")
                for g in gcols:
                    cond = cond & F.col(g).eqNullSafe(F.col(f"_r_{g}"))
                companion_anns = asserted.join(reifiers, cond, "inner").select(
                    F.col("_r_qs").alias("q_s"),
                    F.col("_r_qp").alias("q_p"),
                    F.col("_r_qo").alias("q_o"),
                    "predicate",
                    "object",
                    *gcols,
                )
                anns = anns.unionByName(companion_anns)
                asserted = asserted.join(reifiers, cond, "left_anti")
    return SparqlDataset(triples=asserted, annotations=anns)


_COUNTER = [0]


def _fresh(prefix: str) -> str:
    """Internal column name. The '#' cannot appear in a SPARQL variable
    name, so a marker can never collide with (or be mistaken for) a user
    variable like ?_one5 (review finding: name-based filters stripped
    legal user variables)."""
    _COUNTER[0] += 1
    return f"_{prefix}#{_COUNTER[0]}"


# matches every internal column (_fresh markers and the _meta#<var> term
# metadata columns); the single definition keeps the SELECT * and
# DESCRIBE * filters from drifting
_MARKER_RE = re.compile(r"^_\w+#\w+$")

# Term metadata. Each variable whose metadata the query inspects
# (_meta_vars_of) carries ONE column, _meta#<var>, a struct of what its
# binding sites know: ``kind`` (iri/blank/literal/triple), ``dt`` (the
# datatype) and ``lang`` (the language tag); a field is null when
# unknown. Values stay lexical strings, so the metadata column is never
# a join key: _join merges it field by field, UNION
# null-fills it, and _term_meta is the one place that reads it.
_META_PREFIX = "_meta#"
_META_FIELDS = ("kind", "dt", "lang")
_META_TYPE = "struct<kind:string,dt:string,lang:string>"


def _meta_name(var: str) -> str:
    return _META_PREFIX + var


def _meta_struct(
    kind: Column, dt: Column | None = None, lang: Column | None = None
) -> Column:
    return F.struct(
        *[
            (F.lit(None) if c is None else c).cast("string").alias(name)
            for c, name in zip((kind, dt, lang), _META_FIELDS)
        ]
    )




def _merge_sites(sites: list[tuple]) -> Column:
    """One ``_meta#<var>`` struct from the var's sites, field by field:
    the first site that knows a field wins."""
    fields = ([x for x in f if x is not None] for f in zip(*sites))
    return _meta_struct(*(F.coalesce(*xs) if xs else None for xs in fields))


def _merged_metas(sites: list[tuple]) -> dict[str, Column]:
    """``_meta#<var>`` → its struct, from ``(pattern index, var, fields)``
    sites merged in pattern order (the order the join chain merges them)."""
    by_var: dict[str, list[tuple]] = {}
    for _, v, fields in sorted(sites, key=lambda x: x[0]):
        by_var.setdefault(v, []).append(fields)
    return {_meta_name(v): _merge_sites(fs) for v, fs in by_var.items()}


def _bound_columns(cols: dict[str, Term], sites: list[tuple]) -> list[str]:
    """The columns ``_Planner._bind`` returns for one pattern: its vars in
    position order, then one metadata column per var with a site."""
    return [
        *dict.fromkeys(t.value for t in cols.values() if t.kind == "var"),
        *dict.fromkeys(_meta_name(v) for v, _ in sites),
    ]


def _term_cond(c: Column, term: Term) -> Column:
    """The filter a constant pattern term puts on its position's column."""
    if term.kind == "iri":
        return c == term.value
    if term.kind in ("literal", "num"):
        return c == str(term.value)
    if term.kind == "quoted":
        # a GROUND nested quoted term matches by its serialized string
        # form — the representation both the Turtle reader's depth-2
        # desugaring and dataset_from_quads' quoted-object rendering
        # store; _serialize_quoted rejects variables inside loudly
        # (destructuring the serialized string per-var is the storage
        # model's documented limit)
        return c == _serialize_quoted(term)
    raise SparqlUnsupported(f"term {term.kind} in pattern")


def _pattern_terms(tp: TriplePattern) -> dict[str, Term]:
    """Relation column → pattern term: the triples relation's positions,
    or the annotations relation's for a quoted-triple subject."""
    if tp.s.kind == "quoted":
        qs, qp, qo = tp.s.value
        cols = {"q_s": qs, "q_p": qp, "q_o": qo}
    else:
        cols = {"subject": tp.s}
    cols.update(predicate=tp.p, object=tp.o)
    if tp.graph is not None:
        cols["graph"] = tp.graph
    return cols


class _JoinShape(NamedTuple):
    shared: list  # the join keys
    fuzzy: list  # the keys that may be unbound on either side
    columns: list  # the output column order
    maybe: set  # the output's maybe-unbound vars


def _join_shape(
    left: list[str], lmaybe: set[str], right: list[str], rmaybe: set[str], how: str
) -> _JoinShape:
    """What ``_Planner._join`` makes of two frames with these columns —
    its one definition of keys, output order and boundness, so a plan
    that skips building the frames (``_Planner._bgp``) agrees with it.
    A plain equi join (no maybe-unbound key) puts its sorted keys first,
    as Spark's USING join does; every other join keeps the left columns
    in place. The right side adds the columns the left lacks (a metadata
    column both carry merges into the left's)."""
    shared = _shared_vars(left, right)
    fuzzy = [c for c in shared if c in lmaybe or c in rmaybe]
    extra = [c for c in right if c not in left]
    if shared and not fuzzy:
        columns = shared + [c for c in left if c not in shared] + extra
    else:
        columns = left + extra
    if not shared:
        maybe = set(lmaybe) | set(rmaybe)
    elif how == "left":
        # left-side values pass through; right-only vars are unbound on
        # non-matching rows
        maybe = set(lmaybe) | (set(right) - set(left))
    else:
        maybe = {
            c
            for c in set(lmaybe) | set(rmaybe)
            if (c not in shared) or (c in lmaybe and c in rmaybe)
        }
    return _JoinShape(shared, fuzzy, columns, maybe)


def _stored_meta(columns: list[str], values: tuple) -> tuple:
    """``values`` (one per ``_OBJECT_META_COLS`` entry), with None where
    a relation of these columns stores no such metadata."""
    return tuple(
        x if c in columns else None for c, x in zip(_OBJECT_META_COLS, values)
    )


def _shared_vars(
    left: DataFrame | list[str], right: DataFrame | list[str]
) -> list[str]:
    """Join keys of two solution frames (or column lists): their common
    columns except the metadata ones (joining on those would require
    datatype equality where the engine's lexical join semantics don't)."""
    lc = left if isinstance(left, list) else left.columns
    rc = right if isinstance(right, list) else right.columns
    return sorted(c for c in set(lc) & set(rc) if not c.startswith(_META_PREFIX))


def _expr_var_name(e: "Expr") -> str | None:
    """The variable name when the expression is a bare var term."""
    if (
        isinstance(e, Expr)
        and e.op == "term"
        and e.args[0].kind == "var"
    ):
        return e.args[0].value
    return None


def _expr_const_term(e: "Expr") -> "Term | None":
    """The parsed Term when the expression is a non-var constant."""
    if isinstance(e, Expr) and e.op == "term" and e.args[0].kind != "var":
        return e.args[0]
    return None


# builtins whose RESULT kind is fixed by the function itself — the
# shape sniff misfiles e.g. a minted mailto: IRI as 'literal' (review
# finding: isIRI(IRI(STR(?m))) disagreed with isIRI(?m))
_CALL_RESULT_KIND = {
    "iri": "iri", "uri": "iri", "triple": "triple",
    "strdt": "literal", "strlang": "literal", "str": "literal",
    "concat": "literal", "ucase": "literal", "lcase": "literal",
    "substr": "literal", "strbefore": "literal", "strafter": "literal",
    "replace": "literal", "encode_for_uri": "literal",
}


def _strdt_call(e: "Expr") -> "tuple[str, Term] | None":
    """(fn, constant second arg) when e is STRDT/STRLANG with a
    metadata-valid constant datatype/tag."""
    if isinstance(e, Expr) and e.op == "call":
        fn, args = e.args
        if (
            fn in ("strdt", "strlang")
            and len(args) == 2
            and args[1].op == "term"
            and _strdt_meta_ok(fn, args[1].args[0])
        ):
            return fn, args[1].args[0]
    return None


class _TermMeta(NamedTuple):
    kind: Column  # iri | blank | literal | triple; null for a null value
    dt: Column  # effective datatype; null for non-literals
    lang: Column  # effective language tag ("" untagged); null for non-literals
    declared: Column  # the datatype known before the xsd:string default


def _term_meta(df: DataFrame | None, e: "Expr", c: Column | None) -> _TermMeta:
    """THE effective term metadata of expression ``e``, compiled to the
    string column ``c`` over ``df`` — what DATATYPE, LANG, the is*
    tests, isNUMERIC, sameTerm, TRIPLE and the DISTINCT key all read.

    Precedence: a constant knows its metadata from the parse; a
    STRDT/STRLANG call constructs it; a bare variable reads its
    _meta#<var> column and a kind-minting builtin fixes its result kind;
    the rest is a shape sniff (serialized triple term > bnode > IRI of a
    known scheme > literal). RDF 1.1 effective metadata: every literal
    has a datatype — plain ⇒ xsd:string, tagged ⇒ rdf:langString — and
    an untagged literal's tag is "". ``declared`` is the datatype known
    before that default, which isNUMERIC consults before the lexical
    sniff."""
    from ..serving import _IRI_RE

    t = _expr_const_term(e)
    if t is not None:
        if t.kind == "num":
            meta = ("literal", numeric_datatype(t.value), "")
        elif t.kind == "literal":
            dt = t.datatype or (_RDF_LANGSTRING if t.lang else _XSD_STRING)
            meta = ("literal", dt, t.lang or "")
        else:
            meta = ("triple" if t.kind == "quoted" else "iri", None, None)
        kind, dt, lang = (F.lit(x).cast("string") for x in meta)
        return _TermMeta(kind, dt, lang, dt)
    nn = c.isNotNull()
    sc = _strdt_call(e)
    if sc is not None:
        fn, arg = sc
        tag = str(arg.value)
        dt = F.when(nn, F.lit(tag if fn == "strdt" else _RDF_LANGSTRING))
        lang = F.when(nn, F.lit(tag if fn == "strlang" else ""))
        return _TermMeta(F.when(nn, F.lit("literal")), dt, lang, dt)
    var = _expr_var_name(e)
    if var is not None and df is not None and _meta_name(var) in df.columns:
        m = F.col(_meta_name(var))
        skind, sdt, slang = (m[f] for f in _META_FIELDS)
    else:
        skind = sdt = slang = F.lit(None).cast("string")
    minted = _CALL_RESULT_KIND.get(e.args[0]) if e.op == "call" else None
    if minted is not None:
        kind = F.when(nn, F.lit(minted))
    else:
        kind = F.when(
            nn,
            F.coalesce(
                skind,
                F.when(sdt.isNotNull() | slang.isNotNull(), F.lit("literal")),
                F.when(c.rlike(TRIPLE_TERM_RE), F.lit("triple")),
                F.when(c.startswith("_:"), F.lit("blank")),
                F.when(c.rlike(_IRI_RE.pattern), F.lit("iri")),
                F.lit("literal"),
            ),
        )
    is_lit = kind == "literal"
    dt = F.when(
        is_lit,
        F.coalesce(
            sdt,
            F.when(slang.isNotNull(), F.lit(_RDF_LANGSTRING)),
            F.lit(_XSD_STRING),
        ),
    )
    lang = F.when(is_lit, F.coalesce(slang, F.lit("")))
    return _TermMeta(kind, dt, lang, sdt)


def _strdt_meta_ok(fn: str, t: Term) -> bool:
    """Is this CONSTANT term a valid datatype/tag for STRDT/STRLANG?
    (One predicate for the value compile and _term_meta: two copies
    could disagree, unbinding the value while still attaching
    metadata.)"""
    kind = t.kind
    if fn == "strdt":
        return kind == "iri"
    return kind == "literal" and str(t.value) != ""


def _path_nullable(p: Path) -> bool:
    """Can the path match the zero-length (empty) route? NB ``plus`` is
    nullable when its CHILD is — one ALP iteration of a nullable child
    matches the empty route, making (q?)+ ≡ q* (review finding)."""
    if p.op in ("star", "opt"):
        return True
    if p.op in ("inv", "plus"):
        return _path_nullable(p.items[0])
    if p.op == "alt":
        return any(_path_nullable(i) for i in p.items)
    if p.op == "seq":
        return all(_path_nullable(i) for i in p.items)
    return False


def _seeded_closure(
    edges: DataFrame, seed: str, bfs_rounds: int = 32
) -> DataFrame:
    """(seed, y) pairs for every y reachable from ``seed`` in ≥1 step.

    Semi-naive BFS: each round steps only the NEWLY discovered frontier
    (O(reachable edges) total work), per-round eager ``localCheckpoint``
    keeping the plan O(1). A graph deeper than ``bfs_rounds`` switches to
    SEEDED pointer-doubling rather than raising — BFS round count is
    diameter-bound, and deep chains are plausible in lineage data (review
    finding). The doubled hop relation is restricted to pairs whose
    source is already known-reachable (sound: every node on a seed path
    is itself reachable), so the fallback costs O(|reachable component|²)
    worst case, never an all-pairs closure of the whole graph (review
    finding), and covers depth ``bfs_rounds + ~2^20`` (hop lengths double
    per round — the coverages add, they don't multiply)."""
    # Materialize the edge relation ONCE: for a compound subpath, e.g.
    # (ex:p/ex:q)+, ``edges`` is a join+distinct plan that every BFS
    # round (and every fallback _from_reach call) would otherwise
    # re-embed and re-execute — up to ~50 redundant shuffles of the same
    # relation (review finding).
    edges = edges.localCheckpoint(eager=True)
    reach = (
        edges.where(F.col("subject") == seed)
        .select("object")
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = reach

    def _done() -> DataFrame:
        return reach.select(F.lit(seed).alias("subject"), F.col("object"))

    for _ in range(bfs_rounds):
        if not frontier.limit(1).count():
            return _done()
        stepped = (
            frontier.alias("_f")
            .join(edges.alias("_e"), F.col("_f.object") == F.col("_e.subject"))
            .select(F.col("_e.object").alias("object"))
            .distinct()
        )
        frontier = stepped.subtract(reach).localCheckpoint(eager=True)
        reach = reach.unionByName(frontier).localCheckpoint(eager=True)
    if not frontier.limit(1).count():
        return _done()  # converged exactly on the last budgeted round

    def _from_reach() -> DataFrame:
        # base edges leaving a known-reachable node (reach is maintained
        # distinct at every assignment — no extra shuffle here)
        return edges.join(
            reach.withColumnRenamed("object", "subject"),
            "subject",
            "left_semi",
        )

    hop = _from_reach().distinct().localCheckpoint(eager=True)
    n = reach.count()
    for _ in range(20):
        reach = (
            reach.unionByName(hop.select("object"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = reach.count()
        if n_new == n:
            return _done()
        n = n_new
        hop = (
            hop.alias("_f")
            .join(hop.alias("_e"), F.col("_f.object") == F.col("_e.subject"))
            .select(
                F.col("_f.subject").alias("subject"),
                F.col("_e.object").alias("object"),
            )
            .unionByName(hop)
            .unionByName(_from_reach())
            .distinct()
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        "seeded property-path closure did not converge "
        f"within depth ~{bfs_rounds} + 2^20"
    )


def _transitive_closure(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Distinct (subject, object) pairs connected by ≥1 step of ``edges``.
    Thin shim over operators.graph.transitive_closure (the shared
    pointer-doubling kernel with per-round eager localCheckpoint and
    raise-on-nonconvergence) — evaluation is EAGER because
    ArbitraryLengthPath has no fixed-depth Catalyst plan."""
    from ..operators.graph import transitive_closure

    return transitive_closure(
        edges, src="subject", dst="object", max_iterations=max_iter
    ).select(F.col("src").alias("subject"), F.col("dst").alias("object"))


def _compat_cond(shared: list[str], fuzzy: list[str]):
    """SPARQL compatible-mapping join condition over frames aliased _l/_r:
    on ``fuzzy`` (maybe-unbound) columns an unbound (null) value is
    compatible with anything; always-bound columns use plain equality."""
    cond = None
    for c in shared:
        lc, rc = F.col(f"_l.{c}"), F.col(f"_r.{c}")
        t = (
            (lc.isNull() | rc.isNull() | (lc == rc))
            if c in fuzzy
            else (lc == rc)
        )
        cond = t if cond is None else cond & t
    return cond


def _meta_vars_of(q: SelectQuery) -> set[str]:
    """Variables whose term METADATA the query inspects — the direct-var
    arguments of DATATYPE(?v) / LANG(?v) anywhere in the query (filters,
    BINDs, select expressions, HAVING, aggregate expressions, EXISTS
    groups, subqueries). Collected up front so pattern matching knows to
    carry the stored metadata columns for exactly these vars."""
    out: set[str] = set()

    def walk_expr(e) -> None:
        if not isinstance(e, Expr):
            return
        if e.op == "call":
            fn, args = e.args
            if (
                fn
                in (
                    "datatype",
                    "lang",
                    "isiri",
                    "isuri",
                    "isliteral",
                    "isblank",
                    "isnumeric",
                    # sameTerm compares term identity (dt/lang/kind);
                    # TRIPLE validates subject/predicate kinds — both
                    # need every direct-var operand's stored metadata
                    "sameterm",
                    "triple",
                )
                and args
            ):
                for a in args:
                    if (
                        isinstance(a, Expr)
                        and a.op == "term"
                        and a.args[0].kind == "var"
                    ):
                        out.add(a.args[0].value)
            for a in args:
                walk_expr(a)
            return
        if e.op == "exists":
            walk_group(e.args[0])
            return
        if e.op == "in":
            walk_expr(e.args[0])
            for x in e.args[1]:
                walk_expr(x)
            return
        for a in e.args:
            walk_expr(a)

    def walk_group(g: Group) -> None:
        for p in g.patterns:
            if isinstance(p, Optional_):
                walk_group(p.group)
            elif isinstance(p, UnionOp):
                for sub in p.groups:
                    walk_group(sub)
            elif isinstance(p, MinusOp):
                walk_group(p.group)
            elif isinstance(p, Bind):
                walk_expr(p.expr)
            elif isinstance(p, SubSelect):
                out.update(_meta_vars_of(p.query))
        for f in g.filters:
            if isinstance(f, ExistsFilter):
                walk_group(f.group)
            else:
                walk_expr(f)

    walk_group(q.where)
    for b in q.select_binds:
        walk_expr(b.expr)
    for h in q.having:
        walk_expr(h)
    for a in q.aggregates:
        if a.expr is not None:
            walk_expr(a.expr)
    for ob in q.order_by:
        if ob and isinstance(ob[0], Expr):
            walk_expr(ob[0])
    return out


class _Member(NamedTuple):
    idx: int  # position in the BGP: the generic plan's join order
    tp: TriplePattern
    col: WideColumn | None  # its stored column (None: variable predicate)


class _Star(NamedTuple):
    members: list  # _Member: asserted patterns on the star's subject
    annotations: list  # _Member: quoted-triple patterns on a member's triple


class _StarParts(NamedTuple):
    pre: list  # Column filters on the wide row
    t_name: str | None  # the exploded triple column, when a member needs it
    explode: Column | None
    post: list  # Column filters on the exploded triple
    binds: dict  # var -> value Column
    sites: list  # (bgp index, var, metadata fields) per site


# star positions that read one column per row, whichever member binds them
_ROW_POSITIONS = ("subject", "q_s", "q_p", "q_o")


def _all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _pattern_vars_of(tp: TriplePattern) -> set[str]:
    return {t.value for t in _pattern_terms(tp).values() if t.kind == "var"}


class _Planner:
    def __init__(
        self,
        ds: SparqlDataset,
        from_graphs: list[str] | None = None,
        from_named: list[str] | None = None,
        meta_vars: set[str] | None = None,
    ):
        self.ds = ds
        # vars whose term metadata the query inspects (_meta_vars_of):
        # only they carry a _meta#<var> column
        self.meta_vars = meta_vars or set()
        self.from_graphs = from_graphs or []
        self.from_named = from_named or []
        # a query with ANY dataset clause uses exactly the declared
        # dataset: FROM-only ⇒ no named graphs, FROM NAMED-only ⇒ empty
        # default graph (review finding: emptiness of one list was read
        # as "unrestricted", merging datasets across subqueries)
        self.has_dataset = bool(self.from_graphs or self.from_named)

    def _dataset_scope(self, df: DataFrame, tp: TriplePattern) -> DataFrame:
        """FROM / FROM NAMED dataset semantics: a pattern outside GRAPH
        matches the default graph (= union of FROM graphs when given);
        a GRAPH pattern matches named graphs (restricted to FROM NAMED
        when given). Plain graph-column filters — Catalyst pushes them
        into the scan."""
        if not self.has_dataset:
            return df
        scope = self.from_named if tp.graph is not None else self.from_graphs
        if not scope:
            return df.where(F.lit(False))  # declared dataset has no such part
        if "graph" not in df.columns:
            return df.where(F.lit(False))  # dataset has no named graphs
        return df.where(F.col("graph").isin(scope))

    def _bind_meta(self, df: DataFrame, var: str, expr: Expr) -> DataFrame:
        """The metadata a BIND's expression fixes, so sameTerm/DATATYPE/
        isNUMERIC on the BIND var agree with the expression used inline:
        all of it for a constant or a STRDT/STRLANG literal, only the
        result kind for a kind-minting builtin (isNUMERIC(?v) after
        BIND(STR(?n) AS ?v) still sniffs the lexical). The value column
        stays the lexical form."""
        if var not in self.meta_vars:
            return df
        if _expr_const_term(expr) is not None or _strdt_call(expr) is not None:
            m = _term_meta(df, expr, F.col(var))
            meta = _meta_struct(m.kind, m.dt, m.lang)
        elif expr.op == "call" and expr.args[0] in _CALL_RESULT_KIND:
            meta = _meta_struct(F.lit(_CALL_RESULT_KIND[expr.args[0]]))
        else:
            return df
        return df.withColumn(
            _meta_name(var), F.when(F.col(var).isNotNull(), meta)
        )

    # one triple pattern → DF with one column per variable
    def _pattern_df(self, tp: TriplePattern) -> DataFrame:
        if tp.s.kind == "quoted":
            return self._quoted_pattern_df(tp)
        if tp.p.kind == "path":
            return self._path_pattern_df(tp)
        return self._graph_bind(self._dataset_scope(self.ds.triples, tp), tp)

    def _quoted_pattern_df(self, tp: TriplePattern) -> DataFrame:
        if self.ds.annotations is None:
            raise SparqlUnsupported(
                "quoted-triple pattern but dataset has no annotations relation"
            )
        return self._graph_bind(self._dataset_scope(self.ds.annotations, tp), tp)

    def _graph_bind(self, df: DataFrame, tp: TriplePattern) -> DataFrame:
        cols = _pattern_terms(tp)
        if tp.graph is not None:
            if "graph" not in df.columns:
                df = df.withColumn("graph", F.lit(None).cast("string"))
            if tp.graph.kind == "var":
                # GRAPH ?g ranges over NAMED graphs only: default-graph
                # rows (null graph) must not bind ?g — and a null key
                # would silently drop rows in downstream equi-joins
                # (review finding)
                df = df.where(F.col("graph").isNotNull())
        return self._bind(df, cols)

    # -- property paths ----------------------------------------------------

    def _path_pattern_df(self, tp: TriplePattern) -> DataFrame:
        """SPARQL 1.1 property-path pattern → (subject, object) bindings.

        Semantics follow the spec's algebra: ``link``/``inv``/``seq``/
        ``alt`` keep BAG semantics (one row per route, like the
        triple-pattern translation), while ``plus``/``star``/``opt``
        (ArbitraryLengthPath / ZeroOrOnePath) are DISTINCT pair sets.
        Zero-length paths relate every node of the scoped graph to itself
        (approximated as the distinct subjects ∪ objects) — plus any
        bound endpoint term, which the spec relates to itself even when
        absent from the graph. Bound endpoints are threaded down the path
        algebra as SEEDS (through inv/alt and across nullable seq
        prefixes/suffixes), so nested closures both honour the reflexive
        case (review finding: ``ex:X (ex:p*|ex:q) ?o`` must bind
        ?o = ex:X) and, for top closures, evaluate as a seeded frontier
        search over reachable edges instead of an all-pairs closure."""
        if tp.graph is not None and tp.graph.kind == "var":
            raise SparqlUnsupported("property path inside GRAPH ?var")
        rel = self._dataset_scope(self.ds.triples, tp)
        if tp.graph is not None:
            if "graph" not in rel.columns:
                rel = rel.where(F.lit(False))
            else:
                rel = rel.where(F.col("graph") == tp.graph.value)
        rel = rel.select("subject", "predicate", "object")

        def seed(t: Term) -> str | None:
            return str(t.value) if t.kind in ("iri", "literal", "num") else None

        s_c, o_c = seed(tp.s), seed(tp.o)
        pairs = self._path_pairs(
            tp.p.value, rel, rs=s_c, ro=o_c, zs=s_c, zo=o_c
        )
        return self._bind(pairs, {"subject": tp.s, "object": tp.o})

    def _path_pairs(
        self,
        p: Path,
        rel: DataFrame,
        rs: str | None = None,
        ro: str | None = None,
        zs: str | None = None,
        zo: str | None = None,
    ) -> DataFrame:
        """Evaluate a path to (subject, object) pairs over ``rel``.

        Two seed kinds, both optional per endpoint: ``rs``/``ro``
        RESTRICT — the element's own endpoint IS the pattern's bound
        endpoint (first/last seq element, every alt branch), so pairs not
        anchored there are provably filtered later and links/closures may
        prune or frontier-search early; ``zs``/``zo`` only AUGMENT
        zero-length sets — they also cross nullable seq boundaries, where
        restriction would be unsound (the inner element's subjects come
        from the previous element's objects, not just the seed — review
        finding on the first cut of this code)."""
        if p.op == "link":
            out = rel.where(F.col("predicate") == p.items[0])
            if rs is not None:
                out = out.where(F.col("subject") == rs)
            if ro is not None:
                out = out.where(F.col("object") == ro)
            return out.select("subject", "object")
        if p.op == "neg":
            # negated property set !(f1|..|^r1|..): forward edges whose
            # predicate ∉ {f}, unioned with REVERSED edges whose predicate
            # ∉ {r} (SPARQL 1.1 §9.1 — the set splits on the ^ marker).
            # An all-forward set (incl. the empty !()) has no reverse arm.
            fwd, rev = p.items
            parts: list[DataFrame] = []
            if fwd or not rev:
                out = rel
                if fwd:
                    out = out.where(~F.col("predicate").isin(list(fwd)))
                if rs is not None:
                    out = out.where(F.col("subject") == rs)
                if ro is not None:
                    out = out.where(F.col("object") == ro)
                parts.append(out.select("subject", "object"))
            if rev:
                out = rel.where(~F.col("predicate").isin(list(rev)))
                # result pair is (triple.object, triple.subject)
                if rs is not None:
                    out = out.where(F.col("object") == rs)
                if ro is not None:
                    out = out.where(F.col("subject") == ro)
                parts.append(
                    out.select(
                        F.col("object").alias("subject"),
                        F.col("subject").alias("object"),
                    )
                )
            res = parts[0]
            for extra in parts[1:]:
                res = res.unionByName(extra)
            return res
        if p.op == "inv":
            c = self._path_pairs(p.items[0], rel, rs=ro, ro=rs, zs=zo, zo=zs)
            return c.select(
                F.col("object").alias("subject"), F.col("subject").alias("object")
            )
        if p.op == "seq":
            items = p.items
            cur = None
            for idx, elt in enumerate(items):
                r = self._path_pairs(
                    elt,
                    rel,
                    rs=rs if idx == 0 else None,
                    ro=ro if idx == len(items) - 1 else None,
                    zs=zs
                    if all(_path_nullable(e) for e in items[:idx])
                    else None,
                    zo=zo
                    if all(_path_nullable(e) for e in items[idx + 1 :])
                    else None,
                )
                if cur is None:
                    cur = r
                else:
                    cur = (
                        cur.alias("_pl")
                        .join(
                            r.alias("_pr"),
                            F.col("_pl.object") == F.col("_pr.subject"),
                        )
                        .select(
                            F.col("_pl.subject").alias("subject"),
                            F.col("_pr.object").alias("object"),
                        )
                    )
            return cur
        if p.op == "alt":
            out = self._path_pairs(p.items[0], rel, rs, ro, zs, zo)
            for nxt in p.items[1:]:
                out = out.unionByName(
                    self._path_pairs(nxt, rel, rs, ro, zs, zo)
                )
            return out
        if p.op in ("plus", "star", "opt"):
            # the child feeds a closure: restricting it would drop the
            # non-seed hops, so it gets no seeds at all
            base = self._path_pairs(p.items[0], rel).distinct()
            if p.op == "plus" and _path_nullable(p.items[0]):
                # one ALP iteration of a nullable child matches the empty
                # route, so (q?)+ ≡ q* (review finding)
                p = Path("star", p.items)
            zseeds = sorted({s for s in (zs, zo, rs, ro) if s is not None})
            zero_seeds = (
                rel.sparkSession.createDataFrame(
                    [(v, v) for v in zseeds], "subject string, object string"
                )
                if zseeds
                else None
            )
            if p.op == "opt":
                out = base.unionByName(self._path_nodes(rel))
                if zero_seeds is not None:
                    out = out.unionByName(zero_seeds)
                return out.distinct()
            if rs is not None or ro is not None:
                # a bound endpoint turns the all-pairs closure into a
                # frontier search over only the reachable edges — and the
                # zero-length set collapses to the seed pairs (the final
                # _bind filters this endpoint to the seed anyway)
                fwd = rs is not None
                edges = (
                    base
                    if fwd
                    else base.select(
                        F.col("object").alias("subject"),
                        F.col("subject").alias("object"),
                    )
                )
                reached = _seeded_closure(edges, rs if fwd else ro)
                closure = reached if fwd else reached.select(
                    F.col("object").alias("subject"),
                    F.col("subject").alias("object"),
                )
                if p.op == "star":
                    closure = closure.unionByName(zero_seeds).distinct()
                return closure
            closure = _transitive_closure(base)
            if p.op == "star":
                closure = closure.unionByName(self._path_nodes(rel))
                if zero_seeds is not None:
                    closure = closure.unionByName(zero_seeds)
                closure = closure.distinct()
            return closure
        raise SparqlUnsupported(f"property-path op {p.op!r}")

    def _path_nodes(self, rel: DataFrame) -> DataFrame:
        """Zero-length path pairs: every node of the scoped graph paired
        with itself."""
        nodes = rel.select("subject").unionByName(
            rel.select(F.col("object").alias("subject"))
        ).distinct()
        return nodes.select("subject", F.col("subject").alias("object"))

    def _values_df(self, iv: InlineData) -> tuple[DataFrame, set[str]]:
        """VALUES inline data → a tiny literal relation (terms rendered
        to the same lexical strings patterns match on, plus each
        constant's _term_meta for the vars the query inspects). Catalyst
        broadcasts it into the enclosing join; UNDEF cells are nulls and
        mark their variable maybe-unbound so the compatible-mapping join
        path engages."""

        def row(terms: list) -> Column:
            cells = []
            for v, t in zip(iv.vars, terms):
                value = None if t is None else str(t.value)
                cells.append(F.lit(value).cast("string").alias(v))
                if v in self.meta_vars:
                    if t is None:
                        meta = F.lit(None).cast(_META_TYPE)
                    else:
                        m = _term_meta(None, Expr("term", [t]), None)
                        meta = _meta_struct(m.kind, m.dt, m.lang)
                    cells.append(meta.alias(_meta_name(v)))
            return F.struct(*cells)

        # an empty block still needs the row type: one all-UNDEF template
        # row over a zero-row range
        rows = [row(r) for r in iv.rows] or [row([None] * len(iv.vars))]
        vdf = (
            self.ds.triples.sparkSession.range(
                1 if iv.rows else 0, numPartitions=1
            ).select(F.inline(F.array(*rows)))
        )
        maybe = {
            v
            for i, v in enumerate(iv.vars)
            if any(r[i] is None for r in iv.rows)
        }
        return vdf, maybe

    def _bind(self, df: DataFrame, cols: dict[str, Term]) -> DataFrame:
        select: dict[str, Column] = {}
        for col, term in cols.items():
            if term.kind == "var":
                if term.value in select:  # repeated var in one pattern
                    df = df.where(F.col(col) == select[term.value])
                else:
                    select[term.value] = F.col(col)
            else:
                df = df.where(_term_cond(F.col(col), term))
        if not select:  # pure existence pattern: ONE solution if any match
            return df.limit(1).select(F.lit(1).alias(_fresh("one")))
        stored = _stored_meta(df.columns, tuple(map(F.col, _OBJECT_META_COLS)))
        skind = F.col("subject_kind") if "subject_kind" in df.columns else None
        sites = self._meta_sites(cols, F.col, stored, skind)
        out = {**select, **_merged_metas([(0, v, f) for v, f in sites])}
        return df.select(*[out[c].alias(c) for c in _bound_columns(cols, sites)])

    def _meta_sites(
        self,
        cols: dict[str, Term],
        col_of,
        stored: tuple,
        subject_kind: Column | None,
    ) -> list[tuple[str, tuple]]:
        """``(var, (kind, dt, lang))`` per term-metadata site of one
        pattern, for the vars the query inspects, in merge order (the
        first known field wins). ``col_of(position)`` is the position's
        value column; ``stored`` the relation's object metadata columns
        (None where it has none).

        The object position carries the relation's stored fields. The
        RDF model fixes what the other positions can hold, so their kind
        needs no lexical sniff (a bare stored bnode label 'genid1' or a
        mailto: IRI in subject position would sniff 'literal', breaking
        isBLANK/TRIPLE/sameTerm on subject vars). Subjects are IRIs or
        bnodes (quoted subjects live in the annotations relation): a
        stored ``subject_kind`` wins when the relation carries it;
        otherwise anything that isn't an absolute IRI (or a serialized
        triple term, for q_o-sourced joins) must be a bnode label.
        Predicates are always IRIs; graph labels use the same
        iri-or-bnode inference as subjects — the N-Quads reader accepts
        '_:g' graph labels and stores them bare, so pinning 'iri' would
        misclassify them (review finding)."""
        sites: list[tuple[str, tuple]] = []
        o = cols.get("object")
        if (
            o is not None
            and o.kind == "var"
            and o.value in self.meta_vars
            and any(x is not None for x in stored)
        ):
            sites.append((o.value, stored))
        for pos, always_iri in (
            ("subject", False), ("q_s", False), ("graph", False),
            ("predicate", True), ("q_p", True),
        ):
            t = cols.get(pos)
            if t is None or t.kind != "var" or t.value not in self.meta_vars:
                continue
            c = col_of(pos)
            if always_iri:
                kind = F.when(c.isNotNull(), F.lit("iri"))
            else:
                inferred = (
                    F.when(c.rlike(TRIPLE_TERM_RE), F.lit("triple"))
                    .when(c.rlike(_ABS_IRI_RE), F.lit("iri"))
                    .otherwise(F.lit("blank"))
                )
                if pos == "subject" and subject_kind is not None:
                    inferred = F.coalesce(subject_kind, inferred)
                kind = F.when(c.isNotNull(), inferred)
            sites.append((t.value, (kind, None, None)))
        return sites

    def _join(
        self,
        left: DataFrame | None,
        lmaybe: set[str],
        right: DataFrame,
        rmaybe: set[str],
        how: str,
    ) -> tuple[DataFrame, set[str]]:
        """SPARQL compatible-mapping join with boundness tracking.

        ``lmaybe``/``rmaybe`` = variables that MAY be unbound (null) on
        each side — introduced only by OPTIONAL, UNION branch alignment,
        and BIND. Shared always-bound vars use a plain equi join (the
        common BGP case keeps its shuffle-friendly plan); shared
        maybe-unbound vars use the SPARQL compatibility condition
        (unbound matches anything) with COALESCE on output — an inner
        equi join would silently drop those solutions on null keys.
        A metadata column both sides carry is no key: the right copy
        joins under a temporary name and merges into the left's."""
        if left is None:
            return right, set(rmaybe)
        shape = _join_shape(left.columns, lmaybe, right.columns, rmaybe, how)
        shared = shape.shared
        both_meta = {
            c: c + "#r"
            for c in right.columns
            if c.startswith(_META_PREFIX) and c in left.columns
        }
        if both_meta:
            right = right.withColumnsRenamed(both_meta)
        if not shared:
            if how == "left":
                # OPTIONAL sharing no vars: left join on TRUE — outer
                # solutions survive an empty optional side (a crossJoin
                # would wrongly return 0 rows)
                out = left.join(right, F.lit(True), "left")
            else:
                out = left.crossJoin(right)
        elif not shape.fuzzy:
            out = left.join(right, on=shared, how=how)
        else:
            la, ra = left.alias("_l"), right.alias("_r")
            j = la.join(ra, _compat_cond(shared, shape.fuzzy), how)
            cols = [
                (
                    F.coalesce(F.col(f"_l.{c}"), F.col(f"_r.{c}")).alias(c)
                    if c in shared
                    else F.col(f"_l.{c}").alias(c)
                )
                for c in left.columns
            ] + [
                F.col(f"_r.{c}").alias(c)
                for c in right.columns
                if c not in shared
            ]
            out = j.select(*cols)
        for c, rc in both_meta.items():
            # field by field; the left side's known fields win
            merged = [
                F.coalesce(F.col(c)[f], F.col(rc)[f]).alias(f)
                for f in _META_FIELDS
            ]
            out = out.withColumn(c, F.struct(*merged)).drop(rc)
        return out.select(*shape.columns), shape.maybe

    def _group(self, g: Group) -> tuple[DataFrame, set[str]]:
        df: DataFrame | None = None
        maybe: set[str] = set()
        bgp: list[TriplePattern] = []  # the basic graph pattern being read
        for p in g.patterns:
            if isinstance(p, TriplePattern):
                bgp.append(p)
                continue
            if bgp:
                df, maybe = self._bgp(df, maybe, bgp)
                bgp = []
            if isinstance(p, Optional_):
                # pass only the vars ACTUALLY maybe-unbound in the
                # optional side's own rows: the right side's vars become
                # unbound on NON-matching rows, which _join's left-branch
                # output maybe-set already records — feeding all right
                # columns into the join condition instead would turn
                # every OPTIONAL into a non-equi (nested-loop) join
                # (review finding)
                rdf, rmaybe = self._group(p.group)
                df, maybe = self._join(df, maybe, rdf, rmaybe, "left")
            elif isinstance(p, Bind):
                certain = p.expr.op == "term" and p.expr.args[0].kind != "var"
                if df is None:
                    # leading BIND (Postman 2.3/6.4): a one-row anchor frame
                    # the following patterns equi-join (broadcast) against
                    df = self.ds.triples.sparkSession.range(1).select(
                        self._bind_col(p.expr, None).cast("string").alias(p.var)
                    )
                    df = self._bind_meta(df, p.var, p.expr)
                else:
                    expr, df, marks = self._lower_exists(p.expr, df, maybe)
                    df = df.withColumn(p.var, self._bind_col(expr, df))
                    if marks:
                        df = df.drop(*marks)
                    df = self._bind_meta(df, p.var, expr)
                if not certain:  # a computed expression may evaluate null
                    maybe.add(p.var)
            elif isinstance(p, MinusOp):
                if df is None:
                    raise SparqlUnsupported("MINUS as the first pattern")
                sub, smaybe = self._group(p.group)
                shared = _shared_vars(df, sub)
                if shared:
                    fuzzy = [c for c in shared if c in maybe or c in smaybe]
                    if not fuzzy:
                        # always-bound shared vars: compatibility =
                        # equality and the domain overlap is guaranteed —
                        # a plain anti join (shuffle-friendly, broadcasts
                        # small right sides)
                        df = df.join(sub, on=shared, how="left_anti")
                    else:
                        # spec §8.3: remove μ when ∃μ' compatible AND
                        # dom(μ)∩dom(μ') ≠ ∅ — the overlap term keeps
                        # solutions whose only shared vars are unbound
                        la, ra = df.alias("_l"), sub.alias("_r")
                        overlap = F.lit(False)
                        for c in shared:
                            overlap = overlap | (
                                F.col(f"_l.{c}").isNotNull()
                                & F.col(f"_r.{c}").isNotNull()
                            )
                        df = la.join(
                            ra,
                            _compat_cond(shared, fuzzy) & overlap,
                            "left_anti",
                        )
                # no shared vars: disjoint domains — MINUS removes nothing
            elif isinstance(p, InlineData):
                vdf, vmaybe = self._values_df(p)
                df, maybe = self._join(df, maybe, vdf, vmaybe, "inner")
            elif isinstance(p, SubSelect):
                # the subquery inherits the outer FROM / FROM NAMED
                # dataset unless it declares ANY dataset clause of its
                # own — a query with a dataset clause uses only its own
                # dataset, so the two clause kinds must not be merged
                # independently (review finding)
                if p.query.from_graphs or p.query.from_named:
                    sfrom, snamed = p.query.from_graphs, p.query.from_named
                else:
                    sfrom, snamed = self.from_graphs, self.from_named
                sdf, smaybe = _select_frame(
                    _Planner(self.ds, sfrom, snamed, self.meta_vars),
                    p.query,
                    keep_meta=True,
                )
                df, maybe = self._join(df, maybe, sdf, smaybe, "inner")
            elif isinstance(p, UnionOp):
                u, umaybe = self._wide_union(p.groups) or self._union(p.groups)
                df, maybe = self._join(df, maybe, u, umaybe, "inner")
            else:
                raise SparqlUnsupported(f"pattern {type(p).__name__}")
        if bgp:
            df, maybe = self._bgp(df, maybe, bgp)
        if df is None:
            raise SparqlParseError("empty group pattern")
        for f in g.filters:
            if isinstance(f, ExistsFilter):
                sub, smaybe = self._group(f.group)
                shared = _shared_vars(df, sub)
                if not shared:
                    raise SparqlUnsupported(
                        "EXISTS group shares no variables with the outer "
                        "pattern (uncorrelated EXISTS)"
                    )
                how = "left_anti" if f.negated else "left_semi"
                fuzzy = [c for c in shared if c in maybe or c in smaybe]
                if not fuzzy:
                    df = df.join(sub, on=shared, how=how)
                else:
                    la, ra = df.alias("_l"), sub.alias("_r")
                    # semi/anti joins keep only left columns, names intact
                    df = la.join(ra, _compat_cond(shared, fuzzy), how)
            else:
                expr, df, marks = self._lower_exists(f, df, maybe)
                df = df.where(self._expr_col(expr, df))
                if marks:
                    df = df.drop(*marks)
        return df, maybe

    def _union(self, groups: list[Group]) -> tuple[DataFrame, set[str]]:
        """UNION: each branch's frame, null-filled to the sorted union of
        their columns; a var a branch doesn't bind may be unbound."""
        parts = [self._group(sub) for sub in groups]
        types = {f.name: f.dataType for part, _ in parts for f in part.schema}
        allcols = sorted(types)
        u = None
        umaybe: set[str] = set()
        for part, pm in parts:
            umaybe |= pm | (set(allcols) - set(part.columns))
            aligned = part.select(
                *[
                    (F.col(c) if c in part.columns
                     else F.lit(None).cast(types[c])).alias(c)
                    for c in allcols
                ]
            )
            u = aligned if u is None else u.unionByName(aligned)
        return u, umaybe

    # -- stars over the wide rows ------------------------------------------
    #
    # The engine stores one row per subject with one column per predicate
    # and the annotation struct on the same row (SparqlDataset.wide). A
    # star — the patterns of a BGP that share a subject — then matches
    # within one row: a filtered projection of the rows instead of one
    # exploded triples scan per pattern and a self join. Each star keeps
    # the generic plan's answers exactly: the same solutions, metadata
    # columns and column order. Anything the layout cannot answer from
    # one row takes the generic path.

    def _bgp(
        self, df: DataFrame | None, maybe: set[str], bgp: list[TriplePattern]
    ) -> tuple[DataFrame, set[str]]:
        """Join a basic graph pattern into ``df``: from the wide rows when
        every pattern belongs to a wide-path star, else pattern by
        pattern. The wide form is reordered to the columns the pattern
        chain would produce (SELECT * shows them)."""
        stars = self._wide_stars(bgp)
        if stars is None:
            for tp in bgp:
                df, maybe = self._join(df, maybe, self._pattern_df(tp), set(), "inner")
            return df, maybe
        order, mb = (df.columns, set(maybe)) if df is not None else (None, set())
        for tp in bgp:
            right = self._pattern_columns(tp)
            if order is None:
                order = right
            else:
                shape = _join_shape(order, mb, right, set(), "inner")
                order, mb = shape.columns, shape.maybe
        df, maybe = self._join(df, maybe, self._stars_df(stars), set(), "inner")
        return df.select(*order), maybe

    def _pattern_columns(self, tp: TriplePattern) -> list[str]:
        """The columns ``_pattern_df(tp)`` has, without building it."""
        rel = self.ds.annotations if tp.s.kind == "quoted" else self.ds.triples
        cols = _pattern_terms(tp)
        stored = _stored_meta(rel.columns, (F.lit(None),) * len(_OBJECT_META_COLS))
        return _bound_columns(cols, self._meta_sites(cols, F.col, stored, None))

    def _wide_stars(self, bgp: list[TriplePattern]) -> list[_Star] | None:
        """The BGP's stars when the wide rows answer every pattern, else
        None. A star qualifies when each member has a constant predicate
        the layout stores in exactly one default-graph column, or is the
        star's one variable-predicate member, or is a quoted-triple
        pattern on the star's subject with a stored annotation predicate
        (each row's quoted triple is about that row). Outside any GRAPH
        clause and dataset clause only, and a star of two or more
        patterns only while subjects are unique (one row per subject)."""
        w = self.ds.wide
        if w is None or self.has_dataset:
            return None
        stars: dict[Term, _Star] = {}
        for i, tp in enumerate(bgp):
            if tp.graph is not None or not _pattern_vars_of(tp):
                return None
            if tp.s.kind == "quoted":
                # the quoted triple is about the row storing it: it joins
                # the star on its subject (or stands alone)
                qs = tp.s.value[0]
                field_ = w.field_of(tp.p.value) if tp.p.kind == "iri" else None
                if field_ is None or qs.kind not in ("var", "iri"):
                    return None
                star = stars.setdefault(qs, _Star([], []))
                star.annotations.append(_Member(i, tp, field_))
                continue
            if tp.s.kind not in ("var", "iri"):
                return None
            if tp.p.kind == "iri":
                col = w.column_of(tp.p.value)
                if col is None:
                    return None
            elif tp.p.kind != "var":
                return None
            else:
                col = None
            star = stars.setdefault(tp.s, _Star([], []))
            if col is None and any(m.col is None for m in star.members):
                return None  # one exploded member per star
            star.members.append(_Member(i, tp, col))
        multi = any(len(st.members) + len(st.annotations) > 1 for st in stars.values())
        if multi and not self.ds.subjects_unique():
            return None
        return list(stars.values())

    def _star_parts(self, star: _Star) -> _StarParts:
        """A star as expressions over one wide row: the row filter, the
        optional explode of the variable-predicate member (with the
        filters on its columns), each var's value column, and every
        term-metadata site ``(bgp index, var, fields)``."""
        w = self.ds.wide
        bound: dict[str, Column] = {}
        source: dict[str, object] = {}  # var -> the position it was bound at
        pre: list[Column] = []
        post: list[Column] = []
        sites: list[tuple[int, str, tuple]] = []
        t_name, explode = None, None

        def bind(m: _Member, pos: dict[str, Column], stored: tuple, conds) -> None:
            """Match one member's terms against its position columns. A
            constant predicate is implied by the column and has none."""
            cols = _pattern_terms(m.tp)
            for p, term in cols.items():
                c = pos.get(p)
                if c is None:
                    continue
                key = p if p in _ROW_POSITIONS else (m.idx, p)
                if term.kind != "var":
                    conds.append(_term_cond(c, term))
                elif term.value not in bound:
                    bound[term.value], source[term.value] = c, key
                elif source[term.value] == key:
                    conds.append(c.isNotNull())  # the join drops null keys
                else:
                    conds.append(c == bound[term.value])
            for v, site in self._meta_sites(cols, pos.get, stored, None):
                sites.append((m.idx, v, site))

        def consts(c: WideColumn) -> tuple:
            return tuple(
                F.lit(x) if x is not None else F.lit(None).cast("string")
                for x in (c.kind, c.dt, c.lang)
            )

        subject = F.col("subject")
        for m in star.members:
            if m.col is not None:
                obj = F.col(m.col.name)
                pre.append(obj.isNotNull())
                pos = {"subject": subject, "object": obj}
                bind(m, pos, _stored_meta(self.ds.triples.columns, consts(m.col)), pre)
        ann = F.col("annotation")
        for m in star.annotations:
            obj = ann.getField(m.col.name)
            q = ann.getField("quoted")
            pre.append(obj.isNotNull())
            pos = {
                "q_s": q.getField("s"), "q_p": q.getField("p"),
                "q_o": q.getField("o"), "object": obj,
            }
            bind(m, pos, _stored_meta(self.ds.annotations.columns, consts(m.col)), pre)
        for m in star.members:
            if m.col is None:
                # the member matches every triple of the row: explode the
                # layout columns the way the triples relation does
                t_name = _fresh("t")
                t = F.col(t_name)
                explode = F.explode(w.triples)
                pos = {
                    "subject": subject, "predicate": t.getField("predicate"),
                    "object": t.getField("object"),
                }
                meta = tuple(t.getField(c) for c in _OBJECT_META_COLS)
                bind(m, pos, _stored_meta(self.ds.triples.columns, meta), post)
        return _StarParts(pre, t_name, explode, post, bound, sites)

    def _star_rows(self, parts: _StarParts) -> DataFrame:
        """The wide rows a star's parts select (exploded when needed)."""
        df = self.ds.wide.rows
        if parts.pre:
            df = df.where(_all(parts.pre))
        if parts.explode is not None:
            df = df.withColumn(parts.t_name, parts.explode)
            if parts.post:
                df = df.where(_all(parts.post))
        return df

    def _stars_df(self, stars: list[_Star]) -> DataFrame:
        """The BGP's solutions from its stars: one filtered projection of
        the wide rows per star, joined on shared vars, with each var's
        metadata merged across the BGP in pattern order. With loaded
        quads, each star is its wide rows plus its generic form over the
        quads alone, before the stars join: a solution may pair one
        star's lake row with another star's loaded triple."""
        quads = (
            None if self.ds.quads is None
            else _Planner(self.ds.quads, meta_vars=self.meta_vars)
        )
        out: DataFrame | None = None
        sites: list[tuple[int, str, str]] = []
        for star in stars:
            parts = self._star_parts(star)
            # one metadata column per (pattern, var): the pattern's sites
            # merged, as the generic _bind merges them
            by_site: dict[tuple[int, str], list[tuple]] = {}
            for i, v, site in parts.sites:
                by_site.setdefault((i, v), []).append(site)
            names = {k: _fresh("site") for k in by_site}
            frame = self._star_rows(parts).select(
                *[c.alias(v) for v, c in parts.binds.items()],
                *[_merge_sites(fs).alias(names[k]) for k, fs in by_site.items()],
            )
            if quads is not None:
                q = quads._star_generic(star, names)
                frame = frame.unionByName(q.select(*frame.columns))
            out, _ = self._join(out, set(), frame, set(), "inner")
            sites += [(i, v, n) for (i, v), n in names.items()]
        metas = _merged_metas([
            (i, v, tuple(F.col(n).getField(f) for f in _META_FIELDS))
            for i, v, n in sites
        ])
        temps = {n for _, _, n in sites}
        return out.select(
            *[c for c in out.columns if c not in temps],
            *[m.alias(c) for c, m in metas.items()],
        )

    def _star_generic(self, star: _Star, names: dict) -> DataFrame:
        """A star's patterns joined one by one over this planner's
        relations, each pattern's ``_meta#<var>`` column renamed to
        ``names[(pattern index, var)]``."""
        out: DataFrame | None = None
        for m in sorted(star.members + star.annotations, key=lambda m: m.idx):
            renames = {_meta_name(v): n for (i, v), n in names.items() if i == m.idx}
            pdf = self._pattern_df(m.tp).withColumnsRenamed(renames)
            out, _ = self._join(out, set(), pdf, set(), "inner")
        return out

    def _wide_union(self, groups: list[Group]) -> tuple[DataFrame, set[str]] | None:
        """A UNION whose branches are each one wide-path star (no
        variable predicate, no FILTER) as ONE scan: every row yields the
        array of the branch solutions it satisfies, exploded — the
        construction the triples relation itself uses."""
        if self.ds.quads is not None:
            return None
        branches = []
        for sub in groups:
            if sub.filters or not all(isinstance(x, TriplePattern) for x in sub.patterns):
                return None
            stars = self._wide_stars(sub.patterns) if sub.patterns else None
            if stars is None or len(stars) != 1 or any(
                m.col is None for m in stars[0].members
            ):
                return None
            parts = self._star_parts(stars[0])
            values = {**parts.binds, **_merged_metas(parts.sites)}
            branches.append((_all(parts.pre), values))
        types = {
            c: (_META_TYPE if c.startswith(_META_PREFIX) else "string")
            for _, values in branches
            for c in values
        }
        allcols = sorted(types)
        t_name = _fresh("u")
        solutions = F.array(*[
            F.when(cond, F.struct(*[
                values.get(c, F.lit(None)).cast(types[c]).alias(c) for c in allcols
            ]))
            for cond, values in branches
        ])
        u = self.ds.wide.rows.select(
            F.explode(F.array_compact(solutions)).alias(t_name)
        ).select(*[F.col(t_name).getField(c).alias(c) for c in allcols])
        umaybe = {c for _, values in branches for c in allcols if c not in values}
        return u, umaybe

    def _lower_exists(
        self, e: Expr, df: DataFrame, maybe: set[str]
    ) -> tuple[Expr, DataFrame, list[str]]:
        """Rewrite expression-level ``[NOT] EXISTS`` nodes (SPARQL 1.1
        17.4.1.4 used as an operand, e.g. the
        ``IF(BOUND(?prev) && EXISTS { ... }, "unchanged", "added")``
        change-classification BINDs of batch_queries.rq:561) into boolean
        marker COLUMNS so the surrounding expression compiles to one
        Catalyst Column. Each node becomes a semi-join/anti-join pair on
        the shared variables unioned back together — preserving outer
        multiplicities exactly without row ids — with the marker holding
        the node's truth value per row. Returns the rewritten expression,
        the augmented frame, and the marker columns to drop afterwards."""
        markers: list[str] = []

        def walk(node: Expr) -> Expr:
            nonlocal df
            if node.op == "exists":
                grp, negated = node.args
                sub, smaybe = self._group(grp)
                shared = _shared_vars(df, sub)
                if not shared:
                    raise SparqlUnsupported(
                        "EXISTS group shares no variables with the outer "
                        "pattern (uncorrelated EXISTS)"
                    )
                mk = _fresh("ex")
                cand = sub.select(*shared).distinct()
                fuzzy = [c for c in shared if c in maybe or c in smaybe]
                if not fuzzy:
                    # distinct keys ⇒ one left join preserves multiplicity
                    # and evaluates the outer frame ONCE (the semi+anti
                    # union below would scan it twice per EXISTS node)
                    hit = _fresh("hit")
                    df = (
                        df.join(
                            cand.withColumn(hit, F.lit(True)),
                            on=shared,
                            how="left",
                        )
                        .withColumn(
                            mk,
                            F.coalesce(F.col(hit), F.lit(False))
                            != F.lit(bool(negated)),
                        )
                        .drop(hit)
                    )
                else:
                    # maybe-unbound vars need the non-equi compatibility
                    # condition: one outer row may match many distinct
                    # candidates, so only semi/anti keeps multiplicity
                    la, ra = df.alias("_l"), cand.alias("_r")
                    cond = _compat_cond(shared, fuzzy)
                    pos = la.join(ra, cond, "left_semi").withColumn(
                        mk, F.lit(not negated)
                    )
                    neg = la.join(ra, cond, "left_anti").withColumn(
                        mk, F.lit(bool(negated))
                    )
                    df = pos.unionByName(neg)
                markers.append(mk)
                return Expr("term", [Term("var", mk)])
            if node.op == "call":
                fn, args = node.args
                return Expr("call", [fn, [walk(a) for a in args]])
            if node.op == "term":
                return node
            if node.op == "in":
                # args = [left Expr, [member Exprs], negated bool]
                left_e, items, negated = node.args
                return Expr(
                    "in", [walk(left_e), [walk(x) for x in items], negated]
                )
            return Expr(node.op, [walk(a) for a in node.args])

        return walk(e), df, markers

    # -- expressions ------------------------------------------------------

    def _bind_col(self, e: Expr, df: DataFrame | None) -> Column:
        """The value column a BIND stores. A numeric CONSTANT keeps its
        ORIGINAL lexical form — the numeric compile F.lit(int("01"))
        renders "1", a DIFFERENT term, so sameTerm(?x, 01) after
        BIND(01 AS ?x) compared false (review finding). The engine's
        vars are lexical strings throughout; numeric use sites try_cast
        exactly as they do for pattern-bound values."""
        t = _expr_const_term(e)
        if t is not None and t.kind == "num":
            return F.lit(str(t.value))
        return self._expr_col(e, df)

    def _expr_col(self, e: Expr, df: DataFrame) -> Column:
        if e.op == "term":
            t = e.args[0]
            if t.kind == "var":
                return F.col(t.value)
            if t.kind == "num":
                integer = numeric_datatype(t.value) == XSD + "integer"
                return F.lit(int(t.value) if integer else float(t.value))
            if t.kind in ("literal", "iri"):
                return F.lit(str(t.value))
            if t.kind == "quoted":
                # an explicit quoted-triple TERM in expression position
                # (FILTER(?t = << s p o >>), IN lists, BIND) compares
                # against the engine's serialized quoted-term form
                return F.lit(_serialize_quoted(t))
            raise SparqlUnsupported(f"expr term {t.kind}")
        if e.op in ("and", "or"):
            a, b = (self._expr_col(x, df) for x in e.args)
            return a & b if e.op == "and" else a | b
        if e.op == "not":
            return ~self._expr_col(e.args[0], df)
        if e.op == "call":
            fn, args = e.args
            cols = [self._expr_col(a, df) for a in args]
            if fn == "regex":
                # pattern/flags must be literal terms: rlike takes a plan
                # literal, and silently using a variable NAME as the regex
                # would match the wrong rows
                lits = _literal_args(args[1:], "regex pattern/flags")
                pat = lits[0]
                if len(lits) > 1 and "i" in lits[1]:
                    pat = f"(?i){pat}"
                return cols[0].rlike(pat)
            if fn == "bound":
                return cols[0].isNotNull()
            if fn == "strstarts":
                return cols[0].startswith(cols[1])
            if fn == "strends":
                return cols[0].endswith(cols[1])
            if fn == "contains":
                return cols[0].contains(cols[1])
            if fn == "strlen":
                return F.length(cols[0])
            if fn == "floor":
                return F.floor(cols[0].try_cast("double"))
            if fn == "abs":
                return F.abs(cols[0].try_cast("double"))
            if fn == "round":
                return F.round(cols[0].try_cast("double"))
            if fn == "ucase":
                return F.upper(cols[0])
            if fn == "lcase":
                return F.lower(cols[0])
            if fn == "concat":
                return F.concat(*[c.cast("string") for c in cols])
            if fn == "coalesce":
                return F.coalesce(*cols)
            if fn == "if":
                return F.when(cols[0], cols[1]).otherwise(cols[2])
            if fn == "now":
                return F.current_timestamp()
            if fn in ("strbefore", "strafter"):
                # SPARQL 17.4.3.9/.10: "" when there is no match; an
                # empty pattern yields "" (STRBEFORE) / the whole string
                # (STRAFTER). instr() is 1-based, 0 = absent. A null
                # (unbound) operand propagates null — SPARQL error →
                # unbound — instead of falling into the "" branch
                # (review finding).
                a, b = cols[0].cast("string"), cols[1].cast("string")
                null_in = a.isNull() | b.isNull()
                pos = F.when(F.length(b) == 0, F.lit(1)).otherwise(
                    F.instr(a, b)
                )
                if fn == "strbefore":
                    return (
                        F.when(null_in, F.lit(None).cast("string"))
                        .when(pos > 0, F.substring(a, F.lit(1), pos - 1))
                        .otherwise(F.lit(""))
                    )
                return (
                    F.when(null_in, F.lit(None).cast("string"))
                    .when(
                        pos > 0,
                        F.substring(a, pos + F.length(b), F.length(a)),
                    )
                    .otherwise(F.lit(""))
                )
            if fn == "replace":
                # regex-based per 17.4.3.15; pattern/replacement must be
                # plan literals (same rule as regex())
                lits = _literal_args(args[1:], "REPLACE pattern/replacement")
                pat, rep = lits[0], lits[1]
                if len(lits) > 2 and "i" in lits[2]:
                    pat = f"(?i){pat}"
                return F.regexp_replace(cols[0].cast("string"), pat, rep)
            if fn == "substr":
                # XPath fn:substring positional semantics (17.4.3.3):
                # characters at 1-based positions p with
                # start <= p < start + length — a non-positive start
                # truncates from position 1 with correspondingly fewer
                # characters, unlike Spark's substring(0→1, neg→from-end)
                # (review finding)
                s = cols[0].cast("string")
                start = cols[1].cast("int")
                start_eff = F.greatest(start, F.lit(1))
                if len(cols) > 2:
                    end = start + cols[2].cast("int")  # exclusive
                    len_eff = F.greatest(end - start_eff, F.lit(0))
                else:
                    len_eff = F.length(s)
                return F.substring(s, start_eff, len_eff)
            if fn in ("year", "month", "day", "hours", "minutes", "seconds"):
                # try_to_timestamp: a non-dateTime lexical yields null
                # (SPARQL error → unbound) instead of an ANSI-mode cast
                # exception aborting the whole job (review finding)
                ts = F.try_to_timestamp(cols[0])
                getter = {
                    "year": F.year, "month": F.month, "day": F.dayofmonth,
                    "hours": F.hour, "minutes": F.minute, "seconds": F.second,
                }[fn]
                return getter(ts)
            if fn in ("isiri", "isuri", "isliteral", "isblank"):
                # the _term_meta kind: a pure shape sniff would disagree
                # with DATATYPE on STRDT-constructed literals, and a
                # serialized triple term is none of iri/literal/blank
                s = cols[0].cast("string")
                want = {
                    "isblank": "blank",
                    "isiri": "iri",
                    "isuri": "iri",
                }.get(fn, "literal")
                return F.when(
                    s.isNotNull(), _term_meta(df, args[0], s).kind == want
                )
            if fn == "isnumeric":
                # 17.4.2.4: "has a NUMERIC DATATYPE" — a declared datatype
                # decides ("42"^^xsd:string is not numeric); without one
                # the lexical sniff applies
                s = cols[0].cast("string")
                dtv = _term_meta(df, args[0], s).declared
                return F.when(
                    dtv.isNotNull(), dtv.isin(*_XSD_NUMERIC_TYPES)
                ).otherwise(s.rlike(_NUMBER_LEX_RE))
            if fn == "encode_for_uri":
                # url_encode is Java form-encoding; XPath fn:encode-for-uri
                # differs on three characters: space → %20 (not '+'),
                # '~' is unreserved (must pass through), '*' is reserved
                # (must become %2A) — review finding
                enc = F.url_encode(cols[0].cast("string"))
                enc = F.regexp_replace(enc, r"\+", "%20")
                enc = F.regexp_replace(enc, "%7E", "~")
                return F.regexp_replace(enc, r"\*", "%2A")
            if fn in ("md5", "sha1", "sha256", "sha384", "sha512"):
                s = cols[0].cast("string")
                if fn == "md5":
                    return F.md5(s)
                if fn == "sha1":
                    return F.sha1(s)
                return F.sha2(s, int(fn[3:]))
            if fn == "ceil":
                return F.ceil(cols[0].try_cast("double"))
            if fn == "sameterm":
                # exact TERM equality: lexical string equality AND
                # null-safe equality of the _term_meta kind and EFFECTIVE
                # datatype/lang, constants included — STRDT("a", xsd:token)
                # and plain "a" are different terms, as the DISTINCT key
                # treats them. Deliberately no numeric value-dispatch
                # ("1" and "01" are different terms even though = would
                # compare them equal).
                sa, sb = cols[0].cast("string"), cols[1].cast("string")
                # a numeric CONSTANT compares by its ORIGINAL lexical
                # form, not the compiled value literal — F.lit(int("01"))
                # renders "1", which with equal dt legs made
                # sameTerm(?v, 01) true against a stored "1"^^xsd:integer
                # though "01" is a different term (review finding); 1e3
                # likewise rendered "1000.0" and never matched itself
                ta, tb = _expr_const_term(args[0]), _expr_const_term(args[1])
                if ta is not None and ta.kind == "num":
                    sa = F.lit(str(ta.value))
                if tb is not None and tb.kind == "num":
                    sb = F.lit(str(tb.value))
                ma = _term_meta(df, args[0], sa)
                mb = _term_meta(df, args[1], sb)
                same = (
                    (sa == sb)
                    & ma.dt.eqNullSafe(mb.dt)
                    & ma.lang.eqNullSafe(mb.lang)
                    & ma.kind.eqNullSafe(mb.kind)
                )
                # an unbound operand is a type error → unbound, not
                # false (the eqNullSafe legs would otherwise force a
                # definite answer out of a null input)
                return F.when(
                    sa.isNull() | sb.isNull(),
                    F.lit(None).cast("boolean"),
                ).otherwise(same)
            if fn in ("iri", "uri"):
                # IRI(str) mints an IRI from a lexical (its main SPARQL
                # use: IRI(CONCAT(...))). 17.4.2.8 makes an invalid
                # argument a type error → unbound; the validity gate is
                # the general ABSOLUTE-IRI shape (scheme + no forbidden
                # chars), NOT the serving sniff's known-scheme list —
                # the engine stores mailto:/did:/tag: IRIs with kind
                # 'iri', so IRI(STR(?m)) must round-trip them (review
                # finding; the original advisor fix over-narrowed).
                # _CALL_RESULT_KIND pins the result kind to 'iri' so
                # isIRI() agrees with the mint regardless of scheme.
                # No BASE resolution: this front end has no BASE
                # directive, so relative references are errors too.
                # the explicit no-whitespace guard stays alongside the
                # shape regex: Java's '$' matches BEFORE a final line
                # terminator, so "mailto:x\n" would otherwise pass and
                # mint a term the accessors cannot tokenize (review
                # finding on the guard's removal)
                s = cols[0].cast("string")
                return F.when(
                    s.rlike(_ABS_IRI_RE) & ~s.rlike(r"\s"), s
                ).otherwise(F.lit(None).cast("string"))
            if fn == "tz":
                # timezone suffix of the dateTime LEXICAL form: "" when
                # the zone is absent, unbound when the operand is not an
                # xsd:dateTime lexical (17.4.5.8 defines TZ only for
                # dateTime — a shape gate, not try_to_timestamp, which
                # over-accepts dates and space-separated forms; review
                # finding). Null propagates through the rlike.
                s = cols[0].cast("string")
                # shape AND value validity: the regex rejects dates /
                # space-separated forms try_to_timestamp accepts;
                # try_to_timestamp rejects month-13-style lexicals the
                # regex accepts (review finding). XSD's end-of-day
                # lexical T24:00:00[.0...] is valid but unparseable —
                # normalize it to midnight for the validity probe only
                # (third-pass finding).
                probe = F.regexp_replace(
                    s, r"T24:00:00(?=(\.0+)?(Z|[+-]|$))", "T00:00:00"
                )
                return F.when(
                    s.rlike(_DATETIME_LEX_RE)
                    & F.try_to_timestamp(probe).isNotNull(),
                    F.regexp_extract(s, r"(Z|[+-]\d{2}:\d{2})$", 1),
                ).otherwise(F.lit(None).cast("string"))
            if fn in ("uuid", "struuid"):
                u = F.expr("uuid()")
                return F.concat(F.lit("urn:uuid:"), u) if fn == "uuid" else u
            if fn == "rand":
                return F.rand()
            if fn == "istriple":
                return cols[0].cast("string").rlike(TRIPLE_TERM_RE)
            if fn == "triple":
                # the engine's serialized quoted-term form — matches
                # dataset_from_quads' rendering of quoted objects exactly,
                # so TRIPLE(?s,?p,?o) = ?t round-trips with isTRIPLE(?t).
                # quoted_column propagates an unbound arg to unbound
                # (SPARQL error semantics). SPARQL 1.2 §17.4.2.12 requires an
                # IRI/bnode subject and an IRI predicate — enforced via
                # the _term_meta kind, so a whitespace-free literal
                # subject like "42" is error→unbound too. The kind check
                # subsumes a whitespace guard: IRIs/bnodes never carry
                # whitespace, so minted terms stay tokenizable by the
                # accessors.
                s, p, o = (c.cast("string") for c in cols)
                valid_sp = _term_meta(df, args[0], s).kind.isin(
                    "iri", "blank"
                ) & (_term_meta(df, args[1], p).kind == "iri")
                return F.when(valid_sp, quoted_column(s, p, o)).otherwise(
                    F.lit(None).cast("string")
                )
            if fn in ("subject", "predicate", "object"):
                # accessors error → unbound (null) on a non-triple term
                s = cols[0].cast("string")
                return F.when(
                    s.rlike(TRIPLE_TERM_RE),
                    F.regexp_extract(s, TRIPLE_PART_RES[fn], 1),
                ).otherwise(F.lit(None).cast("string"))
            if fn == "str":
                # relations carry plain lexical values: str() is identity
                return cols[0].cast("string")
            if fn in ("lang", "datatype"):
                # 17.4.2.3/.7: the _term_meta effective datatype/tag —
                # null (error → unbound) for non-literals and unbound
                # operands
                s = cols[0].cast("string")
                m = _term_meta(df, args[0], s)
                return F.when(s.isNotNull(), m.lang if fn == "lang" else m.dt)
            if fn in ("strdt", "strlang"):
                # the constructed literal's VALUE is its lexical form;
                # _term_meta reads the declared datatype/tag off the call
                # (and _bind_meta stores it for a BIND var).
                # The datatype/tag must be a CONSTANT of the right kind:
                # a var/computed arg would silently drop the metadata
                # (review finding → loud), and 17.4.2.8/.9 make a
                # literal datatype / IRI-or-empty tag a type error →
                # unbound (review finding: the value bound with
                # nonsense metadata)
                if len(args) != 2:
                    raise SparqlUnsupported(f"{fn}() takes two arguments")
                t = args[1]
                if t.op != "term" or t.args[0].kind == "var":
                    # a var/computed datatype or tag would silently
                    # drop the metadata — reject loudly; any CONSTANT
                    # of the wrong kind is a type error → unbound
                    # (review finding: a constant number hit the loud
                    # path with a misleading message)
                    raise SparqlUnsupported(
                        f"{fn}() needs a constant datatype/tag argument"
                    )
                if not _strdt_meta_ok(fn, t.args[0]):
                    return F.lit(None).cast("string")
                return cols[0].cast("string")
            if fn == "langmatches":
                # RFC 4647 basic filtering (17.4.3.1): '*' matches any
                # non-empty tag; otherwise case-insensitive exact match
                # or extended-subtag prefix (tag "en-US" matches "en")
                tag = F.lower(cols[0].cast("string"))
                rng = F.lower(cols[1].cast("string"))
                return F.when(
                    rng == "*", tag != ""
                ).otherwise(
                    (tag == rng) | tag.startswith(F.concat(rng, F.lit("-")))
                )
        if e.op == "in":
            left_e, items, negated = e.args
            # IN is sugar for `?x = a || ?x = b`: each `=` does its OWN
            # numeric-vs-string dispatch (review finding: a single
            # whole-list numeric flag made `?o IN ("a", 1)` try_cast "a"
            # to NULL on both sides, so the string member could never
            # match). try_cast keeps a non-numeric lexical a SPARQL type
            # error (NULL, error-tolerant through `|`), not an ANSI crash.
            left_num = _numeric_expr(left_e)
            lcol = self._expr_col(left_e, df)
            lnum = lcol.try_cast("double")
            cond = F.lit(False)  # IN () = false; NOT IN () = true
            for x in items:
                v = self._expr_col(x, df)
                if left_num or _numeric_expr(x):
                    cond = cond | (lnum == v.try_cast("double"))
                else:
                    cond = cond | (lcol == v)
            return ~cond if negated else cond
        if e.op in ("add", "sub", "mul", "div"):
            a, b = (self._expr_col(x, df).try_cast("double") for x in e.args)
            return {
                "add": a + b, "sub": a - b, "mul": a * b, "div": a / b,
            }[e.op]
        if e.op in ("=", "!=", "<", ">", "<=", ">="):
            a_raw, b_raw = e.args
            numeric = any(_numeric_expr(x) for x in (a_raw, b_raw))
            a, b = self._expr_col(a_raw, df), self._expr_col(b_raw, df)
            if numeric:
                a, b = a.try_cast("double"), b.try_cast("double")
            return {
                "=": a == b, "!=": a != b, "<": a < b,
                ">": a > b, "<=": a <= b, ">=": a >= b,
            }[e.op]
        raise SparqlUnsupported(f"expression op {e.op}")


def _literal_args(args: list, what: str) -> list[str]:
    """Require each expression to be a literal/number term and return the
    lexical values (shared by regex()/REPLACE(): their patterns become
    plan literals, and silently using a variable NAME as the pattern
    would match the wrong rows)."""
    out = []
    for a in args:
        if a.op != "term" or a.args[0].kind not in ("literal", "num"):
            raise SparqlUnsupported(f"{what} must be literals")
        out.append(str(a.args[0].value))
    return out


_NUMERIC_CALLS = {
    "strlen", "floor", "abs", "round", "year", "month", "day", "hours",
    "minutes", "seconds", "ceil", "rand",
}


def _numeric_expr(e: Expr) -> bool:
    """Does this sub-expression force a numeric comparison? (SPARQL
    operator dispatch picks numeric `<` when either side is numeric;
    our columns are lexical strings, so the cast must be explicit.)"""
    if e.op == "term":
        return e.args[0].kind == "num"
    if e.op in ("add", "sub", "mul", "div"):
        return True
    if e.op == "call":
        return e.args[0] in _NUMERIC_CALLS
    return False


def _order_key(var: str) -> list[Column]:
    """SPARQL orders numerics numerically; our columns are strings, so
    sort by (numeric-cast, raw) — numeric strings order numerically,
    everything else falls back to lexical."""
    c = F.col(var)
    return [F.when(c.rlike(_NUMBER_LEX_RE), c.cast("double")), c]


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def parse_sparql(query: str) -> SelectQuery:
    return _Parser(query).parse()


# SPARQL 1.1 §17.4: a new value per call, so a query that calls one must
# run afresh per request, never from a cached plan or result
_VOLATILE_FNS = frozenset({"rand", "uuid", "struuid", "now", "bnode"})


def calls_volatile(node: Any) -> bool:
    """True when a parsed query (or any node of one) calls RAND, UUID,
    STRUUID, NOW or BNODE anywhere: WHERE, SELECT expressions,
    aggregates, HAVING or a subquery."""
    if isinstance(node, Expr) and node.op == "call":
        if node.args[0] in _VOLATILE_FNS:
            return True
    if dataclasses.is_dataclass(node):
        return any(
            calls_volatile(getattr(node, f.name))
            for f in dataclasses.fields(node)
        )
    if isinstance(node, (list, tuple)):
        return any(calls_volatile(x) for x in node)
    return False


def sparql_df(ds: SparqlDataset, query: str | SelectQuery) -> DataFrame:
    """Compile a SPARQL(-star) SELECT/ASK/CONSTRUCT into a DataFrame.
    SELECT → one column per projected variable; ASK → the WHERE frame
    (use ``to_ask_json``); CONSTRUCT → (subject, predicate, object)."""
    q = parse_sparql(query) if isinstance(query, str) else query
    planner = _Planner(ds, q.from_graphs, q.from_named, _meta_vars_of(q))
    if q.form == "select":
        out, _ = _select_frame(planner, q)
        return out
    if q.having:
        raise SparqlUnsupported(f"HAVING on an {q.form.upper()} query")
    if q.group_by:
        # parsed-then-ignored clauses are wrong answers (review finding)
        raise SparqlUnsupported(f"GROUP BY on a {q.form.upper()} query")
    if q.form == "describe":
        return _describe_df(planner, q)
    df, gmaybe = planner._group(q.where)
    if q.values is not None:
        # trailing VALUES restricts the solutions (review finding: it
        # parsed but was silently ignored, returning unrestricted
        # results; second finding: the group's maybe-set must thread
        # through so OPTIONAL-unbound vars join as compatible mappings)
        vdf, vmaybe = planner._values_df(q.values)
        df, gmaybe = planner._join(df, gmaybe, vdf, vmaybe, "inner")

    if q.form == "ask":
        # LIMIT/OFFSET slice the solution sequence before the boolean is
        # taken — ASK ... LIMIT 0 is false (review finding: the parsed
        # modifiers were silently dropped)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df
    if q.form == "construct":
        # solution modifiers apply to the WHERE solution sequence BEFORE
        # template instantiation (review finding: OFFSET was silently
        # dropped and LIMIT sliced the instantiated triples instead)
        df = _slice_solutions(planner, q, df)
        parts = []
        for tp in q.template:
            def term_col(t: Term) -> Column:
                if t.kind == "var":
                    return F.col(t.value).cast("string")
                if t.kind not in ("iri", "literal", "num"):
                    # a quoted-triple template term would otherwise render
                    # as Python-repr garbage via str() (review finding)
                    raise SparqlUnsupported(
                        f"CONSTRUCT template term kind {t.kind!r}"
                    )
                return F.lit(str(t.value))

            def okind_col(t: Term) -> Column:
                # the serving relations carry lexical strings without a
                # kind column, so a variable object's kind is sniffed by
                # scheme — IMPORTED from serving._IRI_RE so the two sniffs
                # cannot drift (review finding; a narrower https?-only
                # copy once rendered urn:/file: IRIs as quoted literals);
                # constants know their kind from the parse
                if t.kind == "var":
                    return _object_kind_col(F.col(t.value).cast("string"))
                return F.lit("iri" if t.kind == "iri" else "literal")

            parts.append(
                df.select(
                    term_col(tp.s).alias("subject"),
                    term_col(tp.p).alias("predicate"),
                    term_col(tp.o).alias("object"),
                    okind_col(tp.o).alias("object_kind"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.where(
            F.col("subject").isNotNull()
            & F.col("predicate").isNotNull()
            & F.col("object").isNotNull()
        ).distinct()
        return out
    raise SparqlUnsupported(f"query form {q.form!r}")


def _slice_solutions(
    planner: "_Planner", q: SelectQuery, df: DataFrame
) -> DataFrame:
    """Apply ORDER BY / OFFSET / LIMIT to a solution sequence: SELECT's
    last step, and CONSTRUCT's and DESCRIBE's before instantiation. An
    ORDER BY expression compiles as FILTER/BIND expressions do."""
    if q.order_by:
        keys = []
        for item, desc in q.order_by:
            cols = (
                [planner._expr_col(item, df)]
                if isinstance(item, Expr)
                else _order_key(item)
            )
            keys.extend(k.desc() if desc else k.asc() for k in cols)
        df = df.orderBy(*keys)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def _object_kind_col(obj: Column) -> Column:
    """IRI-vs-literal sniff for a lexical object column (shared by the
    CONSTRUCT and DESCRIBE result shapes; the scheme set is imported from
    serving so the sniffs cannot drift)."""
    from ..serving import _IRI_RE

    return (
        F.when(obj.rlike(_IRI_RE.pattern), F.lit("iri"))
        .otherwise(F.lit("literal"))
    )


def _describe_df(planner: "_Planner", q: SelectQuery) -> DataFrame:
    """DESCRIBE: every asserted triple whose subject is a described node
    (the simple subject-CBD the reference's pyoxigraph endpoint serves).
    Described nodes = the explicit IRIs plus the values the WHERE
    solutions bind to the DESCRIBE variables. Per SPARQL 1.1 §16.4 the
    explicit IRIs are described regardless of the solution sequence —
    modifiers and VALUES shape only the variable-derived nodes (review
    finding: an earlier draft sliced IRIs away on a WHERE-less LIMIT 0
    but not on an empty WHERE, two branches with opposite semantics)."""
    ds = planner.ds
    spark = ds.triples.sparkSession
    iris = [t.value for t in q.describe_terms if t.kind == "iri"]
    vars_ = [t.value for t in q.describe_terms if t.kind == "var"]
    parts: list[DataFrame] = []
    var_derived = False
    if q.where.patterns:
        sol, smaybe = planner._group(q.where)
        if q.values is not None:
            # thread the group's maybe-set through: an OPTIONAL-unbound
            # var joins the VALUES rows as a compatible mapping; an empty
            # left maybe-set would inner-equi-join and silently drop
            # null-keyed solutions (review finding)
            vdf, vmaybe = planner._values_df(q.values)
            sol, _ = planner._join(sol, smaybe, vdf, vmaybe, "inner")
        sol = _slice_solutions(planner, q, sol)
        if q.projections == ["*"]:
            # internal _oneN marker columns (constant-only patterns) are
            # not query variables (review finding)
            vars_ = [
                c for c in sol.columns if not _MARKER_RE.match(c)
            ]
        missing = [v for v in vars_ if v not in sol.columns]
        if missing:
            raise SparqlParseError(
                f"DESCRIBE variable ?{missing[0]} is not bound by WHERE"
            )
        var_derived = bool(vars_)
        for v in vars_:
            parts.append(
                sol.select(F.col(v).cast("string").alias("node"))
                .where(F.col("node").isNotNull())
            )
    elif q.where.filters:
        # a filters-only group would hit _group's "empty group pattern"
        # error with a misleading message; per spec it filters the single
        # empty solution — not a pattern this front end serves
        raise SparqlUnsupported("DESCRIBE WHERE with filters but no patterns")
    if iris:
        parts.append(
            spark.createDataFrame([(i,) for i in iris], "node string")
        )
    if not parts:
        parts.append(spark.createDataFrame([], "node string"))
    nodes = parts[0]
    for p in parts[1:]:
        nodes = nodes.unionByName(p)
    nodes = nodes.distinct()
    if not var_derived:
        # explicit IRIs are bounded by the query text — always broadcast;
        # a var-derived node set grows with the data, so leave the join
        # strategy to Catalyst/AQE (review finding: a forced broadcast of
        # an unbounded set collects it driver-side at scale)
        nodes = F.broadcast(nodes)
    tri = planner._dataset_scope(
        ds.triples,
        TriplePattern(Term("var", "s"), Term("var", "p"), Term("var", "o")),
    )
    out = tri.join(nodes, tri["subject"] == nodes["node"], "left_semi")
    obj = F.col("object").cast("string")
    # serve the STORED term metadata when the relation carries it — the
    # IRI-shape sniff misfiles bnode objects (stored as bare b<sha>, kind
    # 'blank') as quoted literals, promotes IRI-looking literals to 'iri',
    # and loses datatype/lang; the reference pyoxigraph endpoint preserves
    # all three (advisor finding — individual_details_doc was fixed the
    # same way). The sniff remains only as the fallback for kind-less
    # frames (e.g. an ad-hoc dataset built from bare lexical columns).
    kind = (
        F.coalesce(F.col("object_kind").cast("string"), _object_kind_col(obj))
        if "object_kind" in tri.columns
        else _object_kind_col(obj)
    )
    meta = [
        (
            F.col(c).cast("string")
            if c in tri.columns
            else F.lit(None).cast("string")
        ).alias(c)
        for c in ("object_datatype", "object_lang")
    ]
    subj_cols = [F.col("subject").cast("string").alias("subject")]
    if "subject_kind" in tri.columns:
        # quad datasets distinguish bnode subjects; keep the marker so
        # sinks.rdf_text.subject_term renders them as _:b not <b>
        subj_cols.append(F.col("subject_kind").cast("string").alias("subject_kind"))
    return out.select(
        *subj_cols,
        F.col("predicate").cast("string").alias("predicate"),
        obj.alias("object"),
        kind.alias("object_kind"),
        *meta,
    ).distinct()


def _agg_col(a: Aggregate, df: DataFrame) -> Column:
    """One SPARQL aggregate → a Spark aggregate expression."""
    if a.fn == "count":
        if a.var is None:
            if a.distinct:
                # COUNT(DISTINCT *) = distinct SOLUTIONS; struct()
                # keeps rows whose fields are null (count_distinct
                # over bare columns would drop them — review
                # finding: DISTINCT was silently ignored here)
                return F.count_distinct(
                    F.struct(*[F.col(c) for c in df.columns])
                )
            return F.count(F.lit(1))
        if a.distinct:
            return F.countDistinct(a.var)
        return F.count(a.var)
    if a.fn == "group_concat":
        # spec leaves concatenation order implementation-defined; sorting
        # makes the result deterministic across partitionings (and lets a
        # SQL oracle replay it with string_agg ... ORDER BY)
        src = F.col(a.var).cast("string")  # array_join needs array<string>
        vals = F.collect_set(src) if a.distinct else F.collect_list(src)
        return F.array_join(F.array_sort(vals), a.sep if a.sep is not None else " ")
    if a.fn == "sample":
        # SAMPLE = any value from the group; min() is a deterministic
        # choice the spec permits
        return F.min(a.var)
    raw = F.col(a.var).cast("string")
    num = raw.try_cast("double")
    if a.fn in ("min", "max"):
        # MIN/MAX order by the `<` operator, which works on strings too
        # (review finding: a blanket double cast made MIN over titles
        # return unbound). Order by (numeric, raw) — numeric lexicals
        # compare numerically ("9" < "10"), everything else lexically —
        # and return the group member's original lexical form. The key
        # must be NULL (not struct(null,null)) for unbound members:
        # aggregates skip NULLs but not null-FIELDED structs, and
        # struct(null,null) sorts below everything, so MIN over a group
        # with any unbound member would return unbound (found by the
        # algebra property suite's naive-evaluator modeling).
        key = F.when(
            raw.isNotNull(), F.struct(num.alias("n"), raw.alias("r"))
        )
        return getattr(F, a.fn)(key).getField("r")
    # SUM/AVG: op:numeric-add errors on any non-numeric member, making
    # the whole aggregate unbound — NOT a silently-partial sum over the
    # castable members (review finding). Unbound (NULL) members are
    # skipped, as the multiset of values excludes unbound.
    err = F.max(raw.isNotNull() & num.isNull())
    col = F.round(getattr(F, a.fn)(num), 6)
    return F.when(err, F.lit(None).cast("double")).otherwise(col)


def _select_frame(
    planner: "_Planner", q: SelectQuery, keep_meta: bool = False
) -> tuple[DataFrame, set[str]]:
    """Compile a SELECT end-to-end: WHERE group, aggregation + HAVING +
    trailing VALUES + projection + DISTINCT/ORDER/OFFSET/LIMIT. Shared by
    top-level SELECTs and ``{ SELECT ... }`` subqueries; returns the
    result frame plus its maybe-unbound variable set (for the enclosing
    compatible-mapping join)."""
    df, maybe = planner._group(q.where)
    if q.aggregates:
        keys = q.group_by or [
            p for p in q.projections if p != "*"
        ]
        # aggregates over expressions: pre-project to a temp column, then
        # aggregate it like a variable (Catalyst folds the projection into
        # the partial-aggregate stage — no extra pass)
        # the parsed AST stays immutable: sparql_df accepts a pre-parsed
        # SelectQuery, so rewriting q.aggregates in place would break
        # re-executing the same AST (review finding)
        agg_list = []
        for i, a in enumerate(q.aggregates):
            if a.expr is not None:
                tmp = f"_agg_in_{i}"
                df = df.withColumn(tmp, planner._expr_col(a.expr, df))
                a = Aggregate(a.fn, tmp, a.distinct, a.alias, sep=a.sep)
            agg_list.append(a)
        aggs = [_agg_col(a, df).alias(a.alias) for a in agg_list]
        df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        for h in q.having:  # filter on the hidden aliases, then drop them
            df = df.where(planner._expr_col(h, df))
        hidden = set(q.hidden_aliases)
        visible = [a.alias for a in agg_list if a.alias not in hidden]
        if q.projections and q.projections != ["*"]:
            out_cols = [k for k in keys if k in q.projections] + visible
        else:
            out_cols = keys + visible
        maybe = (maybe & set(keys)) | {
            a.alias
            for a in agg_list
            if a.fn not in ("count", "group_concat")
            and a.alias not in hidden
        }
        project_cols: list | None = out_cols
    elif q.having:
        raise SparqlUnsupported("HAVING without GROUP BY / aggregates")
    elif q.projections and q.projections != ["*"]:
        project_cols = q.projections
    else:
        project_cols = None  # SELECT *
    if q.values is not None:
        # trailing VALUES clause: joined after grouping/HAVING, before
        # projection (SPARQL 1.1 §18.2.4.4) — projection then removes any
        # VALUES variable the SELECT clause doesn't name
        vdf, vmaybe = planner._values_df(q.values)
        df, maybe = planner._join(df, maybe, vdf, vmaybe, "inner")
    if project_cols is not None:
        # a subquery keeps the metadata of its projected vars for the
        # outer query's DATATYPE()/LANG()/... (without it the outer
        # call falls back to the value-shape sniff); the enclosing
        # query's own final projection strips it as usual
        extra = [
            _meta_name(v)
            for v in project_cols
            if keep_meta and _meta_name(v) in df.columns
        ]
        df = df.select(*project_cols, *extra)
    else:
        # SELECT *: internal columns are not query variables; a
        # subquery keeps the metadata ones
        df = df.drop(
            *[
                c
                for c in df.columns
                if _MARKER_RE.match(c)
                and not (keep_meta and c.startswith(_META_PREFIX))
            ]
        )
    metas = [c for c in df.columns if c.startswith(_META_PREFIX)]
    if q.distinct and metas:
        # term identity is the value plus its EFFECTIVE (dt, lang):
        # plain ≡ xsd:string, so a stored explicit xsd:string and a
        # plain literal dedupe, while two terms sharing a lexical but
        # differing in datatype stay distinct rows. The kept struct is
        # rewritten to the effective fields, so whichever duplicate
        # survives reads the same and an outer isNUMERIC sees a
        # definitive datatype. kind stays out of the key: it is
        # derivable from the term, and a kind-less branch leaves it null.
        ids = {}
        for c in metas:
            v = c[len(_META_PREFIX):]
            var = Expr("term", [Term("var", v)])
            m = _term_meta(df, var, F.col(v).cast("string"))
            df = df.withColumn(c, _meta_struct(F.col(c)["kind"], m.dt, m.lang))
            ids[f"_id#{v}"] = F.struct(F.col(c)["dt"], F.col(c)["lang"])
        df = df.withColumns(ids)
        df = df.dropDuplicates(
            [c for c in df.columns if not c.startswith(_META_PREFIX)]
        ).drop(*ids)
    elif q.distinct:
        df = df.distinct()
    # ORDER BY keys may only reference projected vars: the frame is
    # already projected
    df = _slice_solutions(planner, q, df)
    return df, maybe & set(df.columns)


def execute_sparql(ds: SparqlDataset, query: str, limit: int = 10_000) -> dict:
    """Run a SPARQL(-star) query and render the reference's result
    document for its form: SELECT → SPARQL 1.1 JSON results, ASK →
    ``{"boolean": b}``, CONSTRUCT → ``{"triples": [...], "count": n}``."""
    q = parse_sparql(query)
    return render_sparql_result(q.form, sparql_df(ds, q), limit=limit)


def render_sparql_result(form: str, df: DataFrame, limit: int = 10_000) -> dict:
    """Result-document rendering for an already-compiled query plan —
    split out of execute_sparql so a serving plan cache can skip
    parse+compile and re-render the cached DataFrame per request."""
    from ..serving import to_ask_json, to_construct_json, to_sparql_json

    if form == "ask":
        return to_ask_json(df)
    if form in ("construct", "describe"):
        return to_construct_json(df, limit=limit)
    return to_sparql_json(df, limit=limit)


# -- SELECT-clause parsing (projections/aggregates) continues in _Parser ----


def _parse_select_clause(p: _Parser, q: SelectQuery) -> None:
    lx = p.lx
    if lx.peek() == ("kw", "distinct"):
        lx.next()
        q.distinct = True
    while True:
        tok = lx.peek()
        if tok == ("*", None):
            lx.next()
            q.projections = ["*"]
        elif tok is not None and tok[0] == "var":
            lx.next()
            q.projections.append(tok[1])
        elif tok == ("(", None):
            lx.next()
            nxt = lx.peek()
            if (
                nxt is not None
                and nxt[0] == "kw"
                and nxt[1] in _AGG_KEYWORDS
                and lx.peek2() == ("(", None)
            ):
                fn_tok = lx.next()
                agg = _parse_agg_call(p, fn_tok[1], alias="")
                lx.expect("kw", "as")
                alias = lx.next()
                if alias is None or alias[0] != "var":
                    raise SparqlParseError("expected ?alias after AS")
                lx.expect(")")
                agg.alias = alias[1]
                q.aggregates.append(agg)
            else:
                # non-aggregate SELECT expression: (expr AS ?alias) —
                # desugars to a BIND at the end of the WHERE group
                e = p._expr()
                lx.expect("kw", "as")
                alias = lx.next()
                if alias is None or alias[0] != "var":
                    raise SparqlParseError("expected ?alias after AS")
                lx.expect(")")
                q.projections.append(alias[1])
                q.select_binds.append(Bind(alias[1], e))
        else:
            break


def _parse_agg_call(p: _Parser, fn: str, alias: str) -> Aggregate:
    """Parse ``( [DISTINCT] (*|expr) [; SEPARATOR = "s"] )`` after an
    aggregate keyword (shared by the SELECT clause and HAVING
    expressions)."""
    lx = p.lx
    lx.expect("(")
    distinct = False
    if lx.peek() == ("kw", "distinct"):
        lx.next()
        distinct = True
    var, agg_expr = None, None
    if lx.peek() == ("*", None):
        lx.next()
    else:  # bare ?var, or an expression: SUM(IF(...)), COUNT(STR(?x))
        e = p._expr()
        if e.op == "term" and e.args[0].kind == "var":
            var = e.args[0].value
        else:
            agg_expr = e
    sep = None
    if lx.peek() == (";", None):
        lx.next()
        lx.expect("kw", "separator")
        lx.expect("=")
        s = lx.next()
        if s is None or s[0] != "literal":
            raise SparqlParseError(f"expected string after SEPARATOR=, got {s!r}")
        sep = s[1][0]
    lx.expect(")")
    if fn != "count" and var is None and agg_expr is None:
        raise SparqlParseError(f"{fn.upper()}(*) is not valid SPARQL")
    return Aggregate(fn, var, distinct, alias, expr=agg_expr, sep=sep)


def _parse_modifiers(p: _Parser, q: SelectQuery, *, subquery: bool = False) -> None:
    lx = p.lx
    while True:
        tok = lx.peek()
        if tok == ("kw", "group"):
            lx.next()
            lx.expect("kw", "by")
            while lx.peek() is not None and lx.peek()[0] == "var":
                q.group_by.append(lx.next()[1])
        elif tok == ("kw", "having"):
            lx.next()
            prev, p._having_q = p._having_q, q
            try:
                # HavingClause = 'HAVING' Constraint+ ; each constraint a
                # bracketted expression — aggregate calls inside become
                # hidden aggregates (dropped after the filter)
                while lx.peek() == ("(", None):
                    q.having.append(p._expr_primary_paren())
            finally:
                p._having_q = prev
            if not q.having:
                raise SparqlParseError("HAVING requires (constraint)")
        elif tok == ("kw", "values"):
            lx.next()
            q.values = p._inline_data()
        elif tok == ("kw", "order"):
            lx.next()
            lx.expect("kw", "by")
            while True:
                t2 = lx.peek()
                if t2 in (("kw", "desc"), ("kw", "asc")):
                    desc = t2 == ("kw", "desc")
                    lx.next()
                    lx.expect("(")
                    e = p._expr()
                    lx.expect(")")
                    if e.op == "term" and e.args[0].kind == "var":
                        q.order_by.append((e.args[0].value, desc))
                    else:  # ORDER BY DESC(expression)
                        q.order_by.append((e, desc))
                elif t2 == ("(", None):
                    # bracketted expression order condition
                    lx.next()
                    e = p._expr()
                    lx.expect(")")
                    if e.op == "term" and e.args[0].kind == "var":
                        q.order_by.append((e.args[0].value, False))
                    else:
                        q.order_by.append((e, False))
                elif t2 is not None and t2[0] == "var":
                    lx.next()
                    q.order_by.append((t2[1], False))
                else:
                    break
        elif tok == ("kw", "limit"):
            lx.next()
            t2 = lx.next()
            if t2 is not None and t2[0] == "var":
                q.limit = None  # $LIMIT template placeholder (batch_queries.rq)
            elif t2 is not None and t2[0] == "num" and t2[1].isdigit():
                q.limit = int(t2[1])
            else:
                raise SparqlParseError(f"expected LIMIT count, got {t2!r}")
        elif tok == ("kw", "offset"):
            lx.next()
            t2 = lx.next()
            if t2 is not None and t2[0] == "var":
                q.offset = None  # $OFFSET template placeholder
            elif t2 is not None and t2[0] == "num" and t2[1].isdigit():
                q.offset = int(t2[1])
            else:
                raise SparqlParseError(f"expected OFFSET count, got {t2!r}")
        elif tok is None:
            return
        elif subquery and tok == ("}", None):
            return  # end of { SELECT ... } — caller consumes the brace
        else:
            raise SparqlParseError(f"unexpected trailing token {tok!r}")


def _parse_dataset_clauses(p: _Parser, q: SelectQuery) -> None:
    """``FROM <g>`` / ``FROM NAMED <g>`` between the projection and WHERE
    (batch_queries.rq metadata queries: ``FROM <.../graph/metadata>``)."""
    lx = p.lx
    while lx.peek() == ("kw", "from"):
        lx.next()
        named = lx.peek() == ("kw", "named")
        if named:
            lx.next()
        t = lx.next()
        if t is not None and t[0] == "var":
            continue  # $GRAPH_URI template placeholder: no restriction
        if t is None or t[0] not in ("iri", "pname"):
            raise SparqlParseError(f"expected graph IRI after FROM, got {t!r}")
        iri = t[1] if t[0] == "iri" else p._expand(t[1])
        (q.from_named if named else q.from_graphs).append(iri)


def _select(
    self: _Parser, subquery: bool = False, graph: Term | None = None
) -> SelectQuery:
    q = SelectQuery("select", [], [], Group(), [], [], None, None, False)
    _parse_select_clause(self, q)
    if not q.projections and not q.aggregates:
        raise SparqlParseError("empty SELECT clause")
    _parse_dataset_clauses(self, q)
    if self.lx.peek() == ("kw", "where"):
        self.lx.next()
    q.where = self._group(graph)
    _parse_modifiers(self, q, subquery=subquery)
    if q.select_binds:
        if q.aggregates:
            # (expr AS ?v) alongside aggregates would need the expression
            # evaluated over the aggregated frame — not modeled by the
            # BIND desugaring; refuse loudly instead of mis-scoping
            raise SparqlUnsupported(
                "non-aggregate SELECT expression mixed with aggregates"
            )
        if "*" in q.projections:
            # the grammar forbids '*' alongside (expr AS ?v); accepting
            # it duplicated the alias column (review finding)
            raise SparqlParseError("SELECT * cannot mix with (expr AS ?v)")
        in_scope = _pattern_vars(q.where)
        if q.values is not None:
            # the trailing VALUES clause also puts its vars in scope
            in_scope |= set(q.values.vars)
        for b in q.select_binds:
            if b.var in in_scope:
                # SPARQL 18.2.1: the (expr AS ?v) target must not already
                # be in scope — including a target assigned by an EARLIER
                # expression in the same SELECT clause (review finding:
                # `(1 AS ?x) (2 AS ?x)` silently kept the last one);
                # silently overwriting ?v's bindings is a wrong answer
                raise SparqlParseError(
                    f"select expression reuses in-scope variable ?{b.var}"
                )
            in_scope.add(b.var)
        q.where.patterns.extend(q.select_binds)
    return q


def _pattern_vars(g: Group) -> set[str]:
    """Variables a group pattern can bind (for SELECT-expression scope
    checks). MINUS right sides do not extend the outer scope."""
    out: set[str] = set()

    def term_vars(t: Term) -> None:
        if t.kind == "var":
            out.add(t.value)
        elif t.kind == "quoted":
            for x in t.value:
                term_vars(x)

    def walk(grp: Group) -> None:
        for p in grp.patterns:
            if isinstance(p, TriplePattern):
                term_vars(p.s)
                if p.p.kind != "path":
                    term_vars(p.p)
                term_vars(p.o)
                if p.graph is not None:
                    term_vars(p.graph)
            elif isinstance(p, Optional_):
                walk(p.group)
            elif isinstance(p, UnionOp):
                for sub in p.groups:
                    walk(sub)
            elif isinstance(p, Bind):
                out.add(p.var)
            elif isinstance(p, InlineData):
                out.update(p.vars)
            elif isinstance(p, SubSelect):
                if "*" in p.query.projections:
                    # SELECT * projects every variable its WHERE binds
                    # (review finding: treating it as binding nothing let
                    # the select-expression overwrite check miss it)
                    walk(p.query.where)
                else:
                    out.update(
                        v for v in p.query.projections if v != "*"
                    )
                out.update(a.alias for a in p.query.aggregates)

    walk(g)
    return out


_Parser._select = _select
