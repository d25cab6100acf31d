"""SQL serving surface: register the engine's relations as temp views so
plain ``spark.sql`` replaces the reference's SPARQL endpoint
(fastapi_sparql_server.py:242-351 — HTTP serving is out of scope for this
graft; the query capability is the deliverable).

After ``register_views``::

    spark.sql("SELECT subject, object FROM rdf_triples WHERE predicate LIKE '%lang'")
    spark.sql("SELECT * FROM rdf_annotations WHERE quoted.s = '...'")
    spark.sql("SELECT * FROM batches ORDER BY table_version")

``to_sparql_json`` renders any bounded result in the W3C SPARQL 1.1
Query Results JSON Format, mirroring the reference's binding conversion
(fastapi_sparql_server.py:242-338) so an HTTP shim could serve byte-
compatible responses.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .streaming.cdc import CdcEngine

_BNODE_RE = re.compile(r"^b[0-9a-f]{64}$")
_IRI_RE = re.compile(r"^(https?|urn|file|ftp):")


# view name -> the engine relation it serves
_VIEWS = {
    "repo_files": lambda e: e.current_state(),
    "rdf_files_wide": lambda e: e.live_rows(),
    "rdf_triples": lambda e: e.triples_view(),
    "rdf_annotations": lambda e: e.annotations_view(),
    "batches": lambda e: e.ledger_view(),
    "batch_status_log": lambda e: e.batches.read(),
    "batch_metrics": lambda e: e.metrics.read(),
}


def view_names(prefix: str = "") -> list[str]:
    """The sorted names ``register_views`` creates, without building them."""
    return sorted(prefix + n for n in _VIEWS)


# (id(session), prefix) -> the ``tag`` of the last register_views call.
# Temp views are session-global, so a caller that skips re-registering
# while its data is unchanged checks this to notice that another call
# has replaced its views.
_registered_by: dict[tuple[int, str], Any] = {}


def register_views(
    spark: SparkSession, engine: CdcEngine, prefix: str = "", tag: Any = None
) -> list[str]:
    """Create temp views over the engine state as of NOW. Each view pins
    the file list of the snapshot it was built from: a later commit is
    invisible to it until the views are registered again. Building them
    is driver-side plan construction (file listing, schema, the
    triples/annotations projections) — no data is read, but it is not
    free: about 0.5 s per call for a 4k-row table on a 4-core host.
    ``tag`` is recorded for ``registration_tag``."""
    for name, build in _VIEWS.items():
        build(engine).createOrReplaceTempView(prefix + name)
    _registered_by[(id(spark), prefix)] = tag
    return view_names(prefix)


def registration_tag(spark: SparkSession, prefix: str = "") -> Any:
    """The ``tag`` of the last ``register_views`` call on this session and
    prefix (None if it passed none or there was no call)."""
    return _registered_by.get((id(spark), prefix))


def _term(
    value: Any,
    datatype: str | None = None,
    lang: str | None = None,
    kind: str | None = None,
) -> dict:
    """One RDF term in SPARQL-JSON form (reference binding conversion at
    fastapi_sparql_server.py:242-338). When the relation carries an
    explicit term ``kind`` column (iri|literal|blank) it is AUTHORITATIVE —
    value sniffing misclassifies literals that merely look like IRIs or
    reifier hashes (review finding). Sniffing remains the fallback for
    kind-less frames: deterministic reifiers ``b<sha256hex>`` are blank
    nodes; IRI-schemed strings are uris; everything else a literal."""
    if value is None:
        return {}
    s = str(value)
    if kind == "iri":
        return {"type": "uri", "value": s}
    if kind == "blank":
        return {"type": "bnode", "value": s}
    if kind is None:
        if isinstance(value, str) and _BNODE_RE.match(s):
            return {"type": "bnode", "value": s}
        if isinstance(value, str) and _IRI_RE.match(s):
            return {"type": "uri", "value": s}
    out: dict[str, Any] = {"type": "literal", "value": s}
    if lang:
        out["xml:lang"] = lang
    elif datatype:
        out["datatype"] = datatype
    elif isinstance(value, bool):
        out["datatype"] = "http://www.w3.org/2001/XMLSchema#boolean"
        out["value"] = s.lower()
    elif isinstance(value, int):
        out["datatype"] = "http://www.w3.org/2001/XMLSchema#integer"
    elif isinstance(value, float):
        out["datatype"] = "http://www.w3.org/2001/XMLSchema#double"
    return out


def to_sparql_json(df: DataFrame, limit: int = 10_000) -> dict:
    """Render a (bounded) DataFrame result as the W3C SPARQL 1.1 JSON
    results document — the thin formatting layer between our SQL serving
    and a SPARQL-protocol client. Collects at most ``limit`` rows: this is
    a presentation adapter for query RESULTS, never a data-plane path.

    Triple-relation conventions are honored: an ``object`` column is typed
    from its sibling ``object_datatype``/``object_lang`` columns; a
    ``quoted`` struct renders as an RDF-star triple term."""
    rows = df.limit(limit).collect()
    cols = df.columns
    # a metadata column folds into its term's binding ONLY when the term
    # column it annotates is present — a projection of just the metadata
    # column must surface it, not silently vanish (review finding)
    _FOLDED = set()
    if "object" in cols:
        _FOLDED |= {"object_datatype", "object_lang", "object_kind"} & set(cols)
    if "subject" in cols:
        _FOLDED |= {"subject_kind"} & set(cols)
    bindings = []
    for r in rows:
        b: dict[str, Any] = {}
        for c in cols:
            v = r[c]
            if v is None:
                continue  # unbound variable: omitted, per the spec
            if c == "object" and (
                "object_datatype" in cols or "object_kind" in cols
            ):
                b[c] = _term(
                    v,
                    datatype=r["object_datatype"] if "object_datatype" in cols else None,
                    lang=r["object_lang"] if "object_lang" in cols else None,
                    kind=r["object_kind"] if "object_kind" in cols else None,
                )
            elif c == "subject" and "subject_kind" in cols:
                b[c] = _term(v, kind=r["subject_kind"])
            elif c in _FOLDED:
                continue  # folded into their term's binding
            elif c == "quoted" and hasattr(v, "asDict"):
                q = v.asDict()
                b[c] = {
                    "type": "triple",
                    "value": {
                        "subject": _term(q.get("s")),
                        "predicate": _term(q.get("p")),
                        "object": _term(q.get("o")),
                    },
                }
            else:
                b[c] = _term(v)
        bindings.append(b)
    head_vars = [c for c in cols if c not in _FOLDED]
    return {"head": {"vars": head_vars}, "results": {"bindings": bindings}}


def to_ask_json(result: DataFrame | bool) -> dict:
    """ASK result document — ``{"boolean": b}``, the exact field layout
    the reference endpoint returns for ASK queries
    (rdf-workbench.py:458-462, fastapi_sparql_server.py ASK branch).
    A DataFrame argument is tested for non-emptiness with a LIMIT-1 probe
    (bounded work — never a full count)."""
    if isinstance(result, DataFrame):
        result = bool(result.limit(1).take(1))
    return {"boolean": bool(result)}


def to_construct_json(df: DataFrame, limit: int = 10_000) -> dict:
    """CONSTRUCT result document — ``{"triples": [...], "count": n}``,
    mirroring the reference's ``{"triples": [str(t)...], "count": len}``
    (rdf-workbench.py:464-468). Statements are rendered DISTRIBUTED by the
    columnar N-Quads serializer (sinks.rdf_text) and only the bounded
    result strings are collected; the trailing ``" ."`` is stripped to
    match pyoxigraph's ``str(Triple)`` rendering."""
    from .sinks.rdf_text import nquads_lines

    rows = nquads_lines(df).limit(limit).collect()
    triples = [r["value"].removesuffix(" .") for r in rows]
    return {"triples": triples, "count": len(triples)}


def sparql_json_to_xml(doc: dict) -> str:
    """Render a SELECT/ASK result document in the W3C SPARQL Query Results
    XML Format (https://www.w3.org/TR/rdf-sparql-XMLres/) — protocol
    parity for clients sending ``Accept: application/sparql-results+xml``.
    Pure presentation over the already-bounded JSON document; RDF-star
    triple terms render as nested ``<triple>`` elements (SPARQL 1.2
    results-XML draft shape)."""
    from xml.sax.saxutils import escape, quoteattr

    out = ['<?xml version="1.0"?>']
    out.append('<sparql xmlns="http://www.w3.org/2005/sparql-results#">')
    if "boolean" in doc:
        out.append("<head/>")
        out.append(f"<boolean>{'true' if doc['boolean'] else 'false'}</boolean>")
        out.append("</sparql>")
        return "\n".join(out)

    out.append("<head>")
    for v in doc.get("head", {}).get("vars", []):
        out.append(f"<variable name={quoteattr(v)}/>")
    out.append("</head>")
    out.append("<results>")

    def term_xml(t: dict) -> str:
        ty = t.get("type")
        if ty == "uri":
            return f"<uri>{escape(t['value'])}</uri>"
        if ty == "bnode":
            return f"<bnode>{escape(t['value'])}</bnode>"
        if ty == "triple":
            q = t["value"]
            return (
                "<triple>"
                f"<subject>{term_xml(q['subject'])}</subject>"
                f"<predicate>{term_xml(q['predicate'])}</predicate>"
                f"<object>{term_xml(q['object'])}</object>"
                "</triple>"
            )
        attrs = ""
        if t.get("xml:lang") or t.get("lang"):
            attrs = f" xml:lang={quoteattr(t.get('xml:lang') or t['lang'])}"
        elif t.get("datatype"):
            attrs = f" datatype={quoteattr(t['datatype'])}"
        return f"<literal{attrs}>{escape(str(t['value']))}</literal>"

    for b in doc.get("results", {}).get("bindings", []):
        out.append("<result>")
        for name, t in b.items():
            out.append(f"<binding name={quoteattr(name)}>{term_xml(t)}</binding>")
        out.append("</result>")
    out.append("</results>")
    out.append("</sparql>")
    return "\n".join(out)


def sparql_json_to_csv(doc: dict) -> str:
    """Render a SELECT/ASK result document in the SPARQL 1.1 CSV results
    format (https://www.w3.org/TR/sparql11-results-csv-tsv/): header row =
    variables, plain lexical values, RFC 4180 quoting; unbound variables
    are empty fields. RDF-star triple terms render ``<<s p o>>``."""
    import csv
    import io

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    if "boolean" in doc:
        w.writerow(["boolean"])
        w.writerow(["true" if doc["boolean"] else "false"])
        return buf.getvalue()

    def term_str(t: dict | None) -> str:
        if t is None:
            return ""
        if t.get("type") == "triple":
            q = t["value"]
            return (
                f"<<{term_str(q['subject'])} {term_str(q['predicate'])} "
                f"{term_str(q['object'])}>>"
            )
        return str(t["value"])

    vars_ = doc.get("head", {}).get("vars", [])
    w.writerow(vars_)
    for b in doc.get("results", {}).get("bindings", []):
        w.writerow([term_str(b.get(v)) for v in vars_])
    return buf.getvalue()
