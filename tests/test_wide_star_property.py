"""Differential property test: SPARQL stars over the stored wide rows give
exactly the solutions of the generic plan over the exploded triples.

Random stars (0–4 constant-predicate patterns, optionally a quoted-triple
annotation — on one of them or on the subject alone — and a
variable-predicate pattern, FILTERs that read term metadata, and UNIONs
of two stars, and a second star joined to the first on a shared variable)
run on a dataset as built by ``dataset_from_engine`` and on the same
dataset with its wide relation removed. Both the WHERE frame — with its
``_meta#<var>`` columns — and the final SELECT * solutions must be
identical, column order included. The warehouses cover a COW table, a
COW table whose paths ``a/b.py`` and ``a_b.py`` mint one subject (the
guard must fall back), an uncompacted MoR table, and a COW table plus
loaded quads that share its predicates and objects.
"""

from __future__ import annotations

import dataclasses
import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from etl_pipeline_rdf_star_spark.queries.sparql import (
    _meta_vars_of,
    _Planner,
    dataset_from_engine,
    dataset_from_quads,
    parse_sparql,
    sparql_df,
    with_loaded,
)
from etl_pipeline_rdf_star_spark.sinks.turtle import TURTLE_SCHEMA, parse_turtle_text

EX = "http://example.org/"
DCT = "http://purl.org/dc/terms/"
PROV = "http://www.w3.org/ns/prov#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
EVENT_DDL = (
    "seq long, op string, repo string, path string, commit string,"
    " lang string, content string, event_ts timestamp"
)

# the flagship layout's asserted predicates, each with constants that hit
PREDICATES = {
    RDF_TYPE: [f"<{EX}SourceFile>"],
    f"{DCT}identifier": ['"src/f_1.py"', '"a/b.py"'],
    f"{EX}repo": [f"<{EX}repo/repo_1>", f"<{EX}repo/repo_2>"],
    f"{EX}commit": ['"c2"', '"c2"^^<' + XSD + 'string>'],
    f"{EX}lang": ['"en"', '"fr"'],
}
ANNOTATIONS = [f"{EX}confidence", f"{PROV}wasDerivedFrom", f"{EX}lang"]
FILTERS = [
    "DATATYPE({v}) = <" + XSD + "string>",
    "DATATYPE({v}) = <" + XSD + "decimal>",
    'LANG({v}) = ""',
    "isIRI({v})",
    "!isLiteral({v})",
    "STRLEN(STR({v})) > 5",
]
# a second star on ?t, or on the first star's object, joined to the first
LINKS = [
    f"{{s}} <{EX}repo> ?k . ?t <{EX}repo> ?k .",
    f"{{s}} <{EX}lang> ?k . ?t <{EX}lang> ?k ; <{EX}commit> ?tc .",
    f"{{s}} <{EX}repo> ?k . ?k ?tp ?to .",
]
# loaded quads: a file outside the lake in a lake repo, facts about a
# lake repo, and an annotation on the loaded file's triple
EXT = f"<{EX}file/ext/x.py>"
LOADED = f"""
{EXT} <{RDF_TYPE}> <{EX}SourceFile> ; <{EX}repo> <{EX}repo/repo_1> ;
    <{EX}lang> "en" ; <{EX}commit> "c2" .
<{EX}repo/repo_1> <{EX}name> "one" ; <{EX}lang> "fr" .
<< {EXT} <{EX}lang> "en" >> <{EX}confidence> "0.9"^^<{XSD}decimal> .
"""


def _files(n: int) -> list[tuple]:
    langs = ["en", "fr", "de"]
    return [
        (i, "I", f"repo_{i % 3}", f"src/f_{i}.py", f"c{i % 4}", langs[i % 3],
         "y" * (i * 13 % 90), None)
        for i in range(n)
    ]


def _warehouse(spark, tmp_path_factory, kind: str):
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    eng = CdcEngine(
        spark,
        str(tmp_path_factory.mktemp(f"wide_prop_{kind}")),
        n_buckets=2,
        mode="mor" if kind == "mor" else "cow",
    )
    rows = _files(16)
    if kind == "collide":
        rows += [
            (20, "I", "repo_1", "a/b.py", "c2", "en", "aaa", None),
            (21, "I", "repo_1", "a_b.py", "c3", "fr", "bbbbbbb", None),
        ]
    ev = spark.createDataFrame(rows, EVENT_DDL)
    eng.apply_batch(ev, "b0")
    if kind == "mor":
        # a second, uncompacted delta batch: updates and one delete
        upd = spark.createDataFrame(
            [
                (30, "U", "repo_1", "src/f_1.py", "c9", "de", "zz", None),
                (31, "U", "repo_2", "src/f_2.py", "c9", "en", "z" * 55, None),
                (32, "D", "repo_0", "src/f_3.py", "c9", "en", "", None),
            ],
            EVENT_DDL,
        )
        eng.apply_batch(upd, "b1")
        assert eng.table.snapshot().has_deltas
    return eng


@pytest.fixture(scope="module", params=["cow", "collide", "mor", "quads"])
def datasets(request, spark, tmp_path_factory):
    eng = _warehouse(spark, tmp_path_factory, request.param)
    ds = dataset_from_engine(eng)
    if request.param == "quads":
        rows = parse_turtle_text(LOADED)
        loaded = spark.createDataFrame(rows, TURTLE_SCHEMA)
        ds = with_loaded(ds, dataset_from_quads(loaded))
    assert ds.wide is not None
    assert ds.subjects_unique() == (request.param != "collide")
    return ds, dataclasses.replace(ds, wide=None, quads=None)


@st.composite
def stars(draw, subject: str, tag: str) -> str:
    """One star on ``subject`` as SPARQL text."""
    parts, vars_ = [], [subject]
    members = []
    n = draw(st.integers(0, 4))
    for i in range(n):
        p = draw(st.sampled_from(sorted(PREDICATES)))
        o = draw(
            st.one_of(
                st.just(f"?{tag}{i}"),
                st.just("?shared"),
                st.sampled_from(PREDICATES[p]),
            )
        )
        members.append((p, o))
        parts.append(f"{subject} <{p}> {o} .")
        if o.startswith("?"):
            vars_.append(o)
    if n == 0 or draw(st.booleans()):
        # on a member's triple, or on the subject alone
        if members and draw(st.booleans()):
            p, o = draw(st.sampled_from(members))
        else:
            p, o = draw(st.sampled_from(sorted(PREDICATES))), f"?{tag}q"
            vars_.append(o)
        a = draw(st.sampled_from(ANNOTATIONS))
        parts.append(f"<< {subject} <{p}> {o} >> <{a}> ?{tag}ann .")
        vars_.append(f"?{tag}ann")
        if a == f"{EX}confidence" and draw(st.booleans()):
            parts.append(f"FILTER(?{tag}ann > 0.3)")
    if draw(st.booleans()):
        parts.append(f"{subject} ?{tag}p ?{tag}o .")
        vars_ += [f"?{tag}p", f"?{tag}o"]
    for _ in range(draw(st.integers(0, 2))):
        f = draw(st.sampled_from(FILTERS))
        parts.append(f"FILTER({f.format(v=draw(st.sampled_from(vars_)))})")
    return " ".join(parts)


@st.composite
def queries(draw) -> str:
    subject = draw(st.sampled_from(["?s", f"<{EX}file/repo_1/src_f_1.py>"]))
    shape = draw(st.sampled_from(["linked", "union", "linked", "star"]))
    if shape == "union":
        left = draw(stars(subject, "a"))
        right = draw(stars(subject, "b"))
        body = f"{{ {left} }} UNION {{ {right} }}"
    elif shape == "star":
        body = draw(stars(subject, "a"))
    else:
        # plain members, so the join across the stars has rows to pair
        preds = draw(st.lists(st.sampled_from(sorted(PREDICATES)), max_size=2))
        body = " ".join(f"{subject} <{p}> ?a{i} ." for i, p in enumerate(preds))
        body += " " + draw(st.sampled_from(LINKS)).format(s=subject)
    return f"SELECT * WHERE {{ {body} }}"


def _columns(df) -> list[str]:
    """Column names, with the numbered internal markers (``_one#7``)
    made comparable across two compilations."""
    return [re.sub(r"^_(?!meta#)(\w+)#\d+$", r"_\1#", c) for c in df.columns]


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _where(ds, text: str):
    q = parse_sparql(text)
    return _Planner(ds, meta_vars=_meta_vars_of(q))._group(q.where)[0]


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(text=queries())
def test_wide_stars_match_generic_plan(datasets, text):
    wide, generic = datasets
    w, g = _where(wide, text), _where(generic, text)
    assert _columns(w) == _columns(g), text
    assert _rows(w) == _rows(g), text
    w, g = sparql_df(wide, text), sparql_df(generic, text)
    assert _columns(w) == _columns(g), text
    assert _rows(w) == _rows(g), text
