"""One RDF text reader: N-Triples and N-Quads load through the Turtle/TriG
parser, so one text gives the same quads whatever the file is called; an
N-Quads graph label is read only after a single top-level triple; a bad
file fails naming itself; the Turtle and SPARQL lexers share one IRI rule;
and LIMIT/OFFSET take an unsigned integer only."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from etl_pipeline_rdf_star_spark.queries.sparql import (
    SparqlParseError,
    dataset_from_quads,
    parse_sparql,
    sparql_df,
)
from etl_pipeline_rdf_star_spark.sinks.turtle import (
    TurtleParseError,
    parse_turtle_text,
    read_turtle,
)

EX = "http://one.example/"

# escapes a line reader that knows only \\ \" \n \r \t would keep undecoded
NT = (
    f'<{EX}a> <{EX}p> "caf\\u00e9" .\n'
    f'<{EX}b> <{EX}p> "x\\by" .\n'
    f'<{EX}c> <{EX}p> "it\\\'s" .\n'
)
WANT = {(EX + "a", "café"), (EX + "b", "x\by"), (EX + "c", "it's")}


def _subject_objects(df) -> set:
    return {(r["subject"], r["object"]) for r in df.collect()}


# -- extension parity ---------------------------------------------------------


def test_nt_and_ttl_http_loads_hold_identical_literals(spark, tmp_path):
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "a.nt").write_text(NT)
    (inp / "a.ttl").write_text(NT)
    engine = CdcEngine(spark, str(tmp_path / "wh"), mode="mor", n_buckets=4)
    srv = QueryServer(
        spark, engine, input_dir=str(inp), graph_store=str(tmp_path / "graphs")
    ).start()
    try:
        for name in ("a.nt", "a.ttl"):
            qs = urllib.parse.urlencode({"file": name, "graph": EX + name})
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/api/graphs/load?{qs}",
                data=b"",
                method="POST",
            )
            with urllib.request.urlopen(req) as resp:
                assert json.loads(resp.read())["tripleCount"] == 3
        quads = srv._loaded_quads()
        nt = _subject_objects(quads.where(quads.graph == EX + "a.nt"))
        ttl = _subject_objects(quads.where(quads.graph == EX + "a.ttl"))
    finally:
        srv.stop()
    assert nt == ttl == WANT


def test_cli_load_of_nq_file_decodes_like_turtle(spark, tmp_path):
    from etl_pipeline_rdf_star_spark import cli

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.nq").write_text(NT)
    out = str(tmp_path / "out")
    cli.main(["load", "--infile", str(src / "a.nq"), "--out", out])
    assert _subject_objects(spark.read.parquet(out)) == WANT


# -- the graph term -----------------------------------------------------------


def test_graph_label_iri_blank_and_default():
    rows = parse_turtle_text(
        f"<{EX}s1> <{EX}p> <{EX}o> <{EX}g> .\n"
        f'_:s2 <{EX}p> "v"@en _:g2 .\n'
        f'<{EX}s3> <{EX}p> "3"^^<{EX}dt> .\n',
        default_graph=EX + "target",
    )
    got = [(r["subject"], r["subject_kind"], r["graph"]) for r in rows]
    assert got == [
        (EX + "s1", "iri", EX + "g"),
        ("s2", "blank", "g2"),
        (EX + "s3", "iri", EX + "target"),
    ]
    assert rows[1]["object_lang"] == "en"
    assert rows[2]["object_datatype"] == EX + "dt"


@pytest.mark.parametrize(
    "text",
    [
        f"<{EX}g0> {{ <{EX}s> <{EX}p> <{EX}o> <{EX}g> . }}",
        f"<{EX}s> <{EX}p> <{EX}o> ; <{EX}q> <{EX}o> <{EX}g> .",
        f"<{EX}s> <{EX}p> <{EX}o> , <{EX}o2> <{EX}g> .",
    ],
    ids=["inside-block", "after-semicolon", "after-comma"],
)
def test_graph_label_refused_outside_a_single_top_level_triple(text):
    with pytest.raises(TurtleParseError):
        parse_turtle_text(text)


def test_nquads_loads_with_the_full_quad_schema(spark, tmp_path):
    (tmp_path / "q.nq").write_text(f"<{EX}s> <{EX}p> <{EX}o> <{EX}g> .\n")
    df = read_turtle(spark, str(tmp_path / "q.nq"))
    assert df.columns[-3:] == ["q_s", "q_p", "q_o"]
    row = df.collect()[0]
    assert (row["graph"], row["q_s"], row["q_p"], row["q_o"]) == (
        EX + "g", None, None, None
    )


# -- the error names the file -------------------------------------------------


def test_bad_part_file_is_named_in_the_error(spark, tmp_path):
    d = tmp_path / "parts"
    d.mkdir()
    (d / "part-00000").write_text(f"<{EX}s> <{EX}p> <{EX}o> .\n")
    (d / "part-00001").write_text(
        f"<{EX}s> <{EX}p> <{EX}o> .\nthis is not a statement\n"
    )
    with pytest.raises(Exception, match="unparseable") as err:
        read_turtle(spark, str(d)).count()
    msg = str(err.value)
    assert "TurtleParseError" in msg
    assert "part-00001" in msg and "part-00000" not in msg
    assert "line 2" in msg and "this is not" in msg


# -- one IRI rule -------------------------------------------------------------


def test_iri_with_a_space_is_refused_by_both_readers():
    with pytest.raises(TurtleParseError, match="bad IRI"):
        parse_turtle_text(f"<{EX}a b> <{EX}p> <{EX}o> .")
    with pytest.raises(SparqlParseError):
        parse_sparql(f"SELECT * WHERE {{ <{EX}a b> ?p ?o }}")


def test_iri_uchar_decodes_to_one_iri_in_both_readers():
    turtle = parse_turtle_text(f"<{EX}caf\\u00e9> <{EX}p> <{EX}\\U0001F600> .")
    assert (turtle[0]["subject"], turtle[0]["object"]) == (
        EX + "café", EX + "\U0001F600"
    )
    q = parse_sparql(f"SELECT * WHERE {{ <{EX}caf\\u00e9> ?p ?o }}")
    assert q.where.patterns[0].s.value == EX + "café"


def test_sparql_uchar_iri_finds_turtle_loaded_triple(spark, tmp_path):
    (tmp_path / "cafe.ttl").write_text(
        f"<{EX}caf\\u00e9> <{EX}p> \"shop\" .\n<{EX}bar> <{EX}p> \"bar\" .\n"
    )
    ds = dataset_from_quads(read_turtle(spark, str(tmp_path / "cafe.ttl")))
    q = parse_sparql(f"SELECT ?o WHERE {{ <{EX}caf\\u00e9> <{EX}p> ?o }}")
    assert [r["o"] for r in sparql_df(ds, q).collect()] == ["shop"]


# -- LIMIT / OFFSET -----------------------------------------------------------


@pytest.mark.parametrize("mod", ["LIMIT 1.5", "OFFSET -1", "LIMIT 1e2"])
def test_limit_and_offset_take_an_unsigned_integer(mod):
    with pytest.raises(SparqlParseError):
        parse_sparql(f"SELECT * WHERE {{ ?s ?p ?o }} {mod}")


def test_limit_offset_template_placeholders_still_parse():
    q = parse_sparql("SELECT * WHERE { ?s ?p ?o } LIMIT $LIMIT OFFSET $OFFSET")
    assert (q.limit, q.offset) == (None, None)
