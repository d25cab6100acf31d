"""The RDF term syntax the Turtle reader and the SPARQL parser share
(``sinks/rdf_syntax.py``): one escape decoder, one loader that stays
linear in document size, and one serialized quoted-triple form."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.queries.sparql import (
    SparqlParseError,
    dataset_from_quads,
    parse_sparql,
    sparql_df,
)
from etl_pipeline_rdf_star_spark.sinks.rdf_syntax import (
    quoted_column,
    serialize_quoted,
)
from etl_pipeline_rdf_star_spark.sinks.turtle import (
    TurtleParseError,
    parse_turtle_text,
    read_turtle,
)

EX = "http://example.org/"

# every ECHAR and both UCHAR forms, as spelled in the document → decoded
ESCAPES = [
    (r"\t", "\t"),
    (r"\b", "\b"),
    (r"\n", "\n"),
    (r"\r", "\r"),
    (r"\f", "\f"),
    (r"\"", '"'),
    (r"\'", "'"),
    (r"\\", "\\"),
    (r"\u00e9", "\u00e9"),
    (r"\U0001F600", "\U0001F600"),
]


def _sparql_object(literal: str) -> str:
    q = parse_sparql(f"SELECT ?s WHERE {{ ?s <{EX}p> {literal} }}")
    return q.where.patterns[0].o.value


def _turtle_object(literal: str) -> str:
    (quad,) = parse_turtle_text(f"<{EX}s> <{EX}p> {literal} .")
    return quad["object"]


@pytest.mark.parametrize("spelled,decoded", ESCAPES)
def test_escape_parity(spelled, decoded):
    for literal in (f'"a{spelled}b"', f"'a{spelled}b'", f'"""a{spelled}b"""'):
        assert _sparql_object(literal) == "a" + decoded + "b"
        assert _turtle_object(literal) == "a" + decoded + "b"


@pytest.mark.parametrize("bad", [r'"a\qb"', r'"a\u00g9"', r'"a\U00110000"'])
def test_bad_escape_fails_in_both_readers(bad):
    with pytest.raises(SparqlParseError, match="bad escape"):
        _sparql_object(bad)
    with pytest.raises(TurtleParseError, match="bad escape"):
        _turtle_object(bad)


def test_non_ascii_digits_are_not_numbers_in_either_reader():
    """Numbers are ASCII digits: Arabic-Indic digits are neither a Turtle
    integer literal nor a SPARQL LIMIT count."""
    digits = "\u0661\u0662"  # ARABIC-INDIC DIGIT ONE, TWO
    with pytest.raises(TurtleParseError):
        parse_turtle_text(f"<{EX}s> <{EX}p> {digits} .")
    with pytest.raises(SparqlParseError):
        parse_sparql(f"SELECT * WHERE {{ ?s ?p ?o }} LIMIT {digits}")


def test_sparql_escape_finds_turtle_loaded_triple(spark, tmp_path):
    src = tmp_path / "ttl"
    src.mkdir()
    (src / "cafe.ttl").write_text(
        f"@prefix ex: <{EX}> .\n"
        'ex:shop ex:name "caf\\u00e9" .\n'
        'ex:bar ex:name "bar" .\n'
    )
    ds = dataset_from_quads(read_turtle(spark, str(src)))
    q = parse_sparql(
        f"PREFIX ex: <{EX}>\n"
        'SELECT ?s WHERE { ?s ex:name "caf\\u00e9" }'
    )
    assert [r["s"] for r in sparql_df(ds, q).collect()] == [EX + "shop"]


def _best_parse_s(n: int) -> float:
    doc = "".join(f'<{EX}s{i}> <{EX}p> "v" .\n' for i in range(n))
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        parse_turtle_text(doc)
        best = min(best, time.perf_counter() - t0)
    return best


def test_turtle_loading_is_linear_in_document_size():
    # 4x the statements: linear reads about 4x; a loader that copies the
    # rest of the document per token read 11x to 19x here
    ratio = _best_parse_s(40_000) / _best_parse_s(10_000)
    assert ratio < 7.0, f"40k/10k statements parse-time ratio {ratio:.1f}"


def test_one_serialized_quoted_triple_form(spark):
    s, p, o = EX + "a", EX + "b", EX + "c"
    want = serialize_quoted(s, p, o)
    assert want == f"<< {s} {p} {o} >>"

    built = spark.range(1).select(
        quoted_column(F.lit(s), F.lit(p), F.lit(o)).alias("t")
    )
    assert built.first()["t"] == want
    # null-propagating: a missing part gives no term, not a partial one
    partial = spark.range(1).select(
        quoted_column(F.lit(s), F.lit(None).cast("string"), F.lit(o)).alias("t")
    )
    assert partial.first()["t"] is None

    (quad,) = parse_turtle_text(
        f"<< << <{s}> <{p}> <{o}> >> <{EX}d> <{EX}e> >> <{EX}q> <{EX}r> ."
    )
    assert quad["q_s"] == want

    quads = spark.createDataFrame(
        [(s, "iri", p, o, None, None, "iri", None, None, None, None)],
        "subject string, subject_kind string, predicate string, object string,"
        " object_datatype string, object_lang string, object_kind string,"
        " graph string, q_s string, q_p string, q_o string",
    )
    rows = sparql_df(
        dataset_from_quads(quads),
        parse_sparql(
            "SELECT ?t WHERE { ?s ?p ?o BIND(TRIPLE(?s, ?p, ?o) AS ?t) }"
        ),
    ).collect()
    assert [r["t"] for r in rows] == [want]

    claims = spark.createDataFrame(
        [(EX + "x", "iri", EX + "claims", None, None, None, "quoted", None,
          s, p, o)],
        quads.schema,
    )
    (row,) = dataset_from_quads(claims).triples.collect()
    assert row["object"] == want
