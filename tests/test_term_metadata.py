"""SPARQL term metadata (kind / datatype / language tag) across binding
sites, and the loud refusal of nested quoted triples whose serialized
``<< s p o >>`` form would drop an inner literal's datatype or tag."""

from __future__ import annotations

import pytest

from etl_pipeline_rdf_star_spark.queries.sparql import (
    SparqlDataset,
    SparqlUnsupported,
    sparql_df,
)
from etl_pipeline_rdf_star_spark.sinks.turtle import (
    TurtleParseError,
    parse_turtle_text,
)

XSD = "http://www.w3.org/2001/XMLSchema#"
LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
PROLOGUE = f"PREFIX xsd: <{XSD}>\nPREFIX ex: <http://example.org/>\n"


@pytest.fixture(scope="module")
def ds(spark) -> SparqlDataset:
    ex = "http://example.org/"
    return SparqlDataset(
        triples=spark.createDataFrame(
            [
                (ex + "d1", ex + "label", "hello", None, None, "en", "literal"),
                (ex + "d1", ex + "val", "3.14", None, XSD + "decimal", None,
                 "literal"),
                (ex + "d1", ex + "name", "plain", None, None, None, "literal"),
            ],
            "subject string, predicate string, object string, graph string,"
            " object_datatype string, object_lang string, object_kind string",
        ),
        annotations=spark.createDataFrame(
            [], "q_s string, q_p string, q_o string, predicate string,"
            " object string",
        ),
    )


def _rows(df, *cols):
    return sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def test_values_keeps_datatype_and_lang(ds):
    df = sparql_df(ds, PROLOGUE + """
        SELECT ?x ?dt ?lang WHERE {
            VALUES ?x { "5"^^xsd:integer "a"@en 7 }
            BIND(DATATYPE(?x) AS ?dt)
            BIND(LANG(?x) AS ?lang)
        }""")
    assert _rows(df, "x", "dt", "lang") == [
        ("5", XSD + "integer", ""),
        ("7", XSD + "integer", ""),
        ("a", LANGSTRING, "en"),
    ]


def test_values_sameterm_matches_tagged_constant(ds):
    df = sparql_df(ds, """
        SELECT ?x WHERE {
            VALUES ?x { "a"@en }
            FILTER(sameTerm(?x, "a"@en))
        }""")
    assert _rows(df, "x") == [("a",)]
    # a plain "a" is a different term from "a"@en
    df = sparql_df(ds, """
        SELECT ?x WHERE {
            VALUES ?x { "a" }
            FILTER(sameTerm(?x, "a"@en))
        }""")
    assert _rows(df, "x") == []


def test_values_metadata_merges_with_pattern_metadata(ds):
    # both join sides carry ?x's metadata: it is no join key (the
    # lexical join matches) and the two merge field by field
    df = sparql_df(ds, PROLOGUE + """
        SELECT ?x ?dt ?lang ?lit WHERE {
            ex:d1 ex:label ?x .
            VALUES ?x { "hello"@en }
            BIND(DATATYPE(?x) AS ?dt)
            BIND(LANG(?x) AS ?lang)
            BIND(isLITERAL(?x) AS ?lit)
        }""")
    assert _rows(df, "x", "dt", "lang", "lit") == [
        ("hello", LANGSTRING, "en", True)
    ]


def test_values_undef_and_isnumeric(ds):
    # UNDEF leaves both the value and its metadata unbound; a typed
    # numeric constant is numeric by its datatype, a plain string is not
    df = sparql_df(ds, PROLOGUE + """
        SELECT ?x ?n ?dt WHERE {
            VALUES (?x) { (UNDEF) ("42") (42) }
            BIND(isNUMERIC(?x) AS ?n)
            BIND(DATATYPE(?x) AS ?dt)
        }""")
    assert _rows(df, "x", "n", "dt") == sorted(
        [
            (None, None, None),
            ("42", False, XSD + "string"),
            ("42", True, XSD + "integer"),
        ],
        key=repr,
    )


def test_union_distinct_subquery_keys_on_values_metadata(ds):
    # a DISTINCT subquery keys each var on its effective datatype/tag:
    # "5"^^xsd:integer from VALUES and a plain "5" from BIND are two terms
    df = sparql_df(ds, PROLOGUE + """
        SELECT ?x ?dt WHERE {
            { SELECT DISTINCT ?x WHERE {
                { VALUES ?x { "5"^^xsd:integer "5" } }
                UNION { BIND("5" AS ?x) }
            } }
            BIND(DATATYPE(?x) AS ?dt)
        }""")
    assert _rows(df, "x", "dt") == [
        ("5", XSD + "integer"),
        ("5", XSD + "string"),
    ]


def test_sparql_nested_quoted_literal_with_metadata_is_refused(ds):
    for inner in ('"c"@en', '"c"^^xsd:token', "5", '"c d"', '"x>>"'):
        with pytest.raises(SparqlUnsupported, match="cannot keep"):
            sparql_df(ds, PROLOGUE + f"""
                SELECT ?v WHERE {{
                    << << ex:a ex:b {inner} >> ex:d ex:e >> ex:conf ?v }}""")
    # a plain whitespace-free literal still serializes
    sparql_df(ds, PROLOGUE + """
        SELECT ?v WHERE { << << ex:a ex:b "c" >> ex:d ex:e >> ex:conf ?v }""")


def test_turtle_nested_quoted_literal_with_metadata_is_refused():
    head = "@prefix ex: <http://e/> .\n"
    for inner in ('"c"@en', '"c"^^ex:t', "5", '"c d"', '"<<c"'):
        with pytest.raises(TurtleParseError, match="cannot keep"):
            parse_turtle_text(
                head + f"<< << ex:a ex:b {inner} >> ex:d ex:e >> ex:p ex:o ."
            )
        with pytest.raises(TurtleParseError, match="cannot keep"):
            parse_turtle_text(
                head + f"ex:r ex:p << ex:d ex:e << ex:a ex:b {inner} >> >> ."
            )
    # depth 1 keeps typed/tagged literals in their own columns
    rows = parse_turtle_text(head + '<< ex:a ex:b "c d"@en >> ex:p ex:o .')
    assert rows[0]["q_o"] == "c d"
    rows = parse_turtle_text(
        head + '<< << ex:a ex:b "c" >> ex:d ex:e >> ex:p ex:o .'
    )
    assert rows[0]["q_s"] == "<< http://e/a http://e/b c >>"
