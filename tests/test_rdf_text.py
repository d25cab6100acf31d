"""N-Quads / TriG serialization round-trips (VERDICT r1 item 6).

The exported text must load back — via a third-party parser when one is
installed (rdflib), always via the repo's own strict Spark-native reader —
with an exact quad-count and term-level match.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.sinks.rdf_text import (
    nquads_lines,
    trig_lines,
    trig_star_annotation_lines,
)
from etl_pipeline_rdf_star_spark.sinks.turtle import read_turtle

NASTY = [
    ("s1", "he said \"hi\"\nand left\\now", None, None, "literal", None),
    ("s2", "tab\there", "http://www.w3.org/2001/XMLSchema#string", None,
     "literal", None),
    ("s3", "bonjour", None, "fr", "literal", "http://example.org/g1"),
    ("s4", "http://example.org/other", None, None, "iri", None),
    ("s5", "b0123abc", None, None, "blank", None),
    ("s6", "42", "http://www.w3.org/2001/XMLSchema#integer", None,
     "literal", "http://example.org/g2"),
]
SCHEMA = (
    "subject string, object string, object_datatype string, "
    "object_lang string, object_kind string, graph string"
)


def _nasty_df(spark):
    df = spark.createDataFrame(NASTY, SCHEMA)
    return df.select(
        F.concat(F.lit("http://example.org/"), "subject").alias("subject"),
        F.lit("http://example.org/p").alias("predicate"),
        "object",
        "object_datatype",
        "object_lang",
        "object_kind",
        "graph",
    )


def _canon(df):
    """Comparable set of quads; xsd:string canonicalizes to untyped."""
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    return {
        (
            r["subject"],
            r["predicate"],
            r["object"],
            None if r["object_datatype"] == xsd_s else r["object_datatype"],
            r["object_lang"],
            r["object_kind"],
            r["graph"],
        )
        for r in df.collect()
    }


COMPARE_COLS = [
    "subject", "predicate", "object", "object_datatype", "object_lang",
    "object_kind", "graph",
]


def test_nquads_roundtrip_nasty_literals(spark, tmp_path):
    df = _nasty_df(spark)
    out = str(tmp_path / "nq")
    nquads_lines(df).write.text(out)
    back = read_turtle(spark, out)
    assert _canon(back.select(*COMPARE_COLS)) == _canon(df.select(*COMPARE_COLS))


def test_trig_roundtrip_nasty_literals(spark, tmp_path):
    df = _nasty_df(spark)
    out = str(tmp_path / "trig")
    trig_lines(df).write.text(out)
    back = read_turtle(spark, out)  # reader unwraps single-statement blocks
    assert _canon(back.select(*COMPARE_COLS)) == _canon(df.select(*COMPARE_COLS))


def test_materialized_triples_roundtrip(spark, sf_dir, tmp_path):
    """Flagship asserted triples at sf0.001: export → load → exact match."""
    from etl_pipeline_rdf_star_spark.data import synth
    from etl_pipeline_rdf_star_spark.mapping.flagship import (
        flagship_ir,
        prepare_input,
    )
    from etl_pipeline_rdf_star_spark.operators.materialize import (
        materialize_document,
    )

    state = synth.expected_final_state(spark, sf_dir)
    ir = flagship_ir()
    sources = {tm: prepare_input(state) for tm in ir.triples_maps}
    triples, _ = materialize_document(sources, ir)
    triples = triples.select(*[c for c in COMPARE_COLS if c in triples.columns])
    out = str(tmp_path / "nq")
    nquads_lines(triples).write.text(out)
    back = read_turtle(spark, out)
    n = triples.count()
    assert back.count() == n
    assert _canon(back.select(*COMPARE_COLS)) == _canon(triples)


def test_malformed_line_raises(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.nq").write_text(
        "<http://a> <http://p> \"ok\" .\nthis is not a statement\n"
    )
    # the strict guard raises from inside the (single) parse pass at action
    # time — Spark surfaces it as its own exception type
    with pytest.raises(Exception, match="unparseable"):
        read_turtle(spark, str(p)).count()


def test_trig_star_annotation_shape(spark, sf_dir):
    from etl_pipeline_rdf_star_spark.data import synth
    from etl_pipeline_rdf_star_spark.mapping.flagship import (
        flagship_ir,
        prepare_input,
    )
    from etl_pipeline_rdf_star_spark.operators.materialize import (
        materialize_document,
    )

    state = synth.expected_final_state(spark, sf_dir).limit(5)
    ir = flagship_ir()
    sources = {tm: prepare_input(state) for tm in ir.triples_maps}
    _, anns = materialize_document(sources, ir)
    lines = [r["value"] for r in trig_star_annotation_lines(anns).collect()]
    assert lines and all(ln.startswith("<< <") and ln.endswith(" .") for ln in lines)
    assert any("prov#wasDerivedFrom" in ln for ln in lines)


def test_rdflib_parses_export_if_available(spark, tmp_path):
    rdflib = pytest.importorskip("rdflib")
    df = _nasty_df(spark)
    out = tmp_path / "nq"
    nquads_lines(df).write.text(str(out))
    text = "\n".join(
        p.read_text() for p in out.glob("part-*") if p.suffix != ".crc"
    )
    ds = rdflib.Dataset()
    ds.parse(data=text, format="nquads")
    assert len(list(ds.quads((None, None, None, None)))) == len(NASTY)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters=["\x00"]
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_escape_roundtrip_arbitrary_text(spark, tmp_path_factory, texts):
    """Property: ANY literal text (quotes, backslashes, newlines, tabs,
    unicode — everything but NUL, which parquet text files cannot carry)
    survives N-Quads escape → write → parse → unescape bit-identically."""
    rows = [
        (f"http://example.org/s{i}", t, "literal")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "subject string, object string, object_kind string"
    ).selectExpr(
        "subject",
        "'http://example.org/p' AS predicate",
        "object",
        "CAST(NULL AS STRING) AS object_datatype",
        "CAST(NULL AS STRING) AS object_lang",
        "object_kind",
        "CAST(NULL AS STRING) AS graph",
    )
    out = str(tmp_path_factory.mktemp("escnq"))
    nquads_lines(df).write.mode("overwrite").text(out)
    back = read_turtle(spark, out)
    got = {(r["subject"], r["object"]) for r in back.collect()}
    want = {(s, t) for s, t, _ in rows}
    assert got == want
