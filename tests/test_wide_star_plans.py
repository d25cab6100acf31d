"""SPARQL stars read the stored wide rows: the plans of the serving shapes,
and the fallbacks that keep answers exact (duplicate subjects, HTTP-loaded
quads that share a predicate with the lake)."""

from __future__ import annotations

import dataclasses
import json
import re
import urllib.request

import pytest

from etl_pipeline_rdf_star_spark.queries.sparql import (
    dataset_from_engine,
    dataset_from_quads,
    sparql_df,
    with_loaded,
)
from perfbench.gen import query_text

EX = "http://example.org/"
EVENT_DDL = (
    "seq long, op string, repo string, path string, commit string,"
    " lang string, content string, event_ts timestamp"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENT_DDL)


def _files(n: int) -> list[tuple]:
    langs = ["en", "fr", "de"]
    return [
        (i, "I", f"repo_{i % 3}", f"src/f_{i}.py", f"c{i}", langs[i % 3],
         "x" * (i * 7 % 100), None)
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def cow(spark, tmp_path_factory):
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    eng = CdcEngine(
        spark, str(tmp_path_factory.mktemp("wide_plans")), n_buckets=2, mode="cow"
    )
    eng.apply_batch(_events(spark, _files(30)), "b0")
    return eng


def _plan_counts(df) -> dict:
    """Operator counts of a never-executed frame's physical plan (an
    executed adaptive plan prints its initial and final forms)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "scans": plan.count("FileScan"),
        "generates": plan.count("Generate "),
        "joins": len(re.findall(r"\w*Join\b|CartesianProduct", plan)),
    }


SHAPES = {
    "annotation_filter": ("0.3", {"scans": 1, "generates": 0, "joins": 0}),
    "union": ("repo_1", {"scans": 1, "joins": 0}),
    "per_predicate": ("repo_1", {"scans": 1, "joins": 0}),
    "having": ("3", {"scans": 1, "generates": 0}),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_serving_shapes_plan_one_scan(cow, shape):
    const, want = SHAPES[shape]
    ds = dataset_from_engine(cow)
    text = query_text(shape, const)
    got = _plan_counts(sparql_df(ds, text))
    for k, v in want.items():
        assert got[k] == v, (shape, got)
    if shape == "union":
        assert got["generates"] <= 1, got
    # the same answers as the exploded triples relation
    generic = sparql_df(dataclasses.replace(ds, wide=None), text)
    wide = sparql_df(ds, text)
    assert wide.columns == generic.columns
    assert sorted(wide.collect()) == sorted(generic.collect())
    assert _plan_counts(generic)["scans"] > 1 or shape == "having"


def test_duplicate_subjects_fall_back(spark, tmp_path_factory):
    """``a/b.py`` and ``a_b.py`` mint one subject IRI: a same-row star
    would drop the solutions that pair one file's triples with the
    other's, so multi-pattern stars take the self join."""
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    eng = CdcEngine(
        spark, str(tmp_path_factory.mktemp("wide_dup")), n_buckets=2, mode="cow"
    )
    rows = _files(6) + [
        (10, "I", "repo_1", "a/b.py", "ca", "en", "aaa", None),
        (11, "I", "repo_1", "a_b.py", "cb", "fr", "bbbb", None),
    ]
    eng.apply_batch(_events(spark, rows), "b0")
    ds = dataset_from_engine(eng)
    assert not ds.subjects_unique()
    text = (
        f"PREFIX ex: <{EX}> SELECT ?c ?l WHERE {{ "
        f"<{EX}file/repo_1/a_b.py> ex:commit ?c ; ex:lang ?l }}"
    )
    got = sorted(tuple(r) for r in sparql_df(ds, text).collect())
    assert got == [("ca", "en"), ("ca", "fr"), ("cb", "en"), ("cb", "fr")]
    assert _plan_counts(sparql_df(ds, text))["joins"] >= 1
    # one pattern never pairs rows: it keeps the wide path
    single = f"PREFIX ex: <{EX}> SELECT ?s ?l WHERE {{ ?s ex:lang ?l }}"
    assert _plan_counts(sparql_df(ds, single))["generates"] == 0
    assert sparql_df(ds, single).count() == 8


def _load(srv, name: str) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/api/graphs/load?file={name}",
        data=b"",
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _answers(srv, text: str) -> list[tuple]:
    doc = srv.sparql(text)
    vs = doc["head"]["vars"]
    return sorted(
        tuple(b.get(v, {}).get("value") for v in vs)
        for b in doc["results"]["bindings"]
    )


def test_loaded_quads_add_to_wide_stars(spark, cow, tmp_path):
    """With HTTP-loaded quads, a star answers its wide-row solutions plus
    its solutions over the loaded quads: nothing missed, nothing twice."""
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer

    inp = tmp_path / "input"
    inp.mkdir()
    ext = f"<{EX}file/ext/x.py>"
    (inp / "ext.ttl").write_text(
        f'{ext} <{EX}lang> "xx" .\n'
        f"{ext} <{EX}repo> <{EX}repo/ext> .\n"
    )
    lake_file = f"<{EX}file/repo_1/src_f_1.py>"
    (inp / "overlap.ttl").write_text(f'{lake_file} <{EX}lang> "yy" .\n')
    srv = QueryServer(
        spark, cow, input_dir=str(inp), graph_store=str(tmp_path / "graphs")
    ).start()
    single = f"PREFIX ex: <{EX}> SELECT ?s ?l WHERE {{ ?s ex:lang ?l }}"
    star = (
        f"PREFIX ex: <{EX}> SELECT ?s ?r ?l WHERE {{ ?s ex:repo ?r ; ex:lang ?l }}"
    )
    try:
        lake_single = _answers(srv, single)
        lake_star = _answers(srv, star)
        assert len(lake_single) == len(set(lake_single)) == 30

        assert _load(srv, "ext.ttl")["tripleCount"] == 2
        ds = srv._dataset()
        assert ds.wide is not None and ds.quads is not None
        assert ds.subjects_unique()
        got = _answers(srv, single)
        assert got == sorted(lake_single + [(ext[1:-1], "xx")])
        got = _answers(srv, star)
        assert got == sorted(lake_star + [(ext[1:-1], f"{EX}repo/ext", "xx")])

        # a loaded triple about a lake subject pairs with the lake's own
        # triples: the star must take the self join to find that pair
        assert _load(srv, "overlap.ttl")["tripleCount"] == 1
        ds = srv._dataset()
        assert not ds.subjects_unique()
        got = _answers(srv, star)
        extra = (lake_file[1:-1], f"{EX}repo/repo_1", "yy")
        assert got == sorted(lake_star + [(ext[1:-1], f"{EX}repo/ext", "xx"), extra])
        generic = dataclasses.replace(ds, wide=None, quads=None)
        assert got == sorted(
            tuple(r) for r in sparql_df(generic, star).collect()
        )
        assert _answers(srv, single) == sorted(
            lake_single + [(ext[1:-1], "xx"), (lake_file[1:-1], "yy")]
        )
    finally:
        srv.stop()


def test_loaded_quads_join_lake_stars(spark, cow):
    """Two stars sharing a variable, over the lake plus loaded quads: a
    solution may take one star from a lake row and the other from a
    loaded triple, so each star unions its loaded part before the stars
    join."""
    from etl_pipeline_rdf_star_spark.sinks.turtle import (
        TURTLE_SCHEMA,
        parse_turtle_text,
    )

    ext, repo1 = f"<{EX}file/ext/x.py>", f"<{EX}repo/repo_1>"
    text = (
        f"{ext} <{EX}repo> {repo1} .\n"
        f'{repo1} <{EX}name> "one" .\n'
    )
    loaded = spark.createDataFrame(parse_turtle_text(text), TURTLE_SCHEMA)
    ds = with_loaded(dataset_from_engine(cow), dataset_from_quads(loaded))
    assert ds.subjects_unique()
    generic = dataclasses.replace(ds, wide=None, quads=None)

    def rows(d, q):
        return sorted(tuple(r) for r in sparql_df(d, f"PREFIX ex: <{EX}> {q}").collect())

    # ten lake files per repo; the loaded file joins repo_1's ten
    pairs = "SELECT ?a ?b ?r WHERE { ?a ex:repo ?r . ?b ex:repo ?r }"
    got = rows(ds, pairs)
    assert got == rows(generic, pairs)
    assert len(got) == 3 * 10 * 10 + 2 * 10 + 1
    assert sum(1 for a, b, _ in got if ext[1:-1] in (a, b)) == 21

    # a lake file's repo, described only by a loaded triple
    about = "SELECT ?f ?p ?o WHERE { ?f ex:repo ?r . ?r ?p ?o }"
    got = rows(ds, about)
    assert got == rows(generic, about)
    assert sum(1 for _, _, o in got if o == "one") == 11
