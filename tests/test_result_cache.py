"""The SPARQL result cache of ``QueryServer``: a repeated text on one
snapshot state is answered from the document rendered first — no parse,
no Spark job — and counted in ``/stats``; a text calling RAND, UUID,
STRUUID, NOW or BNODE is compiled and run afresh per request."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

LANG_Q = "SELECT ?s ?l WHERE { ?s <http://example.org/lang> ?l }"


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    wh = str(tmp_path_factory.mktemp("result_cache_wh"))
    eng = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    ev = spark.createDataFrame(
        [
            (0, "I", "r1", "a.py", "c1", "en", "print(1)", None),
            (1, "I", "r1", "b.py", "c1", "py", "print(2)", None),
        ],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    eng.apply_batch(ev, "rc-b0")
    srv = QueryServer(spark, eng).start()
    yield srv
    srv.stop()


def _count_parses(monkeypatch) -> dict:
    import etl_pipeline_rdf_star_spark.queries.sparql as sq

    calls = {"n": 0}
    orig = sq.parse_sparql

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(sq, "parse_sparql", counting)
    return calls


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a Spark job group; (its result, the group's jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _get(srv, path: str, accept: str | None = None) -> tuple[int, str]:
    req = urllib.request.Request(f"http://127.0.0.1:{srv.port}{path}")
    if accept:
        req.add_header("Accept", accept)
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def test_repeat_is_one_result_hit_and_no_parse(server, monkeypatch):
    parses = _count_parses(monkeypatch)
    spark = server.spark
    d1, miss_jobs = _jobs(spark, "rc-miss", lambda: server.sparql(LANG_Q))
    assert miss_jobs and parses["n"] == 1
    before = server.stats()["serving_cache"]
    d2, hit_jobs = _jobs(spark, "rc-hit", lambda: server.sparql(LANG_Q))
    after = server.stats()["serving_cache"]
    assert d2 == d1 and hit_jobs == []
    assert parses["n"] == 1  # zero parses on the repeat
    assert after["result_hits"] == before["result_hits"] + 1
    assert after["result_misses"] == before["result_misses"]
    assert after["plan_hits"] == before["plan_hits"]

    # another limit is another document, rendered from the cached plan
    assert len(server.sparql(LANG_Q, limit=1)["results"]["bindings"]) == 1
    last = server.stats()["serving_cache"]
    assert last["result_misses"] == after["result_misses"] + 1
    assert last["plan_hits"] == after["plan_hits"] + 1
    assert parses["n"] == 1


def test_cached_document_survives_other_result_formats(server):
    path = "/sparql?query=" + urllib.parse.quote(LANG_Q)
    code, first = _get(server, path)
    assert code == 200
    for accept in ("application/sparql-results+xml", "text/csv"):
        assert _get(server, path, accept)[0] == 200
    code, again = _get(server, path)
    assert code == 200 and json.loads(again) == json.loads(first)
    code, stats = _get(server, "/stats")
    cache = json.loads(stats)["serving_cache"]
    assert cache["result_hits"] >= 3 and cache["result_misses"] >= 1


def test_volatile_functions_are_fresh_per_request(server, monkeypatch):
    parses = _count_parses(monkeypatch)
    q = (
        "SELECT ?s (RAND() AS ?r) (STRUUID() AS ?u) (NOW() AS ?n) "
        "WHERE { ?s <http://example.org/lang> ?l } LIMIT 1"
    )
    before = server.stats()["serving_cache"]
    docs = [server.sparql(q) for _ in range(3)]
    rows = [d["results"]["bindings"][0] for d in docs]
    assert len({r["r"]["value"] for r in rows}) == 3
    assert len({r["u"]["value"] for r in rows}) == 3
    after = server.stats()["serving_cache"]
    assert parses["n"] == 3
    assert after["plan_hits"] == before["plan_hits"]
    assert after["result_hits"] == before["result_hits"]

    # NOW() alone is never served from the result cache either
    now_q = "SELECT ?s (NOW() AS ?n) WHERE { ?s <http://example.org/lang> ?l }"
    server.sparql(now_q)
    server.sparql(now_q)
    assert parses["n"] == 5
    assert server.stats()["serving_cache"]["result_hits"] == before["result_hits"]


@pytest.mark.parametrize(
    "text,volatile",
    [
        ("SELECT ?s WHERE { ?s ?p ?o }", False),
        ("SELECT ?s WHERE { ?s ?p ?o FILTER(STRLEN(?o) > 1) }", False),
        ("SELECT ?s WHERE { ?s ?p ?o FILTER(RAND() < 0.5) }", True),
        ("SELECT ?s WHERE { ?s ?p ?o BIND(UUID() AS ?u) }", True),
        ("SELECT ?s WHERE { { SELECT ?s (STRUUID() AS ?u) WHERE { ?s ?p ?o } } }", True),
        ("SELECT (MAX(RAND()) AS ?m) WHERE { ?s ?p ?o }", True),
        ("ASK { ?s ?p ?o FILTER(NOW() > ?o) }", True),
    ],
)
def test_calls_volatile_reads_the_parsed_query(text, volatile):
    from etl_pipeline_rdf_star_spark.queries.sparql import calls_volatile, parse_sparql

    assert calls_volatile(parse_sparql(text)) is volatile
