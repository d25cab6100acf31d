"""OWL class-restrictions explorer (round-2 VERDICT item 6) driven over
the REAL reference ontology through our own Turtle reader, plus the
ASK/CONSTRUCT result forms and the stdlib HTTP serving shim (item 5)."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest
from pyspark.sql import functions as F

ONTO = "/root/reference/rdf-data-input/ontologies/movie-database-ontology.ttl"
EX = "http://example.org/movieApp#"


@pytest.fixture(scope="module")
def onto(spark):
    if not os.path.exists(ONTO):
        pytest.skip("reference not mounted")
    from etl_pipeline_rdf_star_spark.sinks.turtle import read_turtle

    return read_turtle(spark, ONTO).persist()


def test_class_restrictions_match_ontology(onto):
    from etl_pipeline_rdf_star_spark.operators.graph import class_restrictions

    got = {
        (r.cls, r.property, r.cardinality, r.on_class)
        for r in class_restrictions(onto).collect()
    }
    # hand-read from the fixture (lines 289-332, 426-439)
    assert (f"{EX}User", f"{EX}hasUsername", "exactly 1", None) in got
    assert (f"{EX}Movie", f"{EX}hasTitle", "exactly 1", None) in got
    assert (f"{EX}User", f"{EX}hasPosted", "min 0", f"{EX}Post") in got
    assert (f"{EX}Comment", f"{EX}repliesTo", "exactly 1", f"{EX}Review") in got
    assert len(got) == 21
    assert {c for c, *_ in got} == {
        f"{EX}{n}"
        for n in ("User", "Movie", "Post", "Rating", "Review", "Comment")
    }


def test_disjoint_pairs_from_members_lists(onto):
    from etl_pipeline_rdf_star_spark.operators.graph import disjoint_class_pairs

    got = {
        (r.class_a.split("#")[-1], r.class_b.split("#")[-1])
        for r in disjoint_class_pairs(onto).collect()
    }
    # (User Movie Post Rating) all-pairs = 6, plus (Review Comment) = 7
    assert ("Comment", "Review") in got
    assert ("Movie", "User") in got
    assert len(got) == 7


def test_property_characteristics(onto):
    from etl_pipeline_rdf_star_spark.operators.graph import (
        property_characteristics,
    )

    got = property_characteristics(onto)
    kinds = {
        r.characteristic
        for r in got.where(F.col("property") == f"{EX}hasPosted").collect()
    }
    assert "ObjectProperty" in kinds
    ann = got.where(F.col("characteristic") == "AnnotationProperty")
    assert ann.count() == 5  # five governance annotation properties


# -- result forms ------------------------------------------------------------


def test_ask_json_shape(spark):
    from etl_pipeline_rdf_star_spark.serving import to_ask_json

    yes = spark.range(3)
    no = spark.range(3).where("id > 99")
    assert to_ask_json(yes) == {"boolean": True}
    assert to_ask_json(no) == {"boolean": False}
    assert to_ask_json(True) == {"boolean": True}
    assert set(to_ask_json(yes)) == {"boolean"}  # exact field layout


def test_construct_json_shape(spark):
    from etl_pipeline_rdf_star_spark.serving import to_construct_json

    df = spark.createDataFrame(
        [
            ("http://e/s", "http://e/p", "http://e/o", None, None, "iri"),
            ("http://e/s", "http://e/p", "plain lit", None, None, "literal"),
        ],
        "subject string, predicate string, object string,"
        " object_datatype string, object_lang string, object_kind string",
    )
    doc = to_construct_json(df)
    assert set(doc) == {"triples", "count"}  # reference field layout
    assert doc["count"] == 2
    assert "<http://e/s> <http://e/p> <http://e/o>" in doc["triples"]
    assert '<http://e/s> <http://e/p> "plain lit"' in doc["triples"]
    assert not any(t.endswith(" .") for t in doc["triples"])


# -- HTTP shim ---------------------------------------------------------------


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    wh = str(tmp_path_factory.mktemp("http_wh"))
    eng = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    ev = spark.createDataFrame(
        [
            (0, "I", "r1", "a.py", "c1", "en", "print(1)", None),
            (1, "I", "r1", "b.py", "c1", "en", "print(2)", None),
            (2, "U", "r1", "a.py", "c2", "en", "print(3)", None),
        ],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    eng.apply_batch(ev, "http-b0")
    srv = QueryServer(spark, eng).start()
    yield srv
    srv.stop()


def _post(srv, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}/query",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_select(server):
    code, doc = _post(
        server,
        {"sql": "SELECT repo, path FROM repo_files ORDER BY path"},
    )
    assert code == 200
    assert doc["head"]["vars"] == ["repo", "path"]
    assert len(doc["results"]["bindings"]) == 2
    assert doc["results"]["bindings"][0]["path"]["value"] == "a.py"


def test_http_ask_and_construct(server):
    code, doc = _post(
        server,
        {
            "sql": "SELECT 1 FROM rdf_triples WHERE predicate LIKE '%commit'",
            "form": "ask",
        },
    )
    assert (code, doc) == (200, {"boolean": True})
    code, doc = _post(
        server,
        {
            "sql": "SELECT * FROM rdf_triples WHERE predicate LIKE '%repo'",
            "form": "construct",
            "limit": 10,
        },
    )
    assert code == 200
    assert set(doc) == {"triples", "count"}
    assert doc["count"] == 2


def test_http_health_stats_and_errors(server):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/health"
    ) as resp:
        health = json.loads(resp.read())
    assert health["status"] == "healthy"
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/stats"
    ) as resp:
        stats = json.loads(resp.read())
    assert stats["committed_batches"] >= 1
    assert "rdf_triples" in stats["views"]
    code, doc = _post(server, {"sql": "SELECT * FROM nonexistent_table"})
    assert code == 400 and "detail" in doc


def test_http_rejects_commands_and_sees_new_commits(server, spark):
    # command guard: a DROP VIEW "query" must be rejected, not executed
    code, doc = _post(server, {"sql": "DROP VIEW rdf_triples"})
    assert code == 400 and "detail" in doc
    code, doc = _post(server, {"sql": "SELECT count(*) AS n FROM rdf_triples"})
    assert code == 200  # the view survived

    # live views: a commit AFTER server start must be visible
    ev = spark.createDataFrame(
        [(10, "I", "r2", "new.py", "c9", "fr", "print(9)", None)],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    server.engine.apply_batch(ev, "http-b1")
    code, doc = _post(
        server,
        {"sql": "SELECT 1 FROM repo_files WHERE path = 'new.py'", "form": "ask"},
    )
    assert (code, doc) == (200, {"boolean": True})


def test_http_empty_table_serves_clean_responses(spark, tmp_path):
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    eng = CdcEngine(spark, str(tmp_path / "empty_wh"), mode="mor", n_buckets=2)
    srv = QueryServer(spark, eng).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/health"
        ) as resp:
            assert json.loads(resp.read())["status"] == "empty"
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/stats"
        ) as resp:
            assert json.loads(resp.read())["table_version"] is None
        # temp views are session-global, so another server's views may
        # resolve; a view that never existed must still 400 cleanly
        code, doc = _post(srv, {"sql": "SELECT * FROM never_registered_xyz"})
        assert code == 400 and "detail" in doc  # JSON error, not torn socket
    finally:
        srv.stop()


def test_query_guard_rejects_nested_dml(server):
    """The keyword-prefix guard alone is bypassable: WITH-prefixed and
    Hive FROM-prefixed INSERTs start with allowed keywords; the parsed
    plan tree walk must reject them before execution (review finding)."""
    for sql in (
        "WITH t AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY"
        " '/tmp/guard_pwn' USING parquet SELECT * FROM t",
        "FROM (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY"
        " '/tmp/guard_pwn2' USING parquet SELECT a",
    ):
        code, doc = _post(server, {"sql": sql, "form": "ask"})
        assert code == 400, sql
        assert "reject" in doc["detail"].lower() or "Query error" in doc["detail"]
        assert not os.path.exists("/tmp/guard_pwn")
        assert not os.path.exists("/tmp/guard_pwn2")
    # plain WITH queries still pass
    code, doc = _post(
        server, {"sql": "WITH t AS (SELECT 1 AS a) SELECT a FROM t"}
    )
    assert code == 200 and doc["results"]["bindings"][0]["a"]["value"] == "1"


def test_limit_zero_honored(server):
    """limit=0 is a request for zero rows, not 'use the default'
    (review finding)."""
    code, doc = _post(
        server, {"sql": "SELECT repo FROM repo_files", "limit": 0}
    )
    assert code == 200
    assert doc["results"]["bindings"] == []


def test_http_sparql_protocol_request_shapes(server):
    """Round-3 VERDICT missing #4: the reference accepts GET /sparql?query=,
    POST with Content-Type: application/sparql-query (raw query body), and
    form-encoded POST (fastapi_sparql_server.py:212-234) — all four request
    shapes must return the SAME result document as the JSON POST."""
    import urllib.parse

    q = ("SELECT ?s ?lang WHERE { ?s <http://example.org/lang> ?lang } "
         "ORDER BY ?s")
    code, want = _post(server, {"query": q})
    # ≥2 live files carry a lang (an earlier test in this module may have
    # committed more rows — the fixture is module-scoped and live)
    assert code == 200 and len(want["results"]["bindings"]) >= 2

    base = f"http://127.0.0.1:{server.port}"
    # GET /sparql?query=
    with urllib.request.urlopen(
        f"{base}/sparql?query={urllib.parse.quote(q)}"
    ) as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == want

    # POST with application/sparql-query raw body (both endpoint paths)
    for path in ("/sparql", "/query"):
        req = urllib.request.Request(
            base + path,
            data=q.encode(),
            headers={"Content-Type": "application/sparql-query"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert json.loads(resp.read()) == want

    # form-encoded POST
    req = urllib.request.Request(
        base + "/sparql",
        data=urllib.parse.urlencode({"query": q}).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == want

    # protocol errors stay JSON: empty GET query / bad query text -> 400
    try:
        urllib.request.urlopen(f"{base}/sparql")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "detail" in json.loads(e.read())
    try:
        urllib.request.urlopen(
            f"{base}/sparql?query={urllib.parse.quote('SELECT nonsense')}"
        )
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_http_result_format_negotiation(server):
    """Accept: application/sparql-results+xml and text/csv return the W3C
    XML / CSV renderings of the same result; default stays JSON."""
    q = ("SELECT ?s ?lang WHERE { ?s <http://example.org/lang> ?lang } "
         "ORDER BY ?s LIMIT 1")
    code, jdoc = _post(server, {"query": q})
    assert code == 200
    want_s = jdoc["results"]["bindings"][0]["s"]["value"]
    base = f"http://127.0.0.1:{server.port}"

    def fetch(accept):
        req = urllib.request.Request(
            base + "/sparql", data=q.encode(),
            headers={"Content-Type": "application/sparql-query",
                     "Accept": accept},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            return resp.headers.get("Content-Type"), resp.read().decode()

    ctype, xml = fetch("application/sparql-results+xml")
    assert ctype == "application/sparql-results+xml"
    assert xml.startswith('<?xml version="1.0"?>')
    assert '<variable name="s"/>' in xml and f"<uri>{want_s}</uri>" in xml
    # well-formedness, not just substrings
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    assert root.tag == f"{ns}sparql"
    assert len(root.findall(f"{ns}results/{ns}result")) == 1

    ctype, csv_text = fetch("text/csv")
    assert ctype.startswith("text/csv")
    lines = csv_text.strip().split("\r\n")
    assert lines[0] == "s,lang"
    assert lines[1].startswith(want_s)

    # health/errors are unaffected by Accept
    req = urllib.request.Request(
        base + "/health", headers={"Accept": "text/csv"})
    with urllib.request.urlopen(req) as resp:
        assert resp.headers.get("Content-Type") == "application/json"


def test_http_describe_served(server):
    """DESCRIBE over the live endpoint returns the reference's
    construct-style triple document — the fourth query form
    (fastapi_sparql_server.py serves all four via pyoxigraph)."""
    code, doc = _post(server, {
        "query": "PREFIX ex: <http://example.org/> "
                 "DESCRIBE ?f WHERE { ?f ex:lang \"en\" }",
    })
    assert code == 200
    assert doc["count"] >= 2 * 6  # >=2 live files x 6 asserted triples
    assert all(s.startswith("<http://example.org/file/r1/") for s in doc["triples"])


def _get(srv, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}"
        ) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_explorer_batches_and_graphs(server):
    # the fixture is module-scoped and live: an earlier test may have
    # committed batch http-b1, so assert on THIS batch's row, not on a
    # pristine ledger
    code, doc = _get(server, "/batches")
    assert code == 200 and doc["count"] >= 1
    b = next(x for x in doc["batches"] if x["batchNumber"] == "http-b0")
    assert b["status"] in ("ACTIVE", "SUPERSEDED")
    assert (b["events"], b["upserts"], b["deletes"]) == (3, 3, 0)

    code, doc = _get(server, "/api/graphs")
    assert code == 200 and doc["count"] >= 1
    assert all(g["tripleCount"] > 0 for g in doc["graphs"])


def test_explorer_class_panels(server):
    cls = "http://example.org/SourceFile"
    code, doc = _get(server, f"/api/class/properties?uri={cls}")
    assert code == 200
    props = {p["prop"]: p for p in doc["properties"]}
    ident = "http://purl.org/dc/terms/identifier"
    assert props[ident]["n_subjects"] >= 2  # a.py + b.py live (+ maybe new.py)

    code, doc = _get(server, f"/api/class/individuals?uri={cls}")
    assert code == 200 and doc["count"] >= 2
    assert {"a.py", "b.py"} <= {i["label"] for i in doc["individuals"]}

    # no ontology loaded: the restrictions panel is empty, not an error
    code, doc = _get(server, f"/api/class/restrictions?uri={cls}")
    assert code == 200 and doc["count"] == 0


def test_explorer_node_panels(server):
    f = "http://example.org/file/r1/a.py"
    code, doc = _get(server, f"/api/class/neighbors?uri={f}")
    assert code == 200 and doc["count"] >= 4
    dirs = {n["direction"] for n in doc["neighbors"]}
    assert "out" in dirs

    code, doc = _get(server, f"/api/individual/details?uri={f}")
    assert code == 200
    assert doc["type"] == "http://example.org/SourceFile"
    dp = {d["prop"]: d["value"] for d in doc["dataProperties"]}
    assert dp["http://purl.org/dc/terms/identifier"] == "a.py"
    assert dp["http://example.org/commit"] == "c2"  # the U won
    links = {l["prop"]: l["target"] for l in doc["objectLinksOut"]}
    assert links["http://example.org/repo"] == "http://example.org/repo/r1"


def test_explorer_missing_param_is_400(server):
    code, doc = _get(server, "/api/class/properties")
    assert code == 400 and "uri" in doc["detail"]


def test_batches_doc_tolerates_pre_lifecycle_ledger(server, spark):
    # an old table's raw ledger has no status/counter columns;
    # Row.__getitem__ would raise ValueError → misleading HTTP 400
    # (advisor finding) — the document degrades to nulls instead
    import types

    lv = spark.createDataFrame([("old-b0",)], "batch_id string")
    srv2 = object.__new__(type(server))
    srv2.engine = types.SimpleNamespace(ledger_view=lambda: lv)
    srv2.max_limit = server.max_limit
    doc = type(server).batches_doc(srv2)
    assert doc["count"] == 1
    b = doc["batches"][0]
    assert b["batchNumber"] == "old-b0"
    assert b["status"] is None and b["events"] is None


# -- graph management (rdf-workbench.py:655-714,474-628) ----------------------

REF_INPUT = "/root/reference/rdf-data-input"
REF_TRIG = "/root/reference/output/batch_simulation/two_batches.trig"


def _post_empty(srv, path: str) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=b"", method="POST"
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def gm_server(spark, tmp_path_factory):
    """A server with an input_dir holding the reference's own workbench
    fixtures (movie ontology + individuals) and its TriG batch export,
    plus one ingested CDC batch — so HTTP-loaded graphs and lake-derived
    triples serve from ONE dataset."""
    import shutil

    if not os.path.isdir(REF_INPUT):
        pytest.skip("reference not mounted")
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    inp = tmp_path_factory.mktemp("rdf_input")
    (inp / "ontologies").mkdir()
    (inp / "individuals").mkdir()
    (inp / "exports").mkdir()
    shutil.copy(
        f"{REF_INPUT}/ontologies/movie-database-ontology.ttl",
        inp / "ontologies",
    )
    shutil.copy(f"{REF_INPUT}/individuals/movie_data.ttl", inp / "individuals")
    shutil.copy(REF_TRIG, inp / "exports")
    wh = str(tmp_path_factory.mktemp("gm_wh"))
    eng = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    ev = spark.createDataFrame(
        [(0, "I", "r9", "z.py", "c1", "en", "print(9)", None)],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    eng.apply_batch(ev, "gm-b0")
    srv = QueryServer(
        spark,
        eng,
        input_dir=str(inp),
        graph_store=str(tmp_path_factory.mktemp("gm_graphs")),
    ).start()
    yield srv
    srv.stop()


def test_graphs_load_ontology_over_http(gm_server):
    code, doc = _post_empty(
        gm_server,
        "/api/graphs/load?file=ontologies/movie-database-ontology.ttl",
    )
    assert code == 200
    assert doc["graph"] == (
        "http://example.org/graph/ontologies/movie-database-ontology"
    )
    assert doc["tripleCount"] == 344  # the file's full quad count
    # idempotent: loading the same file again replaces its graph
    code, doc = _post_empty(
        gm_server,
        "/api/graphs/load?file=ontologies/movie-database-ontology.ttl",
    )
    assert code == 200 and doc["tripleCount"] == 344

    code, doc = _get(gm_server, "/api/graphs")
    assert code == 200
    counts = {g["uri"]: g["tripleCount"] for g in doc["graphs"]}
    assert counts[
        "http://example.org/graph/ontologies/movie-database-ontology"
    ] == 344


def test_ontologies_endpoint(gm_server):
    _post_empty(
        gm_server,
        "/api/graphs/load?file=ontologies/movie-database-ontology.ttl",
    )
    code, doc = _get(gm_server, "/ontologies")
    assert code == 200
    assert set(doc) == {
        "classes", "objectProperties", "datatypeProperties", "counts",
    }
    # like the reference, one row per (class, parent): classes with
    # several subClassOf axioms (named parent + restriction bnodes)
    # repeat
    classes = {c["uri"]: c for c in doc["classes"]}
    movie = classes["http://example.org/movieApp#Movie"]
    assert movie["label"] == "Movie"
    assert movie["comment"]  # the fixture declares rdfs:comment
    parents = {(c["uri"], c["parent"]) for c in doc["classes"]}
    assert (
        "http://example.org/movieApp#Review",
        "http://example.org/movieApp#Post",
    ) in parents
    assert set(classes) == {
        f"http://example.org/movieApp#{n}"
        for n in ("User", "Movie", "Post", "Review", "Comment", "Rating")
    }
    obj = {p["uri"]: p for p in doc["objectProperties"]}
    rates = obj["http://example.org/movieApp#ratesMovie"]
    assert rates["domain"] == "http://example.org/movieApp#Rating"
    assert rates["range"] == "http://example.org/movieApp#Movie"
    dt = {p["uri"]: p for p in doc["datatypeProperties"]}
    assert "http://example.org/movieApp#hasYear" in dt
    assert doc["counts"]["classes"] == len(doc["classes"])


def test_trig_load_and_sparql_roundtrip(gm_server):
    # the reference engine's own TriG batch export loads over HTTP with
    # its own graph labels; /api/graphs matches the file's self-declared
    # per-batch quadCount (32 each), and the reifier annotations answer
    # SPARQL-star patterns through POST /sparql
    code, doc = _post_empty(
        gm_server, "/api/graphs/load?file=exports/two_batches.trig"
    )
    assert code == 200  # derived graph gets 0 rows: TriG keeps own graphs
    assert doc["tripleCount"] == 0

    code, doc = _get(gm_server, "/api/graphs")
    counts = {g["uri"]: g["tripleCount"] for g in doc["graphs"]}
    assert counts["http://example.org/batch/2026-02-15T10:00:00Z"] == 32
    assert counts["http://example.org/batch/2026-02-17T10:00:00Z"] == 32

    code, doc = _post(gm_server, {"sparql": """
        PREFIX schema: <http://schema.org/>
        SELECT ?cust ?score ?src WHERE {
            << ?cust schema:creditScore ?score >>
                <http://www.w3.org/ns/prov#wasDerivedFrom> ?src . }"""})
    assert code == 200
    assert len(doc["results"]["bindings"]) == 8

    # lake-derived triples and HTTP-loaded graphs serve from ONE dataset
    code, doc = _post(gm_server, {"sparql": """
        SELECT (COUNT(*) AS ?n) WHERE {
            { ?s a <http://example.org/SourceFile> }
            UNION
            { ?s a <http://www.w3.org/2002/07/owl#Class> } }"""})
    assert code == 200
    n = int(doc["results"]["bindings"][0]["n"]["value"])
    assert n == 1 + 6  # one ingested file + six owl:Class definitions


def test_graphs_reload_all(gm_server):
    code, doc = _post_empty(gm_server, "/api/graphs/reload")
    assert code == 200
    assert doc["message"] == "Reloaded all files"
    assert doc["totalQuads"] == 344 + 279 + 80
    assert doc["namedGraphs"] == 5  # onto + individuals + 3 TriG graphs


def test_graphs_load_guards(gm_server):
    code, doc = _post_empty(gm_server, "/api/graphs/load?file=missing.ttl")
    assert code == 404 and "not found" in doc["detail"].lower()
    code, doc = _post_empty(
        gm_server, "/api/graphs/load?file=../../etc/passwd"
    )
    assert code == 400
    code, doc = _post_empty(gm_server, "/api/graphs/load")
    assert code == 400 and "file" in doc["detail"]


def _commit(srv, seq: int, path: str, batch_id: str) -> None:
    """Ingest one new file through the server's engine (a new snapshot)."""
    ev = srv.spark.createDataFrame(
        [(seq, "I", "r1", path, "c9", "en", f"print({seq})", None)],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    srv.engine.apply_batch(ev, batch_id)


def _count_calls(monkeypatch, module, name: str) -> dict:
    """Patch module.name with a call-counting wrapper; {"n": calls}."""
    seen = {"n": 0}
    real = getattr(module, name)

    def counting(*args, **kwargs):
        seen["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, counting)
    return seen


def test_sparql_plan_cache_skips_parse_on_repeat(server, monkeypatch):
    # round-5 verdict ask #3: a repeated identical query must not
    # re-parse/re-compile; a new table version must invalidate the plan
    import etl_pipeline_rdf_star_spark.http_serving as hs
    import etl_pipeline_rdf_star_spark.queries.sparql as sq

    calls = {"n": 0}
    real = sq.parse_sparql

    def counting(text):
        calls["n"] += 1
        return real(text)

    monkeypatch.setattr(sq, "parse_sparql", counting)
    views = _count_calls(monkeypatch, hs, "register_views")
    datasets = _count_calls(monkeypatch, sq, "dataset_from_engine")
    # start on a snapshot no earlier test in this module has served
    _commit(server, 100, "plancache.py", "http-plancache")
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    d1 = server.sparql(q)
    assert calls["n"] == 1
    d2 = server.sparql(q)
    assert calls["n"] == 1  # cache hit: zero parser invocations
    assert d1 == d2

    # distinct texts on the same snapshot compile against ONE dataset and
    # never touch the SQL temp views
    server.sparql("SELECT ?s WHERE { ?s <http://example.org/lang> ?l }")
    server.sparql("ASK { ?s <http://example.org/commit> ?c }")
    assert calls["n"] == 3
    assert views["n"] == 0
    assert datasets["n"] == 1

    # an ingest commit bumps the table version → the plan recompiles and
    # the result reflects the new snapshot
    _commit(server, 99, "cachebust.py", "http-cachebust")
    d3 = server.sparql(q)
    assert calls["n"] == 4
    assert int(d3["results"]["bindings"][0]["n"]["value"]) > int(
        d1["results"]["bindings"][0]["n"]["value"]
    )
    assert views["n"] == 0
    assert datasets["n"] == 2  # one dataset per snapshot
    cache = server.stats()["serving_cache"]
    assert cache["key"] == [server.engine.table.snapshot().version, 0]


def test_graph_load_rebuilds_dataset(server, tmp_path, monkeypatch):
    # an HTTP graph load bumps the graph epoch: the next request must
    # build a new dataset and see the loaded graph
    import etl_pipeline_rdf_star_spark.queries.sparql as sq
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer

    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "extra.ttl").write_text(
        "<http://epoch.example/s> <http://epoch.example/p> "
        "<http://epoch.example/o> .\n"
    )
    srv = QueryServer(
        server.spark,
        server.engine,
        input_dir=str(inp),
        graph_store=str(tmp_path / "graphs"),
    ).start()
    datasets = _count_calls(monkeypatch, sq, "dataset_from_engine")
    q = "SELECT ?o WHERE { <http://epoch.example/s> <http://epoch.example/p> ?o }"
    try:
        assert srv.sparql(q)["results"]["bindings"] == []
        assert datasets["n"] == 1
        code, doc = _post_empty(srv, "/api/graphs/load?file=extra.ttl")
        assert code == 200 and doc["tripleCount"] == 1
        code, doc = _post(srv, {"sparql": q})
        assert code == 200
        assert [b["o"]["value"] for b in doc["results"]["bindings"]] == [
            "http://epoch.example/o"
        ]
        assert datasets["n"] == 2
        assert srv.stats()["serving_cache"]["key"][1] == 1
    finally:
        srv.stop()


def test_sql_views_registered_once_per_snapshot(server, monkeypatch):
    import etl_pipeline_rdf_star_spark.http_serving as hs

    views = _count_calls(monkeypatch, hs, "register_views")
    _commit(server, 300, "views1.py", "http-views-1")
    body = {"sql": "SELECT count(*) AS n FROM repo_files"}
    code1, d1 = _post(server, body)
    code2, d2 = _post(server, body)
    assert code1 == code2 == 200 and d1 == d2
    assert views["n"] == 1
    code, stats = _get(server, "/stats")
    assert code == 200
    cache = stats["serving_cache"]
    # views follow (table, ledger, metrics) versions; SQL never builds
    # the SPARQL state
    assert cache["views_key"][0] == stats["table_version"]
    assert "rdf_triples" in stats["views"]
    assert views["n"] == 1  # /stats builds nothing

    # a commit makes the next /query register the views again and see it
    _commit(server, 301, "views2.py", "http-views-2")
    code, doc = _post(
        server,
        {"sql": "SELECT 1 FROM repo_files WHERE path = 'views2.py'", "form": "ask"},
    )
    assert (code, doc) == (200, {"boolean": True})
    assert views["n"] == 2


def test_sql_batch_views_follow_ledger_only_writes(server):
    # archive_batch writes only the batch ledger, not the data table: the
    # batches view must still show the new status on the next /query
    _commit(server, 310, "ledger.py", "http-ledger")
    body = {"sql": "SELECT status FROM batches WHERE batch_id = 'http-ledger'"}

    def status() -> list:
        code, doc = _post(server, body)
        assert code == 200, doc
        return [b["status"]["value"] for b in doc["results"]["bindings"]]

    assert status() == ["ACTIVE"]
    version = server.engine.table.snapshot().version
    server.engine.archive_batch("http-ledger")
    assert server.engine.table.snapshot().version == version
    assert status() == ["ARCHIVED"]


def test_sql_views_reregistered_after_foreign_registration(server, tmp_path):
    # temp views are session-global: another engine's register_views in
    # the same session must not shadow this server's views past one call
    from etl_pipeline_rdf_star_spark.serving import register_views
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    body = {"sql": "SELECT 1 FROM repo_files WHERE path = 'foreign.py'", "form": "ask"}
    _commit(server, 320, "foreign.py", "http-foreign")
    assert _post(server, body) == (200, {"boolean": True})
    other = CdcEngine(server.spark, str(tmp_path / "other"))
    ev = server.spark.createDataFrame(
        [(1, "I", "r9", "other.py", "c1", "en", "print(1)", None)],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    other.apply_batch(ev, "other-1")
    register_views(server.spark, other)
    assert _post(server, body) == (200, {"boolean": True})


def test_explorer_dataset_does_not_wait_on_sql_analysis(server):
    # explorer panels read the SPARQL dataset: a /query holding the view
    # lock (registration + analysis) must not block them
    import threading

    server._dataset()  # build outside the timed section
    got: list = []
    with server._view_lock:
        t = threading.Thread(target=lambda: got.append(server._dataset()))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert got and got[0].triples is not None


def test_concurrent_sparql_readers_see_whole_snapshots(server):
    # readers on ThreadingHTTPServer while ingest commits land: every
    # reply is a 200 whose count is that of SOME committed snapshot
    import threading
    import urllib.parse

    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    path = "/sparql?query=" + urllib.parse.quote(q)

    def count(doc: dict) -> int:
        return int(doc["results"]["bindings"][0]["n"]["value"])

    committed = [count(server.sparql(q))]
    stop = threading.Event()
    seen: list[int] = []
    errors: list = []

    def reader() -> None:
        sent = 0
        while not stop.is_set() or sent < 2:
            try:
                code, doc = _get(server, path)
            except Exception as e:  # a torn socket is a failure too
                errors.append(repr(e))
                return
            sent += 1
            if code == 200:
                seen.append(count(doc))
            else:
                errors.append((code, doc))

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(2):
            _commit(server, 400 + i, f"concurrent{i}.py", f"http-conc-{i}")
            committed.append(count(server.sparql(q)))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert committed == sorted(set(committed))  # each commit adds triples
    assert len(seen) >= 6
    assert set(seen) <= set(committed), (seen, committed)


# -- round-5 review findings --------------------------------------------------


def test_ontologies_filters_anonymous_classes(gm_server):
    # an anonymous class declaration ([ a owl:Class ]) must not surface
    # as a garbage index entry (review finding: bare bnode labels in
    # subject position sniffed 'literal', so FILTER(!isBLANK(?cls))
    # never filtered them)
    import re as _re

    p = os.path.join(gm_server.input_dir, "ontologies", "anon_class.ttl")
    with open(p, "w") as f:
        f.write(
            "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
            "@prefix ex: <http://anon.example/> .\n"
            "[ a owl:Class ] .\n"
            "ex:Named a owl:Class .\n"
        )
    try:
        code, _ = _post_empty(
            gm_server, "/api/graphs/load?file=ontologies/anon_class.ttl"
        )
        assert code == 200
        code, doc = _get(gm_server, "/ontologies")
        assert code == 200
        uris = {c["uri"] for c in doc["classes"]}
        assert "http://anon.example/Named" in uris
        # every listed class is an absolute IRI — no bnode labels
        assert all(
            _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", u) for u in uris
        ), uris
    finally:
        os.unlink(p)


def test_graph_load_does_not_break_inflight_readers(gm_server):
    # MVCC store (review finding): a load used to rewrite the store
    # directory in place, deleting the parquet files an in-flight
    # query's plan had already listed — the scan then died with
    # FileNotFoundException. A reader pinned to the old version must
    # stay collectable across a concurrent load.
    # self-sufficient: seed the store (don't rely on earlier module
    # tests having loaded anything)
    code, _ = _post_empty(
        gm_server, "/api/graphs/load?file=individuals/movie_data.ttl"
    )
    assert code == 200
    old = gm_server._loaded_quads()
    assert old is not None
    n_before = old.count()
    p = os.path.join(gm_server.input_dir, "inflight_extra.ttl")
    with open(p, "w") as f:
        f.write("<http://inflight.example/s> <http://inflight.example/p> "
                "<http://inflight.example/o> .\n")
    try:
        code, _ = _post_empty(
            gm_server, "/api/graphs/load?file=inflight_extra.ttl"
        )
        assert code == 200
        # the OLD DataFrame still reads its full snapshot
        assert old.count() == n_before
        # and the new version serves the union
        assert gm_server._loaded_quads().count() == n_before + 1
    finally:
        os.unlink(p)


def test_graph_load_symlink_escape_rejected(gm_server, tmp_path):
    # realpath traversal guard (review finding): a symlink planted
    # inside input_dir must not load an out-of-tree file
    secret = tmp_path / "secret.ttl"
    secret.write_text(
        "<http://secret.example/s> <http://secret.example/p> "
        "<http://secret.example/o> .\n"
    )
    link = os.path.join(gm_server.input_dir, "link.ttl")
    os.symlink(str(secret), link)
    try:
        code, doc = _post_empty(
            gm_server, "/api/graphs/load?file=link.ttl"
        )
        assert code == 400
        assert "invalid" in doc["detail"].lower()
    finally:
        os.unlink(link)


def test_empty_first_load_does_not_wedge_store(gm_server, tmp_path_factory):
    # second-pass review finding: a first load parsing to ZERO quads
    # wrote a version dir holding only _SUCCESS; every later read then
    # raised 'unable to infer schema' and the store was wedged until a
    # full reload. The reader treats a data-less version as empty and
    # the next load must still work.
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer

    srv = QueryServer(
        gm_server.spark,
        gm_server.engine,
        input_dir=gm_server.input_dir,
        graph_store=str(tmp_path_factory.mktemp("empty_first")),
    )
    p = os.path.join(gm_server.input_dir, "only_comments.ttl")
    with open(p, "w") as f:
        f.write("# nothing here\n@prefix ex: <http://e/> .\n")
    try:
        doc = srv.load_graph_doc("only_comments.ttl")
        assert doc["tripleCount"] == 0
        assert srv._loaded_quads() is None  # empty, not broken
        # a subsequent real load still works (the carry-forward read
        # of the empty version must not crash)
        doc = srv.load_graph_doc("individuals/movie_data.ttl")
        assert doc["tripleCount"] == 279
        assert srv._loaded_quads().count() == 279
    finally:
        os.unlink(p)
