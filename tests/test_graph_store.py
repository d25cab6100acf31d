"""The HTTP graph store (``/api/graphs/load`` and ``/api/graphs/reload``)
driven over small self-written Turtle, TriG and N-Quads files, so its
load semantics, versioning and restart behaviour are covered on every
host (the workbench-fixture tests in test_owl_and_http.py need the
reference checkout)."""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

EX = "http://gs.example/"

TTL = f"""@prefix ex: <{EX}> .
ex:Movie a <http://www.w3.org/2002/07/owl#Class> .
ex:m1 a ex:Movie ; ex:title "One" .
"""

# one default-graph statement, two named graphs (block and GRAPH keyword)
TRIG = f"""@prefix ex: <{EX}> .
ex:d ex:p ex:o .
ex:g1 {{ ex:a ex:p ex:b . ex:a ex:q "x" . }}
GRAPH ex:g2 {{ ex:c ex:p ex:d . }}
"""

NQ = (
    f"<{EX}s1> <{EX}p> <{EX}o1> <{EX}gq> .\n"
    f'<{EX}s2> <{EX}p> "lit" <{EX}gq> .\n'
    f"<{EX}s3> <{EX}p> <{EX}o3> .\n"
)

COUNT_Q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    """An engine with no ingested data: every served triple comes from
    the graph store."""
    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    return CdcEngine(
        spark, str(tmp_path_factory.mktemp("gs_wh")), mode="mor", n_buckets=4
    )


@pytest.fixture
def rdf_input(tmp_path):
    """An input_dir holding one Turtle, one TriG and one N-Quads file."""
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "onto.ttl").write_text(TTL)
    (inp / "two.trig").write_text(TRIG)
    (inp / "mixed.nq").write_text(NQ)
    return inp


@pytest.fixture
def make_server(spark, engine, rdf_input, tmp_path):
    """Factory for started servers over ``rdf_input``; all share one
    graph_store unless told otherwise, and all are stopped at teardown."""
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer

    servers = []

    def make(graph_store: str | None = None):
        srv = QueryServer(
            spark,
            engine,
            input_dir=str(rdf_input),
            graph_store=graph_store or str(tmp_path / "graphs"),
        ).start()
        servers.append(srv)
        return srv

    yield make
    for srv in servers:
        srv.stop()


def _graph_counts(srv) -> dict:
    return {g["uri"]: g["tripleCount"] for g in srv.graphs_doc()["graphs"]}


def _count(doc: dict) -> int:
    return int(doc["results"]["bindings"][0]["n"]["value"])


def _http(srv, method: str, path: str) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=b"" if method == "POST" else None,
        method=method,
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_reloading_a_file_is_idempotent(make_server):
    srv = make_server()
    first = srv.load_graph_doc("onto.ttl")
    again = srv.load_graph_doc("onto.ttl")
    assert first["graph"] == again["graph"] == "http://example.org/graph/onto"
    assert first["tripleCount"] == again["tripleCount"] == 3
    assert srv._loaded_quads().count() == 3
    assert _graph_counts(srv) == {"http://example.org/graph/onto": 3}


def test_trig_keeps_its_own_graph_labels(make_server):
    srv = make_server()
    doc = srv.load_graph_doc("two.trig")
    # the path-derived graph gets nothing: TriG carries its own labels
    assert doc["tripleCount"] == 0
    assert _graph_counts(srv) == {
        "default": 1,
        f"{EX}g1": 2,
        f"{EX}g2": 1,
    }


def test_nquads_default_graph_replaced_not_duplicated(make_server, rdf_input):
    srv = make_server()
    srv.load_graph_doc("mixed.nq")
    srv.load_graph_doc("mixed.nq")
    assert _graph_counts(srv) == {"default": 1, f"{EX}gq": 2}
    # a new version of the file replaces its default-graph statement
    (rdf_input / "mixed.nq").write_text(
        NQ.replace(f"<{EX}s3> <{EX}p> <{EX}o3>", f"<{EX}s4> <{EX}p> <{EX}o4>")
    )
    srv.load_graph_doc("mixed.nq")
    assert _graph_counts(srv) == {"default": 1, f"{EX}gq": 2}
    default = srv._loaded_quads().where("graph IS NULL").collect()
    assert [r["subject"] for r in default] == [f"{EX}s4"]


def test_reload_drops_graphs_of_removed_files(make_server, rdf_input):
    srv = make_server()
    doc = srv.reload_graphs_doc()
    assert doc["totalQuads"] == 3 + 4 + 3
    # onto + g1 + g2 + gq (the default graph is not a named graph)
    assert doc["namedGraphs"] == 4
    os.unlink(rdf_input / "two.trig")
    doc = srv.reload_graphs_doc()
    assert (doc["totalQuads"], doc["namedGraphs"]) == (3 + 3, 2)
    assert _graph_counts(srv) == {
        "default": 1,
        "http://example.org/graph/onto": 3,
        f"{EX}gq": 2,
    }


def test_zero_quad_first_load_then_real_load(make_server, rdf_input):
    (rdf_input / "empty.ttl").write_text(f"# nothing here\n@prefix ex: <{EX}> .\n")
    srv = make_server()
    assert srv.load_graph_doc("empty.ttl")["tripleCount"] == 0
    assert srv._loaded_quads() is None  # empty, not broken
    assert srv.load_graph_doc("onto.ttl")["tripleCount"] == 3
    assert srv._loaded_quads().count() == 3


def test_loaded_frame_keeps_its_version_across_a_load(make_server):
    srv = make_server()
    srv.load_graph_doc("onto.ttl")
    old = srv._loaded_quads()
    assert old.count() == 3
    srv.load_graph_doc("mixed.nq")
    assert old.count() == 3  # the old frame still reads its own version
    assert srv._loaded_quads().count() == 3 + 3


def test_restarted_server_serves_loaded_graphs(make_server):
    srv = make_server()
    srv.load_graph_doc("onto.ttl")
    srv.load_graph_doc("two.trig")
    n = _count(srv.sparql(COUNT_Q))
    assert n == 3 + 4
    restarted = make_server()  # same graph_store
    assert _count(restarted.sparql(COUNT_Q)) == n
    assert _graph_counts(restarted) == _graph_counts(srv)
    # and it keeps loading on top of what it found; mixed.nq's
    # default-graph statement replaces the TriG's
    restarted.load_graph_doc("mixed.nq")
    assert restarted._loaded_quads().count() == n - 1 + 3


def test_load_message_names_entered_graphs(make_server):
    srv = make_server()
    doc = srv.load_graph_doc("two.trig")
    assert doc["message"] == (
        f"Loaded two.trig into the default graph, <{EX}g1>, <{EX}g2>"
    )
    doc = srv.load_graph_doc("onto.ttl")
    assert doc["message"] == (
        "Loaded onto.ttl into <http://example.org/graph/onto>"
    )


def test_unsupported_store_layout_fails_loudly(make_server, tmp_path):
    # a directory of per-version folders is not a graph-store table;
    # serving it would silently serve nothing
    store = tmp_path / "old_store"
    (store / "v000001").mkdir(parents=True)
    (store / "v000001" / "part-0.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match=str(store)):
        make_server(graph_store=str(store))


def test_sparql_readers_during_loads_and_reload(make_server, rdf_input):
    # readers on ThreadingHTTPServer while loads and a reload commit new
    # graph-store versions: every reply is a 200 whose count is that of
    # SOME committed version, and no reader trips over a file a newer
    # version replaced
    srv = make_server()
    path = "/sparql?query=" + urllib.parse.quote(COUNT_Q)
    srv.load_graph_doc("onto.ttl")
    committed = [_count(srv.sparql(COUNT_Q))]
    stop = threading.Event()
    seen: list[int] = []
    errors: list = []

    def reader() -> None:
        sent = 0
        while not stop.is_set() or sent < 2:
            try:
                code, doc = _http(srv, "GET", path)
            except Exception as e:  # a torn socket is a failure too
                errors.append(repr(e))
                return
            sent += 1
            if code == 200:
                seen.append(_count(doc))
            else:
                errors.append((code, doc))

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for f in ("two.trig", "mixed.nq"):
            code, doc = _http(srv, "POST", f"/api/graphs/load?file={f}")
            assert code == 200, doc
            committed.append(_count(srv.sparql(COUNT_Q)))
        os.unlink(rdf_input / "two.trig")
        code, doc = _http(srv, "POST", "/api/graphs/reload")
        assert code == 200, doc
        committed.append(_count(srv.sparql(COUNT_Q)))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []  # no 4xx/5xx, so no FileNotFoundException either
    # mixed.nq's default-graph statement replaces the TriG's
    assert committed == [3, 3 + 4, 3 + 4 - 1 + 3, 3 + 3]
    assert len(seen) >= 6
    assert set(seen) <= set(committed), (seen, committed)
