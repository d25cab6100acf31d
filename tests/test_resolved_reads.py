"""Reads resolve per snapshot, not per engine mode.

The writer's ``mode`` (COW or MoR) picks only how ``apply_batch`` writes.
Every reader — a default ``CdcEngine``, ``QueryServer`` on top of one, the
batch CLI — must serve the same live rows from the same files, because the
table's manifest marks the delta files that need read-time resolution.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

from etl_pipeline_rdf_star_spark.storage.lake import LakeTable
from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

EVENT_SCHEMA = (
    "seq long, op string, repo string, path string, commit string,"
    " lang string, content string, event_ts timestamp"
)


def _mor_warehouse(spark, wh: str, n_buckets: int = 4) -> CdcEngine:
    """Two uncompacted MoR batches: insert a.py and b.py at c1, then update
    a.py to c2 and delete b.py. Live state: a.py@c2 only."""
    eng = CdcEngine(spark, wh, mode="mor", n_buckets=n_buckets)
    eng.apply_batch(
        spark.createDataFrame(
            [
                (1, "I", "r1", "a.py", "c1", "en", "print(1)", None),
                (2, "I", "r1", "b.py", "c1", "en", "print(2)", None),
            ],
            EVENT_SCHEMA,
        ),
        "b0",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (3, "U", "r1", "a.py", "c2", "en", "print(3)", None),
                (4, "D", "r1", "b.py", "c1", "en", "", None),
            ],
            EVENT_SCHEMA,
        ),
        "b1",
    )
    return eng


def _state(eng: CdcEngine) -> list[tuple[str, str, str]]:
    return sorted(
        (r["repo"], r["path"], r["commit"]) for r in eng.current_state().collect()
    )


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_default_engine_reads_mor_warehouse_resolved(spark, tmp_path):
    wh = str(tmp_path / "wh")
    writer = _mor_warehouse(spark, wh)
    assert _state(writer) == [("r1", "a.py", "c2")]
    assert _state(CdcEngine(spark, wh)) == _state(writer)


def test_query_server_on_default_engine_counts_resolved(spark, tmp_path):
    from etl_pipeline_rdf_star_spark.http_serving import QueryServer

    wh = str(tmp_path / "wh")
    writer = _mor_warehouse(spark, wh)
    q = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    counts = []
    for eng in (writer, CdcEngine(spark, wh)):
        srv = QueryServer(spark, eng).start()
        try:
            url = (
                f"http://127.0.0.1:{srv.port}/sparql?query="
                + urllib.parse.quote(q)
            )
            with urllib.request.urlopen(url) as resp:
                doc = json.loads(resp.read())
        finally:
            srv.stop()
        counts.append(int(doc["results"]["bindings"][0]["n"]["value"]))
    assert counts[0] > 0
    assert counts[1] == counts[0]


def test_cli_status_and_export_report_resolved_rows(spark, tmp_path, capsys):
    from etl_pipeline_rdf_star_spark import cli

    wh = str(tmp_path / "wh")
    _mor_warehouse(spark, wh)
    cli.main(["status", "--warehouse", wh])
    st = _last_json(capsys)
    assert st["live_rows"] == 1
    assert st["total_rows"] == 4  # every stored version, tombstone included
    out = str(tmp_path / "state")
    cli.main(["export", "--warehouse", wh, "--what", "state", "--out", out])
    assert _last_json(capsys)["rows"] == 1


def test_cli_diff_counts_update_and_delete(spark, tmp_path, capsys):
    from etl_pipeline_rdf_star_spark import cli

    wh = str(tmp_path / "wh")
    _mor_warehouse(spark, wh)
    cli.main(["diff", "--warehouse", wh, "--from-version", "0", "--to-version", "1"])
    d = _last_json(capsys)
    assert (d["added"], d["removed"], d["changed"]) == (0, 1, 1)


def test_purge_on_uncompacted_mor_leaves_no_duplicate_keys(spark, tmp_path):
    # one bucket: the purge rewrites the bucket that still holds both of
    # a.py's versions, so the rewrite must stay marked as a delta file
    eng = _mor_warehouse(spark, str(tmp_path / "wh"), n_buckets=1)
    eng.purge_tombstones()
    assert eng.table.read().where("path = 'b.py'").count() == 0
    rows = eng.table.read_resolved(keep_deleted=True).collect()
    keys = [(r["repo"], r["path"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert _state(eng) == [("r1", "a.py", "c2")]


def test_manifest_marks_delta_files(spark, tmp_path):
    schema = "k string, seq long, _deleted boolean"
    mor = LakeTable(spark, str(tmp_path / "mor"), key_cols=["k"], n_buckets=2)
    mor.merge_mor(spark.createDataFrame([("a", 1, False)], schema), "b0")
    assert mor.snapshot().files and all(f.get("delta") for f in mor.snapshot().files)
    mor.merge_mor(spark.createDataFrame([("a", 2, False)], schema), "b1")
    assert [r["seq"] for r in mor.read_resolved().collect()] == [2]
    mor.compact()
    assert not mor.snapshot().has_deltas
    assert mor.snapshot().summary == {"batch_id": "compact-1"}

    cow = LakeTable(spark, str(tmp_path / "cow"), key_cols=["k"], n_buckets=2)
    cow.create(spark.createDataFrame([("a", 1, False), ("b", 1, False)], schema))
    cow.merge(spark.createDataFrame([("a", 2, True)], schema), "b1", order_col="seq")
    assert not cow.snapshot().has_deltas
    plan = cow.read_resolved()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert [r["k"] for r in cow.read_resolved().collect()] == ["b"]
