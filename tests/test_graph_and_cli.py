"""Graph operators (closure, neighbors) and the batch CLI surface."""

from __future__ import annotations

import json

import pytest

from etl_pipeline_rdf_star_spark.operators.graph import (
    neighbors,
    subclass_closure,
    transitive_closure,
)


def test_transitive_closure_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {
        ("a", "b"), ("b", "c"), ("c", "d"),
        ("a", "c"), ("b", "d"), ("a", "d"),
        ("x", "y"),
    }


def test_transitive_closure_cycle_terminates(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_neighbors_and_subclass(spark):
    rows = [
        ("e:Car", "rdfs:sub", "e:Vehicle"),
        ("e:Vehicle", "rdfs:sub", "e:Thing"),
        ("e:c1", "e:type", "e:Car"),
    ]
    triples = spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    )
    nb = neighbors(triples, "e:Car")
    assert {(r.direction, r.node) for r in nb.collect()} == {
        ("out", "e:Vehicle"),
        ("in", "e:c1"),
    }
    cl = subclass_closure(triples, subclass_pred="rdfs:sub")
    assert {(r.subclass, r.superclass) for r in cl.collect()} == {
        ("e:Car", "e:Vehicle"),
        ("e:Vehicle", "e:Thing"),
        ("e:Car", "e:Thing"),
    }


def test_cli_replay_status_list_diff_provenance(spark, tmp_path, capsys, sf_dir):
    """Drive the CLI surface in-process (reference batch_cli.py:328-433)."""
    from etl_pipeline_rdf_star_spark import cli

    wh = str(tmp_path / "wh")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "2"])
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(out) == 2 and not any(o["skipped"] for o in out)

    cli.main(["status", "--warehouse", wh])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["live_rows"] > 0 and st["committed_batches"] >= 2

    cli.main(["list", "--warehouse", wh])
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["batch_id"] for r in rows} == {"replay-00000", "replay-00001"}

    cli.main(
        ["diff", "--warehouse", wh, "--from-version", "0", "--to-version", "1"]
    )
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["added"] >= 0 and (d["added"] + d["removed"] + d["changed"]) > 0

    subj = (
        __import__("etl_pipeline_rdf_star_spark.streaming.cdc", fromlist=["CdcEngine"])
        .CdcEngine(spark, wh)
        .annotations_view()
        .select("quoted.s")
        .first()[0]
    )
    cli.main(["provenance", "--warehouse", wh, "--subject", subj])
    provs = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(provs) == 4  # 4 annotation quads per fact
    assert all(p["quoted"]["s"] == subj for p in provs)


def test_cli_export_and_query(tmp_path, capsys, sf_dir):
    from etl_pipeline_rdf_star_spark import cli

    wh = str(tmp_path / "wh2")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "1"])
    capsys.readouterr()
    out = str(tmp_path / "exp")
    cli.main(["export", "--warehouse", wh, "--what", "triples", "--out", out])
    e = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert e["rows"] > 0
    cli.main(["query", "files_per_repo", "--sf-dir", sf_dir, "--limit", "5"])
    q = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(q) == 5 and "n_files" in q[0]


def test_cli_export_batch_scoped_nquads(tmp_path, capsys, sf_dir):
    """S13 batch export: --batch scopes the dump to one ledger batch's
    snapshot (time travel); the as-of export differs from the final one
    and round-trips through the N-Quads reader."""
    from etl_pipeline_rdf_star_spark import cli
    from etl_pipeline_rdf_star_spark.session import get_spark
    from etl_pipeline_rdf_star_spark.sinks.turtle import read_turtle

    wh = str(tmp_path / "wh3")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "3"])
    capsys.readouterr()

    out0 = str(tmp_path / "b0")
    cli.main(
        ["export", "--warehouse", wh, "--what", "triples", "--fmt", "nquads",
         "--batch", "replay-00000", "--out", out0]
    )
    e0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out_final = str(tmp_path / "bfinal")
    cli.main(
        ["export", "--warehouse", wh, "--what", "triples", "--fmt", "nquads",
         "--out", out_final]
    )
    ef = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # batch 0 = pure version-0 inserts (no deletes yet): a different quad
    # count than the converged final state (which has tombstoned keys)
    assert e0["rows"] > 0 and ef["rows"] > 0 and e0["rows"] != ef["rows"]

    spark = get_spark("tests")
    assert read_turtle(spark, out0).count() == e0["rows"]

    with pytest.raises(SystemExit, match="unknown batch"):
        cli.main(
            ["export", "--warehouse", wh, "--what", "triples",
             "--batch", "nope", "--out", str(tmp_path / "x")]
        )


def test_cli_lifecycle_and_load(tmp_path, capsys, sf_dir):
    """archive/retention/load subcommands (reference batch_cli parity)."""
    from etl_pipeline_rdf_star_spark import cli

    wh = str(tmp_path / "wh4")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "2"])
    capsys.readouterr()

    with pytest.raises(SystemExit, match="unknown batch"):
        cli.main(["archive", "--warehouse", wh, "--batch", "nope"])
    cli.main(["archive", "--warehouse", wh, "--batch", "replay-00000"])
    a = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert a["status"] == "ARCHIVED"

    cli.main(["retention", "--warehouse", wh, "--keep-last", "1"])
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["expired_versions"] >= 1 and r["purged_batches"] >= 1

    out = str(tmp_path / "nq")
    cli.main(["export", "--warehouse", wh, "--what", "triples",
              "--fmt", "nquads", "--out", out])
    e = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    loaded = str(tmp_path / "loaded")
    cli.main(["load", "--infile", out, "--out", loaded])
    ld = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ld["quads"] == e["rows"]

def test_cli_load_auto_detects_own_nquads_export_dir(tmp_path, capsys, sf_dir):
    """Review finding: --fmt auto probed sorted(listdir)[0], which picked
    Spark sidecars ('_SUCCESS', '._*.crc') and misclassified the engine's
    own N-Quads export directories as Turtle. The probe must skip
    sidecars and content-sniff extensionless part files, so
    export --fmt nquads → load --fmt auto round-trips."""
    from etl_pipeline_rdf_star_spark import cli
    from etl_pipeline_rdf_star_spark.session import get_spark

    wh = str(tmp_path / "wh_rt")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "2"])
    capsys.readouterr()
    out = str(tmp_path / "nq_export")
    cli.main(
        ["export", "--warehouse", wh, "--what", "triples", "--fmt", "nquads",
         "--out", out]
    )
    e = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    loaded = str(tmp_path / "loaded_quads")
    cli.main(["load", "--infile", out, "--out", loaded])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["quads"] == e["rows"]
    spark = get_spark("tests")
    assert spark.read.parquet(loaded).count() == e["rows"]


def test_cli_load_sniff_ignores_braces_in_literals(tmp_path, capsys):
    """Review finding: the extensionless-format sniff flagged any line
    containing ' {' as Turtle — an N-Quads literal with a brace must not
    flip the format."""
    from etl_pipeline_rdf_star_spark import cli

    d = tmp_path / "nq_dir"
    d.mkdir()
    (d / "part-00000").write_text(
        '<http://e/s> <http://e/p> "code { block }" .\n'
        '<http://e/s2> <http://e/p> <http://e/o> <http://e/g> .\n'
    )
    out = str(tmp_path / "loaded")
    cli.main(["load", "--infile", str(d), "--out", out])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["quads"] == 2


def test_cli_export_turtle_and_ntriples_roundtrip(tmp_path, capsys, sf_dir):
    """S13 extension dispatch parity (reference batch_cli.py:216-242):
    .ttl = TriG restricted to the default graph (Turtle-star annotation
    statements survive), .nt = N-Quads without the graph term. Both
    round-trip through `load --fmt auto` with count parity."""
    from etl_pipeline_rdf_star_spark import cli
    from etl_pipeline_rdf_star_spark.session import get_spark

    spark = get_spark("tests")
    wh = str(tmp_path / "wh_ttl")
    cli.main(["replay", "--warehouse", wh, "--sf-dir", sf_dir, "--batches", "2"])
    capsys.readouterr()

    out_ttl = str(tmp_path / "exp_ttl")
    cli.main(
        ["export", "--warehouse", wh, "--what", "triples", "--fmt", "turtle",
         "--out", out_ttl]
    )
    e = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert e["rows"] > 0
    # no graph blocks and no graph terms anywhere: pure Turtle(-star)
    lines = spark.read.text(out_ttl)
    assert lines.count() == e["rows"]
    assert lines.where("value LIKE '%{%'").count() == 0
    loaded = str(tmp_path / "loaded_ttl")
    cli.main(["load", "--infile", out_ttl, "--out", loaded])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the auto sniff must find the `<< ... >>` annotation part files
    assert doc["quads"] == e["rows"]
    q = spark.read.parquet(loaded)
    assert q.where("graph IS NOT NULL").count() == 0
    assert q.where("subject_kind = 'quoted'").count() > 0  # star survived

    out_nt = str(tmp_path / "exp_nt")
    cli.main(
        ["export", "--warehouse", wh, "--what", "triples", "--fmt", "ntriples",
         "--out", out_nt]
    )
    e2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert e2["rows"] == e["rows"]  # same statements, different syntax
    loaded2 = str(tmp_path / "loaded_nt")
    cli.main(["load", "--infile", out_nt, "--out", loaded2])
    doc2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc2["quads"] == e2["rows"]
    q2 = spark.read.parquet(loaded2)
    assert q2.where("graph IS NOT NULL").count() == 0
    # annotations exported as blank reifier subjects in N-Triples
    assert q2.where("subject_kind = 'blank'").count() > 0


def test_cli_load_auto_sniffs_beyond_first_64_shards(tmp_path, capsys):
    """Review finding: --fmt auto probed only the first 64 part files;
    a turtle(-star) export whose `<< ... >>` annotation shards sort
    after 64 plain-statement shards was misclassified as N-Quads and
    the strict reader raised on the round-trip. The probe now
    stride-samples the whole sorted listing including the last file."""
    from etl_pipeline_rdf_star_spark import cli

    d = tmp_path / "big_ttl_dir"
    d.mkdir()
    for i in range(79):
        (d / f"part-{i:05d}").write_text(
            f"<http://e/s{i}> <http://e/p> <http://e/o> .\n"
        )
    (d / "part-00079").write_text(
        '<< <http://e/s0> <http://e/p> <http://e/o> >> '
        '<http://e/conf> "0.9" .\n'
    )
    out = str(tmp_path / "loaded80")
    cli.main(["load", "--infile", str(d), "--out", out])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["quads"] == 80


def test_cli_load_auto_probes_last_shards(tmp_path, capsys):
    """A stride of 1 (64–126 shards) sampled only shards 0–62 plus the
    last one; a turtle(-star) marker in shard 65 with an empty last shard
    was misread as N-Quads and the strict reader aborted. The probe also
    reads the last 8 shards."""
    from etl_pipeline_rdf_star_spark import cli

    d = tmp_path / "ttl70"
    d.mkdir()
    for i in range(70):
        text = f"<http://e/s{i}> <http://e/p> <http://e/o> .\n"
        if i == 65:
            text = (
                '<< <http://e/s0> <http://e/p> <http://e/o> >> '
                '<http://e/conf> "0.9" .\n'
            )
        elif i == 69:
            text = ""
        (d / f"part-{i:05d}").write_text(text)
    out = str(tmp_path / "loaded70")
    cli.main(["load", "--infile", str(d), "--out", out])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["quads"] == 69
