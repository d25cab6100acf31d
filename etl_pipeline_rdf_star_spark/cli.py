"""Batch CLI — the reference's ``batch_cli.py`` surface over the CDC engine.

Subcommands (reference batch_cli.py:328-433):

  replay      run the deterministic event log into a warehouse (cmd_run)
  list        ledger listing (cmd_list)
  status      table + ledger summary (cmd_status)
  diff        added/removed/changed keys between two table versions
              (cmd_diff; batch_manager.py:460-496)
  export      dump live rows or the triples view to parquet, or the
              triples as N-Quads / N-Triples / TriG / Turtle(-star) text
              (cmd_export; batch_manager.py:607-639)
  archive     mark one batch ARCHIVED
  retention   expire old snapshots, mark unreachable batches PURGED
  load        Turtle/TriG(-star), N-Triples or N-Quads file(s) → a
              parquet quad table, through the one RDF text reader
  provenance  annotation quads for one subject (batch_manager.py:641-696)
  query       run a named corpus query

Usage: ``python -m etl_pipeline_rdf_star_spark.cli <cmd> ...``
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(cores: str | int | None = None):
    from .session import get_spark

    s = get_spark("rdfstar-cli", cores=cores)
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_replay(args) -> None:
    from .data import synth
    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse, n_buckets=args.n_buckets)
    ev = synth.cdc_events(spark, args.sf_dir)
    results = eng.replay(ev, num_batches=args.batches)
    for r in results:
        print(
            json.dumps(
                {
                    "batch_id": r.batch_id,
                    "events": r.events,
                    "upserts": r.upserts,
                    "deletes": r.deletes,
                    "skipped": r.merge.skipped,
                }
            )
        )


def cmd_list(args) -> None:
    from .storage.lake import LakeTable

    spark = _spark(args.cores)
    ledger = LakeTable(spark, f"{args.warehouse}/_batches").read()
    for row in ledger.orderBy("table_version").collect():
        print(json.dumps(row.asDict()))


def cmd_status(args) -> None:
    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)
    snap = eng.table.snapshot()
    print(
        json.dumps(
            {
                "table_version": snap.version,
                "data_files": len(snap.files),
                "committed_batches": len(snap.committed_batches),
                "live_rows": eng.current_state().count(),
                "total_rows": eng.table.read().count(),
            }
        )
    )


def cmd_diff(args) -> None:
    """Anti-join diff between two snapshot versions (J6/J7)."""
    from pyspark.sql import functions as F

    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)

    def live(v):
        return eng.table.read_resolved(version=v).select("repo", "path", "commit")

    old, new = live(args.from_version), live(args.to_version)
    added = new.join(old, ["repo", "path"], "left_anti").count()
    removed = old.join(new, ["repo", "path"], "left_anti").count()
    changed = (
        new.alias("n")
        .join(old.alias("o"), ["repo", "path"])
        .where(F.col("n.commit") != F.col("o.commit"))
        .count()
    )
    print(
        json.dumps(
            {
                "from": args.from_version,
                "to": args.to_version,
                "added": added,
                "removed": removed,
                "changed": changed,
            }
        )
    )


def cmd_export(args) -> None:
    """Export (reference batch_cli.py:216-242 / batch_manager.py:607-639):

    * ``parquet``  — relational dump of state or triples
    * ``nquads``   — strict W3C N-Quads 1.1 of the asserted triples plus
      annotation quads (blank reifier subjects); the rdf:reifies link is
      RDF-star-only and therefore omitted here
    * ``trig``     — TriG of the asserted triples plus TriG-star
      annotation statements (``<< s p o >> pred obj .``), mirroring the
      reference's TriG-star serializer (rdf_star_etl_yarrrml.py:611-648)
    * ``turtle``   — Turtle(-star): trig restricted to the default graph
      (reference extension dispatch, batch_cli.py:216-242 — ``.ttl``
      drops graph blocks)
    * ``ntriples`` — N-Triples: nquads without the graph term
    """
    from pyspark.sql import functions as _F

    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)

    # S13 batch scoping: --version exports the table AS OF that snapshot
    # (time travel), --batch exports the state as of one ledger batch's
    # table_version (reference: dump one named graph, batch_cli.py:216-242)
    version = args.version
    if args.batch is not None:
        row = (
            eng.ledger_view()
            .where(_F.col("batch_id") == args.batch)
            .select("table_version")
            .first()
        )
        if row is None:
            raise SystemExit(f"unknown batch id: {args.batch}")
        version = int(row["table_version"])

    def state_at():
        return eng.table.read_resolved(version=version).select(
            "repo", "path", "commit", "lang", "content"
        )

    if args.fmt == "parquet":
        df = (
            eng.triples_view(state_at())
            if args.what == "triples"
            else state_at()
        )
        df.write.mode("overwrite").parquet(args.out)
        n = df.count()
    else:
        from pyspark.sql import functions as F

        from .sinks.rdf_text import (
            nquads_lines,
            trig_lines,
            trig_star_annotation_lines,
        )

        triples = eng.triples_view(state_at())
        anns = eng.annotations_view(state_at())
        if args.fmt in ("nquads", "ntriples"):
            # ntriples = nquads restricted to the default graph
            # (reference extension dispatch, batch_manager.py:607-639:
            # .nt drops the graph term)
            gcols = ["graph"] if args.fmt == "nquads" else []
            if args.fmt == "ntriples":
                triples = triples.drop("graph")
            ann_quads = anns.select(
                F.col("reifier").alias("subject"),
                F.lit("blank").alias("subject_kind"),
                "predicate",
                "object",
                "object_datatype",
                "object_lang",
                "object_kind",
                *gcols,
            )
            lines = nquads_lines(triples).unionByName(nquads_lines(ann_quads))
        else:  # trig / turtle (+star)
            # turtle = trig restricted to the default graph: dropping
            # the graph column makes every statement render bare
            if args.fmt == "turtle":
                triples = triples.drop("graph")
            lines = trig_lines(triples).unionByName(
                trig_star_annotation_lines(anns)
            )
        lines.write.mode("overwrite").text(args.out)
        n = lines.count()
    print(json.dumps({"exported": args.what, "to": args.out, "rows": n}))


def cmd_archive(args) -> None:
    """ARCHIVED transition for one batch (reference batch_cli archive).
    Unknown ids fail BEFORE any ledger write (a typo must not persist a
    phantom status row)."""
    from pyspark.sql import functions as F

    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)
    row = eng.ledger_view().where(F.col("batch_id") == args.batch).first()
    if row is None:
        raise SystemExit(f"unknown batch id: {args.batch}")
    eng.archive_batch(args.batch)
    row = eng.ledger_view().where(F.col("batch_id") == args.batch).first()
    print(json.dumps({"batch_id": args.batch, "status": row["status"]}))


def cmd_retention(args) -> None:
    """Expire old snapshots + mark unreachable batches PURGED (reference
    batch_manager.py:594-605 delete-older-than)."""
    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)
    res = eng.retention(keep_last_versions=args.keep_last)
    print(json.dumps(res))


def cmd_load(args) -> None:
    """S11: load an RDF file or directory into a parquet quad table
    (reference rdf-workbench.py:99-133 load_rdf_file). Turtle/TriG(-star),
    N-Triples and N-Quads all load through the one RDF text reader, so no
    format is chosen or guessed. ``--graph`` is the target graph of
    statements without a graph of their own (no TriG block or N-Quads
    label); explicit graphs win."""
    from .sinks.turtle import read_turtle

    spark = _spark(args.cores)
    df = read_turtle(spark, args.infile, graph=args.graph)
    df.write.mode("overwrite").parquet(args.out)
    # count from the written parquet footers — NOT df.count(), which would
    # re-run the whole parse a second time (review finding)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"loaded": args.infile, "to": args.out, "quads": n}))


def cmd_provenance(args) -> None:
    from pyspark.sql import functions as F

    from .streaming.cdc import CdcEngine

    spark = _spark(args.cores)
    eng = CdcEngine(spark, args.warehouse)
    anns = eng.annotations_view().where(F.col("quoted.s") == args.subject)
    for row in anns.collect():
        print(
            json.dumps(
                {
                    "reifier": row["reifier"],
                    "quoted": {
                        "s": row["quoted"]["s"],
                        "p": row["quoted"]["p"],
                        "o": row["quoted"]["o"],
                    },
                    "predicate": row["predicate"],
                    "object": row["object"],
                }
            )
        )


def cmd_query(args) -> None:
    from .queries import QUERIES

    spark = _spark(args.cores)
    entry = QUERIES[args.name]
    df = entry.fn(spark, args.sf_dir)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="rdfstar-cli")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("replay")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--batches", type=int, default=4)
    p.add_argument("--n-buckets", type=int, default=32)
    p.set_defaults(fn=cmd_replay)

    p = sub.add_parser("list")
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("status")
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_status)

    p = sub.add_parser("diff")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--from-version", type=int, required=True)
    p.add_argument("--to-version", type=int, required=True)
    p.set_defaults(fn=cmd_diff)

    p = sub.add_parser("export")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--what", choices=["state", "triples"], default="triples")
    p.add_argument(
        "--fmt",
        choices=["parquet", "nquads", "trig", "turtle", "ntriples"],
        default="parquet",
    )
    p.add_argument("--version", type=int, default=None,
                   help="export AS OF this table snapshot (time travel)")
    p.add_argument("--batch", default=None,
                   help="export the state as of this ledger batch id")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("archive")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--batch", required=True)
    p.set_defaults(fn=cmd_archive)

    p = sub.add_parser("retention")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--keep-last", type=int, default=4)
    p.set_defaults(fn=cmd_retention)

    p = sub.add_parser("load")
    p.add_argument("--infile", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--graph", default=None)
    p.set_defaults(fn=cmd_load)

    p = sub.add_parser("provenance")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--subject", required=True)
    p.set_defaults(fn=cmd_provenance)

    p = sub.add_parser("query")
    p.add_argument("name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_query)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
