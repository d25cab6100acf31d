"""Batch CLI — the reference's ``batch_cli.py`` surface over the CDC engine.

Subcommands (reference batch_cli.py:328-433):

  replay      run the deterministic event log into a warehouse (cmd_run)
  list        ledger listing (cmd_list)
  status      table + ledger summary (cmd_status)
  diff        added/removed/changed keys between two table versions
              (cmd_diff; batch_manager.py:460-496)
  export      dump live rows or the triples view to parquet/ndjson-ish text
              (cmd_export; TriG fidelity is explicitly out of scope — we
              export relational row text, verified by sha256 not bytes)
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
    """S11: load an RDF file into a parquet quad table (reference
    rdf-workbench.py:99-133 load_rdf_file). ``--fmt nquads`` uses the
    strict columnar line parser; ``--fmt turtle`` the general
    Turtle/TriG(-star) reader (prefixes, bnode lists, collections,
    annotations); ``auto`` picks by extension."""
    import os as _os

    fmt = args.fmt
    if fmt == "auto":
        probe = args.infile
        probes = [probe]
        if _os.path.isdir(probe):  # directory input: sniff contained files
            # skip Spark sidecars (_SUCCESS, ._*.crc): sorting put them
            # first and misclassified the engine's own N-Quads export
            # dirs as Turtle (review finding)
            names = sorted(
                n
                for n in _os.listdir(probe)
                if not n.startswith(("_", "."))
            )
            # sniff SEVERAL part files, not just the first: a turtle(-star)
            # export shards plain statements and `<< ... >>` annotation
            # statements into different part files, and only the latter
            # carry a turtle-only marker. Sample with a STRIDE across the
            # whole sorted listing plus the last 8 files rather than
            # names[:64] — annotation shards sort AFTER the
            # plain-statement shards, so a >=64-shard export's markers
            # were never probed and the dir was misclassified as N-Quads
            # (review finding); a stride of 1 still stops at file 63, and
            # the last file alone may be an empty shard. Misclassification
            # stays loud (the strict N-Quads reader raises on the first
            # `<<` line), but the documented export→load round-trip must
            # not need --fmt.
            if len(names) > 64:
                step = max(1, len(names) // 63)
                picked = names[::step][:63] + names[-8:]
                names = list(dict.fromkeys(picked))
            probes = [_os.path.join(probe, n) for n in names]
            probe = probes[0] if probes else probe
        low = probe.lower()
        if low.endswith((".nq", ".nt")):
            fmt = "nquads"
        elif low.endswith((".ttl", ".trig", ".turtle")):
            fmt = "turtle"
        else:
            # extensionless (Spark part-* exports): sniff the first data
            # line — prefix directives / graph blocks / bnode syntax need
            # the Turtle reader, bare full-IRI statements are N-Quads
            fmt = "nquads"
            import itertools as _it

            for pf in probes:
                try:
                    with open(pf, encoding="utf-8", errors="replace") as fh:
                        # scan a bounded prefix per file: a turtle(-star)
                        # export's bare full-IRI statements are valid
                        # N-Quads, but its `<< s p o >> ...` annotation
                        # lines are not — and they may appear only after
                        # hundreds of plain statements
                        for ln in _it.islice(fh, 500):
                            ln = ln.strip()
                            if not ln or ln.startswith("#"):
                                continue
                            # graph blocks put '{' as a standalone token
                            # after the graph term; substring-matching
                            # ' {' would false-positive on N-Quads
                            # literals containing braces (review finding)
                            toks = ln.split(None, 2)
                            if (
                                ln.startswith(
                                    ("@prefix", "@base", "PREFIX", "BASE")
                                )
                                or ln.startswith(("[", "(", "{", "<<"))
                                or (len(toks) >= 2 and toks[1] == "{")
                            ):
                                fmt = "turtle"
                                break
                except OSError:
                    pass
                if fmt == "turtle":
                    break
    spark = _spark(args.cores)
    if fmt == "nquads":
        from pyspark.sql import functions as F

        from .sinks.rdf_text import read_nquads

        df = read_nquads(spark, args.infile)
        if args.graph:
            # default-graph statements land in the chosen target graph;
            # explicit quad graphs win (review finding: --graph was
            # silently dropped on the nquads path)
            df = df.withColumn("graph", F.coalesce("graph", F.lit(args.graph)))
    else:
        from .sinks.turtle import read_turtle

        df = read_turtle(spark, args.infile, graph=args.graph)
    df.write.mode("overwrite").parquet(args.out)
    # count from the written parquet footers — NOT df.count(), which would
    # re-run the whole parse a second time (review finding)
    n = spark.read.parquet(args.out).count()
    print(
        json.dumps(
            {
                "loaded": args.infile,
                "to": args.out,
                "fmt": fmt,
                "quads": n,
            }
        )
    )


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
    p.add_argument(
        "--fmt", choices=["auto", "nquads", "turtle"], default="auto"
    )
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
