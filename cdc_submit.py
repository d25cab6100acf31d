"""spark-submit entry point for the CDC ingest engine.

Cluster deployment (north star: ``spark-submit --py-files`` at N and 4N
executors)::

    zip -r engine.zip etl_pipeline_rdf_star_spark
    spark-submit --py-files engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        cdc_submit.py --events <events_dir> --warehouse <lake_dir> \
                      --checkpoint <ckpt_dir> [--follow]

With the checkpoint on a local file system or HDFS, also pass the
checkpoint manager ``session.get_spark`` sets (``spark-submit`` sessions
skip ``get_spark``)::

        --conf spark.sql.streaming.checkpointFileManagerClass=<class>

``<class>`` is
``org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager``
from Spark 4.1 on and
``org.apache.spark.sql.execution.streaming.FileSystemBasedCheckpointFileManager``
before. It writes the offset, source and commit logs of every trigger
through Hadoop's ``FileSystem`` rather than ``FileContext``, and commits
each log file by a no-overwrite rename. That is as safe as the default
only where ``FileSystem.rename`` is atomic: the local file system (both
managers check the target and rename there) and HDFS. On an object store
keep Spark's default: Spark warns that with this manager the stream's
correctness and fault tolerance are not guaranteed where rename is not
atomic.

Local smoke::

    python cdc_submit.py --synthesize /root/testdata/sf0.001 \
        --warehouse /tmp/wh --checkpoint /tmp/ck --events /tmp/ev
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True, help="events dir (parquet, tailed)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument(
        "--mode",
        choices=["cow", "mor"],
        default="mor",
        help="merge strategy: copy-on-write (read-optimized) or "
        "merge-on-read (sustained-ingest; default)",
    )
    ap.add_argument(
        "--auto-compact-deltas",
        type=int,
        default=4,
        help="MoR maintenance: compact when avg delta files/bucket exceeds "
        "this (read-amplification bound); 0 disables",
    )
    ap.add_argument(
        "--synthesize",
        metavar="SF_DIR",
        help="write a deterministic event log from SF_DIR first (smoke mode)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session is configured by the launcher; fall
    # back to the local factory otherwise
    if os.environ.get("SPARK_ENV_LOADED") or "SPARK_SUBMIT" in " ".join(sys.argv):
        spark = SparkSession.builder.getOrCreate()
    else:
        from etl_pipeline_rdf_star_spark.session import get_spark

        spark = get_spark("cdc-submit")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        from etl_pipeline_rdf_star_spark.data import synth

        synth.cdc_events(spark, args.synthesize).repartition(4).write.mode(
            "overwrite"
        ).parquet(args.events)

    from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

    eng = CdcEngine(
        spark,
        args.warehouse,
        n_buckets=args.n_buckets,
        mode=args.mode,
        auto_compact_deltas=args.auto_compact_deltas or None,
    )
    eng.run_stream(
        args.events,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    state = eng.current_state()
    ledger = eng.batches.read()
    print(
        json.dumps(
            {
                "live_rows": state.count(),
                "batches": ledger.count(),
                "table_version": eng.table.snapshot().version,
            }
        )
    )


if __name__ == "__main__":
    main()
