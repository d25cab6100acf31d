"""A torn CDC trigger is replayed exactly once under the checkpoint manager
every ``get_spark`` session names.

The crash window: the offset WAL and the lake commit (data, metrics and
ledger) of epoch 2 have landed, Spark's commit log for it has not. The
restarted query must run epoch 2 again under the same batch id, and the
idempotent commit must make that replay change nothing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.data import synth
from etl_pipeline_rdf_star_spark.storage.lake import table_fingerprint
from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

STATE_COLS = ["repo", "path", "commit", "lang", "content"]


def test_session_names_filesystem_checkpoint_manager(spark):
    """The ``spark`` fixture is a ``get_spark`` session."""
    name = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name.endswith(".FileSystemBasedCheckpointFileManager")
    spark._jvm.java.lang.Class.forName(name)  # the running Spark has it


def _batches(eng: CdcEngine) -> list[tuple[str, int]]:
    """Record each (batch id, row count) the stream hands ``eng``."""
    seen, apply = [], eng.apply_batch

    def recording(df, batch_id):
        seen.append((batch_id, df.count()))
        return apply(df, batch_id)

    eng.apply_batch = recording
    return seen


def test_torn_trigger_replays_once(spark, tmp_path, sf_dir):
    events = synth.cdc_events(spark, sf_dir)
    hi = events.agg(F.max("seq")).first()[0]
    step = hi // 3 + 1
    ev_dir, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    for i in range(3):  # one file per trigger, appended in seq order
        events.where(
            (F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(ev_dir)
    wh = str(tmp_path / "wh")
    eng = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    first = _batches(eng)
    eng.run_stream(ev_dir, ckpt)
    assert [b for b, _ in first] == [f"stream-{i:08d}" for i in range(3)]
    version = eng.table.versions()[-1]
    fp = table_fingerprint(eng.current_state(), STATE_COLS)

    os.unlink(os.path.join(ckpt, "commits", "2"))  # crash before commit log
    eng2 = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    again = _batches(eng2)
    q = eng2.run_stream(ev_dir, ckpt)
    assert again == first[2:]  # epoch 2 only, same id, same rows
    assert [p["batchId"] for p in q.recentProgress] == [2]
    assert os.path.exists(os.path.join(ckpt, "commits", "2"))
    assert eng2.table.versions()[-1] == version == 2
    ledger = eng2.batches.read().where(F.col("events").isNotNull())
    assert ledger.count() == ledger.select("batch_id").distinct().count() == 3
    assert table_fingerprint(eng2.current_state(), STATE_COLS) == fp
