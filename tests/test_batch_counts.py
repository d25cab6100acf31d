"""A batch's ledger counts come from the data commit that recorded it.

Each ``LakeTable`` commit that takes in a caller's rows records, in its
snapshot summary, the rows it added per bucket and how many of them are
tombstones. ``CdcEngine.apply_batch`` ledgers those, so in both modes a
re-delivered batch and a retry after a crash between the data commit and
the ledger append run no Spark job, and the retry's ledger row and
per-bucket metrics equal those of an uninterrupted commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.data import synth
from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine


@pytest.fixture(scope="module")
def halves(spark, sf_dir):
    ev = synth.cdc_events(spark, sf_dir).cache()
    hi = ev.agg(F.max("seq")).first()[0]
    return ev.where(F.col("seq") <= hi // 2), ev.where(F.col("seq") > hi // 2)


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a Spark job group; (its result, the group's jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _ledger(eng: CdcEngine, batch_id: str) -> tuple:
    (row,) = eng.ledger_view().where(F.col("batch_id") == batch_id).collect()
    return row["events"], row["upserts"], row["deletes"]


def _metrics(eng: CdcEngine, batch_id: str) -> list[tuple[int, int]]:
    rows = eng.metrics.read().where(F.col("batch_id") == batch_id).collect()
    return sorted((r["bucket"], r["rows"]) for r in rows)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_retries_read_counts_from_the_commit(spark, tmp_path, halves, mode):
    first, second = halves
    eng = CdcEngine(spark, str(tmp_path / "fresh"), mode=mode, n_buckets=4)
    eng.apply_batch(first, "h0")
    fresh = eng.apply_batch(second, "h1")
    assert fresh.events > 0 and fresh.deletes > 0
    want = (fresh.events, fresh.upserts, fresh.deletes)
    assert _ledger(eng, "h1") == want
    want_metrics = _metrics(eng, "h1")
    assert sum(n for _, n in want_metrics) == fresh.events

    # re-delivery after the ledger row landed: no job, zero counts, and
    # the ledger keeps the fresh commit's row
    again, jobs = _jobs(
        spark, f"redeliver-{mode}", lambda: eng.apply_batch(second, "h1")
    )
    assert jobs == []
    assert again.merge.skipped
    assert (again.events, again.upserts, again.deletes) == (0, 0, 0)
    assert _ledger(eng, "h1") == want

    # crash window: the data commit landed, the ledger append never ran
    crashed = CdcEngine(spark, str(tmp_path / "crash"), mode=mode, n_buckets=4)
    crashed.apply_batch(first, "h0")
    if mode == "mor":
        crashed.table.merge_mor(crashed.materialize_wide(second).drop("op"), "h1")
    else:
        wide = crashed.materialize_wide(crashed.dedup_latest(second))
        crashed.table.merge(wide.drop("op"), "h1", order_col="seq")
    assert "h1" not in crashed.batches.committed_batches()
    retry, jobs = _jobs(
        spark, f"crash-{mode}", lambda: crashed.apply_batch(second, "h1")
    )
    assert jobs == []
    assert retry.merge.skipped
    assert (retry.events, retry.upserts, retry.deletes) == want
    assert _ledger(crashed, "h1") == want
    assert _metrics(crashed, "h1") == want_metrics

    summary = eng.table.snapshot(fresh.merge.version).summary
    assert summary["added_tombstones"] == fresh.deletes

    # an empty batch ledgers zero events and zero deletes
    empty = eng.apply_batch(second.limit(0), "h2")
    assert (empty.events, empty.deletes) == (0, 0)
    assert _ledger(eng, "h2") == (0, 0, 0)


def test_retry_of_a_commit_without_counts_is_refused(spark, tmp_path, halves):
    """A crash-window retry whose data commit records no added rows
    (written before commits recorded them) raises instead of ledgering
    guessed counts."""
    import json
    import os

    first, _ = halves
    eng = CdcEngine(spark, str(tmp_path / "legacy"), mode="mor", n_buckets=4)
    eng.table.merge_mor(eng.materialize_wide(first).drop("op"), "h0")
    head = os.path.join(eng.table.path, "_log", "v00000000.json")
    with open(head) as f:
        snap = json.load(f)
    snap["summary"] = {"batch_id": "h0"}
    with open(head, "w") as f:
        json.dump(snap, f)
    fresh = CdcEngine(spark, eng.warehouse, mode="mor", n_buckets=4)
    with pytest.raises(ValueError, match="'h0'.*v0"):
        fresh.apply_batch(first, "h0")
    assert not fresh.batches.exists()
