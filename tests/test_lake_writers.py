"""Two ``LakeTable`` handles on one path that stage the same version: the
one that loses the commit race must leave the winner's commit readable."""

from __future__ import annotations

import pytest

from etl_pipeline_rdf_star_spark.storage.lake import (
    ConcurrentCommitError,
    LakeTable,
)

SCHEMA = "k string, v long"


def test_losing_writer_keeps_winner_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    a.create(spark.createDataFrame([("k0", 0), ("k1", 0)], SCHEMA))
    b = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    publish = LakeTable._commit
    held = []
    b._commit = held.append  # B stages its files; its publish waits

    def a_commit(snap):
        # B stages the same version after A has written its data files
        b.merge(spark.createDataFrame([("k1", 2)], SCHEMA), "b")
        publish(a, snap)

    a._commit = a_commit
    a.merge(spark.createDataFrame([("k1", 1)], SCHEMA), "a")
    (b_snap,) = held
    assert b_snap.version == a.snapshot().version == 1
    with pytest.raises(ConcurrentCommitError):
        publish(b, b_snap)

    fresh = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    rows = fresh.read_resolved().collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [("k0", 0), ("k1", 1)]
    assert fresh.snapshot().committed_batches == ["genesis", "a"]
    # B's staged files are orphans: listed by no snapshot, deleting nothing
    listed = {f["path"] for f in fresh.snapshot().files}
    assert not listed & {f["path"] for f in b_snap.written_files()}
