"""Two ``LakeTable`` handles on one path that stage the same version: the
one that loses the commit race must leave the winner's commit readable,
and no trace of its own bucket layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


def test_losing_creator_leaves_no_layout(spark, tmp_path):
    """A writer that loses the race to create a table must not leave its
    bucket count behind: its later merges are refused, the winner's
    work, and no key ends with two live rows."""
    path = str(tmp_path / "t")
    a = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    b = LakeTable(spark, path, key_cols=["k"], n_buckets=4)
    keys = [f"k{i}" for i in range(8)]
    publish = LakeTable._commit
    held = []
    b._commit = held.append  # B stages its create; its publish waits

    def a_commit(snap):
        # B's whole create runs while A's is staged: both see a new table
        b.create(spark.createDataFrame([(k, 9) for k in keys], SCHEMA), "gb")
        publish(a, snap)

    a._commit = a_commit
    a.create(spark.createDataFrame([(k, 0) for k in keys], SCHEMA), "ga")
    (b_snap,) = held
    with pytest.raises(ConcurrentCommitError):
        publish(b, b_snap)
    del a._commit, b._commit

    # keys B would put in buckets 2-3, which hold no file of A's: under
    # B's pruning their old rows stay, next to B's new ones
    late = spark.createDataFrame([(k, 2) for k in keys], SCHEMA).where(
        F.pmod(F.hash("k"), F.lit(4)) >= 2
    )
    assert late.count() > 1
    with pytest.raises(RuntimeError, match="does not match this writer"):
        b.merge(late, "b1")
    a.merge(spark.createDataFrame([(k, 1) for k in keys], SCHEMA), "a1")
    rows = LakeTable(spark, path, key_cols=["k"], n_buckets=2).read_resolved()
    assert sorted((r["k"], r["v"]) for r in rows.collect()) == [
        (k, 1) for k in keys
    ]
