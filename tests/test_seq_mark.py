"""The snapshot high-water mark (``Snapshot.seq_hi``) after commits that
write no row: "no seq written yet" is not "unknown"."""

from __future__ import annotations

import json

from etl_pipeline_rdf_star_spark.storage.lake import LakeTable

SCHEMA = "k string, seq long"


def test_empty_first_commit_keeps_the_mark_known(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=2)
    t.merge_mor(spark.createDataFrame([], SCHEMA), "b0")
    assert t.max_order() is None
    t.merge_mor(spark.createDataFrame([("a", 5)], SCHEMA), "b1")
    assert t.max_order() == 5
    assert [t.snapshot(v).seq_hi for v in t.versions()] == [None, 5]
    t.merge_mor(spark.createDataFrame([], SCHEMA), "b2")
    assert t.max_order() == 5


def test_log_without_the_mark_stays_unknown(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    t.merge_mor(spark.createDataFrame([], SCHEMA), "b0")
    # a log written before the mark existed carries neither key
    log = t._log_path(0)
    with open(log) as f:
        doc = json.load(f)
    del doc["seq_hi"], doc["seq_empty"]
    with open(log, "w") as f:
        json.dump(doc, f)
    t = LakeTable(spark, path, key_cols=["k"], n_buckets=2)
    t.merge_mor(spark.createDataFrame([("a", 5)], SCHEMA), "b1")
    assert t.max_order() is None
