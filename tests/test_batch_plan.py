"""The plan of one CDC micro-batch commit.

The engine builds every column the batch plan projects once, so the wide
rows are two projections over the events. A merge-on-read commit of a
small batch one task reads has no exchange: that task writes the rows,
and the commit is one Spark job. A batch over several partitions keeps
the keyed exchange, which bounds the files a commit writes per bucket,
and stores the same rows; so does a large one-partition batch, whose
materialization the exchange spreads over several tasks."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.data import synth
from etl_pipeline_rdf_star_spark.mapping.flagship import prepare_input
from etl_pipeline_rdf_star_spark.storage.lake import row_sha256, table_fingerprint
from etl_pipeline_rdf_star_spark.streaming.cdc import _ONE_TASK_BYTES, CdcEngine


@pytest.fixture(scope="module")
def halves(spark, sf_dir, tmp_path_factory):
    """The event log as two single-file parquet dirs (first and second
    half by seq): each reads back as a one-partition frame."""
    ev = synth.cdc_events(spark, sf_dir)
    hi = ev.agg(F.max("seq")).first()[0]
    root = tmp_path_factory.mktemp("halves")
    out = []
    for i, cond in enumerate([F.col("seq") <= hi // 2, F.col("seq") > hi // 2]):
        path = str(root / f"h{i}")
        ev.where(cond).coalesce(1).write.parquet(path)
        out.append(spark.read.parquet(path))
    return out


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a Spark job group; (its result, the group's jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _tasks(spark, job: int) -> int:
    st = spark.sparkContext.statusTracker()
    return sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(job).stageIds)


def _reference_wide(eng: CdcEngine, files_df):
    """The step-by-step composition ``materialize_wide`` replaces:
    ``prepare_input``, then the layout select, then ``row_sha256``."""
    prepared = prepare_input(files_df)
    passthrough = [c for c in ("seq", "op", "event_ts") if c in files_df.columns]
    base = ["repo", "path", "commit", "lang", "content", "content_sha256"]
    deleted = (
        (F.col("op") == "D") if "op" in files_df.columns else F.lit(False)
    ).alias("_deleted")
    out = prepared.select(*base, *passthrough, deleted, *eng._layout.cols)
    return row_sha256(out, cols=["repo", "path", "commit", "lang", "content"])


def test_one_partition_mor_commit_is_one_job(spark, tmp_path, halves):
    first, second = halves
    assert second.rdd.getNumPartitions() == 1
    eng = CdcEngine(spark, str(tmp_path / "wh"), mode="mor", n_buckets=4)
    eng.apply_batch(first, "b0")
    res, jobs = _jobs(spark, "one-partition-mor", lambda: eng.apply_batch(second, "b1"))
    assert res.events > 0 and not res.merge.skipped
    assert len(jobs) == 1
    assert _tasks(spark, jobs[0]) == 1
    # the one task wrote one file per bucket it holds rows of
    per_bucket = Counter(f["bucket"] for f in eng.table.snapshot().written_files())
    assert set(per_bucket.values()) == {1}


def test_large_one_partition_batch_keeps_the_exchange(spark, tmp_path, halves):
    """A one-partition batch whose input exceeds what one task should
    materialize is spread over the keyed exchange's tasks."""
    parts = [F.sha2(F.concat_ws("-", "seq", F.lit(i)), 512) for i in range(4)]
    path = str(tmp_path / "large")
    halves[1].withColumn("content", F.concat(*parts)).write.parquet(path)
    large = spark.read.parquet(path)
    assert large.rdd.getNumPartitions() == 1
    size = large._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size > _ONE_TASK_BYTES
    nb = 2
    eng = CdcEngine(spark, str(tmp_path / "wh"), mode="mor", n_buckets=nb)
    res, jobs = _jobs(
        spark, "large-one-partition", lambda: eng.apply_batch(large, "b0")
    )
    assert res.events == large.count()
    assert sum(_tasks(spark, j) for j in jobs) > 1
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_bucket = Counter(f["bucket"] for f in eng.table.snapshot().files)
    assert max(per_bucket.values()) <= max(1, math.ceil(par / nb))


def test_partition_count_changes_no_stored_row(spark, tmp_path, halves):
    """One-partition and ``repartition(3)`` commits of the same events store
    the same rows; the multi-partition commit keeps the keyed exchange, so
    it writes at most k files per bucket."""
    first, second = halves
    events = first.unionByName(second).coalesce(1)
    assert events.rdd.getNumPartitions() == 1
    nb = 2
    one = CdcEngine(spark, str(tmp_path / "one"), mode="mor", n_buckets=nb)
    many = CdcEngine(spark, str(tmp_path / "many"), mode="mor", n_buckets=nb)
    one.apply_batch(events, "b0")
    many.apply_batch(events.repartition(3), "b0")

    stored = one.table.read()
    cols = stored.columns
    assert many.table.read().columns == cols
    assert table_fingerprint(stored, cols) == table_fingerprint(
        many.table.read(), cols
    )

    def hashes(eng):
        rows = eng.table.read().select("repo", "path", "seq", "row_sha256")
        return sorted(tuple(r) for r in rows.collect())

    assert hashes(one) == hashes(many)

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    k = max(1, math.ceil(par / nb))
    for eng, bound in ((one, 1), (many, k)):
        per_bucket = Counter(f["bucket"] for f in eng.table.snapshot().files)
        assert set(per_bucket) <= set(range(nb))
        assert max(per_bucket.values()) <= bound, per_bucket


@pytest.mark.parametrize("keep", ["events", "state"])
def test_materialize_wide_equals_step_by_step_composition(
    spark, tmp_path, halves, keep
):
    eng = CdcEngine(spark, str(tmp_path / "wh"), mode="mor", n_buckets=4)
    files = halves[1]
    if keep == "state":
        files = files.select("repo", "path", "commit", "lang", "content")
    got, want = eng.materialize_wide(files), _reference_wide(eng, files)
    assert got.columns == want.columns
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # two projections over the source: the prepared columns, then the rest
    analyzed = got._jdf.queryExecution().analyzed().toString()
    source = files._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("Project [") - source.count("Project [") == 2
