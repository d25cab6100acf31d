"""CDC engine: replay-to-convergence, exactly-once, out-of-order batches,
schema evolution, streaming resume. Mirrors the reference's batch-lifecycle
tests (tests/test_batch_manager.py:29-487) under CDC semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_rdf_star_spark.data import synth
from etl_pipeline_rdf_star_spark.storage.lake import row_sha256, table_fingerprint
from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

STATE_COLS = ["repo", "path", "commit", "lang", "content"]


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return synth.cdc_events(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def oracle_fp(spark, sf_dir):
    return table_fingerprint(synth.expected_final_state(spark, sf_dir), STATE_COLS)


def _engine(spark, tmp_path, **kw) -> CdcEngine:
    return CdcEngine(spark, str(tmp_path / "wh"), **kw)


def test_replay_converges_to_oracle(spark, tmp_path, events, oracle_fp):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=4)
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_convergence_independent_of_batch_count(spark, tmp_path, events, oracle_fp):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=7)
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_duplicated_events_converge(spark, tmp_path, events, oracle_fp):
    """At-least-once delivery: every event delivered twice."""
    eng = _engine(spark, tmp_path)
    eng.replay(events.unionAll(events), num_batches=3, id_prefix="dup")
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_out_of_order_batches_converge(spark, tmp_path, events, oracle_fp):
    """Batches applied in reverse seq order still converge (MERGE order
    guard on seq — the 'late data resolved by commit-ordering' rule)."""
    eng = _engine(spark, tmp_path)
    hi = events.agg(F.max("seq")).collect()[0][0]
    step = (hi + 3) // 3
    chunks = [
        events.where((F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step))
        for i in range(3)
    ]
    for i, chunk in enumerate(reversed(chunks)):
        eng.apply_batch(chunk, f"ooo-{i}")
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_exactly_once_reapply_is_noop(spark, tmp_path, events):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=2)
    fp = table_fingerprint(eng.current_state(), STATE_COLS)
    res = eng.apply_batch(events.limit(500), "replay-00000")  # committed id
    assert res.merge.skipped
    assert table_fingerprint(eng.current_state(), STATE_COLS) == fp


def test_per_row_sha256_invariant(spark, tmp_path, events, sf_dir):
    """BASELINE.json invariant: per-row content sha256 equality between the
    engine's final state and the independently-derived reference state."""
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=3)
    ours = row_sha256(eng.current_state(), STATE_COLS).select("repo", "path", "row_sha256")
    ref = row_sha256(
        synth.expected_final_state(spark, sf_dir), STATE_COLS
    ).select("repo", "path", "row_sha256")
    assert ours.exceptAll(ref).isEmpty() and ref.exceptAll(ours).isEmpty()
    # stored column matches too
    stored = eng.table.read().select(
        "repo", "path", F.col("content_sha256"), F.sha2("content", 256).alias("r")
    )
    assert stored.where(F.col("content_sha256") != F.col("r")).isEmpty()


def test_ledger_and_metrics(spark, tmp_path, events):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=3)
    ledger = eng.ledger_view()
    assert ledger.count() == 3
    assert ledger.where(F.col("skipped")).isEmpty()
    metrics = eng.metrics.read()
    # per-partition lineage: every batch reports per-bucket row counts
    assert metrics.select("batch_id").distinct().count() == 3
    assert metrics.agg(F.max("bucket")).collect()[0][0] <= eng.table.n_buckets - 1


def test_batch_lifecycle_supersede_archive_retention(spark, tmp_path, events):
    """create→ACTIVE→SUPERSEDED→ARCHIVED→PURGED, mirroring the reference
    lifecycle (batch_manager.py:387-394 supersede, :594-605 retention)."""
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=3)
    statuses = {
        r["batch_id"]: r["status"] for r in eng.ledger_view().collect()
    }
    assert statuses["replay-00002"] == "ACTIVE"
    assert statuses["replay-00000"] == "SUPERSEDED"
    assert statuses["replay-00001"] == "SUPERSEDED"

    eng.archive_batch("replay-00000")
    statuses = {r["batch_id"]: r["status"] for r in eng.ledger_view().collect()}
    assert statuses["replay-00000"] == "ARCHIVED"

    # retention: keep only the last table version → earlier batches PURGED
    res = eng.retention(keep_last_versions=1)
    assert res["expired_versions"] >= 1 and res["purged_batches"] >= 2
    statuses = {r["batch_id"]: r["status"] for r in eng.ledger_view().collect()}
    assert statuses["replay-00000"] == "PURGED"
    assert statuses["replay-00001"] == "PURGED"
    assert statuses["replay-00002"] == "ACTIVE"
    # expired versions are no longer time-travelable; latest still reads
    with pytest.raises(Exception):
        eng.table.read(version=0).count()
    assert eng.current_state().count() > 0
    # idempotence of the lifecycle ledger: re-running retention is a no-op
    res2 = eng.retention(keep_last_versions=1)
    assert res2["purged_batches"] == 0


def test_schema_evolution_mid_stream(spark, tmp_path, events):
    eng = _engine(spark, tmp_path)
    hi = events.agg(F.max("seq")).collect()[0][0]
    half = hi // 2
    eng.apply_batch(events.where(F.col("seq") <= half), "se-0")
    assert "p_sizeBytes" not in eng.table.read().columns
    eng.evolve_add_predicate("file", "ex:sizeBytes", "$(n_chars_str)")
    # the new mapping reference resolves against a computed column
    # touch only a subset of keys so some rows predate the new column
    ev2 = events.where(
        (F.col("seq") > half) & (F.col("seq") <= half + 500)
    ).withColumn("n_chars_str", F.length("content").cast("string"))
    # prepare_input only adds derived cols; extra source cols pass through
    eng.apply_batch(ev2, "se-1")
    state = eng.table.read()
    assert "p_sizeBytes" in state.columns
    # rows updated after evolution carry the value; old rows read as null
    assert state.where(F.col("p_sizeBytes").isNotNull()).count() > 0
    assert state.where(F.col("p_sizeBytes").isNull()).count() > 0


def test_triples_and_annotations_views(spark, tmp_path, events):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=2)
    n_files = eng.current_state().count()
    triples = eng.triples_view()
    anns = eng.annotations_view()
    # flagship mapping: 5 asserted (type, identifier, repo, commit, sha) +
    # 1 fact (lang) per file; 4 annotation quads per fact
    assert triples.count() == 6 * n_files
    assert anns.count() == 4 * n_files
    # annotation quoted triple is the lang fact
    q = anns.select("quoted.p").distinct().collect()
    assert [r[0] for r in q] == ["http://example.org/lang"]


def test_streaming_resume_from_checkpoint(spark, tmp_path, events, sf_dir):
    """Kill-and-restart: first run ingests half the files, second run the
    rest; checkpoint + idempotent MERGE give exactly-once end to end."""
    ev_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    hi = events.agg(F.max("seq")).collect()[0][0]
    half = hi // 2
    events.where(F.col("seq") <= half).coalesce(1).write.mode("append").parquet(ev_dir)
    eng = _engine(spark, tmp_path)
    eng.run_stream(ev_dir, ckpt)
    n1 = eng.current_state().count()
    assert n1 > 0
    # new events arrive; a NEW engine instance resumes from checkpoint
    events.where(F.col("seq") > half).coalesce(1).write.mode("append").parquet(ev_dir)
    eng2 = CdcEngine(spark, eng.warehouse)
    eng2.run_stream(ev_dir, ckpt)
    fp = table_fingerprint(eng2.current_state(), STATE_COLS)
    oracle = table_fingerprint(
        synth.expected_final_state(spark, sf_dir), STATE_COLS
    )
    assert fp == oracle


def test_purge_tombstones(spark, tmp_path, events, oracle_fp):
    eng = _engine(spark, tmp_path)
    eng.replay(events, num_batches=3)
    n_all = eng.table.read().count()
    n_live = eng.current_state().count()
    assert n_all > n_live  # tombstones present
    eng.purge_tombstones()
    assert eng.table.read().count() == n_live
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


class TestMorMode:
    """Merge-on-read ingest mode: O(batch) commits, read-time resolution."""

    def test_mor_replay_converges(self, spark, tmp_path, events, oracle_fp):
        eng = CdcEngine(spark, str(tmp_path / "mor"), mode="mor")
        eng.replay(events, num_batches=4)
        assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp

    def test_mor_out_of_order_and_dups_converge(
        self, spark, tmp_path, events, oracle_fp
    ):
        eng = CdcEngine(spark, str(tmp_path / "mor2"), mode="mor")
        hi = events.agg(F.max("seq")).collect()[0][0]
        step = (hi + 3) // 3
        chunks = [
            events.where((F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step))
            for i in range(3)
        ]
        for i, c in enumerate(reversed(chunks)):  # reverse order + batch 1 twice
            eng.apply_batch(c, f"m-{i}")
        eng.apply_batch(chunks[1], "m-dup")  # duplicated content, new id
        assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp

    def test_mor_exactly_once(self, spark, tmp_path, events):
        eng = CdcEngine(spark, str(tmp_path / "mor3"), mode="mor")
        eng.replay(events, num_batches=2)
        fp = table_fingerprint(eng.current_state(), STATE_COLS)
        res = eng.apply_batch(events.limit(100), "replay-00000")
        assert res.merge.skipped
        assert table_fingerprint(eng.current_state(), STATE_COLS) == fp

    def test_mor_compaction_preserves_state_and_shrinks_files(
        self, spark, tmp_path, events, oracle_fp
    ):
        eng = CdcEngine(spark, str(tmp_path / "mor4"), mode="mor")
        eng.replay(events, num_batches=4)
        files_before = len(eng.table.snapshot().files)
        eng.compact()
        files_after = len(eng.table.snapshot().files)
        assert files_after < files_before
        assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp
        # rows collapse to one version per key
        assert eng.table.read().count() == eng.table.read_resolved(
            keep_deleted=True
        ).count()


def test_mor_ledger_recovery_after_partial_commit(spark, tmp_path, events):
    """Crash between data commit and ledger append: the retried batch is
    data-skipped but the ledger row must carry the batch's TRUE counts,
    recovered from the committed snapshot (not events=0)."""
    eng = CdcEngine(spark, str(tmp_path / "morr"), mode="mor")
    eng.apply_batch(events.where(F.col("seq") < 100), "ok-0")
    chunk = events.where((F.col("seq") >= 100) & (F.col("seq") < 300))
    n_chunk = chunk.count()
    # simulate the crash: data committed, ledger append never ran
    eng.table.merge_mor(eng.materialize_wide(chunk).drop("op"), "crash-1")
    assert "crash-1" not in eng.batches.committed_batches()
    res = eng.apply_batch(chunk, "crash-1")  # the retry
    assert res.merge.skipped
    assert res.events == n_chunk
    row = eng.batches.read().where(F.col("batch_id") == "crash-1").first()
    assert row["events"] == n_chunk and row["skipped"]
    # per-bucket lineage recovered too
    m = eng.metrics.read().where(F.col("batch_id") == "crash-1")
    assert m.agg(F.sum("rows")).first()[0] == n_chunk


def test_streaming_with_watermark_dedup(spark, tmp_path, events, sf_dir, oracle_fp):
    """Watermark + stateful dedup upstream of foreachBatch: duplicated
    event files still converge to the oracle state."""
    ev_dir = str(tmp_path / "wm_events")
    ckpt = str(tmp_path / "wm_ckpt")
    events.coalesce(1).write.mode("append").parquet(ev_dir)
    events.coalesce(1).write.mode("append").parquet(ev_dir)  # full duplicate
    eng = CdcEngine(spark, str(tmp_path / "wm_wh"), mode="mor")
    eng.run_stream(ev_dir, ckpt, max_files_per_trigger=1, watermark="10 minutes")
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_mor_auto_compaction(spark, tmp_path, events, oracle_fp):
    eng = CdcEngine(
        spark, str(tmp_path / "mor5"), mode="mor", auto_compact_deltas=2
    )
    eng.replay(events, num_batches=6)
    # compaction fired at least once: snapshot ops include 'compact'
    ops = {eng.table.snapshot(v).operation for v in eng.table.versions()}
    assert "compact" in ops
    # bounded read amplification: files <= threshold * buckets (+1 batch)
    assert len(eng.table.snapshot().files) <= 3 * eng.table.n_buckets
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp


def test_stateful_running_repo_stats(spark, tmp_path, events):
    """applyInPandasWithState (§2.9): per-repo running totals accumulate
    across micro-batches and the final update equals the batch aggregate."""
    from etl_pipeline_rdf_star_spark.streaming.stateful import (
        running_repo_stats,
    )

    ev_dir = str(tmp_path / "st_events")
    hi = events.agg(F.max("seq")).collect()[0][0]
    half = hi // 2
    events.where(F.col("seq") <= half).coalesce(1).write.mode("append").parquet(ev_dir)
    events.where(F.col("seq") > half).coalesce(1).write.mode("append").parquet(ev_dir)

    schema = (
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string, event_ts timestamp"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir)
    )
    q = (
        running_repo_stats(stream)
        .writeStream.format("memory")
        .queryName("repo_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest update per repo (cumulative counters are monotone)
    got = {
        r["repo"]: (r["n_events"], r["n_deletes"], r["max_seq"])
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY repo ORDER BY n_events DESC) AS rn
                 FROM repo_stats) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r["repo"]: (r["n"], r["d"], r["mx"])
        for r in events.groupBy("repo")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("d"),
            F.max("seq").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_wide_fast_path_gating(spark, tmp_path, events):
    """Review regressions: the stored-wide serving fast path must fall back
    (not crash / not silently drop triples) when the mapping has shapes the
    wide row cannot represent, and during the evolve->next-batch window."""
    from etl_pipeline_rdf_star_spark.mapping.parser import parse_document
    from etl_pipeline_rdf_star_spark.streaming.cdc import wide_columns

    # J3 mapping-ref object → not wide-servable
    y = """
prefixes: {ex: http://example.org/}
mappings:
  file:
    sources: [[repo_files~parquet]]
    s: ex:file/$(repo)/$(path)
    po:
      - [ex:lang, $(lang)]
  owner:
    sources: [[repo_files~parquet]]
    s: ex:repo/$(repo)
    po:
      - [ex:name, $(repo)]
  link:
    sources: [[repo_files~parquet]]
    s: ex:file/$(repo)/$(path)
    po:
      - p: ex:ownedBy
        o:
          mapping: owner
          condition:
            function: equal
            parameters: [[str1, $(repo)], [str2, $(repo)]]
"""
    layout = wide_columns(parse_document(y), "file", None)
    assert not layout.static  # mapping-ref + different-subject map present

    # evolve window: new column not yet stored → recompute path, no crash
    eng = _engine(spark, tmp_path)
    eng.apply_batch(events.where(F.col("seq") < 500), "g-0")
    n_before = eng.triples_view().count()
    eng.evolve_add_predicate("file", "ex:extra", "$(lang)")
    assert not eng._wide_columns_stored()  # p_extra missing on disk
    n_evolved = eng.triples_view().count()  # falls back to recompute
    assert n_evolved > n_before  # one more triple per live file
    eng.apply_batch(events.where((F.col("seq") >= 500) & (F.col("seq") < 600)), "g-1")


def test_recovery_supersedes_previous_batch(spark, tmp_path, events):
    """Review regression: the crash-recovery retry must still flip the
    previous batch to SUPERSEDED (it previously left two ACTIVE rows)."""
    eng = CdcEngine(spark, str(tmp_path / "morsup"), mode="mor")
    eng.apply_batch(events.where(F.col("seq") < 100), "s-0")
    chunk = events.where((F.col("seq") >= 100) & (F.col("seq") < 200))
    eng.table.merge_mor(eng.materialize_wide(chunk).drop("op"), "s-1")  # crash sim
    eng.apply_batch(chunk, "s-1")  # retry: data skipped, ledger recovered
    statuses = {r["batch_id"]: r["status"] for r in eng.ledger_view().collect()}
    assert statuses == {"s-0": "SUPERSEDED", "s-1": "ACTIVE"}


def test_max_seq_survives_tombstone_purge(spark, tmp_path):
    """Review finding: if the globally newest event is a delete, a
    rewriting purge drops its row — max_order must still report the true
    head from the retained snapshots' manifests."""
    eng = CdcEngine(spark, str(tmp_path / "head"), mode="mor", n_buckets=2)
    ev = spark.createDataFrame(
        [
            (0, "I", "r1", "a.py", "c1", "en", "x", None),
            (1, "I", "r1", "b.py", "c1", "en", "y", None),
            (2, "D", "r1", "b.py", "c2", "en", "", None),
        ],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    eng.apply_batch(ev, "head-b0")
    assert eng.max_seq() == 2
    eng.purge_tombstones()
    assert eng.table.read().count() == 1  # tombstone physically gone
    assert eng.max_seq() == 2  # head survives via snapshot history


def test_max_seq_survives_tombstone_purge_and_expiry(spark, tmp_path):
    """The head event stays known after its tombstone is purged AND every
    snapshot that listed it is expired: the high-water mark rides in each
    snapshot log, not in the files a version lists."""
    eng = CdcEngine(spark, str(tmp_path / "headx"), mode="mor", n_buckets=2)
    ev = spark.createDataFrame(
        [
            (0, "I", "r1", "a.py", "c1", "en", "x", None),
            (1, "I", "r1", "b.py", "c1", "en", "y", None),
            (2, "D", "r1", "b.py", "c2", "en", "", None),
        ],
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp",
    )
    eng.apply_batch(ev, "headx-b0")
    eng.purge_tombstones()
    eng.table.expire_snapshots(keep_last=1)
    assert len(eng.table.versions()) == 1
    assert eng.max_seq() == 2


def test_read_asof_survives_later_purge(spark, tmp_path):
    """Review finding: a purge_tombstones committed AFTER the as-of cut
    used to raise on previously-valid as-of reads. The purge's victims
    still live in earlier commits' retained files, so as-of stays
    answerable."""
    eng = CdcEngine(spark, str(tmp_path / "asofp"), mode="mor", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (0, "I", "r1", "a.py", "c1", "en", "x", None),
                (1, "I", "r1", "b.py", "c1", "en", "y", None),
            ],
            schema,
        ),
        "ap-b0",
    )
    eng.table.compact()
    before = {
        (r["repo"], r["path"], r["commit"])
        for r in eng.state_at(1).collect()
    }
    assert before == {("r1", "a.py", "c1"), ("r1", "b.py", "c1")}
    # post-cut delete + purge rewrite
    eng.apply_batch(
        spark.createDataFrame(
            [(2, "D", "r1", "b.py", "c2", "en", "", None)], schema
        ),
        "ap-b1",
    )
    eng.purge_tombstones()
    after = {
        (r["repo"], r["path"], r["commit"])
        for r in eng.state_at(1).collect()
    }
    assert after == before  # as-of below the purge still answers


def test_read_asof_not_based_past_tombstone_purge(spark, tmp_path):
    """Review finding: a purge that removed a POST-cut delete (and with it
    the key's whole history from current files) followed by compaction
    produced a compacted snapshot whose seq_max sits below the cut — it
    must NOT be used as the as-of base, or the key silently vanishes from
    a point in time where it was live."""
    eng = CdcEngine(spark, str(tmp_path / "asofb"), mode="mor", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (10, "I", "r1", "k.py", "c1", "en", "x", None),
                (20, "I", "r1", "o.py", "c1", "en", "y", None),
            ],
            schema,
        ),
        "b0",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(150, "D", "r1", "k.py", "c2", "en", "", None)], schema
        ),
        "b1",
    )
    eng.purge_tombstones()  # k.py's entire history leaves current files
    eng.table.compact()  # compacted snapshot max seq <= 100
    live_at_100 = {
        (r["repo"], r["path"]) for r in eng.state_at(100).collect()
    }
    assert ("r1", "k.py") in live_at_100  # was live until seq 150
    assert ("r1", "o.py") in live_at_100


def test_cow_asof_respects_tombstones(spark, tmp_path):
    """COW deletes are upserted as tombstone rows (rows leave the table
    only through purge and compaction rewrites), so point-in-time reads
    over a COW table must not resurrect deleted keys (second-pass review
    claimed the opposite — pin the actual behavior)."""
    eng = CdcEngine(spark, str(tmp_path / "cowasof"), mode="cow", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(10, "I", "r1", "k.py", "c1", "en", "x", None)], schema
        ),
        "b0",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(90, "D", "r1", "k.py", "c2", "en", "", None)], schema
        ),
        "b1",
    )
    at100 = {(r["repo"], r["path"]) for r in eng.table.read_asof(100).collect()}
    assert ("r1", "k.py") not in at100  # deleted at 90 <= cut
    at50 = {(r["repo"], r["path"]) for r in eng.table.read_asof(50).collect()}
    assert ("r1", "k.py") in at50  # still live at 50


def test_asof_after_purge_and_expiry_is_loud_not_wrong(spark, tmp_path):
    """Review finding: once expire_snapshots deletes the purge commit's
    log entry, a post-purge compacted snapshot must not win base
    selection for a cut below the purged events, or keys live at the cut
    silently vanish. The post-purge compaction's seq_hi, carried by every
    later snapshot log, must turn that into an explicit error."""
    eng = CdcEngine(spark, str(tmp_path / "asofe"), mode="mor", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (10, "I", "r1", "k.py", "c1", "en", "x", None),
                (20, "I", "r1", "o.py", "c1", "en", "y", None),
            ],
            schema,
        ),
        "b0",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(150, "D", "r1", "k.py", "c2", "en", "", None)], schema
        ),
        "b1",
    )
    eng.purge_tombstones()
    eng.table.compact()
    eng.apply_batch(
        spark.createDataFrame(
            [(200, "I", "r1", "p.py", "c3", "en", "z", None)], schema
        ),
        "b2",
    )
    eng.table.expire_snapshots(keep_last=2)  # purge commit's log is gone
    with pytest.raises(ValueError):
        eng.state_at(100).collect()  # below the purge watermark: refuse
    # at/above the watermark the post-purge base is sound and must serve
    live_at_200 = {
        (r["repo"], r["path"]) for r in eng.state_at(200).collect()
    }
    assert live_at_200 == {("r1", "o.py"), ("r1", "p.py")}


def test_noop_purge_commits_nothing(spark, tmp_path):
    """Review finding: a purge with zero tombstones used to commit a
    'purge-N' batch that the legacy prefix rule then treated as an
    unbounded row-dropper, bricking every as-of read after expiry. A
    no-op purge must not commit at all."""
    eng = CdcEngine(spark, str(tmp_path / "noop"), mode="mor", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(1, "I", "r1", "a.py", "c1", "en", "x", None)], schema
        ),
        "b0",
    )
    v_before = eng.table.snapshot().version
    eng.purge_tombstones()  # nothing to purge
    assert eng.table.snapshot().version == v_before
    eng.table.compact()
    eng.apply_batch(
        spark.createDataFrame(
            [(2, "I", "r1", "b.py", "c2", "en", "y", None)], schema
        ),
        "b1",
    )
    eng.table.expire_snapshots(keep_last=2)
    assert eng.state_at(1).count() == 1  # still time-travelable


def test_legacy_purge_counted_at_expiry(spark, tmp_path):
    """A purge committed without drop markers (as legacy 'purge-' commits
    were) still raises every later snapshot's seq_hi, so once its log is
    expired a read below that mark refuses loudly instead of serving a
    post-purge base."""
    from etl_pipeline_rdf_star_spark.storage.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "leg"), key_cols=["k"], n_buckets=2)
    t.create(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, seq long"),
        "b0",
    )
    # simulate a legacy purge: a prefix batch id on a plain merge rewrite;
    # its rows' seq still raises seq_hi in every later log
    t.merge(
        spark.createDataFrame([("a", 3)], "k string, seq long"), "purge-sim"
    )
    t.compact()
    t.merge_mor(
        spark.createDataFrame([("c", 4)], "k string, seq long"), "b1"
    )
    t.expire_snapshots(keep_last=2)  # drops create + legacy purge logs
    with pytest.raises(ValueError):
        t.read_asof(2).collect()  # below seq_hi: loud, not wrong


def test_purge_spares_reinserted_keys(spark, tmp_path):
    """Review finding: on an uncompacted MoR table the raw log still
    holds a delete version for keys later re-inserted; purging from the
    raw log key-replacement-merged those keys and destroyed the live
    row. Purge must act on RESOLVED tombstones only."""
    eng = CdcEngine(spark, str(tmp_path / "reins"), mode="mor", n_buckets=2)
    schema = (
        "seq long, op string, repo string, path string, commit string,"
        " lang string, content string, event_ts timestamp"
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (5, "I", "r1", "k.py", "c1", "en", "x", None),
                (6, "I", "r1", "d.py", "c1", "en", "w", None),
            ],
            schema,
        ),
        "b0",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [
                (7, "D", "r1", "k.py", "c2", "en", "", None),
                (8, "D", "r1", "d.py", "c2", "en", "", None),
            ],
            schema,
        ),
        "b1",
    )
    eng.apply_batch(  # k.py re-inserted AFTER its delete; d.py stays dead
        spark.createDataFrame(
            [(10, "I", "r1", "k.py", "c3", "en", "z", None)], schema
        ),
        "b2",
    )
    eng.purge_tombstones()  # no compaction ran: raw log has all versions
    live = {
        (r["repo"], r["path"], r["commit"])
        for r in eng.current_state().collect()
    }
    assert ("r1", "k.py", "c3") in live  # re-inserted row survived
    assert all(p != "d.py" for _, p, _ in live)


CHAOS_CHILD = '''
"""Chaos child: streaming shell with a SIGKILL injected at the commit
boundary — AFTER the MERGE data commit, BEFORE the ledger append."""
import os
import signal
import sys

sys.path.insert(0, sys.argv[1])
from etl_pipeline_rdf_star_spark.session import get_spark
from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

repo, ev_dir, ckpt, wh, marker, kill_batch = sys.argv[1:7]


class ChaosEngine(CdcEngine):
    def _commit_metadata(self, batch_id, *a, **kw):
        if batch_id == kill_batch and not os.path.exists(marker):
            with open(marker, "w") as f:
                f.write(batch_id)
            os.kill(os.getpid(), signal.SIGKILL)  # no cleanup, no flush
        return super()._commit_metadata(batch_id, *a, **kw)


spark = get_spark("chaos", cores=4, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
eng = ChaosEngine(spark, wh, mode="mor", n_buckets=4)
eng.run_stream(ev_dir, ckpt)
print("CHAOS_CHILD_DONE")
'''


def test_kill_between_merge_and_ledger_is_exactly_once(
    spark, tmp_path, events, oracle_fp
):
    """Round-5 verdict ask #4 — the chaos drill the clean-restart tests
    don't cover: SIGKILL the streaming process at the exact commit
    boundary (data MERGE committed, ledger append not yet run), restart,
    and prove exactly-once held: final fingerprint == oracle, the ledger
    has no duplicate and no phantom batch, and every committed batch has
    its ledger row with true counts."""
    import os
    import subprocess
    import sys

    ev_dir = str(tmp_path / "events")
    hi = events.agg(F.max("seq")).collect()[0][0]
    step = (hi + 4) // 4
    for i in range(4):  # 4 files → 4 stream epochs (maxFilesPerTrigger=1)
        events.where(
            (F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(ev_dir)

    ckpt, wh = str(tmp_path / "ckpt"), str(tmp_path / "wh_chaos")
    marker = str(tmp_path / "killed")
    kill_batch = "stream-00000001"
    child = tmp_path / "chaos_child.py"
    child.write_text(CHAOS_CHILD)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv = [sys.executable, str(child), repo, ev_dir, ckpt, wh, marker,
            kill_batch]

    # run 1: dies by SIGKILL mid-commit
    p1 = subprocess.run(argv, capture_output=True, text=True, timeout=600,
                        cwd=str(tmp_path))
    assert p1.returncode == -9, p1.stderr[-2000:]
    assert os.path.exists(marker)

    # the injected state is real: the batch's DATA is committed to the
    # lake, its ledger row is missing — the torn window exactly-once
    # must close
    eng_peek = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    assert kill_batch in eng_peek.table.snapshot().committed_batches
    assert kill_batch not in eng_peek.batches.committed_batches()

    # run 2: restart resumes from the checkpoint, re-delivers the torn
    # epoch (idempotent MERGE skips), and processes the rest
    p2 = subprocess.run(argv, capture_output=True, text=True, timeout=600,
                        cwd=str(tmp_path))
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert "CHAOS_CHILD_DONE" in p2.stdout

    eng = CdcEngine(spark, wh, mode="mor", n_buckets=4)
    # converged exactly-once: fingerprint == independent oracle
    assert table_fingerprint(eng.current_state(), STATE_COLS) == oracle_fp

    # ledger hygiene: one resolved row per batch, no duplicates
    lv = eng.ledger_view()
    ids = [r["batch_id"] for r in lv.collect()]
    assert sorted(ids) == sorted(set(ids))
    committed = set(eng.table.snapshot().committed_batches)
    # no phantom (ledger row without data) and no orphan (data without
    # ledger row); the torn batch's recovered row carries TRUE counts
    assert set(ids) == committed
    assert {f"stream-{i:08d}" for i in range(4)} <= committed
    by_id = {r["batch_id"]: r for r in lv.collect()}
    torn = by_id[kill_batch]
    assert torn["skipped"]  # recovered via the re-delivery path
    assert torn["events"] and torn["events"] > 0
    n_events = events.count()
    assert sum(r["events"] for r in by_id.values()) == n_events
