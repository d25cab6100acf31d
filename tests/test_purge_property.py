"""Property test for ``LakeTable.purge_tombstones`` on random
merge-on-read and copy-on-write histories (deletes, re-inserts, updates,
out-of-order seqs, an optional compaction): a key whose newest row is a
tombstone loses every row, every other stored row stays as it was, live
reads and the high-water mark do not change, and buckets holding no such
key keep their files."""

from __future__ import annotations

import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_pipeline_rdf_star_spark.storage.lake import LakeTable

KEY = ["k1", "k2"]
SCHEMA = "k1 string, k2 string, seq long, v string, _deleted boolean"

# (k1, k2, v, deleted); seqs are drawn separately so they stay unique
EVENT = st.tuples(
    st.sampled_from(["a", "b"]),
    st.sampled_from(["x", "y"]),
    st.sampled_from(["p", "q"]),
    st.booleans(),
)


@st.composite
def histories(draw):
    batches = draw(
        st.lists(st.lists(EVENT, min_size=1, max_size=4), min_size=1, max_size=3)
    )
    seqs = iter(draw(st.permutations(range(1, sum(map(len, batches)) + 1))))
    return {
        "mode": draw(st.sampled_from(["mor", "cow"])),
        "batches": [
            [(k1, k2, next(seqs), v, d) for k1, k2, v, d in b] for b in batches
        ],
        "compact_after": draw(st.one_of(st.none(), st.integers(0, len(batches) - 1))),
    }


def _newest_per_key(rows):
    out = {}
    for r in rows:
        if r[:2] not in out or r[2] > out[r[:2]][2]:
            out[r[:2]] = r
    return list(out.values())


def _build(spark, h) -> LakeTable:
    tbl = LakeTable(spark, tempfile.mkdtemp(), key_cols=KEY, n_buckets=4)
    for i, batch in enumerate(h["batches"]):
        if h["mode"] == "mor":
            tbl.merge_mor(spark.createDataFrame(batch, SCHEMA), f"b{i}")
        else:  # the COW sink's shape: newest event per key, late-event guard
            df = spark.createDataFrame(_newest_per_key(batch), SCHEMA)
            tbl.merge(df, f"b{i}", order_col="seq")
        if h["compact_after"] == i:
            tbl.compact()
    return tbl


def _rows(df) -> Counter:
    cols = KEY + ["seq", "v", "_deleted", "_bucket"]
    return Counter(tuple(r) for r in df.select(*cols).collect())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(h=histories())
# an uncompacted MoR bucket: a dead key with an older live version, and a
# re-inserted key with an older tombstone
@example(
    h={
        "mode": "mor",
        "batches": [
            [("a", "x", 1, "p", False), ("b", "x", 2, "p", True)],
            [("a", "x", 3, "q", True), ("b", "x", 4, "q", False)],
        ],
        "compact_after": None,
    }
)
def test_purge_matches_model(spark, h):
    tbl = _build(spark, h)
    before = tbl.snapshot()
    raw = _rows(tbl.read())
    live = _rows(tbl.read_resolved())
    dead = {r[:2] for r in _newest_per_key(list(raw)) if r[4]}
    dead_buckets = {r[5] for r in raw if r[:2] in dead}

    st_ = tbl.purge_tombstones()

    after = tbl.snapshot()
    assert _rows(tbl.read()) == Counter(
        {r: n for r, n in raw.items() if r[:2] not in dead}
    )
    assert _rows(tbl.read_resolved()) == live
    assert after.seq_hi == before.seq_hi
    if not dead:
        assert st_.skipped and after.version == before.version
        return
    assert after.operation == "purge"
    assert st_.rewritten_buckets == len(dead_buckets)

    def kept(snap):
        return {f["path"] for f in snap.files if f["bucket"] not in dead_buckets}

    assert kept(after) == kept(before)
