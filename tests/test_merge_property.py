"""Property test for ``LakeTable.merge``: for random stored and batch
frames — multi-row keys, null key columns, stale and fresh orders, a
column added on either side — the merged table equals a pure-Python
model of key-replacement MERGE. Also pins the plan of the one
key-aligned bucket rewrite that ``merge``, ``compact`` and
``purge_tombstones`` write through."""

from __future__ import annotations

import re
import tempfile
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_rdf_star_spark.storage.lake import LakeTable

KEY = ["k1", "k2"]
N_BUCKETS = 4

ROW = st.fixed_dictionaries(
    {
        "k1": st.sampled_from(["a", "b", None]),
        "k2": st.sampled_from(["x", "y", None]),
        "seq": st.one_of(st.none(), st.integers(min_value=1, max_value=5)),
        "v": st.sampled_from(["p", "q", "r"]),
        "extra": st.sampled_from(["e1", None]),
    }
)

CASE = st.fixed_dictionaries(
    {
        "existing": st.lists(ROW, min_size=0, max_size=8),
        "batch": st.lists(ROW, min_size=1, max_size=6),
        "order_col": st.booleans(),
        # the column only one side carries: the batch adds it, or the
        # table has it and the batch lacks it
        "extra_on": st.sampled_from(["batch", "existing"]),
        # the table stores no order column at all
        "stored_order": st.booleans(),
    }
)


def _model(c: dict) -> tuple[list[str], Counter]:
    """Key-replacement MERGE, row by row.

    matched: no null key column and a batch row with the key.
    stale: an order column is given and stored, and the key's max stored
    order beats its max batch order (nulls never count).
    An existing row survives iff its key is unmatched or stale; a batch
    row is written iff its key is not stale."""
    order = "seq" if c["order_col"] else None
    e_cols, b_cols = _columns(c)
    existing = [{k: r[k] for k in e_cols} for r in c["existing"]]
    batch = [{k: r[k] for k in b_cols} for r in c["batch"]]

    def key(r):
        return tuple(r[k] for k in KEY)

    def full(r):
        return None not in key(r)

    def top(rows, k):
        vals = [r[order] for r in rows if full(r) and key(r) == k]
        vals = [v for v in vals if v is not None]
        return max(vals) if vals else None

    matched = {key(r) for r in batch if full(r)}
    stale = set()
    if order and order in e_cols:
        for k in matched:
            old, new = top(existing, k), top(batch, k)
            if old is not None and new is not None and old > new:
                stale.add(k)
    out_cols = e_cols + [c for c in b_cols if c not in e_cols]
    out = [
        r for r in existing if not (full(r) and key(r) in matched) or key(r) in stale
    ]
    out += [r for r in batch if not (full(r) and key(r) in stale)]
    return out_cols, Counter(tuple(r.get(k) for k in out_cols) for r in out)


def _columns(c: dict) -> tuple[list[str], list[str]]:
    e_cols = KEY + (["seq"] if c["stored_order"] else []) + ["v"]
    b_cols = KEY + ["seq", "v"]
    if c["extra_on"] == "existing":
        e_cols.append("extra")
    else:
        b_cols.append("extra")
    return e_cols, b_cols


_TYPES = {"seq": "long", "_deleted": "boolean"}


def _frame(spark, rows: list[dict], cols: list[str]):
    ddl = ", ".join(f"{k} {_TYPES.get(k, 'string')}" for k in cols)
    return spark.createDataFrame([tuple(r[k] for k in cols) for r in rows], ddl)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(c=CASE)
def test_merge_matches_model(spark, c):
    e_cols, b_cols = _columns(c)
    tbl = LakeTable(spark, tempfile.mkdtemp(), key_cols=KEY, n_buckets=N_BUCKETS)
    tbl.create(_frame(spark, c["existing"], e_cols))
    tbl.merge(
        _frame(spark, c["batch"], b_cols),
        "b1",
        order_col="seq" if c["order_col"] else None,
    )
    summary = tbl.snapshot().summary
    assert sum(summary["added_rows"].values()) == len(c["batch"])
    assert sorted(map(int, summary["added_rows"])) == summary["affected_buckets"]
    cols, want = _model(c)
    got = tbl.read().drop("_bucket")
    assert got.columns == cols
    assert Counter(tuple(r) for r in got.collect()) == want


def _write_plans(monkeypatch) -> list[tuple[str, bool]]:
    """Record (physical plan, pre_bucketed) of every ``_write_data``."""
    seen: list[tuple[str, bool]] = []
    orig = LakeTable._write_data

    def spy(self, df, version, pre_bucketed=False):
        p = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        seen.append((p, pre_bucketed))
        return orig(self, df, version, pre_bucketed=pre_bucketed)

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    return seen


def _one_key_exchange(p: str) -> None:
    assert p.count("Exchange") == 1, p
    args = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(args) == 1, p
    assert re.fullmatch(rf"k1#\d+, k2#\d+, {N_BUCKETS}", args[0]), args
    assert "Join" not in p


def test_merge_and_compact_write_through_one_key_exchange(spark, monkeypatch):
    tbl = LakeTable(spark, tempfile.mkdtemp(), key_cols=KEY, n_buckets=N_BUCKETS)
    cols = KEY + ["seq", "v", "_deleted"]
    for seq, v in ((1, "p"), (2, "q")):
        row = {"k1": "a", "k2": "x", "seq": seq, "v": v, "_deleted": False}
        tbl.merge_mor(_frame(spark, [row], cols), f"m{seq}")
    seen = _write_plans(monkeypatch)
    tbl.compact()
    batch = [
        {"k1": "a", "k2": "x", "seq": 3, "v": "r", "_deleted": False},
        {"k1": "b", "k2": "y", "seq": 3, "v": "r", "_deleted": True},
    ]
    tbl.merge(_frame(spark, batch, cols), "b1", order_col="seq")
    assert not tbl.purge_tombstones().skipped
    assert len(seen) == 3
    for p, pre_bucketed in seen:
        assert pre_bucketed
        _one_key_exchange(p)
    rows = {tuple(r) for r in tbl.read().select(*cols).collect()}
    assert rows == {("a", "x", 3, "r", False)}
