import os

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle import Oracle, answer_digest, fingerprint, query_sql, response_digest


def _oracle(tmp_path, seed=4, n_keys=600):
    log = gen.event_log(seed, n_keys, 3)
    p = os.path.join(tmp_path, "log.parquet")
    pq.write_table(log, p)
    return Oracle([p]), log.num_rows


def test_fingerprint_rejects_a_table_with_one_row_dropped(tmp_path):
    oracle, n = _oracle(tmp_path)
    rows = oracle.state_rows(n)
    assert fingerprint(rows) == fingerprint(list(reversed(rows)))
    assert fingerprint(rows[1:]) != fingerprint(rows)
    oracle.close()


def test_state_is_latest_per_key_minus_deletes(tmp_path):
    oracle, n = _oracle(tmp_path)
    log = oracle.con.execute("SELECT seq, op, repo, path, content FROM events").fetchall()
    latest = {}
    for seq, op, repo, path, content in sorted(log):
        latest[(repo, path)] = (op, content)
    want = {k: c for k, (op, c) in latest.items() if op != "D"}
    got = {(r[0], r[1]): r[4] for r in oracle.state_rows(n)}
    assert got == want
    oracle.close()


def _doc(cols, rows):
    return {"head": {"vars": cols},
            "results": {"bindings": [{c: {"type": "literal", "value": v}
                                      for c, v in zip(cols, r)} for r in rows]}}


def test_answer_check_rejects_a_response_with_one_row_dropped(tmp_path):
    oracle, n = _oracle(tmp_path)
    sql = query_sql("annotation_filter", "0.5").replace(
        "FROM final", f"FROM {oracle._state_table(n)}")
    rows = [tuple(map(str, r)) for r in oracle.con.execute(sql).fetchall()]
    assert len(rows) > 10
    want = oracle.answer("annotation_filter", "0.5", n)
    cols = ["subject", "lang_value", "confidence"]
    assert response_digest(_doc(cols, rows[::-1])) == want
    assert response_digest(_doc(cols, rows[1:])) != want
    oracle.close()


def test_every_shape_has_an_oracle(tmp_path):
    oracle, n = _oracle(tmp_path)
    for q in gen.query_cycle(4, 0, 600) + gen.query_cycle(4, 1, 600):
        count, _ = oracle.answer(q.shape, q.const, n)
        assert count >= 0
    assert answer_digest([]) == (0, answer_digest([])[1])
    oracle.close()
