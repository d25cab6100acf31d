import collections
import io

import pyarrow.parquet as pq

from perfbench import gen


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_same_seed_gives_byte_identical_log():
    a = gen.event_log(7, 500, 3)
    b = gen.event_log(7, 500, 3)
    assert _bytes(a) == _bytes(b)
    ua = gen.upsert_batches(7, 500, 3, 3, 40)
    ub = gen.upsert_batches(7, 500, 3, 3, 40)
    assert [_bytes(t) for t in ua] == [_bytes(t) for t in ub]
    assert gen.query_cycle(7, 0, 500) == gen.query_cycle(7, 0, 500)


def test_other_seed_permutes_keys_but_keeps_skew_and_op_mix():
    a = gen.event_log(1, 1000, 3)
    b = gen.event_log(2, 1000, 3)
    first_a = set(a.column("path").to_pylist()[:200])
    first_b = set(b.column("path").to_pylist()[:200])
    assert first_a != first_b  # each batch touches other keys

    def shape(t):
        ops = collections.Counter(t.column("op").to_pylist())
        repos = collections.Counter(t.column("repo").to_pylist())
        return ops, repos

    ops_a, repos_a = shape(a)
    ops_b, repos_b = shape(b)
    assert ops_a == ops_b
    assert repos_a == repos_b
    assert 0.20 < repos_a["repo_0"] / a.num_rows < 0.23


def test_log_is_seq_ordered_and_keys_keep_their_lang():
    t = gen.event_log(3, 300, 4)
    seqs = t.column("seq").to_pylist()
    assert seqs == sorted(seqs) == list(range(1200))
    by_path = collections.defaultdict(set)
    for path, lang in zip(t.column("path").to_pylist(), t.column("lang").to_pylist()):
        by_path[path].add(lang)
        assert path.endswith("." + lang)
    assert len(by_path) == 300 and all(len(v) == 1 for v in by_path.values())


def test_upsert_batches_continue_the_log():
    log = gen.event_log(5, 400, 2)
    batches = gen.upsert_batches(5, 400, 2, 4, 30)
    seq = log.num_rows
    for b in batches:
        assert b.num_rows == 30
        assert b.column("seq").to_pylist() == list(range(seq, seq + 30))
        assert len(set(b.column("path").to_pylist())) == 30
        assert set(b.column("op").to_pylist()) <= {"U", "D"}
        seq += 30


def test_a_cycle_repeats_every_text_once_and_covers_every_shape():
    qs = gen.query_cycle(11, 0, 6000)
    assert [q.shape for q in qs[::2]] == list(gen.SHAPES)
    assert qs[::2] == qs[1::2]
    assert qs[0].shape == "annotation_filter"
    assert gen.query_cycle(11, 1, 6000) != qs
    assert gen.query_cycle(12, 0, 6000) != qs
