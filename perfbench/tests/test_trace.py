import threading
import time

from perfbench.trace import Tracer


class _Thing:
    def work(self, d):
        time.sleep(d)
        return d


def test_self_time_is_duration_minus_children():
    t = Tracer()
    with t.span("outer"):
        time.sleep(0.02)
        with t.span("inner"):
            time.sleep(0.03)
    by = t.by_name()
    assert by["outer"]["calls"] == 1
    assert abs(by["outer"]["self_s"] - 0.02) < 0.015
    assert abs(by["inner"]["self_s"] - by["inner"]["wall_s"]) < 1e-9
    total_self = sum(v["self_s"] for v in by.values())
    assert abs(total_self - by["outer"]["wall_s"]) < 1e-6


def test_errors_are_counted_by_type():
    t = Tracer()
    try:
        with t.span("boom"):
            raise KeyError("x")
    except KeyError:
        pass
    assert t.counters["error.KeyError"] == 1
    assert t.spans[0].error


def test_wrap_and_unwrap_and_cross_thread_parent():
    t = Tracer()
    t.wrap(_Thing, "work", "thing.work")
    with t.span("root") as root:
        t.adopt(root.sid)
        th = threading.Thread(target=_Thing().work, args=(0.01,))
        th.start()
        th.join(timeout=5)
        t.adopt(None)
    assert not th.is_alive()
    t.unwrap()
    _Thing().work(0)
    spans = {s.name: s for s in t.spans}
    assert set(spans) == {"root", "thing.work"}
    assert spans["thing.work"].parent == spans["root"].sid
