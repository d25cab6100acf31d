from perfbench import run
from perfbench.trace import Tracer


def test_traced_run_reports_exactly_the_declared_per_layer_metrics():
    t = Tracer()
    with t.span("http.request"):
        with t.span("http.sparql"):
            with t.span("sparql.parse_sparql"):
                pass
    res = {"data_files": 4, "files_per_bucket": 1.0, "worker_wall_s": 1.0}
    metrics = run.layer_metrics(t, res, run.fold_groups({}), wall=1.0, span_cost=1e-5)
    metrics.update(dict.fromkeys(
        ("host.calib_cpu_s", "host.calib_spark_s", "proc.python_rss_mb",
         "proc.jvm_rss_mb"), 1.0))
    assert set(metrics) == set(run.per_layer_units())
    assert metrics["http.plan_cache.hit_ratio"] == 0.0
    assert len(metrics) <= 128


def test_fold_groups_keeps_reported_groups_and_folds_the_rest():
    raw = {"lake.merge": {"jobs": 2}, "lake.snapshot": {"jobs": 1}, "other": {"jobs": 3}}
    folded = run.fold_groups(raw)
    assert set(folded) == set(run.SPARK_GROUPS)
    assert folded["lake.merge"]["jobs"] == 2
    assert folded["other"]["jobs"] == 4
