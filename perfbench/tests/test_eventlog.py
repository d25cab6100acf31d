import json

from perfbench.eventlog import OTHER, group_sums


def _job(job_id, stages, group=None, submitted_ms=1_000_000):
    props = {} if group is None else {"spark.jobGroup.id": group}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submitted_ms, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms=0, cpu_ns=0, sw=0, sr_local=0, sr_remote=0, out=0,
          gc_ms=0, spill_mem=0, spill_disk=0, fetch_ms=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill_mem,
            "Disk Bytes Spilled": spill_disk,
            "Shuffle Read Metrics": {"Local Bytes Read": sr_local,
                                     "Remote Bytes Read": sr_remote,
                                     "Fetch Wait Time": fetch_ms},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Output Metrics": {"Bytes Written": out},
        },
    }


FIXTURE = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0, 1], "lake.merge_mor"),
    _task(0, run_ms=1500, cpu_ns=1_000_000_000, sw=100),
    _task(0, run_ms=500, cpu_ns=250_000_000, sw=50, gc_ms=20),
    _task(1, run_ms=1000, sr_local=120, sr_remote=30, out=4096, fetch_ms=5),
    _job(1, [1, 2], "sparql.render_sparql_result"),  # stage 1 is reused
    _task(2, run_ms=250, spill_mem=7, spill_disk=3),
    _job(2, [3]),
    _task(3, run_ms=100),
    _job(3, [4], "lake.merge_mor", submitted_ms=9_000_000),  # after the window
    _task(4, run_ms=7000),
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3},  # failed task: no metrics
]


def test_group_sums_on_fixture():
    sums = group_sums((json.dumps(e) for e in FIXTURE), window=(0, 2_000))
    m = sums["lake.merge_mor"]
    assert m["jobs"] == 1 and m["tasks"] == 3
    assert m["executor_run_s"] == 3.0
    assert m["executor_cpu_s"] == 1.25
    assert m["shuffle_write_bytes"] == 150
    assert m["shuffle_read_bytes"] == 150
    assert m["fetch_wait_s"] == 0.005
    assert m["output_bytes"] == 4096
    assert m["gc_s"] == 0.02
    r = sums["sparql.render_sparql_result"]
    assert r["jobs"] == 1 and r["tasks"] == 1 and r["spill_bytes"] == 10
    assert r["executor_run_s"] == 0.25
    assert sums[OTHER]["jobs"] == 1 and sums[OTHER]["executor_run_s"] == 0.1


def test_without_a_window_every_job_counts():
    sums = group_sums(json.dumps(e) for e in FIXTURE)
    assert sums["lake.merge_mor"]["jobs"] == 2
    assert sums["lake.merge_mor"]["executor_run_s"] == 10.0
