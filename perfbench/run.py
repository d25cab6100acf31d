"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a human-readable report, then as the
last stdout line one JSON object ``{correct, attempted, failed, metrics}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits non-zero when an output check fails or the package
cannot be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"

# span name -> (module, owner or None, attribute) of the public function it
# wraps, and the per-layer fields reported for it
CALLS, WALL, SELF = "calls", "wall_s", "self_s"
TRACED = {
    "cdc.apply_batch": ("streaming.cdc", "CdcEngine", "apply_batch", (CALLS, WALL, SELF)),
    "cdc.materialize_wide": ("streaming.cdc", "CdcEngine", "materialize_wide", (WALL,)),
    "lake.merge_mor": ("storage.lake", "LakeTable", "merge_mor", (CALLS, WALL, SELF)),
    "lake.merge": ("storage.lake", "LakeTable", "merge", (CALLS, WALL, SELF)),
    "lake.compact": ("storage.lake", "LakeTable", "compact", (CALLS, WALL)),
    "lake.append_rows": ("storage.lake", "LakeTable", "append_rows", (CALLS, WALL)),
    "lake.snapshot": ("storage.lake", "LakeTable", "snapshot", (CALLS, WALL)),
    "lake.read_resolved": ("storage.lake", "LakeTable", "read_resolved", (CALLS, WALL)),
    "serving.register_views": ("http_serving", None, "register_views", (CALLS, WALL)),
    "sparql.parse_sparql": ("queries.sparql", None, "parse_sparql", (CALLS, WALL)),
    "sparql.sparql_df": ("queries.sparql", None, "sparql_df", (CALLS, WALL)),
    "sparql.dataset_from_engine": (
        "queries.sparql", None, "dataset_from_engine", (CALLS, WALL)
    ),
    "sparql.render_sparql_result": (
        "queries.sparql", None, "render_sparql_result", (CALLS, WALL)
    ),
    "http.sparql": ("http_serving", "QueryServer", "sparql", (CALLS, SELF)),
}
SPARK_GROUPS = (
    "cdc.apply_batch",
    "lake.merge_mor",
    "lake.merge",
    "lake.compact",
    "serving.register_views",
    "sparql.render_sparql_result",
    "other",
)
END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "commit_bytes_per_event": "B",
    "stored_bytes_per_row": "B",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(workdir: str, trace: bool) -> str:
    """Point every temp/scratch location of this process and its JVM at
    ``workdir``; return the event-log dir (traced runs only)."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # for the launcher JVM too; no hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(workdir, "eventlog")
    if trace:
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )
    return log_dir


def calibrate(spark) -> tuple[float, float]:
    """(pure-CPU kernel s, small Spark job s): fixed work that moves only
    with the host, timed before and after every run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) % 1_000_003
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=CORES).selectExpr(
        "sum(hash(id) % 1000) AS s"
    ).collect()
    return cpu, time.perf_counter() - t0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (VmHWM) of this process and of the driver JVM."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm("self") / 1024.0, hwm(jvm) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM this process launched to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_tracer(tracer) -> None:
    import importlib

    for name, (mod, owner, attr, _) in TRACED.items():
        m = importlib.import_module(f"etl_pipeline_rdf_star_spark.{mod}")
        tracer.wrap(getattr(m, owner) if owner else m, attr, name)


def layer_metrics(tracer, res: dict, groups: dict, wall: float, span_cost: float):
    """The per-layer metric dict of a traced run (every name, 0 where the
    workload bypasses the layer)."""
    from perfbench.eventlog import FIELDS

    spans = tracer.by_name()

    def span(name: str, field: str) -> float:
        return spans.get(name, {}).get(field, 0)

    out: dict[str, float] = {}
    for name, (*_, fields) in TRACED.items():
        for f in fields:
            out[f"{name}.{f}"] = span(name, f)
    # the stream's own time: its wall outside apply_batch
    out["cdc.run_stream.overhead_s"] = span("cdc.run_stream", SELF)
    out["lake.compact.bytes_rewritten"] = res.get("compact_bytes_rewritten", 0)
    out["lake.commit_conflicts"] = tracer.counters.get("error.ConcurrentCommitError", 0)
    out["lake.data_files"] = res["data_files"]
    out["lake.files_per_bucket"] = res["files_per_bucket"]
    calls = span("http.sparql", CALLS)
    out["http.plan_cache.hit_ratio"] = (
        1 - span("sparql.parse_sparql", CALLS) / calls if calls else 0.0
    )
    out["http.transport_s"] = (
        span("http.request", WALL) - span("http.sparql", WALL) if calls else 0.0
    )
    for g in SPARK_GROUPS:
        for f in FIELDS:
            out[f"spark.{g}.{f}"] = groups[g][f]
    out["trace.spans"] = len(tracer.spans)
    out["trace.overhead_frac"] = len(tracer.spans) * span_cost / wall
    # layer self times must add up to the workers' wall: no large part of
    # the run goes unattributed
    out["trace.self_sum_frac"] = (
        sum(s[SELF] for s in spans.values()) / res["worker_wall_s"]
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import etl_pipeline_rdf_star_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    spark = workload = None
    try:
        log_dir = isolate(workdir, bool(args.trace))
        from etl_pipeline_rdf_star_spark.session import get_spark

        spark = get_spark("perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).count()
        calib0 = calibrate(spark)
        ctx = W.Ctx(spark, args.seed, workdir, args.seconds, None)
        workload = W.WORKLOADS[args.workload](ctx)
        workload.setup()
        setup_s = time.perf_counter() - T_PROCESS

        from perfbench.trace import Tracer, span_cost_s

        if args.trace:
            ctx.tracer = Tracer(spark)
            install_tracer(ctx.tracer)
        window = [time.time()]
        t0 = time.perf_counter()
        res = workload.measure()
        wall = time.perf_counter() - t0
        window.append(time.time())
        rss = peak_rss_mb(spark)
        tracer, ctx.tracer = ctx.tracer, None
        if tracer:
            tracer.unwrap()
        workload.check()
        calib1 = calibrate(spark)
        cost = span_cost_s(tracer) if tracer else 0.0
        workload.close()
        workload = None
        stop_session(spark)
        spark = None

        calib = {
            "host.calib_cpu_s": (calib0[0] + calib1[0]) / 2,
            "host.calib_spark_s": (calib0[1] + calib1[1]) / 2,
        }
        for line in build_report(args, res, setup_s, rss, ctx, calib):
            print(line)
        if tracer:
            from perfbench.eventlog import read_group_sums

            groups = fold_groups(read_group_sums(log_dir, window=tuple(window)))
            metrics = layer_metrics(tracer, res, groups, wall, cost)
            metrics.update(calib)
            metrics["proc.python_rss_mb"], metrics["proc.jvm_rss_mb"] = rss
            for name, s in sorted(tracer.by_name().items()):
                print(f"span {name:32s} calls={s['calls']:<5d} wall={s['wall_s']:.3f}s "
                      f"self={s['self_s']:.3f}s")
            frac = metrics["trace.self_sum_frac"]
            ctx.check("trace.coverage", abs(frac - 1.0) <= 0.10,
                      f"layer self times sum to {frac:.3f} of the workers' wall")
            units = per_layer_units()
        else:
            metrics = {
                "setup_s": setup_s,
                # one closed-loop client: latency is the reciprocal of this,
                # so it is reported (commit_s, query_s) but not gated twice
                "throughput_per_s": res["throughput_per_s"],
                "commit_bytes_per_event": res["commit_bytes_per_event"],
                "stored_bytes_per_row": res["stored_bytes_per_row"],
            }
            units = END_TO_END_UNITS
        for name, ok, detail in ctx.checks:
            print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
        correct = all(ok for _, ok, _ in ctx.checks)
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                          "failed": ctx.failed, "metrics": out}))
        return 0 if correct else 1
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def fold_groups(raw: dict) -> dict:
    """Keep the reported Spark groups; fold every other span group and the
    ungrouped jobs into ``other``."""
    from perfbench.eventlog import FIELDS, OTHER

    out = {g: dict.fromkeys(FIELDS, 0) for g in SPARK_GROUPS}
    for g, vals in raw.items():
        dst = out[g] if g in out else out[OTHER]
        for f, v in vals.items():
            dst[f] += v
    return out


def per_layer_units() -> dict[str, str]:
    from perfbench.eventlog import FIELDS

    def unit(name: str) -> str:
        if name.endswith("_s"):
            return "s"
        if name.endswith("_bytes") or name.endswith("bytes_rewritten"):
            return "B"
        if name.endswith("_mb"):
            return "MB"
        if name.endswith(("_frac", "_ratio")):
            return "ratio"
        return "count"

    names = [f"{n}.{f}" for n, (*_, fields) in TRACED.items() for f in fields]
    names += [
        "cdc.run_stream.overhead_s",
        "lake.compact.bytes_rewritten",
        "lake.commit_conflicts",
        "lake.data_files",
        "lake.files_per_bucket",
        "http.plan_cache.hit_ratio",
        "http.transport_s",
    ]
    names += [f"spark.{g}.{f}" for g in SPARK_GROUPS for f in FIELDS]
    names += [
        "trace.spans",
        "trace.overhead_frac",
        "trace.self_sum_frac",
        "host.calib_cpu_s",
        "host.calib_spark_s",
        "proc.python_rss_mb",
        "proc.jvm_rss_mb",
    ]
    return {n: unit(n) for n in names}


def build_report(args, res, setup_s, rss, ctx, extra) -> list[str]:
    """The twelve named end-to-end figures (``n/a`` where the workload has
    no such operation), with sample counts and supported percentiles."""
    from perfbench.stats import supported_percentiles

    def dist(xs):
        if not xs:
            return "n/a"
        ps = supported_percentiles(xs)
        tail = " ".join(f"{k}={v:.4f}" for k, v in ps.items()) or "no percentile supported"
        return (f"n={len(xs)} median={statistics.median(xs):.4f} "
                f"mean={sum(xs) / len(xs):.4f} {tail}")

    def val(x, fmt="{:.4f}"):
        return "n/a" if x is None else fmt.format(x)

    lines = [
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace}",
        f"  setup_s                 {setup_s:.4f} s",
        f"  events_per_s            {val(res.get('events_per_s'))} 1/s",
        f"  commit_s                {dist(res.get('commit_s') or [])} s",
        f"  compact_s               {val(res.get('compact_s'))} s",
        f"  query_s                 {dist(res.get('query_s') or [])} s",
        f"  queries_per_s           {val(res.get('queries_per_s'))} 1/s",
        f"  fresh_s                 {dist(res.get('fresh_s') or [])} s",
        f"  written_bytes_per_event {val(res.get('written_bytes_per_event'), '{:.1f}')} B",
        f"  stored_bytes_per_row    {val(res.get('stored_bytes_per_row'), '{:.1f}')} B",
        f"  peak_rss_mb             {sum(rss):.1f} MB (python {rss[0]:.1f}, jvm {rss[1]:.1f})",
        f"  failed_ratio            {ctx.failed}/{ctx.attempted}",
        f"  host.calib_cpu_s        {extra['host.calib_cpu_s']:.4f} s",
        f"  host.calib_spark_s      {extra['host.calib_spark_s']:.4f} s",
    ]
    return lines


if __name__ == "__main__":
    sys.exit(main())
