"""The two workloads. Each has ``setup`` (inputs, tables, warm-up), a timed
``measure`` and an untimed ``check``; see perfbench/README.md for why each
was chosen and which layers it exercises.

Both do a fixed amount of work sized from ``--seconds`` (about that long
measured on a 4-core host), so every run of a seed repeats the same
operations and byte counts, and run-to-run spread is the host's and the
program's alone.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import urllib.error
import urllib.request

import pyarrow.parquet as pq

from . import gen
from .oracle import STATE_COLS, Oracle, fingerprint, response_digest, row_sha256
from .trace import PARENT_HEADER, Tracer

EVENT_DDL = (
    "seq long, op string, repo string, path string, commit string, "
    "lang string, content string, event_ts timestamp"
)


class Ctx:
    """What a workload needs from the run: session, seed, scratch dir,
    work size and (in a traced run) the tracer."""

    def __init__(self, spark, seed: int, workdir: str, seconds: float, tracer):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.seconds = seconds
        self.tracer: Tracer | None = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def _files_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _data_files(table) -> set[str]:
    return set(glob.glob(os.path.join(table.path, "data", "**", "*.parquet"),
                         recursive=True))


def _snapshot_bytes_rows(table) -> tuple[int, int]:
    snap = table.snapshot()
    size = _files_bytes(table._abs(f["path"]) for f in snap.files)
    return size, sum(f["rows"] for f in snap.files)


class _Timed:
    """Wall time of every call to ``obj.attr``. The method is looked up on
    the class at call time, so a traced run's wrapper still applies."""

    def __init__(self, obj, attr: str):
        self.obj, self.attr = obj, attr
        self.walls: list[float] = []

    def __call__(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return getattr(type(self.obj), self.attr)(self.obj, *a, **kw)
        finally:
            self.walls.append(time.perf_counter() - t0)


# -----------------------------------------------------------------------------


class IngestBulk:
    """Backlog catch-up: seq-ranged parquet files drained by
    ``CdcEngine.run_stream`` (MoR, ``availableNow``, one file per trigger,
    each trigger after the last commit), then one ``compact()``."""

    name = "ingest_bulk"
    N_KEYS = 12_000
    VERSIONS = 4
    FILE_EVENTS = 1_000
    WARM_FILES = 10  # commit latency keeps falling while the JIT warms up
    FILES_PER_SECOND = 1.4  # backlog files per second of --seconds
    N_BUCKETS = 4

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.workdir, "ingest")

    def setup(self) -> None:
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        log = gen.event_log(self.ctx.seed, self.N_KEYS, self.VERSIONS)
        n_files = log.num_rows // self.FILE_EVENTS
        self.files = gen.write_log(log, os.path.join(self.root, "staged"), n_files)
        backlog = max(1, round(self.ctx.seconds * self.FILES_PER_SECOND))
        self.released = min(self.WARM_FILES + backlog, n_files)
        self.engine = CdcEngine(
            self.ctx.spark, os.path.join(self.root, "lake"), n_buckets=self.N_BUCKETS,
            mode="mor",
        )
        self.stream_dir = os.path.join(self.root, "stream")
        self.ckpt = os.path.join(self.root, "ckpt")
        os.makedirs(self.stream_dir)
        # discarded warm-up: the first files go through the same stream
        self._release(0, self.WARM_FILES)
        self.engine.run_stream(self.stream_dir, self.ckpt)
        self.timed = _Timed(self.engine, "apply_batch")
        self.engine.apply_batch = self.timed

    def _release(self, lo: int, hi: int) -> None:
        for p in self.files[lo:hi]:
            os.link(p, os.path.join(self.stream_dir, os.path.basename(p)))

    def measure(self) -> dict:
        ctx, eng = self.ctx, self.engine
        before = _data_files(eng.table)
        self._release(self.WARM_FILES, self.released)
        events = sum(pq.read_metadata(p).num_rows
                     for p in self.files[self.WARM_FILES : self.released])
        t0 = time.perf_counter()
        try:
            with ctx.span("cdc.run_stream") as sp:
                if ctx.tracer:
                    ctx.tracer.adopt(sp.sid)
                eng.run_stream(self.stream_dir, self.ckpt)
        finally:
            if ctx.tracer:
                ctx.tracer.adopt(None)
        drain_s = time.perf_counter() - t0
        after_ingest = _data_files(eng.table)
        t0 = time.perf_counter()
        with ctx.span("cdc.compact"):
            eng.compact()
        compact_s = time.perf_counter() - t0
        after_compact = _data_files(eng.table)
        commits = self.timed.walls
        ctx.attempted += len(commits) + 1  # micro-batch commits + compaction
        ingest_bytes = _files_bytes(after_ingest - before)
        compact_bytes = _files_bytes(after_compact - after_ingest)
        stored, live_rows = _snapshot_bytes_rows(eng.table)
        n_files = len(eng.table.snapshot().files)
        return {
            "events": events,
            "events_per_s": events / drain_s,
            "commit_s": commits,
            "compact_s": compact_s,
            "compact_bytes_rewritten": compact_bytes,
            "commit_bytes_per_event": ingest_bytes / events,
            "written_bytes_per_event": (ingest_bytes + compact_bytes) / events,
            "stored_bytes_per_row": stored / live_rows,
            "data_files": n_files,
            "files_per_bucket": n_files / self.N_BUCKETS,
            "throughput_per_s": events / drain_s,
            "worker_wall_s": drain_s + compact_s,
        }

    def close(self) -> None:
        pass  # nothing outlives the session

    def check(self) -> None:
        from pyspark.sql import functions as F

        from etl_pipeline_rdf_star_spark.storage.lake import table_fingerprint

        ctx, eng = self.ctx, self.engine
        oracle = Oracle(self.files[: self.released])
        try:
            n_events = oracle.n_events()  # a prefix of the log: seqs 0..n-1
            want = fingerprint(oracle.state_rows(n_events))
        finally:
            oracle.close()
        got = table_fingerprint(eng.current_state(), cols=list(STATE_COLS))
        ctx.check("ingest.fingerprint", got == want, f"engine {got} oracle {want}")
        live = eng.live_rows().select(*STATE_COLS, "row_sha256").collect()
        bad = sum(1 for r in live if row_sha256(tuple(r)[:5]) != r["row_sha256"])
        ctx.check("ingest.row_sha256", bad == 0, f"{bad} of {len(live)} mismatch")
        ledger = eng.batches.read().agg(F.sum("events")).collect()[0][0] or 0
        ctx.check(
            "ingest.ledger_events", ledger == n_events,
            f"ledger {ledger} log {n_events}",
        )


# -----------------------------------------------------------------------------


class ServeMixed:
    """One closed-loop client over HTTP against ``QueryServer`` on a COW
    table (``CdcEngine(mode="cow")``): each cycle commits a small skewed
    upsert batch, then sends each query shape once and at once again (half
    the requests repeat an earlier text). The first request after the
    commit is the freshness probe."""

    name = "serve_mixed"
    N_KEYS = 4_000
    VERSIONS = 2
    BATCH = 300
    N_BUCKETS = 4
    SECONDS_PER_CYCLE = 15.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.workdir, "serve")
        self.server = None

    def setup(self) -> None:
        from etl_pipeline_rdf_star_spark.http_serving import QueryServer
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        seed = self.ctx.seed
        self.cycles = max(1, round(self.ctx.seconds / self.SECONDS_PER_CYCLE))
        os.makedirs(self.root)
        log = gen.event_log(seed, self.N_KEYS, self.VERSIONS)
        self.base_path = os.path.join(self.root, "base.parquet")
        pq.write_table(log, self.base_path)
        self.batch_paths = []
        batches = gen.upsert_batches(
            seed, self.N_KEYS, self.VERSIONS, self.cycles + 1, self.BATCH
        )
        for i, b in enumerate(batches):
            p = os.path.join(self.root, f"upsert-{i:04d}.parquet")
            pq.write_table(b, p)
            self.batch_paths.append(p)
        self.cuts = [log.num_rows + self.BATCH * i for i in range(len(batches) + 1)]

        spark = self.ctx.spark
        self.engine = CdcEngine(
            spark, os.path.join(self.root, "lake"), n_buckets=self.N_BUCKETS, mode="cow"
        )
        self.engine.apply_batch(self._read(self.base_path), "base")
        self.server = QueryServer(spark, self.engine).start()
        self._link_handler_spans()
        # discarded warm-up: one upsert commit, one request and its repeat
        self.applied = 0
        self._upsert()
        for spec in gen.query_cycle(seed, self.cycles, self.N_KEYS)[:2]:
            self._post(spec.text)

    def _read(self, path: str):
        return self.ctx.spark.read.schema(EVENT_DDL).parquet(path)

    def _upsert(self) -> None:
        i = self.applied
        self.engine.apply_batch(self._read(self.batch_paths[i]), f"upsert-{i:04d}")
        self.applied = i + 1

    def _link_handler_spans(self) -> None:
        """In a traced window, handler threads take the client's span as
        their parent."""
        ctx = self.ctx
        handler = self.server.server.RequestHandlerClass
        orig = handler.do_POST

        def do_POST(h):
            tracer = ctx.tracer
            if tracer is None:
                return orig(h)
            pid = h.headers.get(PARENT_HEADER)
            tracer.push_parent(int(pid) if pid else None)
            try:
                with tracer.span("http.handler"):
                    orig(h)
            finally:
                tracer.pop_parent()

        handler.do_POST = do_POST

    def _post(self, text: str) -> dict | None:
        """One request; the parsed document, or None on a non-200 reply."""
        headers = {"Content-Type": "application/json"}
        with self.ctx.span("http.request") as sp:
            if sp is not None:
                headers[PARENT_HEADER] = str(sp.sid)
            req = urllib.request.Request(
                f"http://127.0.0.1:{self.server.port}/sparql",
                data=json.dumps({"sparql": text}).encode(),
                headers=headers,
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=120) as resp:
                    return json.loads(resp.read())
            except urllib.error.HTTPError:
                return None

    def _request(self, spec: gen.QuerySpec, t_from: float | None = None) -> dict:
        t0 = time.perf_counter()
        doc = self._post(spec.text)
        t1 = time.perf_counter()
        return {"spec": spec, "state": self.applied, "s": t1 - t0,
                "since": None if t_from is None else t1 - t_from,
                "digest": None if doc is None else response_digest(doc)}

    def measure(self) -> dict:
        ctx = self.ctx
        self.requests: list[dict] = []
        self.probe_recs: list[dict] = []
        commits = []
        before = _data_files(self.engine.table)
        t_start = time.perf_counter()
        for c in range(self.cycles):
            t0 = time.perf_counter()
            self._upsert()
            commits.append(time.perf_counter() - t0)
            for k, spec in enumerate(gen.query_cycle(self.ctx.seed, c, self.N_KEYS)):
                rec = self._request(spec, t0 if k == 0 else None)
                self.requests.append(rec)
                if k == 0:
                    self.probe_recs.append(rec)
        wall = time.perf_counter() - t_start
        ctx.attempted += len(self.requests) + len(commits)
        ctx.failed += sum(1 for r in self.requests if r["digest"] is None)
        written = _files_bytes(_data_files(self.engine.table) - before)
        events = len(commits) * self.BATCH
        stored, live_rows = _snapshot_bytes_rows(self.engine.table)
        n_files = len(self.engine.table.snapshot().files)
        lat = [r["s"] for r in self.requests]
        return {
            "events_per_s": events / wall,
            "commit_s": commits,
            "query_s": lat,
            "queries_per_s": len(lat) / wall,
            "fresh_s": [p["since"] for p in self.probe_recs],
            "commit_bytes_per_event": written / events,
            "written_bytes_per_event": written / events,
            "stored_bytes_per_row": stored / live_rows,
            "data_files": n_files,
            "files_per_bucket": n_files / self.N_BUCKETS,
            "throughput_per_s": len(lat) / wall,
            "worker_wall_s": wall,
        }

    def check(self) -> None:
        ctx = self.ctx
        oracle = Oracle([self.base_path] + self.batch_paths[: self.applied])
        try:
            bad, checked = [], 0
            for r in self.requests:
                if r["digest"] is None:
                    continue
                spec, cut = r["spec"], self.cuts[r["state"]]
                checked += 1
                if oracle.answer(spec.shape, spec.const, cut) != r["digest"]:
                    bad.append(f"{spec.shape}({spec.const}) after {r['state']} upserts")
            ctx.check(
                "serve.answers", not bad and checked > 0,
                f"{checked} answers checked, {len(bad)} wrong {bad[:3]}",
            )
            stale, undecided = [], 0
            for p in self.probe_recs:
                spec, i = p["spec"], p["state"]
                new = oracle.answer(spec.shape, spec.const, self.cuts[i])
                old = oracle.answer(spec.shape, spec.const, self.cuts[i - 1])
                if new == old:
                    undecided += 1
                elif p["digest"] != new:
                    stale.append(i)
            ctx.check(
                "serve.fresh_after_commit",
                not stale and len(self.probe_recs) > undecided,
                f"{len(self.probe_recs)} commits, stale {stale}, "
                f"undecidable {undecided}",
            )
        finally:
            oracle.close()

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None


WORKLOADS = {w.name: w for w in (IngestBulk, ServeMixed)}
