"""A minimal lake-table format with Iceberg-shaped semantics, parquet-backed.

Why this exists: the north rule targets ``MERGE INTO`` an **Iceberg** table,
but this container ships no Iceberg runtime jar, and plain Spark has no
row-level-update v2 source built in. So we implement the exact subset of
Iceberg semantics the engine needs — snapshot log, key-bucketed copy-on-write
MERGE, time travel, in-place schema evolution (add columns), commit-level
idempotence — over parquet + a JSON transaction log. The engine talks to this
class only through ``create / merge / merge_mor / append_rows / read /
purge_tombstones / overwrite``; on a real cluster the same calls map 1:1 to
Iceberg:

=====================  =====================================================
LakeTable call          Iceberg equivalent
=====================  =====================================================
create(df)              CREATE TABLE ... PARTITIONED BY (bucket(N, key))
merge(src, batch_id)    MERGE INTO t USING src ON t.k=s.k
                        WHEN MATCHED THEN UPDATE SET * / DELETE+INSERT
                        WHEN NOT MATCHED THEN INSERT *
purge_tombstones()      DELETE FROM t WHERE <key's newest row is a
                        tombstone> (copy-on-write: delete by rewrite)
overwrite(df, ...)      INSERT OVERWRITE t SELECT * FROM df
append_rows(rows, ...)  INSERT INTO ... VALUES (commit property batch_id)
read(version=v)         SELECT ... VERSION AS OF v
schema evolution        ALTER TABLE ADD COLUMN (merge-on-write here)
committed batch ids     snapshot summary props (exactly-once foreachBatch),
                        with the rows a commit added per bucket and how
                        many are tombstones (``added-records``)
=====================  =====================================================

A delete is a tombstone row like any other version of its key: rows
leave the table only when whole buckets (merge, compaction, purge) or the
whole table (overwrite) are rewritten.

Scale design (the part that must survive 100 TB / 10^10 events):

* **Bucket-partitioned copy-on-write.** Rows land in ``pmod(hash(key),
  n_buckets)`` buckets; a MERGE rewrites only the buckets that contain
  touched keys — identical to Iceberg COW with bucket partitioning. A
  micro-batch touching k repos rewrites ≤ min(n_buckets, |keys|) buckets,
  not the table. File pruning is metadata-only (the log records each file's
  bucket, like an Iceberg manifest) — no directory listing, no full scan.
* **One key-aligned bucket rewrite.** MERGE, compaction and tombstone
  purge write through :meth:`LakeTable._rewrite`: ONE
  ``repartition(n_buckets, *key_cols)`` exchange (its partition id is the
  bucket id, so the write needs no layout shuffle) and one per-key
  window. MERGE feeds it the affected buckets' files unioned with the
  batch, purge the files of the buckets holding a dead key; the window
  picks survivors.
* **No driver materialization** beyond per-bucket counts (≤ n_buckets
  rows) and file metadata.
* **A commit records what it added.** ``create``, ``overwrite``,
  ``merge`` and ``merge_mor`` put the rows they took in per bucket
  (``added_rows``) and how many are tombstones (``added_tombstones``) in
  the snapshot summary, so a caller that must account for a committed
  batch later (the CDC ledger after a crash) reads them from the log.
* **The layout travels with the snapshot.** Every keyed snapshot log
  records ``bucket_hash`` and ``n_buckets``, set inside the atomic commit;
  a writer whose layout differs from the head's is refused, because
  bucket-pruned MERGE under another hash or count leaves duplicate live
  rows. A head log without them (written before the fields existed)
  falls back to the ``_log/_layout.json`` sidecar such tables carry; a
  table with neither is refused.
* **The table says how it reads.** A file that may hold several versions
  of a key (a merge-on-read delta) is marked ``"delta"`` in the manifest;
  :meth:`LakeTable.read_resolved` pays the latest-per-key window only for
  a snapshot that lists one, so readers need not know how it was written.
* **Exactly-once.** Every commit records its ``batch_id``; re-merging an
  already-committed batch is a metadata-only no-op. Combined with Structured
  Streaming's checkpointed batch ids this gives end-to-end exactly-once.
* **One high-water mark per snapshot.** Each snapshot log carries
  ``seq_hi``, the highest ``seq`` any commit up to it wrote, computed
  inside the atomic commit. It is the table's head event
  (:meth:`LakeTable.max_order`) and the as-of soundness state: a
  compaction serves as an as-of base only for cuts at or above it, so
  rows a purge erased above the cut are never lost.
  Expiring old logs loses nothing, since every later log carries the mark.
* **Skew.** Hot keys (``repo_0`` holds ~21% of files in the synthetic input)
  are spread across buckets because bucketing hashes the *full* key
  (repo, path), not repo alone — a deliberate choice: per-repo partitioning
  would concentrate a hot repo in one task; (repo, path) hashing spreads it
  uniformly while keeping MERGE pruning exact.

Reference parity: replaces the pyoxigraph in-memory store + whole-graph batch
supersession (batch_manager.py:231-283 load, :387-394 supersede) with
row-level upsert; checksum per commit mirrors batch_manager.py:261.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
# the CDC order column (manifest stats and version resolution key on it)
# and the tombstone flag
_ORDER = "seq"
_DELETED = "_deleted"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot version first."""


def _merge_schemas(base: StructType, incoming: StructType) -> StructType:
    """Iceberg-style additive evolution: incoming fields not in base are
    appended (nullable); existing fields keep base types."""
    names = {f.name for f in base.fields}
    extra = [
        StructField(f.name, f.dataType, True)
        for f in incoming.fields
        if f.name not in names
    ]
    return StructType(list(base.fields) + extra)


def latest_per_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """The newest row (max ``seq``) per key: MoR read resolution, as-of and
    changefeed assembly, and the COW writer's in-batch dedup."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(_ORDER).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _drop_tombstones(df: DataFrame) -> DataFrame:
    if _DELETED not in df.columns:
        return df
    return df.where(~F.coalesce(F.col(_DELETED), F.lit(False)))


@dataclass
class Snapshot:
    version: int
    operation: str
    files: list[dict[str, Any]]  # {path, bucket, rows}
    schema_json: str
    committed_batches: list[str]
    summary: dict[str, Any] = field(default_factory=dict)
    timestamp: float = 0.0
    # highest seq any commit up to this one wrote; None when unknown (a
    # file without seq stats, or a log older than the field) or when
    # ``seq_empty``: no commit up to this one wrote a seq yet (a log
    # without the key is not empty, so it stays unknown)
    seq_hi: int | None = None
    seq_empty: bool = False
    # a keyed table's bucket layout (see LakeTable._check_layout); None in
    # unkeyed logs and in logs older than the fields
    bucket_hash: str | None = None
    n_buckets: int | None = None

    @property
    def has_deltas(self) -> bool:
        """True when a listed file may hold several versions of a key — a
        ``"delta"`` file (merge_mor's appends, and rewrites that carried
        one forward), the role of Hudi log files or Iceberg delete files.
        Only such a snapshot needs resolution at read time."""
        return any(f.get("delta") for f in self.files)

    def written_files(self) -> list[dict[str, Any]]:
        """The files this commit wrote, not carried over from an earlier
        one: those under its own data dir, ``c{version:08d}`` followed by
        the attempt id (:meth:`LakeTable._commit_dir`)."""
        tag = f"c{self.version:08d}"
        return [
            f for f in self.files
            if f["path"].split(os.sep)[-3].split("-")[0] == tag
        ]

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        return Snapshot(**json.loads(text))


@dataclass
class MergeStats:
    batch_id: str
    skipped: bool
    version: int
    rewritten_buckets: int = 0


class LakeTable:
    """See module docstring. One writer at a time (the streaming driver)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols or []
        self.n_buckets = n_buckets
        # Committed snapshots are immutable (the CAS publish in _commit
        # never replaces a version file), so they cache for the
        # instance's lifetime; without it every as-of read re-reads every
        # retained manifest JSON before any Spark work.
        self._snap_cache: dict[int, Snapshot] = {}
        # Bucket = ``pmod(murmur3_hash(key), n_buckets)``, built once and
        # added by every write (:meth:`_with_bucket`) — deliberately the
        # SAME formula Spark's HashPartitioning assigns partition ids with,
        # so a frame that arrives via ``repartition(k * n_buckets,
        # *key_cols)`` holds each bucket's rows in at most k tasks (``(h mod
        # kB) mod B == h mod B``); a frame read by a single task is the
        # trivial case. Writers that keep such a layout (the MoR ingest
        # path) skip the layout shuffle in :meth:`_write_data`. An unkeyed
        # table (ledger, metrics) has one bucket.
        self._bucket = (
            F.pmod(F.hash(*map(F.col, self.key_cols)), F.lit(n_buckets))
            if self.key_cols
            else F.lit(0)
        )
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)

    # -- log ---------------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, _LOG_DIR, f"v{version:08d}.json")

    _BUCKET_HASH = "murmur3-pmod"  # r4: == Spark HashPartitioning id formula

    def _check_layout(self, head: Snapshot) -> None:
        """Refuse to mix bucket layouts: a keyed table's head log must
        record this writer's hash and bucket count — otherwise
        bucket-pruned MERGE would miss keys' old rows and leave duplicate
        live rows (silent corruption). r4 changed the hash from xxhash64
        to murmur3, so a guard, not silence, is the contract. A head log
        older than the layout fields falls back to the ``_layout.json``
        sidecar such tables were created with. Raising forces an explicit
        rebuild/compact-rewrite instead."""
        if not self.key_cols:
            return
        lay = {"bucket_hash": head.bucket_hash, "n_buckets": head.n_buckets}
        if head.n_buckets is None:
            try:
                with open(os.path.join(self.path, _LOG_DIR, "_layout.json")) as f:
                    lay = json.load(f)
            except FileNotFoundError:
                raise RuntimeError(
                    f"lake table {self.path} records no layout in its head "
                    "log and has no layout sidecar, so its bucket hash is "
                    f"UNKNOWN (pre-r4 tables used xxhash64; this writer "
                    f"uses {self._BUCKET_HASH}); merging with a mismatched "
                    "hash silently leaves duplicate live rows — rebuild the "
                    "table (re-ingest or export/import) with the current code"
                ) from None
        if lay.get("bucket_hash") != self._BUCKET_HASH or int(
            lay.get("n_buckets", -1)
        ) != int(self.n_buckets):
            raise RuntimeError(
                f"lake table {self.path} layout {lay} does not match this "
                f"writer (bucket_hash={self._BUCKET_HASH}, "
                f"n_buckets={self.n_buckets}); opening a bucketed table "
                "with a different hash or bucket count breaks pruning"
            )

    def versions(self) -> list[int]:
        return sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.path, _LOG_DIR, "v*.json"))
        )

    def exists(self) -> bool:
        return bool(self.versions())

    def snapshot(self, version: int | None = None) -> Snapshot:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"lake table {self.path} has no snapshots")
        v = version if version is not None else vs[-1]
        # "latest" is always re-resolved from the directory listing above
        # (concurrent writers stay visible); only the immutable per-version
        # content is cached
        cached = self._snap_cache.get(v)
        if cached is not None:
            # another instance on the same path may have expired this
            # version: trust the cache only while the version file is still
            # listed (the glob above — no manifest re-parse), so callers
            # keep getting the pre-cache contract: a clean driver-side
            # FileNotFoundError instead of executor-side missing-parquet
            if version is None or v in vs:
                return cached
            self._snap_cache.pop(v, None)
            raise FileNotFoundError(
                f"snapshot v{v} of {self.path} has been expired"
            )
        with open(self._log_path(v)) as f:
            snap = Snapshot.from_json(f.read())
        self._snap_cache[v] = snap
        return snap

    def committed_batches(self) -> set[str]:
        return set(self.snapshot().committed_batches) if self.exists() else set()

    def _commit(self, snap: Snapshot) -> None:
        tmp = self._log_path(snap.version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        # atomic fail-if-exists publish: os.link raises FileExistsError when
        # a concurrent writer already committed this version (POSIX rename
        # would silently replace it) — real optimistic concurrency, the same
        # contract as an Iceberg catalog's compare-and-swap commit
        try:
            os.link(tmp, self._log_path(snap.version))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {snap.version} of {self.path} was committed by "
                "another writer; re-read the snapshot and retry"
            ) from e
        finally:
            os.unlink(tmp)
        self._snap_cache[snap.version] = snap

    # -- expressions -------------------------------------------------------

    def _schema(self, snap: Snapshot) -> StructType:
        return StructType.fromJson(json.loads(snap.schema_json))

    # -- read --------------------------------------------------------------

    def _abs(self, path: str) -> str:
        """Snapshot file paths are stored relative to the table root (so a
        table directory can be renamed/moved atomically — e.g. the serving
        warehouse publish); absolute paths from older snapshots still work."""
        return path if os.path.isabs(path) else os.path.join(self.path, path)

    def read(self, version: int | None = None) -> DataFrame:
        """Latest (or time-travel) state. Missing columns in old files are
        null-filled by reading with the canonical snapshot schema — this is
        how in-place ADD COLUMN works without rewriting history."""
        snap = self.snapshot(version)
        return self._read_file_metas(snap.files, self._schema(snap))

    def read_buckets(self, buckets: list[int], snap: Snapshot) -> DataFrame:
        files = [f for f in snap.files if f["bucket"] in set(buckets)]
        return self._read_file_metas(files, self._schema(snap))

    def read_resolved(
        self, version: int | None = None, keep_deleted: bool = False
    ) -> DataFrame:
        """Live rows: the newest version per key, tombstones dropped unless
        ``keep_deleted``. The snapshot decides how, never the caller: one
        that lists a delta file pays a key-window shuffle (the MoR read
        amplification between compactions); any other (COW commits,
        compaction) is a pure bucketed scan + tombstone filter."""
        snap = self.snapshot(version)
        df = self._read_file_metas(snap.files, self._schema(snap))
        if snap.has_deltas and _ORDER in df.columns:
            df = latest_per_key(df, self.key_cols)
        return df if keep_deleted else _drop_tombstones(df)

    def _read_file_metas(
        self, metas: list[dict[str, Any]], schema: StructType
    ) -> DataFrame:
        """A scan of exactly the manifest's files. Given more paths than
        the session's ``parallelPartitionDiscovery.threshold`` (Spark's
        default 32), Spark stats them with a Spark job when the scan is
        built; ``session.get_spark`` raises the threshold so the driver
        stats them itself and building the scan runs no job."""
        paths = [self._abs(f["path"]) for f in metas]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    # -- write -------------------------------------------------------------

    def _commit_dir(self, version: int) -> str:
        """A new data dir for one commit attempt. Two writers that stage
        the same version write to different dirs, so the one that loses
        the :meth:`_commit` race leaves orphan files instead of deleting
        the winner's."""
        name = f"c{version:08d}-{uuid.uuid4().hex}"
        return os.path.join(self.path, _DATA_DIR, name)

    def _write_data(
        self, df: DataFrame, version: int, pre_bucketed: bool = False
    ) -> list[dict[str, Any]]:
        """Write rows (must carry ``_bucket``) under a per-commit dir,
        one parquet dir per bucket, and return file metadata.

        ``pre_bucketed``: the caller guarantees each bucket's rows sit in
        at most k tasks, so the commit writes at most k files per bucket:
        ``repartition(k * n_buckets, *key_cols)`` upstream (k = 1 in
        :meth:`_rewrite`; see ``_bucket`` in ``__init__``), or a frame a
        single task reads, the trivial case. The layout shuffle is
        skipped. Safe even if the guarantee is violated: ``partitionBy``
        splits by VALUE, so files land in the right bucket dirs
        regardless — a lie costs extra small files, never correctness."""
        out = self._commit_dir(version)
        # _bucket stays a data column (read-time pruning is metadata-driven);
        # duplicate it as the physical partition dir for layout only.
        staged = df.withColumn("_bp", F.col("_bucket"))
        if not pre_bucketed:
            staged = staged.repartition(F.col("_bucket"))
        staged.write.partitionBy("_bp").mode("errorifexists").parquet(out)
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def file_meta(fp: str) -> dict[str, Any]:
            bucket = int(fp.split("_bp=")[1].split(os.sep)[0])
            # footer-only metadata read (driver-side, ~ms per file) — gives
            # exact per-file row counts without a Spark job, the same trick
            # Iceberg manifests use
            md = pq.read_metadata(fp)
            meta = {
                "path": os.path.relpath(fp, self.path),
                "bucket": bucket,
                "rows": md.num_rows,
            }
            # Iceberg-manifest-style column stats for the CDC order column:
            # per-file min/max of `seq`, read from the same footer. These
            # drive as-of file pruning (read_asof) with zero Spark jobs.
            idx = {n: i for i, n in enumerate(md.schema.names)}
            if _ORDER in idx and md.num_rows:
                lo = hi = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[_ORDER]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if lo is not None:
                    meta["seq_min"], meta["seq_max"] = int(lo), int(hi)
            return meta

        # footer reads are independent I/O — do them in parallel so a
        # many-file commit (COW rewrite at high bucket counts) pays
        # max(latency), not sum; sorted for a deterministic manifest order
        paths = sorted(glob.glob(os.path.join(out, "_bp=*", "*.parquet")))
        if len(paths) <= 4:
            return [file_meta(fp) for fp in paths]
        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return list(ex.map(file_meta, paths))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if "_bucket" in df.columns:
            return df
        return df.withColumn("_bucket", self._bucket)

    def _rewrite(
        self, rows: DataFrame, version: int, resolve: Callable[[DataFrame], DataFrame]
    ) -> list[dict[str, Any]]:
        """The key-aligned bucket rewrite :meth:`merge` and :meth:`compact`
        share: ONE ``repartition(n_buckets, *key_cols)`` exchange, then
        ``resolve`` (a per-key window, planned without a second exchange
        because the rows are already clustered by key), then a write that
        skips the layout shuffle — the partition id is the bucket id."""
        aligned = rows.repartition(self.n_buckets, *self.key_cols)
        return self._write_data(
            self._with_bucket(resolve(aligned)), version, pre_bucketed=True
        )

    def _publish(
        self,
        batch_id: str,
        operation: str,
        stage: Callable[[Snapshot | None, int], tuple[list, StructType, dict]],
    ) -> MergeStats:
        """The one commit path every write takes: layout guard, batch-id
        idempotence (a re-delivered batch is a metadata-only no-op: its
        stage never runs, so it costs no Spark job), next version,
        snapshot build and the CAS publish of :meth:`_commit`.
        ``stage(head, version)`` — ``head`` the latest snapshot, None for a
        new table — writes the commit's data files and returns the new
        snapshot's full file list, its schema and extra summary keys. The
        snapshot's ``seq_hi`` and bucket layout are set here, so they
        change only with the commit that publishes them: a writer that
        loses the race to create a table leaves no trace of its layout."""
        head = self.snapshot() if self.exists() else None
        if head is not None:
            self._check_layout(head)
            if batch_id in head.committed_batches:
                return MergeStats(
                    batch_id=batch_id, skipped=True, version=head.version
                )
        version = 0 if head is None else head.version + 1
        files, schema, summary = stage(head, version)
        snap = Snapshot(
            version=version,
            operation=operation,
            files=files,
            schema_json=json.dumps(schema.jsonValue()),
            committed_batches=(head.committed_batches if head else [])
            + [batch_id],
            summary={"batch_id": batch_id, **summary},
            timestamp=time.time(),
        )
        if self.key_cols:
            snap.bucket_hash, snap.n_buckets = self._BUCKET_HASH, self.n_buckets
        # the high-water mark folds the head's and the files this commit
        # wrote (a row a rewrite drops was written, and marked, earlier);
        # unknown stays unknown, and with no mark the table is still empty
        marks = [head.seq_hi] if head and not head.seq_empty else []
        marks += [f.get("seq_max") for f in snap.written_files() if f["rows"]]
        if not marks:
            snap.seq_empty = True
        elif None not in marks:
            snap.seq_hi = max(marks)
        self._commit(snap)
        return MergeStats(
            batch_id=batch_id,
            skipped=False,
            version=version,
            rewritten_buckets=len(summary.get("affected_buckets", ())),
        )

    def create(self, df: DataFrame, batch_id: str = "genesis") -> MergeStats:
        """First commit of a table; its summary records the rows added
        (:meth:`_write_added`). If another writer created the table first,
        raises ConcurrentCommitError (a retry of this same create is a
        no-op)."""
        return self._publish(batch_id, "create", self._replace_stage(df))

    def overwrite(self, df: DataFrame, batch_id: str) -> MergeStats:
        """INSERT OVERWRITE: one commit whose file list is only ``df``'s
        rows (the table is created when missing). Files of earlier
        versions stay on disk for the versions that list them; an as-of
        read across the commit is refused (:meth:`_delta_file_walk`)."""
        return self._publish(
            batch_id, "overwrite", self._replace_stage(df, replaces=True)
        )

    def _replace_stage(self, df: DataFrame, replaces: bool = False):
        """The stage of :meth:`create` and :meth:`overwrite`: write ``df``
        as the table's only files, under ``df``'s schema."""
        df = self._with_bucket(df)

        def stage(head: Snapshot | None, version: int):
            if head is not None and not replaces:
                raise ConcurrentCommitError(
                    f"lake table {self.path} already exists"
                )
            files, added = self._write_added(df, version)
            return files, df.schema, added

        return stage

    def _write_added(
        self, df: DataFrame, version: int, pre_bucketed: bool = False
    ) -> tuple[list[dict[str, Any]], dict[str, Any]]:
        """Write a caller's rows through :meth:`_write_data`; return the
        file metadata and the summary keys recording what the commit
        added: rows per bucket, summed from the footers the write already
        reads, and tombstones, counted by one ``Observation`` riding the
        write action. The observation is read only when rows were
        written: an empty write runs no task, so it never fires."""
        obs = Observation() if _DELETED in df.columns else None
        if obs is not None:
            df = df.observe(obs, F.count(F.when(F.col(_DELETED), 1)).alias("n"))
        files = self._write_data(df, version, pre_bucketed=pre_bucketed)
        added: dict[str, int] = {}
        for f in files:
            added[str(f["bucket"])] = added.get(str(f["bucket"]), 0) + f["rows"]
        tombs = obs.get["n"] if obs is not None and sum(added.values()) else 0
        return files, {"added_rows": added, "added_tombstones": tombs}

    def merge(
        self, src: DataFrame, batch_id: str, order_col: str | None = None
    ) -> MergeStats:
        """Key-replacement MERGE: all target rows whose key appears in
        ``src`` are removed, then ``src`` rows are inserted. A delete is
        not a separate path: the CDC sink upserts it as a tombstone row,
        and :meth:`purge_tombstones` drops dead keys later.

        * single-row-per-key upsert is the special case;
        * multi-row-per-key payloads (triple-grain sinks) work identically —
          the J1 fan-out cardinality is preserved exactly;
        * a key with a null column never matches (an equi-join's rule):
          its target rows stay and its ``src`` rows are inserted;
        * ``order_col``: late-event guard — a source key whose existing
          target rows carry a strictly higher ``order_col`` than its own
          highest is ignored (MERGE condition ``src.seq >= tgt.seq``), so
          out-of-order micro-batches converge to the same final state;
          null orders never make a key stale;
        * idempotent per ``batch_id`` (exactly-once under retries);
        * the summary records the buckets rewritten (``affected_buckets``)
          and ``src``'s rows per bucket and tombstones (``added_rows``,
          ``added_tombstones``) — every ``src`` row, stale ones included.
        """
        if not self.exists():
            return self.create(src, batch_id)

        src = self._with_bucket(src)

        def stage(head: Snapshot, version: int):
            cached = src.persist()  # read twice: counted, then rewritten
            try:
                return self._merge_stage(head, version, cached, order_col)
            finally:
                cached.unpersist()

        return self._publish(batch_id, "merge", stage)

    def _merge_stage(
        self,
        head: Snapshot,
        version: int,
        src: DataFrame,
        order_col: str | None,
    ) -> tuple[list, StructType, dict]:
        """:meth:`merge`'s data step: count the (persisted) batch per
        bucket (≤ n_buckets rows — the only driver-side collect), then
        rewrite the buckets it touches."""
        tombs = F.col(_DELETED) if _DELETED in src.columns else F.lit(False)
        counts = (
            src.groupBy("_bucket")
            .agg(F.count("*").alias("n"), F.count(F.when(tombs, 1)).alias("d"))
            .collect()
        )
        affected = sorted(r["_bucket"] for r in counts)
        existing = self.read_buckets(affected, head)
        if order_col and order_col not in existing.columns:
            order_col = None
        # One window over the affected buckets' rows and the batch decides
        # per key: matched (no null key column, a batch row present) and
        # stale (the stored max order beats the batch's). An existing row
        # survives unless its key matched and is not stale; a batch row is
        # written unless its key is stale.
        # unionByName(allowMissingColumns=True) evolves the schema both
        # ways and keeps the existing column order.
        w = Window.partitionBy(*self.key_cols)
        new, key_ok = F.col("_new"), F.lit(True)
        for c in self.key_cols:
            key_ok &= F.col(c).isNotNull()
        matched = key_ok & F.max(new).over(w)
        stale = F.lit(False)
        if order_col:
            old_top, new_top = (
                F.max(F.when(side, F.col(order_col))).over(w) for side in (~new, new)
            )
            stale = key_ok & F.coalesce(old_top > new_top, F.lit(False))
        survives = ~F.col("_matched") | F.col("_stale")
        helpers = ["_new", "_matched", "_stale"]
        rows = existing.withColumn("_new", F.lit(False)).unionByName(
            src.withColumn("_new", F.lit(True)), allowMissingColumns=True
        )

        def resolve(df: DataFrame) -> DataFrame:
            return (
                df.withColumns({"_matched": matched, "_stale": stale})
                .where(F.when(new, ~F.col("_stale")).otherwise(survives))
                .drop(*helpers)
            )

        files = self._rewrite_buckets(head, version, affected, rows, resolve)
        return files, rows.drop(*helpers).schema, {
            "affected_buckets": affected,
            "added_rows": {str(r["_bucket"]): r["n"] for r in counts},
            "added_tombstones": sum(r["d"] for r in counts),
        }

    def _rewrite_buckets(
        self,
        head: Snapshot,
        version: int,
        buckets: list[int],
        rows: DataFrame,
        resolve: Callable[[DataFrame], DataFrame],
    ) -> list[dict[str, Any]]:
        """The new file list of a commit that rewrites ``buckets`` from
        ``rows`` through :meth:`_rewrite`: the head's other buckets keep
        their files. A rewritten bucket may hold several versions of a
        key only if a file it replaces did, so its new files carry the
        replaced files' delta mark forward."""
        deltas = {f["bucket"] for f in head.files if f.get("delta")}
        files = [
            {**f, "delta": True} if f["bucket"] in deltas else f
            for f in self._rewrite(rows, version, resolve)
        ]
        keep = [f for f in head.files if f["bucket"] not in set(buckets)]
        return keep + files

    def purge_tombstones(self) -> MergeStats:
        """Physically drop dead keys — those whose newest row (max
        ``seq``) is a tombstone — as Iceberg's copy-on-write DELETE does:
        one ``purge`` commit rewrites only the buckets holding one,
        dropping every row of each dead key and keeping every other row
        as it is. No row a live read returns changes, and ``seq_hi``
        stays (the dropped rows were marked when first written).

        One ``distinct`` query finds the buckets; with none (or a table
        without tombstones) nothing is committed and the stats say
        ``skipped``."""
        head = self.snapshot()
        bid = f"purge-{head.version}"
        cols = self._schema(head).fieldNames()
        buckets = []
        if _DELETED in cols and _ORDER in cols:
            tombs = self.read_resolved(head.version, keep_deleted=True)
            tombs = tombs.where(F.col(_DELETED)).select("_bucket").distinct()
            buckets = [r[0] for r in tombs.collect()]
        if not buckets:
            return MergeStats(batch_id=bid, skipped=True, version=head.version)
        # the key's newest row, ordered as latest_per_key orders it
        newest = (
            Window.partitionBy(*self.key_cols)
            .orderBy(F.col(_ORDER).desc())
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        dead = F.first(F.coalesce(F.col(_DELETED), F.lit(False))).over(newest)

        def resolve(df: DataFrame) -> DataFrame:
            return df.withColumn("_dead", dead).where(~F.col("_dead")).drop("_dead")

        def stage(head: Snapshot, version: int):
            rows = self.read_buckets(buckets, head)
            files = self._rewrite_buckets(head, version, buckets, rows, resolve)
            return files, self._schema(head), {"affected_buckets": sorted(buckets)}

        return self._publish(bid, "purge", stage)

    def append_rows(
        self, rows: list[dict[str, Any]], schema: StructType, batch_id: str
    ) -> MergeStats:
        """Driver-side fast append for small metadata commits (ledger /
        metrics rows — a handful per micro-batch). Writes parquet via
        pyarrow directly: no Spark job, ~ms instead of ~0.5 s of job
        scheduling. Data-plane writes still go through Spark; this path is
        only for metadata whose size is O(buckets) per batch by design."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        to_arrow = {
            "string": pa.string(),
            "long": pa.int64(),
            "integer": pa.int32(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
        }

        def stage(head: Snapshot | None, version: int):
            fields = list((self._schema(head) if head else schema).fields)
            if "_bucket" not in [f.name for f in fields]:
                fields.append(StructField("_bucket", IntegerType()))
            arrow_schema = pa.schema(
                [(f.name, to_arrow[f.dataType.typeName()]) for f in fields]
            )
            cols = {
                f.name: [
                    r.get(f.name, 0 if f.name == "_bucket" else None) for r in rows
                ]
                for f in fields
            }
            out_dir = os.path.join(self._commit_dir(version), "_bp=0")
            os.makedirs(out_dir)
            fp = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.parquet")
            pq.write_table(pa.table(cols, schema=arrow_schema), fp)
            rel = os.path.relpath(fp, self.path)
            files = [{"path": rel, "bucket": 0, "rows": len(rows)}]
            return (head.files if head else []) + files, StructType(fields), {}

        return self._publish(batch_id, "append", stage)

    def merge_mor(
        self,
        src: DataFrame,
        batch_id: str,
        pre_bucketed: bool = False,
    ) -> MergeStats:
        """Merge-on-read MERGE: the Iceberg-MoR / Hudi-MOR strategy for
        sustained CDC ingest. The batch is APPENDED as bucket-tagged delta
        files — no read of existing data, strictly O(batch) work per
        commit — marked ``"delta"`` in the manifest, so
        :meth:`read_resolved` resolves latest-version-per-key (by ``seq``)
        at query time, filtering tombstones.

        Why it matters at 10^10 events: copy-on-write rewrites every
        affected bucket per micro-batch (read+join+write amplification),
        so a replay batch that touches most keys costs O(table).
        Merge-on-read makes ingest cost independent of table size; read
        cost grows with delta count until :meth:`compact` folds deltas
        back into one version per key (run on a cadence / when
        delta-file count crosses a threshold).

        Late/duplicate delivery needs no tombstone special-casing here:
        every version is present, so the max-``seq`` row wins
        regardless of arrival order, and re-delivered batch_ids are
        skipped wholesale. The summary records the rows added
        (:meth:`_write_added`). With ``pre_bucketed`` (see
        :meth:`_write_data`) the write is the one job that reads ``src``:
        each reading task writes one file per bucket it holds."""
        src = self._with_bucket(src)

        def stage(head: Snapshot | None, version: int):
            files, added = self._write_added(src, version, pre_bucketed)
            delta = [{**f, "delta": True} for f in files]
            if head is None:
                return delta, src.schema, added
            schema = _merge_schemas(self._schema(head), src.schema)
            return head.files + delta, schema, added

        return self._publish(batch_id, "merge_mor", stage)

    def max_order(self) -> int | None:
        """The table's head event: the newest snapshot's ``seq_hi``, read
        from its log alone (no Spark job, no scan of older versions). A
        purge that drops the newest event's tombstone, or the expiry of
        every version that listed it, leaves the mark as it was. None for
        a table with no snapshot, no seq written yet or an unknown mark
        (see :class:`Snapshot`)."""
        return self.snapshot().seq_hi if self.exists() else None

    def read_asof(self, seq_cut: int) -> DataFrame:
        """Bounded-work point-in-time state for MoR tables: latest row per
        key over events with ``seq`` ≤ ``seq_cut``.

        Serving as-of by windowing the raw event log would replay the whole
        history per call. This path instead does what Iceberg incremental
        reads do:

        1. **base** = the newest *compacted* snapshot whose ``seq_hi`` is
           ≤ the cut — one resolved row per key, so reading it is a pure
           bucketed scan, no window. ``seq_hi`` also counts the events a
           purge erased, so no base has lost a row that was live at the
           cut;
        2. **delta** = data files appended by create/merge_mor commits
           after the base (merge and purge rewrites included), *pruned by
           manifest seq_min > cut* (footer stats recorded at write time),
           filtered to ``seq ≤ cut``;
        3. merge: resolve the (bounded) delta with one small window; when
           every delta file starts above the base's ``seq_hi``, the base is
           combined via a **broadcast anti-join** — the big side is scanned
           once and never shuffled. Overlapping ranges (out-of-order
           commits) fall back to a window over base ∪ delta, still
           file-pruned.

        Work is O(live state + events since last compaction ≤ cut), not
        O(event history); compaction cadence = as-of checkpoint
        granularity. Merge and purge rewrites don't break as-of while
        their victims' original files are retained — only
        expire_snapshots makes history non-time-travelable, and that
        raises explicitly, as does a read across an ``overwrite``."""
        vs, snaps, base_v = self._asof_base_plan(seq_cut)
        delta_files = self._delta_file_walk(vs, snaps, base_v, hi_incl=seq_cut)
        return self._asof_assemble(vs, snaps, base_v, delta_files, seq_cut)

    def _asof_base_plan(
        self, seq_cut: int
    ) -> tuple[list[int], dict[int, Snapshot], int | None]:
        """Soundness checks + base-snapshot selection for a read at
        ``seq_cut`` (shared by :meth:`read_asof` and
        :meth:`read_changes`). Returns (versions, snapshots, base_v) or
        raises when expiry makes the cut unservable.

        The base is the newest ``compact`` snapshot with ``seq_hi`` ≤ the
        cut. A compaction after a purge that dropped a post-cut delete's
        tombstone (and with it the key's whole history from the current
        files) has ``seq_hi`` above the cut, so it is never the base for a
        cut where that key was live. A log without ``seq_hi`` is never a
        base: with no base and expired early versions the read refuses."""
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"lake table {self.path} has no snapshots")
        snaps = {v: self.snapshot(v) for v in vs}
        bases = [
            v for v in vs
            if snaps[v].operation == "compact"
            and snaps[v].seq_hi is not None
            and snaps[v].seq_hi <= seq_cut
        ]
        base_v = bases[-1] if bases else None
        if base_v is None and vs[0] != 0:
            raise ValueError(
                f"as-of {seq_cut} predates retained history of {self.path} "
                "(no qualifying compacted snapshot and early versions expired)"
            )
        return vs, snaps, base_v

    def _delta_file_walk(
        self,
        vs: list[int],
        snaps: dict[int, Snapshot],
        base_v: int | None,
        hi_incl: int,
        lo_excl: int | None = None,
    ) -> list[dict[str, Any]]:
        """Manifest-pruned data files carrying events with seq in
        (``lo_excl``, ``hi_incl``] from commits after ``base_v`` (every
        version > base_v is retained — the version list is a contiguous
        suffix, so nothing in the range can have been expired without
        the base-plan soundness checks raising first).

        Merge and purge rewrites are walked like appends: the rows they
        removed still sit in earlier commits' immutable files this walk
        reads, the rows they carry over are duplicates max-seq resolution
        collapses, and a merge's own batch is kept iff ≤ the cut. Any
        other operation (``overwrite``) raises: its files are not a
        history of events."""
        delta_files: list[dict[str, Any]] = []
        for v in vs:
            if base_v is not None and v <= base_v:
                continue
            s = snaps[v]
            if s.operation == "compact":
                continue  # rewrite of already-counted events
            if s.operation not in ("create", "merge_mor", "append", "merge", "purge"):
                raise ValueError(
                    f"as-of/changefeed read unsupported over "
                    f"'{s.operation}' commit v{v}"
                )
            for f in s.written_files():
                lo = f.get("seq_min")
                if lo is not None and lo > hi_incl:
                    continue  # manifest-pruned: entirely after the cut
                if lo_excl is not None:
                    hi_stat = f.get("seq_max")
                    if hi_stat is not None and hi_stat <= lo_excl:
                        continue  # manifest-pruned: entirely at/before lo
                delta_files.append(f)
        return delta_files

    def _asof_assemble(
        self,
        vs: list[int],
        snaps: dict[int, Snapshot],
        base_v: int | None,
        delta_files: list[dict[str, Any]],
        seq_cut: int,
    ) -> DataFrame:
        schema = self._schema(snaps[vs[-1]])

        def read_files(metas: list[dict[str, Any]]) -> DataFrame:
            return self._read_file_metas(metas, schema)

        def resolve(df: DataFrame) -> DataFrame:
            return latest_per_key(df, self.key_cols)

        base = (
            read_files(snaps[base_v].files)
            if base_v is not None
            else self.spark.createDataFrame([], schema)
        )
        if not delta_files:
            out = base
        else:
            delta = read_files(delta_files).where(F.col(_ORDER) <= seq_cut)
            if base_v is None:
                out = resolve(delta)
            else:
                base_hi = snaps[base_v].seq_hi  # known: a base has one
                delta_mins = [f.get("seq_min") for f in delta_files]
                disjoint = None not in delta_mins and min(delta_mins) > base_hi
                if disjoint:
                    # every delta event outstrips every base event, so the
                    # delta's latest-per-key wins outright: broadcast its
                    # key set, anti-join the (unshuffled) base, union.
                    dl = resolve(delta)
                    dkeys = dl.select(*self.key_cols)
                    out = base.join(
                        F.broadcast(dkeys), self.key_cols, "left_anti"
                    ).unionByName(dl)
                else:
                    out = resolve(base.unionByName(delta))
        return _drop_tombstones(out)

    def read_changes(self, lo_cut: int, hi_cut: int) -> DataFrame:
        """Incremental changefeed (Iceberg incremental read / Delta CDF
        shape): the NET change per key over the half-open seq window
        (``lo_cut``, ``hi_cut``] — one row per touched key with a
        ``change_type`` column:

        * ``insert`` — not live at lo, live at hi (post-image row)
        * ``update`` — live at both (post-image row)
        * ``delete`` — live at lo, tombstoned at hi (tombstone row)

        Keys that churn entirely inside the window (insert→delete) net to
        nothing and are not emitted, matching net-change CDF semantics.

        Bounded work: the window scan reads ONLY manifest-pruned delta
        files overlapping (lo, hi] — O(window events), not O(live state) —
        and prior-state classification touches the big side once, through
        a broadcast semi-join with the (small) window key set whose result
        is broadcast back into the left join. Assumes |window| ≪ |state|;
        a full-history window costs what a diff of two as-of states does.

        Requires a table with tombstone rows (a ``_deleted`` column):
        without one a delete leaves no row, so such tables are refused.
        Purge and compaction rewrites need no guard: the rows they drop
        still sit in earlier walked commits' files. Soundness at
        ``lo_cut`` is the shared as-of base plan's."""
        if lo_cut >= hi_cut:
            raise ValueError(
                f"read_changes needs lo_cut < hi_cut, got ({lo_cut}, {hi_cut})"
            )
        vs, snaps, base_v = self._asof_base_plan(lo_cut)
        schema = self._schema(snaps[vs[-1]])
        if _DELETED not in [f.name for f in schema.fields]:
            raise ValueError(
                f"read_changes requires tombstone rows: this table has no "
                f"{_DELETED!r} column, so it records no deletes and a "
                "changefeed over it would silently miss them (CdcEngine "
                "writes the column in both COW and MoR mode)"
            )
        win_files = self._delta_file_walk(
            vs, snaps, base_v, hi_incl=hi_cut, lo_excl=lo_cut
        )
        win = self._read_file_metas(win_files, schema).where(
            (F.col(_ORDER) > lo_cut) & (F.col(_ORDER) <= hi_cut)
        )
        latest = latest_per_key(win, self.key_cols)
        wkeys = latest.select(*self.key_cols)
        prior_state = self._asof_assemble(
            vs,
            snaps,
            base_v,
            self._delta_file_walk(vs, snaps, base_v, hi_incl=lo_cut),
            lo_cut,
        )
        prior = (
            prior_state.join(F.broadcast(wkeys), list(self.key_cols), "left_semi")
            .select(*self.key_cols)
            .withColumn("_prior", F.lit(True))
        )
        dele = F.coalesce(F.col(_DELETED), F.lit(False))
        out = latest.join(F.broadcast(prior), list(self.key_cols), "left")
        return (
            out.withColumn(
                "change_type",
                F.when(dele & F.col("_prior").isNotNull(), F.lit("delete"))
                .when((~dele) & F.col("_prior").isNotNull(), F.lit("update"))
                .when(~dele, F.lit("insert")),
            )
            .where(F.col("change_type").isNotNull())
            .drop("_prior")
        )

    def compact(self, batch_id: str | None = None) -> MergeStats:
        """Fold MoR deltas: rewrite the table as one resolved version per
        key, tombstones included (:meth:`purge_tombstones` drops them
        once the watermark allows). Equivalent to Iceberg's
        rewrite_data_files maintenance action, through the one-exchange
        :meth:`_rewrite` (its window keeps the newest row per key when the
        snapshot lists a delta file). The files it writes are not delta
        files, so reads of the result need no resolution."""

        def stage(head: Snapshot, version: int):
            rows = self.read(head.version)
            fold = head.has_deltas and _ORDER in rows.columns

            def resolve(df: DataFrame) -> DataFrame:
                return latest_per_key(df, self.key_cols) if fold else df

            files = self._rewrite(rows, version, resolve)
            return files, self._schema(head), {}  # replaces ALL files

        bid = batch_id or f"compact-{self.snapshot().version}"
        return self._publish(bid, "compact", stage)

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Retention maintenance (Iceberg expire_snapshots analogue;
        reference archive/delete lifecycle batch_manager.py:594-605): drop
        snapshot log entries older than the newest ``keep_last`` versions
        and physically delete data files no surviving snapshot references.
        Time travel to expired versions stops working — that's the
        contract."""
        vs = self.versions()
        if len(vs) <= keep_last:
            return {"expired_versions": 0, "deleted_files": 0}
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        referenced = {
            self._abs(f["path"]) for v in keep for f in self.snapshot(v).files
        }
        deleted = 0
        for v in drop:
            s = self.snapshot(v)
            for f in s.files:
                p = self._abs(f["path"])
                if p not in referenced and os.path.exists(p):
                    os.unlink(p)
                    deleted += 1
            os.unlink(self._log_path(v))
            self._snap_cache.pop(v, None)
        return {"expired_versions": len(drop), "deleted_files": deleted}


# -- verification helpers ----------------------------------------------------


def row_sha256_col(cols: list[str]) -> Column:
    """The :func:`row_sha256` value over ``cols``, for a caller that builds
    it once and projects it itself."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x1e")) for c in cols]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


def row_sha256(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-row content sha256 (the BASELINE.json per-row invariant; reference
    checksum analogue batch_manager.py:261). Null-safe, order-of-cols fixed."""
    cs = cols or [c for c in df.columns if not c.startswith("_")]
    return df.withColumn("row_sha256", row_sha256_col(cs))


def table_fingerprint(df: DataFrame, cols: list[str] | None = None) -> dict[str, Any]:
    """Order-insensitive whole-table fingerprint that scales to any size:
    count + sum/xor-fold of per-row sha256 prefixes (no global sort, no
    collect of rows — one partial-aggregated pass)."""
    h = row_sha256(df, cols)
    agg = h.agg(
        F.count("*").alias("rows"),
        F.sum(F.conv(F.substring("row_sha256", 1, 15), 16, 10).cast("decimal(38,0)"))
        .alias("hsum"),
        F.bit_xor(F.conv(F.substring("row_sha256", 17, 15), 16, 10).cast("long"))
        .alias("hxor"),
    ).collect()[0]
    return {"rows": agg["rows"], "hsum": str(agg["hsum"]), "hxor": agg["hxor"]}
