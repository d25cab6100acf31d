"""The CDC ingest engine: change events → RDF-star lake table, exactly-once.

Replaces the reference's batch lifecycle (``batch_cli.py cmd_run`` →
``BatchManager.load_batch_from_file`` → supersede-previous-graph,
batch_manager.py:187-283,387-394) with the north-star architecture:

    events (I/U/D on repo files)
      → latest-event-per-key dedup        (row_number window, §2.5)
      → compile-once mapping → wide RDF-star row (pure Catalyst exprs)
      → MERGE INTO lake table keyed (repo, path)   (J10)
      → append _batches ledger + _metrics (per-bucket lineage) rows
      → streaming checkpoint commit

Design decisions (scale rationale):

* **Wide sink, triple view.** The stored table has ONE row per (repo, path)
  with one column per mapping predicate plus a nested annotation struct —
  so MERGE is a single-row-per-key upsert and **schema evolution = adding a
  column in place** (north star: "new mapping predicates add Iceberg columns
  in-place"). The triple-grain relation the SQL views and generic SPARQL
  patterns need is a *derived view* (:func:`CdcEngine.triples_view`) over
  the same stored rows. It is not free: every read explodes all predicate
  columns of every live row, and a pattern then filters back down to one
  predicate. So SPARQL star patterns read the wide rows themselves
  (:func:`CdcEngine.serving_views` hands the compiler the rows and their
  layout): one filtered scan per star, no explode and no self join.
* **Mapping compiled once.** ``wide_columns()`` runs at engine construction;
  per micro-batch only DataFrame ops execute. No per-row Python anywhere
  (input_hint requirement) — every expression is Catalyst/codegen.
* **Dedup before MERGE.** ``row_number() over (partition by repo,path order
  by seq desc) = 1`` keeps the latest event per key per micro-batch; the
  MERGE ``order_col`` guard then resolves cross-batch ordering, so replay
  converges regardless of how the log is split into batches, duplicated, or
  shuffled.
* **Skew.** The dedup window shuffles on (repo, path) — the hot ``repo_0``
  (~21% of files) spreads across partitions because path is in the key.
  AQE skew-join handling is on in the session for the residual cases. The
  sink buckets on hash(repo, path) for the same reason (see lake.py).
* **Exactly-once.** Lake commits are idempotent per batch_id; the ledger
  append reuses the same batch_id; a replayed/retried foreachBatch is a
  no-op end to end. The counts the ledger records come from the data
  commit itself — its snapshot summary carries the rows it added per
  bucket and its tombstones — so a retry after a crash between the two
  commits ledgers the true counts without re-reading any data.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from functools import partial
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..mapping.compiler import compile_asserted_patterns
from ..mapping.flagship import flagship_ir, prepare_input, prepared_columns
from ..mapping.ir import MappingDocumentIR
from ..operators.materialize import materialize_document
from ..storage.lake import LakeTable, MergeStats, latest_per_key, row_sha256_col

if TYPE_CHECKING:
    from ..queries.sparql import WideRelation

EVENT_COLS = ["seq", "op", "repo", "path", "commit", "lang", "content", "event_ts"]
KEY = ["repo", "path"]
_SEP = "\x1f"
# the source columns a stored row keeps and hashes into ``row_sha256``
_HASHED = ["repo", "path", "commit", "lang", "content"]


# Input bytes above which one task materializing a whole batch is slower
# than the keyed exchange spreading it over k·n_buckets tasks. MoR commits
# of one-partition batches on 2 local cores (4 buckets, 4 shuffle
# partitions), exchange → one task: 0.1 MB 0.76 → 0.61 s, 0.4 MB 0.80 →
# 0.70 s, 1.2 MB 0.94 → 1.07 s, 2.3 MB 1.18 → 1.57 s.
_ONE_TASK_BYTES = 1 << 20


def _one_small_task(df: DataFrame) -> bool:
    """True when a single task reads ``df`` and its plan knows the input is
    at most :data:`_ONE_TASK_BYTES` (a plan over an RDD of unknown size
    counts as large). The partition count is asked of the planned RDD,
    which runs no job for a plan without an exchange; a plan with one is
    adaptive, its partitions are known only once its map stages have run,
    so it counts as several."""
    qe = df._jdf.queryExecution()
    if qe.optimizedPlan().stats().sizeInBytes() > _ONE_TASK_BYTES:
        return False
    if qe.executedPlan().nodeName() == "AdaptiveSparkPlan":
        return False
    return qe.toRdd().getNumPartitions() == 1


def _local_name(iri: str) -> str:
    tail = re.split(r"[#/]", iri.rstrip("/"))[-1]
    return re.sub(r"[^A-Za-z0-9_]", "_", tail) or "p"


@dataclass
class WideLayout:
    """The compiled wide-row projection PLUS the metadata needed to derive
    triple/annotation views from STORED wide rows alone — so serving never
    re-reads the fat source columns (content) or recomputes hashes."""

    cols: list[Column]
    # (wide column name, compiled pattern) per asserted emission rule
    asserted: list[tuple[str, object]]
    # (struct field name, predicate IRI, kind, const_datatype, const_lang)
    annotation: list[tuple[str, str, str, str | None, str | None]]
    # True when every asserted pattern's datatype/lang folded to constants
    static: bool
    # True when the annotation struct's ``quoted.s`` is minted by the same
    # subject template as the row's ``subject`` (the quoted triple is about
    # the row it is stored on)
    quoted_on_row: bool
    # one stored row's asserted triples / annotation rows: arrays of the
    # structs its non-null columns (annotation fields) hold, built once
    triples: Column
    annotations: Column | None


def _str(v: str | None) -> Column:
    return F.lit(v).cast("string")


def _triples_array(asserted: list[tuple[str, object]]) -> Column:
    return F.array_compact(F.array(*[
        F.when(
            F.col(name).isNotNull(),
            F.struct(
                F.lit(p.tm_name).alias("tm"),
                F.lit(p.predicate).alias("predicate"),
                F.col(name).alias("object"),
                _str(p.const_datatype).alias("object_datatype"),
                _str(p.const_lang).alias("object_lang"),
                F.lit(p.obj_kind).alias("object_kind"),
                _str(p.const_graph).alias("graph"),
            ),
        )
        for name, p in asserted
    ]))


def _annotations_array(tm: str, annotation: list[tuple]) -> Column:
    a = F.col("annotation")
    return F.array_compact(F.array(*[
        F.when(
            a.getField(name).isNotNull(),
            F.struct(
                F.lit(tm).alias("tm"),
                a.getField("reifier").alias("reifier"),
                a.getField("quoted").alias("quoted"),
                F.lit(pred_iri).alias("predicate"),
                a.getField(name).alias("object"),
                _str(const_dt).alias("object_datatype"),
                _str(const_lang).alias("object_lang"),
                F.lit(kind).alias("object_kind"),
                _str(None).alias("graph"),
            ),
        )
        for name, pred_iri, kind, const_dt, const_lang in annotation
    ]))


def wide_columns(
    ir: MappingDocumentIR, asserted_tm: str, annotation_tm: str | None
) -> WideLayout:
    """Compile the mapping to the wide-row projection: ``subject`` +
    one column per asserted predicate (``p_<local>``) + the annotation
    struct (reifier, quoted triple, one ``ann_<local>`` per annotation
    predicate). Deterministic reifier = sha256(quoted ‖ row file_key)."""
    cols: list[Column] = []
    seen: set[str] = set()
    asserted_meta: list[tuple[str, object]] = []
    ann_meta: list[tuple[str, str, str, str | None, str | None]] = []
    quoted_on_row = False

    # the wide row carries EVERY asserted map that shares the primary
    # map's subject (the flagship's `file` + `file_lang` both mint
    # ex:file/$(repo)/$(path)) — one column per emission rule, so the
    # stored table is self-sufficient for serving. ``covers_all`` tracks
    # whether the wide row represents the WHOLE mapping: an asserted map
    # with a different subject, any J3 mapping-ref / quoted-ref object, or
    # an inverse predicate cannot be reconstructed from a stored value, so
    # the fast serving path must fall back to recompilation (review
    # finding: the round-2 fast path silently dropped those triples).
    primary = ir.triples_maps[asserted_tm]
    covers_all = True
    patterns = list(compile_asserted_patterns(ir, asserted_tm))
    for tm_ in ir.asserted_maps():
        for po in tm_.predicate_objects:
            if po.inverse_predicates:
                covers_all = False
            for obj in po.objects:
                if obj.mapping_ref is not None or obj.quoted_ref is not None:
                    covers_all = False
        if tm_.name == asserted_tm:
            continue
        if tm_.subject.templates == primary.subject.templates:
            patterns.extend(compile_asserted_patterns(ir, tm_.name))
        else:
            covers_all = False  # its triples never reach the wide row
    subj = patterns[0].subject
    cols.append(subj.cast("string").alias("subject"))
    for p in patterns:
        name = f"p_{_local_name(p.predicate)}"
        if name in seen:  # multi-pattern predicates: first wins, rest suffixed
            name = f"{name}_{len(seen)}"
        seen.add(name)
        c = p.obj.cast("string")
        if p.row_filter is not None:
            c = F.when(p.row_filter, c)
        cols.append(c.alias(name))
        asserted_meta.append((name, p))

    if annotation_tm is not None:
        tm = ir.triples_maps[annotation_tm]
        qj = tm.subject.quoted_join
        assert qj is not None, f"{annotation_tm} must be a quoted map"
        quoted_patterns = compile_asserted_patterns(ir, qj.quoted_map)
        qp = quoted_patterns[0]
        quoted = F.struct(
            qp.subject.cast("string").alias("s"),
            F.lit(qp.predicate).alias("p"),
            qp.obj.cast("string").alias("o"),
        )
        from ..operators.materialize import _row_fingerprint

        rowfp = _row_fingerprint(ir, annotation_tm)
        reifier = F.concat(
            F.lit("b"),
            F.sha2(
                F.concat_ws(_SEP, quoted["s"], quoted["p"], quoted["o"], rowfp),
                256,
            ),
        )
        ann_fields = [reifier.alias("reifier"), quoted.alias("quoted")]
        ann_dynamic = False
        # annotation predicate-objects compiled against the same (prepared)
        # input row — 1:1 per file here; the general N:M path lives in
        # operators.materialize.materialize_annotations
        for po in tm.predicate_objects:
            for pred in po.predicates:
                pred_iri = _expand(ir, pred)
                for obj in po.objects:
                    from ..mapping.compiler import TEMPLATE_REF_RE, object_value_column

                    name = f"ann_{_local_name(pred_iri)}"
                    if name in seen:
                        name = f"{name}_{len(seen)}"
                    seen.add(name)
                    ann_fields.append(
                        object_value_column(obj, ir.prefixes, ir.base_iri)
                        .cast("string")
                        .alias(name)
                    )
                    dyn_dt = bool(
                        obj.datatype and TEMPLATE_REF_RE.search(obj.datatype)
                    )
                    dyn_lang = bool(
                        obj.language and TEMPLATE_REF_RE.search(obj.language)
                    )
                    if dyn_dt or dyn_lang:
                        # per-row datatype/lang isn't stored in the wide
                        # struct — annotations must recompute (review
                        # finding: the fast path served NULL / the raw
                        # template text here)
                        ann_dynamic = True
                    ann_meta.append(
                        (
                            name,
                            pred_iri,
                            obj.kind or "literal",
                            None if dyn_dt or obj.datatype is None
                            else _expand(ir, obj.datatype),
                            None if dyn_lang else obj.language,
                        )
                    )
        cols.append(F.struct(*ann_fields).alias("annotation"))
        quoted_on_row = (
            ir.triples_maps[qj.quoted_map].subject.templates
            == primary.subject.templates
        )
        if (
            tm.graphs
            or any(po.graphs for po in tm.predicate_objects)
            or ann_dynamic
        ):
            # named-graph or dynamic-metadata annotations: recompute path
            ann_meta = []
    return WideLayout(
        cols=cols,
        asserted=asserted_meta,
        annotation=ann_meta,
        static=covers_all and all(p.meta_static for _, p in asserted_meta),
        quoted_on_row=quoted_on_row,
        triples=_triples_array(asserted_meta),
        annotations=(
            _annotations_array(annotation_tm, ann_meta) if ann_meta else None
        ),
    )


def _expand(ir: MappingDocumentIR, term: str) -> str:
    from ..mapping.compiler import expand_prefix

    return expand_prefix(term, ir.prefixes, ir.base_iri)


@dataclass
class BatchResult:
    batch_id: str
    events: int
    upserts: int
    deletes: int
    merge: MergeStats


class CdcEngine:
    """Compile-once CDC engine over a lake-table sink.

    ``mode`` picks only how :meth:`apply_batch` writes: ``"cow"`` dedups
    the batch and rewrites the touched buckets, ``"mor"`` appends delta
    files. Everything after the lake call — the ledger and lineage rows,
    read from that commit's summary — is one path. Reads never depend
    on it — the table's snapshot says whether rows need resolution
    (:meth:`LakeTable.read_resolved`), so any engine on a warehouse reads
    the same live rows whichever mode wrote them.

    ``spark-submit --py-files`` entry: see ``cdc_submit.py`` at repo root.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        ir: MappingDocumentIR | None = None,
        n_buckets: int = 32,
        asserted_tm: str = "file",
        annotation_tm: str | None = "provenance",
        mode: str = "cow",
        auto_compact_deltas: int | None = None,
    ):
        if mode not in {"cow", "mor"}:
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.mode = mode
        # MoR maintenance cadence: compact when the snapshot accumulates
        # more than this many data files per bucket on average (read
        # amplification bound). None = manual compact() only.
        self.auto_compact_deltas = auto_compact_deltas
        self.spark = spark
        self.warehouse = warehouse
        self.ir = ir or flagship_ir()
        self.asserted_tm = asserted_tm
        self.annotation_tm = annotation_tm
        self._layout = wide_columns(self.ir, asserted_tm, annotation_tm)
        self._wide_cols = self._layout.cols
        self.table = LakeTable(
            spark, f"{warehouse}/rdf_star_files", key_cols=KEY, n_buckets=n_buckets
        )
        # every other column the per-batch plan projects, built once
        self._prepared = prepared_columns()
        self._deleted = (F.col("op") == "D").alias("_deleted")
        self._row_sha = row_sha256_col(_HASHED).alias("row_sha256")
        self.batches = LakeTable(spark, f"{warehouse}/_batches")
        self.metrics = LakeTable(spark, f"{warehouse}/_metrics")

    # -- materialization ---------------------------------------------------

    def materialize_wide(
        self,
        files_df: DataFrame,
        passthrough: tuple[str, ...] = ("seq", "op", "event_ts"),
    ) -> DataFrame:
        """(repo,path,commit,lang,content[,seq,op]) → one wide RDF-star row
        per file. Keeps base + payload columns for the sha256 invariant and
        downstream text analytics, and the ``passthrough`` columns
        ``files_df`` has (event_ts is stored so freshness queries serve
        from the resolved table instead of windowing the raw log). Two
        projections of columns built once per engine, so Spark analyzes
        the batch plan twice, not once per column step."""
        have = files_df.columns
        deleted = self._deleted if "op" in have else F.lit(False).alias("_deleted")
        return files_df.withColumns(self._prepared).select(
            *_HASHED,
            "content_sha256",
            *[c for c in passthrough if c in have],
            deleted,
            *self._wide_cols,
            self._row_sha,
        )

    def triples_view(self, state: DataFrame | None = None) -> DataFrame:
        """Triple-grain asserted triples (see :meth:`serving_views`)."""
        return self.serving_views(state)[0]

    def annotations_view(self, state: DataFrame | None = None) -> DataFrame:
        """Quoted-triple annotation rows (see :meth:`serving_views`)."""
        return self.serving_views(state)[1]

    def serving_views(
        self, state: DataFrame | None = None
    ) -> tuple[DataFrame, DataFrame, WideRelation | None]:
        """``(triples, annotations, wide)`` from ONE resolved read.

        Default (no ``state``): both views are derived from the STORED
        wide columns — a projection+explode over already-materialized
        strings that never touches the fat ``content`` column and never
        recomputes sha256 — and ``wide`` is the
        :class:`~..queries.sparql.WideRelation` the SPARQL compiler reads
        star patterns from without exploding. With an explicit ``state``
        (time travel, ad-hoc frames), a dynamic-datatype mapping, or a
        stored schema that lacks the layout columns, a view falls back to
        recompiling the mapping and ``wide`` is None."""
        rows = None
        if state is None and self._layout.static and self.table.exists():
            rows = self.live_rows()
        stored = set(rows.columns) if rows is not None else set()
        triples = anns = wide = None
        if self._wide_columns_stored(stored):
            triples = self._triples_from_wide(rows)
        if self._layout.annotation and "annotation" in stored:
            anns = self._annotations_from_wide(rows)
        if triples is not None:
            wide = self._wide_relation(rows, anns is not None)
        if triples is None or anns is None:
            if state is None:
                state = self.current_state() if rows is None else rows.select(
                    "repo", "path", "commit", "lang", "content"
                )
            sources = {
                tm.name: prepare_input(state)
                for tm in self.ir.triples_maps.values()
            }
            t, a = materialize_document(sources, self.ir)
            triples = t if triples is None else triples
            anns = a if anns is None else anns
        return triples, anns, wide

    def _wide_columns_stored(self, stored: set[str] | None = None) -> bool:
        """Fast path requires every layout column in the STORED schema
        (``stored``, or the table's when omitted) — tables written by an
        older mapping (pre-evolution, or before a column existed) must
        recompute until the next batch materializes the new columns
        (review finding: unguarded select crashed)."""
        if stored is None:
            if not self.table.exists():
                return False
            stored = set(self.table.read().columns)
        return {"subject", *(n for n, _ in self._layout.asserted)} <= stored

    def _wide_relation(self, rows: DataFrame, with_annotations: bool):
        """The layout handed to the SPARQL compiler: each stored column
        with the constant metadata its triples carry (exactly what
        :meth:`_triples_from_wide` / :meth:`_annotations_from_wide` emit).
        The annotation fields are listed only when the annotations view
        is served from the same rows and each quoted triple is about the
        row that stores it."""
        from ..queries.sparql import WideColumn, WideRelation

        asserted = tuple(
            WideColumn(
                name, p.predicate, p.obj_kind, p.const_datatype, p.const_lang,
                p.const_graph,
            )
            for name, p in self._layout.asserted
        )
        annotation = tuple(
            WideColumn(name, pred_iri, kind, dt, lang)
            for name, pred_iri, kind, dt, lang in self._layout.annotation
        )
        on_row = with_annotations and self._layout.quoted_on_row
        return WideRelation(
            rows, asserted, self._layout.triples, annotation if on_row else ()
        )

    def _triples_from_wide(self, wide: DataFrame) -> DataFrame:
        from ..operators.materialize import TRIPLE_COLS

        t = F.col("t")
        return wide.select("subject", F.explode(self._layout.triples).alias("t")).select(
            *[F.col(c) if c == "subject" else t.getField(c).alias(c) for c in TRIPLE_COLS]
        )

    def _annotations_from_wide(self, wide: DataFrame) -> DataFrame:
        from ..operators.materialize import ANNOTATION_COLS

        t = F.col("t")
        return wide.select(F.explode(self._layout.annotations).alias("t")).select(
            *[t.getField(c).alias(c) for c in ANNOTATION_COLS]
        )

    def current_state(self) -> DataFrame:
        """Live (repo,path,commit,lang,content) rows of the lake table
        (tombstoned keys excluded)."""
        return self.live_rows().select("repo", "path", "commit", "lang", "content")

    def live_rows(self) -> DataFrame:
        return self.table.read_resolved()

    def compact(self) -> None:
        """MoR maintenance: fold deltas to one version per key (a no-op
        when the snapshot lists no delta file, e.g. a COW table)."""
        if self.table.exists() and self.table.snapshot().has_deltas:
            self.table.compact()

    def max_seq(self) -> int | None:
        """Global max event seq: the head snapshot's ``seq_hi`` (no Spark
        job), which purges and snapshot expiry leave in place."""
        return self.table.max_order()

    def state_at(self, seq_cut: int) -> DataFrame:
        """Point-in-time live state at ``seq_cut`` served from the lake:
        compacted checkpoint + manifest-pruned delta files (bounded work —
        never a window over the full event history; see
        LakeTable.read_asof). MoR tables only."""
        return self.table.read_asof(seq_cut).select(
            "repo", "path", "commit", "lang", "content"
        )

    def changes_between(self, lo_cut: int, hi_cut: int) -> DataFrame:
        """Incremental changefeed over (lo, hi]: net insert/update/delete
        per key, served from manifest-pruned delta files (see
        LakeTable.read_changes). Payload columns are nulled on delete —
        a tombstone's stored payload is an implementation detail of the
        materializer, not part of the changefeed contract."""
        ch = self.table.read_changes(lo_cut, hi_cut)
        dele = F.col("change_type") == F.lit("delete")
        return ch.select(
            "repo",
            "path",
            "change_type",
            F.when(dele, F.lit(None)).otherwise(F.col("commit")).alias("commit"),
            F.when(dele, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
            F.col("seq"),
        )

    def purge_tombstones(self) -> None:
        """Physically drop deleted keys: :meth:`LakeTable.purge_tombstones`
        rewrites only the buckets holding a key whose newest version is a
        tombstone (a key re-inserted after its delete is live and kept),
        and commits nothing when there is none. Safe once the event-time
        watermark guarantees no event older than the table's max seq can
        still arrive."""
        self.table.purge_tombstones()

    # -- CDC ---------------------------------------------------------------

    def dedup_latest(self, events: DataFrame) -> DataFrame:
        return latest_per_key(events, KEY)

    def apply_batch(self, events: DataFrame, batch_id: str) -> BatchResult:
        """One micro-batch: prepare → materialize → lake commit →
        ledger+metrics. ``mode`` picks only how the batch is prepared and
        which lake call writes it; the counts the ledger records are the
        ones that commit put in its snapshot summary. Safe to call twice
        with the same batch_id: the second call runs no Spark job and
        changes nothing."""
        missing = [c for c in EVENT_COLS if c not in events.columns]
        if missing:
            raise ValueError(f"event batch missing columns: {missing}")
        nb = self.table.n_buckets
        par = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        k = max(1, math.ceil(par / nb))
        prepared = events
        if self.mode == "mor":
            # At most ONE shuffle per commit, and none for a small batch a
            # single task reads (a one-file micro-batch, see
            # _one_small_task): that task materializes its rows and writes
            # them straight into per-bucket files (partitionBy splits by
            # value), one Spark job with one task.
            # Any other batch is hashed on the full key over k·n_buckets
            # partitions; because the bucket formula pmod(hash(key), B) IS
            # Spark's partition id formula and (h mod kB) mod B == h mod B,
            # each task still holds ONE bucket (k tasks per bucket), so
            # such a commit writes at most k files per bucket instead of
            # one per bucket per input partition. k scales the stage to the
            # session's parallelism so a low bucket count never caps the
            # CPU-heavy materialization (sha256 over content) of a large
            # batch below the available cores.
            # Either way the write skips its layout shuffle (pre_bucketed).
            # No intra-batch dedup: every version is appended and read-time
            # resolution picks max(seq); ledger counts (events per batch)
            # are defined over the raw appended rows, which the oracle
            # corpus pins.
            if not _one_small_task(events):
                prepared = events.repartition(k * nb, *KEY)
            write = partial(self.table.merge_mor, pre_bucketed=True)
        else:
            # COW's MERGE expects at most one row per key; extra source
            # cols pass through the dedup untouched. Deletes are upserted
            # as TOMBSTONES (_deleted=true), not physically removed: a
            # physically-removed key couldn't order-guard against a late
            # out-of-order update re-inserting stale data (the standard
            # CDC tombstone rule). Reads filter tombstones;
            # purge_tombstones() reclaims them once the event-time
            # watermark guarantees no older event can still arrive.
            prepared = self.dedup_latest(events)
            write = partial(self.table.merge, order_col="seq")
        wide = self.materialize_wide(prepared, passthrough=("seq", "event_ts"))
        stats = write(wide, batch_id)
        result = self._commit_metadata(batch_id, stats)
        # threshold: delta files per bucket, scaled by k. A commit through
        # the exchange emits up to k files per bucket, so without k
        # compaction (an O(table) rewrite) would fire ~k× too often; a
        # commit without it emits one per bucket, so when k > 1 the
        # trigger fires only after up to k·auto_compact_deltas such commits
        if self.auto_compact_deltas is not None and not stats.skipped:
            snap = self.table.snapshot()
            if snap.has_deltas and len(snap.files) > self.auto_compact_deltas * nb * k:
                self.table.compact()
        return result

    def _ledger_schema(self):
        from pyspark.sql.types import (
            BooleanType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        return StructType(
            [
                StructField("batch_id", StringType()),
                StructField("table_version", LongType()),
                StructField("events", LongType()),
                StructField("upserts", LongType()),
                StructField("deletes", LongType()),
                StructField("skipped", BooleanType()),
                StructField("status", StringType()),
                # monotone per ledger commit — status resolution order
                StructField("status_seq", LongType()),
            ]
        )

    def _next_status_seq(self) -> int:
        return self.batches.snapshot().version + 1 if self.batches.exists() else 0

    def _previous_data_batch(self, batch_id: str) -> str | None:
        """The batch this commit supersedes: the data batch committed
        immediately before ``batch_id`` (maintenance commits excluded).
        Derived from the data table's commit order, so it survives engine
        restarts (reference supersede: batch_manager.py:387-394)."""
        if not self.table.exists():
            return None
        ids = [
            i
            for i in self.table.snapshot().committed_batches
            if not i.startswith(("compact-", "purge-"))
        ]
        if batch_id in ids:
            idx = ids.index(batch_id)
            return ids[idx - 1] if idx > 0 else None
        return ids[-1] if ids else None

    def _commit_metadata(self, batch_id: str, stats: MergeStats) -> BatchResult:
        """Ledger + per-bucket lineage commit (pyarrow fast path — no Spark
        jobs), idempotent per batch_id like the data commit. The counts
        are the ones the data commit that recorded the batch put in its
        snapshot summary (``added_rows``, ``added_tombstones``): version
        ``stats.version`` for a fresh commit, the batch's index in
        ``committed_batches`` for a retry after a crash between the data
        commit and this one. A batch already in the ledger reports zero
        counts and commits nothing. A fresh ledger commit also appends
        the SUPERSEDED transition for the previously-ACTIVE batch in the
        SAME ledger commit (atomic, like the reference's
        supersede-previous step at load time)."""
        from pyspark.sql.types import IntegerType, LongType, StringType
        from pyspark.sql.types import StructField, StructType

        if stats.skipped and batch_id in self.batches.committed_batches():
            return BatchResult(batch_id, 0, 0, 0, stats)
        version = stats.version
        if stats.skipped:
            version = self.table.snapshot().committed_batches.index(batch_id)
        summary = self.table.snapshot(version).summary
        if "added_rows" not in summary:
            raise ValueError(
                f"batch {batch_id!r} is committed at v{version} of "
                f"{self.table.path} but has no ledger row, and that commit "
                "records no added rows (written before commits recorded "
                "them); its counts are unknown, so none are guessed"
            )
        per_bucket = sorted((int(b), n) for b, n in summary["added_rows"].items())
        n_latest = sum(n for _, n in per_bucket)
        n_del = summary["added_tombstones"]
        # lineage first: once the ledger row lands a retry commits nothing,
        # so the metrics append must already have landed
        if per_bucket:
            metrics_schema = StructType(
                [
                    StructField("batch_id", StringType()),
                    StructField("bucket", IntegerType()),
                    StructField("rows", LongType()),
                ]
            )
            self.metrics.append_rows(
                [{"batch_id": batch_id, "bucket": b, "rows": n} for b, n in per_bucket],
                metrics_schema,
                batch_id,
            )
        sseq = self._next_status_seq()
        rows = [
            {
                "batch_id": batch_id,
                "table_version": stats.version,
                "events": n_latest,
                "upserts": n_latest - n_del,
                "deletes": n_del,
                "skipped": stats.skipped,
                "status": "ACTIVE",
                "status_seq": sseq,
            }
        ]
        # Supersede the previous batch whenever THIS ledger commit is new —
        # including the crash-recovery retry (stats.skipped but no ledger
        # row yet); a pure re-delivery returned above, so no double
        # transition can occur (review finding: the recovery path left two
        # ACTIVE batches).
        prev = self._previous_data_batch(batch_id)
        if prev is not None:
            rows.append(
                {"batch_id": prev, "status": "SUPERSEDED", "status_seq": sseq}
            )
        self.batches.append_rows(rows, self._ledger_schema(), batch_id)
        return BatchResult(
            batch_id=batch_id,
            events=n_latest,
            upserts=n_latest - n_del,
            deletes=n_del,
            merge=stats,
        )

    # -- batch lifecycle (reference batch_manager.py:387-394,594-605) ------

    def ledger_view(self) -> DataFrame:
        """One row per batch: creation counts + CURRENT status (the latest
        status event wins). Statuses: ACTIVE → SUPERSEDED (next commit) →
        ARCHIVED (archive_batch) → PURGED (retention expired its version)."""
        ledger = self.batches.read()
        if "status_seq" not in ledger.columns:  # pre-lifecycle ledgers
            return ledger
        w = Window.partitionBy("batch_id").orderBy(F.col("status_seq").desc())
        latest = (
            ledger.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("batch_id", F.col("status").alias("_cur_status"))
        )
        counts = ledger.where(F.col("events").isNotNull()).select(
            "batch_id", "table_version", "events", "upserts", "deletes", "skipped"
        )
        return counts.join(latest, "batch_id").withColumnRenamed(
            "_cur_status", "status"
        )

    def _current_status(self, batch_id: str) -> str | None:
        """Latest ledger status for one batch (None if unregistered or the
        ledger predates status_seq — without the ordering column "latest"
        is undefined, and returning an arbitrary row could make the
        semantic skip in set_batch_status suppress a real transition)."""
        if not self.batches.exists():
            return None
        ledger = self.batches.read()
        if "status_seq" not in ledger.columns:
            return None
        rows = (
            ledger.where(F.col("batch_id") == batch_id)
            .orderBy(F.col("status_seq").desc())
            .select("status")
            .limit(1)
            .collect()
        )
        return rows[0]["status"] if rows else None

    def set_batch_status(
        self,
        batch_id: str,
        status: str,
        commit_id: str,
        current: str | None = None,
    ) -> None:
        """Append a status transition. ``commit_id`` is the caller's intent
        tag; the ledger-head seq is appended to it so a REPEAT of the same
        transition after intervening commits really lands (a bare
        deterministic tag would be silently deduped by append_rows against
        the earlier commit — review finding). Exactly-once for retries is
        SEMANTIC: a transition whose target equals the batch's current
        status is skipped before any commit — so a crash-retry after the
        append landed (at any ledger head) appends nothing, and no
        duplicate transition rows accumulate. ``current``: callers that
        already read the batch's latest status (e.g. sparql_update, which
        scans the ledger once per request) pass it to skip the per-call
        lookup job."""
        cur = current if current is not None else self._current_status(batch_id)
        if cur == status:
            return
        sseq = self._next_status_seq()
        self.batches.append_rows(
            [
                {
                    "batch_id": batch_id,
                    "status": status,
                    "status_seq": sseq,
                }
            ],
            self._ledger_schema(),
            f"{commit_id}-s{sseq}",
        )

    def archive_batch(self, batch_id: str) -> None:
        """ARCHIVED transition (reference batch_cli archive command)."""
        self.set_batch_status(batch_id, "ARCHIVED", f"archive-{batch_id}")

    def retention(self, keep_last_versions: int = 4) -> dict:
        """Expire old table snapshots (physical file reclaim) and mark
        batches whose version is no longer time-travelable as PURGED.
        Reference: archive/delete batches older than a retention window
        (batch_manager.py:594-605; sparql/batch_queries.rq:572-596)."""
        res = self.table.expire_snapshots(keep_last_versions)
        kept = set(self.table.versions())
        rows = [
            r
            for r in self.ledger_view()
            .where(F.col("status") != "PURGED")
            .select("batch_id", "table_version")
            .collect()
            if r["table_version"] not in kept
        ]
        sseq = self._next_status_seq()
        if rows:
            self.batches.append_rows(
                [
                    {
                        "batch_id": r["batch_id"],
                        "status": "PURGED",
                        "status_seq": sseq,
                    }
                    for r in rows
                ],
                self._ledger_schema(),
                f"retention-{sseq}",
            )
        return {**res, "purged_batches": len(rows)}

    def replay(
        self,
        events: DataFrame,
        num_batches: int = 4,
        id_prefix: str = "replay",
        seq_hi: int | None = None,
    ) -> list[BatchResult]:
        """Replay a bounded event log as ``num_batches`` seq-ranged
        micro-batches (the batch boundaries don't affect the final state —
        that's the convergence property the tests verify). ``seq_hi``
        skips the max(seq) scan when the caller already knows the range
        (synthetic logs do) — one less serial job per replay."""
        hi = (
            seq_hi
            if seq_hi is not None
            else events.agg(F.max("seq")).collect()[0][0]
        )
        if hi is None:
            return []
        step = (hi + num_batches) // num_batches
        out = []
        for i in range(num_batches):
            chunk = events.where(
                (F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step)
            )
            out.append(self.apply_batch(chunk, f"{id_prefix}-{i:05d}"))
        return out

    # -- schema evolution --------------------------------------------------

    def evolve_add_predicate(
        self, tm_name: str, predicate: str, obj_template: str, kind: str = "literal"
    ) -> None:
        """Add a predicate-object to the mapping mid-stream. The next
        micro-batch materializes the new ``p_<local>`` column; the lake MERGE
        adds it in place (old rows read as null — Iceberg ADD COLUMN
        semantics). Reference analogue: new mapping PO simply emits new
        triples next batch (SURVEY §1.4)."""
        from ..mapping.ir import ObjectSpec, PredicateObjectSpec, TriplesMapIR

        tm = self.ir.triples_maps[tm_name]
        new_po = PredicateObjectSpec(
            predicates=(predicate,),
            objects=(ObjectSpec(value=obj_template, kind=kind),),
        )
        new_tm = TriplesMapIR(
            name=tm.name,
            sources=tm.sources,
            subject=tm.subject,
            predicate_objects=tm.predicate_objects + (new_po,),
            graphs=tm.graphs,
            condition=tm.condition,
        )
        self.ir = MappingDocumentIR(
            prefixes=self.ir.prefixes,
            base_iri=self.ir.base_iri,
            triples_maps={**self.ir.triples_maps, tm_name: new_tm},
            external=self.ir.external,
        )
        self._layout = wide_columns(self.ir, self.asserted_tm, self.annotation_tm)
        self._wide_cols = self._layout.cols

    # -- streaming ---------------------------------------------------------

    def run_stream(
        self,
        events_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        watermark: str | None = None,
    ):
        """Structured Streaming shell: tail an events directory (parquet
        files appended in seq order — the sandbox stand-in for a binlog/WAL
        topic) → ``foreachBatch`` → :meth:`apply_batch`. The checkpoint dir
        plus idempotent MERGE batch ids give exactly-once; killing and
        rerunning resumes from the last committed epoch. Returns once the
        available files are drained (``availableNow``).

        The returned query's ``recentProgress[i]["durationMs"]`` is Spark's
        own per-trigger phase breakdown: ``addBatch`` is this sink (one
        :meth:`apply_batch`); ``latestOffset``, ``walCommit`` (offset WAL)
        and ``commitOffsets`` (commit log) are the checkpoint's fixed cost
        per trigger."""
        schema = (
            "seq long, op string, repo string, path string, commit string, "
            "lang string, content string, event_ts timestamp"
        )
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(events_dir)
        )
        if watermark is not None:
            # event-time watermark + stateful dedup bounds the re-delivery
            # window upstream of foreachBatch; events later than the
            # watermark still converge via the MERGE order-guard/MoR
            # resolution (late data handled by commit ordering, §2.9)
            stream = stream.withWatermark("event_ts", watermark)
            stream = stream.dropDuplicatesWithinWatermark(["repo", "path", "seq"])

        def _sink(df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(df, f"stream-{epoch_id:08d}")

        q = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
