"""Materialize triples + RDF-star annotations from compiled mappings.

Replaces the reference's two-pass row loops:
- pass 1 asserted triples (rdf_star_etl_yarrrml.py:324-447)
- pass 2 quoted-triple annotations via hash-index probe
  (rdf_star_etl_yarrrml.py:451-530, index :478-485)

Scale design
------------
* **One scan per source.** All emission rules of a triples map compile to
  an ``array(struct(...))`` + ``explode`` projection — a single pass over
  the input, whole-stage codegen'd. A union-of-selects would re-scan the
  source once per rule; this does not.
* **The annotation join is a plain equi-join** on the mapping's join key
  (J1). Catalyst/AQE picks broadcast vs sort-merge; at 100 TB the quoted
  side is the small dimension (distinct governed facts) and broadcasts.
* **Deterministic reifiers.** The reference mints random blank nodes
  (rdf_star_etl_yarrrml.py:497) which breaks state comparison; we derive
  the reifier id from sha256(quoted triple ‖ child-row fingerprint) so
  replays converge bit-identically (required for the sha256 invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mapping.compiler import (
    CompiledTriplePattern,
    compile_asserted_patterns,
    template_refs,
)
from ..mapping.ir import MappingDocumentIR
from ..sinks.rdf_syntax import quoted_column

TRIPLE_COLS = [
    "tm",
    "subject",
    "predicate",
    "object",
    "object_datatype",
    "object_lang",
    "object_kind",  # iri | literal | blank — compile-time term kind
    "graph",
]

ANNOTATION_COLS = [
    "tm",
    "reifier",
    "quoted",  # struct<s,p,o>
    "predicate",
    "object",
    "object_datatype",
    "object_lang",
    "object_kind",
    "graph",
]

RDF_REIFIES = "http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"
_SEP = "\x1f"  # unit separator for fingerprint concat


def _pattern_struct(p: CompiledTriplePattern) -> F.Column:
    s = F.struct(
        F.lit(p.tm_name).alias("tm"),
        p.subject.cast("string").alias("subject"),
        F.lit(p.predicate).alias("predicate"),
        p.obj.cast("string").alias("object"),
        p.obj_datatype.cast("string").alias("object_datatype"),
        p.obj_lang.cast("string").alias("object_lang"),
        F.lit(p.obj_kind).alias("object_kind"),
        p.graph.cast("string").alias("graph"),
    )
    if p.row_filter is not None:
        null_struct = F.lit(None).cast(
            "struct<tm:string,subject:string,predicate:string,object:string,"
            "object_datatype:string,object_lang:string,object_kind:string,"
            "graph:string>"
        )
        return F.when(p.row_filter, s).otherwise(null_struct)
    return s


def materialize_asserted(
    source_df: DataFrame,
    ir: MappingDocumentIR,
    tm_name: str,
    *,
    extra_cols: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Asserted triples of one triples map — single scan, explode-based.

    ``extra_cols`` lets the annotation pass retain join-key / lineage
    columns alongside the triple columns.
    """
    patterns = compile_asserted_patterns(ir, tm_name)
    if not patterns:
        raise ValueError(f"triples map {tm_name!r} has no compilable patterns")
    arr = F.array_compact(F.array(*[_pattern_struct(p) for p in patterns]))
    exploded = source_df.select(
        F.explode(arr).alias("t"), *(c.alias(n) for n, c in (extra_cols or {}).items())
    )
    keep = [F.col(f"t.{c}").alias(c) for c in TRIPLE_COLS]
    keep += [F.col(n) for n in (extra_cols or {})]
    out = exploded.select(*keep)
    # drop triples whose object is null (reference skips blank values,
    # rdf_star_etl_engine.py:311)
    return out.where(F.col("object").isNotNull())


def materialize_mapping_refs(
    sources: dict[str, DataFrame], ir: MappingDocumentIR, tm_name: str
) -> list[DataFrame]:
    """J3 — ``o.mapping`` + join condition (rr:parentTriplesMap): the object
    of the triple is the *parent* triples map's subject, equi-joined on the
    condition (SURVEY §2.3 J3; yarrrml_parser.py:432-437 parses, reference
    executes only partially). Catalyst/AQE picks broadcast vs shuffle."""
    from ..mapping.compiler import template_column

    tm = ir.triples_maps[tm_name]
    prefixes, base = ir.prefixes, ir.base_iri
    out: list[DataFrame] = []
    for po in tm.predicate_objects:
        for obj in po.objects:
            if obj.mapping_ref is None:
                continue
            parent_tm = ir.triples_maps[obj.mapping_ref]
            child_key, parent_key = obj.join_condition or (None, None)
            child = sources[tm_name].select(
                template_column(tm.subject.templates[0], prefixes, base)
                .cast("string")
                .alias("subject"),
                *( [F.col(child_key).cast("string").alias("_ck")] if child_key else [] ),
            )
            parent = sources[obj.mapping_ref].select(
                template_column(parent_tm.subject.templates[0], prefixes, base)
                .cast("string")
                .alias("_parent_subject"),
                *( [F.col(parent_key).cast("string").alias("_ck")] if parent_key else [] ),
            )
            joined = (
                child.join(parent, on="_ck") if child_key else child.crossJoin(parent)
            )
            from ..mapping.compiler import expand_prefix

            for pred in po.predicates:
                out.append(
                    joined.select(
                        F.lit(tm_name).alias("tm"),
                        F.col("subject"),
                        F.lit(expand_prefix(pred, prefixes, base)).alias("predicate"),
                        F.col("_parent_subject").alias("object"),
                        F.lit(None).cast("string").alias("object_datatype"),
                        F.lit(None).cast("string").alias("object_lang"),
                        F.lit("iri").alias("object_kind"),
                        F.lit(None).cast("string").alias("graph"),
                    )
                )
    return out


def materialize_all_asserted(
    sources: dict[str, DataFrame], ir: MappingDocumentIR
) -> DataFrame:
    """Union of all asserted (non-quoted) triples maps — template patterns
    plus J3 mapping-ref join triples. Sources are keyed by triples-map name
    (caller resolves each map's source access path)."""
    parts = []
    for tm in ir.asserted_maps():
        if compile_asserted_patterns(ir, tm.name):
            parts.append(materialize_asserted(sources[tm.name], ir, tm.name))
        parts.extend(materialize_mapping_refs(sources, ir, tm.name))
    if not parts:
        raise ValueError("mapping document has no asserted triples maps")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _row_fingerprint(ir: MappingDocumentIR, tm_name: str) -> F.Column:
    """sha256 fingerprint of an annotation-source row, over exactly the
    columns the triples map references (deterministic reifier input)."""
    tm = ir.triples_maps[tm_name]
    refs: list[str] = []
    for po in tm.predicate_objects:
        for obj in po.objects:
            for t in (obj.value, obj.datatype, obj.language):
                if t:
                    refs.extend(template_refs(t))
    qj = tm.subject.quoted_join
    if qj:
        refs.append(qj.child_key)
    seen: list[str] = []
    for r in refs:
        if r not in seen:
            seen.append(r)
    cols = [F.coalesce(F.col(r).cast("string"), F.lit("\x1e")) for r in seen]
    return F.sha2(F.concat_ws(_SEP, *cols), 256)


def materialize_annotations(
    child_df: DataFrame,
    parent_source_df: DataFrame,
    ir: MappingDocumentIR,
    tm_name: str,
) -> DataFrame:
    """RDF-star annotations of one quoted triples map (J1).

    ``child_df`` is the annotation source (e.g. lineage rows);
    ``parent_source_df`` is the *source* of the quoted triples map — its
    triples are recomputed here with the join key retained (cheaper than
    caching: one extra codegen'd projection, no materialization barrier).
    """
    tm = ir.triples_maps[tm_name]
    qj = tm.subject.quoted_join
    if qj is None:
        raise ValueError(f"{tm_name} is not a quoted/annotation triples map")

    parent_triples = materialize_asserted(
        parent_source_df,
        ir,
        qj.quoted_map,
        extra_cols={"_jk": F.col(qj.parent_key).cast("string")},
    ).select(
        F.col("subject").alias("q_s"),
        F.col("predicate").alias("q_p"),
        F.col("object").alias("q_o"),
        "_jk",
    )

    # compile the annotation predicate-objects against the child source —
    # reuse the asserted-pattern compiler with a synthetic subject: the
    # subject column is unused post-join (the reifier replaces it), so we
    # compile with the child key as a stand-in subject template.
    synth = ir.triples_maps[tm_name]
    from ..mapping.ir import SubjectSpec, TriplesMapIR

    synth_tm = TriplesMapIR(
        name=tm_name,
        sources=synth.sources,
        subject=SubjectSpec(templates=(f"$({qj.child_key})",)),
        predicate_objects=synth.predicate_objects,
        graphs=synth.graphs,
        condition=synth.condition,
    )
    synth_ir = MappingDocumentIR(
        prefixes=ir.prefixes,
        base_iri=ir.base_iri,
        triples_maps={**ir.triples_maps, tm_name: synth_tm},
        external=ir.external,
    )
    child_annotations = materialize_asserted(
        child_df,
        synth_ir,
        tm_name,
        extra_cols={
            "_jk": F.col(qj.child_key).cast("string"),
            "_rowfp": _row_fingerprint(ir, tm_name),
        },
    )

    joined = child_annotations.join(parent_triples, on="_jk", how="inner")
    reifier = F.concat(
        F.lit("b"),
        F.sha2(
            F.concat_ws(
                _SEP, F.col("q_s"), F.col("q_p"), F.col("q_o"), F.col("_rowfp")
            ),
            256,
        ),
    )
    return joined.select(
        F.col("tm"),
        reifier.alias("reifier"),
        F.struct(
            F.col("q_s").alias("s"), F.col("q_p").alias("p"), F.col("q_o").alias("o")
        ).alias("quoted"),
        F.col("predicate"),
        F.col("object"),
        F.col("object_datatype"),
        F.col("object_lang"),
        F.col("object_kind"),
        F.col("graph"),
    )


def materialize_document(
    sources: dict[str, DataFrame], ir: MappingDocumentIR
) -> tuple[DataFrame, DataFrame | None]:
    """Full document → (asserted triples DF, annotations DF or None).

    ``sources`` maps triples-map name → its loaded source DataFrame.
    """
    triples = materialize_all_asserted(sources, ir)
    ann_parts = []
    for tm in ir.annotation_maps():
        qj = tm.subject.quoted_join
        assert qj is not None
        parent_src = sources[qj.quoted_map]
        ann_parts.append(
            materialize_annotations(sources[tm.name], parent_src, ir, tm.name)
        )
    annotations = None
    if ann_parts:
        annotations = ann_parts[0]
        for p in ann_parts[1:]:
            annotations = annotations.unionByName(p)
    return triples, annotations


def annotations_to_quads(annotations: DataFrame) -> DataFrame:
    """Flatten annotations to quad rows the way the reference's store sees
    them: per reifier one ``rdf:reifies`` link (object = serialized quoted
    triple) plus the annotation quads with the reifier as subject
    (rdf_star_etl_yarrrml.py:496-503)."""
    ann_quads = annotations.select(
        F.col("reifier").alias("subject"),
        F.col("predicate"),
        F.col("object"),
        F.col("object_datatype"),
        F.col("object_lang"),
        F.col("graph"),
    )
    reifies = (
        annotations.select("reifier", "quoted", "graph")
        .distinct()
        .select(
            F.col("reifier").alias("subject"),
            F.lit(RDF_REIFIES).alias("predicate"),
            quoted_column(
                F.col("quoted.s"), F.col("quoted.p"), F.col("quoted.o")
            ).alias("object"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.col("graph"),
        )
    )
    return ann_quads.unionByName(reifies)
