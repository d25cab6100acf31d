"""The flagship mapping: source-code repo files → RDF-star data product.

Re-targets the reference's flagship ``mappings/data_products_rml.yaml`` shape
(subject IRI + typed asserted triples + a governed fact carrying quoted-triple
provenance annotations, data_products_rml.yaml:14-60) to the BASELINE.json
input table ``(repo, path, commit, lang, content)``:

* subject  ``ex:file/$(repo)/$(path)``            (cf. ex:dataset/$(dataset_id))
* asserted ``a ex:SourceFile``, ``dct:identifier``, ``ex:repo``, ``ex:commit``,
  ``ex:contentSha256`` (the per-row verification invariant)
* governed fact ``ex:lang $(lang)``               (cf. dcat:theme)
* RDF-star annotations on the fact (cf. the 5 prov annotations at
  data_products_rml.yaml:43-60): ``prov:wasDerivedFrom`` commit IRI,
  ``prov:wasGeneratedBy``, ``ex:confidence`` (xsd:decimal), ``ex:lang``.

The annotation join key ``file_key`` (= repo‖path) and computed columns
``content_sha256`` / ``confidence`` are :func:`prepared_columns`, added by
:func:`prepare_input`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ir import MappingDocumentIR
from .parser import parse_document

FLAGSHIP_YAML = """
prefixes:
  ex: http://example.org/
  dct: http://purl.org/dc/terms/
  prov: http://www.w3.org/ns/prov#
  xsd: http://www.w3.org/2001/XMLSchema#
  rdf: http://www.w3.org/1999/02/22-rdf-syntax-ns#

mappings:
  file:
    sources:
      - [repo_files~parquet]
    s: ex:file/$(repo)/$(path)
    po:
      - [a, ex:SourceFile~iri]
      - [dct:identifier, $(path)]
      - p: ex:repo
        o:
          value: ex:repo/$(repo)
          type: iri
      - p: ex:commit
        o:
          value: $(commit)
          datatype: xsd:string
      - p: ex:contentSha256
        o:
          value: $(content_sha256)
          datatype: xsd:string
  file_lang:
    sources:
      - [repo_files~parquet]
    s: ex:file/$(repo)/$(path)
    po:
      - [ex:lang, $(lang)]
  provenance:
    sources:
      - [repo_files~parquet]
    s:
      function: join(quoted=file_lang, equal(str1=$(file_key), str2=$(file_key)))
    po:
      - p: prov:wasDerivedFrom
        o:
          value: ex:commit/$(commit)
          type: iri
      - p: prov:wasGeneratedBy
        o:
          value: ex:activity/cdc_ingest
          type: iri
      - p: ex:confidence
        o:
          value: $(confidence)
          datatype: xsd:decimal
      - p: ex:lang
        o:
          value: $(lang)
"""


def flagship_ir() -> MappingDocumentIR:
    return parse_document(FLAGSHIP_YAML)


def prepared_columns() -> dict[str, Column]:
    """The computed columns every mapping reference can use, by name. Pure
    Catalyst expressions — codegen'd, no Python per row. A caller that
    prepares many frames (the CDC engine, per micro-batch) builds them once."""
    return {
        "file_key": F.concat_ws("\x1f", "repo", "path"),
        "content_sha256": F.sha2(F.col("content"), 256),
        "confidence": F.round((F.length("content") % 100) / F.lit(100.0), 2).cast(
            "decimal(5,2)"
        ),
    }


def prepare_input(files_df: DataFrame) -> DataFrame:
    """``files_df`` plus :func:`prepared_columns`, in one projection."""
    return files_df.withColumns(prepared_columns())
