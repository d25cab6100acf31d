"""The cached serving warehouses are named by a digest of the package's
``.py`` sources, so code that changed by one byte never reads a
warehouse that older code wrote."""

from __future__ import annotations

import os
import shutil

from etl_pipeline_rdf_star_spark.queries import corpus


def test_warehouse_dir_changes_with_any_source_byte(tmp_path, monkeypatch):
    pkg = tmp_path / "pkg"
    shutil.copytree(
        corpus._PKG_ROOT, pkg, ignore=shutil.ignore_patterns("__pycache__")
    )
    monkeypatch.setattr(corpus, "_PKG_ROOT", str(pkg))
    sf = "/data/sf0.001"
    first = corpus._cache_dir("rdfstar_serving", sf)
    assert os.path.basename(first) == "sf0.001"
    assert corpus._cache_dir("rdfstar_serving", sf) == first

    src = pkg / "storage" / "lake.py"
    data = src.read_bytes()
    src.write_bytes(data[:-1] + bytes([data[-1] ^ 1]))
    corpus._source_digest.cache_clear()
    changed = corpus._cache_dir("rdfstar_serving", sf)
    assert changed != first
    assert os.path.basename(changed) == "sf0.001"

    src.write_bytes(data)
    corpus._source_digest.cache_clear()
    assert corpus._cache_dir("rdfstar_serving", sf) == first
