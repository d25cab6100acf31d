"""Seeded input generation: the CDC event log, the upsert stream and the
SPARQL-star query texts. Everything is a pure function of the seed and the
sizes, so the same seed gives byte-identical inputs.

Fixed across seeds (the seed only permutes):

* skew — key ``f`` lives in ``repo_0`` when ``f % 5 == 0``, else in
  ``repo_{f % 37}`` (≈21% of keys in ``repo_0``, as in ``data/synth.py``);
* op mix — version 0 of a key is an insert; a later version is a delete when
  ``(f + ver) % 13 == 0``, else an update.

The seed permutes the order in which keys appear inside each version round
(so which keys each seq-ranged batch touches), the per-key language, the
content text and the query constants.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "fr", "de", "es", "it", "pt", "nl", "sv", "pl", "ja"]
EVENT_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("event_ts", pa.timestamp("us")),
    ]
)
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_WORDS = (
    "lake snapshot merge bucket ledger commit quoted triple annotation "
    "reifier stream batch offset parquet schema column predicate subject "
    "object graph query plan cache view render shuffle partition compact "
    "delta tombstone version watermark trigger sink source mapping"
).split()


def repo_of(file_id: int) -> str:
    return "repo_0" if file_id % 5 == 0 else f"repo_{file_id % 37}"


def op_of(file_id: int, ver: int) -> str:
    if ver == 0:
        return "I"
    return "D" if (file_id + ver) % 13 == 0 else "U"


@dataclass(frozen=True)
class Keyspace:
    """Per-key attributes that never change across versions."""

    lang_idx: np.ndarray  # key -> index into LANGS

    def path(self, f: int) -> str:
        return f"src/d{f % 97}/f_{f}.{LANGS[self.lang_idx[f]]}"


def keyspace(seed: int, n_keys: int) -> Keyspace:
    rng = np.random.default_rng([seed, 1])
    return Keyspace(rng.integers(0, len(LANGS), size=n_keys))


def _contents(rng: np.random.Generator, n: int, vers: np.ndarray) -> list[str]:
    """``n`` texts of 6..45 words; length drives the mapping's
    ``confidence`` ((len % 100) / 100), so it must vary."""
    lens = rng.integers(6, 46, size=n)
    picks = rng.integers(0, len(_WORDS), size=int(lens.sum()))
    out, pos = [], 0
    for i in range(n):
        k = int(lens[i])
        out.append(" ".join(_WORDS[j] for j in picks[pos : pos + k]) + f" v{vers[i]}")
        pos += k
    return out


def _commit(seed: int, f: int, ver: int) -> str:
    return hashlib.md5(f"c{seed}-{f}-{ver}".encode()).hexdigest()[:12]


def _table(seed, ks, seqs, fids, vers, rng) -> pa.Table:
    fl = fids.tolist()
    vl = vers.tolist()
    return pa.table(
        {
            "seq": pa.array(seqs, pa.int64()),
            "op": [op_of(f, v) for f, v in zip(fl, vl)],
            "repo": [repo_of(f) for f in fl],
            "path": [ks.path(f) for f in fl],
            "commit": [_commit(seed, f, v) for f, v in zip(fl, vl)],
            "lang": [LANGS[ks.lang_idx[f]] for f in fl],
            "content": _contents(rng, len(fl), vers),
            "event_ts": pa.array(
                (np.asarray(seqs, dtype=np.int64) * 1_000_000 + _EPOCH_US),
                pa.timestamp("us"),
            ),
        },
        schema=EVENT_SCHEMA,
    )


def event_log(seed: int, n_keys: int, versions: int) -> pa.Table:
    """``n_keys * versions`` events ordered by ``seq``. Round ``v`` holds
    version ``v`` of every key, in a seed-specific key order."""
    ks = keyspace(seed, n_keys)
    rng = np.random.default_rng([seed, 2])
    fids = np.concatenate([rng.permutation(n_keys) for _ in range(versions)])
    vers = np.repeat(np.arange(versions), n_keys)
    seqs = np.arange(n_keys * versions, dtype=np.int64)
    return _table(seed, ks, seqs, fids, vers, np.random.default_rng([seed, 3]))


def upsert_batches(
    seed: int, n_keys: int, versions: int, n_batches: int, batch_size: int
) -> list[pa.Table]:
    """Small skewed update batches continuing :func:`event_log`'s seq range:
    half of each batch's keys come from ``repo_0``, the rest uniformly from
    all keys; each key appears at most once per batch. Per-key versions
    continue from ``versions`` so the op-mix rule keeps holding."""
    ks = keyspace(seed, n_keys)
    rng = np.random.default_rng([seed, 4])
    hot = np.arange(0, n_keys, 5)
    ver = np.full(n_keys, versions, dtype=np.int64)
    seq0 = n_keys * versions
    out = []
    for _ in range(n_batches):
        picks = np.concatenate(
            [
                rng.choice(hot, size=batch_size // 2, replace=False),
                rng.choice(n_keys, size=batch_size, replace=False),
            ]
        )
        _, first = np.unique(picks, return_index=True)
        fids = picks[np.sort(first)][:batch_size]
        vers = ver[fids].copy()
        ver[fids] += 1
        seqs = np.arange(seq0, seq0 + len(fids), dtype=np.int64)
        seq0 += len(fids)
        out.append(_table(seed, ks, seqs, fids, vers, rng))
    return out


def write_log(log: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``log`` as ``n_files`` seq-ranged parquet files whose names sort
    in seq order (the stream source lists files by name)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-log.num_rows // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"events-{i:05d}.parquet")
        pq.write_table(log.slice(i * step, step), p)
        paths.append(p)
    return paths


# -- query texts --------------------------------------------------------------

EX = "http://example.org/"
DCT = "http://purl.org/dc/terms/"
SHAPES = ("annotation_filter", "per_predicate", "having", "union")


@dataclass(frozen=True)
class QuerySpec:
    """One SPARQL-star request: its shape, its constant and its text."""

    shape: str
    const: str

    @property
    def text(self) -> str:
        return query_text(self.shape, self.const)


def query_text(shape: str, const: str) -> str:
    if shape == "annotation_filter":
        return (
            f"PREFIX ex: <{EX}>\n"
            "SELECT ?subject ?lang_value ?confidence WHERE {\n"
            "  ?subject ex:lang ?lang_value .\n"
            "  <<?subject ex:lang ?lang_value>> ex:confidence ?confidence .\n"
            f"  FILTER(?confidence > {const})\n}}"
        )
    if shape == "per_predicate":
        return (
            f"PREFIX ex: <{EX}>\n"
            "SELECT ?predicate (COUNT(?subject) AS ?n_triples) WHERE {\n"
            f"  ?subject ex:repo <{EX}repo/{const}> .\n"
            "  ?subject ?predicate ?object\n} GROUP BY ?predicate"
        )
    if shape == "having":
        return (
            f"PREFIX ex: <{EX}>\n"
            "SELECT ?repo (COUNT(?f) AS ?n_files) WHERE {\n"
            "  ?f ex:repo ?repo\n"
            f"}} GROUP BY ?repo HAVING(COUNT(?f) > {const})"
        )
    if shape == "union":
        return (
            f"PREFIX ex: <{EX}>\nPREFIX dct: <{DCT}>\n"
            "SELECT DISTINCT ?object WHERE {\n"
            f"  {{ ?s ex:repo <{EX}repo/{const}> . ?s ex:lang ?object }}\n"
            "  UNION\n"
            f"  {{ ?s ex:repo <{EX}repo/{const}> . ?s dct:identifier ?object }}\n}}"
        )
    raise ValueError(f"unknown query shape {shape!r}")


def _const(rng: np.random.Generator, shape: str, n_keys: int) -> str:
    """A seeded constant from a range narrow enough that every seed asks
    for about the same amount of work."""
    if shape == "annotation_filter":
        return f"0.{int(rng.integers(900, 950))}"
    if shape == "having":
        # per-repo live counts sit near n_keys/46 (repo_0 near n_keys/4.6)
        return str(int(rng.integers(n_keys // 50, n_keys // 40)))
    return f"repo_{int(rng.integers(1, 37))}"  # repo_0 is 5x larger


def query_cycle(seed: int, cycle: int, n_keys: int) -> list[QuerySpec]:
    """The requests of one serving cycle: each shape once with a fresh
    seeded constant, each immediately repeated, so half of the requests
    repeat an earlier text. The first is the annotation filter."""
    rng = np.random.default_rng([seed, 5, cycle])
    out = []
    for shape in SHAPES:
        spec = QuerySpec(shape, _const(rng, shape, n_keys))
        out += [spec, spec]
    return out
