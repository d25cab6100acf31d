"""Independent answers from DuckDB over the generated event log.

The engine's output is compared against these; nothing here calls the
package. SQL fragments mirror the corpus oracles in ``queries/corpus.py``
(flagship mapping: subject IRI, asserted predicates, the decimal
``confidence`` annotation) over a ``final`` relation instead of the
synthetic ``documents`` log.
"""

from __future__ import annotations

import hashlib

import duckdb

from .gen import DCT, EX

STATE_COLS = ("repo", "path", "commit", "lang", "content")
_SAN = "regexp_replace({c}, '[^a-zA-Z0-9_.-]', '_', 'g')"
_SUBJ = f"'{EX}file/' || {_SAN.format(c='repo')} || '/' || {_SAN.format(c='path')}"
_REPO_IRI = f"'{EX}repo/' || {_SAN.format(c='repo')}"
_CONF = "round((length(content) % 100) / 100.0, 2)"
_CONF_STR = f"CAST(CAST({_CONF} AS DECIMAL(5,2)) AS VARCHAR)"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _asserted(where: str) -> str:
    src = f"(SELECT * FROM final WHERE {where})"
    return f"""
SELECT {_SUBJ} AS subject, '{_RDF_TYPE}' AS predicate,
       '{EX}SourceFile' AS object FROM {src}
UNION ALL SELECT {_SUBJ}, '{DCT}identifier', path FROM {src}
UNION ALL SELECT {_SUBJ}, '{EX}repo', {_REPO_IRI} FROM {src}
UNION ALL SELECT {_SUBJ}, '{EX}commit', "commit" FROM {src}
UNION ALL SELECT {_SUBJ}, '{EX}contentSha256', sha256(content) FROM {src}
UNION ALL SELECT {_SUBJ}, '{EX}lang', lang FROM {src}"""


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def query_sql(shape: str, const: str) -> str:
    """DuckDB SQL whose rows are the expected SPARQL bindings, columns in
    the query's projection order."""
    if shape == "annotation_filter":
        return (
            f"SELECT {_SUBJ}, lang, {_CONF_STR} FROM final "
            f"WHERE {_CONF} > {float(const)!r}"
        )
    if shape == "per_predicate":
        return (
            f"SELECT predicate, count(*) FROM ({_asserted(f'repo = {_sql_str(const)}')})"
            " GROUP BY predicate"
        )
    if shape == "having":
        return (
            f"SELECT {_REPO_IRI}, count(*) FROM final GROUP BY 1 "
            f"HAVING count(*) > {int(const)}"
        )
    if shape == "union":
        return (
            f"SELECT DISTINCT object FROM ({_asserted(f'repo = {_sql_str(const)}')}) "
            f"WHERE predicate IN ('{EX}lang', '{DCT}identifier')"
        )
    raise ValueError(f"unknown query shape {shape!r}")


def answer_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of rows of lexical values."""
    lines = sorted("\x1f".join("" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return len(lines), h


def response_digest(doc: dict) -> tuple[int, str]:
    """:func:`answer_digest` of a SPARQL JSON results document."""
    cols = doc["head"]["vars"]
    rows = [
        tuple(b[c]["value"] if c in b else None for c in cols)
        for b in doc["results"]["bindings"]
    ]
    return answer_digest(rows)


def row_sha256(row) -> str:
    """Per-row content hash, the definition ``storage/lake.row_sha256``
    documents: sha256 of the ``\\x1f``-joined columns, null as ``\\x1e``."""
    parts = ["\x1e" if v is None else str(v) for v in row]
    return hashlib.sha256("\x1f".join(parts).encode()).hexdigest()


def fingerprint(rows) -> dict:
    """The ``table_fingerprint`` aggregate computed in Python: row count,
    sum of the first 15 hex digits and xor of digits 17..31 of each row's
    sha256."""
    n, hsum, hxor = 0, 0, 0
    for r in rows:
        h = row_sha256(r)
        n += 1
        hsum += int(h[0:15], 16)
        hxor ^= int(h[16:31], 16)
    return {"rows": n, "hsum": str(hsum), "hxor": hxor}


class Oracle:
    """DuckDB over event-log parquet files; the state at ``cut`` is the live
    table after every event with ``seq < cut`` (latest per key, deletes
    dropped)."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            "CREATE TABLE events AS SELECT seq, op, repo, path, \"commit\", lang, "
            "content FROM read_parquet(?)",
            [list(files)],
        )
        self._states: set[int] = set()
        self._answers: dict[tuple[str, str, int], tuple[int, str]] = {}

    def n_events(self) -> int:
        return self.con.execute("SELECT count(*) FROM events").fetchone()[0]

    def _state_table(self, cut: int) -> str:
        name = f"final_{cut}"
        if cut not in self._states:
            self.con.execute(
                f"""CREATE TABLE {name} AS
                SELECT repo, path, "commit", lang, content FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY seq DESC) AS rn
                  FROM events WHERE seq < {int(cut)})
                WHERE rn = 1 AND op <> 'D'"""
            )
            self._states.add(cut)
        return name

    def state_rows(self, cut: int) -> list[tuple]:
        return self.con.execute(
            f'SELECT repo, path, "commit", lang, content FROM {self._state_table(cut)}'
        ).fetchall()

    def answer(self, shape: str, const: str, cut: int) -> tuple[int, str]:
        key = (shape, const, cut)
        if key not in self._answers:
            sql = query_sql(shape, const).replace(
                "FROM final", f"FROM {self._state_table(cut)}"
            )
            self._answers[key] = answer_digest(self.con.execute(sql).fetchall())
        return self._answers[key]

    def close(self) -> None:
        self.con.close()
