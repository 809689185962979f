"""Expected answers, computed from the generated inputs alone.

DuckDB resolves the event log to its final state; the SPARQL answers are
evaluated over that state in plain Python. Nothing here imports the engine;
the only engine facts used are the flagship mapping's documented IRI and
literal rules (subject ``ex:file/<repo>/<path>`` with ``[^\\w\\-.]`` → ``_``,
``ex:confidence`` = ``(length(content) % 100) / 100``).
"""

from __future__ import annotations

import hashlib
import json
import re
from decimal import Decimal

import duckdb

EX = "http://example.org/"
_SANITIZE = re.compile(r"[^\w\-.]")


def file_iri(repo: str, path: str) -> str:
    return f"{EX}file/{_SANITIZE.sub('_', repo)}/{_SANITIZE.sub('_', path)}"


def final_state(event_files: list[str]) -> list[dict]:
    """Live rows after replaying the log: latest event per (repo, path) by
    seq, deletes removed. Each row: repo, path, lang, sha (hex sha256 of
    content), conf (confidence in hundredths)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            """
            SELECT repo, path, lang, sha256(content) AS sha,
                   length(content) % 100 AS conf
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM read_parquet(?)
            ) WHERE rn = 1 AND op <> 'D'
            ORDER BY repo, path
            """,
            [event_files],
        ).fetchall()
    finally:
        con.close()
    return [
        {"repo": r, "path": p, "lang": lg, "sha": s, "conf": int(c)}
        for r, p, lg, s, c in rows
    ]


def state_mismatches(expected: list[dict], got: list[tuple[str, str, str]]) -> int:
    """Count keys whose content sha256 differs, plus missing and extra keys.
    ``got`` holds (repo, path, content_sha256) rows read from the lake."""
    exp = {(r["repo"], r["path"]): r["sha"] for r in expected}
    seen = {}
    bad = 0
    for repo, path, sha in got:
        if (repo, path) in seen:
            bad += 1  # duplicate live key
        seen[(repo, path)] = sha
    for k, sha in exp.items():
        if seen.get(k) != sha:
            bad += 1
    bad += sum(1 for k in seen if k not in exp)
    return bad


# -- SPARQL answers ------------------------------------------------------------


def answer(params: dict, state: list[dict]):
    """Canonical answer of one templated request (see gen.sparql_request)."""
    kind = params["kind"]
    if kind == "annot":
        return sorted(
            [file_iri(r["repo"], r["path"]), r["conf"]]
            for r in state
            if r["conf"] >= params["thr"] and r["lang"] == params["lang"]
        )
    if kind == "group":
        counts: dict[str, int] = {}
        for r in state:
            if r["repo"] == params["repo"] and r["lang"] != params["lang"]:
                counts[r["lang"]] = counts.get(r["lang"], 0) + 1
        return sorted([k, v] for k, v in counts.items())
    if kind == "optional":
        out = []
        for r in state:
            if r["repo"] == params["repo"] and r["path"].startswith(params["dir"] + "/"):
                c = r["conf"] if r["conf"] >= params["thr"] else None
                out.append([file_iri(r["repo"], r["path"]), c])
        return sorted(out, key=_nulls_first)
    if kind == "ask":
        return any(
            r["repo"] == params["repo"] and r["lang"] == params["lang"] for r in state
        )
    raise ValueError(kind)


def _nulls_first(row: list):
    return [(v is not None, v if v is not None else 0) for v in row]


def _hundredths(v: str) -> int:
    return int(Decimal(v) * 100)


def _value(b: dict, var: str):
    t = b.get(var)
    return None if t is None else t.get("value")


def canonical(kind: str, doc: dict):
    """Canonical answer from a SPARQL JSON results document; raises
    ValueError when the document does not have the template's shape."""
    if kind == "ask":
        if not isinstance(doc.get("boolean"), bool):
            raise ValueError("ASK result without a boolean")
        return doc["boolean"]
    bindings = doc.get("results", {}).get("bindings")
    if not isinstance(bindings, list):
        raise ValueError("SELECT result without bindings")
    if kind == "annot":
        return sorted(
            [_value(b, "s"), _hundredths(_value(b, "c"))] for b in bindings
        )
    if kind == "group":
        return sorted([_value(b, "lang"), int(_value(b, "n"))] for b in bindings)
    if kind == "optional":
        out = []
        for b in bindings:
            c = _value(b, "c")
            out.append([_value(b, "f"), None if c is None else _hundredths(c)])
        return sorted(out, key=_nulls_first)
    raise ValueError(kind)


def digest(canon) -> str:
    return hashlib.sha256(json.dumps(canon, sort_keys=True).encode()).hexdigest()


def count_answer(doc: dict) -> int:
    """The single ?n binding of a COUNT query."""
    return int(doc["results"]["bindings"][0]["n"]["value"])
