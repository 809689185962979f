"""Seeded input generator. Imports nothing from the engine.

Everything the engine sees is made here from the seed: CDC event parquet
files, Turtle-star files and SPARQL request texts with their send times.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = [
    "python", "java", "go", "rust", "javascript", "c", "cpp", "ruby",
    "scala", "kotlin", "haskell", "shell",
]
DIRS = [f"d{i}" for i in range(8)]
EX = "http://example.org/"

EVENT_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("event_ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class LogSpec:
    n_files: int
    n_repos: int = 24
    hot_share: float = 0.2  # share of keys in repo_00
    content_min: int = 600
    content_max: int = 2400
    delete_p: float = 0.12  # a file's last event is a delete
    reinsert_p: float = 0.3  # ... and of those, re-inserted afterwards


def _text_pool(rng: np.random.Generator, size: int = 1 << 18) -> str:
    alphabet = np.frombuffer(
        b"abcdefghijklmnopqrstuvwxyz      \n_=()[]{}:;.,0123456789", dtype=np.uint8
    )
    return rng.choice(alphabet, size=size).tobytes().decode("ascii")


def event_log(seed: int, spec: LogSpec) -> pa.Table:
    """One CDC log over ``spec.n_files`` keys, ~3 versions per key.

    Per key: an insert, one to three updates, sometimes a final delete
    (sometimes followed by a re-insert). Events of different keys are
    interleaved at random; ``seq`` is the global order."""
    rng = np.random.default_rng(seed)
    pool = _text_pool(rng)
    hot = rng.random(spec.n_files) < spec.hot_share
    repo_ix = np.where(hot, 0, rng.integers(1, spec.n_repos, spec.n_files))
    n_upd = rng.integers(1, 4, spec.n_files)  # 1..3 updates → ~3 versions
    dele = rng.random(spec.n_files) < spec.delete_p
    reins = dele & (rng.random(spec.n_files) < spec.reinsert_p)

    keys, ops = [], []
    for i in range(spec.n_files):
        seq_ops = ["I"] + ["U"] * int(n_upd[i])
        if dele[i]:
            seq_ops.append("D")
            if reins[i]:
                seq_ops.append("I")
        keys.extend([i] * len(seq_ops))
        ops.extend(seq_ops)
    keys = np.asarray(keys)
    n = len(keys)
    # interleave: a random global position per event; each key's ops keep
    # their order by taking that key's draws in ascending order
    draws = rng.random(n)
    order_in_key = np.lexsort((draws, keys))
    # keys are grouped ascending, so a key's k-th op gets its k-th
    # smallest draw
    pos = draws[order_in_key]
    glob = np.argsort(pos, kind="stable")
    seq = np.empty(n, dtype=np.int64)
    seq[glob] = np.arange(n, dtype=np.int64)

    lang0 = rng.integers(0, len(LANGS), spec.n_files)
    lang_flip = rng.random(n) < 0.2
    lang_new = rng.integers(0, len(LANGS), n)
    lens = rng.integers(spec.content_min, spec.content_max + 1, n)
    offs = rng.integers(0, len(pool) - spec.content_max, n)
    commits = rng.integers(0, 1 << 62, n)
    dir_ix = rng.integers(0, len(DIRS), spec.n_files)

    repo_s, path_s, commit_s, lang_s, content_s = [], [], [], [], []
    cur_lang = lang0.copy()
    for j in range(n):
        k = int(keys[j])
        if lang_flip[j] and ops[j] != "I":
            cur_lang[k] = lang_new[j]
        repo = f"repo_{int(repo_ix[k]):02d}"
        path = f"{DIRS[dir_ix[k]]}/f{k:06d}.src"
        commit = f"{int(commits[j]):016x}"
        o = int(offs[j])
        body = pool[o : o + int(lens[j])]
        repo_s.append(repo)
        path_s.append(path)
        commit_s.append(commit)
        lang_s.append(LANGS[cur_lang[k]])
        content_s.append(f"# {repo}/{path} {commit}\n{body}")
    base_us = 1_700_000_000_000_000
    tbl = pa.table(
        {
            "seq": pa.array(seq, pa.int64()),
            "op": pa.array(ops, pa.string()),
            "repo": pa.array(repo_s, pa.string()),
            "path": pa.array(path_s, pa.string()),
            "commit": pa.array(commit_s, pa.string()),
            "lang": pa.array(lang_s, pa.string()),
            "content": pa.array(content_s, pa.string()),
            "event_ts": pa.array(base_us + seq * 1000, pa.timestamp("us", tz="UTC")),
        },
        schema=EVENT_SCHEMA,
    )
    return tbl.sort_by("seq")


def write_batches(tbl: pa.Table, out_dir: str, n_batches: int, start: int = 0,
                  stop: int | None = None) -> list[str]:
    """Split rows ``[start, stop)`` of a seq-sorted log into ``n_batches``
    contiguous seq ranges, one parquet file each; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    stop = tbl.num_rows if stop is None else stop
    edges = np.linspace(start, stop, n_batches + 1).astype(int)
    paths = []
    for b in range(n_batches):
        p = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        pq.write_table(tbl.slice(edges[b], edges[b + 1] - edges[b]), p)
        paths.append(p)
    return paths


# -- SPARQL request texts ------------------------------------------------------

_PROLOGUE = (
    "PREFIX ex: <http://example.org/>\n"
    "PREFIX dct: <http://purl.org/dc/terms/>\n"
)


def sparql_request(kind: str, rng: np.random.Generator, n_repos: int) -> tuple[str, dict]:
    """One SPARQL-star request text of a template with seeded constants.
    Returns (text, params); the oracle answers from the params."""
    repo = f"repo_{int(rng.integers(0, n_repos)):02d}"
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    if kind == "annot":
        thr = int(rng.integers(90, 100))
        text = (
            f"{_PROLOGUE}SELECT ?s ?c WHERE {{\n"
            f"  << ?s ex:lang ?lang >> ex:confidence ?c .\n"
            f"  FILTER(?c >= 0.{thr} && ?lang = \"{lang}\")\n}}"
        )
        return text, {"kind": kind, "thr": thr, "lang": lang}
    if kind == "group":
        text = (
            f"{_PROLOGUE}SELECT ?lang (COUNT(?f) AS ?n) WHERE {{\n"
            f"  ?f ex:repo <{EX}repo/{repo}> .\n"
            f"  ?f ex:lang ?lang .\n"
            f"  FILTER(?lang != \"{lang}\")\n}} GROUP BY ?lang"
        )
        return text, {"kind": kind, "repo": repo, "lang": lang}
    if kind == "optional":
        d = DIRS[int(rng.integers(0, len(DIRS)))]
        thr = int(rng.integers(50, 100))
        text = (
            f"{_PROLOGUE}SELECT ?f ?c WHERE {{\n"
            f"  ?f ex:repo <{EX}repo/{repo}> ; dct:identifier ?id .\n"
            f"  FILTER(STRSTARTS(?id, \"{d}/\"))\n"
            f"  OPTIONAL {{ << ?f ex:lang ?l >> ex:confidence ?c . "
            f"FILTER(?c >= 0.{thr}) }}\n}}"
        )
        return text, {"kind": kind, "repo": repo, "dir": d, "thr": thr}
    if kind == "ask":
        text = (
            f"{_PROLOGUE}ASK {{ ?f ex:repo <{EX}repo/{repo}> ; "
            f"ex:lang \"{lang}\" }}"
        )
        return text, {"kind": kind, "repo": repo, "lang": lang}
    raise ValueError(kind)


KINDS = ["annot", "group", "optional", "ask"]


def hot_set(seed: int, n_repos: int) -> list[tuple[str, dict]]:
    """The small set of texts that repeat exactly: one per template."""
    rng = np.random.default_rng([seed, 5])
    return [sparql_request(kind, rng, n_repos) for kind in KINDS]


def request_mix(seed: int, n: int, n_repos: int, phase: int = 0) -> list[tuple[str, dict]]:
    """``n`` requests in seeded order, built in blocks that hold every
    template three times: twice as an exact repeat of its hot-set text,
    once as a fresh text (constants drawn anew). Any prefix of whole blocks
    has the same composition, so a run's mix does not vary with the seed or
    with how many requests a closed loop gets through."""
    hot = hot_set(seed, n_repos)
    rng = np.random.default_rng([seed, 7, phase])
    out: list[tuple[str, dict]] = []
    while len(out) < n:
        block = hot + hot + [sparql_request(k, rng, n_repos) for k in KINDS]
        out.extend(block[int(j)] for j in rng.permutation(len(block)))
    return out[:n]


# -- Turtle-star files ---------------------------------------------------------


def turtle_file(seed: int, idx: int, n_subjects: int) -> tuple[str, int, int]:
    """A Turtle-star document. Returns (text, quads, asserted_triples):
    ``quads`` counts every statement the file carries (annotations of
    quoted triples included); ``asserted_triples`` excludes those."""
    rng = np.random.default_rng([seed, 13, idx])
    lines = [
        "@prefix ex: <http://example.org/> .",
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .",
        "@prefix prov: <http://www.w3.org/ns/prov#> .",
        "",
    ]
    quads = asserted = 0
    for s in range(n_subjects):
        subj = f"ex:item_{idx}_{s}"
        n_tags = int(rng.integers(1, 4))
        tags = ", ".join(
            f"ex:tag{int(t)}" for t in rng.choice(50, n_tags, replace=False)
        )
        label = f"item {s} of file {idx}"
        lang = ("en", "de", "fr")[int(rng.integers(0, 3))]
        score = float(rng.integers(0, 10_000)) / 100
        lines.append(
            f"{subj} a ex:Item ;\n"
            f"    rdfs:label \"{label}\"@{lang} ;\n"
            f"    ex:score \"{score:.2f}\"^^xsd:decimal ;\n"
            f"    ex:rank {int(rng.integers(0, 1000))} ;\n"
            f"    ex:tagged {tags} ."
        )
        asserted += 4 + n_tags
        if rng.random() < 0.5:
            lines.append(
                f"<< {subj} ex:rank {int(rng.integers(0, 1000))} >> "
                f"prov:wasDerivedFrom ex:source_{int(rng.integers(0, 20))} ;\n"
                f"    ex:confidence \"0.{int(rng.integers(10, 99))}\"^^xsd:decimal ."
            )
            quads += 2
    quads += asserted
    return "\n".join(lines) + "\n", quads, asserted
