"""Smoke tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs end to end at a tiny size; a planted wrong expected
answer must make the run fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import loadgen  # noqa: E402
import oracle  # noqa: E402

TINY = ["--seed", "3", "--seconds", "3", "--scale", "0.1"]


def _run(workload: str, *extra: str, prelude: str = "") -> tuple[int, dict | None]:
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); {prelude}\n"
        "import run; sys.exit(run.main())"
    )
    p = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, *TINY, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return p.returncode, res


@pytest.mark.parametrize(
    "workload", ["ingest_bulk", "serve_read", "ingest_serve_mixed", "graph_load"]
)
def test_workload_runs_and_is_correct(workload):
    rc, res = _run(workload, "--trace", "0")
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(layers.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest_bulk", "serve_read", "graph_load"])
def test_traced_run_reports_every_layer_metric(workload):
    rc, res = _run(workload, "--trace", "1")
    assert rc == 0 and res["correct"]
    assert set(res["metrics"]) == set(layers.LAYER_UNITS)
    assert res["metrics"]["tracing.overhead_ratio"]["value"] > 0
    if workload == "serve_read":  # its graph-load stage
        assert res["metrics"]["graph_store.write_s.p50"]["value"] > 0
        assert res["metrics"]["turtle.parse_quads_per_s"]["value"] > 0
        assert res["metrics"]["spark.write_task_skew"]["value"] == 0  # kept apart


def test_planted_wrong_answer_fails_the_run():
    plant = (
        "import oracle; _a = oracle.answer\n"
        "oracle.answer = lambda p, s: (not _a(p, s)) if p['kind'] == 'ask' "
        "else _a(p, s)[1:] + [['planted', 1]]"
    )
    rc, res = _run("serve_read", "--trace", "0", prelude=plant)
    assert rc != 0 and res is not None
    assert not res["correct"] and res["failed"] > 0


def test_state_check_counts_a_wrong_row():
    expected = [{"repo": "r", "path": "a", "sha": "1"}, {"repo": "r", "path": "b", "sha": "2"}]
    assert oracle.state_mismatches(expected, [("r", "a", "1"), ("r", "b", "2")]) == 0
    assert oracle.state_mismatches(expected, [("r", "a", "1"), ("r", "b", "x")]) == 1
    assert oracle.state_mismatches(expected, [("r", "a", "1")]) == 1


def test_response_check_rejects_a_wrong_digest():
    doc = {"head": {"vars": ["lang", "n"]},
           "results": {"bindings": [{"lang": {"value": "go"}, "n": {"value": "3"}}]}}
    body = json.dumps(doc).encode()
    right = oracle.digest([["go", 3]])
    assert loadgen._check({"kind": "group", "expect": right}, 200, body) is None
    assert loadgen._check({"kind": "group", "expect": oracle.digest([])}, 200, body)
    assert loadgen._check({"kind": "group", "expect": right}, 500, body)


def test_fails_without_the_engine():
    """A directory with only BENCHMARK.json and perfbench/ in it."""
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "serve_read", *TINY],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
