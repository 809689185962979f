"""Tracing for the traced pass: timing wrappers around the engine's entry
points, installed from the benchmark's own files.

Each span records its name, start, end, parent span and the request or
batch id it belongs to. Spans stay in memory until ``Tracer.dump``. Spark
is lazy, so a span is only placed around calls that run Spark actions
(or pure driver work); while a span is open, the thread's Spark local
property ``perfbench.span`` carries its id, so every Spark job the span
starts can be attributed to it from the event log.

Names are patched where their callers look them up:

* ``CdcEngine.apply_batch`` and the ``LakeTable`` methods on the classes;
* ``http_serving.register_views``, which http_serving binds at import;
* ``queries.sparql.parse_sparql`` / ``sparql_df`` / ``render_sparql_result``
  on their module, because ``QueryServer`` imports them at call time;
* ``QueryServer.sparql`` / ``load_graph_doc`` on the class, and per server
  the request handler's ``do_POST`` and the ``_view_lock``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import Counter

_tls = threading.local()


class Tracer:
    def __init__(self, first_id: int = 0) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()  # (counter, root ctx) → n
        self.samples: dict[str, list] = {}
        self._lock = threading.Lock()
        self._ids = first_id  # a second tracer in one session starts above the first
        self._undo: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext for job attribution

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(_tls, "stack", None)
        if st is None:
            st = _tls.stack = []
        return st

    def ctx(self) -> str | None:
        """The batch or request id of this thread's open root span."""
        st = self._stack()
        return st[0]["ctx"] if st else None

    def span(self, name: str, ctx: str | None = None, spark: bool = False):
        tracer = self

        class _Span:
            def __enter__(self_s):
                st = tracer._stack()
                with tracer._lock:
                    tracer._ids += 1
                    sid = tracer._ids
                parent = st[-1] if st else None
                rec = {
                    "id": sid,
                    "name": name,
                    "parent": parent["id"] if parent else None,
                    "ctx": ctx if ctx is not None else (parent["ctx"] if parent else None),
                    "thread": threading.get_ident(),
                }
                self_s.rec = rec
                self_s.prev = None
                if spark and tracer.sc is not None:
                    self_s.prev = tracer.sc.getLocalProperty("perfbench.span")
                    tracer.sc.setLocalProperty("perfbench.span", str(sid))
                st.append(rec)
                rec["start"] = time.perf_counter()
                return rec

            def __exit__(self_s, *exc):
                rec = self_s.rec
                rec["end"] = time.perf_counter()
                tracer._stack().pop()
                if spark and tracer.sc is not None:
                    tracer.sc.setLocalProperty("perfbench.span", self_s.prev)
                with tracer._lock:
                    tracer.spans.append(rec)
                return False

        return _Span()

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[(name, self.ctx())] += 1

    def sample(self, name: str, value) -> None:
        with self._lock:
            self.samples.setdefault(name, []).append(value)

    # -- patching --------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr: str, name: str, spark: bool = False,
             ctx_arg: int | None = None) -> None:
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                ctx = str(a[ctx_arg]) if ctx_arg is not None and len(a) > ctx_arg else None
                with tracer.span(name, ctx=ctx, spark=spark):
                    return orig(*a, **kw)

            return wrapper

        self._patch(owner, attr, make)

    def install(self, spark) -> None:
        """Patch every entry point the workloads go through."""
        from etl_pipeline_rdf_star_spark import http_serving
        from etl_pipeline_rdf_star_spark.queries import sparql
        from etl_pipeline_rdf_star_spark.storage.lake import LakeTable
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        self.sc = spark.sparkContext
        tracer = self
        self.wrap(CdcEngine, "apply_batch", "cdc.apply_batch", spark=True, ctx_arg=2)
        self.wrap(LakeTable, "merge_mor", "lake.merge_mor", spark=True)
        self.wrap(LakeTable, "append_rows", "lake.append_rows", spark=True)
        self.wrap(LakeTable, "compact", "lake.compact", spark=True)
        self.wrap(http_serving, "register_views", "serving.refresh", spark=True)
        self.wrap(sparql, "parse_sparql", "sparql.parse")
        self.wrap(sparql, "sparql_df", "sparql.plan", spark=True)
        self.wrap(sparql, "render_sparql_result", "serving.render", spark=True)
        self.wrap(http_serving.QueryServer, "load_graph_doc", "graph_store.load",
                  spark=True)

        def make_snapshot(orig):
            def snapshot(*a, **kw):
                tracer.count("lake.snapshot")
                return orig(*a, **kw)

            return snapshot

        self._patch(LakeTable, "snapshot", make_snapshot)

        def make_sparql(orig):
            def sparql_(srv, *a, **kw):
                if srv.engine.table.exists():
                    tracer.sample("lake.data_files_at_query",
                                  len(srv.engine.table.snapshot().files))
                with tracer.span("http.server", spark=True):
                    return orig(srv, *a, **kw)

            return sparql_

        self._patch(http_serving.QueryServer, "sparql", make_sparql)

    def attach_server(self, srv) -> None:
        """Per-server hooks: the request span (carrying the client's
        X-Bench-Id) and the wait for ``_view_lock``."""
        tracer = self
        handler = srv.server.RequestHandlerClass

        def make_post(orig):
            def do_POST(h):
                with tracer.span("http.request", ctx=h.headers.get("X-Bench-Id")):
                    return orig(h)

            return do_POST

        self._patch(handler, "do_POST", make_post)
        srv._view_lock = _TimedLock(srv._view_lock, self)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "counts": [[k[0], k[1], v] for k, v in self.counts.items()],
                       "samples": self.samples}, f)


class _TimedLock:
    """Stands in for ``QueryServer._view_lock``; the acquire is a span."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer

    def __enter__(self):
        with self._tracer.span("http.view_lock_wait"):
            self._lock.acquire()
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False


# -- analysis ------------------------------------------------------------------


def by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def children(spans: list[dict], parent: dict, name: str) -> list[dict]:
    return [s for s in spans if s["parent"] == parent["id"] and s["name"] == name]


def descendants_ids(spans: list[dict], roots: list[dict]) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [r["id"] for r in roots]
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(kids.get(i, []))
    return out


def read_event_log(paths: list[str]) -> tuple[dict, list[dict]]:
    """Spark event log → ({job_id: (span_id, [stage ids])}, task records).
    Task records carry stage, run/GC time (ms), shuffle and output bytes."""
    jobs: dict = {}
    tasks: list[dict] = []
    for p in paths:
        app_jobs: dict = {}
        for line in _event_lines(p):
            if '"SparkListenerJobStart"' in line:
                e = json.loads(line)
                span = (e.get("Properties") or {}).get("perfbench.span")
                app_jobs[e["Job ID"]] = (
                    int(span) if span else None, e["Stage IDs"])
            elif '"SparkListenerTaskEnd"' in line:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                tasks.append({
                    "app": p,
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "wall_ms": info["Finish Time"] - info["Launch Time"],
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "out_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                })
        for jid, v in app_jobs.items():
            jobs[(p, jid)] = v
    return jobs, tasks


def _event_lines(path: str):
    """Lines of one application's event log: a plain file, or (Spark 4's
    rolling layout) a directory of ``events_<n>_*`` parts."""
    if not os.path.isdir(path):
        parts = [path]
    else:
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        parts = [os.path.join(path, n) for n in names]
    for part in parts:
        with open(part) as f:
            yield from f
