"""The four workloads and the run that drives them.

Every workload has the same shape: ``prepare`` makes its inputs and
expected answers from the seed (no Spark, runs while the JVM starts),
``build`` makes state the set-ups share, ``setup`` is repeated
``SETUPS`` times and timed, ``warm`` runs a fixed amount of the measured
operation untimed (the JVM needs well over ten seconds of it before an
operation's latency settles), ``measure`` is the timed window and
``check`` compares the program's outputs with the oracle afterwards.

Each workload reports the same end-to-end slots (see README.md):
``op_p50_s`` for its primary operation and ``work_per_s`` for its
throughput; tails and secondary operations are in the detail line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.request

import numpy as np

import gen
import layers
import measure
import oracle

# Set-ups per run; setup_s is their median.
SETUPS = 3
# The warm-up is a fixed amount of work, so that every run opens its window
# at the same point of the JVM's warm-up; on a host slow enough to need more
# than this many seconds for it, it stops early to keep the run's length.
WARM_MAX_S = 20.0
# serve_read: the latency limit on the tail that defines goodput
SPARQL_LIMIT_S = 3.0


def _post(port: int, path: str, body: str | None = None) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=b"" if body is None else body.encode(),
        headers={"Content-Type": "application/sparql-query"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


class Bench:
    """One benchmark run: Spark session, counters, child processes."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.nproc = measure.nproc()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        self.traced = False
        self.servers: list = []
        self.procs: list[subprocess.Popen] = []

    # -- bookkeeping -----------------------------------------------------------

    def op(self, err: str | None) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(err)

    def start_spark(self, cores: int) -> None:
        from etl_pipeline_rdf_star_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=cores, shuffle_partitions=2 * self.nproc
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def server(self, engine, **kw):
        from etl_pipeline_rdf_star_spark.http_serving import QueryServer

        srv = QueryServer(self.spark, engine, **kw).start()
        self.servers.append(srv)
        if self.traced:
            self.tracer.attach_server(srv)
        return srv

    def stop_server(self, srv) -> None:
        self.stop_servers([srv])

    def stop_servers(self, servers: list) -> None:
        """Stop in parallel: each stop waits out its serve loop's 0.5 s poll."""
        threads = [threading.Thread(target=s.stop) for s in servers]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for srv in servers:
            self.servers.remove(srv)

    def loadgen(self, spec: dict, tag: str) -> tuple[subprocess.Popen, str]:
        """Start the load generator process on ``spec``."""
        spec_path = os.path.join(self.work, f"loadgen-{tag}.json")
        out_path = os.path.join(self.work, f"loadgen-{tag}.out.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        p = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             spec_path, out_path]
        )
        self.procs.append(p)
        return p, out_path

    def wait_loadgen(self, handle) -> list[dict]:
        p, out_path = handle
        p.wait(timeout=150)
        self.procs.remove(p)
        if p.returncode != 0:
            raise RuntimeError(f"load generator exited with {p.returncode}")
        with open(out_path) as f:
            return json.load(f)

    def close(self) -> None:
        for p in self.procs:
            p.kill()
            p.wait()
        self.stop_servers(list(self.servers))
        self.stop_spark(shutdown_jvm=True)

    def stop_spark(self, shutdown_jvm: bool = False) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if shutdown_jvm and gw is not None and gw.proc is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- the run ---------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        probe_before = measure.cpu_probe_s()
        wl = WORKLOADS[self.args.workload](self)
        prep_err: list[BaseException] = []

        def prep() -> None:
            try:
                wl.prepare()
            except BaseException as e:  # re-raised in the main thread
                prep_err.append(e)

        th = threading.Thread(target=prep)
        th.start()
        t0 = time.perf_counter()
        self.start_spark(self.nproc)
        spark_start_s = time.perf_counter() - t0
        th.join()
        if prep_err:
            raise prep_err[0]

        t0 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t0
        setups = [wl.setup(i) for i in range(SETUPS)]
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        detail = {
            "workload": self.args.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "host": measure.host_info(self.spark),
            "spark_start_s": spark_start_s,
            "build_s": build_s,
            "setup_runs_s": setups,
            "warm_s": warm_s,
        }
        if self.trace:
            metrics, units = self.traced_pass(wl), layers.LAYER_UNITS
        else:
            res = wl.measure(self.seconds, phase=0)
            wl.check()
            metrics, named = wl.end_to_end(res)
            metrics["setup_s"] = measure.p50(setups)
            named.update(setup_s=metrics["setup_s"],
                         peak_rss_mb=measure.peak_rss_mb(self.jvm_pid()),
                         failed_ratio=self.failed / max(1, self.attempted))
            detail["named"] = named
            units = layers.E2E_UNITS
        probe_after = measure.cpu_probe_s()
        if self.trace:
            metrics["host.cpu_probe_s"] = (probe_before + probe_after) / 2
        detail.update(
            cpu_probe_s=[probe_before, probe_after],
            attempted=self.attempted,
            failed=self.failed,
            errors=self.errors,
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }, detail

    def phases(self) -> list[float]:
        """Window lengths of the measured phases. The traced pass runs an
        untraced quarter, a traced half, an untraced quarter: comparing the
        half with both quarters cancels the drift a run still has after
        its set-ups."""
        q = self.seconds / 4
        return [q, 2 * q, q] if self.trace else [self.seconds]

    def traced_pass(self, wl) -> dict:
        """The three phases, then the per-layer metrics from spans and the
        event log; the tracing overhead compares the traced phase with the
        untraced ones."""
        import tracing

        lengths = self.phases()
        res0 = wl.measure(lengths[0], phase=0)
        self.tracer = tracing.Tracer()
        self.tracer.install(self.spark)
        self.traced = True
        for srv in self.servers:
            self.tracer.attach_server(srv)
        res1 = wl.measure(lengths[1], phase=1)
        self.tracer.uninstall()
        self.traced = False
        res2 = wl.measure(lengths[2], phase=2)
        wl.check()
        untraced = [res0, res2]
        extra = wl.after_trace(untraced)
        peak = measure.peak_rss_mb(self.jvm_pid())
        self.stop_spark()  # flushes the event log
        log_dir = os.path.join(self.work, "eventlog")
        jobs, tasks = tracing.read_event_log(
            [os.path.join(log_dir, n) for n in sorted(os.listdir(log_dir))])
        metrics = layers.per_layer(self, wl, self.tracer, jobs, tasks, untraced, res1, extra)
        metrics["host.peak_rss_mb"] = peak
        out = os.path.join(os.path.dirname(self.work), "traces")
        os.makedirs(out, exist_ok=True)
        self.tracer.dump(os.path.join(out, f"{self.args.workload}-seed{self.seed}.json"))
        return metrics


# -- workloads -----------------------------------------------------------------


class Workload:
    def __init__(self, bench: Bench):
        self.b = bench
        self.dir = bench.work

    def sized(self, n: float) -> int:
        return max(1, int(round(n * self.b.scale)))

    def warm(self) -> None:
        pass

    def after_trace(self, untraced: list[dict]) -> dict:
        return {}


class IngestBulk(Workload):
    """Closed-loop replay of the log as a few large MoR micro-batches, then
    compact(); repeated into fresh warehouses until the window ends."""

    N_FILES = 8000
    N_BATCHES = 3
    WARM_REPLAYS = 4

    def prepare(self) -> None:
        log = gen.event_log(self.b.seed, gen.LogSpec(n_files=self.sized(self.N_FILES)))
        self.n_events = log.num_rows
        self.paths = gen.write_batches(log, f"{self.dir}/events", self.N_BATCHES)
        self.expected = oracle.final_state(self.paths)

    def engine(self, name: str):
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        return CdcEngine(self.b.spark, f"{self.dir}/{name}",
                         n_buckets=2 * self.b.nproc, mode="mor")

    def build(self) -> None:
        self.frames = [self.b.spark.read.parquet(p) for p in self.paths]

    def setup(self, i: int) -> float:
        """Engine construction plus the table's first commit (one full
        micro-batch, which also warms the path the window measures)."""
        t0 = time.perf_counter()
        eng = self.engine(f"setup{i}")
        eng.apply_batch(self.frames[i % len(self.frames)], "setup")
        dt = time.perf_counter() - t0
        shutil.rmtree(f"{self.dir}/setup{i}", ignore_errors=True)
        return dt

    def replay(self, name: str) -> dict:
        eng = self.engine(name)
        lat = []
        for i, df in enumerate(self.frames):
            t0 = time.perf_counter()
            eng.apply_batch(df, f"b{i:05d}")
            lat.append(time.perf_counter() - t0)
            self.b.op(None)
        t0 = time.perf_counter()
        eng.compact()
        comp = time.perf_counter() - t0
        return {"engine": eng, "name": name, "lat": lat, "compact": comp}

    def warm(self) -> None:
        t_end = time.perf_counter() + WARM_MAX_S
        for i in range(self.sized(self.WARM_REPLAYS)):
            if time.perf_counter() > t_end:
                break
            self.replay(f"warm{i}")
            shutil.rmtree(f"{self.dir}/warm{i}", ignore_errors=True)

    def measure(self, seconds: float, phase: int) -> dict:
        reps = []
        t0 = time.perf_counter()
        t_end = t0 + seconds
        while not reps or time.perf_counter() < t_end:
            r = self.replay(f"lake-p{phase}-r{len(reps)}")
            if reps:
                shutil.rmtree(f"{self.dir}/{reps[-1]['name']}", ignore_errors=True)
            reps.append(r)
        self.last = reps[-1]
        busy = sum(sum(r["lat"]) + r["compact"] for r in reps)
        return {
            "op": [x for r in reps for x in r["lat"]],
            "compact": [r["compact"] for r in reps],
            "work": self.n_events * len(reps) / busy,
            "ingest_events_per_s": self.n_events * len(reps)
            / sum(sum(r["lat"]) for r in reps),
            "commit_s": sum(sum(r["lat"]) for r in reps),
            "replays": len(reps),
            "events": self.n_events * len(reps),
            "wall": time.perf_counter() - t0,
        }

    def check(self) -> None:
        eng = self.last["engine"]
        got = [tuple(r) for r in
               eng.live_rows().select("repo", "path", "content_sha256").collect()]
        bad = oracle.state_mismatches(self.expected, got)
        self.b.op(None if bad == 0 else f"ingest: {bad} keys differ from the oracle")

    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        tail, pct, n = measure.tail(res["op"])
        m = {
            "op_p50_s": measure.p50(res["op"]),
            "work_per_s": res["work"],
        }
        named = {
            "ingest_events_per_s": res["ingest_events_per_s"],
            "ingest_with_compact_events_per_s": res["work"],
            "compact_s": measure.p50(res["compact"]),
            "batch_p50_s": m["op_p50_s"],
            "batch_tail_s": {"value": tail, "pct": pct, "n": n},
            "replays": res["replays"],
            "events_per_replay": self.n_events,
        }
        return m, named

    def after_trace(self, untraced: list[dict]) -> dict:
        """The same log on local[1] in its own session, for the scaling
        efficiency against the untraced phases."""
        self.b.stop_spark()
        self.b.start_spark(1)
        self.build()
        self.setup(SETUPS)  # warm the new session's first commit
        r = self.replay("lake-local1")
        one = self.n_events / sum(r["lat"])
        many = sum(r["events"] for r in untraced) / sum(r["commit_s"] for r in untraced)
        return {"ingest_scaling_eff": many / (self.b.nproc * one),
                "local1_events_per_s": one}


class _Serving(Workload):
    """Shared parts of the two SPARQL workloads: a compacted lake built once
    from the base log, a QueryServer per set-up, the load generator."""

    def build_lake(self, base_paths: list[str], auto_compact: int | None) -> None:
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        self.engine = CdcEngine(self.b.spark, f"{self.dir}/lake",
                                n_buckets=2 * self.b.nproc, mode="mor",
                                auto_compact_deltas=auto_compact)
        for i, p in enumerate(base_paths):
            self.engine.apply_batch(self.b.spark.read.parquet(p), f"base{i:05d}")
        self.engine.compact()
        self.srv = None

    def setup(self, i: int) -> float:
        """QueryServer construction and start, then its first answer."""
        if self.srv is not None:
            self.b.stop_server(self.srv)
        t0 = time.perf_counter()
        self.srv = self.b.server(self.engine)
        text, params = self.hot[i % len(self.hot)]
        doc = _post(self.srv.port, "/sparql", text)
        dt = time.perf_counter() - t0
        try:  # shape only: the mixed workload's lake is not final yet
            oracle.canonical(params["kind"], doc)
            self.b.op(None)
        except (ValueError, KeyError, TypeError) as e:
            self.b.op(f"setup answer: {e!r}")
        return dt

    def requests(self, phase: int, n: int, seconds: float | None,
                 expect: bool) -> list[dict]:
        """``n`` requests; with ``seconds``, at uniform random times in the
        window (a Poisson stream conditioned on its count)."""
        rng = np.random.default_rng([self.b.seed, 17, phase])
        times = np.sort(rng.uniform(0, seconds or 0, n))
        mix = gen.request_mix(self.b.seed, n, self.n_repos, phase=phase)
        ops = []
        for i, ((text, params), t) in enumerate(zip(mix, times)):
            op = {"id": f"p{phase}-q{i}", "due": float(t), "port": self.srv.port,
                  "path": "/sparql", "body": text, "kind": params["kind"],
                  "hot": text in self.hot_texts}
            if expect:
                op["expect"] = self.digest(params)
            ops.append(op)
        return ops

    def digest(self, params: dict) -> str:
        key = json.dumps(params, sort_keys=True)
        if key not in self._digests:
            self._digests[key] = oracle.digest(oracle.answer(params, self.state))
        return self._digests[key]

    def tally(self, ops: list[dict], recs: list[dict]) -> list[dict]:
        """Latency from due time, lateness, and one counted op per record."""
        hot = {o["id"]: o["hot"] for o in ops}
        for r in recs:
            r["lat"] = r["done"] - r["due"]
            r["late"] = r["sent"] - r["due"] if "sent" in r else None
            r["hot"] = hot[r["id"]]
            self.b.op(None if r["err"] is None else f"{r['id']}: {r['err']}")
        return recs

    @staticmethod
    def sparql_named(recs: list[dict]) -> dict:
        lat = [r["lat"] for r in recs]
        tail, pct, n = measure.tail(lat)
        late = [r["late"] for r in recs if r["late"] is not None]
        return {
            "sparql_p50_s": measure.p50(lat),
            "sparql_tail_s": {"value": tail, "pct": pct, "n": n},
            "generator_late_s": {"p50": measure.p50(late), "max": max(late, default=0.0)},
            "requests": len(recs),
            "requests_ok": sum(r["err"] is None for r in recs),
            "repeat_p50_s": measure.p50([r["lat"] for r in recs if r["hot"]]),
            "fresh_text_p50_s": measure.p50([r["lat"] for r in recs if not r["hot"]]),
        }


class ServeRead(_Serving):
    """One closed-loop SPARQL-star client against a compacted lake.

    A closed loop, not the open loop of fixed rates a serving benchmark
    would use: one request takes about a second here and concurrent
    requests slow each other, so a Poisson stream that leaves any headroom
    brings fewer than ten requests into a window and a faster one builds a
    backlog that decides the latencies. One client sending back to back
    measures each request's own latency with the most samples per window.
    """

    N_FILES = 2000
    MAX_QPS = 20  # requests prepared per second of window: far above today's ~1
    WARM_REQUESTS = 36
    WARM_PHASE = 3  # request-mix phase of the warm-up (the windows use 0-2)
    GRAPH_S = 6.0  # traced pass: the graph-load stage's window

    def prepare(self) -> None:
        spec = gen.LogSpec(n_files=self.sized(self.N_FILES))
        self.n_repos = spec.n_repos
        log = gen.event_log(self.b.seed, spec)
        self.base = gen.write_batches(log, f"{self.dir}/events", 1)
        self.state = oracle.final_state(self.base)
        self._digests: dict = {}
        self.hot = gen.hot_set(self.b.seed, self.n_repos)
        self.hot_texts = {t for t, _ in self.hot}
        for _t, p in self.hot:
            self.digest(p)

    def build(self) -> None:
        self.build_lake(self.base, None)

    def client(self, phase: int, n: int, deadline: float) -> tuple[float, list[dict]]:
        """One client sends ``n`` requests back to back, none after
        ``deadline``; every answer is checked against the oracle."""
        ops = self.requests(phase, n, None, expect=True)
        start = time.time() + 0.3
        h = self.b.loadgen({"mode": "closed", "threads": 1, "deadline": deadline,
                            "start_epoch": start, "groups": [[o] for o in ops]},
                           f"p{phase}")
        return start, self.tally(ops, self.b.wait_loadgen(h))

    def warm(self) -> None:
        self.client(self.WARM_PHASE, self.sized(self.WARM_REQUESTS), WARM_MAX_S)

    def measure(self, seconds: float, phase: int) -> dict:
        start, recs = self.client(phase, int(self.MAX_QPS * seconds) + 8, seconds)
        ok = [r for r in recs if r["err"] is None]
        span = max(r["done"] for r in recs) - start
        return {"recs": recs, "start": start, "wall": span,
                "op": [r["lat"] for r in recs],
                "work": len(ok) / span}

    def check(self) -> None:
        pass  # every response was checked against the oracle in flight

    def after_trace(self, untraced: list[dict]) -> dict:
        """QueryServer's graph-load endpoint, traced in a stage of its own
        after the serving phases: graph_load's set-up, then its closed loop
        of Turtle-star loads and counts under a second tracer (so no serving
        metric sees those spans or their Spark jobs), then the isolated
        parse of every loaded file. This gives the sinks.turtle and graph
        store metrics to a benchmark that runs no graph_load window."""
        import tracing

        g = GraphLoad(self.b)
        g.N_FILES = 6
        g.prepare()
        g.build()
        g.setup(0)  # the first load of a session is several times slower
        gt = tracing.Tracer(first_id=10**9)
        gt.install(self.b.spark)
        main, self.b.tracer, self.b.traced = self.b.tracer, gt, True
        try:
            g.measure(self.GRAPH_S, phase=1)
        finally:
            gt.uninstall()
            self.b.tracer, self.b.traced = main, False
        extra = g.after_trace([])
        extra["graph"] = (gt.spans, g)
        return extra

    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        named = self.sparql_named(res["recs"])
        m = {
            "op_p50_s": named["sparql_p50_s"],
            "work_per_s": res["work"],
        }
        good = sum(r["err"] is None and r["lat"] <= SPARQL_LIMIT_S for r in res["recs"])
        named.update(
            answered_per_s=res["work"],
            sparql_latency_limit_s=SPARQL_LIMIT_S,
            sparql_goodput_qps=good / res["wall"],
        )
        return m, named


class IngestServeMixed(_Serving):
    """Small MoR micro-batches due on a fixed schedule (auto-compaction on,
    as in cdc_submit.py) while clients send SPARQL at a fixed rate."""

    N_FILES = 3000
    INTERVAL_S = 1.25
    BATCH_EVENTS = 400
    RATE = 0.8
    AUTO_COMPACT = 4

    def prepare(self) -> None:
        spec = gen.LogSpec(n_files=self.sized(self.N_FILES))
        self.n_repos = spec.n_repos
        log = gen.event_log(self.b.seed, spec)
        n_b = sum(self.batches_for(t) for t in self.b.phases())
        per = self.sized(self.BATCH_EVENTS)
        tail_rows = min(n_b * per, log.num_rows // 2)
        split = log.num_rows - tail_rows
        self.base = gen.write_batches(log, f"{self.dir}/base", 1, 0, split)
        self.tail = gen.write_batches(log, f"{self.dir}/tail", n_b, split)
        self.batch_rows = [
            int(x) for x in np.diff(np.linspace(split, log.num_rows, n_b + 1).astype(int))
        ]
        self.next_batch = 0
        self.state = oracle.final_state(self.base + self.tail)
        self._digests: dict = {}
        self.hot = gen.hot_set(self.b.seed, self.n_repos)
        self.hot_texts = {t for t, _ in self.hot}

    def batches_for(self, seconds: float) -> int:
        return max(1, int(seconds // self.INTERVAL_S))

    def build(self) -> None:
        self.build_lake(self.base, self.AUTO_COMPACT)
        self.frames = [self.b.spark.read.parquet(p) for p in self.tail]

    def measure(self, seconds: float, phase: int) -> dict:
        n = max(1, int(round(self.RATE * seconds)))
        ops = self.requests(phase, n, seconds, expect=False)
        n_b = self.batches_for(seconds)

        def writer(start: float) -> list[dict]:
            out = []
            for k in range(n_b):
                i = self.next_batch
                due = start + k * self.INTERVAL_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                err = None
                try:
                    self.engine.apply_batch(self.frames[i], f"tail{i:05d}")
                except Exception as e:
                    err = f"batch {i}: {e!r}"
                done = time.time()
                self.b.op(err)
                out.append({"fresh": done - due, "events": self.batch_rows[i],
                            "done": done})
                self.next_batch += 1
            return out

        start = time.time() + 0.3
        h = self.b.loadgen({"mode": "open", "threads": self.b.nproc,
                            "start_epoch": start, "ops": ops}, f"p{phase}")
        wres = writer(start)
        recs = self.tally(ops, self.b.wait_loadgen(h))
        events = sum(w["events"] for w in wres)
        span = max(w["done"] for w in wres) - start
        wall = max([span] + [r["done"] - start for r in recs])
        return {"recs": recs, "start": start, "writes": wres, "wall": wall,
                "op": [r["lat"] for r in recs],
                "fresh": [w["fresh"] for w in wres],
                "work": events / span, "events": events}

    def check(self) -> None:
        """After the writer drained: the lake equals the oracle's final state
        and every hot-set text plus a few fresh ones answer exactly."""
        got = [tuple(r) for r in self.engine.live_rows()
               .select("repo", "path", "content_sha256").collect()]
        bad = oracle.state_mismatches(self.state, got)
        self.b.op(None if bad == 0 else f"mixed: {bad} keys differ from the oracle")
        rng = np.random.default_rng([self.b.seed, 9])
        final = self.hot + [gen.sparql_request(k, rng, self.n_repos) for k in gen.KINDS]
        for text, params in final:
            try:
                doc = _post(self.srv.port, "/sparql", text)
                ok = oracle.digest(oracle.canonical(params["kind"], doc)) == self.digest(params)
                self.b.op(None if ok else f"final answer differs: {params}")
            except Exception as e:
                self.b.op(f"final query failed: {e!r}")

    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        named = self.sparql_named(res["recs"])
        fresh = res["fresh"]
        ftail, fpct, fn = measure.tail(fresh)
        m = {
            "op_p50_s": named["sparql_p50_s"],
            "work_per_s": res["work"],
        }
        comp = [b for b in self.engine.table.snapshot().committed_batches
                if b.startswith("compact-")]
        named.update(
            fresh_p50_s=measure.p50(fresh),
            fresh_tail_s={"value": ftail, "pct": fpct, "n": fn},
            committed_events_per_s=res["work"],
            batches=len(res["writes"]),
            compactions=len(comp),
        )
        return m, named


class GraphLoad(Workload):
    """One closed-loop client POSTs /api/graphs/load for seeded Turtle-star
    files, each into its own named graph, then counts that graph. Every
    store takes the same three loads in turn, so each run holds whole
    stores and the same mix of store sizes."""

    SUBJECTS = 300
    LOADS_PER_STORE = 3
    N_FILES = 40
    WARM_S = 10.0
    WARM_PHASE = 3  # the traced pass's phases are 0-2

    def prepare(self) -> None:
        self.input_dir = f"{self.dir}/ttl"
        os.makedirs(self.input_dir)
        self.files = []
        for i in range(self.N_FILES + SETUPS + 1):
            text, quads, asserted = gen.turtle_file(self.b.seed, i, self.sized(self.SUBJECTS))
            name = f"f{i:03d}.ttl"
            with open(os.path.join(self.input_dir, name), "w") as f:
                f.write(text)
            self.files.append((name, quads, asserted))
        self.setup_files = self.files[self.N_FILES:]
        self.files = self.files[: self.N_FILES]

    def build(self) -> None:
        from etl_pipeline_rdf_star_spark.streaming.cdc import CdcEngine

        # no CDC table: the server answers over loaded graphs only
        self.engine = CdcEngine(self.b.spark, f"{self.dir}/no-lake", mode="mor")
        self.loaded: list[dict] = []

    def server(self, store: str):
        return self.b.server(self.engine, input_dir=self.input_dir,
                             graph_store=f"{self.dir}/{store}")

    @staticmethod
    def graph_uri(tag: str) -> str:
        return f"http://example.org/graph/bench/{tag}"

    @staticmethod
    def count_text(g: str) -> str:
        return f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{g}> {{ ?s ?p ?o }} }}"

    def setup(self, i: int) -> float:
        """QueryServer start on an empty store, then its first load."""
        name, quads, asserted = self.setup_files[i]
        t0 = time.perf_counter()
        srv = self.server(f"store-setup{i}")
        g = self.graph_uri(f"setup{i}")
        doc = _post(srv.port, f"/api/graphs/load?file={name}&graph={g}")
        dt = time.perf_counter() - t0
        n = oracle.count_answer(_post(srv.port, "/sparql", self.count_text(g)))
        self.b.op(None if doc.get("tripleCount") == quads and n == asserted
                  else f"setup load {name}: {doc.get('tripleCount')}/{n}")
        self.b.stop_server(srv)
        return dt

    def warm(self) -> None:
        self.measure(self.WARM_S, phase=self.WARM_PHASE)

    def measure(self, seconds: float, phase: int) -> dict:
        # a store takes well over a second: one per window second is ample
        servers = [self.server(f"store-p{phase}-{c}") for c in range(int(seconds) + 2)]
        groups, meta = [], {}
        for c, srv in enumerate(servers):
            group = []
            for j in range(self.LOADS_PER_STORE):
                name, quads, asserted = self.files[
                    (c * self.LOADS_PER_STORE + j) % len(self.files)]
                tag = f"p{phase}-c{c}-{j}"
                g = self.graph_uri(tag)
                meta[f"load-{tag}"] = (name, quads, g, srv, j)
                group += [
                    {"id": f"load-{tag}", "port": srv.port, "kind": "load",
                     "path": f"/api/graphs/load?file={name}&graph={g}",
                     "expect_triples": quads},
                    {"id": f"count-{tag}", "port": srv.port, "kind": "count",
                     "path": "/sparql", "body": self.count_text(g),
                     "expect_count": asserted},
                ]
            groups.append(group)
        start = time.time() + 0.3
        h = self.b.loadgen({"mode": "closed", "threads": 1, "deadline": seconds,
                            "start_epoch": start, "groups": groups}, f"p{phase}")
        recs = self.b.wait_loadgen(h)
        loads, counts, quads = [], [], 0
        for r in recs:
            r["lat"] = r["done"] - r["sent"]
            self.b.op(None if r["err"] is None else f"{r['id']}: {r['err']}")
            if r["kind"] == "load":
                loads.append(r["lat"])
                name, q, g, srv, j = meta[r["id"]]
                quads += q
                self.loaded.append({"id": r["id"], "file": name, "quads": q, "graph": g,
                                    "store": srv.graph_store, "version": j + 1,
                                    "lat": r["lat"], "phase": phase})
            else:
                counts.append(r["lat"])
        self.b.stop_servers(servers)
        return {"op": loads, "counts": counts, "work": quads / sum(loads), "recs": recs,
                "loads": len(loads), "wall": max(r["done"] for r in recs) - start}

    def check(self) -> None:
        pass  # every load and count was checked in flight

    def end_to_end(self, res: dict) -> tuple[dict, dict]:
        tail, pct, n = measure.tail(res["op"])
        m = {
            "op_p50_s": measure.p50(res["op"]),
            "work_per_s": res["work"],
        }
        return m, {
            "load_quads_per_s": res["work"],
            "load_p50_s": m["op_p50_s"],
            "load_tail_s": {"value": tail, "pct": pct, "n": n},
            "count_p50_s": measure.p50(res["counts"]),
            "loads": res["loads"],
        }

    def after_trace(self, untraced: list[dict]) -> dict:
        """Isolated parse of every file loaded in the traced phase."""
        from etl_pipeline_rdf_star_spark.sinks.turtle import read_turtle

        parse = {}
        for ld in self.loaded:
            if ld["phase"] != 1 or ld["file"] in parse:
                continue
            t0 = time.perf_counter()
            read_turtle(self.b.spark, os.path.join(self.input_dir, ld["file"])).count()
            parse[ld["file"]] = time.perf_counter() - t0
        return {"parse_s": parse}


WORKLOADS = {
    "ingest_bulk": IngestBulk,
    "serve_read": ServeRead,
    "ingest_serve_mixed": IngestServeMixed,
    "graph_load": GraphLoad,
}
