"""Metric names and units, and the per-layer metrics of a traced run.

Every per-layer metric is reported on every workload; a layer the workload
does not exercise reads 0 (its spans and jobs are absent).
"""

from __future__ import annotations

import os
import statistics

import tracing as tr
from measure import dir_bytes, p50

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
}

LAYER_UNITS = {
    "cdc.apply_batch_s.p50": "s",
    "cdc.batch_overhead_s.p50": "s",
    "cdc.spark_jobs_per_batch": "count",
    "lake.merge_mor_s.p50": "s",
    "lake.bytes_written_per_event": "B",
    "lake.append_rows_s.per_batch": "s",
    "lake.snapshot_calls_per_batch": "count",
    "lake.compact_s.p50": "s",
    "lake.compactions": "count",
    "lake.data_files_at_query.p50": "count",
    "spark.task_busy_share": "ratio",
    "spark.write_task_skew": "ratio",
    "spark.shuffle_write_bytes_per_event": "B",
    "spark.gc_share": "ratio",
    "spark.jobs_per_request": "count",
    "sparql.parse_s.p50": "s",
    "sparql.plan_s.p50": "s",
    "sparql.plan_cache_hit_ratio": "ratio",
    "serving.refresh_s.p50": "s",
    "serving.render_s.p50": "s",
    "http.server_s.p50": "s",
    "http.wait_s.p50": "s",
    "turtle.parse_quads_per_s": "1/s",
    "graph_store.write_s.p50": "s",
    "graph_store.write_amplification": "ratio",
    "graph_store.versions_on_disk": "count",
    "ingest_scaling_eff": "ratio",
    "host.cpu_probe_s": "s",
    "host.peak_rss_mb": "MB",
    "tracing.overhead_ratio": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _durs(spans: list[dict]) -> list[float]:
    return [tr.dur(s) for s in spans]


def per_layer(bench, wl, tracer, jobs, tasks, untraced, res1, extra) -> dict:
    spans = tracer.spans
    known = {s["id"] for s in spans}
    span_of_job = {k: v[0] for k, v in jobs.items() if v[0] in known}
    stage_span: dict[tuple, int] = {}
    for (app, _jid), (sid, stages) in jobs.items():
        if sid is not None:
            for st in stages:
                stage_span[(app, st)] = sid
    for t in tasks:
        t["span"] = stage_span.get((t["app"], t["stage"]))
    traced_tasks = [t for t in tasks if t["span"] in known]

    def jobs_under(roots: list[dict]) -> int:
        ids = tr.descendants_ids(spans, roots)
        return sum(1 for sid in span_of_job.values() if sid in ids)

    def tasks_under(roots: list[dict]) -> list[dict]:
        ids = tr.descendants_ids(spans, roots)
        return [t for t in traced_tasks if t["span"] in ids]

    m = {k: 0.0 for k in LAYER_UNITS}
    events = res1.get("events", 0)

    # streaming.cdc
    apply = tr.by_name(spans, "cdc.apply_batch")
    if apply:
        m["cdc.apply_batch_s.p50"] = p50(_durs(apply))
        m["cdc.batch_overhead_s.p50"] = p50([
            tr.dur(a) - sum(_durs(tr.children(spans, a, "lake.merge_mor")))
            for a in apply])
        m["cdc.spark_jobs_per_batch"] = jobs_under(apply) / len(apply)
        m["lake.append_rows_s.per_batch"] = sum(
            sum(_durs(tr.children(spans, a, "lake.append_rows"))) for a in apply
        ) / len(apply)
        ctxs = {a["ctx"] for a in apply}
        m["lake.snapshot_calls_per_batch"] = sum(
            v for (cname, ctx), v in tracer.counts.items()
            if cname == "lake.snapshot" and ctx in ctxs) / len(apply)
        m["spark.shuffle_write_bytes_per_event"] = _ratio(
            sum(t["shuffle_w"] for t in tasks_under(apply)), events)

    # storage.lake
    merges = tr.by_name(spans, "lake.merge_mor")
    if merges:
        m["lake.merge_mor_s.p50"] = p50(_durs(merges))
        m["lake.bytes_written_per_event"] = _ratio(
            sum(t["out_b"] for t in tasks_under(merges)), events)
    compacts = tr.by_name(spans, "lake.compact")
    m["lake.compactions"] = float(len(compacts))
    if compacts:
        m["lake.compact_s.p50"] = p50(_durs(compacts))
    m["lake.data_files_at_query.p50"] = p50(
        tracer.samples.get("lake.data_files_at_query", []))

    # spark executor
    run_ms = sum(t["run_ms"] for t in traced_tasks)
    m["spark.task_busy_share"] = _ratio(run_ms / 1000, bench.nproc * res1["wall"])
    m["spark.gc_share"] = _ratio(sum(t["gc_ms"] for t in traced_tasks), run_ms)
    by_stage: dict[tuple, list[dict]] = {}
    for t in traced_tasks:
        by_stage.setdefault((t["app"], t["stage"]), []).append(t)
    skews = []
    for ts in by_stage.values():
        if sum(t["out_b"] for t in ts) > 0:
            med = statistics.median(t["run_ms"] for t in ts)
            skews.append(_ratio(max(t["run_ms"] for t in ts), med))
    m["spark.write_task_skew"] = p50(skews)

    # queries.sparql, serving, http_serving
    server = tr.by_name(spans, "http.server")
    if server:
        parse = tr.by_name(spans, "sparql.parse")
        m["spark.jobs_per_request"] = jobs_under(server) / len(server)
        m["sparql.parse_s.p50"] = p50(_durs(parse))
        m["sparql.plan_s.p50"] = p50(_durs(tr.by_name(spans, "sparql.plan")))
        m["sparql.plan_cache_hit_ratio"] = 1 - len(parse) / len(server)
        m["serving.refresh_s.p50"] = p50(_durs(tr.by_name(spans, "serving.refresh")))
        m["serving.render_s.p50"] = p50(_durs(tr.by_name(spans, "serving.render")))
        m["http.server_s.p50"] = p50(_durs(server))
        lock = {s["ctx"]: tr.dur(s) for s in tr.by_name(spans, "http.view_lock_wait")}
        srv_by_ctx = {s["ctx"]: tr.dur(s) for s in server}
        waits = [
            (r["done"] - r["sent"]) - srv_by_ctx[r["id"]] + lock.get(r["id"], 0.0)
            for r in res1.get("recs", []) if r["id"] in srv_by_ctx and "sent" in r
        ]
        m["http.wait_s.p50"] = p50(waits)

    # sinks.turtle and the graph store
    parse_s = extra.get("parse_s")
    if parse_s:
        # serve_read traces its graph loads in a stage of their own
        gspans, gwl = extra.get("graph", (spans, wl))
        loaded = [ld for ld in gwl.loaded if ld["phase"] == 1]
        quads = {ld["file"]: ld["quads"] for ld in loaded}
        m["turtle.parse_quads_per_s"] = _ratio(
            sum(quads[f] for f in parse_s), sum(parse_s.values()))
        by_id = {ld["id"]: ld for ld in loaded}
        m["graph_store.write_s.p50"] = p50([
            tr.dur(s) - parse_s[by_id[s["ctx"]]["file"]]
            for s in tr.by_name(gspans, "graph_store.load") if s["ctx"] in by_id])
        amp, versions = [], {}
        for ld in loaded:
            vdir = os.path.join(ld["store"], f"v{ld['version']:06d}")
            tag = ld["graph"].rsplit("/", 1)[1]
            own = [e for e in os.listdir(vdir) if e.startswith("graph=") and e.endswith(tag)]
            if own:
                amp.append(_ratio(dir_bytes(vdir), dir_bytes(os.path.join(vdir, own[0]))))
            versions[ld["store"]] = sum(
                1 for e in os.listdir(ld["store"]) if e.startswith("v"))
        m["graph_store.write_amplification"] = p50(amp)
        m["graph_store.versions_on_disk"] = float(max(versions.values(), default=0))

    if "ingest_scaling_eff" in extra:
        m["ingest_scaling_eff"] = extra["ingest_scaling_eff"]
    m["tracing.overhead_ratio"] = _ratio(
        p50(res1["op"]), p50([x for r in untraced for x in r["op"]]))
    return m
