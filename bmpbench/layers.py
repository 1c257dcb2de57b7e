"""Per-layer metrics of the traced run.

Names are ``<layer>.<metric>``, the layers named after the package's
modules. Span timings are medians per call over the measured region,
from the benchmark-side wrappers (``trace.install``); Spark figures
(executor CPU, shuffle, spill, tasks, GC) come from the event log,
attributed through the job tag of the span that started the job.
A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import os
import statistics

from bmpbench import trace

# the registry pass's modules, and the queries of it whose wall time is reported one by one
REGISTRY_MODULES = ("core", "curate", "net", "olap", "stream", "text")
REGISTRY_QUERIES = ("q_ann_topk", "q_image_neardup", "q_knn_classify")

# (name, unit) -- BENCHMARK.json's per_layer list is this list
PER_LAYER = [
    ("streaming.batches", "count"), ("streaming.trigger_ms_p50", "ms"),
    ("streaming.addBatch_ms_p50", "ms"), ("streaming.offsets_ms_p50", "ms"),
    ("streaming.planning_ms_p50", "ms"), ("streaming.rows_per_batch", "count"),
    ("streaming.backlog_files_end", "count"), ("streaming.gen_late_s_max", "s"),
    ("streaming.dump_msgs_per_s", "msg/s"),
    ("sources.decode_s", "s"), ("sources.records", "count"), ("sources.malformed", "count"),
    ("ingest.handler_s", "s"), ("ingest.prepare_s", "s"), ("ingest.merge_s", "s"),
    ("ingest.dedup_ratio", "ratio"), ("ingest.state_rows_read", "count"),
    ("ingest.log_rows", "count"), ("ingest.executor_cpu_s", "s"),
    ("ingest.shuffle_write_mb", "MB"), ("ingest.spill_mb", "MB"), ("ingest.tasks", "count"),
    ("state.read_s", "s"), ("state.stage_s", "s"), ("state.stage_log_s", "s"),
    ("state.stage_state_s", "s"), ("state.commit_s", "s"), ("state.log_replay_s", "s"),
    ("state.bytes_staged_per_wire_byte", "ratio"), ("state.files_staged", "count"),
    ("state.live_files_end", "count"), ("state.commit_retries", "count"),
    ("state.executor_cpu_s", "s"), ("state.tasks", "count"),
    ("jobs.chg_stats_s", "s"), ("jobs.global_rib_s", "s"), ("jobs.peer_rib_counts_s", "s"),
    ("jobs.origin_stats_s", "s"), ("jobs.maintenance_s", "s"),
    ("jobs.global_rib_touched_fraction", "ratio"), ("jobs.executor_cpu_s", "s"),
    ("jobs.shuffle_write_mb", "MB"),
    ("views.v_ip_routes_prefix_s", "s"), ("views.v_ip_routes_peer_s", "s"),
    ("views.v_peers_s", "s"), ("views.v_ip_routes_history_s", "s"),
    ("views.rows_returned", "count"), ("views.executor_cpu_s", "s"), ("views.tasks", "count"),
    ("lookups.load_s", "s"),
    ("engine.gc_s", "s"), ("engine.jobs", "count"), ("engine.stages", "count"),
    ("engine.executor_cpu_s", "s"), ("engine.unattributed_cpu_s", "s"),
    ("engine.rib_dump_1core_msgs_per_s", "msg/s"),
    ("registry.pass_s", "s"),
    *[(f"registry.queries_{m}.{k}", u) for m in REGISTRY_MODULES
      for k, u in (("wall_s", "s"), ("executor_cpu_s", "s"), ("tasks", "count"),
                   ("shuffle_write_mb", "MB"))],
    ("registry.q_stream_family.wall_s", "s"),
    *[(f"registry.{q}.wall_s", "s") for q in REGISTRY_QUERIES],
    ("trace.op_p50_s", "s"), ("trace.spans", "count"), ("trace.self_le_wall", "bool"),
]

# span name -> metric, reported as the median seconds per call
_SPAN_MEDIANS = {
    "handler.unicast_prefix": "ingest.handler_s",
    "ingest.prepare": "ingest.prepare_s", "ingest.merge": "ingest.merge_s",
    "state.read": "state.read_s", "state.stage": "state.stage_s",
    "state.stage_log": "state.stage_log_s", "state.stage_state": "state.stage_state_s",
    "state.commit": "state.commit_s", "state.log_replay": "state.log_replay_s",
    "jobs.chg_stats": "jobs.chg_stats_s", "jobs.global_rib": "jobs.global_rib_s",
    "jobs.peer_rib_counts": "jobs.peer_rib_counts_s", "jobs.origin_stats": "jobs.origin_stats_s",
    "jobs.maintenance": "jobs.maintenance_s",
    "views.v_ip_routes_prefix": "views.v_ip_routes_prefix_s",
    "views.v_ip_routes_peer": "views.v_ip_routes_peer_s", "views.v_peers": "views.v_peers_s",
    "views.v_ip_routes_history": "views.v_ip_routes_history_s",
}


def collect(wl, res) -> dict:
    """All of ``PER_LAYER`` for one traced run of workload ``wl``."""
    t0, t1 = wl.window
    wl.tracer.dump(os.path.join(wl.work, "spans.json"))   # kept with --keep
    spans = [s for s in wl.tracer.spans
             if s["end"] is not None and s["start"] >= t0 and s["end"] <= t1]
    counters = wl.counters
    extra = wl.layer_extra(res)
    # the event log is complete only once the context has stopped
    wl.stop_spark()
    ev = trace.reduce_event_log(wl.event_dir, window=wl.window_ms)
    m = {name: 0.0 for name, _ in PER_LAYER}

    m.update({f"streaming.{k}": v for k, v in
              trace.stream_phases(res.layers.get("progress", [])).items()})
    m["streaming.backlog_files_end"] = res.layers.get("backlog_files_end", 0)
    m["streaming.gen_late_s_max"] = res.layers.get("gen_late_s_max", 0.0)
    m["streaming.dump_msgs_per_s"] = res.layers.get("dump_msgs_per_s", 0.0)

    dec = extra["decode"]
    m.update({"sources.decode_s": dec["decode_s"], "sources.records": dec["records"],
              "sources.malformed": dec["malformed"]})

    per_call: dict[str, list[float]] = {}
    for s in spans:
        per_call.setdefault(s["name"], []).append(s["end"] - s["start"])
    for span, metric in _SPAN_MEDIANS.items():
        if span in per_call:
            m[metric] = statistics.median(per_call[span])

    for layer in ("ingest", "state", "jobs", "views"):
        for key in ("executor_cpu_s", "shuffle_write_mb", "spill_mb", "tasks"):
            name = f"{layer}.{key}"
            if name in m:
                m[name] = trace.sum_layer(ev, layer, key)
    m["ingest.state_rows_read"] = sum(v["records_read"] for t, v in ev.items()
                                      if t.split("/")[-1] == "ingest.merge")
    rows_in = counters.get("ingest.rows_in", 0)
    m["ingest.dedup_ratio"] = counters.get("ingest.rows_prepared", 0) / rows_in if rows_in else 0.0
    m["ingest.log_rows"] = wl.store.table_rows("ip_rib_log")
    wire_bytes = extra["wire_bytes"]
    m["state.bytes_staged_per_wire_byte"] = (counters.get("state.bytes_staged", 0.0)
                                             / wire_bytes if wire_bytes else 0.0)
    m["state.files_staged"] = counters.get("state.files_staged", 0)
    m["state.commit_retries"] = counters.get("state.commit_retries", 0)
    m["state.live_files_end"] = sum(wl.store.live_file_count(t)
                                    for t in ("ip_rib", "ip_rib_log"))

    # rows the global-RIB job staged per call, as a share of the table
    calls = len(per_call.get("jobs.global_rib", []))
    global_rows = wl.store.table_rows("global_ip_rib") if calls else 0
    m["jobs.global_rib_touched_fraction"] = (
        counters.get("jobs.global_rib.rows_staged", 0) / (calls * global_rows)
        if global_rows else 0.0)
    m["views.rows_returned"] = res.layers.get("rows_returned", 0)
    m["lookups.load_s"] = res.layers.get("lookups_load_s", 0.0)

    a = ev["__all__"]
    m.update({"engine.gc_s": a["gc_s"], "engine.jobs": a["jobs"], "engine.stages": a["stages"],
              "engine.executor_cpu_s": a["executor_cpu_s"],
              "engine.unattributed_cpu_s": ev.get("unattributed", {}).get("executor_cpu_s", 0.0)})
    m["engine.rib_dump_1core_msgs_per_s"] = extra.get("dump_1core", 0.0)

    reg = [s for s in spans if s["name"].startswith("registry.")]
    m["registry.pass_s"] = res.info.get("registry_pass_s", 0.0)
    for mod in REGISTRY_MODULES:
        tag = f"registry.queries_{mod}."
        m[f"{tag}wall_s"] = sum(s["end"] - s["start"] for s in reg if s["name"].startswith(tag))
        for key in ("executor_cpu_s", "tasks", "shuffle_write_mb"):
            m[f"{tag}{key}"] = sum(v[key] for t, v in ev.items() if t.startswith(tag))
    m["registry.q_stream_family.wall_s"] = sum(
        s["end"] - s["start"] for s in reg if s["name"].rsplit(".", 1)[-1].startswith("q_stream_"))
    for q in REGISTRY_QUERIES:
        m[f"registry.{q}.wall_s"] = sum(s["end"] - s["start"] for s in reg
                                        if s["name"].endswith(f".{q}"))

    st = trace.self_times(spans)
    lat = [o["lat_s"] for o in res.ops]
    m["trace.op_p50_s"] = statistics.median(lat) if lat else 0.0
    m["trace.spans"] = len(spans)
    m["trace.self_le_wall"] = float(all(v["self_le_wall"] for v in st.values()))
    res.info["trace_self_times"] = st
    res.info["trace_tags"] = {k: {kk: round(vv, 4) for kk, vv in v.items()}
                              for k, v in ev.items()}
    units = dict(PER_LAYER)
    return {k: {"value": float(m[k]), "unit": units[k]} for k, _ in PER_LAYER}

