"""Turn the traced run's spans and event log into the per-layer metrics.

Layers are named after the sparkcheck modules. Each value is the median
over the warm traced iterations; a layer a workload does not touch
reads 0.
"""

from __future__ import annotations

import statistics

from eventlog import covered, function_at, in_window, jobs_from_events, read_events, spark_totals

LAYER_METRICS = [
    "io.input_bytes", "io.input_records", "io.output_bytes",
    "compile.fused_pass_s", "compile.verdicts_sink_s",
    "integrity.unique_s", "integrity.orphan_s", "integrity.shuffle_write_bytes",
    "run.engine_self_s",
    "profile.table_s", "profile.jobs", "profile.result_bytes",
    "drift.compare_s",
    "dedup.corpus_s", "dedup.shuffle_write_bytes", "dedup.spill_bytes", "dedup.keep_ratio",
    "textextract.identity_s",
    "sampling.pack_write_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.core_util",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.peak_exec_mem_bytes", "spark.result_bytes", "spark.failed_tasks",
    "trace.unattributed_s",
]

# benchmark step -> the wall-time layer metric it stands for
STEP_WALL = {
    "verdicts_sink": "compile.verdicts_sink_s",
    "profile": "profile.table_s",
    "drift": "drift.compare_s",
    "extract_identity": "textextract.identity_s",
}


def _curate_phases(execs: list[dict], start: float, end: float) -> dict[str, tuple[float, float]]:
    """Windows of the curate verb's phases, read from its SQL actions:
    input count | dedup (through the survivor count) | tokens, shuffle,
    packing and the parquet write | summary reads."""
    acts = [x for x in in_window(execs, start, end) if x["end"] is not None]
    counts = [x for x in acts if x["action"] == "count"]
    if len(counts) < 2:
        return {}
    dedup = (counts[0]["end"], counts[1]["end"])
    writes = [x for x in acts if x["action"] == "parquet" and x["start"] >= dedup[1]]
    out = {"dedup": dedup}
    if writes:
        out["pack_write"] = (dedup[1], writes[0]["end"])
    return out


def _iteration(root, it, jobs, execs, cores, values):
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    wall = it["end"] - it["start"]
    it_jobs = in_window(jobs, it["start"], it["end"])
    m.update(spark_totals(it_jobs, wall, cores))
    children = []
    engine_self = 0.0
    for c in it["children"]:
        cw = c["end"] - c["start"]
        cj = in_window(jobs, c["start"], c["end"])
        busy = covered(cj, c["start"], c["end"])
        engine_self += cw - busy
        children.append({"name": c["name"], "wall_s": cw, "jobs_busy_s": busy,
                         "self_s": cw - busy, **spark_totals(cj, cw, cores)})
        if c["name"] in STEP_WALL:
            m[STEP_WALL[c["name"]]] = cw
        if c["name"] == "profile":
            m["profile.jobs"] = len(cj)
            m["profile.result_bytes"] = sum(j["result_bytes"] for j in cj)
        if c["name"] == "curate":
            phases = _curate_phases(execs, c["start"], c["end"])
            if "dedup" in phases:
                lo, hi = phases["dedup"]
                dj = in_window(jobs, lo, hi)
                m["dedup.corpus_s"] = hi - lo
                m["dedup.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in dj)
                m["dedup.spill_bytes"] = sum(j["spill_bytes"] for j in dj)
            if "pack_write" in phases:
                lo, hi = phases["pack_write"]
                m["sampling.pack_write_s"] = hi - lo
            for name, (lo, hi) in phases.items():
                children.append({"name": f"curate/{name}", "wall_s": hi - lo,
                                 **spark_totals(in_window(jobs, lo, hi), hi - lo, cores)})
    m["run.engine_self_s"] = engine_self
    m["trace.unattributed_s"] = wall - sum(c["end"] - c["start"] for c in it["children"])
    m["integrity.shuffle_write_bytes"] = sum(
        j["shuffle_write_bytes"] for j in it_jobs
        if j["site"] and j["site"][0] == "run/engine.py"
        and function_at(root, *j["site"]) == "_run_other_rule")
    m.update(values)
    return m, children, it_jobs


def layer_metrics(root, log_dir, spans, values, cores):
    jobs, execs = jobs_from_events(read_events(log_dir))
    per_it, detail = [], {}
    sites: dict[str, dict] = {}
    for i, (it, vals) in enumerate(zip(spans, values)):
        if i == 0:
            continue  # the cold iteration is not a layer sample
        m, children, it_jobs = _iteration(root, it, jobs, execs, cores, vals)
        per_it.append(m)
        detail = {"wall_s": it["end"] - it["start"], "children": children}
        for j in it_jobs:
            key = (f"sparkcheck/{j['site'][0]}::{function_at(root, *j['site'])}"
                   if j["site"] else "(no sparkcheck call site)")
            s = sites.setdefault(key, {"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0})
            s["jobs"] += 1
            s["task_s"] += j["task_s"]
            s["shuffle_write_bytes"] += j["shuffle_write_bytes"]
    layers = {k: statistics.median(m[k] for m in per_it) for k in LAYER_METRICS}
    n = max(len(per_it), 1)
    for s in sites.values():  # per warm iteration
        s["jobs"] /= n
        s["task_s"] /= n
        s["shuffle_write_bytes"] /= n
    return layers, {"last_iteration": detail, "call_sites": sites}
