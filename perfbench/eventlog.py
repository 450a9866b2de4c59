"""Per-layer numbers from Spark's own event log.

The traced session writes an uncompressed event log. After the session
stops, this module reads it back and attributes every Spark job to the
benchmark span whose time window holds the job's submission. The
benchmark runs one client on one driver thread, so windows do not
overlap; jobs submitted from the program's own worker threads (which do
not inherit the job group) are attributed the same way.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re

_SITE = re.compile(r" at (?:.*/)?sparkcheck/(\S+?\.py):(\d+)$")


def read_events(log_dir: str) -> list[dict]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def jobs_from_events(events: list[dict]) -> tuple[list[dict], list[dict]]:
    """One record per job: its window (epoch seconds), SQL execution,
    the sparkcheck call site that issued it, and summed task metrics.
    Also one record per SQL execution: its window and the Dataset action
    that started it (`count`, `parquet`, ...)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_site: dict[str, tuple[str, int]] = {}
    execs: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            site = None
            for s in e["Stage Infos"]:
                m = _SITE.search(s["Stage Name"])
                if m:
                    site = (m.group(1), int(m.group(2)))
            root = props.get("spark.sql.execution.root.id")
            if site and root is not None:
                exec_site.setdefault(root, site)
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1000.0,
                "end": None, "root": root, "site": site,
                "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
                "input_bytes": 0, "input_records": 0, "output_bytes": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                "spill_bytes": 0, "peak_exec_mem_bytes": 0, "result_bytes": 0,
                "stages_run": 0,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            j = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
            if j is not None:
                j["stages_run"] += 1
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is None:
                continue
            j["tasks"] += 1
            if e["Task End Reason"].get("Reason") != "Success":
                j["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["result_bytes"] += m.get("Result Size", 0)
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            j["peak_exec_mem_bytes"] = max(j["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
            inp = m.get("Input Metrics") or {}
            j["input_bytes"] += inp.get("Bytes Read", 0)
            j["input_records"] += inp.get("Records Read", 0)
            j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"] / 1000.0, "end": None,
                "action": e.get("details", "").split("\n")[0].split("(")[0].rsplit(".", 1)[-1],
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"] / 1000.0
    for j in jobs.values():
        if j["site"] is None and j["root"] is not None:
            j["site"] = exec_site.get(j["root"])
        if j["end"] is None:
            j["end"] = j["start"]
    return sorted(jobs.values(), key=lambda j: j["id"]), sorted(execs.values(), key=lambda x: x["id"])


def in_window(items: list[dict], start: float, end: float) -> list[dict]:
    # event-log times have millisecond resolution
    return [x for x in items if start - 0.001 <= x["start"] <= end + 0.001]


def covered(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(j["start"], start), min(j["end"], end)) for j in jobs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SUMMED = ("task_s", "input_bytes", "input_records", "output_bytes", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "result_bytes", "failed_tasks", "tasks",
          "stages_run")


def spark_totals(jobs: list[dict], wall: float, cores: int) -> dict[str, float]:
    """The per-span `spark.*` figures."""
    t = {k: sum(j[k] for j in jobs) for k in SUMMED}
    return {
        "spark.jobs": len(jobs),
        "spark.stages": t["stages_run"],
        "spark.tasks": t["tasks"],
        "spark.task_s": t["task_s"],
        "spark.core_util": t["task_s"] / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.peak_exec_mem_bytes": max((j["peak_exec_mem_bytes"] for j in jobs), default=0),
        "spark.result_bytes": t["result_bytes"],
        "spark.failed_tasks": t["failed_tasks"],
        "io.input_bytes": t["input_bytes"],
        "io.input_records": t["input_records"],
        "io.output_bytes": t["output_bytes"],
    }


_FUNCS: dict[str, list[tuple[int, int, str]]] = {}


def function_at(root: str, rel: str, line: int) -> str:
    """Name of the innermost function in sparkcheck/<rel> holding `line`."""
    if rel not in _FUNCS:
        with open(os.path.join(root, "sparkcheck", rel)) as f:
            tree = ast.parse(f.read())
        _FUNCS[rel] = [(n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
                       if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    inner = [(hi - lo, name) for lo, hi, name in _FUNCS[rel] if lo <= line <= hi]
    return min(inner)[1] if inner else "<module>"
