"""One benchmark process: opens a Spark session, runs a first trivial
job, then either prepares a workload's inputs or measures it.

    python3 perfbench/worker.py '{"mode": "measure", "workload": ..., ...}'

Protocol on stdout: ``@@READY`` once the first job has completed (the
parent times set-up from its spawn to this line), then one
``@@RESULT <json>`` line. Anything else the program prints goes to
stderr.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

PROTO = sys.stdout


def _say(tag: str, payload=None) -> None:
    PROTO.write(f"@@{tag}" + ("" if payload is None else " " + json.dumps(payload)) + "\n")
    PROTO.flush()


def main() -> None:
    cfg = json.loads(sys.argv[1])
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # the program's own prints (CLI summary lines) stay off the protocol
    sys.stdout = sys.stderr

    from workloads import WORKLOADS

    from sparkcheck.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = None
    if cfg.get("trace"):
        log_dir = os.path.join(root, ".bench", "eventlog", str(os.getpid()))
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # the default zstd codec needs the `zstandard` module
            "spark.eventLog.compress": "false",
        })
    # the CLI verbs reuse this session through getOrCreate
    spark = get_spark(app_name="sparkcheck-cli", extra_conf=conf)
    spark.range(1).count()
    _say("READY")

    wl = WORKLOADS[cfg["workload"]](spark, root, cfg["seed"], cfg["size"], cfg.get("wrong", False))
    if cfg["mode"] == "prepare":
        t0 = time.perf_counter()
        wl.prepare()
        _say("RESULT", {"gen_s": time.perf_counter() - t0})
        spark.stop()
        return
    result = measure(spark, wl, cfg["seconds"], bool(cfg.get("trace")))
    result["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    spark.stop()
    if log_dir:
        from layers import layer_metrics

        result["layers"], result["trace"] = layer_metrics(
            root, log_dir, result.pop("spans"), result.pop("values"),
            int(os.environ["SPARK_GRAFT_CPUS"]))
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        result.pop("spans")
        result.pop("values")
    _say("RESULT", result)


def measure(spark, wl, seconds: float, trace: bool) -> dict:
    """Closed loop, one client: a cold iteration, then warm iterations
    until `seconds` have passed (at least two)."""
    sc = spark.sparkContext
    iters, spans, values, errors = [], [], [], []
    t_loop = None
    while True:
        i = len(iters)
        out: dict = {}
        # spans use epoch time, to line up with the event log; durations
        # use the monotonic clock
        it_start, it_t0 = time.time(), time.perf_counter()
        it_spans = []
        failed = None
        for name, step in wl.steps():
            if trace:
                sc.setJobGroup(f"it{i}.{name}", f"{wl.name} iteration {i}: {name}")
            s = time.time()
            try:
                step(out)
            except Exception as exc:  # a raised iteration counts as failed
                traceback.print_exc()
                failed = f"{name}: {type(exc).__name__}: {exc}"
            it_spans.append({"name": name, "start": s, "end": time.time()})
            if failed:
                break
        it_end, it_dur = time.time(), time.perf_counter() - it_t0
        if trace:
            sc.setJobGroup(f"it{i}.check", f"{wl.name} iteration {i}: output check")
        if failed is None:
            try:
                bad = wl.check(out)
                failed = "; ".join(bad) if bad else None
                vals = wl.layer_values(out)
            except Exception as exc:
                traceback.print_exc()
                failed = f"check: {type(exc).__name__}: {exc}"
        if trace:
            sc.setJobGroup("idle", "between iterations")
        iters.append(it_dur)
        errors.append(failed)
        spans.append({"name": "iteration", "start": it_start, "end": it_end, "children": it_spans})
        values.append({} if failed else vals)
        if failed:
            print(f"iteration {i} failed: {failed}", file=sys.stderr)
        if t_loop is None:
            t_loop = time.perf_counter()  # the warm loop starts after the cold iteration
        elif time.perf_counter() - t_loop >= seconds and len(iters) >= 3:
            break
    warm = iters[1:]
    return {
        "cold_s": iters[0],
        "wall_s": statistics.median(warm),
        "iterations": iters,
        "errors": errors,
        "rows": wl.rows,
        "step_s": [{c["name"]: c["end"] - c["start"] for c in sp["children"]} for sp in spans],
        "spans": spans,
        "values": values,
    }


if __name__ == "__main__":
    main()
