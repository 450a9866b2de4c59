"""sparkcheck benchmark: three CLI-shaped workloads, closed loop, one
client, one driver thread, ``local[<nproc>]``.

    python3 perfbench/run.py --workload validate_webtext --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10   # every workload, both modes

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, read from Spark's event log. Every run is
also appended, with its noise stamps, to ``.bench/results/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS as WL  # noqa: E402  (imports no Spark)
WORKLOADS = list(WL)
DEADLINE_S = 170.0  # every run ends within 180 s

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
             "driver_peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("keep_ratio", "core_util")):
        return "ratio"
    return "count"


def host_env(root: str) -> dict[str, str]:
    """Launch settings fitted to this host, set here and nowhere else:
    local[nproc], a driver heap sized from physical RAM, spill space and
    an import path inside the checkout (the extraction UDF's Python
    workers import sparkcheck)."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(8, int(phys_gb / 4)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARKCHECK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(root, ".bench", "spark-local"),
        "PYTHONPATH": root,
    }
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def _burn(n: int = 1_000_000) -> int:
    x = 0
    for i in range(n):
        x = (x * 1103515245 + i) % (1 << 31)
    return x


def noise_stamp() -> dict:
    """Host load next to the figures: load averages and the wall time
    of a fixed single-thread CPU burn."""
    t0 = time.perf_counter()
    _burn()
    return {"loadavg": list(os.getloadavg()), "calib_s": time.perf_counter() - t0}


class Worker:
    """One worker process; times set-up from spawn to its READY line."""

    def __init__(self, cfg: dict, env: dict, deadline: float):
        self.cfg = cfg
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            stdout=subprocess.PIPE, text=True, env=env, start_new_session=True)
        self.deadline = deadline
        self.setup_s = None
        self.result = None

    def wait(self) -> dict | None:
        timer = threading.Timer(max(self.deadline - time.perf_counter(), 1.0), self.kill)
        timer.start()
        try:
            for line in self.proc.stdout:
                if line.startswith("@@READY"):
                    self.setup_s = time.perf_counter() - self.t0
                elif line.startswith("@@RESULT "):
                    self.result = json.loads(line[len("@@RESULT "):])
            self.proc.wait()
        finally:
            timer.cancel()
        return self.result if self.proc.returncode == 0 else None

    def kill(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_one(workload: str, seed: int, seconds: float, trace: bool, size: str,
            wrong: bool, env: dict, deadline: float) -> dict:
    """One run: an optional prepare worker, then one measure worker,
    traced or not."""
    base = {"workload": workload, "seed": seed, "size": size, "wrong": wrong}
    launch = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARKCHECK_DRIVER_MEM",
                                  "SPARK_LOCAL_DIRS", "PYTHONPATH")}
    rec = {**base, "seconds": seconds, "trace": int(trace), "launch": launch,
           "noise": {"before": noise_stamp()}, "workers": []}
    # inputs are built once per checkout under .bench/data; a prepare
    # worker (whose set-up is a setup_s sample too) runs only when missing
    modes = [] if WL[workload](None, os.getcwd(), seed, size).prepared() else [{"mode": "prepare"}]
    modes.append({"mode": "measure", "seconds": seconds, "trace": int(trace)})
    rec["ok"] = True
    for m in modes:
        w = Worker({**base, **m}, env, deadline)
        res = w.wait()
        rec["workers"].append({**m, "exit": w.proc.returncode, "setup_s": w.setup_s,
                               "result": res})
        if res is None:
            rec["ok"] = False
            break
    rec["noise"]["after"] = noise_stamp()
    if not rec["ok"]:
        return rec
    setups = [w["setup_s"] for w in rec["workers"]]
    rec["gen_s"] = rec["workers"][0]["result"]["gen_s"] if len(modes) == 2 else 0.0
    run = rec["workers"][-1]["result"]
    warm = len(run["iterations"]) - 1
    rec["attempted"] = len(run["iterations"])
    rec["failed"] = sum(e is not None for e in run["errors"])
    rec["errors"] = [e for e in run["errors"] if e]
    rec["error_rate"] = rec["failed"] / rec["attempted"]
    if trace:
        rec["layers"] = {**run["layers"], "session.start_s": rec["workers"][-1]["setup_s"],
                         "trace.wall_s": run["wall_s"]}
        rec["trace_detail"] = run["trace"]
    else:
        rec["e2e"] = {
            "setup_s": (statistics.median(setups), len(setups)),
            "cold_s": (run["cold_s"], 1),
            "wall_s": (run["wall_s"], warm),
            "rows_per_s": (run["rows"] / run["wall_s"], warm),
            "driver_peak_rss_mb": (run["driver_peak_rss_mb"], 1),
        }
    return rec


def _append(root: str, rec: dict) -> None:
    d = os.path.join(root, ".bench", "results")
    os.makedirs(d, exist_ok=True)
    # append-only: a retry lands next to the original, never over it
    with open(os.path.join(d, "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec, default=str) + "\n")


def report(rec: dict) -> None:
    w = rec["workload"] + (" traced" if rec["trace"] else "")
    b, a = rec["noise"]["before"], rec["noise"]["after"]
    print(f"[{w}] noise before: loadavg={b['loadavg']} calib_s={b['calib_s']:.4f}; "
          f"after: loadavg={a['loadavg']} calib_s={a['calib_s']:.4f}")
    if not rec["ok"]:
        print(f"[{w}] a worker failed: {[x['exit'] for x in rec['workers']]}")
        return
    print(f"[{w}] input generation: {rec['gen_s']:.3f} s (not part of setup_s; 0 when cached)")
    for k, (v, n) in rec.get("e2e", {}).items():
        print(f"[{w}] {k} = {v:.6g} {E2E_UNITS[k]} (samples: {n})")
    print(f"[{w}] error_rate = {rec['error_rate']:.4g} ratio "
          f"({rec['failed']} of {rec['attempted']} iterations)")
    for e in rec["errors"]:
        print(f"[{w}] check failed: {e}")
    if "layers" in rec:
        for k, v in sorted(rec["layers"].items()):
            print(f"[{w}] {k} = {v:.6g} {layer_unit(k)}")
        last = rec["trace_detail"]["last_iteration"]
        steps = [c for c in last["children"] if "/" not in c["name"]]
        rest = last["wall_s"] - sum(c["wall_s"] for c in steps)
        parts = ", ".join(f"{c['name']} {c['wall_s']:.3f} s" for c in steps)
        print(f"[{w}] last traced iteration {last['wall_s']:.3f} s = {parts}, "
              f"unattributed {rest:.4f} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test: perturb one expected count, so every check fails")
    args = ap.parse_args()
    start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkcheck", "__init__.py")):
        print("run from the repository root: sparkcheck/ not found", file=sys.stderr)
        return 2
    env = host_env(root)
    print("launch: " + " ".join(f"{k}={v}" for k, v in env.items()))
    # --workload all: every workload untraced, then traced
    runs = ([(n, t) for n in WORKLOADS for t in (False, True)] if args.workload == "all"
            else [(args.workload, args.trace == 1)])
    deadline = start + DEADLINE_S * len(runs)
    recs = []
    for name, trace in runs:
        rec = run_one(name, args.seed, args.seconds, trace, args.size, args.wrong_expected,
                      {**os.environ, **env}, deadline)
        _append(root, {k: v for k, v in rec.items() if k != "trace_detail"})
        if "trace_detail" in rec:
            d = os.path.join(root, ".bench", "results")
            with open(os.path.join(d, f"trace_{name}_seed{args.seed}.json"), "w") as f:
                json.dump(rec["trace_detail"], f, indent=1, default=str)
        report(rec)
        recs.append(rec)
    if not all(r["ok"] for r in recs):
        return 1
    metrics = {}
    prefix = (lambda r: f"{r['workload']}.") if args.workload == "all" else (lambda r: "")
    for r in recs:
        for k, (v, _) in r.get("e2e", {}).items():
            metrics[prefix(r) + k] = {"value": v, "unit": E2E_UNITS[k]}
        for k, v in r.get("layers", {}).items():
            metrics[prefix(r) + k] = {"value": v, "unit": layer_unit(k)}
    if args.workload == "all":
        # tracing overhead: traced minus untraced wall_s of the same workload
        for name in WORKLOADS:
            v = (metrics[f"{name}.trace.wall_s"]["value"] - metrics[f"{name}.wall_s"]["value"])
            metrics[f"{name}.trace.overhead_s"] = {"value": v, "unit": "s"}
            print(f"[{name}] tracing overhead = {v:+.4f} s (traced minus untraced wall_s)")
    failed = sum(r["failed"] for r in recs)
    print(json.dumps({"correct": failed == 0, "attempted": sum(r["attempted"] for r in recs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
