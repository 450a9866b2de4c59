"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py      # from the repository root, ~3 min

1. Runs every workload at the tiny size in both modes (``--workload
   all``) and checks that every metric named in BENCHMARK.json is
   printed for every workload, with its unit, and that no output check
   failed.
2. Runs one workload with a deliberately wrong expected count and
   checks that every iteration is then counted as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(*args: str) -> dict:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--size", "tiny",
                        "--seconds", "1", *args], stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    print("\n".join(lines[:-1]))
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run.py {' '.join(args)} exited {p.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    problems = []

    res = run("--workload", "all", "--seed", "3")
    for w in spec["workloads"]:
        for name, unit in wanted.items():
            got = res["metrics"].get(f"{w['name']}.{name}")
            if got is None:
                problems.append(f"{w['name']}: metric {name} not printed")
            elif got["unit"] != unit:
                problems.append(f"{w['name']}: {name} unit {got['unit']!r} != {unit!r}")
    if not res["correct"] or res["failed"]:
        problems.append(f"output checks failed on the tiny inputs: {res['failed']}")

    res = run("--workload", "validate_webtext", "--seed", "3", "--trace", "0",
              "--wrong-expected")
    if res["correct"] or res["failed"] != res["attempted"]:
        problems.append(f"a wrong expected count did not fail every iteration: {res}")

    for p in problems:
        print("SELFTEST FAIL:", p)
    print("SELFTEST", "FAIL" if problems else "PASS")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
