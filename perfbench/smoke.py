"""Smoke test of the benchmark itself, on inputs derived from sf0.001.

    python3 perfbench/smoke.py

For every workload: one untraced run (one warm-up pass, one timed
pass) must print every end-to-end metric named in BENCHMARK.json with
its unit; two traced runs of one seed must print every per-layer
metric with its unit, and their ``spark.jobs``, ``spark.stages`` and
``spark.tasks`` per pass must be equal. Exits non-zero on a mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEAT = ("spark.jobs", "spark.stages", "spark.tasks")


def run(workload: str, trace: int, seed: int = 7) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--base", "sf0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_units(result: dict, declared: list[dict], what: str) -> list[str]:
    got = result["metrics"]
    errs = [f"{what}: {m['name']} missing" for m in declared if m["name"] not in got]
    errs += [f"{what}: {m['name']} unit {got[m['name']]['unit']!r} != {m['unit']!r}"
             for m in declared if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    errs += [f"{what}: {k} not declared" for k in got if k not in {m["name"] for m in declared}]
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs = []
    for wl in (w["name"] for w in bench["workloads"]):
        e2e = run(wl, 0)
        errs += check_units(e2e, bench["end_to_end"], f"{wl} trace 0")
        first, second = run(wl, 1), run(wl, 1)
        errs += check_units(first, bench["per_layer"], f"{wl} trace 1")
        for k in REPEAT:
            a, b = first["metrics"][k]["value"], second["metrics"][k]["value"]
            if a != b:
                errs.append(f"{wl}: {k} per pass differs between runs of one seed: {a} vs {b}")
        print(json.dumps({"workload": wl, "correct": [e2e["correct"], first["correct"]],
                          **{k: first["metrics"][k]["value"] for k in REPEAT}}), flush=True)
    for e in errs:
        print(e)
    print("smoke:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
