"""Proving runs: the noise floor of the end-to-end metrics and one
traced run's per-layer table, written to ``perfbench/results/``.

    python3 perfbench/prove.py --seeds 1-10

Every workload in BENCHMARK.json runs once per seed with ``--trace 0``; for each metric
the report gives min, median, max and the quartile spread (Q3 - Q1) /
median, as ``statistics.quantiles(values, n=4)`` computes the
quartiles. Then one ``--trace 1`` run per workload on the first seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "results")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": out.returncode,
           "result": json.loads(lines[-1]) if out.returncode == 0 else None}
    for line in lines[:-1]:
        obj = json.loads(line)
        if "context" in obj:
            rec["context"] = obj["context"]
        elif "failure" in obj:
            rec.setdefault("failures", []).append(obj["failure"])
    print(json.dumps({k: rec[k] for k in ("workload", "seed", "trace", "rc")}
                     | {"metrics": {k: round(v["value"], 3) for k, v in
                                    (rec["result"] or {}).get("metrics", {}).items()
                                    if trace == 0},
                        "failures": rec.get("failures", [])}), flush=True)
    return rec


def summarize(runs: list[dict], bench: dict) -> dict:
    out = {}
    for wl in sorted({r["workload"] for r in runs}):
        ok = [r["result"] for r in runs if r["workload"] == wl and r["result"]]
        out[wl] = {"runs": len(ok), "incorrect_runs": sum(not r["correct"] for r in ok)}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            out[wl][m["name"]] = {"unit": m["unit"], "min": min(vals), "median": med,
                                  "max": max(vals), "spread": (q3 - q1) / med,
                                  "bound": m["bound"]}
    return out


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def markdown(summary: dict, traced: list[dict], per_layer: list[dict]) -> str:
    lines = ["# Benchmark results", "",
             "Written by `perfbench/prove.py`. Host context of every run is in "
             "`proving.json` (`nproc`, task slots, load average, steal share, "
             "input layout, versions).", "",
             "## Noise floor (end-to-end, `--trace 0`)", "",
             "| workload | metric | unit | runs | min | median | max | spread | bound |",
             "| --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
    for wl, s in summary.items():
        for name, v in s.items():
            if isinstance(v, dict):
                lines.append(f"| {wl} | {name} | {v['unit']} | {s['runs']} | {v['min']:.3f} | "
                             f"{v['median']:.3f} | {v['max']:.3f} | {v['spread']:.3f} | "
                             f"{v['bound']} |")
    lines += ["", "Runs whose output checks failed: " + ", ".join(
        f"{wl} {s['incorrect_runs']} of {s['runs']}" for wl, s in summary.items()), ""]
    lines += ["## Per-layer table (`--trace 1`, one run per workload)", "",
              "Values are per traced pass. `trace.overhead_s` is the traced pass wall "
              "minus the median wall of the untraced passes before and after it.", "",
              "| metric | unit | " + " | ".join(r["workload"] for r in traced) + " |",
              "| --- | --- |" + " --- |" * len(traced)]
    for m in per_layer:
        vals = [r["result"]["metrics"][m["name"]]["value"] if r["result"] else "n/a"
                for r in traced]
        lines.append(f"| {m['name']} | {m['unit']} | " + " | ".join(
            f"{v:.4g}" if isinstance(v, (int, float)) else v for v in vals) + " |")
    return "\n".join(lines) + "\n"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    names = [w["name"] for w in bench["workloads"]]
    runs = [one_run(wl, s, bench["run_seconds"], 0) for wl in names for s in seeds(args.seeds)]
    summary = summarize(runs, bench)
    traced = [one_run(wl, seeds(args.seeds)[0], bench["run_seconds"], 1) for wl in names]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "proving.json"), "w") as f:
        json.dump({"summary": summary, "runs": runs, "traced": traced}, f, indent=1)
    with open(os.path.join(OUT, "RESULTS.md"), "w") as f:
        f.write(markdown(summary, traced, bench["per_layer"]))
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
