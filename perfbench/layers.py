"""Per-layer metrics of a traced run, named after the program's modules.

Every metric is printed on every workload; a layer the workload does
not reach reads 0. A function span times the call itself: for a
function that returns a lazy DataFrame that is plan construction plus
any job it runs eagerly; the query span around it includes the
execution. Values are per traced pass (mean over the traced
passes of the run), except ``session.start_s`` (once per run) and
``trace.overhead_s`` (median traced pass wall minus median untraced,
the untraced passes being the ones before and after a traced pass).
"""

from __future__ import annotations

import json
import os
import statistics

import probes
import workloads

API_STEPS = workloads.CLEAN_STEPS
SPARK_COUNTERS = ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
# spans of the wrapped program functions (see run.install_tracing)
FUNCTION_SPANS = {"catalog.load", "profiling.profile", "quantiles.exact_multi",
                  "detectors.iqr_bounds", "recipe.to_sql", "txlog.merge",
                  "knn.topk", "knn.cosine_pairs"}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("txlog.write_amp", "spark.parallelism", "api.pass_share", "failed_frac"):
        return "ratio"
    if name == "exact.fastagg":
        return "flag"
    return "count"


def metric_names() -> list[str]:
    """Every per-layer metric, in report order."""
    names = ["session.start_s", "catalog.load_s", "catalog.load_calls", "catalog.self_s"]
    names += [f"api.{s}_s" for s in API_STEPS] + [f"api.{s}.jobs" for s in API_STEPS]
    names += ["api.self_s", "api.pass_share",
              "profiling.profile_s", "profiling.jobs", "profiling.self_s",
              "quantiles.exact_multi_s", "quantiles.jobs", "quantiles.self_s",
              "detectors.iqr_bounds_s", "detectors.iqr_bounds_calls", "detectors.self_s",
              "recipe.to_sql_s", "recipe.steps",
              "txlog.merge_s", "txlog.files_written", "txlog.write_amp", "txlog.self_s",
              "knn.topk_s", "knn.cosine_pairs_s", "knn.calls", "exact.fastagg"]
    names += [f"{workloads.query_label(q)}_s" for q in workloads.CURATION + workloads.SQL]
    names += ["queries.self_s"]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    names += ["spark.cached_rdds", "spark.parallelism",
              "proc.driver_cpu_s", "proc.jvm_cpu_s", "proc.pyworker_cpu_s",
              "proc.jvm_nontask_cpu_s", "trace.overhead_s", "failed_frac"]
    return names


def _txlog_write(run, state: dict) -> tuple[int, float]:
    """(files the MERGE added, their bytes / bytes of the cleaned rows
    at the input's parquet bytes per row)."""
    table = state.get("table")
    if table is None:
        return 0, 0.0
    added = table._commits()[-1]["add"]
    written = sum(os.path.getsize(os.path.join(table.root, p)) for p in added)
    in_dir = os.path.join(run.data_dir, "clean_input.parquet")
    in_bytes = sum(os.path.getsize(os.path.join(in_dir, f)) for f in os.listdir(in_dir))
    in_rows = run.spark.read.parquet(in_dir).count()
    cleaned = table.read().count()
    return len(added), written / (cleaned * in_bytes / in_rows)


def _one_pass(run, rec: dict) -> dict:
    spans = [s for s in run.tracer.spans if s["pass_id"] == rec["pass"]]
    selfs = dict(zip(map(id, run.tracer.spans), probes.self_times(run.tracer.spans)))
    m = dict.fromkeys(metric_names(), 0.0)

    def add(key: str, v: float) -> None:
        m[key] += v

    for s in spans:
        name, wall, self_s = s["name"], s["end"] - s["start"], selfs[id(s)]
        jobs = probes.span_delta(s, "spark.jobs")
        layer = name.split(".", 1)[0]
        if name == "pass":
            for c in SPARK_COUNTERS:
                m[f"spark.{c}"] = probes.span_delta(s, f"spark.{c}")
            for k in ("driver", "jvm", "pyworker"):
                m[f"proc.{k}_cpu_s"] = probes.span_delta(s, f"proc.{k}")
            m["spark.parallelism"] = m["spark.exec_run_s"] / wall
            m["proc.jvm_nontask_cpu_s"] = m["proc.jvm_cpu_s"] - m["spark.exec_cpu_s"]
            pass_wall = wall
        elif name.startswith("api."):
            add(f"{name}_s", wall)
            add(f"{name}.jobs", jobs)
            add("api.self_s", self_s)
        elif name in FUNCTION_SPANS:
            add(f"{name}_s", wall)
            for key, v in ((f"{layer}.self_s", self_s), (f"{layer}.jobs", jobs),
                           (f"{name}_calls", 1), (f"{layer}.calls", 1)):
                if key in m:
                    add(key, v)
        else:  # a query span
            add(f"{name}_s", wall)
            add("queries.self_s", self_s)
    # share of the pass wall the DataCleaner step spans account for
    m["api.pass_share"] = sum(m[f"api.{step}_s"] for step in API_STEPS) / pass_wall
    state = rec["state"]
    if "cleaner" in state:
        m["recipe.steps"] = len(state["cleaner"].recipe.steps)
        m["txlog.files_written"], m["txlog.write_amp"] = _txlog_write(run, state)
    m["spark.cached_rdds"] = rec["cached_rdds"]
    return m


def per_layer(run, timed: list[dict], session_start_s: float, failed_frac: float) -> dict:
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    per = [_one_pass(run, p) for p in traced]
    m = {k: statistics.fmean(p[k] for p in per) for k in metric_names()}
    m["session.start_s"] = session_start_s
    m["exact.fastagg"] = run.fastagg
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in untraced))
    m["failed_frac"] = failed_frac
    return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}


def write_spans(run, out_dir: str) -> str:
    """All spans of the run, written once at the end."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{run.args.workload}-{run.args.seed}.json")
    with open(path, "w") as f:
        json.dump(run.tracer.spans, f)
    return path
