"""Benchmark of the ipydataclean_spark engine: one workload, one run.

    python3 perfbench/run.py --workload clean_session --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up generates the inputs from the
seed under ``.bench_work/``, starts one Spark session with fewer task
slots than CPUs, and runs the workload's warm-up passes. Then one timed
pass runs, and more while they fit in ``--seconds``, followed by the
untimed output checks.
The last line of standard output is one JSON object: with ``--trace 0``
the end-to-end metrics (``setup_s``, ``pass_s``, ``cpu_s``), with
``--trace 1`` the per-layer metrics of a run that alternates untraced
and traced passes. Earlier lines report the run context, the cache
counts after each pass, and ``failed_frac``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM = "2g"


def task_slots() -> int:
    """Fewer slots than CPUs, leaving room for JIT, GC and driver
    threads: half the CPUs this process may use."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class Run:
    """State shared by the passes of one run."""

    def __init__(self, args, work_dir: str):
        self.args = args
        self.root = ROOT
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "in")
        self.spark = None
        self.pass_no = 0
        self.tracer = None

    def trace(self, name: str):
        tr = self.tracer
        return tr.span(name) if tr is not None and tr.active else contextlib.nullcontext()


def configure_env(work_dir: str, slots: int) -> None:
    """Spark settings the program reads from the environment, plus
    scratch locations inside the checkout. Set before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })


def install_tracing(run: Run) -> None:
    """Wrap the program's public layer entry points in spans."""
    from ipydataclean_spark import catalog, recipe
    from ipydataclean_spark.functions import knn, quantiles
    from ipydataclean_spark.operators import detectors, profiling
    from ipydataclean_spark.sources import txlog

    tr = probes.Tracer(run.spark)
    for owner, attr, name in (
        (catalog, "load_table", "catalog.load"),
        (profiling, "profile", "profiling.profile"),
        (quantiles, "exact_quantiles_multi", "quantiles.exact_multi"),
        (detectors, "iqr_bounds", "detectors.iqr_bounds"),
        (recipe.Recipe, "to_sql", "recipe.to_sql"),
        (txlog.TxTable, "merge", "txlog.merge"),
        (knn, "topk_per_row_exact", "knn.topk"),
        (knn, "cosine_score_pairs", "knn.cosine_pairs"),
    ):
        tr.wrap(owner, attr, name)
    run.tracer = tr


def one_pass(run: Run, wl: dict, traced: bool) -> dict:
    run.pass_no += 1
    if traced:
        run.tracer.pass_id = run.pass_no
        run.tracer.active = True
    cpu0 = probes.tree_cpu()["total"]
    t0 = time.perf_counter()
    with run.trace("pass"):
        outcomes, state = wl["pass"](run, run.trace)
    wall = time.perf_counter() - t0
    cpu = probes.tree_cpu()["total"] - cpu0
    if traced:
        run.tracer.active = False
    rec = {"pass": run.pass_no, "traced": traced, "wall_s": wall, "cpu_s": cpu,
           "outcomes": outcomes, "state": state,
           "cached_rdds": probes.persistent_rdds(run.spark),
           "cached_relations": probes.cached_relations(run.spark)}
    print(json.dumps({"after_pass": run.pass_no, "traced": traced,
                      "wall_s": round(wall, 4), "cpu_s": round(cpu, 3),
                      "spark.cached_rdds": rec["cached_rdds"],
                      "cached_relations": rec["cached_relations"],
                      "failed": [o for o in outcomes if o]}), flush=True)
    return rec


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (which takes its Python workers
    down with it), and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def context(run: Run, slots: int, layout: dict) -> dict:
    from ipydataclean_spark.functions import exact
    from pyspark.sql import functions as F

    run.fastagg = int(exact._dsum128(F.lit(1.0), 38, 12) is not None)
    return {
        "workload": run.args.workload, "seed": run.args.seed,
        "nproc": len(os.sched_getaffinity(0)), "task_slots": slots,
        "fastagg": run.fastagg,
        "spark": run.spark.version,
        "java": run.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "inputs": layout,
    }


def main() -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="sf0.01",
                    help="fixture copy under perfbench/data to derive inputs from")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ipydataclean_spark")):
        print(f"no ipydataclean_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = workloads.WORKLOADS[args.workload]
    slots = task_slots()
    work_dir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    load_start = probes.loadavg()
    configure_env(work_dir, slots)
    run = Run(args, work_dir)
    try:
        layout = inputs.generate(run.data_dir, args.seed, slots, base=args.base)
        from ipydataclean_spark.registry import load_all
        from ipydataclean_spark.session import get_spark

        load_all()
        t0 = time.perf_counter()
        run.spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        run.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            install_tracing(run)
        passes = [one_pass(run, wl, False) for _ in range(wl["warmup"])]
        setup_s = probes.since_process_start()
        stat0 = probes.cpu_times()
        timed = []
        t_timed = time.perf_counter()
        # one pass, then another only if it should end within --seconds.
        # A traced run alternates untraced and traced passes, starting
        # and ending untraced, so the passes compared for the tracing
        # overhead bracket any warm-up slope.
        min_passes = 3 if args.trace else 1
        while len(timed) < min_passes or (time.perf_counter() - t_timed + statistics.median(
                p["wall_s"] for p in timed) <= args.seconds):
            timed.append(one_pass(run, wl, bool(args.trace) and len(timed) % 2 == 1))
        steal = probes.steal_share(stat0, probes.cpu_times())
        passes += timed
        checks = wl["checks"](run, passes)
        ctx = context(run, slots, layout)
        ctx.update(loadavg_start=load_start, loadavg_end=probes.loadavg(),
                   steal_share=round(steal, 4), timed_passes=len(timed),
                   setup_s=round(setup_s, 3), wall_s=round(time.perf_counter() - t_main, 2))
        attempted = sum(len(p["outcomes"]) for p in passes) + len(checks)
        errors = [o for p in passes for o in p["outcomes"] if o] + [c for c in checks if c]
        failed_frac = len(errors) / attempted
        print(json.dumps({"context": ctx}), flush=True)
        for e in errors[:20]:
            print(json.dumps({"failure": e}), flush=True)
        print(json.dumps({"failed_frac": {"value": failed_frac, "unit": "ratio"}}), flush=True)
        if args.trace:
            import layers

            metrics = layers.per_layer(run, timed, session_start_s, failed_frac)
            layers.write_spans(run, os.path.join(ROOT, ".bench_out"))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": statistics.median(p["wall_s"] for p in timed), "unit": "s"},
                "cpu_s": {"value": statistics.median(p["cpu_s"] for p in timed), "unit": "s"},
            }
        result = {"correct": not errors, "attempted": attempted, "failed": len(errors),
                  "metrics": metrics}
    finally:
        if run.tracer is not None:
            run.tracer.unwrap_all()
        if run.spark is not None:
            stop_jvm(run.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work_dir))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
