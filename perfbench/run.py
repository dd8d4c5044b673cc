"""linkgraph benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload web-hub --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Prints one JSON
record with every figure of the run (host fingerprint, all timings,
convergence, checks), then, as the last line, the result object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as a package from the checkout root, and keep its
# module names from shadowing the standard library
sys.path[0] = ROOT

from perfbench import driver  # noqa: E402

# set-ups per run; setup_s is their median
SETUPS = 3
# nominal length of one pipeline pass on a 4-core host: --seconds asks
# for one pass per PASS_SECONDS, at least one, so the pass count never
# depends on how fast the passes happen to run
PASS_SECONDS = 45

END_TO_END = {
    "setup_s": "s",
    "pipeline_cpu_s": "s",
    "pagerank_edges_per_cpu_s": "arcs/cpu_s",
    "lpa_edges_per_cpu_s": "msgs/cpu_s",
    "jvm_peak_rss_mb": "MB",
}

OPS = ("pagerank", "lpa", "components", "triangles", "modularity", "louvain")
FOLDED = ("task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
          "peak_exec_mem_mb", "output_mb", "jobs", "task_skew")
FOLD_UNITS = {"task_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
              "shuffle_write_mb": "MB", "spill_mb": "MB",
              "peak_exec_mem_mb": "MB", "output_mb": "MB", "jobs": "count",
              "task_skew": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    for k in ("task_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        units[f"sources.{k}"] = FOLD_UNITS[k]
    units["sources.edges_out"] = "count"
    for op in OPS:
        for k in FOLDED:
            units[f"{op}.{k}"] = FOLD_UNITS[k]
    for op in ("pagerank", "lpa"):
        units.update({f"{op}.supersteps": "count", f"{op}.converged": "bool",
                      f"{op}.superstep_p50_s": "s", f"{op}.superstep_max_s": "s",
                      f"{op}.outside_steps_s": "s"})
    units.update({"lpa.delta_from": "step", "lpa.movers_last": "count",
                  "louvain.levels": "count", "louvain.level0_sweeps": "count",
                  "runner.restart_s": "s", "runner.ledger_mb": "MB",
                  "runner.resumed_supersteps": "count",
                  "runner.first_resumed_step_s": "s",
                  "trace.overhead_frac": "ratio",
                  "trace.unattributed_jobs": "count"})
    return units


def fingerprint(spark, seed: int) -> dict:
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "java": spark._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "cores": driver.CORES,
        "seed": seed,
    }


def convergence(res: dict, workload: str) -> dict:
    from perfbench.workloads import LPA_CAP, PR_TOL, lpa_converged

    pr, lp = res["results"]["pagerank"], res["results"]["lpa"]
    out = {
        "pagerank": {"supersteps": pr.iterations, "delta": pr.delta,
                     "converged": int(pr.delta <= PR_TOL)},
        "lpa": {"supersteps": lp.iterations, "cap": LPA_CAP[workload],
                "converged": int(lpa_converged(lp.changed_history)),
                "changed_history": lp.changed_history},
    }
    if "louvain" in res["results"]:
        lv = res["results"]["louvain"]
        out["louvain"] = {"levels": lv.levels, "history": [
            {k: v for k, v in h.items() if k != "sweep_seconds"} for h in lv.history]}
    return out


def per_layer(run, res: dict, session_s: float, folded: dict,
              unattributed: int, overhead_frac: float) -> dict[str, float]:
    tr = run.tracer
    wl = run.workload
    out: dict[str, float] = {"session.start_s": session_s}
    src = folded.get(f"{wl}:sources", {})
    for k in ("task_s", "gc_s", "shuffle_write_mb", "spill_mb"):
        out[f"sources.{k}"] = src.get(k, 0.0)
    out["sources.edges_out"] = res["m"] if "extract_s" in res else 0
    for op in OPS:
        agg = folded.get(f"{wl}:{op}", {})
        for k in FOLDED:
            out[f"{op}.{k}"] = agg.get(k, 0)
    conv = convergence(res, wl)
    for op in ("pagerank", "lpa"):
        legs = res["steps"][op]
        steps = [t for _, leg in legs for t in leg]
        outside = 0.0
        for span, leg in legs:
            tr.add_steps(span, leg)
            outside += tr.self_seconds(span)
            run.check(f"trace.{op}_steps_within_span",
                      span.start <= span.returned - sum(leg))
        out[f"{op}.supersteps"] = res["results"][op].iterations
        out[f"{op}.converged"] = conv[op]["converged"]
        out[f"{op}.superstep_p50_s"] = statistics.median(steps)
        out[f"{op}.superstep_max_s"] = max(steps)
        out[f"{op}.outside_steps_s"] = outside
    lp = res["results"]["lpa"]
    out["lpa.delta_from"] = lp.delta_from or 0
    out["lpa.movers_last"] = lp.changed_history[-1]
    lv = res["results"].get("louvain")
    out["louvain.levels"] = lv.levels if lv else 0
    out["louvain.level0_sweeps"] = lv.history[0].get("sweeps", 0) if lv else 0
    runner = res.get("runner", {})
    for k in ("restart_s", "ledger_mb", "resumed_supersteps", "first_resumed_step_s"):
        out[f"runner.{k}"] = runner.get(k, 0)
    out["trace.overhead_frac"] = overhead_frac
    out["trace.unattributed_jobs"] = unattributed
    return out


def measure(run, wl, seconds: float, traced: bool) -> dict:
    from perfbench.spans import Tracer, fold_event_logs

    setups, starts = [], []
    # a traced run reports no setup_s: one set-up keeps it short
    for _ in range(1 if traced else SETUPS):
        if run.spark is not None:
            run.spark.stop()
        t0 = time.time()
        run.spark = driver.start_session()
        starts.append(time.time() - t0)
        wl.make_input(run)
        setups.append(time.time() - t0)
    record = {"host": fingerprint(run.spark, run.seed),
              "setup_runs_s": setups, "session_start_runs_s": starts}

    passes = []
    for k in range(1 if traced else max(1, int(seconds // PASS_SECONDS))):
        run.tracer = Tracer(run.workload)
        passes.append(wl.run_pass(run, k))
    record["host"].update(n=passes[0]["n"], m=passes[0]["m"])
    keys = [k for k in passes[0] if isinstance(passes[0][k], (int, float))]
    metrics = {k: statistics.median(p[k] for p in passes) for k in keys}
    metrics["setup_s"] = statistics.median(setups)
    metrics["jvm_peak_rss_mb"] = driver.jvm_peak_rss_mb()
    record["passes"] = [{k: p[k] for k in keys} for p in passes]
    record["convergence"] = convergence(passes[-1], run.workload)
    record["metrics"] = metrics
    if "runner" in passes[-1]:
        record["runner"] = passes[-1]["runner"]

    if traced:
        # the traced pass: same calls in a fresh driver JVM, so JIT
        # warm-up is paid again as in the untraced pass, with the event
        # log on and every job labelled with its span
        driver.stop_driver(run.spark)
        run.spark = None
        run.event_log = True
        run.tracer = Tracer(run.workload)
        with run.tracer.span("session") as sp_session:
            run.spark = driver.start_session(event_log=True)
        run.tracer.label(run.spark.sparkContext)
        res = wl.run_pass(run, len(passes))
        run.tracer.label(None)
        run.spark.stop()
        run.spark = None
        folded, jobs, unattributed = fold_event_logs(driver.EVENT_LOG)
        run.check("trace.jobs_attributed", unattributed == 0,
                  f"{unattributed} of {jobs} jobs")
        overhead = res["pipeline_s"] / metrics["pipeline_s"] - 1.0
        record["trace"] = {"jobs": jobs, "folded": folded,
                           "traced_pipeline_s": res["pipeline_s"]}
        record["per_layer"] = per_layer(run, res, sp_session.seconds, folded,
                                        unattributed, overhead)
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("web-hub", "lfr-communities"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help=f"measuring time: one pipeline pass per "
                         f"{PASS_SECONDS} s, at least one")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    driver.prepare_work_dir()
    try:
        from perfbench.workloads import WORKLOADS, Run

        run = Run(args.workload, args.seed)
        try:
            record = measure(run, WORKLOADS[args.workload], args.seconds,
                             bool(args.trace))
        finally:
            driver.stop_driver(run.spark)
        failed = sum(not ok for ok in run.checks.values())
        attempted = run.ops + len(run.checks)
        record.update(workload=args.workload, checks=run.checks,
                      ops_failed_frac=failed / attempted)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(driver.OUT, name + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            run.tracer.dump(os.path.join(driver.OUT, name + ".spans.json"))
            units, values = per_layer_units(), record["per_layer"]
        else:
            units, values = END_TO_END, record["metrics"]
        print(json.dumps({"record": {k: record[k] for k in (
            "workload", "host", "metrics", "convergence", "checks",
            "ops_failed_frac")}}, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        driver.purge_work_dir()
    return 0


if __name__ == "__main__":
    sys.exit(main())
