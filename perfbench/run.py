"""Harvest benchmark entry point.

    python3 perfbench/run.py --workload crawl_budgeted|fetch_bulk|hub_build \
        --seed N --seconds S --trace 0|1

Run from the repository root. Starts one Spark session on local[nproc],
generates the workload's inputs from the seed, warms up, then runs
passes one after another for ``--seconds`` seconds (at least one) and
checks every output. With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` it runs one untraced pass and one
traced pass and holds the per-layer metrics. The line before it is the
full report (every metric under its workload-specific name with unit,
sample counts, exact per-pass counts, machine context); it is also
written to ``.perfbench/results/``. All state lives under
``.perfbench/`` in the repository root."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import layers, observe, stats  # noqa: E402
from perfbench.trace import Tracer, install  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"throughput_per_s": "1/s", "pass_p50_s": "s", "pass_tail_s": "s", "setup_s": "s"}
# the end-to-end metrics under their workload-specific names
NAMED = {
    "crawl_budgeted": {"throughput_per_s": ("crawl_urls_per_s", "URLs/s"),
                       "pass_p50_s": ("crawl_round_p50_s", "s"),
                       "pass_tail_s": ("crawl_round_tail_s", "s")},
    "fetch_bulk": {"throughput_per_s": ("fetch_urls_per_s", "URLs/s"),
                   "pass_p50_s": ("fetch_pass_p50_s", "s"),
                   "pass_tail_s": ("fetch_pass_tail_s", "s")},
    "hub_build": {"throughput_per_s": ("hub_records_per_s", "records/s"),
                  "pass_p50_s": ("hub_build_p50_s", "s"),
                  "pass_tail_s": ("hub_build_tail_s", "s")},
}
GEN_REPEATS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _program_present() -> bool:
    return (ROOT / "nde_crawlers_spark" / "__init__.py").is_file()


def _environment(run_dir: Path) -> dict:
    """Point every scratch location of Spark, the JVM and the Python
    workers inside the checkout; returns the session's extra conf."""
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "spark-local", run_dir / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM spark-submit starts: temp files in the checkout, and no
    # hsperfdata file in the system temp directory
    jopts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{jopts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(run_dir / "eventlog"),
        "spark.eventLog.compress": "false",
    }


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _e2e(wl, recs, setup_s: float) -> tuple[dict, dict]:
    samples = [r.wall_s for r in recs]
    tail_v, tail_label = stats.tail(samples)
    vals = {
        "throughput_per_s": sum(r.items for r in recs) / sum(samples),
        "pass_p50_s": stats.median(samples),
        "pass_tail_s": tail_v,
        "setup_s": setup_s,
    }
    info = {"pass_samples": len(samples), "tail_percentile": tail_label}
    seeds = [r.wall_s for r in wl.setup_records if r.kind == "seed"]
    if seeds:
        info["crawl_seed_round_s"] = {"value": stats.median(seeds), "unit": "s"}
    return vals, info


def _measure(wl, args) -> dict:
    """Passes back to back for ``args.seconds``, at least ``wl.min_passes``
    and at most ``wl.max_passes`` of them (one when tracing), then with
    ``--trace 1`` one traced pass. A pass that raises is counted and the
    loop goes on."""
    out = {"recs": [], "traced": [], "raised": 0, "tracer": None, "traced_s": 0.0}
    t0 = time.perf_counter()
    while True:
        try:
            out["recs"].extend(wl.run_pass())
        except Exception:  # noqa: BLE001 - a failed pass is counted, the run goes on
            traceback.print_exc()
            out["raised"] += 1
        done = len(out["recs"]) + out["raised"]
        if args.trace or done == wl.max_passes or (
                done >= wl.min_passes and time.perf_counter() - t0 >= args.seconds):
            break
    out["untraced_s"] = time.perf_counter() - t0
    if args.trace:
        tracer = out["tracer"] = Tracer(f"{args.workload}-{args.seed}")
        restore = install(tracer)
        t0 = time.perf_counter()
        try:
            out["traced"] = wl.run_pass(tracer)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            out["raised"] += 1
        finally:
            restore()
        out["traced_s"] = time.perf_counter() - t0
        for r in out["traced"]:
            r.traced = True
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not _program_present():
        print(f"perfbench: the nde_crawlers_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_begin = time.perf_counter()
    load_start = stats.loadavg()
    run_dir = WORK / f"{args.workload}-{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _environment(run_dir)
    cores = len(os.sched_getaffinity(0))
    rss = observe.PeakRss().start()

    from nde_crawlers_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session_s": time.perf_counter() - t0, "generate_s": []}
    try:
        jobs = observe.JobIds(spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, args.seed, str(run_dir / "work"), cores, jobs)
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            setup["generate_s"].append(time.perf_counter() - t0)
        for phase in ("load", "warm_up"):
            t0 = time.perf_counter()
            getattr(wl, phase)()
            setup[f"{phase}_s"] = time.perf_counter() - t0
        setup_s = (setup["session_s"] + stats.median(setup["generate_s"])
                   + setup["load_s"] + setup["warm_up_s"])
        jobs.delta()
        m = _measure(wl, args)
        peak_rss = rss.stop()
        t0 = time.perf_counter()
        recs, traced = m["recs"], m["traced"]
        verdict = wl.check(recs + traced) if recs else "no pass completed"
        extra = layers.collect_extra(wl, m["tracer"]) if args.trace and recs else {}
        if m["tracer"] is not None:
            m["tracer"].release()
        check_s = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - set-up or a gate crashed: no result line
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        _shutdown(spark)

    per_job = observe.read_event_log(str(run_dir / "eventlog"))
    shutil.rmtree(run_dir, ignore_errors=True)  # keep only the results
    all_recs = wl.setup_records + recs + traced
    for r in all_recs:
        r.counts["spark"] = observe.job_totals(per_job, r.jobs)
    # an operation is one crawl round, fetch pass or hub build
    timed = recs + traced
    attempted = len(timed) + m["raised"]
    failed = m["raised"] + sum(1 for r in timed if not r.ok)
    correct = failed == 0 and bool(recs)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "check": verdict,
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "machine": {**stats.machine_context(cores), "loadavg_start": load_start,
                    "loadavg_end": stats.loadavg()},
        "setup": setup,
        "max_processes": rss.max_procs,
        "phases_s": {"measure": m["untraced_s"], "traced": m["traced_s"], "check": check_s},
        "wall_s": time.perf_counter() - t_begin,
        "passes": [{"wall_s": r.wall_s, "items": r.items, "kind": r.kind, "traced": r.traced,
                    "ok": r.ok, "jobs": len(r.jobs), **r.counts} for r in all_recs],
    }
    metrics = {}
    if recs:
        vals, info = _e2e(wl, recs, setup_s)
        report.update(info)
        report["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}
        named = NAMED[args.workload]
        report["named_metrics"] = {
            **{named[k][0]: {"value": vals[k], "unit": named[k][1]} for k in named},
            "setup_s": report["metrics"]["setup_s"],
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
            "error_rate": {"value": failed / attempted, "unit": "ratio"},
        }
        if "crawl_seed_round_s" in info:
            report["named_metrics"]["crawl_seed_round_s"] = info["crawl_seed_round_s"]
        metrics = report["metrics"]
        if args.trace:
            metrics = report["layer_metrics"] = layers.per_layer(
                args.workload, m["tracer"], wl.setup_records + recs, traced,
                {**extra, "peak_rss_mb": peak_rss / 2**20})
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = results / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    stem.with_suffix(".json").write_text(json.dumps(report, indent=1, default=str))
    if m["tracer"] is not None:
        stem.with_name(stem.name + "-spans.json").write_text(json.dumps(m["tracer"].dump()))
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
