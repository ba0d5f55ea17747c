#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload timeline_oltp --seed 1 --seconds 24 --trace 0

Runs one workload as a closed loop with one client, checks every
request's output, and prints one JSON object as the last line of
stdout: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.common import CLASSES, log  # noqa: E402


def workloads() -> dict:
    import fluxgraph_spark  # noqa: F401  (fails outside a full checkout)

    from perfbench import history, timeline

    return {"timeline_oltp": timeline, "history_olap": history}


def setup(mod, workload: str, plan, work: str, event_log=None):
    """Session start and loading the plan's data into the package."""
    spark = common.start_spark(os.path.join(work, "spark"), event_log)
    spark.sparkContext.setJobGroup(f"{workload}/setup/0", "setup", False)
    return spark, mod.State(spark, plan, work)


def split(requests) -> tuple:
    return [r for r in requests if r.warmup], [r for r in requests if not r.warmup]


def one_pass(spark, workload, state, requests, tracer=None):
    """The untimed warm-up (one checked request per class), then the
    timed sequence."""
    warm, timed = split(requests)
    common.run_requests(spark, workload, state, warm, group=f"{workload}.warmup")
    if tracer is None:
        return common.run_requests(spark, workload, state, timed)
    tracer.install()
    try:
        return common.run_requests(spark, workload, state, timed, tracer)
    finally:
        tracer.uninstall()


def end_to_end(mod, workload, work, plan) -> tuple:
    """``mod.SETUP_REPS`` set-ups; each of the last ``mod.PASSES``
    replays the whole sequence.  The previous set-up is released before
    the next."""
    times, passes, final_ok, spark, state = [], [], True, None, None
    for rep in range(mod.SETUP_REPS):
        if spark is not None:
            state.close()
            spark.stop()
            spark = state = None
            gc.collect()
        t0 = time.perf_counter()
        spark, state = setup(mod, workload, plan, os.path.join(work, f"s{rep}"))
        times.append(time.perf_counter() - t0)
        if rep < mod.SETUP_REPS - mod.PASSES:
            continue
        t1 = time.perf_counter()
        passes.append(one_pass(spark, workload, state, plan.requests))
        final_ok = state.final_check() and final_ok
        log(f"pass {len(passes)}: {time.perf_counter() - t1:.1f}s "
            f"({passes[-1].busy_s:.1f}s in requests)")
    jvm = common.jvm_peak_rss_mb(spark)
    state.close()
    spark.stop()
    best = common.best_of(passes)
    busy = sum(sum(v) for v in best.values())
    latency_metrics(best)  # per-layer metrics since they do not repeat; logged only
    m = {
        "setup_s": (statistics.median(times), "s"),
        "ops_per_s": (sum(len(v) for v in best.values()) / busy, "1/s"),
        "driver_peak_rss_mb": (common.driver_peak_rss_mb(), "MB"),
        "jvm_peak_rss_mb": (jvm, "MB"),
    }
    log(f"setup reps: {[round(t, 3) for t in times]}")
    return m, merge(passes), final_ok


def latency_metrics(lat_by_class: dict) -> dict:
    """``<class>_p50_ms`` and ``<class>_p90_ms`` from seconds per class."""
    m = {}
    for c in CLASSES:
        lat = [x * 1000.0 for x in lat_by_class[c]] or [0.0]  # all failed: correct=false
        m[f"{c}_p50_ms"] = (statistics.median(lat), "ms")
        m[f"{c}_p90_ms"] = (common.percentile(lat, 0.9), "ms")
        log(f"{c}: n={len(lat)} p50={m[f'{c}_p50_ms'][0]:.2f}ms "
            f"p90={m[f'{c}_p90_ms'][0]:.2f}ms total={sum(lat) / 1000:.2f}s")
    return m


def merge(passes):
    out = common.PassResult()
    for p in passes:
        out.attempted += p.attempted
        out.failed += p.failed
    return out


def traced(mod, workload, work, plan) -> tuple:
    """One untraced pass, then one traced pass, each on a fresh set-up."""
    from perfbench import trace

    spark, state = setup(mod, workload, plan, os.path.join(work, "base"))
    base = one_pass(spark, workload, state, plan.requests)
    state.close()
    spark.stop()
    spark = state = None
    gc.collect()
    elog = os.path.join(work, "eventlog")
    spark, state = setup(mod, workload, plan, os.path.join(work, "traced"), event_log=elog)
    tracer = trace.Tracer(spark)
    res = one_pass(spark, workload, state, plan.requests, tracer)
    final_ok = state.final_check()
    state.close()
    spark.stop()
    m = trace.layer_metrics(tracer, res, trace.read_event_log(elog), workload)
    m.update(latency_metrics(base.latencies()))
    overhead = 100.0 * (1.0 - (res.attempted / res.busy_s) / (base.attempted / base.busy_s))
    m["trace.overhead_pct"] = (overhead, "%")
    return m, merge([base, res]), final_ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"  # naive datetimes become Spark timestamps in local time
    time.tzset()
    mods = workloads()
    if args.workload not in mods:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(mods)}")
    mod = mods[args.workload]
    common.become_subreaper()
    # a terminated run still stops the JVM and waits for every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        probe0 = common.host_probe_ms()
        t0 = time.perf_counter()
        plan = common.in_child(os.path.join(work, "child"), mod.make_plan,
                               args.seed, args.seconds, os.path.join(work, "plan"))
        log(f"plan: {len(plan.requests)} requests in {time.perf_counter() - t0:.1f}s")
        fn = traced if args.trace else end_to_end
        metrics, res, final_ok = fn(mod, args.workload, work, plan)
        probe1 = common.host_probe_ms()
    finally:
        try:
            common.stop_jvm()
        finally:
            common.reap_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's directory is still there
    log(f"host.probe_ms start={probe0:.1f} end={probe1:.1f}; "
        f"attempted={res.attempted} failed={res.failed} final_check={final_ok}")
    if args.trace:
        metrics["host.probe_ms"] = ((probe0 + probe1) / 2.0, "ms")
    out = {
        "correct": res.failed == 0 and final_ok,
        "attempted": res.attempted,
        "failed": res.failed + (0 if final_ok else 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
