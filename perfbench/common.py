"""Shared harness pieces: Spark session, output digests, host probe,
percentiles and the closed-loop request runner.

Every timed request is a callable built by a workload's ``prepare``
step (untimed); the runner times only that callable, then checks its
output against the answer the workload computed independently of the
package.
"""

from __future__ import annotations

import hashlib
import math
import os
import resource
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Optional

CLASSES = ("write", "read", "lookup", "travel", "diff", "analytic")

def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- host probe ----------------------------------------------------------

def host_probe_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop.  Reported next to the
    metrics so host drift is visible; never used to normalize them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return (time.perf_counter() - t0) * 1000.0


# -- Spark ---------------------------------------------------------------

CORES = 2  # Spark runs local[CORES]


def start_spark(work: str, event_log_dir: Optional[str] = None):
    from pyspark.sql import SparkSession

    cores = min(CORES, os.cpu_count() or 1)
    os.makedirs(work, exist_ok=True)
    # the JVM that only assembles the driver's command line: keep its
    # perf-data file out of /tmp as well
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "1g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home={work} -Djava.io.tmpdir={work} -XX:-UsePerfData "
                # one GC thread and a heap that grows by policy, not by
                # timing: the JVM's peak RSS repeats across runs
                "-XX:+UseSerialGC")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it to exit (a
    stopped session leaves it running until Python exits)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway server exits when its stdin closes
    gw.proc.wait(timeout=timeout_s)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def in_child(work: str, fn, *args):
    """``fn(*args)`` in a fresh interpreter, waited for.  Plans and
    expected answers are made there, so the shadow models and DuckDB
    never count in the driver's peak RSS.  A plain subprocess, not
    multiprocessing, which would leave its resource-tracker process
    running past the benchmark's exit."""
    import pickle
    import subprocess

    os.makedirs(work, exist_ok=True)
    job, out = os.path.join(work, "job.pkl"), os.path.join(work, "result.pkl")
    with open(job, "wb") as f:
        pickle.dump((fn, args), f)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from perfbench.common import _child_main; _child_main(sys.argv[2], sys.argv[3])")
    # the child's stdout goes to stderr: the result line must stay last
    subprocess.run([sys.executable, "-c", code, root, job, out],
                   stdout=sys.stderr, check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


def _child_main(job: str, out: str) -> None:
    import pickle

    with open(job, "rb") as f:
        fn, args = pickle.load(f)
    res = fn(*args)
    with open(out, "wb") as f:
        pickle.dump(res, f)


# -- processes -----------------------------------------------------------

def become_subreaper() -> None:
    """Have processes orphaned below this one (PySpark's Python worker
    daemons outlive the JVM that started them) re-parented here rather
    than to init, so ``reap_children`` can wait for them.  Linux only;
    elsewhere a no-op."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _child_pids() -> list:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:  # field 4: ppid
            out.append(int(d))
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Terminate every remaining descendant and wait until none is left
    (SIGKILL after ``grace_s``).  A descendant orphaned while this runs
    is re-parented here before its parent can be reaped, so the loop
    ends only when the whole tree is gone."""
    import signal

    deadline = time.monotonic() + grace_s
    signalled: dict = {}
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child, running or exited, is left
        if pid:
            continue
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in _child_pids():
            if signalled.get(p) != sig:
                log(f"stopping leftover process {p} with signal {int(sig)}")
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
                signalled[p] = sig
        time.sleep(0.02)


# -- output digests ------------------------------------------------------
#
# A Spark request ends in ONE action that returns (count, hash sum) over
# its output rows; the expected digest is computed in Python from rows
# the workload derived without the package.  A row hashes as the md5 of
# its non-NULL values joined with "|" (Spark's concat_ws skips NULLs),
# truncated to 32 bits so the sum cannot overflow a long.

def row_hash(values: Iterable[Any]) -> int:
    s = "|".join(str(v) for v in values if v is not None)
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def py_digest(rows: Iterable[Iterable[Any]]) -> tuple:
    n = h = 0
    for r in rows:
        n += 1
        h += row_hash(r)
    return (n, h)


def _digest_frame(df, cols, prefix: str):
    """One-row frame ``<prefix>_n, <prefix>_h`` over ``cols`` (SQL
    expressions).  Built from SQL text, so it costs one py4j call rather
    than one per column function."""
    row = "concat_ws('|', " + ", ".join(f"CAST({c} AS STRING)" for c in cols) + ")"
    h = f"CAST(conv(substring(md5({row}), 1, 8), 16, 10) AS BIGINT)"
    return df.selectExpr(f"count(1) AS {prefix}_n",
                         f"CAST(coalesce(sum({h}), 0) AS BIGINT) AS {prefix}_h")


def spark_plan(df):
    """Catalyst analysis, optimisation and physical planning of ``df``.
    The frame keeps the plan, so the action that follows reuses it; a
    span of its own in the traced run."""
    df._jdf.queryExecution().executedPlan()
    return df


def collect_digests(specs) -> dict:
    """Digest each ``(frame, columns, prefix)`` and run them all as ONE
    action: the one-row digests are cross-joined and collected."""
    out = None
    for df, cols, prefix in specs:
        d = _digest_frame(df, cols, prefix)
        out = d if out is None else out.crossJoin(d)
    return spark_plan(out).collect()[0].asDict()


def bench_collect(df):
    """A request's final action, when it is a plain collect."""
    return spark_plan(df).collect()


def bench_plan(fn, *args):
    """Run the request's own DataFrame shaping (filters, joins, ordering
    around the package's calls).  A span of its own in the traced run."""
    return fn(*args)


# -- statistics ----------------------------------------------------------

def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# -- request runner ------------------------------------------------------

@dataclass
class Request:
    cls: str
    params: dict
    expected: Any = None
    warmup: bool = False


@dataclass
class PassResult:
    samples: list = field(default_factory=list)  # (class, seconds or None if failed)
    attempted: int = 0
    failed: int = 0
    busy_s: float = 0.0
    class_wall: dict = field(default_factory=lambda: {c: 0.0 for c in CLASSES})

    def latencies(self) -> dict:
        out = {c: [] for c in CLASSES}
        for cls, dt in self.samples:
            if dt is not None:
                out[cls].append(dt)
        return out


def best_of(passes: list) -> dict:
    """Per request, the fastest of its executions in ``passes`` (each pass
    ran the same sequence on a fresh set-up), grouped by class.  A request
    that failed in any pass gives no sample."""
    out = {c: [] for c in CLASSES}
    for execs in zip(*(p.samples for p in passes)):
        dts = [dt for _, dt in execs]
        if None not in dts:
            out[execs[0][0]].append(min(dts))
    return out


def run_requests(
    spark,
    workload: str,
    state,
    requests: Iterable[Request],
    tracer=None,
    group: Optional[str] = None,
) -> PassResult:
    """Closed loop, one client: each request starts after the previous
    one's output was checked.  Warm-up requests run and are checked but
    not counted."""
    res = PassResult()
    sc = spark.sparkContext
    group = group or workload
    for n, req in enumerate(requests):
        run: Callable[[], Any] = state.prepare(req)
        name = f"{group}/{req.cls}/{n}"
        sc.setJobGroup(name, req.cls, False)
        if tracer is not None:
            tracer.begin(req.cls, name)
        t0 = time.perf_counter()
        err = None
        try:
            out = run()
        except Exception as e:  # a failed request is counted, not fatal
            out, err = None, e
            log(traceback.format_exc())
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end(out)
        sc.setJobGroup(f"{group}/check/{n}", "check", False)
        ok = err is None and state.check(req, out)
        if req.warmup:
            if not ok:
                raise RuntimeError(f"warm-up {req.cls} request failed: "
                                   f"{err or out!r}, expected {req.expected!r}")
            continue
        res.attempted += 1
        res.busy_s += dt
        res.class_wall[req.cls] += dt
        res.samples.append((req.cls, dt if ok else None))
        if not ok:
            res.failed += 1
            log(f"FAILED {workload}/{req.cls}/{n}: {err!r}" if err else
                f"WRONG {workload}/{req.cls}/{n}: got {out!r} want {req.expected!r}")
    return res
