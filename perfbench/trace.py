"""Traced mode: spans around the calls into each layer, and Spark's
per-job metrics from the event log.

``Tracer.install`` wraps, from outside the package, every public
function and method of the layer modules (plus the benchmark's own
DataFrame shaping and final action).  A span records calls, total time and self time (its time
minus the time its child spans cover).  Generator methods are timed
per resume, so a consumer's work between items is not charged to the
generator.  A few hot store methods are counted, not timed.

Spans in Spark-facing layers also set the local property
``perfbench.span`` to the path of open Spark-facing spans, so every job
the event log records names the layer calls that started it.

Most layers only build lazy plans; Spark runs them in the request's
final action.  That action is split in two spans: ``spark_plan``
(Catalyst analysis, optimisation and physical planning of the layers'
plans) and the collect.  A request's time counts as attributed where
it is under a package span or ``spark_plan``, or under the collect
while Spark executes the request's plan (a SQL execution or a job of
the request, from the event log: code generation, adaptive re-planning
and the jobs).  The rest -- the benchmark's own code, py4j and result
conversion -- is ``bench.unattributed_share``.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import time
from collections import defaultdict

from .common import CLASSES

SPAN_PROP = "perfbench.span"

# module -> layer name; True marks layers whose calls can start Spark jobs
LAYERS = {
    "fluxgraph_spark.store": ("store", False),
    "fluxgraph_spark.graph": ("graph", False),
    "fluxgraph_spark.elements": ("elements", False),
    "fluxgraph_spark.operators.diff": ("diff", True),
    "fluxgraph_spark.operators.temporal": ("temporal", True),
    "fluxgraph_spark.operators.traversal": ("traversal", True),
    "fluxgraph_spark.operators.analytics": ("analytics", True),
    "fluxgraph_spark.operators.gremlin": ("gremlin", True),
    "fluxgraph_spark.sources.scd2_table": ("scd2_table", True),
    "fluxgraph_spark.sources.parquet_io": ("parquet_io", True),
    "perfbench.common": ("bench", True),
}
COUNT_ONLY = {
    "store.version_at", "store.append_version", "store.history", "store.close_version",
    "store.out_edge_ids", "store.in_edge_ids", "store.log_tx", "store.new_tx",
    "store.new_element_id", "store.retire_edge",
}
BENCH_SPANS = {"bench_collect", "bench_plan", "collect_digests", "spark_plan"}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.req = None  # the open request's record
        self.requests = []  # per request: cls, group, start, end, pkg_s, bench
        self.stack = []  # frames: [name, start, child_s, tag]
        self.spark_path = []
        self.time = defaultdict(lambda: [0, 0.0, 0.0])  # name -> calls, total, self
        self.count = defaultdict(int)  # counter -> n
        self.epoch = time.time() - time.perf_counter()  # perf_counter -> epoch seconds
        self._undo = []

    # -- request boundaries ------------------------------------------------

    def begin(self, cls: str, group: str) -> None:
        self.req = {"cls": cls, "group": group, "start": time.perf_counter(),
                    "pkg_s": 0.0, "plan_s": 0.0, "bench": []}

    def end(self, out) -> None:
        self.req["end"] = time.perf_counter()
        self.requests.append(self.req)
        self.req = None
        if isinstance(out, dict) and "df_n" in out:
            # rows facts_difference_df returned, read off the request's digest
            self.add("diff.facts_rows", out["df_n"])

    # -- spans ---------------------------------------------------------------
    #
    # A frame is [name, start, child_s, tag].  A span's own bookkeeping is
    # inside the span, so the time between top-level spans is the
    # client's own code, not tracer overhead.

    def _open(self, name: str, spark: bool, tag=None, t0=None) -> None:
        frame = [name, t0 or time.perf_counter(), 0.0, tag]
        if spark:
            self.spark_path.append(name)
            self.sc.setLocalProperty(SPAN_PROP, ">".join(self.spark_path))
        self.stack.append(frame)

    def _close(self, t1: float, spark: bool, count: bool = True) -> None:
        name, t0, child, _ = self.stack.pop()
        dur = t1 - t0
        rec = self.time[name]
        rec[0] += count
        rec[1] += dur
        rec[2] += dur - child
        if spark:
            self.spark_path.pop()
            self.sc.setLocalProperty(SPAN_PROP, ">".join(self.spark_path) or None)
        if name == "bench.spark_plan" and self.req is not None:
            self.req["plan_s"] += dur  # called only from the benchmark's own spans
        if self.stack:
            self.stack[-1][2] += dur
        elif self.req is not None:
            t2 = time.perf_counter()
            if name.startswith("bench."):
                self.req["bench"].append((t0, t2))
            else:
                self.req["pkg_s"] += t2 - t0

    def add(self, counter: str, n: int = 1) -> None:
        self.count[counter] += n

    # -- wrappers --------------------------------------------------------------

    def _timed(self, name, fn, spark):
        tr, clock = self, time.perf_counter

        @functools.wraps(fn)
        def w(*a, **k):
            tr._open(name, spark, t0=clock())
            try:
                return fn(*a, **k)
            finally:
                tr._close(clock(), spark)
        return w

    def _timed_gen(self, name, fn, spark, on_item=None, on_done=None, tag_of=None):
        tr, clock = self, time.perf_counter

        @functools.wraps(fn)
        def w(*a, **k):
            gen = fn(*a, **k)
            tr.time[name][0] += 1
            tag = tag_of(*a, **k) if tag_of else None
            try:
                while True:
                    tr._open(name, spark, tag, clock())
                    try:
                        item = next(gen)
                    except StopIteration:
                        tr._close(clock(), spark, count=False)
                        if on_done:
                            on_done(*a, **k)
                        return
                    except BaseException:
                        tr._close(clock(), spark, count=False)
                        raise
                    tr._close(clock(), spark, count=False)
                    if on_item:
                        on_item(tag)
                    yield item
            finally:
                gen.close()
        return w

    def _counted(self, name, fn):
        tr = self
        key = name + ".calls"

        @functools.wraps(fn)
        def w(*a, **k):
            tr.count[key] += 1
            return fn(*a, **k)
        return w

    def _wrap(self, name, fn, spark):
        if name == "store.iter_visible":
            def item(_tag):
                self.add("store.iter_visible.rows_yielded")
                if len(self.stack) and self.stack[-1][3] == "lookup":
                    self.add("graph.lookup.rows_examined")

            def done(store, kind, _tx):
                self.add("store.iter_visible.rows_scanned", len(store._rows(kind)))
            return self._timed_gen(name, fn, spark, item, done)
        if name == "graph.get_vertices":
            def item(tag):
                if tag == "lookup":
                    self.add("graph.lookup.results")
            return self._timed_gen(name, fn, spark, item,
                                   tag_of=lambda g, key=None, value=None: "lookup" if key else None)
        if name == "store.to_dataframe":
            inner = self._timed(name, fn, spark)

            def w(store, sp, kind):
                fresh = store._df_cache.get(kind, (None,))[0] != store.generation
                if fresh:
                    self.add("store.to_dataframe.rows", len(store._rows(kind)))
                return inner(store, sp, kind)
            return w
        if name == "diff.facts_difference":
            inner = self._timed(name, fn, spark)

            def w(*a, **k):
                out = inner(*a, **k)
                self.add("diff.facts_rows", len(out))
                return out
            return w
        if name in COUNT_ONLY:
            return self._counted(name, fn)
        if inspect.isgeneratorfunction(fn):
            return self._timed_gen(name, fn, spark)
        return self._timed(name, fn, spark)

    def install(self) -> None:
        import importlib

        for modname, (layer, spark) in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if layer == "bench" and attr not in BENCH_SPANS:
                    continue
                if inspect.isfunction(obj) and obj.__module__ == modname:
                    self._patch(mod, attr, obj, f"{layer}.{attr}", spark)
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._patch(obj, m, fn, f"{layer}.{m}", spark)

    def _patch(self, owner, attr, fn, name, spark) -> None:
        self._undo.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(name, fn, spark))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()
        self.sc.setLocalProperty(SPAN_PROP, None)

    # -- totals ------------------------------------------------------------------

    def calls(self, name: str) -> int:
        return self.time[name][0] + self.count[name + ".calls"]


# -- Spark event log -------------------------------------------------------------

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def read_event_log(directory: str) -> tuple:
    """(per-job records, [start_ms, end_ms] of every SQL execution) from
    an uncompressed, non-rolling event log."""
    files = [f for f in glob.glob(directory + "/*") if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {files}")
    jobs, stage_job, sql = {}, {}, {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == SQL_START:
                sql[ev["executionId"]] = [ev["time"], None]
            elif kind == SQL_END:
                sql[ev["executionId"]][1] = ev["time"]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": props.get(SPAN_PROP) or "",
                    "start": ev["Submission Time"], "end": None,
                    "run": 0, "cpu": 0, "gc": 0, "sr": 0, "sw": 0, "spill": 0,
                    "in": 0, "out": 0,
                }
                for s in ev.get("Stage IDs", ()):
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if not tm or job is None:
                    continue
                job["run"] += tm.get("Executor Run Time", 0)
                job["cpu"] += tm.get("Executor CPU Time", 0)
                job["gc"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                job["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["sw"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                job["in"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                job["out"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs, [iv for iv in sql.values() if iv[1] is not None]


# -- the per-layer metric set -----------------------------------------------------

CALLS = ["store.version_at", "store.iter_visible", "store.append_version", "store.to_dataframe",
         "elements.previous_version"]
SELF_S = [
    "store.to_dataframe", "graph.get_vertices", "graph.resolve_checkpoint", "graph.sql",
    "elements.get_vertices", "elements.get_facts",
    "diff.graph_difference", "diff.facts_difference", "diff.build_difference_graph",
    "diff.explode_facts", "diff.facts_difference_df",
    "temporal.with_prev_next", "temporal.validity_intervals", "temporal.resolve_checkpoint",
    "traversal.multi_hop", "traversal.degrees",
    "analytics.connected_components", "analytics.closeness_centrality", "gremlin.run",
    "scd2_table.ingest", "scd2_table.as_of",
]
JOBS = ["analytics.connected_components", "analytics.closeness_centrality", "gremlin.run",
        "scd2_table.ingest"]
SPARK_PER_CLASS = [
    ("jobs", "count"), ("job_wall_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
]


def metric_names() -> dict:
    """Every per-layer metric name -> unit, in output order."""
    out = {f"{n}.calls": "count" for n in CALLS}
    out["store.iter_visible.rows_scanned"] = "count"
    out["store.iter_visible.rows_yielded"] = "count"
    out["store.to_dataframe.rows"] = "count"
    out["graph.lookup.rows_examined_per_result"] = "ratio"
    out["diff.facts_rows"] = "count"
    out.update({f"{n}.self_s": "s" for n in SELF_S})
    out.update({f"{n}.jobs": "count" for n in JOBS})
    out["spark.output_bytes"] = "bytes"
    out["spark.ungrouped_jobs"] = "count"
    for c in CLASSES:
        for m, u in SPARK_PER_CLASS:
            out[f"spark.{m}.{c}"] = u
        out[f"spark.plan_s.{c}"] = "s"
        out[f"driver.self_s.{c}"] = "s"
        out[f"bench.unattributed_share.{c}"] = "ratio"
    out["host.probe_ms"] = "ms"
    out["trace.overhead_pct"] = "%"
    for c in CLASSES:  # from the untraced pass; see the README for why not end-to-end
        out[f"{c}_p50_ms"] = "ms"
        out[f"{c}_p90_ms"] = "ms"
    return out


def _union(intervals) -> list:
    """Disjoint, sorted union of [start, end] intervals (jobs of one
    request can overlap)."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _overlap(a: list, b: list) -> float:
    """Length of the intersection of two disjoint sorted interval lists."""
    return sum(max(0.0, min(e1, e2) - max(s1, s2)) for s1, e1 in a for s2, e2 in b)


def unattributed(tr: Tracer, jobs: dict, sql: list) -> dict:
    """cls -> (request time, unattributed time): request time minus the
    top-level package and ``spark_plan`` spans, minus the part of the
    benchmark's other spans during which Spark executed the request's
    plans.  The client runs one request at a time, so a SQL execution
    inside a request's span is that request's."""
    by_group = defaultdict(list)
    for j in jobs.values():
        by_group[j["group"]].append((j["start"] / 1000.0, j["end"] / 1000.0))
    executions = [(s / 1000.0, e / 1000.0) for s, e in sql]
    out = {c: [0.0, 0.0] for c in CLASSES}
    for r in tr.requests:
        wall = r["end"] - r["start"]
        bench = _union([(s + tr.epoch, e + tr.epoch) for s, e in r["bench"]])
        spark = _overlap(bench, _union(by_group[r["group"]] + executions))
        out[r["cls"]][0] += wall
        out[r["cls"]][1] += wall - r["pkg_s"] - r["plan_s"] - spark
    return out


def layer_metrics(tr: Tracer, res, events: tuple, workload: str) -> dict:
    jobs, sql = events
    m = {f"{n}.calls": (tr.calls(n), "count") for n in CALLS}
    for n in ("store.iter_visible.rows_scanned", "store.iter_visible.rows_yielded",
              "store.to_dataframe.rows"):
        m[n] = (tr.count[n], "count")
    results = tr.count["graph.lookup.results"]
    m["graph.lookup.rows_examined_per_result"] = (
        tr.count["graph.lookup.rows_examined"] / results if results else 0.0, "ratio")
    m["diff.facts_rows"] = (tr.count["diff.facts_rows"], "count")
    for n in SELF_S:
        m[f"{n}.self_s"] = (tr.time[n][2], "s")
    timed = [j for j in jobs.values()
             if j["group"] and j["group"].split("/")[0] == workload
             and j["group"].split("/")[1] in CLASSES]
    for n in JOBS:
        m[f"{n}.jobs"] = (sum(1 for j in timed if n in j["span"].split(">")), "count")
    m["spark.output_bytes"] = (sum(j["out"] for j in timed), "bytes")
    m["spark.ungrouped_jobs"] = (sum(1 for j in jobs.values() if not j["group"]), "count")
    unatt = unattributed(tr, jobs, sql)
    for c in CLASSES:
        mine = [j for j in timed if j["group"].split("/")[1] == c]
        wall = sum(e - s for s, e in _union([(j["start"], j["end"]) for j in mine])) / 1000.0
        vals = {
            "jobs": len(mine), "job_wall_s": wall,
            "executor_run_s": sum(j["run"] for j in mine) / 1000.0,
            "executor_cpu_s": sum(j["cpu"] for j in mine) / 1e9,
            "gc_s": sum(j["gc"] for j in mine) / 1000.0,
            "shuffle_read_bytes": sum(j["sr"] for j in mine),
            "shuffle_write_bytes": sum(j["sw"] for j in mine),
            "spill_bytes": sum(j["spill"] for j in mine),
            "input_bytes": sum(j["in"] for j in mine),
        }
        for k, u in SPARK_PER_CLASS:
            m[f"spark.{k}.{c}"] = (vals[k], u)
        m[f"spark.plan_s.{c}"] = (sum(r["plan_s"] for r in tr.requests if r["cls"] == c), "s")
        w = res.class_wall[c]
        m[f"driver.self_s.{c}"] = (w - wall, "s")
        total, rest = unatt[c]
        m[f"bench.unattributed_share.{c}"] = (rest / total if total else 0.0, "ratio")
    return m
