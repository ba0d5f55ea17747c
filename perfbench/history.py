"""``history_olap``: set-at-a-time history analytics on the parquet
scale path.

Setup writes seeded SCD2 vertex, edge and tx_log parquet, opens them as
a ``DataFrameGraph`` and commits an ``Scd2ParquetTable`` that the
``write`` class keeps mutating.  Every request ends in one action that
returns a digest; the expected digest comes from DuckDB over the same
parquet files (or, for the mutated table and the graph algorithms,
from plain Python over rows DuckDB returns).
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass
from typing import Iterator

from . import common
from .common import CLASSES, Request, py_digest

# -- sizes -----------------------------------------------------------------

N_VERTICES = 2000
N_EDGES = 6000
VERTEX_UPDATES = 4000  # property updates spread over the vertices
EDGE_UPDATES = 2000
EDGE_DELETES = 300
N_KEYS = 2000  # Scd2ParquetTable keys
BATCH_KEYS = 20  # ~1% of the keys per write request
N_BATCHES = 400  # pre-generated change batches (more than any run uses)
LOOKUP_KEYS = 8
FRONTIER = 6
TRAVEL_WINDOW = 300  # vertex ids per travel request
DIFF_WINDOW = 0.006  # share of all transactions between t1 and t2
N_SOURCES = 8
CLOSENESS_ITERS = 4
GREMLIN_SEEDS = 3
GREMLIN = "g.v({ids}).out('follows').loop(1){{it.loops < 4}}{{true}}.dedup"
LABELS = ("follows", "likes")

BASE = datetime.datetime(2021, 1, 1)
TX_STEP = datetime.timedelta(seconds=10)
TABLE_BASE = datetime.datetime(2022, 1, 1, tzinfo=datetime.timezone.utc)

# A round runs one request of each class.  More of the cheaper ones
# would lengthen a run, and comparing two commits takes dozens of runs
# of each workload that together must stay under an hour.
ROUND_S = 6.0  # nominal seconds of one round
# A run replays its request sequence this many times, each time on a
# fresh set-up; a request's latency is its fastest replay.  Requests
# cost 0.2-2 s, so a run affords two.
PASSES = 2
# Set-ups per run; ``setup_s`` is their median.  One costs about 3 s.
SETUP_REPS = 3


def rounds_for(seconds: float) -> int:
    """Rounds in one pass."""
    return max(1, int(round(seconds / PASSES / ROUND_S)))


def tx_time(tx: int) -> datetime.datetime:
    return BASE + tx * TX_STEP


# -- data generation ----------------------------------------------------------

def generate(seed: int) -> dict:
    """SCD2 history of a property graph: every event is one transaction;
    an element's versions chain by tx_from/tx_to.  Vertices are never
    deleted, so every edge endpoint exists in every snapshot that holds
    the edge."""
    rng = random.Random(seed * 7919 + 1)
    events = []  # (time, kind, element, payload)
    v_created = {}
    for v in range(1, N_VERTICES + 1):
        t = rng.random() * 0.3
        v_created[v] = t
        events.append((t, "v", v, None))
    for _ in range(VERTEX_UPDATES):
        v = rng.randint(1, N_VERTICES)
        events.append((v_created[v] + rng.random() * (1 - v_created[v]), "vu", v, None))
    e_meta = {}
    e_created = {}
    for i in range(N_EDGES):
        e = N_VERTICES + 1 + i
        s, d = rng.randint(1, N_VERTICES), rng.randint(1, N_VERTICES)
        lo = max(v_created[s], v_created[d])
        t = lo + rng.random() * (0.95 - lo)
        e_meta[e] = (s, d, LABELS[0] if rng.random() < 0.7 else LABELS[1])
        e_created[e] = t
        events.append((t, "e", e, None))
    for _ in range(EDGE_UPDATES):
        e = rng.randint(N_VERTICES + 1, N_VERTICES + N_EDGES)
        events.append((e_created[e] + rng.random() * (1 - e_created[e]), "eu", e, None))
    for e in rng.sample(sorted(e_meta), EDGE_DELETES):
        events.append((e_created[e] + rng.random() * (1 - e_created[e]), "ed", e, None))
    events.sort(key=lambda x: (x[0], x[1], x[2]))

    vrows, erows, log = [], [], []
    open_v, open_e = {}, {}  # element -> index of its open row
    deleted = set()
    for tx, (_, kind, el, _) in enumerate(events, start=1):
        if kind == "ed" and el in deleted:
            continue
        if kind in ("v", "vu"):
            prev = open_v.get(el)
            if prev is None:
                props = {"name": f"v{el}", "grp": rng.randrange(40), "score": rng.randrange(1000)}
                prev_tx = None
            else:
                row = vrows[prev]
                row["tx_to"] = tx
                props = {k: row[k] for k in ("name", "grp", "score")}
                key = rng.choice(("name", "grp", "score", "score"))
                if key == "name":
                    props["name"] = None if rng.random() < 0.1 else f"v{el}x{tx}"
                elif key == "grp":
                    props["grp"] = rng.randrange(40)
                else:
                    props["score"] = rng.randrange(1000)
                prev_tx = row["tx_from"]
            open_v[el] = len(vrows)
            vrows.append({"id": el, "tx_from": tx, "tx_to": None, **props})
            log.append((tx, el, prev_tx, "vertex"))
        else:
            if el in deleted:
                continue
            prev = open_e.get(el)
            s, d, lab = e_meta[el]
            if prev is None:
                if kind != "e":
                    continue  # update/delete ordered before creation: dropped
                w, prev_tx = rng.randrange(100), None
            else:
                row = erows[prev]
                row["tx_to"] = tx
                prev_tx = row["tx_from"]
                if kind == "ed":
                    deleted.add(el)
                    del open_e[el]
                    log.append((tx, el, prev_tx, "edge"))
                    continue
                w = rng.randrange(100)
            open_e[el] = len(erows)
            erows.append({"id": el, "src": s, "dst": d, "label": lab,
                          "tx_from": tx, "tx_to": None, "weight": w})
            log.append((tx, el, prev_tx, "edge"))
    return {"vertices": vrows, "edges": erows, "tx_log": log, "n_tx": len(events)}


def write_parquet(data: dict, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    paths = {k: os.path.join(out, f"{k}.parquet") for k in ("vertices", "edges", "tx_log")}
    v = data["vertices"]
    pq.write_table(pa.table({
        "id": pa.array([r["id"] for r in v], pa.int64()),
        "tx_from": pa.array([r["tx_from"] for r in v], pa.int64()),
        "tx_to": pa.array([r["tx_to"] for r in v], pa.int64()),
        "name__string": pa.array([r["name"] for r in v], pa.string()),
        "grp__long": pa.array([r["grp"] for r in v], pa.int64()),
        "score__long": pa.array([r["score"] for r in v], pa.int64()),
    }), paths["vertices"])
    e = data["edges"]
    pq.write_table(pa.table({
        "id": pa.array([r["id"] for r in e], pa.int64()),
        "src": pa.array([r["src"] for r in e], pa.int64()),
        "dst": pa.array([r["dst"] for r in e], pa.int64()),
        "label": pa.array([r["label"] for r in e], pa.string()),
        "tx_from": pa.array([r["tx_from"] for r in e], pa.int64()),
        "tx_to": pa.array([r["tx_to"] for r in e], pa.int64()),
        "weight__long": pa.array([r["weight"] for r in e], pa.int64()),
    }), paths["edges"])
    lg = data["tx_log"]
    pq.write_table(pa.table({
        "tx_id": pa.array([r[0] for r in lg], pa.int64()),
        "tx_time": pa.array([tx_time(r[0]) for r in lg], pa.timestamp("us")),
        "element_id": pa.array([r[1] for r in lg], pa.int64()),
        "prev_tx_id": pa.array([r[2] for r in lg], pa.int64()),
        "kind": pa.array([r[3] for r in lg], pa.string()),
    }), paths["tx_log"])
    return paths


def table_batches(seed: int) -> list:
    """Change batches for the SCD2 table: batch 0 loads every key, batch
    i > 0 changes BATCH_KEYS keys at a strictly later business time."""
    rng = random.Random(seed * 104729 + 3)
    out = [[(k, TABLE_BASE, rng.randrange(10**6), _tag(rng)) for k in range(N_KEYS)]]
    for i in range(1, N_BATCHES + 1):
        ts = TABLE_BASE + datetime.timedelta(days=i)
        keys = sorted(rng.sample(range(N_KEYS), BATCH_KEYS))
        out.append([(k, ts, rng.randrange(10**6), _tag(rng)) for k in keys])
    return out


def _tag(rng: random.Random):
    return None if rng.random() < 0.05 else "t%d" % rng.randrange(10**5)


def write_batches(batches: list, out: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(i, *r) for i, b in enumerate(batches) for r in b]
    path = os.path.join(out, "batches.parquet")
    pq.write_table(pa.table({
        "batch": pa.array([r[0] for r in rows], pa.int64()),
        "k": pa.array([r[1] for r in rows], pa.int64()),
        "valid_from": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
        "v": pa.array([r[3] for r in rows], pa.int64()),
        "s": pa.array([r[4] for r in rows], pa.string()),
    }), path)
    return path


# -- the request plan (independent of the package) ------------------------

class Oracle:
    """Expected answers: DuckDB over the generated parquet, plain Python
    for the mutated SCD2 table and the graph algorithms."""

    def __init__(self, paths: dict, n_tx: int, batches: list):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute("SET TimeZone = 'UTC'")
        for k, p in paths.items():
            self.con.execute(f"CREATE VIEW {k} AS SELECT * FROM read_parquet('{p}')")
        self.n_tx = n_tx
        self.batches = batches
        self.table = {}  # key -> [(valid_from, v, s)] in time order
        self._degrees = None
        self._snap_cache = {}

    def apply_batch(self, i: int) -> None:
        for k, ts, v, s in self.batches[i]:
            self.table.setdefault(k, []).append((ts, v, s))

    def history_digest(self, keys=None) -> tuple:
        """(count, hash) of every version of ``keys`` (default: all),
        as ``(k, valid_from, v, s, valid_to)`` in epoch seconds."""
        rows = []
        for k in (self.table if keys is None else keys):
            vs = self.table.get(k, ())
            for i, (ts, v, s) in enumerate(vs):
                end = int(vs[i + 1][0].timestamp()) if i + 1 < len(vs) else None
                rows.append((k, int(ts.timestamp()), v, s, end))
        return py_digest(rows)

    def lookup(self, ts, keys) -> tuple:
        rows = []
        for k in keys:
            live = [r for r in self.table.get(k, ()) if r[0] <= ts]
            if live:
                _, v, s = live[-1]
                rows.append((k, v, s))
        n, h = py_digest(rows)
        return {"lk_n": n, "lk_h": h}

    def read(self, frontier) -> dict:
        ids = ",".join(str(i) for i in frontier)
        hop2 = self.con.execute(f"""
            WITH e AS (SELECT src, dst FROM edges WHERE tx_to IS NULL),
                 h1 AS (SELECT e.dst AS id FROM e WHERE e.src IN ({ids}))
            SELECT e.dst FROM e JOIN h1 ON e.src = h1.id""").fetchall()
        if self._degrees is None:
            self._degrees = py_digest(self.con.execute("""
                WITH e AS (SELECT src, dst FROM edges WHERE tx_to IS NULL)
                SELECT id, count(*) AS d FROM
                  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
                GROUP BY id ORDER BY d DESC, id LIMIT 10""").fetchall())
        n, h = py_digest(hop2)
        return {"hop_n": n, "hop_h": h, "deg_n": self._degrees[0], "deg_h": self._degrees[1]}

    def travel(self, t, lo, hi) -> dict:
        rows = self.con.execute(f"""
            WITH cp AS (SELECT coalesce(max(tx_id), 0) AS c FROM tx_log WHERE tx_time <= ?),
            h AS (SELECT id, tx_from, tx_to,
                    lag(tx_from) OVER (PARTITION BY id ORDER BY tx_from) AS p,
                    lead(tx_from) OVER (PARTITION BY id ORDER BY tx_from) AS n
                  FROM vertices WHERE id >= {lo} AND id < {hi}),
            times AS (SELECT DISTINCT tx_id, tx_time FROM tx_log)
            SELECT h.id, h.tx_from, h.p, h.n,
                   epoch(a.tx_time)::BIGINT,
                   epoch(coalesce(b.tx_time, TIMESTAMP '9999-12-31 23:59:59'))::BIGINT
            FROM h
            CROSS JOIN cp
            LEFT JOIN times a ON a.tx_id = h.tx_from
            LEFT JOIN times b ON b.tx_id = h.tx_to
            WHERE h.tx_from <= cp.c AND (h.tx_to IS NULL OR h.tx_to > cp.c)""", [t]).fetchall()
        n, h = py_digest(rows)
        return {"tr_n": n, "tr_h": h}

    def diff(self, t1, t2) -> dict:
        rows = self.con.execute("""
            WITH c1 AS (SELECT coalesce(max(tx_id), 0) AS c FROM tx_log WHERE tx_time <= ?),
                 c2 AS (SELECT coalesce(max(tx_id), 0) AS c FROM tx_log WHERE tx_time <= ?),
            f(snap, id, attr, value_str) AS (
              SELECT s, id, a, v FROM (
                SELECT 1 AS s, v.* FROM vertices v, c1
                  WHERE tx_from <= c1.c AND (tx_to IS NULL OR tx_to > c1.c)
                UNION ALL
                SELECT 2, v.* FROM vertices v, c2
                  WHERE tx_from <= c2.c AND (tx_to IS NULL OR tx_to > c2.c)) x,
              LATERAL (VALUES ('name__string', name__string),
                              ('grp__long', CAST(grp__long AS VARCHAR)),
                              ('score__long', CAST(score__long AS VARCHAR)),
                              (':graph.element/type', ':graph.element.type/vertex')) t(a, v)
              UNION ALL
              SELECT s, id, a, v FROM (
                SELECT 1 AS s, e.* FROM edges e, c1
                  WHERE tx_from <= c1.c AND (tx_to IS NULL OR tx_to > c1.c)
                UNION ALL
                SELECT 2, e.* FROM edges e, c2
                  WHERE tx_from <= c2.c AND (tx_to IS NULL OR tx_to > c2.c)) x,
              LATERAL (VALUES ('weight__long', CAST(weight__long AS VARCHAR)),
                              (':graph.edge/outVertex', CAST(src AS VARCHAR)),
                              (':graph.edge/inVertex', CAST(dst AS VARCHAR)),
                              (':graph.edge/label', label),
                              (':graph.element/type', ':graph.element.type/edge')) t(a, v)),
            f1 AS (SELECT id, attr, value_str FROM f WHERE snap = 1 AND value_str IS NOT NULL),
            f2 AS (SELECT id, attr, value_str FROM f WHERE snap = 2 AND value_str IS NOT NULL),
            surv AS (SELECT * FROM f1 WHERE attr <> ':graph.element/type'
                     AND NOT EXISTS (SELECT 1 FROM f2 WHERE f2.id = f1.id
                       AND f2.attr = f1.attr AND f2.value_str = f1.value_str)),
            ref AS (SELECT id AS r FROM surv UNION
                    SELECT CAST(value_str AS BIGINT) FROM surv
                    WHERE attr IN (':graph.edge/inVertex', ':graph.edge/outVertex'))
            SELECT * FROM surv
            UNION ALL
            SELECT * FROM f1 WHERE attr = ':graph.element/type' AND id IN (SELECT r FROM ref)
            """, [t1, t2]).fetchall()
        n, h = py_digest(rows)
        return {"df_n": n, "df_h": h}

    def snapshot_edges(self, t) -> list:
        if t not in self._snap_cache:
            self._snap_cache[t] = self.con.execute("""
                WITH cp AS (SELECT coalesce(max(tx_id), 0) AS c FROM tx_log WHERE tx_time <= ?)
                SELECT src, dst, label FROM edges, cp
                WHERE tx_from <= cp.c AND (tx_to IS NULL OR tx_to > cp.c)""", [t]).fetchall()
        return self._snap_cache[t]

    def analytic(self, t, sources, seeds) -> dict:
        edges = self.snapshot_edges(t)
        # connected components over the undirected edge set, min-id labels
        parent = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for s, d, _ in edges:
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
        cc = py_digest((v, find(v)) for v in parent)
        # closeness: directed BFS levels <= CLOSENESS_ITERS per source
        adj = {}
        for s, d, _ in set(edges):
            adj.setdefault(s, set()).add(d)
        close = []
        for src in sources:
            seen, frontier, total = {src: 0}, [src], 0
            for lev in range(1, CLOSENESS_ITERS + 1):
                nxt = []
                for x in frontier:
                    for y in adj.get(x, ()):
                        if y not in seen:
                            seen[y] = lev
                            total += lev
                            nxt.append(y)
                frontier = nxt
            close.append((src, len(seen), total))
        cl = py_digest(close)
        # gremlin: distinct vertices at the end of 'follows' walks of 1..3 hops
        fadj = {}
        for s, d, lab in edges:
            if lab == "follows":
                fadj.setdefault(s, []).append(d)
        reached, frontier = set(), set(seeds)
        for _ in range(3):
            frontier = {y for x in frontier for y in fadj.get(x, ())}
            reached |= frontier
        gr = py_digest((v,) for v in reached)
        return {"cc_n": cc[0], "cc_h": cc[1], "cl_n": cl[0], "cl_h": cl[1],
                "gr_n": gr[0], "gr_h": gr[1]}


def plan(seed: int, rounds: int, oracle: Oracle) -> Iterator[Request]:
    """The seeded request sequence.  Round 0 is the warm-up (one request
    per class); then ``rounds`` rounds of the weighted mix, shuffled per
    round so the classes interleave."""
    rng = random.Random(seed * 31337 + 11)
    order_rng = random.Random(0)  # the same class order for every seed, as in timeline
    n_tx = oracle.n_tx
    t_lo, t_hi = tx_time(int(n_tx * 0.35)), tx_time(n_tx)
    span = (t_hi - t_lo).total_seconds()
    diff_width = datetime.timedelta(seconds=DIFF_WINDOW * n_tx * TX_STEP.total_seconds())
    batch = 0

    def rand_t():
        return t_lo + datetime.timedelta(seconds=int(rng.random() * span))

    def vertices(n):
        return sorted(rng.sample(range(1, N_VERTICES + 1), n))

    for r in range(rounds + 1):
        order = list(CLASSES)
        order_rng.shuffle(order)
        for cls in order:
            if cls == "write":
                batch += 1
                keys = [r[0] for r in oracle.batches[batch]]
                oracle.apply_batch(batch)
                req = Request(cls, {"batch": batch, "keys": keys},
                              (len(keys), oracle.history_digest(keys)))
            elif cls == "lookup":
                last = oracle.batches[batch][0][1]
                ts = TABLE_BASE + datetime.timedelta(
                    seconds=int(rng.random() * (last - TABLE_BASE).total_seconds()) + 1)
                keys = sorted(rng.sample(range(N_KEYS), LOOKUP_KEYS))
                req = Request(cls, {"ts": ts, "keys": keys}, oracle.lookup(ts, keys))
            elif cls == "read":
                front = vertices(FRONTIER)
                req = Request(cls, {"frontier": front}, oracle.read(front))
            elif cls == "travel":
                t = rand_t()
                lo = rng.randrange(1, N_VERTICES - TRAVEL_WINDOW)
                req = Request(cls, {"t": t, "lo": lo, "hi": lo + TRAVEL_WINDOW},
                              oracle.travel(t, lo, lo + TRAVEL_WINDOW))
            elif cls == "diff":
                t1 = rand_t()
                req = Request(cls, {"t1": t1, "t2": t1 + diff_width},
                              oracle.diff(t1, t1 + diff_width))
            else:
                # the last tenth of the history: snapshots of about one size
                t = t_lo + datetime.timedelta(seconds=int(span * (0.9 + 0.1 * rng.random())))
                sources, seeds = vertices(N_SOURCES), vertices(GREMLIN_SEEDS)
                req = Request(cls, {"t": t, "sources": sources, "seeds": seeds},
                              oracle.analytic(t, sources, seeds))
            req.warmup = r == 0
            yield req


@dataclass
class Plan:
    paths: dict  # graph parquet: vertices, edges, tx_log
    batches_path: str
    requests: list
    table_want: tuple  # digest of the whole table after every write


def make_plan(seed: int, seconds: float, work: str) -> Plan:
    """Data files and the request sequence with expected answers."""
    data = generate(seed)
    paths = write_parquet(data, os.path.join(work, "graph"))
    batches = table_batches(seed)
    bpath = write_batches(batches, work)
    oracle = Oracle(paths, data["n_tx"], batches)
    oracle.apply_batch(0)
    requests = list(plan(seed, rounds_for(seconds), oracle))
    oracle.con.close()
    return Plan(paths, bpath, requests, oracle.history_digest())


# -- execution against the package ---------------------------------------

class State:
    def __init__(self, spark, plan: Plan, work: str):
        from fluxgraph_spark import TemporalGraph
        from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

        self.spark = spark
        self.table_want = plan.table_want
        paths, rd = plan.paths, spark.read.parquet
        self.graph = TemporalGraph.from_dataframes(
            spark, rd(paths["vertices"]), rd(paths["edges"]), rd(paths["tx_log"]))
        self.batches = rd(plan.batches_path)
        self.table = Scd2ParquetTable(spark, os.path.join(work, "table"), ["k"], n_buckets=16)
        self.table.ingest(self._batch(0))

    def _batch(self, i: int):
        from pyspark.sql import functions as F

        return self.batches.where(F.col("batch") == i).drop("batch")

    def prepare(self, req: Request):
        from pyspark.sql import functions as F

        from fluxgraph_spark import OUT, model as M
        from fluxgraph_spark.operators import analytics, diff, gremlin, temporal, traversal

        p, g, spark = req.params, self.graph, self.spark
        digests, shape = common.collect_digests, common.bench_plan

        def ids_frame(ids):
            return spark.range(1).select(
                F.explode(F.array(*[F.lit(int(i)) for i in ids])).alias("id"))

        if req.cls == "write":
            changes = self._batch(p["batch"])
            return lambda: self.table.ingest(changes)
        if req.cls == "lookup":
            def run():
                df = self.table.as_of(p["ts"], keys=p["keys"])
                return digests([(df, ["k", "v", "s"], "lk")])
            return run
        if req.cls == "read":
            front = ids_frame(p["frontier"])

            def run():
                g.set_checkpoint_time(None)
                e = g.edges_df()
                hop = traversal.multi_hop(front, e, [(OUT, ()), (OUT, ())])
                top = shape(lambda d: d.orderBy(F.desc("degree"), F.asc("id")).limit(10),
                            traversal.degrees(e))
                return digests([(hop, ["id"], "hop"), (top, ["id", "degree"], "deg")])
            return run
        if req.cls == "travel":
            win = (F.col("id") >= p["lo"]) & (F.col("id") < p["hi"])
            cols = ["id", "tx_from", "prev_tx_from", "next_tx_from",
                    "unix_timestamp(valid_from)", "unix_timestamp(valid_to)"]

            def run():
                g.set_checkpoint_time(p["t"])
                cur = shape(lambda d: d.where(win).select("id", "tx_from"), g.vertices_df())
                chains = temporal.with_prev_next(shape(lambda d: d.where(win),
                                                       g.vertices_df(snapshot=False)))
                vis = shape(lambda a, b: a.join(b, ["id", "tx_from"], "left_semi"), chains, cur)
                out = temporal.validity_intervals(vis, g.tx_log_df())
                return digests([(out, cols, "tr")])
            return run
        if req.cls == "diff":
            def run():
                snaps = []
                for t in (p["t1"], p["t2"]):
                    g.set_checkpoint_time(t)
                    snaps.append(shape(lambda a, b: a.unionByName(b),
                                       diff.explode_facts(g.vertices_df(), M.VERTEX_KIND),
                                       diff.explode_facts(g.edges_df(), M.EDGE_KIND)))
                out = diff.facts_difference_df(*snaps)
                return digests([(out, ["id", "attr", "value_str"], "df")])
            return run
        sources = ids_frame(p["sources"])
        script = GREMLIN.format(ids=", ".join(str(i) for i in p["seeds"]))

        def run():
            g.set_checkpoint_time(p["t"])
            v, e = g.vertices_df(), g.edges_df()
            cc = analytics.connected_components(shape(lambda d: d.select("src", "dst"), e),
                                                max_iters=60)
            cl = analytics.closeness_centrality(e, sources, max_iters=CLOSENESS_ITERS)
            gr = gremlin.run(script, v, e)
            return digests([(cc, ["id", "component"], "cc"),
                            (cl, ["source", "n_reached", "sum_levels"], "cl"),
                            (gr, ["id"], "gr")])
        return run

    def _table_digest(self, keys=None) -> tuple:
        from pyspark.sql import functions as F

        df = self.table.read()
        if keys is not None:
            df = df.where(F.col("k").isin(keys))
        cols = ["k", "unix_timestamp(valid_from)", "v", "s", "unix_timestamp(valid_to)"]
        got = common.collect_digests([(df, cols, "t")])
        return (got["t_n"], got["t_h"])

    def check(self, req: Request, out) -> bool:
        if req.cls == "write":
            # the ingest's audit record, then every version of the keys
            # it touched (one untimed job)
            n, want = req.expected
            return (out.get("n_changes") == n and not out.get("skipped")
                    and self._table_digest(req.params["keys"]) == want)
        return out == req.expected

    def close(self) -> None:
        pass

    def final_check(self) -> bool:
        """The whole committed table against the Python model."""
        return self._table_digest() == self.table_want
