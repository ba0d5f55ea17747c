"""``timeline_oltp``: auto-committed element CRUD, as-of reads, version
chains and working-set diffs on the driver-resident ``TemporalGraph``.

A seeded event stream preloads the graph through the public API with
backdated transaction times.  The timed phase interleaves write, read,
lookup, travel, diff and analytic requests.  ``Model`` is a plain-Python
shadow of the same stream: it computes every request's expected output
without touching the package.
"""

from __future__ import annotations

import datetime
import random
from collections import Counter
from dataclasses import dataclass
from typing import Iterator, Optional

from . import common
from .common import CLASSES, Request

# -- sizes -----------------------------------------------------------------

N_VERTICES = 800
N_EDGES = 2400
N_UPDATES = 1200
WRITE_EVENTS = 100  # events per write request
READ_VERTICES = 250  # point reads per read request
LOOKUPS = 1  # typed lookups per lookup request
TRAVELS = 2  # as-of reads + chain walks per travel request
DIFF_VERTICES = 2
DIFF_EDGES = 2
ANALYTIC_EVERY = 20  # one analytic request every this many rounds
LABELS = ("knows", "likes", "cites")
DEGREE_SQL = (
    "SELECT id, count(*) AS d FROM "
    "(SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges) "
    "GROUP BY id ORDER BY d DESC, id LIMIT 10"
)
ROUND_S = 0.08  # nominal seconds of one round
# A run replays its request sequence this many times, each time on a
# fresh set-up; a request's latency is its fastest replay.
PASSES = 3
# Set-ups per run; ``setup_s`` is their median.  One costs about 0.2 s,
# so a run affords enough that the first (which starts the JVM) and the
# next, still warming up, do not decide the median.
SETUP_REPS = 9

BASE = datetime.datetime(2020, 1, 1)

TYPE = ":graph.element/type"
TV = ":graph.element.type/vertex"
TE = ":graph.element.type/edge"
IN_V = ":graph.edge/inVertex"
OUT_V = ":graph.edge/outVertex"
LABEL = ":graph.edge/label"


def rounds_for(seconds: float) -> int:
    """Rounds in one pass."""
    return max(ANALYTIC_EVERY, int(round(seconds / PASSES / ROUND_S)))


# -- shadow model ------------------------------------------------------------

_SUFFIX = {bool: "boolean", int: "long", float: "double", str: "string"}


def _col(key: str, value) -> str:
    return key.replace("_", "$") + "__" + _SUFFIX[type(value)]


def _key(col: str) -> str:
    return col.rpartition("__")[0].replace("$", "_")


def _fact_str(value) -> str:
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def _parse(col: str, s: str):
    sfx = col.rpartition("__")[2]
    return {"long": int, "double": float, "boolean": lambda x: x == "true"}.get(sfx, str)(s)


class Model:
    """Versions per element: dicts with tx_from, tx_to, props (+ src,
    dst, label for edges).  One transaction per mutating call; adding or
    removing an edge re-versions both endpoints once per transaction;
    removing a vertex first removes its open edges."""

    def __init__(self) -> None:
        self.next_id = 1
        self.next_tx = 1
        self.times: dict[int, datetime.datetime] = {}
        self.v: dict[int, list] = {}
        self.e: dict[int, list] = {}
        self.edges_of: dict[int, list] = {}  # vertex -> every edge id touching it
        self.live_v: list[int] = []
        self.live_e: list[int] = []

    def _tx(self, t: datetime.datetime) -> int:
        tx = self.next_tx
        self.next_tx += 1
        self.times[tx] = t
        return tx

    def _new_id(self) -> int:
        i = self.next_id
        self.next_id += 1
        return i

    @staticmethod
    def visible(rows: list, c: Optional[int]) -> Optional[dict]:
        if not rows:
            return None
        if c is None:
            return rows[-1] if rows[-1]["tx_to"] is None else None
        for r in reversed(rows):
            if r["tx_from"] <= c and (r["tx_to"] is None or r["tx_to"] > c):
                return r
        return None

    def _bump(self, vid: int, tx: int) -> None:
        cur = self.visible(self.v[vid], None)
        if cur is None or cur["tx_from"] == tx:
            return
        cur["tx_to"] = tx
        self.v[vid].append({"tx_from": tx, "tx_to": None, "props": dict(cur["props"])})

    # mutations ---------------------------------------------------------

    def add_vertex(self, t) -> int:
        tx = self._tx(t)
        vid = self._new_id()
        self.v[vid] = [{"tx_from": tx, "tx_to": None, "props": {}}]
        self.edges_of[vid] = []
        self.live_v.append(vid)
        return vid

    def add_edge(self, t, src: int, dst: int, label: str) -> int:
        tx = self._tx(t)
        eid = self._new_id()
        self.e[eid] = [{"tx_from": tx, "tx_to": None, "src": src, "dst": dst,
                        "label": label, "props": {}}]
        self.edges_of[src].append(eid)
        if dst != src:
            self.edges_of[dst].append(eid)
        self.live_e.append(eid)
        self._bump(src, tx)
        self._bump(dst, tx)
        return eid

    def set_property(self, t, kind: str, el: int, key: str, value) -> None:
        rows = (self.v if kind == "vertex" else self.e)[el]
        cur = rows[-1]
        tx = self._tx(t)
        cur["tx_to"] = tx
        col = _col(key, value)
        props = {c: (None if _key(c) == key and c != col else x)
                 for c, x in cur["props"].items()}
        props[col] = value
        rows.append({**cur, "tx_from": tx, "tx_to": None, "props": props})

    def _remove_edge_in(self, eid: int, tx: int) -> None:
        cur = self.visible(self.e[eid], None)
        if cur is None:
            return
        cur["tx_to"] = tx
        self.live_e.remove(eid)
        self._bump(cur["src"], tx)
        self._bump(cur["dst"], tx)

    def remove_edge(self, t, eid: int) -> None:
        self._remove_edge_in(eid, self._tx(t))

    def remove_vertex(self, t, vid: int) -> None:
        tx = self._tx(t)
        for eid in sorted(x for x in self.edges_of[vid]
                          if self.e[x][-1]["tx_to"] is None):
            self._remove_edge_in(eid, tx)
        cur = self.visible(self.v[vid], None)
        cur["tx_to"] = tx
        self.live_v.remove(vid)

    # reads -------------------------------------------------------------

    def checkpoint(self, t: datetime.datetime) -> int:
        best = 0
        for tx, tt in self.times.items():
            if tt <= t and tx > best:
                best = tx
        return best

    def out_neighbours(self, vid: int, c: Optional[int]) -> list:
        out = []
        for eid in self.edges_of.get(vid, ()):
            r = self.visible(self.e[eid], c)
            if r is not None and r["src"] == vid:
                out.append(r["dst"])
        return sorted(out)

    def prop(self, vid: int, key: str):
        row = self.visible(self.v[vid], None)
        for c, x in row["props"].items():
            if _key(c) == key and x is not None:
                return x
        return None

    def facts(self, c: int, vids, eids) -> set:
        out = set()

        def edge_topology(eid, r):
            out.update({(eid, TYPE, TE), (r["dst"], TYPE, TV), (eid, IN_V, r["dst"]),
                        (r["src"], TYPE, TV), (eid, OUT_V, r["src"]), (eid, LABEL, r["label"])})

        def props(el, r):
            out.update((el, c_, _fact_str(x)) for c_, x in r["props"].items() if x is not None)

        for vid in vids:
            r = self.visible(self.v.get(vid, []), c)
            if r is None:
                continue
            out.add((vid, TYPE, TV))
            props(vid, r)
            for eid in self.edges_of[vid]:
                er = self.visible(self.e[eid], c)
                if er is not None:
                    edge_topology(eid, er)
        for eid in eids:
            r = self.visible(self.e.get(eid, []), c)
            if r is None:
                continue
            out.add((eid, TYPE, TE))
            props(eid, r)
            edge_topology(eid, r)
        return out

    def difference(self, vids, eids, t1, t2) -> tuple:
        f1 = self.facts(self.checkpoint(t1), vids, eids)
        f2 = self.facts(self.checkpoint(t2), vids, eids)
        diff = {f for f in f1 if f[1] == TYPE or f not in f2}
        ref = set()
        for f in diff:
            if f[1] != TYPE:
                ref.add(f[0])
                if f[1] in (IN_V, OUT_V):
                    ref.add(f[2])
        diff = {f for f in diff if f[1] != TYPE or f[0] in ref}
        vs = {f[0] for f in diff if f[1] == TYPE and f[2] == TV}
        es = {f[0] for f in diff if f[1] == TYPE and f[2] == TE}
        new = {old: i for i, old in enumerate(sorted(vs | es), start=1)}
        by = {}
        for f in diff:
            by.setdefault(f[0], []).append(f)
        vout, eout = [], []
        for old in vs:
            p = {"original_id": old}
            p.update({_key(a): _parse(a, x) for _, a, x in by[old] if "__" in a})
            vout.append((new[old], tuple(sorted(p.items()))))
        for old in es:
            src = dst = label = None
            p = {"original_id": old}
            for _, a, x in by[old]:
                if a == OUT_V:
                    src = new.get(x, x)
                elif a == IN_V:
                    dst = new.get(x, x)
                elif a == LABEL:
                    label = x
                elif "__" in a:
                    p[_key(a)] = _parse(a, x)
            eout.append((new[old], src, dst, label, tuple(sorted(p.items()))))
        return (tuple(sorted(vout)), tuple(sorted(eout)))

    def degree_top(self) -> list:
        d = Counter()
        for eid in self.live_e:
            r = self.e[eid][-1]
            d[r["src"]] += 1
            d[r["dst"]] += 1
        return sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:10]


# -- event stream and request plan -----------------------------------------

class Stream:
    """Seeded events: mostly increasing transaction times with a share of
    backdated ones, so as-of cut points do not follow tx order."""

    def __init__(self, seed: int, model: Model):
        self.rng = random.Random(seed * 2654435761 + 5)
        self.model = model
        self.clock = 0

    def time(self) -> datetime.datetime:
        self.clock += 60
        back = self.rng.randrange(1, 7200) if self.rng.random() < 0.1 else 0
        return BASE + datetime.timedelta(seconds=self.clock - back)

    def value(self, key: str):
        r = self.rng
        return {"grp": lambda: r.randrange(40), "name": lambda: "n%d" % r.randrange(10**6),
                "score": lambda: round(r.random() * 100, 3), "active": lambda: r.random() < 0.5,
                "w": lambda: r.randrange(100)}[key]()

    def event(self, phase_preload: bool = False) -> tuple:
        """One event applied to the model; returns it for replay."""
        m, r = self.model, self.rng
        x = r.random()
        if x < 0.15 or len(m.live_v) < 10:
            t1, t2, t3 = self.time(), self.time(), self.time()
            vid = m.add_vertex(t1)
            g, n = self.value("grp"), self.value("name")
            m.set_property(t2, "vertex", vid, "grp", g)
            m.set_property(t3, "vertex", vid, "name", n)
            return ("add_vertex", vid, (t1, t2, t3), g, n)
        if x < 0.40:
            s, d = r.choice(m.live_v), r.choice(m.live_v)
            t, lab = self.time(), r.choice(LABELS)
            return ("add_edge", m.add_edge(t, s, d, lab), t, s, d, lab)
        if x < 0.80:
            vid = r.choice(m.live_v)
            key = r.choice(("grp", "score", "score", "active", "name"))
            val, t = self.value(key), self.time()
            m.set_property(t, "vertex", vid, key, val)
            return ("set_v", vid, t, key, val)
        if x < 0.95 and m.live_e:
            eid = r.choice(m.live_e)
            val, t = self.value("w"), self.time()
            m.set_property(t, "edge", eid, "w", val)
            return ("set_e", eid, t, "w", val)
        if x < 0.99 or phase_preload or len(m.live_v) < 50:
            if not m.live_e:
                return self.event()
            eid = r.choice(m.live_e)
            t = self.time()
            m.remove_edge(t, eid)
            return ("remove_edge", eid, t)
        vid = r.choice(m.live_v)
        t = self.time()
        m.remove_vertex(t, vid)
        return ("remove_vertex", vid, t)

    def preload(self) -> list:
        m, out = self.model, []
        for _ in range(N_VERTICES):
            t1, t2, t3 = self.time(), self.time(), self.time()
            vid = m.add_vertex(t1)
            g, n = self.value("grp"), self.value("name")
            m.set_property(t2, "vertex", vid, "grp", g)
            m.set_property(t3, "vertex", vid, "name", n)
            out.append(("add_vertex", vid, (t1, t2, t3), g, n))
        for _ in range(N_EDGES):
            s, d = self.rng.choice(m.live_v), self.rng.choice(m.live_v)
            t, lab = self.time(), self.rng.choice(LABELS)
            out.append(("add_edge", m.add_edge(t, s, d, lab), t, s, d, lab))
        for _ in range(N_UPDATES):
            out.append(self.event(phase_preload=True))
        return out


def plan(seed: int, rounds: int) -> tuple:
    """(preload events, requests).  The model advances request by
    request, so each expected output reflects every write issued before
    it."""
    model = Model()
    stream = Stream(seed, model)
    events = stream.preload()
    return events, list(_requests(stream, rounds))


@dataclass
class Plan:
    events: list  # preload
    requests: list


def make_plan(seed: int, seconds: float, work: str) -> Plan:
    return Plan(*plan(seed, rounds_for(seconds)))


def _requests(stream: Stream, rounds: int) -> Iterator[Request]:
    m, rng = stream.model, stream.rng
    # The class order is shuffled per round but is the same for every
    # seed: a request pays for the caches its predecessor evicted, so a
    # tail depends on which class precedes which.  Seeds change the data
    # and parameters only.
    order_rng = random.Random(0)
    for r in range(rounds + 1):
        order = [c for c in CLASSES if c != "analytic" or r % ANALYTIC_EVERY == 0]
        order_rng.shuffle(order)
        for cls in order:
            if cls == "write":
                evs = [stream.event() for _ in range(WRITE_EVENTS)]
                ids = [e[1] for e in evs if e[0] in ("add_vertex", "add_edge")]
                req = Request(cls, {"events": evs}, ids)
            elif cls == "read":
                vids = rng.sample(m.live_v, READ_VERTICES)
                want = [(v, m.prop(v, "name"),
                         sorted((n, m.prop(n, "grp")) for n in m.out_neighbours(v, None)))
                        for v in vids]
                req = Request(cls, {"vids": vids}, want)
            elif cls == "lookup":
                vals = rng.sample(range(40), LOOKUPS)
                want = [sorted(v for v in m.live_v if m.prop(v, "grp") == x) for x in vals]
                req = Request(cls, {"key": "grp", "values": vals}, want)
            elif cls == "travel":
                points, want = [], []
                for _ in range(TRAVELS):
                    t = BASE + datetime.timedelta(seconds=rng.randrange(stream.clock))
                    vid = rng.choice(sorted(m.v))
                    points.append((t, vid))
                    c = m.checkpoint(t)
                    row = m.visible(m.v[vid], c)
                    if row is None:
                        want.append(None)
                        continue
                    chain = [(m.times[x["tx_from"]], m.times[x["tx_to"]])
                             for x in reversed(m.v[vid]) if x["tx_from"] < row["tx_from"]]
                    want.append((m.out_neighbours(vid, c), chain))
                req = Request(cls, {"points": points}, want)
            elif cls == "diff":
                vids = rng.sample(sorted(m.v), DIFF_VERTICES)
                eids = rng.sample(sorted(m.e), DIFF_EDGES)
                a = rng.randrange(stream.clock)
                t1 = BASE + datetime.timedelta(seconds=a)
                t2 = BASE + datetime.timedelta(seconds=a + rng.randrange(stream.clock - a + 1))
                req = Request(cls, {"vids": vids, "eids": eids, "t1": t1, "t2": t2},
                              m.difference(vids, eids, t1, t2))
            else:
                req = Request(cls, {}, m.degree_top())
            req.warmup = r == 0
            yield req


# -- execution against the package ---------------------------------------

def apply_event(g, ev: tuple):
    """Replay one stream event through the public API; returns the id the
    package assigned to a new element, else None."""
    op = ev[0]
    if op == "add_vertex":
        t1, t2, t3 = ev[2]
        g.set_transaction_time(t1)
        v = g.add_vertex()
        g.set_transaction_time(t2)
        v.set_property("grp", ev[3])
        g.set_transaction_time(t3)
        v.set_property("name", ev[4])
        return v.id
    g.set_transaction_time(ev[2])
    if op == "add_edge":
        return g.add_edge(None, g.get_vertex(ev[3]), g.get_vertex(ev[4]), ev[5]).id
    if op == "set_v":
        g.get_vertex(ev[1]).set_property(ev[3], ev[4])
    elif op == "set_e":
        g.get_edge(ev[1]).set_property(ev[3], ev[4])
    elif op == "remove_edge":
        g.remove_edge(g.get_edge(ev[1]))
    else:
        g.remove_vertex(g.get_vertex(ev[1]))
    return None


class State:
    def __init__(self, spark, plan: Plan, work: str):
        from fluxgraph_spark import TemporalGraph

        self.graph = g = TemporalGraph.create(spark)
        g.create_key_index("grp", "vertex")
        for ev in plan.events:
            apply_event(g, ev)

    def prepare(self, req: Request):
        from fluxgraph_spark import IN, OUT, WorkingSet

        g, p = self.graph, req.params
        if req.cls == "write":
            def run():
                ids = []
                for ev in p["events"]:
                    i = apply_event(g, ev)
                    if i is not None:
                        ids.append(i)
                return ids
            return run
        if req.cls == "read":
            def run():
                out = []
                for vid in p["vids"]:
                    v = g.get_vertex(vid)
                    nb = [(n.id, n.get_property("grp")) for n in v.get_vertices(OUT)]
                    out.append((vid, v.get_property("name"), nb))
                return out
            return run
        if req.cls == "lookup":
            return lambda: [sorted(v.id for v in g.get_vertices(p["key"], x)) for x in p["values"]]
        if req.cls == "travel":
            def run():
                out = []
                for t, vid in p["points"]:
                    v = g.as_of(t).get_vertex(vid)
                    if v is None:
                        out.append(None)
                        continue
                    nb = [n.id for n in v.get_vertices(OUT)]
                    out.append((nb, [x.time_interval() for x in v.previous_versions()]))
                return out
            return run
        if req.cls == "diff":
            def run():
                d = g.difference(WorkingSet(p["vids"], p["eids"]), p["t1"], p["t2"])
                vs = sorted((v.id, tuple(sorted((k, v.get_property(k)) for k in v.get_property_keys())))
                            for v in d.get_vertices())
                es = sorted((e.id, e.get_vertex(OUT).id, e.get_vertex(IN).id, e.get_label(),
                             tuple(sorted((k, e.get_property(k)) for k in e.get_property_keys())))
                            for e in d.get_edges())
                return (tuple(vs), tuple(es))
            return run
        return lambda: [tuple(r) for r in common.bench_collect(g.sql(DEGREE_SQL))]

    def check(self, req: Request, out) -> bool:
        # neighbour order is not part of the API: sort outside the timed call
        if req.cls == "read":
            out = [(v, name, sorted(nb)) for v, name, nb in out]
        elif req.cls == "travel":
            out = [x and (sorted(x[0]), x[1]) for x in out]
        return out == req.expected

    def final_check(self) -> bool:
        return True

    def close(self) -> None:
        pass

