"""oltp_timetravel: element-at-a-time Blueprints CRUD and time travel on a
mutable TemporalGraph (store, graph, elements and the driver-side diff).

Every read is checked against ``Shadow``, an independent model of every
write the benchmark made: per element, the list of (tx, state) versions,
with the engine's documented rules (an edge write bumps both endpoint
vertices once per tx; removing a vertex cascades to its incident edges;
as-of resolves to the max tx whose time is <= t)."""

from __future__ import annotations

import bisect
import datetime
import itertools
import random

import gen
import layers
from harness import Op

PARAMS = dict(gen.OLTP, hot_share=0.5, reads_per_op=8)

# one cycle of the closed loop; the counts fix the class mix
CYCLE = (
    ["get_prop"] * 4 + ["adj"] * 3 + ["get_edge"]
    + ["asof_prop"] * 2 + ["prev_walk", "next_walk", "interval", "asof_adj",
                           "elem_diff", "ws_diff"]
    + ["set_prop"] * 2 + ["add_edge", "remove_edge"]
)
CLASS = {
    "get_prop": "read", "adj": "read", "get_edge": "read",
    "asof_prop": "history", "prev_walk": "history", "next_walk": "history",
    "interval": "history", "asof_adj": "history", "elem_diff": "history",
    "ws_diff": "history", "asof_view": "history",
    "set_prop": "write", "add_edge": "write", "remove_edge": "write",
    "remove_vertex": "write", "add_vertex": "write",
}

TYPE_ATTR = ":graph.element/type"
TV, TE = ":graph.element.type/vertex", ":graph.element.type/edge"
IN_V, OUT_V, LABEL = ":graph.edge/inVertex", ":graph.edge/outVertex", ":graph.edge/label"
COL = {"name": "name__string", "score": "score__long"}
MAX_TIME = datetime.datetime(9999, 12, 31, 23, 59, 59)


class Shadow:
    def __init__(self) -> None:
        self.tx = 0
        self.times: dict[int, datetime.datetime] = {}
        self.next_id = 1
        self.v: dict[int, list] = {}  # id -> [(tx, props | None)]
        self.e: dict[int, list] = {}
        self.emeta: dict[int, tuple] = {}  # id -> (src, dst, label)
        self.out: dict[int, list] = {}
        self.inn: dict[int, list] = {}

    def _tx(self, t) -> int:
        self.tx += 1
        self.times[self.tx] = t
        return self.tx

    def _bump(self, vid: int, tx: int) -> None:
        h = self.v[vid]
        if h[-1][1] is not None and h[-1][0] != tx:
            h.append((tx, dict(h[-1][1])))

    def add_vertex(self, t) -> int:
        tx = self._tx(t)
        vid, self.next_id = self.next_id, self.next_id + 1
        self.v[vid] = [(tx, {})]
        self.out[vid], self.inn[vid] = [], []
        return vid

    def add_edge(self, src: int, dst: int, label: str, t) -> int:
        tx = self._tx(t)
        eid, self.next_id = self.next_id, self.next_id + 1
        self.e[eid] = [(tx, {})]
        self.emeta[eid] = (src, dst, label)
        self.out[src].append(eid)
        self.inn[dst].append(eid)
        self._bump(src, tx)
        self._bump(dst, tx)
        return eid

    def set_prop(self, vid: int, key: str, value, t) -> None:
        tx = self._tx(t)
        h = self.v[vid]
        h.append((tx, {**h[-1][1], key: value}))

    def _close_edge(self, eid: int, tx: int) -> None:
        self.e[eid].append((tx, None))
        src, dst, _ = self.emeta[eid]
        self._bump(src, tx)
        self._bump(dst, tx)

    def remove_edge(self, eid: int, t) -> None:
        self._close_edge(eid, self._tx(t))

    def remove_vertex(self, vid: int, t) -> list[int]:
        tx = self._tx(t)
        inc = sorted({x for x in self.out[vid] + self.inn[vid] if self.e[x][-1][1] is not None})
        for eid in inc:
            self._close_edge(eid, tx)
        self.v[vid].append((tx, None))
        return inc

    # -- reads ----------------------------------------------------------

    def checkpoint(self, t) -> int:
        best = 0
        for tx, tt in self.times.items():
            if tt <= t and tx > best:
                best = tx
        return best

    @staticmethod
    def index_at(h: list, cp) -> int:
        """Index of the version visible at ``cp`` (None = current), -1 if
        none; entries sharing a tx resolve to the last one."""
        if cp is None:
            return len(h) - 1
        return bisect.bisect_right([tx for tx, _ in h], cp) - 1

    def state(self, h: list, cp):
        i = self.index_at(h, cp)
        return None if i < 0 else h[i][1]

    def vertex_facts(self, vid: int, cp) -> set:
        props = self.state(self.v[vid], cp)
        facts = {(vid, TYPE_ATTR, TV)}
        facts |= {(vid, COL[k], str(val)) for k, val in props.items()}
        for eid in self.out[vid] + self.inn[vid]:
            if self.state(self.e[eid], cp) is not None:
                facts |= self._topology(eid)
        return facts

    def edge_facts(self, eid: int, cp) -> set:
        return {(eid, TYPE_ATTR, TE)} | self._topology(eid)

    def _topology(self, eid: int) -> set:
        src, dst, label = self.emeta[eid]
        return {(eid, TYPE_ATTR, TE), (dst, TYPE_ATTR, TV), (eid, IN_V, dst),
                (src, TYPE_ATTR, TV), (eid, OUT_V, src), (eid, LABEL, label)}


def expected_difference(f1: set, f2: set) -> tuple:
    """The difference graph's content, by the reference's documented
    rules: facts1 minus facts2 with type facts exempt, then drop type
    facts of elements no surviving fact references."""
    diff = {f for f in f1 if f[1] == TYPE_ATTR or f not in f2}
    ref = {f[0] for f in diff if f[1] != TYPE_ATTR}
    ref |= {f[2] for f in diff if f[1] in (IN_V, OUT_V)}
    kept = {f for f in diff if f[1] != TYPE_ATTR or f[0] in ref}
    vertices, edges = [], []
    for eid, attr, val in kept:
        if attr != TYPE_ATTR:
            continue
        if val == TV:
            props = sorted((c.split("__")[0], int(x) if c.endswith("__long") else x)
                           for i, c, x in kept if i == eid and c in COL.values())
            vertices.append((eid, props))
        else:
            label = next((x for i, c, x in kept if i == eid and c == LABEL), None)
            edges.append((eid, label))
    return sorted(vertices), sorted(edges)


def observed_difference(dg) -> tuple:
    vertices = []
    for v in dg.get_vertices():
        keys = sorted(v.get_property_keys() - {"original_id"})
        vertices.append((v.get_property("original_id"), [(k, v.get_property(k)) for k in keys]))
    edges = [(e.get_property("original_id"), e._row()["label"]) for e in dg.get_edges()]
    return sorted(vertices), sorted(edges)


class State:
    def __init__(self, spark, seed: int) -> None:
        from fluxgraph_spark import TemporalGraph

        self.spark = spark
        self.rng = random.Random(seed * 7919 + 1)
        self.g = TemporalGraph.create(spark)
        self.sh = Shadow()
        built = gen.oltp_build(seed)
        self.clock = built["clock"]
        self.ord2id: dict[int, int] = {}
        n = PARAMS["vertices"]
        self.hot_cum = gen.zipf_weights(n, PARAMS["zipf_s"])
        for cmd in built["script"]:
            self._apply_build(cmd)
        self.hot = [self.ord2id[o] for o in built["hot"]]
        self.protected = set(self.hot[:50])  # never removed: they carry the long chains
        self.live_v = list(self.ord2id.values())
        self.live_e = [eid for eid, h in self.sh.e.items() if h[-1][1] is not None]

    def _apply_build(self, cmd) -> None:
        g, sh = self.g, self.sh
        if cmd[0] == "v":
            g.set_transaction_time(cmd[2])
            self.ord2id[cmd[1]] = g.add_vertex().id
            sh.add_vertex(cmd[2])
        elif cmd[0] == "pv":
            _, o, key, val, t = cmd
            g.set_transaction_time(t)
            g.get_vertex(self.ord2id[o]).set_property(key, val)
            sh.set_prop(self.ord2id[o], key, val, t)
        else:
            _, s, d, label, t = cmd
            g.set_transaction_time(t)
            g.add_edge(None, g.get_vertex(self.ord2id[s]), g.get_vertex(self.ord2id[d]), label)
            sh.add_edge(self.ord2id[s], self.ord2id[d], label, t)

    # -- choices --------------------------------------------------------

    def pick_vertex(self) -> int:
        """Half the picks Zipf-hot (long chains), half uniform."""
        while True:
            if self.rng.random() < PARAMS["hot_share"]:
                vid = self.hot[self.rng.choices(range(len(self.hot)), cum_weights=self.hot_cum)[0]]
            else:
                vid = self.rng.choice(self.live_v)
            if self.sh.v[vid][-1][1] is not None:
                return vid

    def pick_time(self) -> datetime.datetime:
        return gen.T0 + (self.clock - gen.T0) * self.rng.random()

    def write_time(self) -> datetime.datetime:
        self.clock += datetime.timedelta(seconds=PARAMS["write_step_s"])
        if self.rng.random() < PARAMS["backdate_share"]:
            return self.pick_time()
        return self.clock


def setup(spark, seed: int, work: str) -> State:
    st = State(spark, seed)
    # warm the DataFrame view path (JVM codegen for the first createDataFrame)
    st.g.as_of(st.clock).vertices_df().count()
    return st


def teardown(_state: State) -> None:
    pass


def finish(_state: State) -> dict:
    return {}


def cycles(st: State):
    """Op cycles; ops are built lazily, after the previous op's check."""
    for cycle in itertools.count():
        names = list(CYCLE)
        if cycle % 4 == 1:
            names.append("asof_view")
        if cycle % 4 == 3:
            names += ["remove_vertex", "add_vertex"]
        yield (make_op(st, name) for name in names)


def make_op(st: State, name: str) -> Op:  # noqa: C901 — one branch per op kind
    g, sh, rng = st.g, st.sh, st.rng
    cls = CLASS[name]
    # a read op is one client request touching several elements: per-op
    # cost then averages over hot and cold picks instead of riding one pick
    if name == "get_prop":
        picks = [(st.pick_vertex(), rng.choice(["name", "score"]))
                 for _ in range(PARAMS["reads_per_op"])]

        def run():
            return [g.get_vertex(vid).get_property(key) for vid, key in picks]

        return Op(cls, name, run, lambda r: _eq(
            r, [sh.v[vid][-1][1].get(key) for vid, key in picks], name))
    if name == "adj":
        vids = [st.pick_vertex() for _ in range(PARAMS["reads_per_op"])]
        want = [[sh.emeta[e][1] for e in sorted(sh.out[vid]) if sh.e[e][-1][1] is not None]
                for vid in vids]
        return Op(cls, name,
                  lambda: [[x.id for x in g.get_vertex(vid).get_vertices("out")] for vid in vids],
                  lambda r: _eq(r, want, name))
    if name == "get_edge":
        eids = [rng.choice(st.live_e) for _ in range(PARAMS["reads_per_op"])]
        return Op(cls, name, lambda: [g.get_edge(eid).get_label() for eid in eids],
                  lambda r: _eq(r, [sh.emeta[eid][2] for eid in eids], name))
    if name in ("asof_prop", "interval", "asof_adj"):
        vid, t = st.pick_vertex(), st.pick_time()
        key = rng.choice(["name", "score"])

        def run():
            v = g.as_of(t).get_vertex(vid)
            if v is None:
                return None
            if name == "asof_prop":
                return v.get_property(key)
            if name == "interval":
                return v.time_interval()
            return sorted(e.id for e in v.get_edges("out"))

        def check(r):
            h = sh.v[vid]
            i = sh.index_at(h, sh.checkpoint(t))
            if i < 0 or h[i][1] is None:
                return _eq(r, None, name)
            if name == "asof_prop":
                return _eq(r, h[i][1].get(key), name)
            if name == "interval":
                end = sh.times[h[i + 1][0]] if i + 1 < len(h) else MAX_TIME
                return _eq(r, (sh.times[h[i][0]], end), name)
            cp = sh.checkpoint(t)
            return _eq(r, sorted(e for e in sh.out[vid] if sh.state(sh.e[e], cp) is not None),
                       name)

        return Op(cls, name, run, check)
    if name in ("prev_walk", "next_walk", "elem_diff"):
        vid = st.pick_vertex()
        n_versions = len(sh.v[vid])
        k = rng.randint(1, min(8, n_versions - 1)) if n_versions > 1 else 0

        def run():
            v = g.get_vertex(vid)
            if name == "prev_walk":
                layers.count("elements.walks")
                return sum(1 for _ in v.previous_versions())
            if k == 0:
                return None
            old = next(itertools.islice(v.previous_versions(), k - 1, None))
            if name == "next_walk":
                layers.count("elements.walks", 2)
                return sum(1 for _ in old.next_versions())
            layers.count("elements.walks")
            return observed_difference(g.difference(old, v))

        def check(r):
            if name == "prev_walk":
                return _eq(r, n_versions - 1, name)
            if k == 0:
                return _eq(r, None, name)
            if name == "next_walk":
                return _eq(r, k, name)
            old_tx = sh.v[vid][n_versions - 1 - k][0]
            return _eq(r, expected_difference(sh.vertex_facts(vid, old_tx),
                                              sh.vertex_facts(vid, None)), name)

        return Op(cls, name, run, check)
    if name == "ws_diff":
        from fluxgraph_spark import WorkingSet

        vids = [st.pick_vertex() for _ in range(3)]
        eids = [rng.choice(st.live_e) for _ in range(2)]
        t1, t2 = sorted((st.pick_time(), st.pick_time()))

        def run():
            return observed_difference(g.difference(WorkingSet(vids, eids), t1, t2))

        def check(r):
            cp1, cp2 = sh.checkpoint(t1), sh.checkpoint(t2)
            f1, f2 = set(), set()
            for f, cp in ((f1, cp1), (f2, cp2)):
                for vid in vids:
                    if sh.state(sh.v[vid], cp) is not None:
                        f |= sh.vertex_facts(vid, cp)
                for eid in eids:
                    if sh.state(sh.e[eid], cp) is not None:
                        f |= sh.edge_facts(eid, cp)
            return _eq(r, expected_difference(f1, f2), name)

        return Op(cls, name, run, check)
    if name == "asof_view":
        t = st.pick_time()

        def check(r):
            cp = sh.checkpoint(t)
            return _eq(r, sum(1 for h in sh.v.values() if sh.state(h, cp) is not None), name)

        return Op(cls, name, lambda: g.as_of(t).vertices_df().count(), check)
    # -- writes: the shadow applies the write when the op is built, so the
    # next op's expectations already include it
    t = st.write_time()
    if name == "set_prop":
        vid, val = st.pick_vertex(), rng.randrange(1_000_000)
        sh.set_prop(vid, "score", val, t)

        def run():
            g.set_transaction_time(t)
            g.get_vertex(vid).set_property("score", val)

        return Op(cls, name, run, lambda _r: _eq(g.get_vertex(vid).get_property("score"),
                                                val, name))
    if name == "add_edge":
        src, dst = st.pick_vertex(), rng.choice(st.live_v)
        label = rng.choice(PARAMS["labels"])
        eid = sh.add_edge(src, dst, label, t)
        st.live_e.append(eid)

        def run():
            g.set_transaction_time(t)
            return g.add_edge(None, g.get_vertex(src), g.get_vertex(dst), label).id

        return Op(cls, name, run, lambda r: _eq(r, eid, name))
    if name == "remove_edge":
        eid = st.live_e.pop(rng.randrange(len(st.live_e)))
        sh.remove_edge(eid, t)

        def run():
            g.set_transaction_time(t)
            g.remove_edge(g.get_edge(eid))

        return Op(cls, name, run, lambda _r: _eq(g.get_edge(eid), None, name))
    if name == "remove_vertex":
        cands = [v for v in st.live_v if v not in st.protected]
        vid = rng.choice(cands)
        st.live_v.remove(vid)
        gone = set(sh.remove_vertex(vid, t))
        st.live_e = [e for e in st.live_e if e not in gone]

        def run():
            g.set_transaction_time(t)
            g.remove_vertex(g.get_vertex(vid))

        def check(_r):
            if g.get_vertex(vid) is not None:
                return "remove_vertex: vertex still visible"
            left = [e for e in gone if g.get_edge(e) is not None]
            return f"remove_vertex: edges {left} survived the cascade" if left else None

        return Op(cls, name, run, check)
    # add_vertex (+ its name, in the same op)
    vid = sh.add_vertex(t)
    sh.set_prop(vid, "name", f"n{vid}", t)
    st.live_v.append(vid)

    def run():
        g.set_transaction_time(t)
        v = g.add_vertex()
        v.set_property("name", f"n{vid}")
        return v.id

    return Op(cls, name, run, lambda r: _eq(r, vid, name))


def _eq(got, want, name: str):
    return None if got == want else f"{name}: got {str(got)[:200]} want {str(want)[:200]}"
