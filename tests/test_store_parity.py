"""Indexed driver-store reads vs the row scans they replaced.

The store answers time-travel reads from per-element ``tx_from`` lists
and all-time incidence lists, checkpoints from a ``TxTimeIndex``, and
snapshot views from the visible rows alone.  The oracles below are the
algorithms the engine used before (walk an element's full history, walk
every edge row, scan every tx time, filter the full-history relation
with ``temporal.snapshot``); on seeded random histories with backdated
writes, self-loops and the zero-length vertex row ``remove_vertex``
writes, both must return the same rows, in the same order, at every tx.
``get_facts`` is checked against facts built from scanned rows alone."""

import datetime
import random
from collections import Counter

import pytest

from fluxgraph_spark import model as M
from fluxgraph_spark.elements import BOTH, IN, OUT, FluxSparkEdge, FluxSparkVertex
from fluxgraph_spark.graph import TemporalGraph, WorkingSet
from fluxgraph_spark.operators.temporal import snapshot
from fluxgraph_spark.sources.parquet_io import load_graph_parquet, save_graph_parquet
from fluxgraph_spark.tx_index import TxTimeIndex

T0 = datetime.datetime(2020, 1, 1)
LABELS = ("a", "b", "c")


# -- oracles: the pre-index scan algorithms ---------------------------------

def scan_version_at(store, kind, eid, tx):
    for row in reversed(store.history(kind, eid)):
        if tx is None:
            return row if row["tx_to"] is None else None
        if row["tx_from"] <= tx and (row["tx_to"] is None or row["tx_to"] > tx):
            return row
    return None


def scan_iter_visible(store, kind, tx):
    seen = set()
    for row in store._rows(kind):
        if row["id"] in seen:
            continue
        vis = scan_version_at(store, kind, row["id"], tx)
        if vis is not None:
            seen.add(row["id"])
            yield vis


def scan_vertex_edges(store, vid, tx, direction, labels):
    """Edge ids of ``FluxSparkVertex.get_edges`` at ``tx``."""
    out = []
    if tx is None:
        ids = []
        if direction in (OUT, BOTH):
            ids.extend(sorted(store.out_edge_ids(vid)))
        if direction in (IN, BOTH):
            ids.extend(sorted(store.in_edge_ids(vid)))
        for eid in ids:
            row = scan_version_at(store, M.EDGE_KIND, eid, None)
            if row is not None and (not labels or row["label"] in labels):
                out.append(eid)
        return out
    for row in scan_iter_visible(store, M.EDGE_KIND, tx):
        hit = (direction in (OUT, BOTH) and row["src"] == vid) or (
            direction in (IN, BOTH) and row["dst"] == vid
        )
        if hit and (not labels or row["label"] in labels):
            out.append(row["id"])
    return out


def scan_neighbors(store, vid, tx, direction, labels):
    """Vertex ids of ``FluxSparkVertex.get_vertices`` at ``tx``."""
    out = []
    if direction in (OUT, BOTH):
        for eid in scan_vertex_edges(store, vid, tx, OUT, labels):
            out.append(scan_version_at(store, M.EDGE_KIND, eid, tx)["dst"])
    if direction in (IN, BOTH):
        for eid in scan_vertex_edges(store, vid, tx, IN, labels):
            out.append(scan_version_at(store, M.EDGE_KIND, eid, tx)["src"])
    return out


def scan_previous_chain(store, kind, eid, tx):
    """Pins of ``previous_versions()`` from an element pinned at ``tx``."""
    pins = []
    while True:
        row = scan_version_at(store, kind, eid, tx)
        if row is None:
            return pins
        prev = None
        for r in store.history(kind, eid):
            if r["tx_from"] < row["tx_from"]:
                prev = r
            else:
                break
        if prev is None:
            return pins
        tx = prev["tx_from"]
        pins.append(tx)


def scan_next_chain(store, kind, eid, tx):
    """Pins of ``next_versions()``; None is the current version."""
    pins = []
    while True:
        row = scan_version_at(store, kind, eid, tx)
        if row is None:
            return pins
        history = store.history(kind, eid)
        nxt = next((r for r in history if r["tx_from"] > row["tx_from"]), None)
        if nxt is None:
            return pins
        if nxt is history[-1] and nxt["tx_to"] is None:
            return pins + [None]
        tx = nxt["tx_from"]
        pins.append(tx)


def scan_facts(store, kind, eid, tx):
    """``get_facts()`` of element ``eid`` at ``tx`` from scanned rows; None
    when it does not exist there."""
    row = scan_version_at(store, kind, eid, tx)
    if row is None:
        return None
    facts = {(eid, ":graph.element/type", f":graph.element.type/{kind}")}
    for col, val in row["props"].items():
        if val is not None:
            text = ("true" if val else "false") if isinstance(val, bool) else str(val)
            facts.add((eid, col, text))
    edges = [row] if kind == M.EDGE_KIND else [
        scan_version_at(store, M.EDGE_KIND, e, tx)
        for e in scan_vertex_edges(store, eid, tx, BOTH, ())
    ]
    for edge in edges:
        if kind == M.VERTEX_KIND:
            facts.add((edge["id"], ":graph.element/type", ":graph.element.type/edge"))
        for end in ("src", "dst"):
            facts.add((edge[end], ":graph.element/type", ":graph.element.type/vertex"))
        facts.add((edge["id"], ":graph.edge/inVertex", edge["dst"]))
        facts.add((edge["id"], ":graph.edge/outVertex", edge["src"]))
        facts.add((edge["id"], ":graph.edge/label", edge["label"]))
    return facts


def scan_resolve_checkpoint(tx_times, t):
    best = 0
    for tx, tt in tx_times.items():
        if tt <= t and tx > best:
            best = tx
    return best


def resolve_probes(tx_times):
    """Every tx time, a second after each, and one before all."""
    probes = sorted(set(tx_times.values()))
    probes += [t + datetime.timedelta(seconds=1) for t in probes]
    return probes + [T0 - datetime.timedelta(days=1)]


# -- random histories --------------------------------------------------------

def random_graph(seed, n_ops=120, spark=None):
    rng = random.Random(seed)
    g = TemporalGraph(spark)
    clock = T0
    vertices, edges = [], []
    for _ in range(n_ops):
        clock += datetime.timedelta(minutes=rng.randint(1, 10))
        if rng.random() < 0.25:  # backdated write
            g.set_transaction_time(T0 + (clock - T0) * rng.random())
        else:
            g.set_transaction_time(clock)
        live_v = [v for v in vertices if not v.is_deleted()]
        live_e = [e for e in edges if not e.is_deleted()]
        op = rng.random()
        if op < 0.2 or len(live_v) < 2:
            vertices.append(g.add_vertex())
        elif op < 0.45:
            src = rng.choice(live_v)
            dst = src if rng.random() < 0.15 else rng.choice(live_v)
            edges.append(g.add_edge(None, src, dst, rng.choice(LABELS)))
        elif op < 0.55 and live_e:
            g.remove_edge(rng.choice(live_e))
        elif op < 0.62:
            g.remove_vertex(rng.choice(live_v))
        elif op < 0.85 or not live_e:
            rng.choice(live_v).set_property(rng.choice("xyz"), rng.randint(0, 3))
        elif op < 0.95:
            rng.choice(live_e).set_property("w", rng.random())
        else:
            rng.choice(live_v).remove_property(rng.choice("xyz"))
    g.set_transaction_time(None)
    return g


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_indexed_store_matches_scans(seed):
    g = random_graph(seed)
    store = g._store
    v_ids = list(store._v_index)
    e_ids = list(store._e_index)
    # the histories exercise what the indexes must get right
    times = [g._tx_times[tx] for tx in sorted(g._tx_times)]
    assert any(b < a for a, b in zip(times, times[1:])), "no backdated write"
    assert any(r["src"] == r["dst"] for r in store.edges), "no self-loop"
    assert any(r["tx_from"] == r["tx_to"] for r in store.vertices), "no zero-length row"
    for kind in (M.VERTEX_KIND, M.EDGE_KIND):
        walked = sorted({c for row in store._rows(kind) for c in row["props"]})
        assert store.prop_columns(kind) == walked

    for tx in [None] + list(range(store.max_tx + 2)):
        for kind, ids in ((M.VERTEX_KIND, v_ids), (M.EDGE_KIND, e_ids)):
            for eid in ids:
                assert store.version_at(kind, eid, tx) is scan_version_at(store, kind, eid, tx)
            got = list(store.iter_visible(kind, tx))
            want = list(scan_iter_visible(store, kind, tx))
            assert [id(r) for r in got] == [id(r) for r in want], (kind, tx)
        for vid in v_ids:
            v = FluxSparkVertex(g, vid, tx)
            for direction in (OUT, IN, BOTH):
                for labels in ((), ("a",), ("a", "c")):
                    got = [e.id for e in v.get_edges(direction, *labels)]
                    assert got == scan_vertex_edges(store, vid, tx, direction, labels), (
                        vid, tx, direction, labels,
                    )
                    got = [u.id for u in v.get_vertices(direction, *labels)]
                    assert got == scan_neighbors(store, vid, tx, direction, labels)
        for cls, kind, ids in (
            (FluxSparkVertex, M.VERTEX_KIND, v_ids), (FluxSparkEdge, M.EDGE_KIND, e_ids),
        ):
            for eid in ids:
                el = cls(g, eid, tx)
                assert [p.pinned_tx for p in el.previous_versions()] == scan_previous_chain(
                    store, kind, eid, tx
                )
                assert [n.pinned_tx for n in el.next_versions()] == scan_next_chain(
                    store, kind, eid, tx
                )

    for t in resolve_probes(g._tx_times):
        assert g.resolve_checkpoint(t) == scan_resolve_checkpoint(g._tx_times, t)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_get_facts_match_scans(seed):
    """Vertex and edge facts, pinned to every tx, read under a graph
    checkpoint, and current."""
    g = random_graph(seed)
    store = g._store
    removed = [e for e in store._e_index if scan_version_at(store, M.EDGE_KIND, e, None) is None]
    assert removed, "no removed edge"
    for tx in [None] + list(range(store.max_tx + 2)):
        g._checkpoint_tx = tx
        for cls, kind, ids in (
            (FluxSparkVertex, M.VERTEX_KIND, store._v_index),
            (FluxSparkEdge, M.EDGE_KIND, store._e_index),
        ):
            for eid in ids:
                want = scan_facts(store, kind, eid, tx)
                for el in (cls(g, eid, tx), cls(g, eid)):
                    if want is None:
                        with pytest.raises(ValueError, match="does not exist"):
                            el.get_facts()
                    else:
                        assert el.get_facts() == want, (kind, eid, tx)
    g._checkpoint_tx = None


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_snapshot_views_match_filtered_history(spark, seed):
    """Snapshot views hold the visible rows only, under the full-history
    schema: the same rows and schema as the full-history relation
    filtered by ``temporal.snapshot``."""
    g = random_graph(seed, spark=spark)
    views = {M.VERTEX_KIND: g.vertices_df, M.EDGE_KIND: g.edges_df}
    for tx in [None] + list(range(g._store.max_tx + 2)):
        g._checkpoint_tx = tx
        for kind, view in views.items():
            got, want = view(), snapshot(view(snapshot=False), tx)
            assert got.schema == want.schema, (kind, tx)
            assert Counter(got.collect()) == Counter(want.collect()), (kind, tx)
    # a snapshot that predates a property column still carries it
    g._checkpoint_tx = 1
    assert g.vertices_df().columns == g.vertices_df(snapshot=False).columns
    assert set(g.vertices_df(snapshot=False).columns) > set(M.VERTEX_BASE_COLS)


def random_tx_times(rng, order, n=200):
    """tx id -> time, ids allocated in order, times per ``order``."""
    times, clock = {}, T0
    for tx in range(1, n + 1):
        clock += datetime.timedelta(minutes=rng.randint(0, 3))
        if order == "backdated" and rng.random() < 0.3:
            times[tx] = T0 + (clock - T0) * rng.random()
        elif order == "equal":
            times[tx] = T0 + datetime.timedelta(hours=rng.randint(0, 5))
        else:
            times[tx] = clock
    return times


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("order", ["in_order", "backdated", "equal"])
def test_tx_time_index_matches_scan(seed, order):
    rng = random.Random(seed)
    tx_times = random_tx_times(rng, order)
    incremental = TxTimeIndex()
    for tx, t in tx_times.items():
        incremental.add(t, tx)
    # rehydrate order: the log's rows in any order, indexed at once
    pairs = [(t, tx) for tx, t in tx_times.items()]
    rng.shuffle(pairs)
    bulk = TxTimeIndex(pairs)
    for t in resolve_probes(tx_times):
        want = scan_resolve_checkpoint(tx_times, t)
        assert incremental.resolve(t) == want == bulk.resolve(t), t
    assert TxTimeIndex().resolve(T0) == 0
    with pytest.raises(ValueError, match="not newer"):
        incremental.add(T0, len(tx_times))


def test_rehydrated_and_difference_graphs_resolve_like_their_tx_times(spark, tmp_path):
    g = random_graph(1, spark=spark)
    save_graph_parquet(g, str(tmp_path))
    loaded = load_graph_parquet(spark, str(tmp_path))
    assert loaded._tx_times == g._tx_times
    for t in resolve_probes(g._tx_times):
        assert loaded.resolve_checkpoint(t) == g.resolve_checkpoint(t), t
        assert loaded.resolve_checkpoint(t) == scan_resolve_checkpoint(loaded._tx_times, t)

    vids = list(g._store._v_index)
    times = sorted(g._tx_times.values())
    d = g.difference(WorkingSet(vids), times[-1], times[len(times) // 2])
    assert len(d._tx_times) == 1
    for t in resolve_probes(d._tx_times):
        assert d.resolve_checkpoint(t) == scan_resolve_checkpoint(d._tx_times, t), t
    # an as-of view shares its source's index, writes after it included
    view = g.as_of(times[-1])
    g.set_transaction_time(T0 - datetime.timedelta(days=2))
    g.add_vertex()
    probe = T0 - datetime.timedelta(days=1)
    assert view.resolve_checkpoint(probe) == g._store.max_tx
    assert view.resolve_checkpoint(probe) == scan_resolve_checkpoint(g._tx_times, probe)
