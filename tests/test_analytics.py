"""Iterative graph analytics: PageRank + connected components."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def two_triangles(spark):
    # components {1,2,3} and {10,11,12}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        ["src", "dst"],
    )


def test_connected_components_two_triangles(spark, two_triangles):
    from fluxgraph_spark.operators.analytics import connected_components

    comp = connected_components(two_triangles)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_chain_needs_iterations(spark):
    from fluxgraph_spark.operators.analytics import connected_components

    # a 12-vertex path: min label must propagate the whole way
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["src", "dst"]
    )
    comp = connected_components(edges)
    assert comp.where(F.col("component") != 1).count() == 0


def test_pagerank_cycle_uniform(spark):
    from fluxgraph_spark.operators.analytics import pagerank

    # directed 4-cycle: symmetric, so rank stays uniform = 1/4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
    )
    pr = pagerank(edges, num_iters=5)
    vals = [r["pagerank"] for r in pr.collect()]
    assert all(abs(v - 0.25) < 1e-9 for v in vals)


def test_pagerank_hub_attracts_rank(spark):
    from fluxgraph_spark.operators.analytics import pagerank

    # star: 1..5 all point at 6 (plus 6->1 so 6 is not dangling-only)
    edges = spark.createDataFrame(
        [(i, 6) for i in range(1, 6)] + [(6, 1)], ["src", "dst"]
    )
    pr = pagerank(edges, num_iters=10)
    got = {r["id"]: r["pagerank"] for r in pr.collect()}
    # 6 and its sole out-neighbor 1 trade the mass in a period-2
    # oscillation; the leaf vertices 2..5 always stay at the floor
    top2 = sorted(got, key=got.get, reverse=True)[:2]
    assert set(top2) == {1, 6}
    # rank mass conservation is broken only by dangling vertices; here
    # every vertex has out-degree >= 1, so total ~= 1
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_star_components_matches_label_propagation(spark, two_triangles):
    from fluxgraph_spark.operators.analytics import (
        connected_components,
        connected_components_star,
    )

    got = {
        r["id"]: r["component"]
        for r in connected_components_star(two_triangles).collect()
    }
    want = {
        r["id"]: r["component"]
        for r in connected_components(two_triangles).collect()
    }
    assert got == want == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_star_components_long_chain_logarithmic(spark):
    from fluxgraph_spark.operators.analytics import connected_components_star

    # 60-vertex path: label propagation needs ~60 supersteps; the
    # star alternation collapses it within its default round budget
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], ["src", "dst"]
    )
    comp = connected_components_star(edges, max_iters=10)
    assert comp.count() == 60
    assert comp.where(F.col("component") != 1).count() == 0


def test_star_components_random_graph(spark):
    import random

    from fluxgraph_spark.operators.analytics import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    # 3 blobs of 30 vertices with random internal edges + self loops
    rows = []
    for base in (0, 100, 200):
        ids = list(range(base, base + 30))
        for _ in range(60):
            rows.append((rng.choice(ids), rng.choice(ids)))
    edges = spark.createDataFrame(rows, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(edges).collect()
    }
    want = {
        r["id"]: r["component"]
        for r in connected_components(edges, max_iters=40).collect()
    }
    assert got == want


def test_bfs_levels_chain_and_fork(spark):
    from fluxgraph_spark.operators import analytics as AN

    # 1 -> 2 -> 3 -> 4, 1 -> 3 (shortcut), isolated 9 -> 10 unreachable
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (9, 10)], ["src", "dst"]
    )
    src = spark.createDataFrame([(1,)], ["id"])
    got = {
        r["id"]: r["level"]
        for r in AN.bfs_levels(e, src, max_iters=4).collect()
    }
    # min-distance: 3 is reached in 1 hop via the shortcut, 4 in 2
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_levels_multi_source_min(spark):
    from fluxgraph_spark.operators import analytics as AN

    e = spark.createDataFrame([(1, 2), (2, 3), (5, 3)], ["src", "dst"])
    src = spark.createDataFrame([(1,), (5,)], ["id"])
    got = {
        r["id"]: r["level"]
        for r in AN.bfs_levels(e, src, max_iters=3).collect()
    }
    # 3 is 2 hops from 1 but 1 hop from 5 — min wins
    assert got == {1: 0, 5: 0, 2: 1, 3: 1}


def test_label_propagation_two_cliques(spark):
    from fluxgraph_spark.operators import analytics as AN

    # two 4-cliques joined by one bridge edge: LPA floods each clique
    # with its min id; the bridge is outvoted
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    e = spark.createDataFrame(
        clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)],
        ["src", "dst"],
    )
    got = {
        r["id"]: r["community"]
        for r in AN.label_propagation(e, num_iters=6).collect()
    }
    assert set(got[i] for i in [1, 2, 3, 4]) == {1}
    assert set(got[i] for i in [10, 11, 12, 13]) == {10}


def test_label_propagation_deterministic_tiebreak(spark):
    from fluxgraph_spark.operators import analytics as AN

    # vertex 3 sees one '1' and one '2' neighbor label -> min label wins
    e = spark.createDataFrame([(1, 3), (2, 3)], ["src", "dst"])
    got = {
        r["id"]: r["community"]
        for r in AN.label_propagation(e, num_iters=1).collect()
    }
    assert got[3] == 1


def test_sssp_weighted_relaxation(spark):
    from fluxgraph_spark.operators import analytics as AN

    # 1 -> 2 (w=10) -> 3 (w=1); direct 1 -> 3 (w=100): two-hop path wins
    e = spark.createDataFrame(
        [(1, 2, 10.0), (2, 3, 1.0), (1, 3, 100.0)], ["src", "dst", "weight"]
    )
    src = spark.createDataFrame([(1,)], ["id"])
    got = {r["id"]: r["dist"] for r in AN.sssp(e, src, max_iters=4).collect()}
    assert got == {1: 0.0, 2: 10.0, 3: 11.0}


def test_sssp_needs_enough_supersteps(spark):
    from fluxgraph_spark.operators import analytics as AN

    # chain 1->2->3->4, one relaxation per superstep
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)], ["src", "dst", "weight"]
    )
    src = spark.createDataFrame([(1,)], ["id"])
    got1 = {r["id"]: r["dist"] for r in AN.sssp(e, src, max_iters=1).collect()}
    assert 4 not in got1 and got1[2] == 1.0
    got3 = {r["id"]: r["dist"] for r in AN.sssp(e, src, max_iters=3).collect()}
    assert got3[4] == 3.0


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    from fluxgraph_spark.operators import analytics as AN

    # star: 1 -> 2,3; far component 10 -> 11.  Seeding at 1 gives the
    # far pair zero rank; 2/3 split 1's damped mass equally.
    e = spark.createDataFrame([(1, 2), (1, 3), (10, 11)], ["src", "dst"])
    src = spark.createDataFrame([(1,)], ["id"])
    got = {r["id"]: r["pagerank"] for r in
           AN.pagerank_personalized(e, src, num_iters=3).collect()}
    assert got[10] == 0.0 and got[11] == 0.0
    assert abs(got[2] - got[3]) < 1e-12 and got[2] > 0
    assert got[1] > got[2]  # restart mass keeps the seed on top here


def test_k_core_clique_with_tail(spark):
    from fluxgraph_spark.operators.analytics import k_core

    # 4-clique (1..4) with a pendant chain 4-5-6: the 3-core is the clique
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(clique + [(4, 5), (5, 6)], ["src", "dst"])
    out = {r["id"]: r["core_degree"] for r in k_core(edges, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # k above the clique degree peels everything
    assert k_core(edges, k=4).count() == 0
    # k=1 keeps the whole graph with original degrees
    k1 = {r["id"]: r["core_degree"] for r in k_core(edges, k=1).collect()}
    assert k1[5] == 2 and k1[6] == 1 and k1[1] == 3 and k1[4] == 4


def test_common_neighbor_scores(spark):
    from fluxgraph_spark.operators.analytics import common_neighbor_scores

    # path 1-2-3 plus 1-4, 3-4: pair (1,3) shares {2,4}; (2,4) shares {1,3}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 4)], ["src", "dst"]
    )
    out = {(r["a"], r["b"]): r["n_common"]
           for r in common_neighbor_scores(edges, min_common=1).collect()}
    assert out == {(1, 3): 2, (2, 4): 2}
    # adjacent pairs are excluded even when they share neighbors
    tri = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (1, 4), (2, 4)], ["src", "dst"])
    out2 = {(r["a"], r["b"]): r["n_common"]
            for r in common_neighbor_scores(tri, min_common=1).collect()}
    assert (1, 2) not in out2 and out2[(3, 4)] == 2


def test_triangle_counts_exact(spark):
    """Degree-ordered compact-forward triangle counting: hand-pinned
    K4 + pendant + separate triangle, then a random graph against a
    brute-force itertools enumeration (every triangle exactly once,
    zero rows for triangle-free vertices, duplicate/reversed/self-loop
    edges normalized away)."""
    from itertools import combinations

    from fluxgraph_spark.operators.analytics import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
             (6, 7), (7, 8), (8, 6), (6, 8), (8, 8), (2, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["vertex_id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 1, 7: 1, 8: 1}

    import random

    rng = random.Random(9)
    rand = sorted({(rng.randrange(30), rng.randrange(30)) for _ in range(160)})
    rand = [(a, b) for a, b in rand if a != b]
    adj = {tuple(sorted(e)) for e in rand}
    verts = sorted({v for e in adj for v in e})
    want = {v: 0 for v in verts}
    for a, b, c in combinations(verts, 3):
        if {(a, b), (a, c), (b, c)} <= adj:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    df2 = spark.createDataFrame(rand, ["src", "dst"])
    got2 = {r["vertex_id"]: r["n_triangles"] for r in triangle_counts(df2).collect()}
    assert got2 == want


def test_edge_supports_and_k_truss(spark):
    """A 5-clique with a pendant path: every clique edge closes 3
    triangles (support 3) so the clique is the 5-truss; the path edges
    have support 0 and peel immediately; a triangle hanging off the
    clique survives 3-truss but not 4-truss (CASCADING peel: losing its
    weak edges must re-lower support inside the subgraph)."""
    from fluxgraph_spark.operators.analytics import k_truss

    clique = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    tri = [(5, 10), (5, 11), (10, 11)]          # triangle sharing vertex 5
    path = [(11, 20), (20, 21)]
    edges = spark.createDataFrame(clique + tri + path, ["src", "dst"])

    t3 = {(r["src"], r["dst"]) for r in k_truss(edges, k=3).collect()}
    assert t3 == set(clique) | set(tri)          # path peeled, triangle kept
    t4 = {(r["src"], r["dst"]) for r in k_truss(edges, k=4).collect()}
    assert t4 == set(clique)                     # hanging triangle cascades out
    t5 = {(r["src"], r["dst"]) for r in k_truss(edges, k=5).collect()}
    assert t5 == set(clique)                     # clique edges: support 3
    t6 = {(r["src"], r["dst"]) for r in k_truss(edges, k=6).collect()}
    assert t6 == set()                           # 5-clique is only a 5-truss
    # k=2: support >= 0 keeps everything (canonical form)
    t2 = {(r["src"], r["dst"]) for r in k_truss(edges, k=2).collect()}
    assert t2 == set(clique) | set(tri) | set(path)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        k_truss(edges, k=1)


def test_k_truss_cascade_needs_multiple_rounds(spark):
    """A chain of triangles sharing single edges: under k=4 the peel
    must cascade end to end (each round only exposes the next link) —
    pins the fixpoint loop, not just one support pass."""
    from fluxgraph_spark.operators.analytics import k_truss

    # triangle chain: T_i = (i, i+1, i+2) for i=0..5, plus a pendant
    # edge (7, 9).  Middle spine edges have support 2 (two adjacent
    # triangles), so a SINGLE support pass keeps them under k=4; only
    # the cascade (hypotenuses peel -> triangles die -> spine peels)
    # empties the graph.
    edges = [(6, 7)]
    for i in range(6):
        edges += [(i, i + 1), (i, i + 2)]
    edges.append((7, 9))
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert {(r["src"], r["dst"]) for r in k_truss(df, k=4).collect()} == set()
    t3 = {(r["src"], r["dst"]) for r in k_truss(df, k=3).collect()}
    assert (7, 9) not in t3 and (0, 1) in t3 and (5, 7) in t3


def test_profile_counts(spark):
    from fluxgraph_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (3, "a", None), (4, None, 2.5)],
        ["id", "s", "v"],
    )
    got = {r["col_name"]: r for r in profile(df).collect()}
    assert set(got) == {"id", "s", "v"}
    assert all(r["n_rows"] == 4 for r in got.values())
    assert (got["id"]["n_nulls"], got["id"]["n_distinct"]) == (0, 4)
    assert (got["s"]["n_nulls"], got["s"]["n_distinct"]) == (1, 2)
    assert (got["v"]["n_nulls"], got["v"]["n_distinct"]) == (2, 2)
    # column subset + approx path share the shape
    sub = {r["col_name"] for r in profile(df, cols=["s"]).collect()}
    assert sub == {"s"}
    ap = {r["col_name"]: r["n_distinct"] for r in profile(df, exact=False).collect()}
    assert ap["id"] >= 3  # estimate, but sane

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown"):
        profile(df, cols=["nope"])


def _ref_hits(edges, iters):
    import math

    edges = sorted(set(edges))
    verts = sorted({v for e in edges for v in e})
    hub = {v: 10**6 for v in verts}
    auth = {}
    for _ in range(iters):
        raw = {v: 0 for v in verts}
        for u, v in edges:
            raw[v] += hub[u]
        s = sum(raw.values())
        auth = {
            v: (0 if s == 0 else math.floor(float(raw[v]) * 1000000.0 / float(s)))
            for v in verts
        }
        raw = {v: 0 for v in verts}
        for u, v in edges:
            raw[u] += auth[v]
        s = sum(raw.values())
        hub = {
            v: (0 if s == 0 else math.floor(float(raw[v]) * 1000000.0 / float(s)))
            for v in verts
        }
    return auth, hub


def test_hits_matches_scalar_reference_and_separates_roles(spark):
    from fluxgraph_spark.operators.analytics import hits

    # 1, 2 are hubs pointing at authorities 10-12; 3 is a weak hub;
    # 20->21 is an isolated pair
    edges = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10), (20, 21)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: (r["auth_micro"], r["hub_micro"]) for r in hits(df, 3).collect()}
    auth, hub = _ref_hits(edges, 3)
    assert got == {v: (auth[v], hub[v]) for v in auth}
    # roles separate: 10 is the top authority, 1 the top hub
    assert max(auth, key=auth.get) == 10
    assert max(hub, key=hub.get) == 1
    assert auth[1] == 0 and hub[10] == 0  # pure hub / pure authority

    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_iters"):
        hits(df, 0)


def test_clustering_coefficient(spark):
    from fluxgraph_spark.operators.analytics import clustering_coefficient

    # triangle + pendant: 1 triangle; degrees 2,2,3,1 -> wedges
    # (2*1 + 2*1 + 3*2 + 1*0)/2 = 5; gcc = 3/5
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"])
    row = clustering_coefficient(e).collect()[0]
    assert (row["n_triangles"], row["n_wedges"]) == (1, 5)
    assert row["gcc_micro"] == 600000
    # a clique is fully transitive
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    row = clustering_coefficient(spark.createDataFrame(k4, ["src", "dst"])).collect()[0]
    assert (row["n_triangles"], row["n_wedges"], row["gcc_micro"]) == (4, 12, 1000000)
    # a star has wedges but no triangles
    star = [(0, i) for i in range(1, 5)]
    row = clustering_coefficient(spark.createDataFrame(star, ["src", "dst"])).collect()[0]
    assert (row["n_triangles"], row["gcc_micro"]) == (0, 0)


def test_random_walks_match_scalar_reference(spark):
    """random_walks (r7): every trajectory equals a scalar replay of
    the md5 pick rule; sinks drop walks; determinism across runs;
    symmetrized graphs complete every walk; bad walk_len rejected."""
    import hashlib

    from fluxgraph_spark.operators.analytics import random_walks

    E = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (4, 5), (2, 5)]
    edges = spark.createDataFrame(E, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (2,), (4,)], ["v"])

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for s, d in sorted(set(E)):
        adj.setdefault(s, []).append(d)
    for v in adj:
        adj[v].sort()

    def ref_walk(w, L):
        v, path = w, str(w)
        for t in range(L):
            if v not in adj:
                return None
            nxt = adj[v][h60(f"{w}:{t}:{v}") % len(adj[v])]
            path += f"->{nxt}"
            v = nxt
        return (w, path, v)

    got = sorted(map(tuple, random_walks(edges, seeds, walk_len=3).collect()))
    want = sorted(t for t in (ref_walk(w, 3) for w in (1, 2, 4)) if t)
    assert got == want and len(got) >= 1

    # a walk reaching the sink (5) is dropped
    seeds5 = spark.createDataFrame([(2,)], ["v"])
    long_walks = random_walks(edges, seeds5, walk_len=6).collect()
    assert sorted(map(tuple, long_walks)) == sorted(
        t for t in [ref_walk(2, 6)] if t
    )

    # determinism: identical second run
    again = sorted(map(tuple, random_walks(edges, seeds, walk_len=3).collect()))
    assert again == got

    import pytest as _pt
    with _pt.raises(ValueError, match="walk_len"):
        random_walks(edges, seeds, walk_len=0)


def test_node2vec_p1_q1_equals_random_walks(spark):
    """node2vec_walks (r8): with p=q=1 every weight collapses to 1 and
    the biased pick reduces to the uniform index draw — output must be
    IDENTICAL to random_walks (same hash signature, same ranked list)."""
    from fluxgraph_spark.operators.analytics import (
        node2vec_walks,
        random_walks,
    )

    E = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (4, 5), (2, 5), (5, 2)]
    edges = spark.createDataFrame(E, ["src", "dst"])
    sym = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(1,), (2,), (4,), (5,)], ["v"])
    base = sorted(map(tuple, random_walks(sym, seeds, walk_len=4).collect()))
    n2v = sorted(
        map(tuple, node2vec_walks(sym, seeds, walk_len=4, p=1, q=1).collect())
    )
    assert n2v == base and len(n2v) == 4


def test_node2vec_biased_matches_scalar_reference(spark):
    """node2vec_walks (r8): biased trajectories equal a scalar replay of
    the integer-weight cumulative pick (p=4, q=1/4 → weights ret=1,
    d1=4, d2=16 over the dst-ranked neighbors); first hop uniform;
    determinism across runs; bad p rejected."""
    import hashlib

    from fluxgraph_spark.operators.analytics import node2vec_walks

    E = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (4, 5), (2, 5), (5, 1)]
    edges = spark.createDataFrame(E, ["src", "dst"])
    sym_pairs = sorted(set(E) | {(d, s) for s, d in E})
    sym = spark.createDataFrame(sym_pairs, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (3,), (5,)], ["v"])

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for s, d in sym_pairs:
        adj.setdefault(s, []).append(d)
    eset = set(sym_pairs)
    W_RET, W_D1, W_D2 = 1, 4, 16  # p=4, q=1/4 scaled by p*q

    def ref_walk(w, L):
        v, path, prev = w, str(w), None
        for t in range(L):
            nbrs = sorted(adj[v])
            if t == 0:
                nxt = nbrs[h60(f"{w}:{t}:{v}") % len(nbrs)]
            else:
                ws = [
                    W_RET if x == prev else (W_D1 if (prev, x) in eset else W_D2)
                    for x in nbrs
                ]
                r = h60(f"{w}:{t}:{v}") % sum(ws)
                cum = 0
                for x, wt in zip(nbrs, ws):
                    cum += wt
                    if r < cum:
                        nxt = x
                        break
            path += f"->{nxt}"
            prev, v = v, nxt
        return (w, path, v)

    got = sorted(
        map(
            tuple,
            node2vec_walks(sym, seeds, walk_len=4, p="4", q="1/4").collect(),
        )
    )
    want = sorted(ref_walk(w, 4) for w in (1, 3, 5))
    assert got == want
    # the bias actually changed something vs uniform on this graph
    from fluxgraph_spark.operators.analytics import random_walks

    uni = sorted(map(tuple, random_walks(sym, seeds, walk_len=4).collect()))
    assert got != uni

    again = sorted(
        map(
            tuple,
            node2vec_walks(sym, seeds, walk_len=4, p="4", q="1/4").collect(),
        )
    )
    assert again == got

    import pytest as _pt
    with _pt.raises(ValueError, match="p and q"):
        node2vec_walks(sym, seeds, walk_len=2, p=0)


def test_walk_skipgram_pairs_match_scalar_reference(spark):
    """walk_skipgram_pairs (r8): pair counts equal a scalar window
    replay over the paths; window=1 is adjacency; bad window rejected."""
    from collections import Counter

    from fluxgraph_spark.operators.analytics import walk_skipgram_pairs

    paths = [(10, "1->2->3->2", 2), (20, "5->6", 6)]
    walks = spark.createDataFrame(paths, ["walk_id", "path", "final_v"])

    def ref(window):
        c = Counter()
        for _, p, _ in paths:
            vs = [int(x) for x in p.split("->")]
            for i, ci in enumerate(vs):
                for j, cj in enumerate(vs):
                    if i != j and abs(i - j) <= window:
                        c[(ci, cj)] += 1
        return {(a, b, n) for (a, b), n in c.items()}

    for w in (1, 2):
        got = {
            (r["center"], r["context"], r["n_pairs"])
            for r in walk_skipgram_pairs(walks, window=w).collect()
        }
        assert got == ref(w)
    # symmetry: every (a, b) pair has its (b, a) mirror with equal count
    got2 = walk_skipgram_pairs(walks, window=2).collect()
    counts = {(r["center"], r["context"]): r["n_pairs"] for r in got2}
    assert all(counts[(b, a)] == n for (a, b), n in counts.items())

    import pytest as _pt
    with _pt.raises(ValueError, match="window"):
        walk_skipgram_pairs(walks, window=0)


def test_maximal_independent_set_matches_greedy_reference(spark):
    """MIS (r7): the fixed-priority Luby rounds must equal the
    sequential greedy MIS of the md5 priority order (the unique result
    the parallel rounds compute); independence and maximality hold;
    an exhausted round budget raises instead of truncating."""
    import hashlib

    from fluxgraph_spark.operators.analytics import maximal_independent_set

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    E = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5), (6, 7), (8, 8)]
    adj = {}
    for a, b in E:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    mis_ref, excl = set(), set()
    for v in sorted(adj, key=lambda v: (h60(f"mis:{v}"), v)):
        if v not in excl:
            mis_ref.add(v)
            excl |= adj[v]
    df = spark.createDataFrame(E, ["src", "dst"])
    got = {r["id"]: r["in_mis"] for r in maximal_independent_set(df).collect()}
    assert set(got) == set(adj)  # self-loop-only vertex 8 excluded
    assert {v for v, m in got.items() if m} == mis_ref
    # independence + maximality
    for a, b in E:
        if a != b:
            assert not (got[a] and got[b])
    for v, m in got.items():
        assert m or any(got[u] for u in adj[v])
    with pytest.raises(ValueError, match="max_rounds"):
        maximal_independent_set(df, max_rounds=0)


def test_walk_skipgram_pairs_reject_non_numeric_ids(spark):
    """Non-numeric vertex ids must raise with the offending id, not
    silently CAST to NULL and aggregate into one bogus NULL row (r9
    ADVICE fix) — walks accept arbitrary id types, skip-grams are
    BIGINT."""
    from fluxgraph_spark.operators.analytics import walk_skipgram_pairs

    walks = spark.createDataFrame(
        [(1, "alpha->beta", "beta")], ["walk_id", "path", "final_v"]
    )
    with pytest.raises(Exception, match="non-numeric vertex id"):
        walk_skipgram_pairs(walks, window=1).collect()


def test_closeness_centrality_matches_scalar_reference(spark):
    """Per-source BFS closeness on a small directed graph vs a scalar
    BFS reference, including an unreachable branch and a sink source."""
    from collections import deque

    from fluxgraph_spark.operators.analytics import closeness_centrality

    #      1 -> 2 -> 3 -> 4       7 -> 8   (disconnected from 1's side)
    #      1 -> 5,  5 -> 4,  6 isolated-as-source (only out: none)
    edges = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (7, 8)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    sources = spark.createDataFrame([(1,), (4,), (7,)], ["id"])

    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)

    def bfs(src):
        dist = {src: 0}
        dq = deque([src])
        while dq:
            v = dq.popleft()
            for n in adj.get(v, []):
                if n not in dist:
                    dist[n] = dist[v] + 1
                    dq.append(n)
        return dist

    got = {
        r["source"]: (r["n_reached"], r["sum_levels"], r["closeness_micro"])
        for r in closeness_centrality(
            e, sources, max_iters=4, assert_converged=True
        ).collect()
    }
    for src in (1, 4, 7):
        d = bfs(src)
        n, s = len(d), sum(d.values())
        want_c = (n - 1) * 1_000_000 // s if s > 0 else 0
        assert got[src] == (n, s, want_c), (src, got[src], (n, s, want_c))
    # source 4 reaches nothing -> closeness 0, n_reached 1
    assert got[4] == (1, 0, 0)


def test_closeness_centrality_convergence_assert(spark):
    """A 5-chain needs 4 productive supersteps plus the asserted no-op
    round: max_iters<=4 must raise with assert_converged, and the
    converged run is stable under oversizing."""
    import pytest as _pytest

    from fluxgraph_spark.operators.analytics import closeness_centrality

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    src = spark.createDataFrame([(1,)], ["id"])
    with _pytest.raises(ValueError, match="did not converge"):
        closeness_centrality(e, src, max_iters=4, assert_converged=True)
    a = closeness_centrality(e, src, max_iters=5, assert_converged=True)
    b = closeness_centrality(e, src, max_iters=7, assert_converged=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_components_star_convergence_assert(spark):
    """assert_converged trips when the round budget is exhausted before
    the star fixpoint, and an oversized budget is a no-op."""
    import pytest as _pytest

    from fluxgraph_spark.operators.analytics import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["src", "dst"]
    )
    with _pytest.raises(ValueError, match="did not reach its star fixpoint"):
        connected_components_star(chain, max_iters=1, assert_converged=True)
    got = connected_components_star(chain, max_iters=25, assert_converged=True)
    want = connected_components(chain, max_iters=45, early_stop=False)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_node2vec_max_degree_caps_and_matches_reference(spark):
    """Degree budget: an oversized cap is identical to the uncapped
    walk; a binding cap samples only hash-rank-kept neighbors, matching
    a scalar replay of the capped adjacency."""
    import hashlib

    import pytest as _pytest

    from fluxgraph_spark.operators.analytics import node2vec_walks

    # a hub (0) with 12 leaves, plus a chain so walks can keep moving
    edges = [(0, i) for i in range(1, 13)] + [(i, 0) for i in range(1, 13)]
    edges += [(1, 2), (2, 1)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (1,)], ["id"])

    uncapped = sorted(map(tuple, node2vec_walks(
        e, seeds, walk_len=3, p="2", q="1/2").collect()))
    oversize = sorted(map(tuple, node2vec_walks(
        e, seeds, walk_len=3, p="2", q="1/2", max_degree=100).collect()))
    assert uncapped == oversize

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # capped adjacency: per src, the max_degree smallest by
    # (md5('nbrcap:src:dst'), dst)
    cap = 4
    adj = {}
    for s, d in set(edges):
        adj.setdefault(s, []).append(d)
    capped = {
        s: sorted(sorted(ds, key=lambda d: (h(f"nbrcap:{s}:{d}"), d))[:cap])
        for s, ds in adj.items()
    }
    got = {r["walk_id"]: r["path"] for r in node2vec_walks(
        e, seeds, walk_len=3, p="2", q="1/2", max_degree=cap).collect()}
    # replay: hop 0 uniform over capped ranked list; hops 1+ weighted
    w_ret, w_d1, w_d2 = 1 * 1, 2 * 1, 2 * 2  # p=2, q=1/2 scaled by p*q
    for seed in (0, 1):
        path = [seed]
        v = seed
        nbrs = capped[v]
        v2 = nbrs[h(f"{seed}:0:{v}") % len(nbrs)]
        path.append(v2)
        prev, v = v, v2
        for t in (1, 2):
            nbrs = capped[v]
            ws = [w_ret if x == prev else (w_d1 if x in capped[prev] else w_d2)
                  for x in nbrs]
            r = h(f"{seed}:{t}:{v}") % sum(ws)
            cum = 0
            for x, w in zip(nbrs, ws):
                cum += w
                if r < cum:
                    nxt = x
                    break
            path.append(nxt)
            prev, v = v, nxt
        assert got[seed] == "->".join(map(str, path)), (seed, got[seed], path)
    with _pytest.raises(ValueError, match="max_degree"):
        node2vec_walks(e, seeds, max_degree=0)


def test_walk_driver_tier_matches_distributed(spark, monkeypatch):
    """The bounded walk driver tier (WALK_DRIVER_EDGE_MAX) replays the
    distributed recurrence exactly for BOTH samplers, on the corners
    the walk semantics expose: hubs, sinks (walk dropped mid-hop),
    self-loops, duplicate edges, seeds absent from the graph, biased
    weights, and a binding degree cap."""
    from fluxgraph_spark.operators import analytics as AN

    edges = (
        [(0, i) for i in range(1, 9)]          # hub
        + [(i, 0) for i in range(1, 7)]        # partial back-edges
        + [(7, 20), (20, 21)]                  # chain ending in sink 21
        + [(3, 3), (1, 2), (1, 2), (2, 1)]     # self-loop + dup edges
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (1,), (7,), (21,), (99,)], ["id"])

    def run(fn, cap, **kw):
        monkeypatch.setattr(AN, "WALK_DRIVER_EDGE_MAX", cap)
        return sorted(map(tuple, fn(e, seeds, **kw).collect()))

    for kw in (
        {"walk_len": 4, "p": "4", "q": "1/4"},
        {"walk_len": 3, "p": "1", "q": "1"},
        {"walk_len": 4, "p": "1/2", "q": "3", "max_degree": 3},
    ):
        drv = run(AN.node2vec_walks, 1 << 18, **kw)
        dist = run(AN.node2vec_walks, 0, **kw)
        assert drv == dist and drv  # non-empty: the corners really ran
    drv = run(AN.random_walks, 1 << 18, walk_len=4)
    dist = run(AN.random_walks, 0, walk_len=4)
    assert drv == dist and drv
    # a sink-terminated walk is dropped identically by both tiers
    assert all(r[0] != 21 for r in drv)


def test_star_converges_with_huge_ids_exact_signature(spark):
    """The star fixpoint signature must be EXACT at any id magnitude
    (r10 find, measured at 100x data): the old double-cast sums lost
    integer precision above 2^53, making the signature partition-order-
    dependent — a CONVERGED edge set never matched its own signature
    twice and assert_converged fired on a correct result.  The xor-of-
    row-hashes signature is exact at every magnitude: a 40-vertex chain
    with ids near 2^61 (where double addition of two ids already
    rounds) must converge, pass the assert, and label every vertex with
    the chain minimum."""
    from fluxgraph_spark.operators.analytics import connected_components_star

    base = 1 << 61
    ids = [base + 7 * i for i in range(40)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(39)], ["src", "dst"]
    )
    out = connected_components_star(
        edges, max_iters=25, assert_converged=True
    )
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["component"] == ids[0] for r in rows)


def test_components_driver_tier_matches_distributed(spark, monkeypatch):
    """The bounded driver tier (CC_DRIVER_EDGE_MAX) is decision-identical
    to the distributed supersteps for BOTH algorithms, on every corner
    the recurrences expose: converged graphs, fixed-round under-merge,
    the convergence asserts, early-stop parity, and huge ids."""
    import pytest as _pytest

    from fluxgraph_spark.operators import analytics as AN

    graphs = {
        "triangles+chain": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12),
                            (12, 10), (20, 21), (21, 22)],
        "chain30": [(i, i + 1) for i in range(1, 30)],
        "self-loops+dups": [(5, 5), (1, 2), (1, 2), (2, 1), (7, 8)],
        "huge-ids": [(2**62 + 3, 2**62 + 1), (2**62 + 1, 2**62 + 2),
                     (17, 2**61)],
    }

    def run_both(fn, edges_rows, **kw):
        e = spark.createDataFrame(edges_rows, ["src", "dst"])
        monkeypatch.setattr(AN, "CC_DRIVER_EDGE_MAX", 1 << 18)
        drv = fn(e, **kw)
        drv_rows = sorted(map(tuple, drv.collect()))
        monkeypatch.setattr(AN, "CC_DRIVER_EDGE_MAX", 0)
        dist = fn(e, **kw)
        dist_rows = sorted(map(tuple, dist.collect()))
        assert drv_rows == dist_rows
        return drv_rows

    for name, rows in graphs.items():
        run_both(AN.connected_components_star, rows, max_iters=25,
                 assert_converged=True)
        run_both(AN.connected_components, rows, max_iters=40,
                 early_stop=False, assert_converged=True)
        run_both(AN.connected_components, rows, max_iters=40, early_stop=True)

    # fixed-round under-merge: BOTH tiers return the identically
    # under-merged labels when the round budget is below the diameter
    # and the assert is off
    chain = graphs["chain30"]
    got = run_both(AN.connected_components, chain, max_iters=3,
                   early_stop=False)
    assert any(c != 1 for _, c in got)  # genuinely under-merged

    # ...and BOTH tiers raise when the assert is on
    e = spark.createDataFrame(chain, ["src", "dst"])
    for cap in (1 << 18, 0):
        monkeypatch.setattr(AN, "CC_DRIVER_EDGE_MAX", cap)
        with _pytest.raises(ValueError, match="did not converge"):
            AN.connected_components(e, max_iters=3, early_stop=False,
                                    assert_converged=True)
        with _pytest.raises(ValueError, match="star fixpoint"):
            AN.connected_components_star(e, max_iters=1,
                                         assert_converged=True)


def test_closeness_driver_tier_matches_distributed(spark, monkeypatch):
    """The bounded BFS driver tier replays closeness_centrality's
    superstep recurrence exactly: same levels, same integer-micro
    arithmetic, same truncated-round behavior, same convergence assert."""
    import pytest as _pytest

    from fluxgraph_spark.operators import analytics as AN

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7), (10, 11)],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([(1,), (10,), (99,)], ["id"])

    def run(cap, **kw):
        monkeypatch.setattr(AN, "BFS_DRIVER_EDGE_MAX", cap)
        return sorted(
            map(tuple, AN.closeness_centrality(edges, sources, **kw).collect())
        )

    # converged rounds, assert on
    assert run(1 << 21, max_iters=5, assert_converged=True) == run(
        0, max_iters=5, assert_converged=True
    )
    # truncated rounds, assert off: BOTH tiers report the identically
    # incomplete distances
    got = run(1 << 21, max_iters=2)
    assert got == run(0, max_iters=2)
    # ...and BOTH raise with the assert on
    for cap in (1 << 21, 0):
        monkeypatch.setattr(AN, "BFS_DRIVER_EDGE_MAX", cap)
        with _pytest.raises(ValueError, match="did not converge"):
            AN.closeness_centrality(
                edges, sources, max_iters=2, assert_converged=True
            )


def test_closeness_driver_tier_cells_gate(spark, monkeypatch):
    """The tier's real memory is sources x vertices dense int64 cells
    (ADVICE r12): over the cells budget it must refuse and fall back to
    the distributed path, with identical results."""
    from fluxgraph_spark.operators import analytics as AN

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7), (10, 11)],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([(1,), (10,)], ["id"])
    monkeypatch.setattr(AN, "BFS_DRIVER_EDGE_MAX", 1 << 21)
    # 2 sources x 9 vertices = 18 cells > 4: the tier must decline
    monkeypatch.setattr(AN, "_BFS_DRIVER_CELLS_MAX", 4)
    assert AN._closeness_driver_tier(edges, sources, 5, False) is None
    over = sorted(map(tuple, AN.closeness_centrality(
        edges, sources, max_iters=5, assert_converged=True
    ).collect()))
    # ...and under the budget the tier engages with identical output
    monkeypatch.setattr(AN, "_BFS_DRIVER_CELLS_MAX", 1 << 26)
    assert AN._closeness_driver_tier(edges, sources, 5, False) is not None
    under = sorted(map(tuple, AN.closeness_centrality(
        edges, sources, max_iters=5, assert_converged=True
    ).collect()))
    assert over == under


def test_probe_short_circuit_skips_large_file_inputs(spark, monkeypatch, tmp_path):
    """VERDICT r12 item 7: when the input's file bytes alone prove the
    row count exceeds the driver-tier cap, the limit(cap+1) probe job
    must never execute — the tier declines on metadata only."""
    from fluxgraph_spark import local_relation as LR
    from fluxgraph_spark.operators import analytics as AN

    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], ["src", "dst"]
    ).write.parquet(p)
    edges = spark.read.parquet(p)

    # tiny per-row budget: any real file is "definitely over" a 1-row cap
    monkeypatch.setattr(LR, "_PROBE_ROW_BYTES", 1)
    assert LR.files_prove_over(edges, 1)
    # the tier declines WITHOUT running a job
    sc = spark.sparkContext
    sc.setJobGroup("probe-sc-test", "probe short circuit")
    try:
        assert AN._cc_collect_bounded(edges, 1) is None
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("probe-sc-test") == []
    finally:
        sc.setJobGroup(None, None)

    # with the real budget the small file is NOT "over", probe proceeds
    monkeypatch.setattr(LR, "_PROBE_ROW_BYTES", 512)
    assert not LR.files_prove_over(edges, 1 << 18)
    assert AN._cc_collect_bounded(edges, 1 << 18) is not None
    # in-memory frames (no files) never short-circuit
    mem = spark.createDataFrame([(1, 2)], ["src", "dst"])
    assert not LR.files_prove_over(mem, 1)
