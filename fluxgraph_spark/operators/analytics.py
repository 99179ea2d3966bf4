"""Iterative graph analytics, DataFrame-native.

The driver's north star suggests GraphX for temporal graph analytics, but
GraphX has NO Python API (it is Scala/Java-only) — the PySpark-native
equivalent of its core algorithms is iterative DataFrame joins, which is
what this module provides.  Same Pregel-style structure (per-iteration
message aggregation), with Catalyst/AQE planning each superstep and
``localCheckpoint`` truncating lineage so long iteration chains don't
re-execute from the source.

Scale notes:
* each superstep is one shuffle keyed by vertex id — partitioning is
  stable across iterations, so co-location persists;
* ranks/components tables carry (id, value) only — never properties;
* convergence checks are O(1) aggregates on the change count.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import model as M
from ..local_relation import bounded_arrow, files_prove_over, integral, local_dataframe


def _finish(df: DataFrame, handles, checkpointed: bool = False) -> DataFrame:
    """Materialize an operator result and release its per-call caches
    (the package cache-lifetime pattern): operators persist their
    (re-)partitioned edge tables per CALL, so a long-lived session
    running many calls would otherwise accumulate cached blocks until
    executor storage evicts them.  If the final frame is not already
    rooted at a localCheckpoint (``checkpointed=False``), take one —
    results here are vertex-/edge-bounded, so the checkpoint holds no
    more than the result itself — then unpersist every handle."""
    if not checkpointed:
        df = df.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return df


def _vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col(M.SRC).alias(M.ID))
        .unionByName(edges.select(F.col(M.DST).alias(M.ID)))
        .distinct()
    )


# Connected-components driver tier (r12 optimization): when the EDGE
# LIST itself fits one bounded driver collect, the superstep loop is
# pure scheduling latency — every round of the distributed form costs
# two shuffles, a localCheckpoint and a convergence action over a graph
# that fits in one task.  Below this cap the SAME recurrence (min-label
# supersteps / large-small-star alternation, identical round and
# convergence/assert semantics — simulated step for step, so even the
# non-converged corners raise or under-merge exactly like the
# distributed form) runs in-process and the result parallelizes back as
# one small local relation.  Past the cap the distributed path is
# untouched — the ivf_assign broadcast-tier pattern.  The probe is one
# limit(cap+1) collect of the edge projection, which is also the only
# upstream execution the driver tier ever makes (the distributed star
# path executes the upstream pair lineage twice: once for the edge
# checkpoint, once for the vertex-universe persist).
CC_DRIVER_EDGE_MAX = 1 << 18


def _cc_ids(edges: DataFrame) -> bool:
    """The id-type gate of the components and walk tiers: integral
    endpoints of one type."""
    return (
        integral(edges, M.SRC)
        and edges.schema[M.DST].dataType == edges.schema[M.SRC].dataType
    )


def _cc_collect_bounded(edges: DataFrame, cap: int):
    """The (src, dst) pairs when the edge list fits ``cap`` rows, else
    None: use the distributed path (over the cap, NULL endpoints, or id
    types the driver replay does not model)."""
    if not _cc_ids(edges):
        return None
    # NULL endpoints: keep the distributed path's join semantics
    tbl = bounded_arrow(
        edges.select(M.SRC, M.DST), cap, not_null=(M.SRC, M.DST), file_rows=True
    )
    if tbl is None:
        return None
    return list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))


def _cc_label_driver(pairs, max_iters, early_stop, assert_converged):
    """Exact in-process replay of :func:`connected_components`'s
    min-label supersteps (symmetrized distinct adjacency, min over
    neighbors ∪ self per round, the same early-stop / tail-sum assert
    arithmetic — python ints are exact like the decimal(38,0) sums).
    Returns {id: component}."""
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    comp = {v: v for v in adj}
    prev_sum = None
    tail_sums = []
    for i in range(max_iters):
        new = {}
        for v, nbrs in adj.items():
            m = comp[v]
            for u in nbrs:
                cu = comp[u]
                if cu < m:
                    m = cu
            new[v] = m
        comp = new
        if early_stop:
            cur_sum = sum(comp.values())
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        elif assert_converged and i >= max_iters - 2:
            tail_sums.append(sum(comp.values()))
    if not early_stop and assert_converged and len(tail_sums) == 2:
        if tail_sums[0] != tail_sums[1]:
            raise ValueError(
                f"connected_components did not converge within "
                f"max_iters={max_iters} fixed rounds (label sum still "
                f"changing in the final superstep) — the component "
                f"labels are under-merged; raise max_iters (and the "
                f"matching oracle's round count: converged rounds are "
                f"no-ops, so oversizing is always safe)"
            )
    return comp


def _cc_star_driver(pairs, max_iters, assert_converged):
    """Exact in-process replay of :func:`connected_components_star`'s
    large-star/small-star alternation, round for round (set equality
    replaces the xor-signature screen — the distributed loop only ever
    breaks on confirmed set equality, so the break round is identical).
    Returns {id: component} over the full vertex universe."""
    verts = set()
    e = set()
    for u, v in pairs:
        verts.add(u)
        verts.add(v)
        if u != v:
            e.add((u, v))
    prev_e = None
    converged = False
    for _ in range(max_iters):
        # large-star over both orientations
        b = e | {(v, u) for (u, v) in e}
        # m[u] = min(Γ_b(u) ∪ {u}) — the dict default supplies the ∪ {u}
        m: dict = {}
        for u, v in b:
            if v < m.get(u, u):
                m[u] = v
        e1 = set()
        for u, v in b:
            if v > u:
                w = m.get(u, u)
                if v != w:
                    e1.add((v, w))
        # small-star on the canonicalized (larger, smaller) edges
        c = {(u, v) if u > v else (v, u) for (u, v) in e1}
        m2: dict = {}
        for u, v in c:
            if v < m2.get(u, v + 1):
                m2[u] = v
        new_e = set()
        for u, v in c:
            w = m2[u]
            if v != w:
                new_e.add((v, w))
        for u, w in m2.items():
            if u != w:
                new_e.add((u, w))
        e = new_e
        if e == prev_e:
            converged = True
            break
        prev_e = e
    if assert_converged and not converged:
        raise ValueError(
            f"connected_components_star did not reach its star fixpoint "
            f"within max_iters={max_iters} rounds — component labels "
            f"would be under-merged; raise max_iters (star rounds are "
            f"O(log diameter), so a small increase covers a vastly "
            f"deeper graph)"
        )
    labels: dict = {}
    for u, v in e:
        if v < labels.get(u, v + 1):
            labels[u] = v
    return {v: labels.get(v, v) for v in verts}


def pagerank(
    edges: DataFrame,
    num_iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed-iteration PageRank (no dangling-mass redistribution, so the
    recurrence is pure relational algebra and a SQL oracle can replay it
    exactly):  r_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_t(u)/outdeg(u).

    Returns (id, pagerank).  One shuffle per iteration (the contribution
    aggregation); the vertex set and out-degrees are computed once.

    The (src, dst) edge list is hash-partitioned by src and persisted up
    front: every superstep joins and aggregates on src, so the cached
    partitioning is reused (only the small rank table moves per
    iteration), and a non-trivial upstream plan (e.g. a union with a
    distinct) executes once, not once per reference."""
    edges = edges.select(M.SRC, M.DST).repartition(M.SRC).persist()
    edges.count()  # eager: AQE + lazy persist would re-run the upstream
    # plan (graph construction) once per superstep otherwise
    verts = _vertices_of(edges).persist()
    n = verts.count()
    outdeg = edges.groupBy(F.col(M.SRC).alias(M.ID)).agg(
        F.count("*").alias("outdeg")
    )
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(num_iters):
        contribs = (
            edges.select(M.SRC, M.DST)
            .join(ranks.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .join(outdeg.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .groupBy(F.col(M.DST).alias(M.ID))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        ranks = (
            verts.join(contribs, M.ID, "left")
            .select(
                M.ID,
                (F.lit(base) + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return _finish(
        ranks.select(M.ID, F.col("rank").alias("pagerank")),
        [edges, verts],
        checkpointed=num_iters > 0 and num_iters % checkpoint_every == 0,
    )


def pagerank_personalized(
    edges: DataFrame,
    sources: DataFrame,
    num_iters: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to the source set
    instead of spreading uniformly —
    r_{t+1}(v) = (1-d)*[v∈S]/|S| + d * Σ_{(u,v)∈E} r_t(u)/outdeg(u),
    r_0 = uniform over S.  Ranks measure proximity to the sources.

    Same fixed-iteration pure-relational recurrence as :func:`pagerank`
    (no dangling-mass redistribution), so a chained-CTE SQL oracle can
    replay it; same scale shape (cached src-partitioned edges, only the
    rank table moves per superstep)."""
    edges = edges.select(M.SRC, M.DST).repartition(M.SRC).persist()
    edges.count()  # eager — see pagerank
    verts = _vertices_of(edges).persist()
    src_set = sources.select(F.col(sources.columns[0]).alias(M.ID)).distinct()
    n_src = src_set.count()
    outdeg = edges.groupBy(F.col(M.SRC).alias(M.ID)).agg(
        F.count("*").alias("outdeg")
    )
    is_src = verts.join(src_set.withColumn("__s", F.lit(1)), M.ID, "left").select(
        M.ID, F.coalesce("__s", F.lit(0)).alias("__s")
    ).persist()
    ranks = is_src.select(M.ID, (F.col("__s") / n_src).alias("rank"))
    for i in range(num_iters):
        contribs = (
            edges.join(ranks.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .join(outdeg.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .groupBy(F.col(M.DST).alias(M.ID))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        ranks = is_src.join(contribs, M.ID, "left").select(
            M.ID,
            (
                F.lit(1.0 - damping) * F.col("__s") / n_src
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return _finish(
        ranks.select(M.ID, F.col("rank").alias("pagerank")),
        [edges, verts, is_src],
        checkpointed=num_iters > 0 and num_iters % checkpoint_every == 0,
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    early_stop: bool = True,
    checkpoint_every: int = 1,
    assert_converged: bool = False,
) -> DataFrame:
    """Weakly-connected components by min-label propagation: every vertex
    starts labeled with its own id; each superstep takes the min of its
    label and its neighbors' labels, until fixpoint (or ``max_iters``).

    Returns (id, component) where component = min vertex id reachable.
    ``early_stop=False`` runs exactly ``max_iters`` supersteps — the
    deterministic-replay mode a fixed-iteration SQL oracle can match.
    A fixed round count is only CORRECT when it is >= the graph's label
    convergence round (a diameter-length chain needs ~diameter rounds;
    short of that, distant cluster members keep different labels and
    the caller silently under-merges — and a fixed-round oracle that
    replays the same rounds stays green while the decision is wrong).
    ``assert_converged=True`` closes that hole: labels are monotone
    non-increasing, so the label sum is stable between the last two
    supersteps IFF the final round was a no-op, i.e. the output is a
    true fixpoint; otherwise this raises ValueError telling the caller
    to raise ``max_iters`` (converged extra rounds are no-ops, so the
    matching fixed-round SQL oracle stays valid at any oversized
    count).  Costs two scalar aggregations total, only in fixed-round
    mode."""
    if assert_converged and (early_stop or max_iters < 2):
        raise ValueError(
            "assert_converged requires early_stop=False and max_iters >= 2 "
            "(the probe compares the last two fixed rounds' label sums)"
        )
    edges = edges.select(M.SRC, M.DST)
    pairs = _cc_collect_bounded(edges, CC_DRIVER_EDGE_MAX)
    if pairs is not None:
        comp_map = _cc_label_driver(pairs, max_iters, early_stop, assert_converged)
        spark = edges.sparkSession
        id_t = edges.schema[M.SRC].dataType
        schema = T.StructType(
            [T.StructField(M.ID, id_t, True), T.StructField("component", id_t, True)]
        )
        ids = sorted(comp_map)
        return local_dataframe(spark, [ids, [comp_map[i] for i in ids]], schema)
    # distinct + hash-partition by src once: each superstep's join reuses
    # the cached partitioning, shuffling only the (id, component) table.
    # Materialized eagerly — under AQE a lazy persist re-runs the whole
    # upstream graph-construction plan once per superstep.
    sym = (
        edges.unionByName(
            edges.select(F.col(M.DST).alias(M.SRC), F.col(M.SRC).alias(M.DST))
        )
        .distinct()
        .repartition(M.SRC)
        .persist()
    )
    sym.count()
    # every vertex appears as a src in the symmetrized table, so the
    # vertex set comes from the cache — no second scan of the upstream
    comp = (
        sym.select(F.col(M.SRC).alias(M.ID))
        .distinct()
        .withColumn("component", F.col(M.ID))
    )
    prev_sum = None
    tail_sums: list = []
    last_ck = False  # is comp rooted at a localCheckpoint?
    for i in range(max_iters):
        # one superstep = messages (join on the cached sym partitioning)
        # + a single min-aggregation over neighbor labels UNION self
        # labels — no separate left join, so the steady state is one
        # shuffle per superstep
        msgs = (
            sym.join(comp.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .select(F.col(M.DST).alias(M.ID), "component")
        )
        new_comp = (
            msgs.unionByName(comp)
            .groupBy(M.ID)
            .agg(F.min("component").alias("component"))
        )
        last_ck = (i + 1) % checkpoint_every == 0
        if last_ck:
            new_comp = new_comp.localCheckpoint()
        if early_stop:
            # labels are monotonically non-increasing, so the sum of all
            # labels strictly decreases until fixpoint — one scalar agg
            # replaces the old join-and-count convergence probe.  The
            # sum runs in decimal(38,0): long sums overflow (and under
            # ANSI mode RAISE) once ids reach hash magnitudes (~2^61
            # ids x 10^6 vertices > Long.MAX — the star signature bug's
            # sibling, found in the r10 review); decimal is exact to
            # 10^38 so the monotone-sum argument holds at any id scale
            cur_sum = new_comp.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).collect()[0][0]
            comp = new_comp
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            comp = new_comp
            if assert_converged and i >= max_iters - 2:
                # the last two rounds' label sums; equality means the
                # final round changed nothing (monotone labels), i.e.
                # the fixed round count covered the graph's diameter
                # (decimal(38,0): exact + overflow-free at hash-scale
                # ids, same reasoning as the early_stop probe above)
                tail_sums.append(
                    comp.agg(
                        F.sum(F.col("component").cast("decimal(38,0)"))
                    ).collect()[0][0]
                )
    if not early_stop and assert_converged and len(tail_sums) == 2:
        if tail_sums[0] != tail_sums[1]:
            raise ValueError(
                f"connected_components did not converge within "
                f"max_iters={max_iters} fixed rounds (label sum still "
                f"changing in the final superstep) — the component "
                f"labels are under-merged; raise max_iters (and the "
                f"matching oracle's round count: converged rounds are "
                f"no-ops, so oversizing is always safe)"
            )
    return _finish(comp, [sym], checkpointed=last_ck)


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_iters: int = 4,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any source vertex,
    by min-distance propagation (dist[dst] = min(dist[dst],
    min_{(src,dst)∈E} dist[src] + 1) per superstep).

    Fixed ``max_iters`` supersteps so a chained-CTE SQL oracle replays
    the recurrence exactly; unreached vertices are absent from the
    output (their distance is still +inf).  Same scale shape as
    :func:`connected_components`: the edge list is hash-partitioned by
    src once and reused every superstep; only the small (id, level)
    table moves per iteration.

    ``sources`` is a one-column (id) DataFrame; distances start at 0
    there.  Traversal follows edge direction — pass a reversed edge
    list for inbound reachability.
    """
    e = edges.select(M.SRC, M.DST).distinct().repartition(M.SRC).persist()
    e.count()  # eager — see connected_components
    dist = sources.select(F.col(sources.columns[0]).alias(M.ID)).distinct().withColumn(
        "level", F.lit(0).cast("long")
    )
    for i in range(max_iters):
        msgs = (
            e.join(dist.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .select(F.col(M.DST).alias(M.ID), (F.col("level") + 1).alias("level"))
        )
        dist = (
            msgs.unionByName(dist)
            .groupBy(M.ID)
            .agg(F.min("level").alias("level"))
        )
        if (i + 1) % checkpoint_every == 0:
            dist = dist.localCheckpoint()
    return _finish(
        dist, [e],
        checkpointed=max_iters > 0 and max_iters % checkpoint_every == 0,
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iters: int = 4,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Single/multi-source shortest paths over weighted edges
    (Bellman-Ford as DataFrame supersteps): dist[dst] = min(dist[dst],
    min over in-edges (dist[src] + w)).  Fixed ``max_iters`` supersteps
    (= max path length relaxed) so a chained-CTE SQL oracle replays the
    recurrence; unreached vertices are absent.

    Same scale shape as :func:`bfs_levels`: the weighted edge list is
    hash-partitioned by src once; each superstep moves only (id, dist).
    With integer-valued weights the double arithmetic is exact, so the
    min over alternative paths is engine-independent.
    """
    e = (
        edges.select(M.SRC, M.DST, F.col(weight_col).cast("double").alias("w"))
        .repartition(M.SRC)
        .persist()
    )
    e.count()  # eager — see connected_components
    dist = sources.select(F.col(sources.columns[0]).alias(M.ID)).distinct().withColumn(
        "dist", F.lit(0.0)
    )
    for i in range(max_iters):
        msgs = (
            e.join(dist.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .select(F.col(M.DST).alias(M.ID), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            msgs.unionByName(dist)
            .groupBy(M.ID)
            .agg(F.min("dist").alias("dist"))
        )
        if (i + 1) % checkpoint_every == 0:
            dist = dist.localCheckpoint()
    return _finish(
        dist, [e],
        checkpointed=max_iters > 0 and max_iters % checkpoint_every == 0,
    )


# Sampled-BFS driver tier (r12 optimization, the CC_DRIVER_EDGE_MAX
# pattern): closeness runs BFS from a BOUNDED pivot sample, so when the
# edge list also fits one bounded Arrow collect the whole superstep
# loop — distinct + repartition + persist of the edge table, then a
# join + min-agg + localCheckpoint per round — is scheduling latency
# over data one process holds comfortably.  Below the cap the identical
# recurrence (min-level supersteps for exactly max_iters rounds, the
# same (count, level-sum) tail-stat assert, the same integer-micro
# closeness arithmetic) runs on numpy arrays; past it the distributed
# path is untouched.
BFS_DRIVER_EDGE_MAX = 1 << 21
_BFS_DRIVER_SOURCE_MAX = 4096
# The tier holds one dense int64 level array PER SOURCE, so its real
# memory is len(sources) x n_vertices cells — the edge and source caps
# alone admit ~4.2M vertices x 4096 sources ≈ 137 GB.  Gate on the
# product: 2^26 cells x 8 B = 512 MB worst case, comfortably driver-
# sized, and anything larger falls back to the distributed supersteps.
_BFS_DRIVER_CELLS_MAX = 1 << 26


def _closeness_driver_tier(
    edges: DataFrame, sources: DataFrame, max_iters: int, assert_converged: bool
):
    cap = BFS_DRIVER_EDGE_MAX
    s_field = sources.schema[sources.columns[0]]
    # every job-free gate before the source sample's job
    if (
        not (integral(edges, M.SRC, M.DST) and integral(sources, s_field.name))
        or cap <= 0
        or files_prove_over(edges, cap)
    ):
        return None
    src_tbl = bounded_arrow(
        sources.select(F.col(s_field.name).alias("source")).distinct(),
        _BFS_DRIVER_SOURCE_MAX,
        not_null=("source",),
    )
    if src_tbl is None:
        return None
    tbl = bounded_arrow(edges.select(M.SRC, M.DST), cap, not_null=(M.SRC, M.DST))
    if tbl is None:
        return None
    import numpy as np

    srcs = sorted(src_tbl.column(0).to_pylist())
    eu = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    ev = tbl.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
    ids = np.unique(
        np.concatenate([eu, ev, np.array(srcs, dtype=np.int64)])
    )
    if len(srcs) * ids.size > _BFS_DRIVER_CELLS_MAX:
        return None
    ui = np.searchsorted(ids, eu)
    vi = np.searchsorted(ids, ev)
    n = ids.size
    INF = np.iinfo(np.int64).max
    levs = []
    for s in srcs:
        lev = np.full(n, INF, dtype=np.int64)
        lev[np.searchsorted(ids, int(s))] = 0
        levs.append(lev)
    tail = []
    for i in range(max_iters):
        for lev in levs:
            m = lev[ui]
            reach = m != INF
            np.minimum.at(lev, vi[reach], m[reach] + 1)
        if assert_converged and i >= max_iters - 2:
            ncnt = 0
            ssum = 0
            for lev in levs:
                fin = lev != INF
                ncnt += int(fin.sum())
                ssum += int(lev[fin].sum())
            tail.append((ncnt, ssum))
    if assert_converged and len(tail) == 2 and tail[0] != tail[1]:
        raise ValueError(
            f"closeness_centrality did not converge within "
            f"max_iters={max_iters} fixed supersteps (frontier still "
            f"growing or levels still shrinking in the final round) — "
            f"distances are incomplete; raise max_iters (and the "
            f"matching oracle's round count: converged rounds are "
            f"no-ops, so oversizing is always safe)"
        )
    n_reached, sum_levels = [], []
    for lev in levs:
        fin = lev != INF
        n_reached.append(int(fin.sum()))
        sum_levels.append(int(lev[fin].sum()))
    cm = [(n - 1) * 1_000_000 // sl if sl > 0 else 0 for n, sl in zip(n_reached, sum_levels)]
    schema = T.StructType(
        [
            T.StructField("source", s_field.dataType, True),
            T.StructField("n_reached", T.LongType(), False),
            T.StructField("sum_levels", T.LongType(), True),
            T.StructField("closeness_micro", T.LongType(), True),
        ]
    )
    return local_dataframe(edges.sparkSession, [srcs, n_reached, sum_levels, cm], schema)


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_iters: int = 4,
    assert_converged: bool = False,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Sampled-source closeness centrality: per-SOURCE BFS distances
    (the frontier carries a ``source`` label, so one superstep loop
    serves all sources simultaneously — k sources cost k× the frontier
    rows, never k separate jobs), then per source

    * ``n_reached``  — vertices at finite distance (incl. the source),
    * ``sum_levels`` — sum of hop distances,
    * ``closeness_micro`` — floor((n_reached - 1) * 1e6 / sum_levels),
      the classic closeness c(s) = (|R(s)|-1) / Σ_v d(s,v) in exact
      integer micros (hash-gateable; 0 when nothing else is reached).

    Exact closeness needs all-pairs distances — O(V·E), not a 100 TB
    operation.  The standard scale recipe (Eppstein & Wang, SODA'01)
    is BFS from a bounded SAMPLE of sources, which is exactly this
    operator: pass the md5-bottom-k of the vertex table (or a fixed
    pivot set) as ``sources``; cost is max_iters shuffles over a
    frontier of at most |sources|·|V| (id, source, level) rows, with
    the edge list hash-partitioned by src once and reused every
    superstep (the :func:`bfs_levels` shape).

    Fixed ``max_iters`` supersteps so a chained-CTE SQL oracle replays
    the recurrence exactly.  ``assert_converged=True`` closes the
    fixed-round hole (the :func:`connected_components` pattern): levels
    are monotone non-increasing per (source, id) and newly-reached
    pairs only add rows, so the (row count, level sum) pair is stable
    between the last two supersteps IFF the final round was a no-op;
    otherwise raises ValueError telling the caller to raise max_iters
    (converged extra rounds are no-ops, so oversizing is always safe).
    Costs two 1-row aggregations, nothing per-vertex.

    Reference parity: closeness over Blueprints graphs is a standard
    Gremlin-side derivation (per-source ``store``/``path`` walks); this
    is the bulk analog.
    """
    if assert_converged and max_iters < 2:
        raise ValueError(
            "assert_converged requires max_iters >= 2 (the probe "
            "compares the last two fixed rounds' frontier stats)"
        )
    driver_out = _closeness_driver_tier(edges, sources, max_iters, assert_converged)
    if driver_out is not None:
        return driver_out
    e = edges.select(M.SRC, M.DST).distinct().repartition(M.SRC).persist()
    e.count()  # eager — see connected_components
    dist = (
        sources.select(F.col(sources.columns[0]).alias("source"))
        .distinct()
        .select("source", F.col("source").alias(M.ID))
        .withColumn("level", F.lit(0).cast("long"))
    )
    tail_stats: list = []
    last_ck = False
    for i in range(max_iters):
        msgs = (
            e.join(dist.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .select(
                "source",
                F.col(M.DST).alias(M.ID),
                (F.col("level") + 1).alias("level"),
            )
        )
        dist = (
            msgs.unionByName(dist)
            .groupBy("source", M.ID)
            .agg(F.min("level").alias("level"))
        )
        last_ck = (i + 1) % checkpoint_every == 0
        if last_ck:
            dist = dist.localCheckpoint()
        if assert_converged and i >= max_iters - 2:
            row = dist.agg(
                F.count(F.lit(1)).alias("n"), F.sum("level").alias("s")
            ).collect()[0]
            tail_stats.append((row["n"], row["s"]))
    if assert_converged and len(tail_stats) == 2 and tail_stats[0] != tail_stats[1]:
        raise ValueError(
            f"closeness_centrality did not converge within "
            f"max_iters={max_iters} fixed supersteps (frontier still "
            f"growing or levels still shrinking in the final round) — "
            f"distances are incomplete; raise max_iters (and the "
            f"matching oracle's round count: converged rounds are "
            f"no-ops, so oversizing is always safe)"
        )
    out = dist.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("level").alias("sum_levels"),
    ).select(
        "source",
        "n_reached",
        "sum_levels",
        F.when(
            F.col("sum_levels") > 0,
            F.expr("(n_reached - 1) * 1000000 div sum_levels"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("closeness_micro"),
    )
    return _finish(out, [e], checkpointed=False)


def label_propagation(
    edges: DataFrame,
    num_iters: int = 4,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA): every
    vertex starts in its own community; each superstep it adopts the
    most frequent label among its neighbors (deterministic tie-break:
    smallest label wins), vertices with no neighbors keep their label.

    Fully deterministic — the argmax is computed as
    ``max(struct(count, -label))`` so a fixed-iteration SQL oracle can
    replay the exact recurrence.  One neighbor-count shuffle plus one
    argmax shuffle per superstep, both keyed by vertex id; the
    symmetrized edge list is hash-partitioned once and reused.
    """
    e = edges.select(M.SRC, M.DST)
    sym = (
        e.unionByName(e.select(F.col(M.DST).alias(M.SRC), F.col(M.SRC).alias(M.DST)))
        .distinct()
        .repartition(M.SRC)
        .persist()
    )
    sym.count()  # eager — see connected_components
    labels = (
        sym.select(F.col(M.SRC).alias(M.ID)).distinct().withColumn(
            "label", F.col(M.ID)
        )
    )
    for i in range(num_iters):
        msgs = sym.join(labels.withColumnRenamed(M.ID, M.SRC), M.SRC).select(
            F.col(M.DST).alias(M.ID), "label"
        )
        counts = msgs.groupBy(M.ID, "label").agg(F.count("*").alias("n"))
        winners = (
            counts.groupBy(M.ID)
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("w"))
            .select(M.ID, (-F.col("w.neg")).alias("label"))
        )
        labels = labels.select(M.ID).join(winners, M.ID, "left").select(
            M.ID, F.coalesce("label", F.col(M.ID)).alias("label")
        )
        if (i + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint()
    return _finish(
        labels.select(M.ID, F.col("label").alias("community")),
        [sym],
        checkpointed=num_iters > 0 and num_iters % checkpoint_every == 0,
    )


def _edge_sets_equal(e: DataFrame, prev_e: DataFrame) -> bool:
    """Exact set equality for two (u, v) DISTINCT edge frames whose
    counts are already known equal (the star fixpoint confirmation):
    equal-count distinct sets are equal iff no row of one is missing
    from the other — ONE bounded anti-join probe, not a full
    two-sided except."""
    return e.join(prev_e, ["u", "v"], "left_anti").isEmpty()


def connected_components_star(
    edges: DataFrame, max_iters: int = 25, assert_converged: bool = False
) -> DataFrame:
    """Weakly-connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — a published MapReduce algorithm, re-expressed as DataFrame
    aggregations).  Converges in O(log n) rounds versus min-label
    propagation's O(diameter): the scale path for graphs with long
    chains (a 100 TB web graph has diameter in the tens; a pathological
    lineage chain can be millions deep — label propagation never
    finishes there, this does).

    Each round is two phases; each phase is one groupBy-min plus one
    join on the same key, so partitioning is reused within the phase:

    * large-star: attach every neighbor v > u to m = min(Γ(u) ∪ {u});
    * small-star: attach every neighbor v <= u (and u itself) to the
      min of u's smaller neighborhood.

    Fixpoint = the edge multiset is a set of stars rooted at component
    minima; a cheap (count, double-sum) signature screens each round,
    and a signature MATCH is then confirmed with one exact anti-join
    (both sides are distinct checkpointed sets with equal counts, so
    set equality == "no row of this round missing from the last") —
    a signature collision between two different edge sets can slow
    convergence detection by a round but can never falsely declare a
    fixpoint, which matters because callers' correctness
    (assert_converged=True) rides on the labels being truly converged.
    Returns (id, component), identical to
    :func:`connected_components` output.

    ``assert_converged=True`` raises ValueError if the round budget is
    exhausted before the signature stabilizes (labels would be
    under-merged) — the same correctness-at-scale contract as
    :func:`connected_components`; at O(log n) rounds the default budget
    of 25 covers any graph with < 2^25-deep chains, so the assert is a
    tripwire, not a tuning knob.
    """
    ecast = edges.select(
        F.col(M.SRC).cast("long").alias(M.SRC),
        F.col(M.DST).cast("long").alias(M.DST),
    )
    pairs = _cc_collect_bounded(ecast, CC_DRIVER_EDGE_MAX)
    if pairs is not None:
        comp_map = _cc_star_driver(pairs, max_iters, assert_converged)
        spark = edges.sparkSession
        schema = T.StructType(
            [
                T.StructField(M.ID, T.LongType(), True),
                T.StructField("component", T.LongType(), True),
            ]
        )
        ids = sorted(comp_map)
        return local_dataframe(spark, [ids, [comp_map[i] for i in ids]], schema)
    e = (
        edges.select(
            F.col(M.SRC).cast("long").alias("u"),
            F.col(M.DST).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # vertex universe from the ORIGINAL edges (roots drop out of the
    # star edge list's key side, and self-loop-only vertices drop out
    # of e entirely — both must still be labeled)
    verts = (
        edges.select(F.col(M.SRC).cast("long").alias(M.ID))
        .unionByName(edges.select(F.col(M.DST).cast("long").alias(M.ID)))
        .distinct()
        .persist()
    )
    prev_sig = None
    prev_e = None
    converged = False
    for _ in range(max_iters):
        # --- large-star: operate on both orientations -----------------
        b = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            b.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )
        e = (
            b.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: canonicalize to (larger, smaller) ------------
        c = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        m2 = c.groupBy("u").agg(F.min("v").alias("m"))
        attached = c.join(m2, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        roots = m2.select(F.col("u"), F.col("m").alias("v"))
        e = (
            attached.unionByName(roots)
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # --- fixpoint probe: one scalar row --------------------------
        # (count, xor-of-row-hashes): EXACT and order-independent at
        # any id magnitude.  The previous double sums were wrong at
        # scale: above 2^53 double addition is partition-order-
        # dependent, so a CONVERGED edge set never matched its own
        # signature twice (measured at 100x data: sum(u) ~ 9.9e15
        # wobbled by ±8 across evaluations and the assert fired on a
        # long-converged graph).  XOR over distinct rows is exact at
        # every magnitude and can't overflow; a collision is backstopped
        # by the exact anti-join confirm below.
        sig = tuple(
            e.agg(
                F.count("*"),
                F.expr("bit_xor(xxhash64(u, v))"),
            ).collect()[0]
        )
        if sig == prev_sig:
            # the signature only SCREENS: confirm the fixpoint exactly
            # before declaring convergence (a collision between two
            # different edge sets must not pass as converged — the
            # labels would be silently under-merged behind the assert).
            if prev_e is not None and _edge_sets_equal(e, prev_e):
                converged = True
                break
        prev_sig = sig
        prev_e = e
    if assert_converged and not converged:
        raise ValueError(
            f"connected_components_star did not reach its star fixpoint "
            f"within max_iters={max_iters} rounds — component labels "
            f"would be under-merged; raise max_iters (star rounds are "
            f"O(log diameter), so a small increase covers a vastly "
            f"deeper graph)"
        )
    # at fixpoint e is (member, root) stars; roots self-label
    labels = e.groupBy(F.col("u").alias(M.ID)).agg(F.min("v").alias("component"))
    out = verts.join(labels, M.ID, "left").select(
        M.ID, F.coalesce("component", F.col(M.ID)).alias("component")
    )
    return _finish(out, [verts])


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_iters: int = 12,
    checkpoint_every: int = 1,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel vertices whose
    (undirected) degree is below ``k``; the survivors are the k-core.
    Returns ``(id, core_degree)`` — each member with its within-core
    degree.  Peeling is run for at most ``max_iters`` rounds with an
    early exit at the fixpoint; extra replayed rounds are no-ops, so a
    fixed-iteration SQL oracle reproduces the result exactly.

    Scale shape: the symmetrized edge list is hash-partitioned by src
    once; each round is one degree aggregation plus two semi-joins
    against the (small, shrinking) survivor set — Catalyst broadcasts
    the survivor side once it fits, so late rounds are shuffle-free.
    Peel rounds are bounded by the degeneracy ordering depth, which is
    tiny (tens) even on web-scale graphs.
    """
    e = edges.select(M.SRC, M.DST)
    sym = (
        e.unionByName(e.select(F.col(M.DST).alias(M.SRC), F.col(M.SRC).alias(M.DST)))
        .distinct()
        .repartition(M.SRC)
        .persist()
    )
    prev_n = sym.count()  # eager — see connected_components
    cur = sym
    last_ck = False  # is cur rooted at a localCheckpoint?
    for i in range(max_iters):
        keep = (
            cur.groupBy(M.SRC)
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(M.SRC)
        )
        cur = cur.join(keep, M.SRC, "left_semi").join(
            keep.withColumnRenamed(M.SRC, M.DST), M.DST, "left_semi"
        )
        last_ck = (i + 1) % checkpoint_every == 0
        if last_ck:
            cur = cur.localCheckpoint()
        n = cur.count()
        if n == prev_n:  # monotone shrink -> equal count == fixpoint
            break
        prev_n = n
    out = cur.groupBy(M.SRC).agg(F.count("*").alias("core_degree")).select(
        F.col(M.SRC).alias(M.ID), "core_degree"
    )
    # the groupBy over a checkpointed cur no longer references sym
    return _finish(out, [sym], checkpointed=last_ck)


def common_neighbor_scores(
    edges: DataFrame,
    min_common: int = 2,
) -> DataFrame:
    """Link prediction by common-neighbor count: every NON-adjacent
    vertex pair ``(a < b)`` sharing at least ``min_common`` neighbors,
    with the exact shared-neighbor count (an integer — deterministic
    across engines, unlike log-weighted Adamic-Adar).

    Scale shape: one wedge enumeration (self-join on the shared
    neighbor) + count aggregation + anti-join against the existing
    edge set.  Wedge counts are quadratic in hub degree — at 100 TB cap
    or sample hub neighborhoods first (the standard mitigation), or let
    AQE skew-split the join; the testdata projection is threshold-pruned
    so no cap is needed here.
    """
    e = edges.select(M.SRC, M.DST)
    sym = (
        e.unionByName(e.select(F.col(M.DST).alias(M.SRC), F.col(M.SRC).alias(M.DST)))
        .distinct()
    )
    wedges = (
        sym.select(F.col(M.DST).alias("z"), F.col(M.SRC).alias("a"))
        .join(sym.select(F.col(M.SRC).alias("z"), F.col(M.DST).alias("b")), "z")
        .where(F.col("a") < F.col("b"))
    )
    scores = wedges.groupBy("a", "b").agg(F.count("*").alias("n_common"))
    canon = e.select(
        F.least(F.col(M.SRC), F.col(M.DST)).alias("a"),
        F.greatest(F.col(M.SRC), F.col(M.DST)).alias("b"),
    ).distinct()
    return scores.join(canon, ["a", "b"], "left_anti").where(
        F.col("n_common") >= min_common
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the UNDIRECTED simple graph of
    ``edges`` (self-loops dropped, both orientations unified).

    Degree-ordered orientation — the compact-forward algorithm (Schank
    & Wagner, WEA 2005; Latapy, TCS 2008): orient every edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only
    at each triangle's unique two-out-edges vertex, and close them
    against the oriented edge set.  The orientation caps every
    vertex's out-degree at O(sqrt(m)), so wedge work is O(m^1.5)
    REGARDLESS of hub degree — the property that keeps the enumeration
    alive at 100 TB, where an unoriented wedge join is quadratic in
    the hottest vertex.  Three joins total, all equi-joins AQE can
    plan; every triangle is emitted exactly once.

    Returns (vertex_id, n_triangles) for EVERY vertex of the edge set
    (0 for triangle-free vertices) — deterministic, so a SQL oracle
    replays it join-for-join."""
    e = edges.select(M.SRC, M.DST).where(F.col(M.SRC) != F.col(M.DST))
    # canon feeds the degree count, the orientation join AND the final
    # vertex list, and o feeds both wedge sides plus the closing join —
    # under different shuffle keys, so ReuseExchange cannot collapse
    # them; persist so an expensive upstream edge derivation (e.g. the
    # blocked cosine pair join) runs once per action
    canon = e.select(
        F.least(M.SRC, M.DST).alias("a"),
        F.greatest(M.SRC, M.DST).alias("b"),
    ).distinct().persist()
    verts = canon.select(F.col("a").alias("v")).unionByName(
        canon.select(F.col("b").alias("v"))
    )
    deg = verts.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    ab = (
        canon.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ab.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    o1 = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    o2 = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = o1.join(o2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    # the closing edge (v1, v2) is oriented v1 -> v2 exactly when the
    # wedge condition holds, so one equi-join closes every triangle once
    tri = wedges.join(
        o.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    per_vertex = (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = (
        verts.distinct()
        .join(per_vertex, "v", "left")
        .select(
            F.col("v").alias("vertex_id"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_triangles"),
        )
    )
    return _finish(out, [canon, o])


def _oriented_triangles(canon: DataFrame, handles: Optional[list] = None) -> DataFrame:
    """(u, v1, v2) — every triangle of the canonical edge set ``(a, b)``
    exactly once, via the same degree-ordered compact-forward
    orientation as :func:`triangle_counts` (out-degrees capped at
    O(sqrt m), wedge work O(m^1.5)).

    ``handles``: when given, the internally persisted oriented-edge
    frame is appended so an ITERATIVE caller (k_truss peels once per
    round) can release it after materializing the round — otherwise
    the loop accumulates one cached frame per round."""
    verts = canon.select(F.col("a").alias("v")).unionByName(
        canon.select(F.col("b").alias("v"))
    )
    deg = verts.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    ab = (
        canon.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ab.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    o1 = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    o2 = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    if handles is not None:
        handles.append(o)
    wedges = o1.join(o2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    return wedges.join(
        o.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")


def _edge_supports_canon(
    canon: DataFrame, handles: Optional[list] = None
) -> DataFrame:
    tri = _oriented_triangles(canon, handles)
    tri_edges = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v1").alias("a"),
                        F.greatest("u", "v1").alias("b"),
                    ),
                    F.struct(
                        F.least("u", "v2").alias("a"),
                        F.greatest("u", "v2").alias("b"),
                    ),
                    F.struct(
                        F.least("v1", "v2").alias("a"),
                        F.greatest("v1", "v2").alias("b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__sup"))
    )
    return canon.join(tri_edges, ["a", "b"], "left").select(
        "a", "b", F.coalesce(F.col("__sup"), F.lit(0)).cast("long").alias("support")
    )


def k_truss(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """The k-truss of the undirected simple graph of ``edges``: the
    maximal subgraph in which EVERY edge closes at least ``k - 2``
    triangles *within the subgraph* (Cohen 2008) — the edge analog of
    k-core and the standard cohesive-community filter (a k-truss edge
    pair shares >= k-2 common neighbors that also survive).

    Iterative peeling as the analytics superstep pattern (pagerank /
    k_core): each round recomputes supports over the surviving edges
    (degree-ordered triangle enumeration — O(m^1.5) per round) and
    drops edges under the threshold; peeling is CONFLUENT (the k-truss
    is unique), so the fixpoint is deterministic and a fixed-round
    chained-CTE oracle replays it (extra rounds past convergence are
    no-ops).  ``localCheckpoint`` per round truncates lineage; one
    bounded count per round decides the exit.

    Returns the surviving canonical edges ``(src, dst)`` with
    ``src < dst``."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    cur = (
        edges.select(M.SRC, M.DST)
        .where(F.col(M.SRC) != F.col(M.DST))
        .select(
            F.least(M.SRC, M.DST).alias("a"),
            F.greatest(M.SRC, M.DST).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    for _ in range(max_rounds):
        if n_cur == 0:
            break
        handles: list = []
        keep = (
            _edge_supports_canon(cur.persist(), handles)
            .where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        cur.unpersist()
        for h in handles:
            h.unpersist()
        n_keep = keep.count()
        converged = n_keep == n_cur
        cur, n_cur = keep, n_keep
        if converged:
            break
    return cur.select(F.col("a").alias(M.SRC), F.col("b").alias(M.DST))


def hits(edges: DataFrame, num_iters: int = 3) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the directed
    simple graph of ``edges``, fixed ``num_iters`` rounds:
    per round, authority(v) = sum of hub over in-edges, then
    hub(v) = sum of the UPDATED authority over out-edges (the classic
    ordering), each side L1-normalized to integer micro units.

    Scores stay EXACT INTEGERS throughout: the mutual-reinforcement
    sums are integer sums (order-independent, unlike double summation)
    and each normalization is one correctly-rounded double
    multiply+divide of exact integers followed by floor — so a
    chained-CTE SQL oracle replays every round bit-for-bit (the
    pagerank pattern, hardened the way the PQ/ADC scoring is).
    Valid while max-score x n_edges stays under 2^53 (~9e9 edges at
    the 1e6 micro scale — beyond that, lower the scale).

    Returns ``(id, auth_micro, hub_micro)`` for every vertex.  The edge
    list is DOUBLE-STORED (one copy hash-partitioned by src, one by
    dst — the in-memory form of the BucketedGraph twin layout,
    plans/layout.py): the auth half-round joins hub scores against the
    src copy and the hub half-round joins the fresh auth scores against
    the dst copy, so NEITHER half re-shuffles the edge table — only the
    vertex-sized score table moves per half-round, plus the partially-
    aggregated neighbor sums (VERDICT r6 item 8; a single src-
    partitioned copy re-shuffled all m edges by dst every round)."""
    if num_iters < 1:
        raise ValueError(f"num_iters must be >= 1, got {num_iters}")
    e_src = edges.select(M.SRC, M.DST).distinct().repartition(M.SRC).persist()
    e_src.count()  # eager: AQE + lazy persist re-runs the upstream plan
    e_dst = e_src.repartition(M.DST).persist()
    e_dst.count()
    verts = _vertices_of(e_src).persist()
    MICRO = 1_000_000

    def _normalize(raw: DataFrame, out_col: str) -> DataFrame:
        total = raw.agg(
            F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("s")
        )
        return (
            verts.join(raw, M.ID, "left")
            .crossJoin(F.broadcast(total))
            .select(
                M.ID,
                F.when(F.col("s") == 0, F.lit(0).cast("long"))
                .otherwise(
                    F.floor(
                        F.coalesce(F.col("raw"), F.lit(0)).cast("double")
                        * F.lit(float(MICRO))
                        / F.col("s").cast("double")
                    ).cast("long")
                )
                .alias(out_col),
            )
        )

    hub = verts.select(M.ID, F.lit(MICRO).cast("long").alias("hub_micro"))
    auth = None
    for _ in range(num_iters):
        a_raw = (
            e_src.join(hub.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .groupBy(F.col(M.DST).alias(M.ID))
            .agg(F.sum("hub_micro").cast("long").alias("raw"))
        )
        auth = _normalize(a_raw, "auth_micro").localCheckpoint(eager=True)
        h_raw = (
            e_dst.join(auth.withColumnRenamed(M.ID, M.DST), M.DST)
            .groupBy(F.col(M.SRC).alias(M.ID))
            .agg(F.sum("auth_micro").cast("long").alias("raw"))
        )
        hub = _normalize(h_raw, "hub_micro").localCheckpoint(eager=True)
    out = verts.join(auth, M.ID).join(hub, M.ID).select(
        M.ID, "auth_micro", "hub_micro"
    )
    return _finish(out, [e_src, e_dst, verts])


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient of the undirected simple graph:
    one row ``(n_triangles, n_wedges, gcc_micro)`` with
    ``gcc = 3 * triangles / wedges`` (the transitivity ratio — what
    fraction of connected triples close).

    Everything stays exact integers: triangles come from the
    degree-ordered enumeration (each counted once), wedges are
    ``sum(d * (d - 1)) / 2`` over vertex degrees (an exact even
    integer sum), and the ratio is one correctly-rounded double
    division micro-quantized by floor — so a SQL oracle replays it
    bit-for-bit.  Two aggregations over one O(m^1.5) enumeration."""
    canon = (
        edges.select(M.SRC, M.DST)
        .where(F.col(M.SRC) != F.col(M.DST))
        .select(
            F.least(M.SRC, M.DST).alias("a"),
            F.greatest(M.SRC, M.DST).alias("b"),
        )
        .distinct()
        .persist()
    )
    handles: list = [canon]
    tri = _oriented_triangles(canon, handles).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    verts = canon.select(F.col("a").alias("v")).unionByName(
        canon.select(F.col("b").alias("v"))
    )
    wed = (
        verts.groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            (
                F.coalesce(F.sum(F.col("d") * (F.col("d") - 1)), F.lit(0)) / 2
            )
            .cast("long")
            .alias("n_wedges")
        )
    )
    out = tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (F.col("n_triangles") * 3).cast("double")
                * F.lit(1_000_000.0)
                / F.col("n_wedges").cast("double")
            ).cast("long")
        )
        .alias("gcc_micro"),
    )
    return _finish(out, handles)


# Walk driver tier (r12 optimization, the CC/BFS-tier pattern): a
# fixed-length walk over a bounded substrate costs the distributed form
# ~3 exchanges per hop (state-by-__v join, distance-1 adjacency join,
# two per-walk windows) over a state table of one row per walk — pure
# scheduling latency, not compute.  When one bounded collect holds the
# whole (src, dst) edge set and the seed set, the SAME integer-md5
# recurrence (identical neighbor ranking, identical pmod draws,
# identical sink-drop semantics) replays in-process and the trajectory
# table returns as a local relation.  Past either cap the distributed
# path is untouched.  stable_hash64 is replayed exactly:
# int(md5(s)[:15 hex], 16) — the same 60-bit value Spark's
# conv(substring(md5(x),1,15),16,10) produces.
WALK_DRIVER_EDGE_MAX = 1 << 18
_WALK_DRIVER_SOURCE_MAX = 1 << 16


def _stable_hash64_py(s: str) -> int:
    from ..functions.text import stable_hash64_py

    return stable_hash64_py(s)


def _walk_driver_collect(edges: DataFrame, sources: DataFrame):
    """The distinct seed ids, then the (src, dst) pairs, each in one
    bounded collect.  None means "use the distributed path" (over a
    cap, nulls, or non-integral id types whose ``cast("string")`` the
    replay does not model)."""
    cap = WALK_DRIVER_EDGE_MAX
    s_field = sources.schema[sources.columns[0]]
    # every job-free gate before the seed sample's job
    if (
        not (_cc_ids(edges) and integral(sources, s_field.name))
        or cap <= 0
        or files_prove_over(edges, cap)
    ):
        return None
    seeds = bounded_arrow(
        sources.select(F.col(s_field.name).alias("walk_id")).distinct(),
        _WALK_DRIVER_SOURCE_MAX,
        not_null=("walk_id",),
    )
    if seeds is None:
        return None
    pairs = _cc_collect_bounded(edges, cap)  # repeats the edge gates, no job
    if pairs is None:
        return None
    schema = T.StructType(
        [
            T.StructField("walk_id", s_field.dataType, True),
            T.StructField("path", T.StringType(), True),
            T.StructField("final_v", edges.schema[M.DST].dataType, True),
        ]
    )
    return set(pairs), sorted(seeds.column(0).to_pylist()), schema


def _walk_adjacency(pairs, max_degree=None):
    """dst-ranked adjacency lists of the DISTINCT edge set — after the
    optional deterministic hash-rank degree cap, exactly as the
    distributed form ranks them (cap by (md5("nbrcap:src:dst"), dst),
    then index by dst ascending)."""
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
    if max_degree is not None:
        for u, vs in adj.items():
            if len(vs) > max_degree:
                vs.sort(
                    key=lambda d, _u=u: (
                        _stable_hash64_py(f"nbrcap:{_u}:{d}"),
                        d,
                    )
                )
                del vs[max_degree:]
    for vs in adj.values():
        vs.sort()
    return adj


def random_walks(
    edges: DataFrame, sources: DataFrame, walk_len: int = 4
) -> DataFrame:
    """Deterministic "random" walks — the DeepWalk / node2vec sampling
    primitive (Perozzi et al. KDD'14): from every source vertex, one
    ``walk_len``-hop walk whose step-``t`` transition from vertex ``v``
    picks out-neighbor index ``stable_hash64(walk_id:t:v) mod
    outdeg(v)`` over the neighbor list ranked by destination id.  The
    md5-derived hash makes every pick a pure function of (walk, step,
    vertex): walks are reproducible run-to-run, shard-independent, and
    an external SQL engine replays the entire trajectory bit-for-bit —
    the property a 100 TB embedding-training corpus needs for
    AUDITABLE sampling (re-generating a walk set must yield the same
    corpus, or training runs aren't comparable).

    Returns ``(walk_id, path, final_v)`` for walks that complete all
    ``walk_len`` hops (a walk reaching a SINK — no out-edges — is
    dropped by the inner join; walk over a symmetrized edge list if
    every walk must finish).  Scale shape: the pick index is a pure
    function of (walk_id, t, v, outdeg(v)), so each hop first joins the
    walk state against the VERTEX-sized degree table to compute the
    pick, then equi-joins the ranked neighbor table on BOTH
    ``(__v, __idx)`` — the join emits exactly ONE row per walk per hop
    (joining on ``__v`` alone would materialize a hub's full
    neighbor list per resting walk before filtering: a hub-degree
    multiplier on shuffle width at 100×).  Both reference tables are
    persisted pre-partitioned on their join keys, so per hop only the
    one-row-per-walk state shuffles; a fixed ``walk_len`` unrolls into
    ONE Catalyst join tree, no driver-side iteration."""
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    bounded = _walk_driver_collect(edges, sources)
    if bounded is not None:
        pairs, seeds, schema = bounded
        adj = _walk_adjacency(pairs)
        walk_ids, paths, finals = [], [], []
        for wid in seeds:
            v = wid
            path = str(wid)
            alive = True
            for t in range(walk_len):
                nbrs = adj.get(v)
                if not nbrs:
                    alive = False
                    break
                v = nbrs[_stable_hash64_py(f"{wid}:{t}:{v}") % len(nbrs)]
                path += f"->{v}"
            if alive:
                walk_ids.append(wid)
                paths.append(path)
                finals.append(v)
        return local_dataframe(edges.sparkSession, [walk_ids, paths, finals], schema)
    from ..functions.text import stable_hash64

    from pyspark.sql import Window as W

    e = edges.select(M.SRC, M.DST).distinct()
    win = W.partitionBy(M.SRC).orderBy(M.DST)
    nbr = (
        e.withColumn("__idx", F.row_number().over(win) - 1)
        .withColumnRenamed(M.SRC, "__v")
        .repartition("__v", "__idx")
        .persist()
    )
    nbr.count()
    # degrees come from the CACHED ranked table, not from e — a second
    # scan of e would re-run the (possibly expensive) upstream edge
    # derivation once more per reference
    deg = (
        nbr.groupBy("__v").agg(F.count(F.lit(1)).alias("__deg")).persist()
    )
    deg.count()
    cur = (
        sources.select(F.col(sources.columns[0]).alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("__v"),
            F.col("walk_id").cast("string").alias("path"),
        )
    )
    for t in range(walk_len):
        pick = F.pmod(
            stable_hash64(
                F.concat(
                    F.col("walk_id").cast("string"),
                    F.lit(f":{t}:"),
                    F.col("__v").cast("string"),
                )
            ),
            F.col("__deg"),
        )
        cur = (
            cur.join(deg, "__v")
            .withColumn("__idx", pick)
            .drop("__deg")
            .join(nbr, ["__v", "__idx"])
            .select(
                "walk_id",
                F.col(M.DST).alias("__v"),
                F.concat(
                    "path", F.lit("->"), F.col(M.DST).cast("string")
                ).alias("path"),
            )
        )
    # one bounded row per completed walk: materialize, cut lineage,
    # release the reference-table caches (the corpus_dedupe pattern —
    # repeated calls in a long-lived session must not accumulate blocks)
    out = cur.select(
        "walk_id", "path", F.col("__v").alias("final_v")
    ).localCheckpoint(eager=True)
    nbr.unpersist()
    deg.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    sources: DataFrame,
    walk_len: int = 4,
    p: "str | int | float" = "1",
    q: "str | int | float" = "1",
    max_degree: "int | None" = None,
) -> DataFrame:
    """Second-order biased walks — the node2vec sampler (Grover &
    Leskovec KDD'16): the step-``t`` transition from ``v`` with previous
    vertex ``u`` weights each out-neighbor ``x`` by the return parameter
    ``p`` and in-out parameter ``q``::

        α(u, x) = 1/p  if x == u           (return, distance 0)
                  1    if edge (u, x)      (stay local, distance 1)
                  1/q  otherwise           (explore out, distance 2)

    Low ``q`` biases walks outward (DFS-like, captures structural
    roles); low ``p`` keeps them local (BFS-like, captures homophily).

    DETERMINISM: ``p`` and ``q`` parse as exact rationals (pass "1/4" or
    "0.25"), so the three weights scale to integers (``× p·q``); the
    pick draws ``stable_hash64(walk_id:t:v) mod Σw`` and selects the
    neighbor whose cumulative-weight interval contains the draw, over
    the dst-ranked neighbor list.  Every choice is integer arithmetic on
    md5 bits — trajectories replay bit-for-bit in SQL (chained hop
    CTEs), and ``p = q = 1`` reduces every weight to 1, making the
    output IDENTICAL to :func:`random_walks` (pytest-pinned).

    The first hop has no previous vertex and draws uniformly (the
    node2vec convention).  Returns ``(walk_id, path, final_v)``; walks
    reaching a sink are dropped (symmetrize if every walk must finish).

    Scale shape: second-order weights are a property of (prev, v, x)
    triples, so each hop genuinely materializes one candidate row per
    resting walk per neighbor (unlike :func:`random_walks`' one-row
    pick, this is the algorithm's information floor — the classic
    alternative precomputes per-edge alias tables at O(Σ_edges deg)
    memory, worse at 100 TB).  The distance-1 test is one equi-join
    against the edge set, the pick two windows per walk — never a
    driver loop; a fixed ``walk_len`` unrolls into one Catalyst tree.

    ``max_degree`` is the scale knob for that floor: per-vertex
    adjacency lists are pre-capped to the ``max_degree`` md5-smallest
    neighbors (deterministic hash-rank — an unbiased, reproducible
    neighbor SAMPLE, the GraphSAGE/PinSAGE recipe, Hamilton et al.
    NeurIPS'17) BEFORE ranking, so per-hop candidate rows are bounded
    by walks × max_degree no matter how hub degrees grow with the
    corpus.  Walks then sample the capped neighborhood (a different —
    documented — distribution than the unbounded walk; picks stay
    md5-deterministic and SQL-replayable over the capped ranked list,
    and the distance-1 test uses the same capped adjacency).  Unbounded
    hubs are exactly what turns the per-hop cost super-linear at 100×
    data; with the cap the curve is linear in walk count.

    Design ref: reference query surface (SURVEY §2 traversals) +
    Grover & Leskovec, node2vec (KDD'16)."""
    if walk_len < 1:
        raise ValueError(f"walk_len must be >= 1, got {walk_len}")
    from fractions import Fraction

    fp, fq = Fraction(str(p)), Fraction(str(q))
    if fp <= 0 or fq <= 0:
        raise ValueError(f"p and q must be > 0, got p={p}, q={q}")
    w_ret = fp.denominator * fq.numerator   # 1/p scaled by p*q
    w_d1 = fp.numerator * fq.numerator      # 1   scaled by p*q
    w_d2 = fp.numerator * fq.denominator    # 1/q scaled by p*q

    if max_degree is not None and max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    bounded = _walk_driver_collect(edges, sources)
    if bounded is not None:
        pairs, seeds, schema = bounded
        adj = _walk_adjacency(pairs, max_degree=max_degree)
        adj_set = {u: frozenset(vs) for u, vs in adj.items()}
        walk_ids, paths, finals = [], [], []
        for wid in seeds:
            v = wid
            nbrs = adj.get(v)
            if not nbrs:
                continue
            # hop 0: no previous vertex — uniform over the ranked list
            prev, v = v, nbrs[_stable_hash64_py(f"{wid}:0:{v}") % len(nbrs)]
            path = f"{wid}->{v}"
            alive = True
            for t in range(1, walk_len):
                nbrs = adj.get(v)
                if not nbrs:
                    alive = False
                    break
                cums = []
                tot = 0
                d1 = adj_set.get(prev, frozenset())
                for x in nbrs:
                    if x == prev:
                        tot += w_ret
                    elif x in d1:
                        tot += w_d1
                    else:
                        tot += w_d2
                    cums.append(tot)
                r = _stable_hash64_py(f"{wid}:{t}:{v}") % tot
                for x, cum in zip(nbrs, cums):
                    if r < cum:
                        prev, v = v, x
                        path += f"->{x}"
                        break
            if alive:
                walk_ids.append(wid)
                paths.append(path)
                finals.append(v)
        return local_dataframe(edges.sparkSession, [walk_ids, paths, finals], schema)

    from ..functions.text import stable_hash64

    from pyspark.sql import Window as W

    e = edges.select(M.SRC, M.DST).distinct()
    if max_degree is not None:
        if max_degree < 1:
            raise ValueError(f"max_degree must be >= 1, got {max_degree}")
        cap_h = stable_hash64(
            F.concat(
                F.lit("nbrcap:"),
                F.col(M.SRC).cast("string"),
                F.lit(":"),
                F.col(M.DST).cast("string"),
            )
        )
        capwin = W.partitionBy(M.SRC).orderBy(cap_h, M.DST)
        e = (
            e.withColumn("__cr", F.row_number().over(capwin))
            .where(F.col("__cr") <= max_degree)
            .drop("__cr")
        )
    win = W.partitionBy(M.SRC).orderBy(M.DST)
    nbr = (
        e.withColumn("__idx", F.row_number().over(win) - 1)
        .withColumnRenamed(M.SRC, "__v")
        .repartition("__v")
        .persist()
    )
    nbr.count()
    # degrees and the distance-1 membership side both derive from the
    # CACHED ranked table — scanning e again would re-run the upstream
    # edge derivation once more per reference
    deg = (
        nbr.groupBy("__v").agg(F.count(F.lit(1)).alias("__deg")).persist()
    )
    deg.count()
    adj = nbr.select(
        F.col("__v").alias("__pu"), F.col(M.DST).alias("__px")
    ).withColumn("__d1", F.lit(1))

    def _hash(t):
        return stable_hash64(
            F.concat(
                F.col("walk_id").cast("string"),
                F.lit(f":{t}:"),
                F.col("__v").cast("string"),
            )
        )

    cur = (
        sources.select(F.col(sources.columns[0]).alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("__v"),
            F.col("walk_id").cast("string").alias("path"),
        )
    )
    # hop 0: no previous vertex — uniform over the ranked neighbors
    # (identical to random_walks' pick)
    cur = (
        cur.join(deg, "__v")
        .withColumn("__idx", F.pmod(_hash(0), F.col("__deg")))
        .drop("__deg")
        .join(nbr, ["__v", "__idx"])
        .select(
            "walk_id",
            F.col("__v").alias("__prev"),
            F.col(M.DST).alias("__v"),
            F.concat("path", F.lit("->"), F.col(M.DST).cast("string")).alias(
                "path"
            ),
        )
    )
    wwin = W.partitionBy("walk_id").orderBy("__idx")
    allwin = W.partitionBy("walk_id")
    for t in range(1, walk_len):
        cand = cur.join(nbr, "__v").join(
            adj,
            (F.col("__prev") == F.col("__pu"))
            & (F.col(M.DST) == F.col("__px")),
            "left",
        )
        w = (
            F.when(F.col(M.DST) == F.col("__prev"), F.lit(w_ret))
            .when(F.col("__d1").isNotNull(), F.lit(w_d1))
            .otherwise(F.lit(w_d2))
            .cast("long")
        )
        cand = (
            cand.select(
                "walk_id", "__v", "__prev", "path", M.DST, "__idx",
                w.alias("__w"),
            )
            .withColumn("__cum", F.sum("__w").over(wwin))
            .withColumn("__tot", F.sum("__w").over(allwin))
        )
        r = F.pmod(_hash(t), F.col("__tot"))
        cur = cand.where(
            (r < F.col("__cum")) & (r >= F.col("__cum") - F.col("__w"))
        ).select(
            "walk_id",
            F.col("__v").alias("__prev"),
            F.col(M.DST).alias("__v"),
            F.concat("path", F.lit("->"), F.col(M.DST).cast("string")).alias(
                "path"
            ),
        )
    # bounded output; see random_walks
    out = cur.select(
        "walk_id", "path", F.col("__v").alias("final_v")
    ).localCheckpoint(eager=True)
    nbr.unpersist()
    deg.unpersist()
    return out


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from walk trajectories — the stage that
    turns a DeepWalk/node2vec walk corpus into word2vec input (Perozzi
    et al. KDD'14 treat walks as sentences; the (center, context) pair
    table with counts IS the training corpus for a negative-sampling
    embedder).  For every position i of every walk, each position j
    with ``0 < |i - j| <= window`` yields one (center=v_i, context=v_j)
    pair; the output aggregates to ``(center, context, n_pairs)``.

    Input is :func:`random_walks` / :func:`node2vec_walks` output (the
    ``path`` column, "v0->v1->...").  Scale shape: pair expansion is a
    pure NARROW map (nested array transforms over the split path — no
    join, no shuffle) followed by one count aggregation with map-side
    combine; output cardinality is bounded by distinct co-visited
    vertex pairs, and every count is an integer so the whole table
    replays exactly in SQL."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    # walks accept arbitrary id types but this output is BIGINT; a
    # non-numeric id would CAST to NULL and silently aggregate into one
    # bogus NULL row — raise with the offending id instead (pre-map
    # string ids to BIGINT before building skip-grams).
    as_id = (
        "CASE WHEN TRY_CAST({v} AS BIGINT) IS NULL THEN "
        "CAST(raise_error('walk_skipgram_pairs: non-numeric vertex id '"
        " || {v} || ' in path; map ids to BIGINT first') AS BIGINT) "
        "ELSE CAST({v} AS BIGINT) END"
    )
    pair_expr = f"""
      flatten(transform(split(path, '->'), (c, i) ->
        transform(
          filter(transform(split(path, '->'), (x, j) -> struct(x AS ctx, j AS jj)),
                 s -> s.jj != i AND abs(s.jj - i) <= {int(window)}),
          s -> struct({as_id.format(v="c")} AS center,
                      {as_id.format(v="s.ctx")} AS context))))
    """
    return (
        walks.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def maximal_independent_set(
    edges: DataFrame, max_rounds: int = 30, checkpoint_every: int = 1
) -> DataFrame:
    """Deterministic maximal independent set over the undirected simple
    graph of ``edges`` — Luby's algorithm (Luby 1986) with FIXED
    md5-derived priorities, i.e. the parallel evaluation of greedy MIS
    over one random permutation (Blelloch et al. SPAA'12: expected
    O(log n) rounds).  Per round, an undecided vertex ENTERS the set
    when its (priority, id) pair is strictly smaller than every
    undecided neighbor's; its undecided neighbors become EXCLUDED.  The
    result is the unique greedy MIS of the priority order — fully
    deterministic, so a fixed-round chained-CTE SQL oracle replays it
    (converged rounds are no-ops; this raises if ``max_rounds`` is
    exhausted with undecided vertices left, so an under-sized round
    budget can never silently truncate the set — the
    connected_components assert_converged contract).

    Returns ``(id, in_mis)`` for every vertex of the edge list.  Scale
    shape: the symmetrized adjacency is partitioned once; each round
    joins only the UNDECIDED frontier against it (one shuffle per
    round over a monotonically shrinking state)."""
    from ..functions.text import stable_hash64

    # drop self-loops BEFORE symmetrizing (a loop-only vertex has itself
    # as its sole "neighbor": never a strict local minimum, never
    # excluded — an unbreakable deadlock the round budget would turn
    # into a raise)
    simple = edges.select(M.SRC, M.DST).where(F.col(M.SRC) != F.col(M.DST))
    sym = (
        simple.unionByName(
            simple.select(F.col(M.DST).alias(M.SRC), F.col(M.SRC).alias(M.DST))
        )
        .distinct()
        .repartition(M.SRC)
        .persist()
    )
    sym.count()  # eager — see connected_components
    verts = sym.select(F.col(M.SRC).alias(M.ID)).distinct()
    und = verts.select(
        M.ID,
        stable_hash64(F.concat(F.lit("mis:"), F.col(M.ID).cast("string"))).alias(
            "__p"
        ),
    ).localCheckpoint(eager=True)
    mis = None
    for _ in range(max_rounds):
        if und.isEmpty():
            break
        # min (priority, id) over each undecided vertex's UNDECIDED
        # neighbors; vertices with no undecided neighbor have no row
        nbr_min = (
            sym.join(und.select(F.col(M.ID).alias(M.SRC)), M.SRC)
            .join(
                und.select(
                    F.col(M.ID).alias(M.DST),
                    F.struct(F.col("__p"), F.col(M.ID).alias("i")).alias("__k"),
                ),
                M.DST,
            )
            .groupBy(F.col(M.SRC).alias(M.ID))
            .agg(F.min("__k").alias("__nmin"))
        )
        cand = (
            und.join(nbr_min, M.ID, "left")
            .where(
                F.col("__nmin").isNull()
                | (
                    F.struct(F.col("__p"), F.col(M.ID).alias("i"))
                    < F.col("__nmin")
                )
            )
            .select(M.ID)
            .localCheckpoint(eager=True)
        )
        mis = cand if mis is None else mis.unionByName(cand)
        excluded = (
            sym.join(cand.withColumnRenamed(M.ID, M.SRC), M.SRC)
            .select(F.col(M.DST).alias(M.ID))
            .distinct()
        )
        und = (
            und.join(cand, M.ID, "left_anti")
            .join(excluded, M.ID, "left_anti")
            .localCheckpoint(eager=True)
        )
    else:
        if not und.isEmpty():
            raise ValueError(
                f"maximal_independent_set did not decide every vertex "
                f"within max_rounds={max_rounds} — raise the budget (a "
                f"fixed-round oracle stays valid: converged rounds are "
                f"no-ops)"
            )
    mis = mis if mis is not None else verts.limit(0)
    out = verts.join(
        mis.withColumn("__m", F.lit(True)), M.ID, "left"
    ).select(M.ID, F.coalesce("__m", F.lit(False)).alias("in_mis"))
    return _finish(out, [sym])
