"""graph_asof_olap: bulk temporal analytics through
TemporalGraph.from_dataframes over SCD2 parquet with a tx_log (snapshot
filters, join trees, windows, anti-joins and the driver-tier caps), beside
the durable temporal write path: an order-status SCD2 table that commits
change batches through Scd2ParquetTable (see w_scd2.py) and serves
key-pruned as-of, read_version and history reads.

Answers are checked against DuckDB SQL over the same generated parquet,
and component labels / BFS distances against numpy replays."""

from __future__ import annotations

import itertools
import os
import random
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import layers
import w_scd2
from harness import Op

PARAMS = dict(gen.OLAP, order_status=w_scd2.PARAMS, parquet_parts=4, closeness_sources=8,
              closeness_wide_sources=4200, closeness_iters=4, loop_price_floor=49_000_000,
              cc_labels=["placed_by", "located_in", "part_of", "supplied_by"])

# graph ops interleaved with the order-status table's ops ("scd2." prefix);
# the three snapshot counts put the read median inside the dense band of
# ~1 s reads instead of on its edge next to the 1.5-7 s analytics reads
CYCLE = ["asof_count", "rollup", "scd2.ingest", "fluent", "gremlin", "scd2.as_of",
         "gremlin_loop", "closeness", "scd2.read_version", "asof_count", "closeness_wide",
         "cc", "scd2.as_of", "chain", "validity", "asof_count", "scd2.history", "time_ids",
         "facts_diff", "scd2.vacuum"]
CLASS = {"asof_count": "read", "rollup": "read", "fluent": "read", "gremlin": "read",
         "gremlin_loop": "read", "closeness": "read", "closeness_wide": "read", "cc": "read",
         "chain": "history", "validity": "history", "time_ids": "history",
         "facts_diff": "history"}

V_SCHEMA = pa.schema([("id", pa.int64()), ("kind__string", pa.string()),
                      ("name__string", pa.string()), ("nationkey__long", pa.int64()),
                      ("acctbal__long", pa.int64()), ("totalprice__long", pa.int64()),
                      ("tx_from", pa.int64()), ("tx_to", pa.int64())])
E_SCHEMA = pa.schema([("id", pa.int64()), ("src", pa.int64()), ("dst", pa.int64()),
                      ("label", pa.string()), ("quantity__long", pa.int64()),
                      ("tx_from", pa.int64()), ("tx_to", pa.int64())])
L_SCHEMA = pa.schema([("tx_id", pa.int64()), ("tx_time", pa.timestamp("us")),
                      ("element_id", pa.int64()), ("prev_tx_id", pa.int64()),
                      ("kind", pa.string())])


def write_parts(cols: dict, schema, path: str, parts: int) -> None:
    os.makedirs(path)
    table = pa.table(cols, schema=schema)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


class State:
    pass


def setup(spark, seed: int, work: str) -> State:
    import duckdb
    from fluxgraph_spark import TemporalGraph

    st = State()
    st.spark, st.rng = spark, random.Random(seed * 7919 + 2)
    data = gen.olap_graph(seed)
    st.tx_times = data["tx_times"]
    paths = {}
    for name, schema in (("vertices", V_SCHEMA), ("edges", E_SCHEMA), ("tx_log", L_SCHEMA)):
        paths[name] = os.path.join(work, name)
        write_parts(data[name], schema, paths[name], PARAMS["parquet_parts"])
    st.v_hist = spark.read.parquet(paths["vertices"])
    st.e_hist = spark.read.parquet(paths["edges"])
    st.log = spark.read.parquet(paths["tx_log"])
    st.graph = TemporalGraph.from_dataframes(spark, st.v_hist, st.e_hist, st.log)
    st.duck = duckdb.connect()
    for name, p in paths.items():
        st.duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    st.cache = {}
    st.graph.set_checkpoint_time(st.tx_times[-1])
    st.graph.edges_df().count()
    st.scd2 = w_scd2.setup(spark, seed, os.path.join(work, "order_status"))
    return st


def teardown(st: State) -> None:
    st.duck.close()
    w_scd2.teardown(st.scd2)


def finish(st: State) -> dict:
    return w_scd2.finish(st.scd2)


def cycles(st: State):
    """Op cycles; ops are built lazily, after the previous op's check."""
    def build(name):
        if name.startswith("scd2."):
            return w_scd2.make_op(st.scd2, name[5:])
        return make_op(st, name)

    for _ in itertools.count():
        yield (build(name) for name in CYCLE)


# -- oracle helpers ------------------------------------------------------------


def snap(table: str, cp: int) -> str:
    return f"(SELECT * FROM {table} WHERE tx_from <= {cp} AND (tx_to IS NULL OR tx_to > {cp}))"


def duck_cp(st: State, t) -> int:
    return st.duck.execute("SELECT coalesce(max(tx_id), 0) FROM tx_log WHERE tx_time <= ?",
                           [t]).fetchone()[0]


def rows(st: State, sql: str, params=None) -> list:
    return [tuple(r) for r in st.duck.execute(sql, params or []).fetchall()]


def edge_arrays(st: State, cp: int, labels=None) -> tuple[np.ndarray, np.ndarray]:
    key = ("edges", cp, tuple(labels or ()))
    if key not in st.cache:
        where = f"WHERE label IN ({', '.join(repr(x) for x in labels)})" if labels else ""
        a = st.duck.execute(f"SELECT src, dst FROM {snap('edges', cp)} {where}").fetchnumpy()
        st.cache[key] = (a["src"].astype(np.int64), a["dst"].astype(np.int64))
    return st.cache[key]


def components(src: np.ndarray, dst: np.ndarray) -> list[tuple[int, int]]:
    """(id, min id of its weakly connected component), by vectorized
    min-label propagation with pointer jumping."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: src.size], inv[src.size:]
    lab = np.arange(ids.size)
    while True:
        prev = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    return sorted(zip(ids.tolist(), ids[lab].tolist()))


def closeness_expected(src, dst, sources, max_iters: int) -> list[tuple]:
    adj: dict[int, list[int]] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        adj.setdefault(a, []).append(b)
    out = []
    for s in sorted(set(sources)):
        dist = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            if dist[x] == max_iters:
                continue
            for y in adj.get(x, ()):
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        n, tot = len(dist), sum(dist.values())
        out.append((s, n, tot, (n - 1) * 1_000_000 // tot if tot > 0 else 0))
    return out


FACTS_SQL = """
WITH f1 AS ({f1}), f2 AS ({f2}),
surv AS (SELECT * FROM f1 WHERE attr <> ':graph.element/type'
         AND NOT EXISTS (SELECT 1 FROM f2 WHERE f2.id = f1.id AND f2.attr = f1.attr
                         AND f2.value_str = f1.value_str)),
ref AS (SELECT id AS ref_id FROM surv UNION
        SELECT try_cast(value_str AS BIGINT) FROM surv
        WHERE attr IN (':graph.edge/inVertex', ':graph.edge/outVertex')),
kept AS (SELECT * FROM f1 WHERE attr = ':graph.element/type'
         AND id IN (SELECT ref_id FROM ref))
SELECT attr, count(*) FROM (SELECT * FROM surv UNION ALL SELECT * FROM kept)
GROUP BY attr ORDER BY attr
"""


def edge_facts_sql(cp: int) -> str:
    s = snap("edges", cp)
    return f"""
SELECT id, 'quantity__long' AS attr, CAST(quantity__long AS VARCHAR) AS value_str
  FROM {s} WHERE quantity__long IS NOT NULL
UNION ALL SELECT id, ':graph.edge/outVertex', CAST(src AS VARCHAR) FROM {s}
UNION ALL SELECT id, ':graph.edge/inVertex', CAST(dst AS VARCHAR) FROM {s}
UNION ALL SELECT id, ':graph.edge/label', label FROM {s} WHERE label IS NOT NULL
UNION ALL SELECT id, ':graph.element/type', ':graph.element.type/edge' FROM {s}"""


# -- ops -----------------------------------------------------------------------


def make_op(st: State, name: str) -> Op:  # noqa: C901 — one branch per op kind
    from pyspark.sql import functions as F

    from fluxgraph_spark.operators import analytics as AN
    from fluxgraph_spark.operators import diff as D
    from fluxgraph_spark.operators import gremlin as GL
    from fluxgraph_spark.operators import temporal as TM
    from fluxgraph_spark.operators import traversal as TR
    from fluxgraph_spark.operators.fluent import Traversal

    rng, g, cls = st.rng, st.graph, CLASS[name]
    t = rng.choice(st.tx_times[1:]) + (st.tx_times[1] - st.tx_times[0]) * rng.random() * 0.4
    nation = rng.randrange(PARAMS["nations"])

    def cp():
        return duck_cp(st, t)

    def at(fn):
        """Run ``fn(vertices, edges)`` on the snapshot as of ``t``."""
        g.set_checkpoint_time(t)
        return fn(g.vertices_df(), g.edges_df())

    if name == "asof_count":
        return Op(cls, name, lambda: at(lambda v, e: (v.count(), e.count())),
                  lambda r: _eq(r, (rows(st, f"SELECT count(*) FROM {snap('vertices', cp())}")[0][0],
                                    rows(st, f"SELECT count(*) FROM {snap('edges', cp())}")[0][0]),
                                name))
    if name == "rollup":
        def run():
            def q(v, e):
                with layers.layer("traversal.multi_hop"):
                    front = v.where((F.col("kind__string") == "customer")
                                    & (F.col("nationkey__long") == nation)).select("id")
                    reached = TR.multi_hop(front, e, [("in", ("placed_by",)),
                                                      ("out", ("contains",)),
                                                      ("out", ("supplied_by",))])
                    out = (reached.join(v, "id").groupBy("nationkey__long").count()
                           .orderBy("nationkey__long").collect())
                return [tuple(r) for r in out]
            return at(q)

        sql = f"""SELECT s.nationkey__long, count(*) FROM {{v}} c
            JOIN {{e}} pb ON pb.dst = c.id AND pb.label = 'placed_by'
            JOIN {{e}} ct ON ct.src = pb.src AND ct.label = 'contains'
            JOIN {{e}} sb ON sb.src = ct.dst AND sb.label = 'supplied_by'
            JOIN {{v}} s ON s.id = sb.dst
            WHERE c.kind__string = 'customer' AND c.nationkey__long = {nation}
            GROUP BY 1 ORDER BY 1"""
        return Op(cls, name, run, lambda r: _eq(r, rows(st, sql.format(
            v=snap("vertices", cp()), e=snap("edges", cp()))), name))
    distinct_parts = f"""SELECT count(DISTINCT ct.dst) FROM {{v}} c
        JOIN {{e}} pb ON pb.dst = c.id AND pb.label = 'placed_by'
        JOIN {{e}} ct ON ct.src = pb.src AND ct.label = 'contains'
        WHERE c.kind__string = 'customer' AND c.nationkey__long = {nation}"""
    if name == "fluent":
        def run():
            def q(v, e):
                with layers.layer("fluent.count"):
                    return (Traversal(v, e).V().has("kind__string", "customer")
                            .has("nationkey__long", nation).in_("placed_by").out("contains")
                            .dedup().count())
            return at(q)

        return Op(cls, name, run, lambda r: _eq(r, rows(st, distinct_parts.format(
            v=snap("vertices", cp()), e=snap("edges", cp())))[0][0], name))
    if name == "gremlin":
        script = (f"g.V.has('kind','customer').has('nationkey',{nation})"
                  ".in('placed_by').out('contains').dedup.count()")

        def run():
            def q(v, e):
                with layers.layer("gremlin.run"):
                    return GL.run(script, v, e).collect()[0][0]
            return at(q)

        return Op(cls, name, run, lambda r: _eq(r, rows(st, distinct_parts.format(
            v=snap("vertices", cp()), e=snap("edges", cp())))[0][0], name))
    if name == "gremlin_loop":
        floor = PARAMS["loop_price_floor"] + rng.randrange(50_000)
        script = (f"g.V.has('kind','order').has('totalprice', T.gt, {floor})"
                  ".out.loop(1){it.object.kind != 'region'}.groupCount('name')")

        def run():
            def q(v, e):
                with layers.layer("gremlin.run"):
                    return sorted(tuple(r) for r in GL.run(script, v, e).collect())
            return at(q)

        def check(r):
            v, e = snap("vertices", cp()), snap("edges", cp())
            sql = f"""WITH o AS (SELECT id FROM {v} WHERE kind__string = 'order'
                                 AND totalprice__long > {floor}),
              a AS (SELECT n.dst AS nation FROM o JOIN {e} pb ON pb.src = o.id
                      JOIN {v} c ON c.id = pb.dst AND c.kind__string = 'customer'
                      JOIN {e} n ON n.src = c.id),
              b AS (SELECT n.dst AS nation FROM o JOIN {e} ct ON ct.src = o.id
                      JOIN {v} p ON p.id = ct.dst AND p.kind__string = 'part'
                      JOIN {e} sb ON sb.src = p.id JOIN {e} n ON n.src = sb.dst)
              SELECT r.name__string, count(*) FROM (SELECT * FROM a UNION ALL SELECT * FROM b) x
              JOIN {e} po ON po.src = x.nation JOIN {v} r ON r.id = po.dst
              GROUP BY 1 ORDER BY 1"""
            return _eq(r, rows(st, sql), name)

        n_edges = len(edge_arrays(st, duck_cp(st, t))[0])
        return Op(cls, name, run, check,
                  tier={"gremlin_edges": n_edges, "cap": GL.GREMLIN_DRIVER_EDGE_MAX,
                        "side": "under_cap" if n_edges <= GL.GREMLIN_DRIVER_EDGE_MAX
                        else "over_cap"})
    if name in ("closeness", "closeness_wide"):
        # the wide source set is past the driver tier's source cap
        n_src = PARAMS["closeness_sources" if name == "closeness" else "closeness_wide_sources"]
        sources = sorted(gen.ORDER + o for o in rng.sample(range(PARAMS["orders"]), n_src))
        iters = PARAMS["closeness_iters"]
        side = "under_cap" if len(sources) <= AN._BFS_DRIVER_SOURCE_MAX else "over_cap"

        def run():
            def q(_v, e):
                with layers.layer(f"analytics.closeness_centrality.{side}"):
                    src_df = st.spark.createDataFrame([(s,) for s in sources], "id long")
                    out = AN.closeness_centrality(e, src_df, max_iters=iters).collect()
                return sorted(tuple(r) for r in out)
            return at(q)

        return Op(cls, name, run, lambda r: _eq(r, closeness_expected(
            *edge_arrays(st, cp()), sources, iters), name),
            tier={"bfs_sources": len(sources), "cap": AN._BFS_DRIVER_SOURCE_MAX, "side": side})
    if name == "cc":
        labels = PARAMS["cc_labels"]
        n_edges = len(edge_arrays(st, duck_cp(st, t), labels)[0])
        side = "under_cap" if n_edges <= AN.CC_DRIVER_EDGE_MAX else "over_cap"

        def run():
            def q(_v, e):
                with layers.layer("analytics.connected_components"):
                    return sorted(tuple(r) for r in AN.connected_components(
                        e.where(F.col("label").isin(labels))).collect())
            return at(q)

        return Op(cls, name, run, lambda r: _eq(r, components(*edge_arrays(st, cp(), labels)),
                                                name),
                  tier={"cc_edges": n_edges, "cap": AN.CC_DRIVER_EDGE_MAX, "side": side})
    if name == "chain":
        use_edges = rng.random() < 0.5
        table = "edges" if use_edges else "vertices"

        def run():
            with layers.layer("temporal.chain"):
                h = st.e_hist if use_edges else st.v_hist
                out = TM.with_prev_next(TM.with_version_index(h)).agg(
                    F.sum("version_idx"), F.count(F.when(F.col("prev_tx_from").isNull(), 1)),
                    F.count("next_tx_from")).collect()[0]
            return tuple(out)

        sql = f"""SELECT sum(vi), count(*) FILTER (WHERE pv IS NULL), count(nx) FROM (
            SELECT row_number() OVER w AS vi, lag(tx_from) OVER w AS pv, lead(tx_from) OVER w AS nx
            FROM {table} WINDOW w AS (PARTITION BY id ORDER BY tx_from))"""
        return Op(cls, name, run, lambda r: _eq(r, rows(st, sql)[0], name))
    if name == "validity":
        def run():
            with layers.layer("temporal.validity"):
                vi = TM.validity_intervals(st.v_hist, st.log)
                return vi.where((F.col("valid_from") <= F.lit(t))
                                & (F.col("valid_to") > F.lit(t))).count()

        sql = """WITH times AS (SELECT DISTINCT tx_id, tx_time FROM tx_log)
            SELECT count(*) FROM vertices v JOIN times a ON a.tx_id = v.tx_from
            LEFT JOIN times b ON b.tx_id = v.tx_to
            WHERE a.tx_time <= ? AND coalesce(b.tx_time, TIMESTAMP '9999-12-31 23:59:59') > ?"""
        return Op(cls, name, run, lambda r: _eq(r, rows(st, sql, [t, t])[0][0], name))
    if name == "time_ids":
        def run():
            with layers.layer("temporal.time_ids"):
                g.set_checkpoint_time(t)
                out = TM.time_ids(st.log, g._checkpoint_tx).agg(
                    F.count(F.lit(1)), F.sum("time_id")).collect()[0]
            return tuple(out)

        return Op(cls, name, run, lambda r: _eq(r, rows(st, f"""SELECT count(*), sum(m) FROM (
            SELECT element_id, max(tx_id) AS m FROM tx_log WHERE tx_id <= {cp()}
            GROUP BY 1)""")[0], name))
    # facts_diff: edge facts as of t vs as of an earlier t0
    t0 = rng.choice(st.tx_times[:-1])
    cols = ["id", "src", "dst", "label", "quantity__long", "tx_from", "tx_to"]

    def run():
        g.set_checkpoint_time(t0)
        e1 = g.edges_df().select(*cols)
        g.set_checkpoint_time(t)
        e2 = g.edges_df().select(*cols)
        with layers.layer("diff.facts_difference_df"):
            d = D.facts_difference_df(D.explode_facts(e2, "edge"), D.explode_facts(e1, "edge"))
            out = d.groupBy("attr").count().orderBy("attr").collect()
        return [tuple(r) for r in out]

    def check(r):
        sql = FACTS_SQL.format(f1=edge_facts_sql(cp()), f2=edge_facts_sql(duck_cp(st, t0)))
        return _eq(r, rows(st, sql), name)

    return Op(cls, name, run, check)


def _eq(got, want, name: str):
    return None if got == want else f"{name}: got {str(got)[:300]} want {str(want)[:300]}"
