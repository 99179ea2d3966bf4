"""Spark job counts of the driver-tier decisions.

Each tier decides on the driver whether an operator's input fits one
bounded collect.  These pins count the Spark jobs a decision submits
(``statusTracker`` job ids under a job group), so a change to how the
tiers collect keeps running the same actions.  The counts are the ones
the hand-rolled collects ran before they moved behind
``local_relation.bounded_arrow``, except where a test says why not.
The md5 MinHash-LSH and ``DedupIndex.dedupe_batch`` pins were taken
before the two hash families shared one pipeline; only the duplicate-id
count changed with it.  Frames built by ``local_relation.local_dataframe``
(store views, tier outputs) answer ``count()`` with no job."""

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from fluxgraph_spark import TemporalGraph
from fluxgraph_spark import local_relation as LR
from fluxgraph_spark.functions import dedup, similarity
from fluxgraph_spark.operators import analytics as AN
from fluxgraph_spark.operators import gremlin as GL


def jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted).  Jobs submitted from an
    engine pool thread carry no job group (a thread does not inherit
    it), so they count as the ungrouped jobs that started during fn."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    group = f"tier-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    pooled = [j for j in tracker.getJobIdsForGroup(None) if j > last]
    return out, len(tracker.getJobIdsForGroup(group)) + len(pooled)


@pytest.fixture
def edge_files(spark, tmp_path):
    """A 40-edge chain plus a triangle, read back from parquet as the
    as-of workloads read their edges."""
    rows = [(i, i + 1) for i in range(1, 40)] + [(100, 101), (101, 102), (102, 100)]
    path = str(tmp_path / "edges.parquet")
    spark.createDataFrame(rows, "src long, dst long").coalesce(2).write.parquet(path)
    return spark.read.parquet(path)


def test_components_tier_jobs(spark, edge_files, monkeypatch):
    monkeypatch.setattr(AN, "CC_DRIVER_EDGE_MAX", 1 << 18)
    for op in (AN.connected_components, AN.connected_components_star):
        out, n = jobs(spark, lambda: op(edge_files))
        assert n == 1, op.__name__
        assert out.count() == 43


def test_closeness_tier_jobs(spark, edge_files, monkeypatch):
    sources = spark.range(1, 4)
    monkeypatch.setattr(AN, "BFS_DRIVER_EDGE_MAX", 1 << 21)
    out, n = jobs(spark, lambda: AN._closeness_driver_tier(edge_files, sources, 3, False))
    assert out is not None and n == 2
    # sources over their cap: the edge list is never collected
    monkeypatch.setattr(AN, "_BFS_DRIVER_SOURCE_MAX", 2)
    out, n = jobs(spark, lambda: AN._closeness_driver_tier(edge_files, sources, 3, False))
    assert out is None and n == 1


def test_walk_tier_jobs(spark, edge_files, monkeypatch):
    seeds = spark.range(1, 3)
    monkeypatch.setattr(AN, "WALK_DRIVER_EDGE_MAX", 1 << 18)
    out, n = jobs(spark, lambda: AN._walk_driver_collect(edge_files, seeds))
    assert out is not None and n == 2


def test_walk_tier_checks_seeds_before_the_edge_collect(spark, edge_files, monkeypatch):
    """An over-cap seed set falls back after the seed collect alone (the
    edge list used to be collected first: two jobs)."""
    seeds = spark.range(1, 3)
    monkeypatch.setattr(AN, "WALK_DRIVER_EDGE_MAX", 1 << 18)
    monkeypatch.setattr(AN, "_WALK_DRIVER_SOURCE_MAX", 1)
    out, n = jobs(spark, lambda: AN._walk_driver_collect(edge_files, seeds))
    assert out is None and n == 1


def test_job_free_gates_run_before_the_first_job(spark, edge_files, toy_graph, monkeypatch):
    """A tier whose second input is over its cap (by the cap alone, or by
    its file bytes) falls back before collecting the first input."""
    sources = spark.range(1, 4)
    for cap_attr, tier in (
        ("BFS_DRIVER_EDGE_MAX", lambda: AN._closeness_driver_tier(edge_files, sources, 3, False)),
        ("WALK_DRIVER_EDGE_MAX", lambda: AN._walk_driver_collect(edge_files, sources)),
    ):
        with monkeypatch.context() as m:
            m.setattr(AN, cap_attr, 0)
            assert jobs(spark, tier) == (None, 0), cap_attr
        with monkeypatch.context() as m:
            m.setattr(LR, "_PROBE_ROW_BYTES", 1)
            m.setattr(AN, cap_attr, 1)
            assert jobs(spark, tier) == (None, 0), cap_attr
    g, _, _ = toy_graph
    v_df, e_df = g.vertices_df(), g.edges_df()
    monkeypatch.setattr(GL, "GREMLIN_DRIVER_EDGE_MAX", 0)
    assert jobs(spark, lambda: GL._tier_collect_graph(v_df, e_df)) == (None, 0)


def test_gremlin_loop_tier_jobs(spark, toy_graph, monkeypatch):
    g, vs, _ = toy_graph
    v_df, e_df = g.vertices_df(), g.edges_df()
    m = vs["marko"].id
    monkeypatch.setattr(GL, "GREMLIN_DRIVER_EDGE_MAX", 1 << 21)
    # the whole prefix replays: the vertex and edge collects, count-first;
    # both counts are the store views' held counts (7 jobs when each ran
    # Spark's two-job aggregate)
    script = f"g.v({m}).out.loop(1){{it.object.lang != 'java'}}.values('name')"
    out, n = jobs(spark, lambda: GL.run(script, v_df, e_df))
    assert n == 3
    assert sorted(r[0] for r in out.collect()) == ["lop", "lop", "ripple"]
    # a frontier from Spark: the graph collects, then the frontier collect
    calls = []
    tier = GL._fixpoint_driver_tier
    monkeypatch.setattr(
        GL, "_fixpoint_driver_tier", lambda *a: calls.append(1) or tier(*a)
    )
    script = f"g.v({m}).outE.inV.out.loop(1){{it.object.lang != 'java'}}.values('name')"
    out, n = jobs(spark, lambda: GL.run(script, v_df, e_df))
    assert n == 8  # 12 with the two counts run by Spark
    assert sorted(r[0] for r in out.collect()) == ["lop", "ripple"]
    assert calls


def test_dataframe_graph_first_checkpoint_jobs(spark):
    t0 = datetime.datetime(2021, 1, 1)
    log = spark.createDataFrame(
        [(i, t0 + datetime.timedelta(hours=i)) for i in range(1, 6)],
        "tx_id long, tx_time timestamp",
    )
    g = TemporalGraph.from_dataframes(
        spark,
        spark.createDataFrame([(1,)], "id long"),
        spark.createDataFrame([(1, 1, 1, "a")], "id long, src long, dst long, label string"),
        log,
    )
    _, n = jobs(spark, lambda: g.set_checkpoint_time(t0 + datetime.timedelta(hours=2)))
    assert n == 2 and g._checkpoint_tx == 2


def test_lsh_band_tier_jobs(spark):
    banded = spark.createDataFrame(
        [(i, b, f"k{i // 2}") for i in range(8) for b in range(3)],
        "id long, band int, bucket string",
    ).localCheckpoint(eager=True)
    out, n = jobs(spark, lambda: dedup._banded_pairs_driver(banded, None, 24))
    assert out == [(0, 1), (2, 3), (4, 5), (6, 7)] and n == 1
    out, n = jobs(spark, lambda: dedup._banded_pairs_driver(banded, None))
    assert out == [(0, 1), (2, 3), (4, 5), (6, 7)] and n == 3


def test_ivf_centroid_collect_jobs(spark):
    vectors = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vec array<double>")
    cents = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "centroid_id int, cvec array<double>"
    )
    out, n = jobs(spark, lambda: similarity.ivf_assign(vectors, cents))
    # one Arrow limit collect; the row collect it replaced ran an
    # incremental take, two jobs over these four in-memory partitions
    assert n == 1
    assert sorted(map(tuple, out.collect())) == [(1, 3), (2, 0)]


@pytest.fixture(scope="module")
def lsh_docs(spark):
    from fluxgraph_spark.sources.tpch import read_tables

    return read_tables(spark, "/root/testdata/sf0.001")["documents"].select("doc_id", "text")


# (LSH_DRIVER_BAND_MAX, _LSH_DRIVER_GRAMS_MAX) per tier setting
LSH_SETTINGS = {
    "all_driver": (1 << 21, 1 << 19),
    "driver_selection": (1 << 21, 0),
    "distributed": (0, 1 << 19),
}


def _lsh_jobs(spark, monkeypatch, run):
    counts = {}
    for setting, (band_max, grams_max) in LSH_SETTINGS.items():
        monkeypatch.setattr(dedup, "LSH_DRIVER_BAND_MAX", band_max)
        monkeypatch.setattr(dedup, "_LSH_DRIVER_GRAMS_MAX", grams_max)
        out, counts[setting] = jobs(spark, run)
        assert out.count() > 0, setting
    return counts


@pytest.mark.parametrize("budget", [None, 3])
def test_lsh_reproducible_jobs(spark, lsh_docs, monkeypatch, budget):
    """The md5 pipeline in each tier setting, with and without a budget."""
    counts = _lsh_jobs(spark, monkeypatch, lambda: dedup.minhash_lsh_dedup_reproducible(
        lsh_docs, "doc_id", "text", n=2, num_hashes=8, bands=8,
        threshold=0.0, max_candidates_per_doc=budget,
    ))
    want = {"all_driver": 10, "driver_selection": 12, "distributed": 17}
    if budget is not None:
        want["distributed"] = 18  # the budget windows add one exchange
    assert counts == want


def test_lsh_duplicate_ids_jobs(spark, lsh_docs, monkeypatch):
    dup = lsh_docs.unionByName(
        lsh_docs.orderBy("doc_id").limit(5).withColumn("text", F.concat("text", F.lit(" zq")))
    )
    counts = _lsh_jobs(spark, monkeypatch, lambda: dedup.minhash_lsh_dedup_reproducible(
        dup, "doc_id", "text", n=2, num_hashes=8, bands=8, threshold=0.0,
    ))
    # one regroup of the gram arrays on top of the unique-id counts (the
    # exploded pipeline these inputs used to take ran 24 in every setting)
    assert counts == {"all_driver": 12, "driver_selection": 14, "distributed": 19}


def test_dedupe_batch_jobs(spark, lsh_docs, tmp_path):
    from fluxgraph_spark.sources import bucketed

    db = "flux_tier_jobs_idx"
    bucketed.ensure_database(spark, db, str(tmp_path / "warehouse"))
    try:
        corpus = lsh_docs.where(F.col("doc_id") % 5 != 0)
        batch = lsh_docs.where(F.col("doc_id") % 5 == 0)
        idx = bucketed.DedupIndex.build(
            corpus, "doc_id", "text", f"{db}.corpus",
            n=3, num_hashes=8, bands=4, n_buckets=4,
        )
        out, n = jobs(spark, lambda: idx.dedupe_batch(batch, corpus, "doc_id", "text"))
        assert n == 28 and out.count() > 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_store_view_count_jobs(spark, toy_graph):
    g, vs, _ = toy_graph
    cut = max(g._tx_times.values())
    g.set_transaction_time(cut + datetime.timedelta(days=1))
    vs["marko"].set_property("age", 30)
    g.add_vertex()
    view = g.as_of(cut).vertices_df()
    # an as-of store view answers count() from the rows it holds
    assert jobs(spark, view.count) == (6, 0)
    assert jobs(spark, view.isEmpty) == (False, 0)
    # a transformation of it is counted by Spark
    older = view.where(F.col("id") != vs["marko"].id)
    out, n = jobs(spark, older.count)
    assert out == 5 and n >= 1
