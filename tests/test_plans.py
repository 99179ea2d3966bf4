"""Layout planning: time-bucket partition pruning + id bucketing."""

import pytest
from pyspark.sql import functions as F


def test_as_of_partition_pruning(spark, tmp_path):
    from fluxgraph_spark.plans import (
        explain_str,
        read_as_of_pruned,
        write_time_bucketed,
    )

    # synthetic SCD2 table: 1000 versions across tx 1..1000
    df = spark.range(1, 1001).select(
        F.col("id"),
        F.col("id").alias("tx_from"),
        F.when(F.col("id") % 2 == 0, F.col("id") + 5).alias("tx_to"),
    )
    path = str(tmp_path / "scd2")
    write_time_bucketed(df, path, bucket_txs=100)

    snap = read_as_of_pruned(spark, path, as_of_tx=250, bucket_txs=100)
    # correctness: visible = tx_from <= 250 and (open or tx_to > 250)
    expect = df.where(
        (F.col("tx_from") <= 250) & (F.col("tx_to").isNull() | (F.col("tx_to") > 250))
    )
    assert snap.count() == expect.count()

    # pruning: the physical plan carries a PartitionFilters entry on
    # tx_bucket and reads only buckets 0..2 (of 10)
    plan = explain_str(snap)
    import re

    m = re.search(r"PartitionFilters: \[(.*)\]", plan)
    assert m and "tx_bucket" in m.group(1) and "<= 2" in m.group(1), plan


def test_id_bucketed_join_no_exchange(spark, tmp_path):
    from fluxgraph_spark.plans import explain_str, write_id_bucketed

    v = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("x"))
    e = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("src"), (F.col("id") % 997).alias("dst")
    )
    write_id_bucketed(v, "v_bucketed", n_buckets=8)
    write_id_bucketed(e, "e_bucketed", n_buckets=8, key="src")
    vt = spark.table("v_bucketed")
    et = spark.table("e_bucketed")
    try:
        # force a non-broadcast join so the assertion actually exercises
        # bucket co-location, not the broadcast fallback
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = vt.join(et, vt["id"] == et["src"])
        assert joined.count() == 5000
        plan = explain_str(joined)
        # bucketed-on-key join: no shuffle exchange on either side
        # (formatted mode prints shuffles as "(n) Exchange" node headers —
        # a raw "Exchange hashpartitioning" substring never appears there)
        import re

        assert not re.findall(r"\(\d+\) Exchange", plan), plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS v_bucketed")
        spark.sql("DROP TABLE IF EXISTS e_bucketed")


def test_bucketed_graph_hop_shuffles_only_frontier(spark, tmp_path):
    """materialize_graph_bucketed stores edges pre-shuffled by src/dst:
    a hop join's only Exchange moves the frontier — the edge scan feeds
    the join straight from its buckets — and hop results equal the
    unbucketed traversal operator's."""
    from fluxgraph_spark.operators import traversal as TR
    from fluxgraph_spark.plans import explain_str, materialize_graph_bucketed
    from fluxgraph_spark.sources.tpch import read_tables, tpch_edges, tpch_vertices

    t = read_tables(spark, "/root/testdata/sf0.001")
    v, e = tpch_vertices(t), tpch_edges(t)
    try:
        g = materialize_graph_bucketed(v, e, "bg_test", n_buckets=8)
        frontier = (
            g.vertices()
            .where((F.col("kind") == "customer") & (F.col("nationkey") == 7))
            .select("id")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hop = g.in_hop(frontier, "placed_by")

        # semantics: identical bag to the generic hop operator
        want = sorted(
            r["id"] for r in TR.hop(frontier, e, TR.IN, ("placed_by",)).collect()
        )
        got = sorted(r["id"] for r in hop.collect())
        assert got == want and got

        # plan: a frontier drawn from the bucketed vertices table is
        # ALREADY bucketed by id, so the hop join is fully exchange-free
        # (formatted mode prints shuffles as "(n) Exchange" node headers)
        import re

        def n_shuffles(p):
            return len(re.findall(r"\(\d+\) Exchange", p))

        plan = explain_str(hop)
        assert n_shuffles(plan) == 0, plan
        assert "SortMergeJoin" in plan
        # an external (unbucketed) frontier shuffles ONLY itself — the
        # edge scan still feeds the join straight from its buckets
        ext = spark.createDataFrame([(r["id"],) for r in frontier.collect()], "id long")
        plan_ext = explain_str(g.in_hop(ext, "placed_by"))
        assert n_shuffles(plan_ext) == 1, plan_ext
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for tbl in ("bg_test_vertices", "bg_test_edges_out", "bg_test_edges_in"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_committed_after_plans_show_full_lineage():
    """Committed after-plans are taken with ``profile_query.py
    --no-ckpt-plans``: they show the lineage under every checkpoint, not
    a scan of the checkpoint's RDD."""
    import glob
    import os

    plans = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
    after = glob.glob(os.path.join(plans, "*", "*_after.txt"))
    assert after
    found = []
    for path in after:
        with open(path) as f:
            if "at localCheckpoint" in f.read():
                found.append(os.path.relpath(path, plans))
    assert not found, found
