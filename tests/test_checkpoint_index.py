"""Checkpoint resolution and as-of views without scans.

A ``DataFrameGraph`` resolves checkpoints from a ``TxTimeIndex`` built
once from its tx_log; the answers must be the ``temporal.
resolve_checkpoint`` aggregate's, compared exactly as Spark compares
``tx_time <= t``.  The guards pin the job counts: a second checkpoint
submits no Spark job, and a store as-of view is a bare local relation of
the visible rows."""

import datetime

import pytest
from pyspark.sql import types as T

from fluxgraph_spark import TemporalGraph
from fluxgraph_spark.operators import temporal as TM
from fluxgraph_spark.sources import parquet_io

T0 = datetime.datetime(2021, 3, 14, 1, 30)  # the New York DST gap is at 2:00


def tx_log_rows():
    """(tx_id, tx_time) rows: out-of-order times, duplicate tx rows (one
    tx logs several elements), equal times, and NULL tx_time / tx_id."""
    h = datetime.timedelta(hours=1)
    rows = [
        (1, T0), (1, T0), (2, T0 + 3 * h), (3, T0 + h), (4, T0 + h),
        (5, T0 - 2 * h), (6, T0 + 5 * h), (6, T0 + 5 * h),
        (7, T0 + datetime.timedelta(minutes=150, microseconds=7)),
        (8, None), (None, T0 + 9 * h), (9, T0 + 4 * h), (11, T0 + 6 * h), (10, T0 + 6 * h),
    ]
    return rows, [t for _, t in rows if t is not None]


def probe_times(times):
    """Before all, on each, between (a microsecond either side), after."""
    us = datetime.timedelta(microseconds=1)
    probes = {min(times) - datetime.timedelta(days=1), max(times) + datetime.timedelta(days=1)}
    for t in times:
        probes |= {t - us, t, t + us}
    return sorted(probes)


def graph_over(spark, ts_type):
    rows, times = tx_log_rows()
    schema = T.StructType(
        [T.StructField("tx_id", T.LongType()), T.StructField("tx_time", ts_type)]
    )
    log = spark.createDataFrame(rows, schema)
    vertices = spark.createDataFrame([(1,)], "id long")
    edges = spark.createDataFrame([(1, 1, 1, "a")], "id long, src long, dst long, label string")
    return TemporalGraph.from_dataframes(spark, vertices, edges, log), log, times


@pytest.mark.parametrize("ts_type", [T.TimestampType(), T.TimestampNTZType()])
def test_dataframe_graph_resolves_like_the_aggregate(spark, process_zone, ts_type):
    old_zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            g, log, times = graph_over(spark, ts_type)
            aware = [t.replace(tzinfo=datetime.timezone.utc) for t in times[:3]]
            for t in probe_times(times) + aware:
                g.set_checkpoint_time(t)
                assert g._checkpoint_tx == TM.resolve_checkpoint(log, t), (zone, t)
            assert g._tx_index is not None
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_zone)


def test_dataframe_graph_over_bound_runs_the_aggregate(spark, monkeypatch):
    monkeypatch.setattr(parquet_io, "TX_INDEX_MAX_TIMES", 3)
    calls = []
    aggregate = TM.resolve_checkpoint
    monkeypatch.setattr(TM, "resolve_checkpoint", lambda log, t: calls.append(t) or aggregate(log, t))
    g, log, times = graph_over(spark, T.TimestampType())
    probes = probe_times(times)[::4]
    for t in probes:
        g.set_checkpoint_time(t)
        assert g._checkpoint_tx == aggregate(log, t), t
    assert g._tx_index is None
    assert calls == probes


def job_ids(spark):
    # job events reach the status store through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_second_checkpoint_submits_no_job(spark):
    g, _, times = graph_over(spark, T.TimestampType())
    before = job_ids(spark)
    g.set_checkpoint_time(times[0])
    built = job_ids(spark)
    assert built != before  # the tracker sees the index build's job
    for t in times:
        g.set_checkpoint_time(t)
    assert job_ids(spark) == built


def test_store_as_of_view_is_a_bare_local_relation(spark):
    g = TemporalGraph.create(spark)
    g.set_transaction_time(T0)
    a, b = g.add_vertex(), g.add_vertex()
    g.add_edge(None, a, b, "x")
    for i in range(5):
        g.set_transaction_time(T0 + datetime.timedelta(hours=i + 1))
        a.set_property("n", i)
        g.add_vertex()
    for view, n_visible in ((g.as_of(T0), 2), (g, 7)):
        for df, n in ((view.vertices_df(), n_visible), (view.edges_df(), 1)):
            plan = df._jdf.queryExecution().analyzed()
            assert plan.nodeName() == "LocalRelation", plan.toString()
            assert plan.data().size() == n
    assert g.vertices_df(snapshot=False).count() == 2 + 2 + 5 + 5
