"""The Arrow local-relation helpers.  ``local_dataframe``: values
identical to what a python-list ``createDataFrame`` made of the same
data, plans without a Python RDD, a held row count equal to Spark's,
and no way around it.
``bounded_arrow``/``integral``: the driver tiers' collect gates, and no
hand-rolled collect or environment knob beside them."""

import ast
import datetime
import decimal
import os
import uuid

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

import fluxgraph_spark
from fluxgraph_spark import TemporalGraph
from fluxgraph_spark import local_relation as LR
from fluxgraph_spark import model as M
from fluxgraph_spark.functions import dedup
from fluxgraph_spark.local_relation import bounded_arrow, integral, local_dataframe
from fluxgraph_spark.operators import analytics as AN

SAMPLES = {
    # type suffix -> a few values; None is added to every column
    "string": ["x", "", "ünï"],
    "boolean": [True, False, True],
    "long": [2**62, -1, 0],
    "bigint": [decimal.Decimal(2**100), decimal.Decimal(-(10**37)), decimal.Decimal(0)],
    "float": [0.1, 1e30, -2.5],
    "double": [1e300, -0.0, 0.1],
    "bigdec": [
        decimal.Decimal(0.1),  # 55 fractional digits: rounded to 18
        decimal.Decimal("1.0000000000000000005"),
        decimal.Decimal("-1.0000000000000000015"),
    ],
    "uuid": [str(uuid.UUID(int=7)), str(uuid.UUID(int=8)), str(uuid.UUID(int=9))],
    "uri": ["http://a/b", "urn:x", "file:///c"],
}


def plan_and_lineage(df):
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.toRdd().toDebugString()


def assert_no_python_rdd(df):
    text = plan_and_lineage(df)
    assert "ExistingRDD" not in text and "PythonRDD" not in text, text


def test_every_property_type_round_trips_with_nulls(spark):
    cols = [M.mangle("p", suffix) for suffix in SAMPLES]
    schema = T.StructType(
        [T.StructField(c, M.property_spark_type(c), True) for c in cols]
    )
    columns = [vals + [None] for vals in SAMPLES.values()]
    rows = list(zip(*columns))
    want = spark.createDataFrame(rows, schema).collect()
    got = local_dataframe(spark, columns, schema)
    assert got.collect() == want
    assert_no_python_rdd(got)

    # the same values through the store's vertex view
    g = TemporalGraph.create(spark)
    for i in range(len(rows)):
        v = g.add_vertex()
        for suffix, vals in SAMPLES.items():
            if i < len(vals):
                v.set_property("p" + suffix, vals[i], suffix)
    view = g.vertices_df(snapshot=False)
    store_rows = g._store.vertices
    names = view.columns
    list_rows = [
        tuple(r[c] if c in M.VERTEX_BASE_COLS else r["props"].get(c) for c in names)
        for r in store_rows
    ]
    assert view.collect() == spark.createDataFrame(list_rows, view.schema).collect()


def test_tx_log_timestamps_match_list_path_across_zones(spark, process_zone):
    old_zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            g = TemporalGraph.create(spark)
            # naive times, one in each DST regime of the process zone
            for t in (datetime.datetime(2020, 1, 1, 12, 0, 0, 123456),
                      datetime.datetime(2020, 7, 1, 0, 30)):
                g.set_transaction_time(t)
                g.add_vertex()
            got = g.tx_log_df()
            want = spark.createDataFrame(
                [tuple(r[f] for f in M.TX_LOG_SCHEMA.names) for r in g._store.tx_log],
                M.TX_LOG_SCHEMA,
            )
            probe = [F.col(M.TX_TIME).cast("string"), F.unix_micros(M.TX_TIME)]
            assert got.select(*probe).collect() == want.select(*probe).collect(), zone
            assert got.collect() == want.collect(), zone
            assert_no_python_rdd(got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_zone)


def test_above_local_relation_threshold(spark):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("s", T.StringType(), True)]
    )
    columns = [list(range(2000)), [None if i % 7 == 0 else f"s{i}" for i in range(2000)]]
    try:
        spark.conf.set(key, "1")
        df = local_dataframe(spark, columns, schema)
        text = plan_and_lineage(df)
        assert "LocalTableScan" not in text and "PythonRDD" not in text, text
        assert df.collect() == spark.createDataFrame(list(zip(*columns)), schema).collect()
    finally:
        spark.conf.set(key, old)


def test_driver_built_frames_have_no_python_rdd(spark, monkeypatch):
    g = TemporalGraph.create(spark)
    a, b = g.add_vertex(), g.add_vertex()
    a.set_property("name", "a")
    g.add_edge(None, a, b, "knows").set_property("w", 0.5)
    for df in (g.vertices_df(), g.edges_df(), g.tx_log_df(), g.vertices_df(snapshot=False)):
        assert_no_python_rdd(df)

    edges = spark.range(1, 30).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    monkeypatch.setattr(AN, "CC_DRIVER_EDGE_MAX", 1 << 18)
    assert_no_python_rdd(AN.connected_components(edges))
    assert_no_python_rdd(AN.connected_components_star(edges))
    monkeypatch.setattr(AN, "BFS_DRIVER_EDGE_MAX", 1 << 21)
    assert_no_python_rdd(
        AN.closeness_centrality(edges, spark.range(1, 4), max_iters=3)
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("the quick brown fox"), (F.col("id") % 5).cast("string"))
        .alias("text"),
    )
    monkeypatch.setattr(dedup, "LSH_DRIVER_BAND_MAX", 1 << 21)
    monkeypatch.setattr(dedup, "_LSH_DRIVER_GRAMS_MAX", 1 << 24)
    both = dedup.minhash_lsh_dedup_reproducible(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=8, threshold=0.0
    )
    assert both.count() > 0
    assert_no_python_rdd(both)
    # driver candidate selection, distributed verify over shipped pairs
    monkeypatch.setattr(dedup, "_LSH_DRIVER_GRAMS_MAX", 0)
    shipped = dedup.minhash_lsh_dedup_reproducible(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=8, threshold=0.0
    )
    assert sorted(map(tuple, shipped.collect())) == sorted(map(tuple, both.collect()))
    assert "PythonRDD" not in plan_and_lineage(shipped)


def package_trees():
    """(path relative to the package, parsed module) for every module of
    fluxgraph_spark."""
    root = os.path.dirname(fluxgraph_spark.__file__)
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), ast.parse(fh.read(), path)


def offenders(is_offence, allowed=()):
    return [
        f"{rel}:{node.lineno}"
        for rel, tree in package_trees()
        if rel not in allowed
        for node in ast.walk(tree)
        if is_offence(node)
    ]


def calls_method(node, *names):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
    )


def test_create_dataframe_only_in_helper():
    """Only local_relation.py may call ``createDataFrame``: a python-list
    local relation runs a Python worker on every action."""
    found = offenders(
        lambda n: calls_method(n, "createDataFrame"), allowed=("local_relation.py",)
    )
    assert not found, found


def test_no_environment_reads():
    """The tier caps are module constants: nothing in the package reads
    the process environment."""

    def reads_env(node):
        if isinstance(node, ast.Attribute):
            return node.attr in ("environ", "getenv", "environb", "getenvb")
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            return any(a.name.startswith(("environ", "getenv")) for a in node.names)
        return False

    found = offenders(reads_env)
    assert not found, found


def test_bounded_collects_only_in_helper():
    """A ``.limit(<cap> + 1)`` collect is a hand-rolled driver-tier
    gate: tiers collect through ``local_relation.bounded_arrow``."""

    def limit_plus_one_collect(node):
        if not calls_method(node, "toArrow", "collect"):
            return False
        inner = node.func.value
        return (
            calls_method(inner, "limit")
            and len(inner.args) == 1
            and isinstance(inner.args[0], ast.BinOp)
            and isinstance(inner.args[0].op, ast.Add)
            and isinstance(inner.args[0].right, ast.Constant)
            and inner.args[0].right.value == 1
        )

    found = offenders(limit_plus_one_collect, allowed=("local_relation.py",))
    assert not found, found


def test_bounded_arrow_limit_path(spark):
    df = spark.range(5).select(
        F.col("id"), F.when(F.col("id") == 2, None).otherwise(F.col("id")).alias("n")
    )
    tbl = bounded_arrow(df, 5)
    assert tbl.num_rows == 5 and tbl.column_names == ["id", "n"]
    assert bounded_arrow(df, 4) is None
    for cap in (0, -1):
        assert bounded_arrow(df, cap) is None
    # a NULL falls back only in a not_null column
    assert bounded_arrow(df, 5, not_null=("n",)) is None
    assert bounded_arrow(df, 5, not_null=("id",)).num_rows == 5


def test_bounded_arrow_counted_path(spark):
    df = spark.range(5)
    assert bounded_arrow(df, 5, rows=5).num_rows == 5
    assert bounded_arrow(df, 4, rows=5) is None
    assert bounded_arrow(df, 5, rows=df.count).column("id").to_pylist() == list(range(5))
    assert bounded_arrow(df, 4, rows=df.count) is None

    def no_count():
        raise AssertionError("counted though the cap already decided")

    assert bounded_arrow(df, 0, rows=no_count) is None
    nulls = spark.createDataFrame([(1,), (None,)], "id long")
    assert bounded_arrow(nulls, 2, rows=2, not_null=("id",)) is None
    assert bounded_arrow(nulls, 2, rows=2).num_rows == 2


def test_integral_id_gate(spark):
    df = spark.createDataFrame(
        [(1, 1, 1, 1, "1", 1.0)],
        "l long, i int, s short, b byte, str string, d double",
    )
    assert integral(df, "l", "i", "s", "b")
    for col in ("str", "d"):
        assert not integral(df, col)
        assert not integral(df, "l", col)


def test_bounded_arrow_file_proof_runs_no_job(spark, monkeypatch, tmp_path):
    path = str(tmp_path / "rows.parquet")
    spark.range(40).write.parquet(path)
    df = spark.read.parquet(path)
    monkeypatch.setattr(LR, "_PROBE_ROW_BYTES", 1)
    sc = spark.sparkContext
    group = f"file-proof-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert bounded_arrow(df, 1, file_rows=True) is None
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # without the proof the limit collect decides
        assert bounded_arrow(df, 1) is None
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setJobGroup(None, None)
    monkeypatch.setattr(LR, "_PROBE_ROW_BYTES", 512)
    assert bounded_arrow(df, 40, file_rows=True).num_rows == 40


HELD_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), True), T.StructField("s", T.StringType(), True)]
)
HELD_INPUTS = {
    "empty": [[], []],
    "all_null": [[None] * 4, [None] * 4],
    "duplicate_rows": [[7, 7, 7, 8], ["x", "x", "x", None]],
    "distinct": [list(range(300)), [f"s{i}" for i in range(300)]],
}


def spark_count(df):
    """``df``'s count as Spark computes it (a projection is a plain
    DataFrame with the same rows)."""
    return df.select(*df.columns).count()


def test_held_count_equals_spark_count(spark):
    for name, columns in HELD_INPUTS.items():
        df = local_dataframe(spark, columns, HELD_SCHEMA)
        want = spark_count(df)
        assert want == len(columns[0]), name
        assert df.count() == want, name
        assert df.isEmpty() == (want == 0) == df.select(*df.columns).isEmpty(), name
        # an Arrow table in, not value lists
        arrow = pa.table(columns, schema=to_arrow_schema(HELD_SCHEMA))
        tbl = local_dataframe(spark, arrow, HELD_SCHEMA)
        assert tbl.count() == want and tbl.isEmpty() == (want == 0), name


def test_held_count_above_local_relation_threshold(spark):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        for name, columns in HELD_INPUTS.items():
            df = local_dataframe(spark, columns, HELD_SCHEMA)
            if columns[0]:
                assert "LocalTableScan" not in plan_and_lineage(df), name
            assert df.count() == spark_count(df) == len(columns[0]), name
            assert df.isEmpty() == (not columns[0]), name
    finally:
        spark.conf.set(key, old)


def test_transformations_drop_the_held_count(spark):
    df = local_dataframe(spark, HELD_INPUTS["duplicate_rows"], HELD_SCHEMA)
    assert type(df) is not DataFrame and isinstance(df, DataFrame)
    derived = {
        "where": (df.where(F.col("id") == 8), 1),
        "select": (df.select("s"), 4),
        "distinct": (df.distinct(), 2),
        "alias": (df.alias("a"), 4),
        "limit": (df.limit(2), 2),
        "join": (df.alias("a").join(df.alias("b"), "id"), 10),
        "union": (df.union(df), 8),
    }
    for name, (out, rows) in derived.items():
        assert type(out) is DataFrame, name
        assert out.count() == rows, name
    # an empty result of a non-empty frame is not empty by the held count
    assert df.where(F.col("id") < 0).isEmpty()


def test_persist_keeps_the_held_count(spark):
    df = local_dataframe(spark, HELD_INPUTS["duplicate_rows"], HELD_SCHEMA)
    try:
        assert df.persist() is df and df.cache() is df
        assert df.is_cached
        assert df.count() == spark_count(df) == 4
        assert df.collect() == df.select(*df.columns).collect()
    finally:
        assert df.unpersist() is df
    assert df.count() == 4
