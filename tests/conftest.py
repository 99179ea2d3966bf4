import datetime
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("fluxgraph_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture
def process_zone(monkeypatch):
    """A process-local zone (New York) that differs from the session
    zones the tests set (UTC, Kolkata): naive datetimes are read in the
    process zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture()
def toy_graph(spark):
    """The TinkerPop classic graph (FIXTURES.md §1): 6 vertices, 6 edges."""
    from fluxgraph_spark import TemporalGraph

    g = TemporalGraph.create(spark)
    marko = g.add_vertex()
    vadas = g.add_vertex()
    lop = g.add_vertex()
    josh = g.add_vertex()
    ripple = g.add_vertex()
    peter = g.add_vertex()
    marko.set_property("name", "marko"); marko.set_property("age", 29)
    vadas.set_property("name", "vadas"); vadas.set_property("age", 27)
    lop.set_property("name", "lop"); lop.set_property("lang", "java")
    josh.set_property("name", "josh"); josh.set_property("age", 32)
    ripple.set_property("name", "ripple"); ripple.set_property("lang", "java")
    peter.set_property("name", "peter"); peter.set_property("age", 35)
    e1 = g.add_edge(None, marko, vadas, "knows"); e1.set_property("weight", 0.5, "float")
    e2 = g.add_edge(None, marko, josh, "knows"); e2.set_property("weight", 1.0, "float")
    e3 = g.add_edge(None, marko, lop, "created"); e3.set_property("weight", 0.4, "float")
    e4 = g.add_edge(None, josh, ripple, "created"); e4.set_property("weight", 1.0, "float")
    e5 = g.add_edge(None, josh, lop, "created"); e5.set_property("weight", 0.4, "float")
    e6 = g.add_edge(None, peter, lop, "created"); e6.set_property("weight", 0.2, "float")
    vs = dict(marko=marko, vadas=vadas, lop=lop, josh=josh, ripple=ripple, peter=peter)
    es = dict(e1=e1, e2=e2, e3=e3, e4=e4, e5=e5, e6=e6)
    return g, vs, es


TS0 = datetime.datetime(2020, 1, 1)


def ts(n: int) -> datetime.datetime:
    return TS0 + datetime.timedelta(days=n)
