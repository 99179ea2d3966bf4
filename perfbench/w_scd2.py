"""The durable temporal write path (Scd2ParquetTable over fsutil), run as
the order-status table inside graph_asof_olap.  Each change batch
commits through ``ingest`` (bucket copy-on-write, so commit cost grows
with the table); key-pruned as-of reads, transaction-time
``read_version`` and ``history`` run between commits, and ``vacuum``
closes each op cycle (a run is usually one cycle, so a rarer vacuum would
never be measured).

Every batch is also written as a compact parquet file (the user data);
as-of reads and version row counts are checked against DuckDB SQL over
those files."""

from __future__ import annotations

import datetime
import io
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import layers
from harness import Op, WriteMeter, dir_bytes

PARAMS = dict(gen.SCD2, n_buckets=8, keys_per_read=5)

CLASS = {"ingest": "write", "vacuum": "write", "as_of": "read",
         "read_version": "history", "history": "history"}


class State:
    pass


def batch_table(b: dict) -> pa.Table:
    return pa.table({"key": b["key"], "ts": b["ts"], "amount": b["amount"],
                     "status": b["status"]})


def setup(spark, seed: int, work: str) -> State:
    import duckdb
    from fluxgraph_spark.sources.scd2_table import Scd2ParquetTable

    st = State()
    st.spark, st.work, st.rng = spark, work, random.Random(seed * 7919 + 4)
    st.data = gen.scd2_batches(seed)
    st.changes_dir = os.path.join(work, "changes")
    os.makedirs(st.changes_dir)
    st.path = os.path.join(work, "table")
    st.table = Scd2ParquetTable(spark, st.path, ["key"], ts_col="ts",
                                n_buckets=PARAMS["n_buckets"])
    st.duck = duckdb.connect()
    st.files, st.rows_at, st.next_batch = [], {}, 0
    st.user_bytes = 0
    st.vacuumed_at = 0
    commit(st, st.next_batch)
    st.meter = WriteMeter(st.path)
    st.user_bytes = 0
    return st


def stage(st: State, i: int):
    """Write batch ``i`` as the user's parquet file; returns its DataFrame."""
    f = os.path.join(st.changes_dir, f"batch-{len(st.files)}.parquet")
    pq.write_table(batch_table(st.data["batches"][i]), f)
    st.user_bytes += os.path.getsize(f)
    return f, st.spark.read.parquet(f)


def commit(st: State, i: int) -> dict:
    f, df = stage(st, i)
    audit = st.table.ingest(df)
    record(st, f, i, audit)
    return audit


def record(st: State, f: str, i: int, audit: dict) -> None:
    st.files.append(f)
    prev = st.rows_at[max(st.rows_at)] if st.rows_at else 0
    st.rows_at[audit["version"]] = prev + len(st.data["batches"][i]["key"])
    st.next_batch += 1


def teardown(st: State) -> None:
    st.duck.close()
    shutil.rmtree(st.work, ignore_errors=True)


def finish(st: State) -> dict:
    st.meter.snapshot()
    on_disk = dir_bytes(st.path)[0]
    buf = io.BytesIO()
    pq.write_table(st.table.read().toArrow(), buf)
    return {"write_amp": st.meter.bytes_written / max(st.user_bytes, 1),
            "space_amp": on_disk / buf.tell(), "table_bytes": on_disk,
            "live_parquet_bytes": buf.tell()}


def duck_asof(st: State, t, keys) -> list:
    files = ", ".join(f"'{f}'" for f in st.files)
    sql = f"""SELECT key, amount, status FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC) AS rn
        FROM read_parquet([{files}]) WHERE ts <= ? AND key IN ({', '.join(map(str, keys))}))
        WHERE rn = 1 ORDER BY key"""
    return [tuple(r) for r in st.duck.execute(sql, [t]).fetchall()]


def make_op(st: State, name: str) -> Op:
    from pyspark.sql import functions as F

    rng, cls, table = st.rng, CLASS[name], st.table
    if name == "ingest":
        n_batches = len(st.data["batches"])
        i = 1 + (st.next_batch - 1) % (n_batches - 1)  # batch 0 is the initial load
        f, df = stage(st, i)

        def run():
            with layers.layer("scd2_table.ingest"):
                return table.ingest(df)

        def check(audit):
            record(st, f, i, audit)
            b, n = st.meter.snapshot()
            layers.count("scd2_table.ingest.calls")
            layers.count("scd2_table.ingest.bytes", b)
            layers.count("scd2_table.ingest.files", n)
            layers.count("scd2_table.ingest.buckets", audit["n_buckets_rewritten"])
            want = len(st.data["batches"][i]["key"])
            return None if audit["n_changes"] == want else \
                f"ingest: {audit['n_changes']} changes committed, {want} sent"

        return Op(cls, name, run, check)
    if name == "as_of":
        hot = st.data["hot"]
        keys = sorted({int(hot[min(int(rng.paretovariate(1.2)) - 1, len(hot) - 1)])
                       for _ in range(PARAMS["keys_per_read"])})
        span_s = (st.next_batch + 1) * PARAMS["window_s"]
        t = gen.T0 + datetime.timedelta(seconds=span_s * rng.random())

        def run():
            with layers.layer("scd2_table.as_of"):
                return [tuple(r) for r in table.as_of(t, keys=keys)
                        .select("key", "amount", "status").orderBy("key").collect()]

        return Op(cls, name, run, lambda r: _eq(r, duck_asof(st, t, keys), name))
    if name == "read_version":
        v = rng.choice([v for v in st.rows_at if v >= st.vacuumed_at])

        def run():
            with layers.layer("scd2_table.read_version"):
                return table.read_version(v).count()

        return Op(cls, name, run, lambda r: _eq(r, st.rows_at[v], name))
    if name == "history":
        def run():
            with layers.layer("scd2_table.history"):
                return tuple(table.history().agg(F.count(F.lit(1)), F.max("v"))
                             .collect()[0])

        return Op(cls, name, run, lambda r: _eq(r, (len(st.rows_at), max(st.rows_at)), name))
    # vacuum
    before = dir_bytes(st.path)[0]

    def run():
        with layers.layer("scd2_table.vacuum"):
            return table.vacuum()

    def check(_removed):
        st.vacuumed_at = max(st.rows_at)
        st.meter.snapshot()
        layers.count("scd2_table.vacuum.calls")
        layers.count("scd2_table.vacuum.bytes", before - dir_bytes(st.path)[0])
        return _eq(table.read().count(), st.rows_at[st.vacuumed_at], "vacuum: rows after")

    return Op(cls, name, run, check)


def _eq(got, want, name: str):
    return None if got == want else f"{name}: got {str(got)[:300]} want {str(want)[:300]}"
