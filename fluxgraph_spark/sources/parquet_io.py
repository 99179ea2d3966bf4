"""Parquet persistence + the bulk DataFrame-backed graph.

``save_graph_parquet``/``load_graph_parquet`` round-trip a TemporalGraph
(full SCD2 history + tx log) through parquet — the engine's durable
format, replacing the reference's Datomic storage (FluxGraph.java:85-111).

``DataFrameGraph`` is the 100 TB path: a read-only graph view over
arbitrary vertex/edge DataFrames (e.g. straight off a parquet lake) that
plugs into the set-at-a-time operators (traversal, temporal windows, fact
diffs) without ever collecting to the driver.  At scale, write the
vertex/edge tables partitioned/bucketed by ``id`` (and, for as-of-heavy
workloads, partitioned by a tx_from time bucket) so joins co-locate and
snapshots prune partitions.
"""

from __future__ import annotations

import datetime
import functools
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import model as M
from ..graph import TemporalGraph
from ..local_relation import bounded_arrow
from ..store import LocalStore, RowVersion
from ..tx_index import TxTimeIndex

# Distinct tx times a DataFrameGraph indexes on the driver.  A tx_log
# with more resolves each checkpoint with one Spark aggregate instead.
TX_INDEX_MAX_TIMES = 1 << 17


def save_graph_parquet(graph: TemporalGraph, path: str) -> None:
    """Write full history (not just the snapshot) + tx log."""
    graph.vertices_df(snapshot=False).write.mode("overwrite").parquet(
        os.path.join(path, "vertices")
    )
    graph.edges_df(snapshot=False).write.mode("overwrite").parquet(
        os.path.join(path, "edges")
    )
    graph.tx_log_df().write.mode("overwrite").parquet(os.path.join(path, "tx_log"))


def load_graph_parquet(
    spark: SparkSession, path: str, max_rows: int = 1_000_000
) -> TemporalGraph:
    """Rehydrate into a mutable TemporalGraph (driver-side store — suitable
    for graphs the CRUD path handles; keep huge graphs in DataFrameGraph).

    Guard against misuse at scale: this path collects every version row
    to the driver, so tables above ``max_rows`` raise with a pointer to
    ``DataFrameGraph`` instead of OOMing the driver."""
    vdf = spark.read.parquet(os.path.join(path, "vertices"))
    edf = spark.read.parquet(os.path.join(path, "edges"))
    ldf = spark.read.parquet(os.path.join(path, "tx_log"))
    # the tx_log counts too: one tx per mutation means it can dwarf the
    # live version rows (compaction shrinks versions, never the log)
    total = vdf.count() + edf.count() + ldf.count()
    if total > max_rows:
        raise ValueError(
            f"{total} version+log rows at {path} exceeds max_rows={max_rows}; "
            "this rehydrate collects to the driver — use "
            "TemporalGraph.from_dataframes / DataFrameGraph for big graphs "
            "(or raise max_rows explicitly)"
        )
    v = vdf.collect()
    e = edf.collect()
    log = ldf.collect()

    store = LocalStore()
    g = TemporalGraph(spark, store)
    max_id = 0
    max_tx = 0
    for row in sorted(v, key=lambda r: (r[M.TX_FROM], r[M.ID])):
        d = row.asDict()
        props = {
            c: d[c] for c in d if M.is_property_column(c) and d[c] is not None
        }
        store.append_version(
            M.VERTEX_KIND,
            RowVersion(id=d[M.ID], tx_from=d[M.TX_FROM], tx_to=d[M.TX_TO], props=props),
        )
        max_id = max(max_id, d[M.ID])
        max_tx = max(max_tx, d[M.TX_FROM])
    for row in sorted(e, key=lambda r: (r[M.TX_FROM], r[M.ID])):
        d = row.asDict()
        props = {
            c: d[c] for c in d if M.is_property_column(c) and d[c] is not None
        }
        store.append_version(
            M.EDGE_KIND,
            RowVersion(
                id=d[M.ID], src=d[M.SRC], dst=d[M.DST], label=d[M.LABEL],
                tx_from=d[M.TX_FROM], tx_to=d[M.TX_TO], props=props,
            ),
        )
        if d[M.TX_TO] is not None:
            store.retire_edge(store._rows(M.EDGE_KIND)[-1])
        max_id = max(max_id, d[M.ID])
        max_tx = max(max_tx, d[M.TX_FROM])
    tx_times = {}
    for row in log:
        d = row.asDict()
        store.log_tx(d[M.TX_ID], d[M.TX_TIME], d[M.ELEMENT_ID], d[M.PREV_TX_ID], d[M.KIND])
        tx_times[d[M.TX_ID]] = d[M.TX_TIME]
        max_tx = max(max_tx, d[M.TX_ID])
    g._reset_tx_times(tx_times)
    store._next_id = max_id + 1
    store._next_tx = max_tx + 1
    return g


class DataFrameGraph:
    """Read-only graph over DataFrames (bulk/scale path).

    Accepts plain (id/src/dst/label) tables — SCD2 columns are defaulted
    if absent — or full history tables written by save_graph_parquet.

    Checkpoints resolve from a ``TxTimeIndex`` built once per graph, on
    the first ``set_checkpoint_time``, from one bounded collect of the
    tx_log's ``(tx_time, max tx_id)`` slice: the graph is a read-only
    view over the DataFrames it was given, so the slice cannot change.
    Past ``TX_INDEX_MAX_TIMES`` distinct times each call runs
    ``operators.temporal.resolve_checkpoint`` instead.
    """

    def __init__(
        self,
        spark: SparkSession,
        vertices: DataFrame,
        edges: DataFrame,
        tx_log: Optional[DataFrame] = None,
    ) -> None:
        self.spark = spark
        self._vertices = self._ensure_scd2(vertices)
        self._edges = self._ensure_scd2(edges)
        self._tx_log = tx_log
        self.read_only = True
        self._checkpoint_tx: Optional[int] = None

    @staticmethod
    def _ensure_scd2(df: DataFrame) -> DataFrame:
        if M.TX_FROM not in df.columns:
            df = df.withColumn(M.TX_FROM, F.lit(0).cast("long"))
        if M.TX_TO not in df.columns:
            df = df.withColumn(M.TX_TO, F.lit(None).cast("long"))
        return df

    def set_checkpoint_time(self, t: Optional[datetime.datetime]) -> None:
        if t is None:
            self._checkpoint_tx = None
            return
        if self._tx_log is None:
            raise ValueError("as-of requires a tx_log DataFrame")
        if self._tx_index is None:
            from ..operators.temporal import resolve_checkpoint

            self._checkpoint_tx = resolve_checkpoint(self._tx_log, t)
        else:
            self._checkpoint_tx = self._tx_index.resolve(T.TimestampType().toInternal(t))

    @functools.cached_property
    def _tx_index(self) -> Optional[TxTimeIndex]:
        """Epoch microseconds of each distinct tx time -> max tx id, or
        None past ``TX_INDEX_MAX_TIMES`` times.  Keys are what Spark
        compares in ``tx_time <= lit(t)``: the column cast to TIMESTAMP
        (a TIMESTAMP_NTZ column is read in the session zone) against the
        literal's instant, ``TimestampType.toInternal(t)``."""
        micros = F.unix_micros(F.col(M.TX_TIME).cast("timestamp"))
        tbl = bounded_arrow(
            self._tx_log.where(micros.isNotNull() & F.col(M.TX_ID).isNotNull())
            .groupBy(micros.alias("t"))
            .agg(F.max(M.TX_ID).alias("tx")),
            TX_INDEX_MAX_TIMES,
        )
        if tbl is None:
            return None
        return TxTimeIndex(zip(tbl.column("t").to_pylist(), tbl.column("tx").to_pylist()))

    def vertices_df(self, snapshot: bool = True) -> DataFrame:
        from ..operators.temporal import snapshot as snap

        return snap(self._vertices, self._checkpoint_tx) if snapshot else self._vertices

    def edges_df(self, snapshot: bool = True) -> DataFrame:
        from ..operators.temporal import snapshot as snap

        return snap(self._edges, self._checkpoint_tx) if snapshot else self._edges

    def tx_log_df(self) -> Optional[DataFrame]:
        return self._tx_log

    def sql(self, query: str, snapshot: bool = True) -> DataFrame:
        """Spark SQL over the bulk graph (same contract as
        TemporalGraph.sql)."""
        self.vertices_df(snapshot).createOrReplaceTempView("vertices")
        self.edges_df(snapshot).createOrReplaceTempView("edges")
        if self._tx_log is not None:
            self._tx_log.createOrReplaceTempView("tx_log")
        return self.spark.sql(query)
