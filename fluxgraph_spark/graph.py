"""TemporalGraph — the engine's graph object (reference: FluxGraph.java).

One ``TemporalGraph`` ≈ one FluxGraph database: a pair of SCD2-versioned
element tables (vertices, edges) plus a transaction log, with

* auto-commit per mutation (reference supportsTransactions=false,
  FluxGraph.java:63; thread-local buffer flushed per op, :325-340),
* whole-graph as-of time travel (setCheckpointTime, FluxGraph.java:225-243),
* backdated writes (setTransactionTime, FluxGraph.java:246-248),
* per-element version chains where edge mutations bump BOTH endpoint
  vertices (FluxGraph.java:156-157, 362-363) and vertex removal cascades
  to incident edges (FluxGraph.java:371-387),
* graph/element difference (FluxGraph.java:251-280).

Session state (checkpoint/transaction time) lives on the instance — the
reference uses ThreadLocals (FluxGraph.java:32-46) only because the JVM
API is thread-shared; one engine instance per logical session here.

Scale note: per-element CRUD is a driver-side row store (see store.py).
The 100 TB path is ``from_dataframes`` (bulk parquet load, SCD2 columns
already present or defaulted) + the set-at-a-time DataFrame operators in
``fluxgraph_spark.operators`` — those never touch the driver-side store.
"""

from __future__ import annotations

import datetime
from typing import Any, Iterator, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import model as M
from .elements import BOTH, IN, OUT, FluxSparkEdge, FluxSparkVertex, TimeAwareElement
from .store import LocalStore, RowVersion
from .tx_index import TxTimeIndex

Element = Union[FluxSparkVertex, FluxSparkEdge]


class WorkingSet:
    """Explicit sets of vertex + edge ids to diff (reference
    WorkingSet.java:10-34)."""

    def __init__(
        self,
        vertex_ids: Sequence[int] = (),
        edge_ids: Sequence[int] = (),
    ) -> None:
        self.vertex_ids = list(vertex_ids)
        self.edge_ids = list(edge_ids)

    def add_vertex(self, vertex_id: int) -> None:
        self.vertex_ids.append(vertex_id)

    def add_edge(self, edge_id: int) -> None:
        self.edge_ids.append(edge_id)


FEATURES = {
    # Blueprints feature contract (reference FluxGraph.java:50-83)
    "supportsDuplicateEdges": True,
    "supportsSelfLoops": True,
    "isPersistent": False,
    "supportsVertexIteration": True,
    "supportsEdgeIteration": True,
    "ignoresSuppliedIds": True,
    "supportsVertexProperties": True,
    "supportsEdgeProperties": True,
    "supportsTransactions": False,
    "supportsKeyIndices": True,
    "supportsVertexKeyIndex": True,
    "supportsEdgeKeyIndex": True,
    "supportsThreadedTransactions": False,
    "supportsIndices": False,
    "supportsSerializableObjectProperty": False,
    "supportsPrimitiveArrayProperty": False,
    "supportsUniformListProperty": False,
    "supportsMixedListProperty": False,
    "supportsMapProperty": False,
}


class TemporalGraph:
    def __init__(self, spark: SparkSession, store: Optional[LocalStore] = None):
        self.spark = spark
        self._store = store if store is not None else LocalStore()
        self._checkpoint_tx: Optional[int] = None
        self._transaction_time: Optional[datetime.datetime] = None
        self._indexed_keys: dict[str, set[str]] = {M.VERTEX_KIND: set(), M.EDGE_KIND: set()}
        self._tx_times: dict[int, datetime.datetime] = {}
        self._tx_index = TxTimeIndex()
        self.features = dict(FEATURES)
        self.read_only = False

    # ------------------------------------------------------------------ #
    # lifecycle (S1-S4)                                                  #
    # ------------------------------------------------------------------ #

    @classmethod
    def create(cls, spark: SparkSession) -> "TemporalGraph":
        return cls(spark)

    @staticmethod
    def from_dataframes(
        spark: SparkSession,
        vertices: DataFrame,
        edges: DataFrame,
        tx_log: Optional[DataFrame] = None,
    ):
        """Bulk/scale constructor: a read-only graph view over arbitrary
        vertex/edge DataFrames (SCD2 columns defaulted if absent) that
        plugs into the set-at-a-time operators without ever collecting to
        the driver.  This — not per-element CRUD — is the 100 TB path."""
        from .sources.parquet_io import DataFrameGraph

        return DataFrameGraph(spark, vertices, edges, tx_log)

    def shutdown(self) -> None:  # S3 — no-op (reference FluxGraph.java:119-121)
        pass

    def clear(self) -> None:
        """Remove every vertex, cascading all edges, in one batch
        (reference FluxGraph.java:306-312)."""
        self._check_writable()
        tx = self._begin_tx()
        for row in list(self._store.iter_visible(M.EDGE_KIND, None)):
            self._store.close_version(M.EDGE_KIND, row["id"], tx)
            self._store.retire_edge(row)
            self._store.log_tx(tx, self._tx_times[tx], row["id"], row["tx_from"], M.EDGE_KIND)
        for row in list(self._store.iter_visible(M.VERTEX_KIND, None)):
            self._store.close_version(M.VERTEX_KIND, row["id"], tx)
            self._store.log_tx(tx, self._tx_times[tx], row["id"], row["tx_from"], M.VERTEX_KIND)

    # ------------------------------------------------------------------ #
    # transactions                                                        #
    # ------------------------------------------------------------------ #

    def _check_writable(self) -> None:
        if self.read_only:
            raise RuntimeError("graph is read-only (immutable/as-of view)")

    def _begin_tx(self) -> int:
        """Auto-commit: every mutating public op allocates exactly one tx.
        Backdating applies the explicit transaction time (reference
        FluxGraph.java:325-340; FluxUtil.java:68-73)."""
        t = (
            self._transaction_time
            if self._transaction_time is not None
            else datetime.datetime.now()
        )
        tx = self._store.new_tx(t)
        self._tx_times[tx] = t
        self._tx_index.add(t, tx)
        return tx

    def _reset_tx_times(self, tx_times: dict[int, datetime.datetime]) -> None:
        """Adopt a whole tx id -> time map (rehydrate, difference graphs)."""
        self._tx_times = tx_times
        self._tx_index = TxTimeIndex((t, tx) for tx, t in tx_times.items())

    def _store_tx_time(self, tx: int) -> datetime.datetime:
        return self._tx_times[tx]

    def set_transaction_time(self, t: Optional[datetime.datetime]) -> None:
        """Backdate all subsequent writes (P2; reference
        FluxGraph.java:246-248).  Arbitrary out-of-order times are allowed,
        exactly as the reference allows; tx ids stay monotonic."""
        self._check_writable()
        self._transaction_time = t

    # ------------------------------------------------------------------ #
    # time travel (P1)                                                    #
    # ------------------------------------------------------------------ #

    def resolve_checkpoint(self, t: datetime.datetime) -> int:
        """max(tx_id) with tx_time <= t, by bisect over the graph's
        ``TxTimeIndex`` rather than the reference's all-transactions Java
        loop (FluxGraph.java:228-241).  Backdated, out-of-order tx times
        are indexed in time order, so no scan is needed."""
        return self._tx_index.resolve(t)

    def set_checkpoint_time(self, t: Optional[datetime.datetime]) -> None:
        self._checkpoint_tx = None if t is None else self.resolve_checkpoint(t)

    def as_of(self, t: datetime.datetime) -> "TemporalGraph":
        """Immutable whole-graph snapshot pinned to a date (S10; reference
        ImmutableFluxGraph(uri, Date), ImmutableFluxGraph.java:41-44)."""
        g = TemporalGraph(self.spark, self._store)
        g._tx_times = self._tx_times
        g._tx_index = self._tx_index
        g._checkpoint_tx = self.resolve_checkpoint(t)
        g.read_only = True
        return g

    # ------------------------------------------------------------------ #
    # element CRUD (C1-C6)                                                #
    # ------------------------------------------------------------------ #

    def add_vertex(self, _ignored_id: Any = None) -> FluxSparkVertex:
        """Supplied ids are ignored (reference ignoresSuppliedIds=true,
        FluxGraph.java:59, 173-184)."""
        self._check_writable()
        tx = self._begin_tx()
        vid = self._store.new_element_id()
        self._store.append_version(
            M.VERTEX_KIND,
            RowVersion(id=vid, tx_from=tx, tx_to=None, props={}),
        )
        self._store.log_tx(tx, self._tx_times[tx], vid, None, M.VERTEX_KIND)
        return FluxSparkVertex(self, vid)

    def add_edge(
        self,
        _ignored_id: Any,
        out_vertex: FluxSparkVertex,
        in_vertex: FluxSparkVertex,
        label: str,
    ) -> FluxSparkEdge:
        """New edge bumps BOTH endpoint vertex versions (reference
        FluxGraph.java:148-165)."""
        self._check_writable()
        if label is None:
            raise ValueError("edge label may not be null")
        tx = self._begin_tx()
        eid = self._store.new_element_id()
        self._store.append_version(
            M.EDGE_KIND,
            RowVersion(
                id=eid,
                src=out_vertex.id,
                dst=in_vertex.id,
                label=label,
                tx_from=tx,
                tx_to=None,
                props={},
            ),
        )
        self._store.log_tx(tx, self._tx_times[tx], eid, None, M.EDGE_KIND)
        self._bump_vertex(out_vertex.id, tx)
        self._bump_vertex(in_vertex.id, tx)
        return FluxSparkEdge(self, eid)

    def remove_edge(self, edge: FluxSparkEdge) -> None:
        """Close the edge version and bump both endpoints (reference
        FluxGraph.java:168-170, 353-369)."""
        self._check_writable()
        tx = self._begin_tx()
        self._remove_edge_in_tx(edge.id, tx)

    def remove_vertex(self, vertex: FluxSparkVertex) -> None:
        """Cascade-remove all incident edges in BOTH directions, then the
        vertex itself, in one batch (reference FluxGraph.java:371-387)."""
        self._check_writable()
        tx = self._begin_tx()
        incident = self._store.out_edge_ids(vertex.id) | self._store.in_edge_ids(vertex.id)
        for eid in sorted(incident):
            self._remove_edge_in_tx(eid, tx)
        row = self._store.close_version(M.VERTEX_KIND, vertex.id, tx)
        if row is not None:
            self._store.log_tx(tx, self._tx_times[tx], vertex.id, row["tx_from"], M.VERTEX_KIND)

    def _remove_edge_in_tx(self, edge_id: int, tx: int) -> None:
        row = self._store.close_version(M.EDGE_KIND, edge_id, tx)
        if row is None:
            return
        self._store.retire_edge(row)
        self._store.log_tx(tx, self._tx_times[tx], edge_id, row["tx_from"], M.EDGE_KIND)
        self._bump_vertex(row["src"], tx)
        self._bump_vertex(row["dst"], tx)

    def _bump_vertex(self, vertex_id: int, tx: int) -> None:
        """Close + reopen the endpoint vertex version so topology changes
        appear in its chain (reference :add-transaction-info db fn,
        FluxGraph.java:468-476, called at :156-157, 362-363).  No-op if the
        vertex was already touched in this tx (self-loops, cascades)."""
        cur = self._store.version_at(M.VERTEX_KIND, vertex_id, None)
        if cur is None or cur["tx_from"] == tx:
            return
        prev_tx = cur["tx_from"]
        cur["tx_to"] = tx
        self._store.append_version(
            M.VERTEX_KIND,
            RowVersion(id=vertex_id, tx_from=tx, tx_to=None, props=dict(cur["props"])),
        )
        self._store.log_tx(tx, self._tx_times[tx], vertex_id, prev_tx, M.VERTEX_KIND)

    # -- property writes (C5, C6; reference FluxElement.java:100-167) --------

    def _set_property(
        self, element: TimeAwareElement, key: str, value: Any, value_type: Optional[str]
    ) -> None:
        self._check_writable()
        suffix = value_type if value_type is not None else M.infer_type_suffix(value)
        col = M.mangle(key, suffix)
        stored = M.normalize_value(value, suffix)
        cur = self._store.version_at(element.kind, element.id, None)
        tx = self._begin_tx()
        prev_tx = cur["tx_from"]
        cur["tx_to"] = tx
        props = dict(cur["props"])
        # Same key with a different value type is a different attribute:
        # retract the old-typed fact so at any instant a key has at most one
        # live value (reference FluxElement.java:123-130).
        for other in list(props):
            name, sfx = M.demangle(other)
            if name == key and other != col:
                props[other] = None
        props[col] = stored
        new = dict(cur)
        new["tx_from"], new["tx_to"], new["props"] = tx, None, props
        self._store.append_version(element.kind, RowVersion(new))
        self._store.log_tx(tx, self._tx_times[tx], element.id, prev_tx, element.kind)

    def _remove_property(self, element: TimeAwareElement, key: str) -> Any:
        self._check_writable()
        cur = self._store.version_at(element.kind, element.id, None)
        old_col, old_val = None, None
        for col, val in cur["props"].items():
            if M.demangle(col)[0] == key and val is not None:
                old_col, old_val = col, val
                break
        if old_col is None:
            return None  # nothing to retract — no version bump
        tx = self._begin_tx()
        prev_tx = cur["tx_from"]
        cur["tx_to"] = tx
        props = dict(cur["props"])
        props[old_col] = None
        new = dict(cur)
        new["tx_from"], new["tx_to"], new["props"] = tx, None, props
        self._store.append_version(element.kind, RowVersion(new))
        self._store.log_tx(tx, self._tx_times[tx], element.id, prev_tx, element.kind)
        return old_val

    # ------------------------------------------------------------------ #
    # reads (R1-R11)                                                      #
    # ------------------------------------------------------------------ #

    def get_vertex(self, vertex_id: Any) -> Optional[FluxSparkVertex]:
        """Null id throws; unparsable id returns None (reference
        FluxGraph.java:187-198)."""
        if vertex_id is None:
            raise ValueError("vertex id may not be null")
        try:
            vid = int(vertex_id)
        except (TypeError, ValueError):
            return None
        if self._store.version_at(M.VERTEX_KIND, vid, self._checkpoint_tx) is None:
            return None
        return FluxSparkVertex(self, vid, self._checkpoint_tx)

    def get_edge(self, edge_id: Any) -> Optional[FluxSparkEdge]:
        if edge_id is None:
            raise ValueError("edge id may not be null")
        try:
            eid = int(edge_id)
        except (TypeError, ValueError):
            return None
        if self._store.version_at(M.EDGE_KIND, eid, self._checkpoint_tx) is None:
            return None
        return FluxSparkEdge(self, eid, self._checkpoint_tx)

    def get_vertices(
        self, key: Optional[str] = None, value: Any = None
    ) -> Iterator[FluxSparkVertex]:
        """All-vertices scan (R3) or lookup by (key, value) equality on the
        value's own type (R5; reference FluxIndex.java:60-87 resolves the
        typed attribute from the value class)."""
        for row in self._store.iter_visible(M.VERTEX_KIND, self._checkpoint_tx):
            if key is not None and not _row_matches(row, key, value):
                continue
            yield FluxSparkVertex(self, row["id"], self._checkpoint_tx)

    def get_edges(
        self, key: Optional[str] = None, value: Any = None
    ) -> Iterator[FluxSparkEdge]:
        """All-edges scan (R4) or property lookup (R6); ``label`` is
        first-class (reference FluxGraph.java:143-145, FluxIndex.java:63-68)."""
        for row in self._store.iter_visible(M.EDGE_KIND, self._checkpoint_tx):
            if key is not None:
                if key == "label":
                    if row["label"] != value:
                        continue
                elif not _row_matches(row, key, value):
                    continue
            yield FluxSparkEdge(self, row["id"], self._checkpoint_tx)

    def count(self, kind: str, key: str, value: Any) -> int:
        """Indexed count (R7; reference FluxIndex.java:94-115)."""
        if kind == M.VERTEX_KIND:
            return sum(1 for _ in self.get_vertices(key, value))
        return sum(1 for _ in self.get_edges(key, value))

    # -- traversal support for element wrappers (T1-T2) ----------------------

    def _vertex_edges(
        self, vertex: FluxSparkVertex, direction: str, labels: Sequence[str]
    ) -> list[FluxSparkEdge]:
        tx = vertex._effective_tx()
        out: list[FluxSparkEdge] = []
        if tx is None:
            # current snapshot: adjacency sets
            ids: list[int] = []
            if direction in (OUT, BOTH):
                ids.extend(sorted(self._store.out_edge_ids(vertex.id)))
            if direction in (IN, BOTH):
                ids.extend(sorted(self._store.in_edge_ids(vertex.id)))
            for eid in ids:
                row = self._store.version_at(M.EDGE_KIND, eid, None)
                if row is not None and (not labels or row["label"] in labels):
                    out.append(FluxSparkEdge(self, eid, vertex.pinned_tx))
        else:
            # historical snapshot: the vertex's all-time incident edges
            ids = self._store.incident_edge_ids(
                vertex.id, direction in (OUT, BOTH), direction in (IN, BOTH)
            )
            for eid in ids:
                row = self._store.version_at(M.EDGE_KIND, eid, tx)
                if row is not None and (not labels or row["label"] in labels):
                    out.append(FluxSparkEdge(self, eid, tx))
        return out

    # ------------------------------------------------------------------ #
    # key indices (I1-I3) — manifest only: predicate pushdown makes the   #
    # physical index a no-op in Spark (reference FluxGraph.java:288-300)  #
    # ------------------------------------------------------------------ #

    def create_key_index(self, key: str, kind: str) -> None:
        self._indexed_keys[kind].add(key)

    def drop_key_index(self, key: str, kind: str) -> None:
        self._indexed_keys[kind].discard(key)

    def get_indexed_keys(self, kind: str) -> set[str]:
        return set(self._indexed_keys[kind])

    def index_put(self, *_args: Any) -> None:
        raise NotImplementedError("manual index mutation is not supported")  # I5

    index_remove = index_put
    index_query = index_put

    # ------------------------------------------------------------------ #
    # DataFrame views (the analytics/scale surface)                       #
    # ------------------------------------------------------------------ #

    def vertices_df(self, snapshot: bool = True) -> DataFrame:
        """Vertices as a DataFrame; ``snapshot=True`` holds only the rows
        visible at the session checkpoint (or current), ``snapshot=False``
        the full SCD2 history.  Both carry the full-history schema."""
        return self._store_df(M.VERTEX_KIND, snapshot)

    def edges_df(self, snapshot: bool = True) -> DataFrame:
        return self._store_df(M.EDGE_KIND, snapshot)

    def _store_df(self, kind: str, snapshot: bool) -> DataFrame:
        if snapshot:
            return self._store.snapshot_dataframe(self.spark, kind, self._checkpoint_tx)
        return self._store.to_dataframe(self.spark, kind)

    def tx_log_df(self) -> DataFrame:
        return self._store.tx_log_dataframe(self.spark)

    def sql(self, query: str, snapshot: bool = True) -> DataFrame:
        """Run Spark SQL over the graph: registers temp views ``vertices``
        / ``edges`` (session-checkpoint snapshot applied when
        ``snapshot=True``) and ``tx_log``, then executes the query.  The
        reference has no SQL dialect — this is the Spark-native bonus
        surface its Datalog internals map to."""
        self.vertices_df(snapshot).createOrReplaceTempView("vertices")
        self.edges_df(snapshot).createOrReplaceTempView("edges")
        self.tx_log_df().createOrReplaceTempView("tx_log")
        return self.spark.sql(query)

    # ------------------------------------------------------------------ #
    # difference (P10, P11, S9)                                           #
    # ------------------------------------------------------------------ #

    def difference(self, *args):
        from .operators import diff as D

        if len(args) == 3:
            working_set, t1, t2 = args
            return D.graph_difference(self, working_set, t1, t2)
        if len(args) == 2:
            e1, e2 = args
            return D.element_difference(self, e1, e2)
        raise TypeError("difference(working_set, t1, t2) or difference(elem1, elem2)")


def _row_matches(row: RowVersion, key: str, value: Any) -> bool:
    """Typed equality: the lookup resolves the attribute from the value's
    type, so a long-typed probe never matches a string-typed fact
    (reference FluxIndex.java:60-87, FluxUtil.createKey)."""
    try:
        col = M.mangle(key, M.infer_type_suffix(value))
    except (M.UnsupportedTypeError, ValueError):
        return False
    stored = row["props"].get(col)
    return stored is not None and stored == M.normalize_value(value, M.infer_type_suffix(value))
