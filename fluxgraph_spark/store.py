"""Driver-side SCD2 row store backing the mutable write path.

The reference auto-commits one Datomic transaction per graph mutation
(supportsTransactions=false, FluxGraph.java:63; thread-local datom buffer
flushed per op, FluxGraph.java:32-36, 325-340).  Per-element writes are
inherently row-at-a-time, so the engine keeps the *write path* on the
driver (cheap dict updates, exact reference semantics) and materializes
Spark DataFrames lazily for the *read/analytics path* — the scale story
for writes at 100 TB is the batch path (`TemporalGraph.from_dataframes` /
`operators.temporal.scd2_upsert`), not one-vertex-at-a-time CRUD.

Time-travel reads are indexed, so they cost what the answer touches:

* per element, the row positions and their ``tx_from`` values (append
  order == tx order): ``version_at`` reads the newest row for the current
  snapshot and bisects for a pinned one, and chain steps move one
  position;
* per vertex, every edge ever incident, besides the open-edge adjacency:
  an as-of ``get_edges`` checks only the vertex's own edges.

DataFrames are Arrow local relations (``local_relation.local_dataframe``:
a ``LocalTableScan``, no Python worker per action), rebuilt only when the
store has mutated since the last build (generation counter), so repeated
reads are free.  A snapshot view ships only the rows visible at its
checkpoint (``iter_visible``), under the full-history schema: property
columns come from a per-kind registry filled as versions are appended,
so a column that is all NULL at the snapshot stays.
"""

from __future__ import annotations

import datetime
from bisect import bisect_left, bisect_right
from typing import Any, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

from . import model as M
from .local_relation import local_dataframe


class RowVersion(dict):
    """One SCD2 version row.  Keys: id, tx_from, tx_to, (src, dst, label
    for edges), props (mangled-column -> value)."""


class LocalStore:
    """Rows per kind in append order.  An element's rows are appended in
    tx order, and a row is closed only while it is the element's newest,
    at the tx that opens the next row or deletes the element — so at any
    tx only the newest row with ``tx_from <= tx`` can be visible."""

    def __init__(self) -> None:
        self.vertices: list[RowVersion] = []
        self.edges: list[RowVersion] = []
        self.tx_log: list[dict[str, Any]] = []
        # element id -> row indices (append order == tx order), and the
        # tx_from of each of those rows; keys in first-appearance order
        self._v_index: dict[int, list[int]] = {}
        self._e_index: dict[int, list[int]] = {}
        self._v_tx_from: dict[int, list[int]] = {}
        self._e_tx_from: dict[int, list[int]] = {}
        # adjacency over *currently open* edges: vertex id -> set of edge ids
        self._out: dict[int, set[int]] = {}
        self._in: dict[int, set[int]] = {}
        # every edge ever incident: vertex id -> edge ids, first-appearance order
        self._out_all: dict[int, list[int]] = {}
        self._in_all: dict[int, list[int]] = {}
        self._next_id = 1
        self._next_tx = 1
        # every property column each kind's versions have carried
        self._prop_cols: dict[str, set[str]] = {M.VERTEX_KIND: set(), M.EDGE_KIND: set()}
        self.generation = 0
        # full-history relations per kind: (generation, df)
        self._df_cache: dict[str, tuple[int, DataFrame]] = {}
        # snapshot views per kind: (generation, tx, df)
        self._view_cache: dict[str, tuple[int, Optional[int], DataFrame]] = {}

    # -- id / tx allocation -------------------------------------------------

    def new_element_id(self) -> int:
        i = self._next_id
        self._next_id += 1
        return i

    def new_tx(self, tx_time: datetime.datetime) -> int:
        t = self._next_tx
        self._next_tx += 1
        self.generation += 1
        return t

    @property
    def max_tx(self) -> int:
        return self._next_tx - 1

    # -- row access ---------------------------------------------------------

    def _rows(self, kind: str) -> list[RowVersion]:
        return self.vertices if kind == M.VERTEX_KIND else self.edges

    def _index(self, kind: str) -> dict[int, list[int]]:
        return self._v_index if kind == M.VERTEX_KIND else self._e_index

    def _tx_from(self, kind: str) -> dict[int, list[int]]:
        return self._v_tx_from if kind == M.VERTEX_KIND else self._e_tx_from

    def history(self, kind: str, element_id: int) -> list[RowVersion]:
        rows = self._rows(kind)
        return [rows[i] for i in self._index(kind).get(element_id, [])]

    def version_at(self, kind: str, element_id: int, tx: Optional[int]) -> Optional[RowVersion]:
        """Visible version at snapshot ``tx`` (None = current): the newest
        row if it is open, else the newest row opened at or before ``tx``
        if it is still open at ``tx``."""
        idxs = self._index(kind).get(element_id)
        if not idxs:
            return None
        rows = self._rows(kind)
        if tx is None:
            row = rows[idxs[-1]]
            return row if row["tx_to"] is None else None  # closed => deleted
        k = bisect_right(self._tx_from(kind)[element_id], tx) - 1
        if k < 0:
            return None
        row = rows[idxs[k]]
        return row if row["tx_to"] is None or row["tx_to"] > tx else None

    def chain_step(
        self, kind: str, element_id: int, tx_from: int, forward: bool
    ) -> Optional[tuple[RowVersion, bool]]:
        """The row after (``forward``) or before the version opened at
        ``tx_from`` in the element's chain, and whether it is the newest
        row; None at either end."""
        txs = self._tx_from(kind).get(element_id, [])
        k = bisect_right(txs, tx_from) if forward else bisect_left(txs, tx_from) - 1
        if not 0 <= k < len(txs):
            return None
        return self._rows(kind)[self._index(kind)[element_id][k]], k == len(txs) - 1

    def append_version(self, kind: str, row: RowVersion) -> None:
        rows = self._rows(kind)
        eid = row["id"]
        idxs = self._index(kind).get(eid)
        if idxs is None:
            idxs = self._index(kind)[eid] = []
            self._tx_from(kind)[eid] = []
            if kind == M.EDGE_KIND:
                self._out_all.setdefault(row["src"], []).append(eid)
                self._in_all.setdefault(row["dst"], []).append(eid)
        idxs.append(len(rows))
        self._tx_from(kind)[eid].append(row["tx_from"])
        rows.append(row)
        self._prop_cols[kind].update(row["props"])
        if kind == M.EDGE_KIND:
            self._out.setdefault(row["src"], set()).add(eid)
            self._in.setdefault(row["dst"], set()).add(eid)

    def close_version(self, kind: str, element_id: int, tx: int) -> Optional[RowVersion]:
        row = self.version_at(kind, element_id, None)
        if row is not None:
            row["tx_to"] = tx
        return row

    def retire_edge(self, edge_row: RowVersion) -> None:
        self._out.get(edge_row["src"], set()).discard(edge_row["id"])
        self._in.get(edge_row["dst"], set()).discard(edge_row["id"])

    def log_tx(
        self,
        tx_id: int,
        tx_time: datetime.datetime,
        element_id: int,
        prev_tx_id: Optional[int],
        kind: str,
    ) -> None:
        self.tx_log.append(
            {
                "tx_id": tx_id,
                "tx_time": tx_time,
                "element_id": element_id,
                "prev_tx_id": prev_tx_id,
                "kind": kind,
            }
        )

    # -- adjacency ----------------------------------------------------------

    def out_edge_ids(self, vertex_id: int) -> set[int]:
        """Open out-edges (current snapshot)."""
        return self._out.get(vertex_id, set())

    def in_edge_ids(self, vertex_id: int) -> set[int]:
        return self._in.get(vertex_id, set())

    def incident_edge_ids(self, vertex_id: int, outgoing: bool, incoming: bool) -> list[int]:
        """Every edge ever incident to the vertex as its source and/or
        target, in first-appearance order; a self-loop once.  Historical
        reads filter these with ``version_at``."""
        outs = self._out_all.get(vertex_id, []) if outgoing else []
        ins = self._in_all.get(vertex_id, []) if incoming else []
        if not (outs and ins):
            return list(outs or ins)
        first_row = self._e_index
        return sorted(set(outs).union(ins), key=lambda e: first_row[e][0])

    # -- iteration ----------------------------------------------------------

    def iter_visible(self, kind: str, tx: Optional[int]) -> Iterator[RowVersion]:
        """Visible versions at ``tx``, in element first-appearance order."""
        for eid in list(self._index(kind)):
            vis = self.version_at(kind, eid, tx)
            if vis is not None:
                yield vis

    # -- property columns ---------------------------------------------------

    def prop_columns(self, kind: str) -> list[str]:
        """Every property column any version of ``kind`` has carried."""
        return sorted(self._prop_cols[kind])

    # -- DataFrame materialization ------------------------------------------

    def to_dataframe(self, spark: SparkSession, kind: str) -> DataFrame:
        """Full SCD2 history of ``kind``."""
        cached = self._df_cache.get(kind)
        if cached is not None and cached[0] == self.generation:
            return cached[1]
        df = self._rows_dataframe(spark, kind, self._rows(kind))
        self._df_cache[kind] = (self.generation, df)
        return df

    def snapshot_dataframe(self, spark: SparkSession, kind: str, tx: Optional[int]) -> DataFrame:
        """The versions of ``kind`` visible at snapshot ``tx`` (None =
        current), under the full-history schema."""
        cached = self._view_cache.get(kind)
        if cached is not None and cached[:2] == (self.generation, tx):
            return cached[2]
        df = self._rows_dataframe(spark, kind, list(self.iter_visible(kind, tx)))
        self._view_cache[kind] = (self.generation, tx, df)
        return df

    def _rows_dataframe(self, spark: SparkSession, kind: str, rows: list[RowVersion]) -> DataFrame:
        props = self.prop_columns(kind)
        if kind == M.VERTEX_KIND:
            schema = M.vertex_schema(props)
            base = M.VERTEX_BASE_COLS
        else:
            schema = M.edge_schema(props)
            base = M.EDGE_BASE_COLS
        columns = [[row[b] for row in rows] for b in base]
        columns += [[row["props"].get(c) for row in rows] for c in props]
        return local_dataframe(spark, columns, schema)

    def tx_log_dataframe(self, spark: SparkSession) -> DataFrame:
        cached = self._df_cache.get("tx_log")
        if cached is not None and cached[0] == self.generation:
            return cached[1]
        columns = [[r[f] for r in self.tx_log] for f in M.TX_LOG_SCHEMA.names]
        df = local_dataframe(spark, columns, M.TX_LOG_SCHEMA)
        self._df_cache["tx_log"] = (self.generation, df)
        return df
