"""TimeAware element wrappers — the reference's Blueprints element API.

Mirrors FluxElement / FluxVertex / FluxEdge and the TimeAware* interfaces
(reference: src/main/java/com/jnj/fluxgraph/FluxElement.java,
FluxVertex.java, FluxEdge.java; com/tinkerpop/blueprints/TimeAware*.java).

A wrapper is (graph, id, pinned_tx).  ``pinned_tx is None`` means "the
current version" (reference: ``database == null``, FluxElement.java:45-47);
otherwise the element is pinned to the snapshot at that transaction id
(reference: element bound to a historical ``Database`` value,
FluxElement.java:21-32).
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Iterator, Optional, TYPE_CHECKING

from . import model as M

if TYPE_CHECKING:
    from .graph import TemporalGraph

OUT = "out"
IN = "in"
BOTH = "both"


class TimeAwareElement:
    kind: str = ""

    def __init__(self, graph: "TemporalGraph", element_id: int, pinned_tx: Optional[int] = None):
        self.graph = graph
        self.id = element_id
        self.pinned_tx = pinned_tx

    # -- identity -----------------------------------------------------------

    def get_id(self) -> int:
        return self.id

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, TimeAwareElement)
            and self.kind == other.kind
            and self.id == other.id
            and self.time_id() == other.time_id()
        )

    def __hash__(self) -> int:
        return hash((self.kind, self.id))

    def __repr__(self) -> str:  # pragma: no cover
        pin = f"@tx{self.pinned_tx}" if self.pinned_tx is not None else ""
        return f"<{type(self).__name__} {self.id}{pin}>"

    # -- version row access --------------------------------------------------

    def _row(self):
        return self.graph._store.version_at(self.kind, self.id, self._effective_tx())

    def _require_row(self):
        row = self._row()
        if row is None:
            raise ValueError(f"{self.kind} {self.id} does not exist at this time")
        return row

    def _effective_tx(self) -> Optional[int]:
        """Element pin wins; otherwise the graph-level checkpoint applies
        (reference: getRawGraph() applies checkpointTime to every read,
        FluxGraph.java:217-222)."""
        if self.pinned_tx is not None:
            return self.pinned_tx
        return self.graph._checkpoint_tx

    # -- Blueprints property API (reference FluxElement.java:59-167) ---------

    def get_property(self, key: str) -> Any:
        """First live typed column whose demangled name matches
        (FluxElement.java:76-97)."""
        row = self._row()
        if row is None:
            return None
        for col, val in row["props"].items():
            name, _ = M.demangle(col)
            if name == key and val is not None:
                return val
        return None

    def get_property_keys(self) -> set[str]:
        row = self._row()
        if row is None:
            return set()
        return {M.demangle(c)[0] for c, v in row["props"].items() if v is not None}

    def set_property(self, key: str, value: Any, value_type: Optional[str] = None) -> None:
        self._validate_mutable()
        if key is None or key == "":
            raise ValueError("property key may not be empty")
        if key == "id":
            raise ValueError("property key may not be 'id'")
        if self.kind == M.EDGE_KIND and key == "label":
            raise ValueError("property key may not be 'label' on an edge")
        self.graph._set_property(self, key, value, value_type)

    def remove_property(self, key: str) -> Any:
        self._validate_mutable()
        return self.graph._remove_property(self, key)

    def _validate_mutable(self) -> None:
        """Mutation requires the current, non-deleted version
        (FluxElement.java:190-197 and the is-deleted check at 50-56)."""
        if not self.is_current_version():
            raise ValueError("it is not possible to modify a historical version of an element")
        if self.is_deleted():
            raise ValueError("it is not possible to modify a deleted element")

    # -- TimeAware API (reference TimeAwareElement.java) ----------------------

    def time_id(self) -> Optional[int]:
        """Max transaction that touched this element ≤ the pin — with SCD2
        rows this is just the visible version's tx_from (reference computes
        it with a recursive Datalog history query, FluxUtil.java:196-217)."""
        row = self._row()
        return None if row is None else row["tx_from"]

    def is_current_version(self) -> bool:
        return self.pinned_tx is None and self.graph._checkpoint_tx is None

    def is_deleted(self) -> bool:
        return self._row() is None

    def time_interval(self) -> tuple[datetime.datetime, datetime.datetime]:
        """Validity interval [tx_time(tx_from), tx_time(tx_to)); open end =
        MAX_TIME (reference FluxElement.java:142-152)."""
        row = self._require_row()
        start = self.graph._store_tx_time(row["tx_from"])
        end = (
            M.MAX_TIME
            if row["tx_to"] is None
            else self.graph._store_tx_time(row["tx_to"])
        )
        return (start, end)

    def _wrap(self, pinned_tx: Optional[int]) -> "TimeAwareElement":
        return type(self)(self.graph, self.id, pinned_tx)

    def previous_version(self) -> Optional["TimeAwareElement"]:
        """Predecessor version row (reference walks the tx-info linked list,
        FluxUtil.java:170-180; here: the row with the next-lower tx_from)."""
        row = self._row()
        if row is None:
            return None
        step = self.graph._store.chain_step(self.kind, self.id, row["tx_from"], False)
        if step is None:
            return None
        return self._wrap(step[0]["tx_from"])

    def next_version(self) -> Optional["TimeAwareElement"]:
        """Successor version; if the successor is the latest (open) version
        the element is re-wrapped as *current* (reference
        FluxUtil.java:183-194, FluxVertex.java:40-54)."""
        row = self._row()
        if row is None:
            return None
        step = self.graph._store.chain_step(self.kind, self.id, row["tx_from"], True)
        if step is None:
            return None
        nxt, newest = step
        if newest and nxt["tx_to"] is None:
            return self._wrap(None)
        return self._wrap(nxt["tx_from"])

    def previous_versions(
        self, filter_fn: Optional[Callable[["TimeAwareElement"], bool]] = None
    ) -> Iterator["TimeAwareElement"]:
        """Lazy backward chain walk, optionally filtered (reference
        FluxTimeIterable.java:41-105, TimeAwareFilter.java:16)."""
        cur = self.previous_version()
        while cur is not None:
            if filter_fn is None or filter_fn(cur):
                yield cur
            cur = cur.previous_version()

    def next_versions(
        self, filter_fn: Optional[Callable[["TimeAwareElement"], bool]] = None
    ) -> Iterator["TimeAwareElement"]:
        cur = self.next_version()
        while cur is not None:
            if filter_fn is None or filter_fn(cur):
                yield cur
            if cur.is_current_version():
                break
            cur = cur.next_version()

    # -- fact explosion (reference FluxElement.getFacts, :200-216) ------------

    def get_facts(self) -> set[tuple]:
        """Facts as (id, attr, value_str) triples; values stringified the way
        the reference does (entity.get(property).toString())."""
        row = self._require_row()
        facts = {(self.id, ":graph.element/type", f":graph.element.type/{self.kind}")}
        for col, val in row["props"].items():
            if val is not None:
                facts.add((self.id, col, _fact_str(val)))
        return facts


def _fact_str(value: Any) -> str:
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


class FluxSparkVertex(TimeAwareElement):
    kind = M.VERTEX_KIND

    # -- traversal (reference FluxVertex.java:77-117) -------------------------

    def get_edges(self, direction: str = BOTH, *labels: str) -> list["FluxSparkEdge"]:
        return self.graph._vertex_edges(self, direction, labels)

    def get_vertices(self, direction: str = BOTH, *labels: str) -> list["FluxSparkVertex"]:
        """1-hop neighbors; Direction.BOTH concatenates out- then in-
        neighbors and *keeps duplicates* (reference MultiIterable,
        FluxVertex.java:88-117)."""
        out = []
        if direction in (OUT, BOTH):
            for e in self.graph._vertex_edges(self, OUT, labels):
                out.append(e.get_vertex(IN))
        if direction in (IN, BOTH):
            for e in self.graph._vertex_edges(self, IN, labels):
                out.append(e.get_vertex(OUT))
        return out

    def query(self):
        from .operators.query_builder import VertexQuery

        return VertexQuery(self)

    def get_facts(self) -> set[tuple]:
        """Vertex facts include the topology facts of all incident edges
        (reference FluxVertex.java:130-148)."""
        facts = super().get_facts()
        for edge in self.get_edges(BOTH):
            row = edge._require_row()  # one read for both endpoints and the label
            facts.add((edge.id, ":graph.element/type", ":graph.element.type/edge"))
            facts.add((row["dst"], ":graph.element/type", ":graph.element.type/vertex"))
            facts.add((edge.id, ":graph.edge/inVertex", row["dst"]))
            facts.add((row["src"], ":graph.element/type", ":graph.element.type/vertex"))
            facts.add((edge.id, ":graph.edge/outVertex", row["src"]))
            facts.add((edge.id, ":graph.edge/label", row["label"]))
        return facts


class FluxSparkEdge(TimeAwareElement):
    kind = M.EDGE_KIND

    def get_label(self) -> str:
        return self._require_row()["label"]

    def get_vertex(self, direction: str) -> FluxSparkVertex:
        """Edge endpoint; BOTH throws (reference FluxEdge.java:78-85)."""
        row = self._require_row()
        if direction == OUT:
            return FluxSparkVertex(self.graph, row["src"], self.pinned_tx)
        if direction == IN:
            return FluxSparkVertex(self.graph, row["dst"], self.pinned_tx)
        raise ValueError("direction BOTH is not supported on edge.get_vertex")

    def get_facts(self) -> set[tuple]:
        """Edge facts include endpoint type facts (reference
        FluxEdge.java:98-105)."""
        row = self._require_row()
        facts = super().get_facts()
        facts.add((row["dst"], ":graph.element/type", ":graph.element.type/vertex"))
        facts.add((row["src"], ":graph.element/type", ":graph.element.type/vertex"))
        facts.add((self.id, ":graph.edge/inVertex", row["dst"]))
        facts.add((self.id, ":graph.edge/outVertex", row["src"]))
        facts.add((self.id, ":graph.edge/label", row["label"]))
        return facts
