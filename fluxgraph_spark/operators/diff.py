"""Graph / element difference (P10, P11, S9).

Reference semantics (FluxUtil.java:243-319, FluxGraph.java:251-280,
ImmutableFluxGraph.java:23-39, 76-107), preserved exactly:

1. facts@date1 minus the facts common with facts@date2 — but element-type
   facts are EXEMPT from removal (FluxUtil.difference, :243-261);
2. *normalize*: drop type facts whose element id is not referenced by any
   surviving non-type fact, either as the fact's own id or as a value
   (orphan pruning, FluxUtil.normalize, :264-285);
3. *remap*: every real id is replaced by a fresh temp id; an
   ``original_id`` property records the source element
   (FluxUtil.replaceWithTempId, :288-319);
4. the surviving facts seed a fresh, read-only graph
   (ImmutableFluxGraph.java:23-39).

Facts here are ``(id, attr, value)`` triples — the Spark-side long format
of the reference's ``Map{":db/id", id, attr, value}`` (FluxElement.java:200-216).
Id-valued topology facts keep raw integer values so the remap can rewrite
them (the reference mixes stringified and raw-Long values across
FluxElement/FluxVertex getFacts; we keep ids raw consistently).

For set-at-a-time diffs at scale, :func:`explode_facts` melts the wide SCD2
tables into fact rows with ``stack`` (no UDF, single narrow shuffle-free
projection), and :func:`facts_difference_df` is two anti-joins.
"""

from __future__ import annotations

import datetime
import decimal
from typing import TYPE_CHECKING, Iterable, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import model as M

if TYPE_CHECKING:
    from ..graph import TemporalGraph, WorkingSet

Fact = Tuple  # (id, attr, value)

TYPE_ATTR = ":graph.element/type"
TYPE_VERTEX = ":graph.element.type/vertex"
TYPE_EDGE = ":graph.element.type/edge"
IN_VERTEX = ":graph.edge/inVertex"
OUT_VERTEX = ":graph.edge/outVertex"
EDGE_LABEL = ":graph.edge/label"
ORIGINAL_ID = M.mangle("original_id", "long")


def _is_type_fact(fact: Fact) -> bool:
    return fact[1] == TYPE_ATTR


def facts_difference(facts1: Set[Fact], facts2: Set[Fact]) -> Set[Fact]:
    """Steps 1-2: asymmetric difference with type-fact exemption, then
    orphan pruning (FluxUtil.java:243-285)."""
    diff = {f for f in facts1 if _is_type_fact(f) or f not in facts2}
    # normalize: keep a type fact only if some surviving non-type fact
    # references its entity (as subject id or as value)
    referenced = set()
    for f in diff:
        if not _is_type_fact(f):
            referenced.add(f[0])
            # only id-valued (topology) facts can reference another element:
            # in the reference, property fact values are stringified
            # (FluxElement.java:212) so containsValue(Long id) matches only
            # the raw-Long endpoint refs added in FluxVertex.getFacts
            if f[1] in (IN_VERTEX, OUT_VERTEX):
                referenced.add(f[2])
    return {f for f in diff if not _is_type_fact(f) or f[0] in referenced}


def _parse_prop_value(col: str, value):
    """Fact values round-trip through strings (the reference stringifies,
    FluxElement.java:212); parse back via the mangled column's type."""
    _, suffix = M.demangle(col)
    if isinstance(value, str):
        if suffix == "long":
            return int(value)
        if suffix in ("double", "float"):
            return float(value)
        if suffix == "boolean":
            return value == "true"
        if suffix in ("bigdec", "bigint"):
            return decimal.Decimal(value)
    return value


def build_difference_graph(origin: "TemporalGraph", facts: Set[Fact]) -> "TemporalGraph":
    """Steps 3-4: remap ids to fresh ones, record ``original_id``
    back-pointers, seed a read-only graph (FluxUtil.java:288-319,
    ImmutableFluxGraph.java:23-39)."""
    from ..graph import TemporalGraph
    from ..store import LocalStore, RowVersion

    store = LocalStore()
    now = datetime.datetime.now()
    tx = store.new_tx(now)

    vertex_ids = {f[0] for f in facts if _is_type_fact(f) and f[2] == TYPE_VERTEX}
    edge_ids = {f[0] for f in facts if _is_type_fact(f) and f[2] == TYPE_EDGE}
    id_map: dict[int, int] = {}
    for old in sorted(vertex_ids | edge_ids):
        id_map[old] = store.new_element_id()

    by_id: dict[int, list[Fact]] = {}
    for f in facts:
        by_id.setdefault(f[0], []).append(f)

    for old in sorted(vertex_ids):
        props = {ORIGINAL_ID: old}
        for _, attr, value in by_id.get(old, ()):
            if attr != TYPE_ATTR and M.is_property_column(attr):
                props[attr] = _parse_prop_value(attr, value)
        store.append_version(
            M.VERTEX_KIND,
            RowVersion(id=id_map[old], tx_from=tx, tx_to=None, props=props),
        )

    for old in sorted(edge_ids):
        src = dst = label = None
        props = {ORIGINAL_ID: old}
        for _, attr, value in by_id.get(old, ()):
            if attr == OUT_VERTEX:
                src = id_map.get(value, value)
            elif attr == IN_VERTEX:
                dst = id_map.get(value, value)
            elif attr == EDGE_LABEL:
                label = value
            elif attr != TYPE_ATTR and M.is_property_column(attr):
                props[attr] = _parse_prop_value(attr, value)
        store.append_version(
            M.EDGE_KIND,
            RowVersion(
                id=id_map[old], src=src, dst=dst, label=label,
                tx_from=tx, tx_to=None, props=props,
            ),
        )

    g = TemporalGraph(origin.spark, store)
    g._reset_tx_times({tx: now})
    g.read_only = True
    return g


def graph_difference(
    graph: "TemporalGraph",
    working_set: "WorkingSet",
    t1: datetime.datetime,
    t2: datetime.datetime,
) -> "TemporalGraph":
    """Working-set diff between two dates (FluxGraph.java:251-273)."""
    g1, g2 = graph.as_of(t1), graph.as_of(t2)
    facts1: Set[Fact] = set()
    facts2: Set[Fact] = set()
    for vid in working_set.vertex_ids:
        v1, v2 = g1.get_vertex(vid), g2.get_vertex(vid)
        if v1 is not None:
            facts1 |= v1.get_facts()
        if v2 is not None:
            facts2 |= v2.get_facts()
    for eid in working_set.edge_ids:
        e1, e2 = g1.get_edge(eid), g2.get_edge(eid)
        if e1 is not None:
            facts1 |= e1.get_facts()
        if e2 is not None:
            facts2 |= e2.get_facts()
    return build_difference_graph(graph, facts_difference(facts1, facts2))


def element_difference(graph: "TemporalGraph", elem1, elem2) -> "TemporalGraph":
    """Diff of two element versions (FluxGraph.java:276-280); vertex facts
    include incident-edge topology (FluxVertex.java:130-148)."""
    return build_difference_graph(
        graph, facts_difference(elem1.get_facts(), elem2.get_facts())
    )


# ---------------------------------------------------------------------------
# Set-at-a-time fact explosion for scale (SURVEY.md §4.2.4-5)
# ---------------------------------------------------------------------------

def explode_facts(df: DataFrame, kind: str) -> DataFrame:
    """Wide SCD2 row -> long ``(id, attr, value_str)`` fact rows.

    Pure column ops (stack of per-type casts to string) — no UDF, no
    shuffle; at 100 TB this stays inside whole-stage codegen and the
    column pruning still applies upstream."""
    pairs = []
    for col in df.columns:
        if M.is_property_column(col):
            pairs.append((F.lit(col), F.col(col).cast("string")))
    if kind == M.EDGE_KIND:
        pairs.append((F.lit(OUT_VERTEX), F.col(M.SRC).cast("string")))
        pairs.append((F.lit(IN_VERTEX), F.col(M.DST).cast("string")))
        pairs.append((F.lit(EDGE_LABEL), F.col(M.LABEL)))
    exploded = df.select(
        F.col(M.ID),
        F.explode(
            F.array(*[F.struct(a.alias("attr"), v.alias("value_str")) for a, v in pairs])
        ).alias("fact"),
    ).select(
        M.ID, F.col("fact.attr").alias("attr"), F.col("fact.value_str").alias("value_str")
    ).where(F.col("value_str").isNotNull())
    type_facts = df.select(
        F.col(M.ID),
        F.lit(TYPE_ATTR).alias("attr"),
        F.lit(TYPE_VERTEX if kind == M.VERTEX_KIND else TYPE_EDGE).alias("value_str"),
    )
    return exploded.unionByName(type_facts)


def facts_difference_df(facts1: DataFrame, facts2: DataFrame) -> DataFrame:
    """DataFrame version of steps 1-2: anti-join on all three fact columns
    (type facts exempt), then semi-join orphan pruning.  Both joins hash on
    the full fact — high-cardinality, skew-free keys."""
    non_type1 = facts1.where(F.col("attr") != TYPE_ATTR)
    survivors = non_type1.join(
        facts2, on=["id", "attr", "value_str"], how="left_anti"
    )
    referenced = (
        survivors.select(F.col("id").alias("ref_id"))
        .unionByName(
            survivors.where(F.col("attr").isin(IN_VERTEX, OUT_VERTEX))
            .select(F.expr("try_cast(value_str AS long)").alias("ref_id"))
        )
        .dropDuplicates()
    )
    kept_type = (
        facts1.where(F.col("attr") == TYPE_ATTR)
        .join(referenced, F.col("id") == F.col("ref_id"), "left_semi")
    )
    return survivors.unionByName(kept_type)
