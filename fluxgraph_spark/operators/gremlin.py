"""Gremlin 2.x pipeline strings compiled onto the fluent Traversal DSL.

The reference is a Blueprints 2.1 implementation (SURVEY §0;
FluxGraph.java:16), and Blueprints-era users query it with
Gremlin-Groovy pipelines — either embedded (`g.v(1).out('knows')`) or
through Rexster's Gremlin extension endpoint.  This module gives those
users a switch-over path: the same pipeline STRING evaluates against a
fluxgraph_spark graph, compiled to one declarative DataFrame chain (via
operators/fluent.py), so Catalyst sees the whole pipeline — predicate
pushdown into the vertex scan, each hop an equi-join AQE can broadcast
or shuffle-plan, nothing materialized until a terminal.

Supported step vocabulary (the Gremlin-2 subset whose semantics the
engine's surface covers — everything SURVEY §2.3/§2.4 maps to):

    starts      g.V  g.E  g.v(id, ...)  g.e(id, ...)
    filters     has(k)  has(k, v)  has(k, T.cmp, v)  hasNot(k)
                hasNot(k, v)  interval(k, a, b)
    hops        out(*labels)  in(*labels)  both(*labels)
    edge steps  outE(*labels)  inE(*labels)  bothE(*labels)
    endpoints   outV  inV  bothV
    shaping     dedup  order  range(i, j)  limit(n)  [i..j]
                (i > 0 requires an earlier explicit ``order`` — offset
                paging of an UNORDERED distributed frontier is
                nondeterministic; a sorted frontier pages fine)
    projection  id  label  values(*keys)  property(k)
    history     as('x')  back('x')  select('x','y')  path  simplePath
                (per-traverser walk history carried as columns — see
                fluent.py ``track_paths``; ``path`` emits the walk as a
                ``v[1]->e[7]->v[2]`` string, ``select`` the element ids
                at the named steps.  Enabled automatically when the
                pipeline uses any history step.)
    loops       loop(k){while}  loop('name'){while}  loop(k){while}{emit}
                Bounded ``{it.loops < N}`` closures unroll STATICALLY
                into the join tree (one Catalyst plan; see
                ``_unroll_loops``).  Data-dependent closures —
                ``{it.object.kind != 'region'}``, ``{true}``,
                conjunctions with ``&&``, and emit closures — run as a
                DRIVER-SIDE SUPERSTEP FIXPOINT (``_run_fixpoint``: the
                analytics operators' iteration pattern), bounded by
                ``run(..., max_loops=32)``.
    collections aggregate('x')  store('x')  except('x')  retain('x')
                (side-effect element collections: aggregate/store
                snapshot the frontier as a named set — declaratively, a
                subplan — and except/retain anti-/semi-join the current
                frontier against it by element id: the classic
                friends-of-friends-minus-friends shape as two joins)
    aggregation groupCount(k?)  sum  mean  max  min  (over a projected
                single value; groupCount over a key, or visit counts
                per element id without one)
    terminals   count()  toList()/iterate() (no-ops — evaluation is lazy)

A fixpoint section may contain hops, filters, dedup, simplePath and
except/retain; side-effect steps (as_/aggregate/store) and shaping
steps whose meaning is round-relative (order/range/limit) are rejected
inside one with a clear error.

`T` comparison tokens: T.eq T.neq T.gt T.gte T.lt T.lte (Tokens.T of
Gremlin 2; FluxVertex's VertexQuery accepts the same set through
Blueprints' DefaultVertexQuery).

Property keys are resolved against the frame's columns: a bare key
matches either a plain column (DataFrameGraph tables) or the engine's
type-mangled property columns (``name__string`` — SURVEY §1.3); with a
comparison value the value's inferred type picks among typed twins.

Evaluation is set-at-a-time over whole frontiers — a deliberate
re-expression, not an emulation of Gremlin's per-traverser iterators:
bag semantics (duplicate paths preserved) match, `dedup` set-ifies.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import model as M
from ..local_relation import bounded_arrow, files_prove_over, integral, local_dataframe
from .fluent import Traversal


class GremlinSyntaxError(ValueError):
    pass


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
      (?P<string>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
    | (?P<number>-?\d+\.\d+[fFdD]?|-?\d+[lL]?)
    | (?P<tcmp>T\.(?:neq|eq|gte|gt|lte|lt))
    | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<punct>\.\.|&&|==|!=|<=|>=|[().,\[\]{}<>])
    )
    """,
    re.VERBOSE,
)

_ESCAPES = {"\\'": "'", '\\"': '"', "\\\\": "\\", "\\n": "\n", "\\t": "\t"}


def _unescape(body: str) -> str:
    return re.sub(
        r"\\.", lambda m: _ESCAPES.get(m.group(0), m.group(0)[1]), body
    )


def _tokenize(script: str) -> list[tuple[str, Any]]:
    tokens: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(script):
        m = _TOKEN_RE.match(script, pos)
        if not m or m.end() == m.start():
            rest = script[pos:].strip()
            if not rest:
                break
            raise GremlinSyntaxError(f"cannot tokenize at: {rest[:30]!r}")
        pos = m.end()
        if m.group("string") is not None:
            tokens.append(("lit", _unescape(m.group("string")[1:-1])))
        elif m.group("number") is not None:
            raw = m.group("number")
            if raw[-1] in "lL":
                tokens.append(("lit", int(raw[:-1])))
            elif raw[-1] in "fFdD":
                tokens.append(("lit", float(raw[:-1])))
            elif "." in raw:
                tokens.append(("lit", float(raw)))
            else:
                tokens.append(("lit", int(raw)))
        elif m.group("tcmp") is not None:
            tokens.append(("cmp", m.group("tcmp")[2:]))
        elif m.group("name") is not None:
            name = m.group("name")
            if name == "true":
                tokens.append(("lit", True))
            elif name == "false":
                tokens.append(("lit", False))
            elif name == "null":
                tokens.append(("lit", None))
            else:
                tokens.append(("name", name))
        else:
            tokens.append(("punct", m.group("punct")))
    return tokens


# ---------------------------------------------------------------------------
# parser — `g` . step ( args? ) . step ...  |  [i..j] range suffix
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Step:
    name: str
    args: tuple


def parse(script: str) -> list[Step]:
    """Parse a Gremlin pipeline string into a flat step list."""
    try:
        return _parse(script)
    except IndexError:
        # truncated input (unclosed args list / range suffix) walks past
        # the token list — surface it as a syntax error, not IndexError
        raise GremlinSyntaxError("unexpected end of pipeline") from None


def _parse(script: str) -> list[Step]:
    toks = _tokenize(script)
    if not toks or toks[0] != ("name", "g"):
        raise GremlinSyntaxError("pipeline must start with `g`")
    i = 1
    steps: list[Step] = []
    while i < len(toks):
        kind, val = toks[i]
        if (kind, val) == ("punct", "."):
            i += 1
            if i >= len(toks) or toks[i][0] != "name":
                raise GremlinSyntaxError("expected step name after `.`")
            name = toks[i][1]
            i += 1
            args: list = []
            if i < len(toks) and toks[i] == ("punct", "("):
                i += 1
                while toks[i] != ("punct", ")"):
                    k, v = toks[i]
                    if k == "lit":
                        args.append(v)
                    elif k == "cmp":
                        args.append(Cmp(v))
                    else:
                        raise GremlinSyntaxError(
                            f"unexpected token {v!r} in args of .{name}"
                        )
                    i += 1
                    if toks[i] == ("punct", ","):
                        i += 1
                i += 1
            if name == "loop" and i < len(toks) and toks[i] == ("punct", "{"):
                while_conds, i = _parse_closure(toks, i)
                args.append(tuple(while_conds))
                if i < len(toks) and toks[i] == ("punct", "{"):
                    emit_conds, i = _parse_closure(toks, i)
                    args.append(tuple(emit_conds))
            steps.append(Step(name, tuple(args)))
        elif (kind, val) == ("punct", "["):
            # Groovy range suffix [i..j] (inclusive) — also [i] single index
            if (
                i + 4 < len(toks)
                and toks[i + 1][0] == "lit"
                and toks[i + 2] == ("punct", "..")
                and toks[i + 3][0] == "lit"
                and toks[i + 4] == ("punct", "]")
            ):
                steps.append(Step("range", (toks[i + 1][1], toks[i + 3][1])))
                i += 5
            elif (
                i + 2 < len(toks)
                and toks[i + 1][0] == "lit"
                and toks[i + 2] == ("punct", "]")
            ):
                steps.append(Step("range", (toks[i + 1][1], toks[i + 1][1])))
                i += 3
            else:
                raise GremlinSyntaxError("malformed [..] range")
        else:
            raise GremlinSyntaxError(f"unexpected token {val!r}")
    return steps


@dataclass(frozen=True)
class Cmp:
    op: str


_CLOSURE_OPS = ("<", "<=", ">", ">=", "==", "!=")


def _parse_closure(toks, i):
    """Parse one ``{...}`` loop closure starting at the ``{`` token.
    Grammar: a conjunction of conditions joined by ``&&``, each
    condition one of

        it.loops OP <int>        (the loop counter)
        it.object.<key> OP <lit> (a property of the current element)
        true | false             (constant)

    with OP in < <= > >= == !=.  Returns (conds, next_index), each cond
    a tuple ``('loops', op, n)`` / ``('prop', key, op, value)`` /
    ``('const', bool)``."""
    conds = []
    i += 1  # past '{'
    while True:
        if i >= len(toks):
            raise GremlinSyntaxError("unterminated loop closure")
        kind, val = toks[i]
        if (kind, val) == ("name", "it"):
            if toks[i + 1] != ("punct", ".") or toks[i + 2][0] != "name":
                raise GremlinSyntaxError("expected it.loops or it.object.<key>")
            what = toks[i + 2][1]
            if what == "loops":
                op_t, lit_t = toks[i + 3], toks[i + 4]
                if op_t[0] != "punct" or op_t[1] not in _CLOSURE_OPS \
                        or lit_t[0] != "lit" or not isinstance(lit_t[1], int):
                    raise GremlinSyntaxError(
                        "it.loops comparison needs an operator and an int"
                    )
                conds.append(("loops", op_t[1], lit_t[1]))
                i += 5
            elif what == "object":
                if toks[i + 3] != ("punct", ".") or toks[i + 4][0] != "name":
                    raise GremlinSyntaxError("expected it.object.<key>")
                key = toks[i + 4][1]
                op_t, lit_t = toks[i + 5], toks[i + 6]
                if op_t[0] != "punct" or op_t[1] not in _CLOSURE_OPS \
                        or lit_t[0] != "lit":
                    raise GremlinSyntaxError(
                        "it.object.<key> comparison needs an operator and a "
                        "literal"
                    )
                conds.append(("prop", key, op_t[1], lit_t[1]))
                i += 7
            else:
                raise GremlinSyntaxError(
                    f"unsupported closure subject it.{what} (use it.loops "
                    "or it.object.<key>)"
                )
        elif kind == "lit" and isinstance(val, bool):
            conds.append(("const", val))
            i += 1
        else:
            raise GremlinSyntaxError(
                f"unsupported loop-closure token {val!r}"
            )
        if i < len(toks) and toks[i] == ("punct", "&&"):
            i += 1
            continue
        if i < len(toks) and toks[i] == ("punct", "}"):
            return conds, i + 1
        raise GremlinSyntaxError("expected && or } in loop closure")


def _loop_section(out: list[Step], anchor) -> list[Step]:
    """The steps a ``loop`` re-runs: the previous ``anchor`` steps, or
    everything after ``as('name')`` for a named anchor."""
    if isinstance(anchor, str):
        marks = [
            i for i, s in enumerate(out)
            if s.name == "as" and s.args == (anchor,)
        ]
        if not marks:
            raise GremlinSyntaxError(f"loop anchor {anchor!r} not named")
        return out[marks[-1] + 1 :]
    if not isinstance(anchor, int) or anchor < 1 or anchor > len(out):
        raise GremlinSyntaxError(f"loop({anchor}) out of range")
    return out[len(out) - anchor :]


# steps a fixpoint section may contain: anything that maps a frontier to
# a frontier without driver-visible side effects or shaping that would
# differ per round.  aggregate/store (mutate collections), as_ (mutates
# the history column set per round), order/range/limit (round-relative),
# terminals, and nested loops are rejected with a clear error.
_SECTION_OK = {
    "has", "hasNot", "interval", "out", "in", "both", "outE", "inE",
    "bothE", "outV", "inV", "bothV", "dedup", "simplePath", "except",
    "retain",
}


def _unroll_loops(steps: list[Step]) -> list[Step]:
    """Lower ``loop`` steps into one of two executable forms.

    **Static unroll** — ``loop(k){it.loops < N}`` with a literal bound
    and no emit closure: the looped section simply repeats in the step
    list, so the evaluator stays a single pass and Catalyst still sees
    ONE join tree (the unrolled hops are chained equi-joins, exactly
    what multi_hop plans).  The counter starts at 1 and increments per
    arrival, so the bound N means N-1 total executions — GremlinDocs'
    classic ``g.v(1).out.loop(1){it.loops < 3}`` = the 2-hop frontier.

    **Driver-side fixpoint** — any data-dependent while closure
    (``{it.object.kind != 'region'}``, ``{true}``), a conjunction, or
    an emit closure: the section can't statically repeat because the
    round count depends on the data, so the step lowers to an internal
    ``loop_fix`` step the evaluator runs as a superstep iteration (the
    analytics operators' pattern: materialize + lineage-truncate each
    round, driver-probe the continue-frontier, stop at fixpoint or the
    loops budget).  Matches Gremlin 2's LoopPipe semantics: the while
    closure decides re-entry, the emit closure (when present) alone
    decides emission; without one, elements emit when the while closure
    fails."""
    out: list[Step] = []
    for st in steps:
        if st.name != "loop":
            out.append(st)
            continue
        if len(st.args) not in (2, 3):
            raise GremlinSyntaxError(
                "loop takes (stepsBack|'name') and 1-2 {...} closures"
            )
        anchor, while_conds = st.args[0], st.args[1]
        emit_conds = st.args[2] if len(st.args) == 3 else None
        if not isinstance(while_conds, tuple) or not while_conds:
            raise GremlinSyntaxError("loop needs a {...} while closure")
        section = _loop_section(out, anchor)
        if (
            emit_conds is None
            and len(while_conds) == 1
            and while_conds[0][0] == "loops"
            and while_conds[0][1] == "<"
        ):
            bound = while_conds[0][2]
            if bound < 2:
                raise GremlinSyntaxError("loop bound must be an int >= 2")
            for _ in range(bound - 2):  # the section already ran once
                out.extend(section)
            continue
        bad = [s.name for s in section if s.name not in _SECTION_OK]
        if bad:
            raise GremlinSyntaxError(
                f"step(s) {bad} cannot appear in a data-dependent loop "
                "section (allowed: hops, filters, dedup, simplePath, "
                "except/retain)"
            )
        out.append(Step("loop_fix", (tuple(section), while_conds, emit_conds)))
    return out


# ---------------------------------------------------------------------------
# property-key resolution (SURVEY §1.3 type-mangled columns)
# ---------------------------------------------------------------------------


def _resolve_key(columns: Sequence[str], key: str, value: Any = None) -> str:
    """Bare Gremlin key -> concrete column on this frame."""
    if key in columns:
        return key
    mangled = [c for c in columns if M.is_property_column(c) and M.demangle(c)[0] == key]
    if value is not None:
        want = M.mangle(key, M.infer_type_suffix(value))
        if want in mangled:
            return want
    if len(mangled) == 1:
        return mangled[0]
    if mangled:
        raise GremlinSyntaxError(
            f"key {key!r} is type-ambiguous among {mangled}; supply a typed value"
        )
    # unknown key: reference lookups on absent keys match nothing, not error
    return ""


def _key_filter(t: Traversal, key: str, op: str, value: Any) -> Traversal:
    col = _resolve_key(t.df().columns, key, value)
    if not col:
        # absent property key ⇒ empty match for has, everything for hasNot
        if op in ("isnull", "neq_or_null"):
            return t
        return t.where(F.lit(False))
    c = F.col(col)
    if op == "notnull":
        return t.where(c.isNotNull())
    if op == "isnull":
        return t.where(c.isNull())
    if op == "eq":
        return t.where(c == F.lit(value))
    if op == "neq_or_null":
        return t.where(c.isNull() | (c != F.lit(value)))
    if op == "neq":
        return t.where(c != F.lit(value))
    if op == "gt":
        return t.where(c > F.lit(value))
    if op == "gte":
        return t.where(c >= F.lit(value))
    if op == "lt":
        return t.where(c < F.lit(value))
    if op == "lte":
        return t.where(c <= F.lit(value))
    raise GremlinSyntaxError(f"unknown comparison {op!r}")


# ---------------------------------------------------------------------------
# evaluator
# ---------------------------------------------------------------------------

_HOPS = {"out": "out", "in": "in_", "both": "both"}
_EDGE_STEPS = {"outE": "out_e", "inE": "in_e", "bothE": "both_e"}
_ENDPOINTS = {"outV": "out_v", "inV": "in_v", "bothV": "both_v"}
_NOOPS = {"toList", "iterate", "next"}


class _EvalState:
    """Mutable evaluation state threaded through step application, so
    the fixpoint loop can re-run its section steps through the SAME
    dispatch as the main pass."""

    def __init__(self, max_loops: int) -> None:
        self.ordered = False   # explicit `order` licenses offset paging
        self.collections: dict[str, DataFrame] = {}  # aggregate/store id sets
        self.max_loops = max_loops


_PY_CMP = {
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b, "!=": lambda a, b: a != b,
}


def _closure_col(columns: Sequence[str], conds, loops: int):
    """Column predicate for a loop-closure conjunction evaluated at
    loop counter ``loops``.  ``it.loops`` and constant conjuncts fold
    driver-side (the counter is uniform across the round's frontier —
    exit is permanent, so every looping traverser has gone around the
    same number of times); property conjuncts compile to column
    comparisons.  Null handling follows the filter steps' contract
    (Groovy truthiness, the same split ``has``/``hasNot`` use): ``!=``
    is satisfied by a NULL or ABSENT property (null != lit is true in
    Groovy), every other comparison fails on NULL — and the whole
    conjunction coalesces to FALSE so each traverser lands in exactly
    one of the exit/continue branches (bare SQL three-valued logic
    would silently drop NULL-predicate rows from BOTH)."""
    col = None
    for c in conds:
        if c[0] == "const":
            if not c[1]:
                return F.lit(False)
        elif c[0] == "loops":
            if not _PY_CMP[c[1]](loops, c[2]):
                return F.lit(False)
        else:
            _, key, op, value = c
            k = _resolve_key(columns, key, value)
            if not k:
                if op == "!=":
                    continue  # absent key: null != lit — always true
                return F.lit(False)
            cc = F.col(k)
            x = {
                "<": cc < F.lit(value), "<=": cc <= F.lit(value),
                ">": cc > F.lit(value), ">=": cc >= F.lit(value),
                "==": cc == F.lit(value),
                "!=": cc.isNull() | (cc != F.lit(value)),
            }[op]
            col = x if col is None else (col & x)
    return F.lit(True) if col is None else F.coalesce(col, F.lit(False))


# ---------------------------------------------------------------------------
# bounded driver tier for data-dependent loops (r13, VERDICT item 2)
# ---------------------------------------------------------------------------
#
# The distributed fixpoint costs per ROUND: a localCheckpoint job over the
# frontier, an empty-probe job, and the section's hop joins — each hop
# re-scanning the (loop-invariant) edge AND vertex tables.  When the whole
# graph fits bounded driver collects (the connected-components /
# random-walks tier pattern, analytics.py), the identical recurrence runs
# in-process on numpy index arrays over the collected pyarrow tables: the
# graph is scanned ONCE per table, every round is vectorized array work,
# and the emitted frontier parallelizes back as one local relation with
# the frontier's exact schema.  Engagement is conservative — any step,
# type, or closure shape the replay does not model byte-for-byte falls
# back to the distributed path (which also serves past the caps, where
# the stats short-circuit skips even the bounded probes).
GREMLIN_DRIVER_EDGE_MAX = 1 << 21
GREMLIN_DRIVER_VERTEX_MAX = 1 << 20
# in-replay budget: bag semantics can multiply the frontier per round
# (hub fan-out); past this many frontier/emitted rows the replay abandons
# and the distributed path runs instead (correct either way)
_GREMLIN_DRIVER_ROWS_MAX = 1 << 24

_TIER_SECTION_OK = {"out", "in", "both", "has", "hasNot", "interval", "dedup"}


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _tier_value_ok(pa_type, value) -> bool:
    """Literal/column pairs whose local comparison is bit-identical to
    Spark's: same-family comparisons, plus the one implicit cast the
    pipelines use — a canonical ISO 'YYYY-MM-DD' string against a date
    column (Spark casts the literal to DATE)."""
    import pyarrow as pa

    if value is None:
        return False
    if isinstance(value, bool):
        return pa.types.is_boolean(pa_type)
    if isinstance(value, (int, float)):
        return pa.types.is_integer(pa_type) or pa.types.is_floating(pa_type)
    if isinstance(value, str):
        if pa.types.is_string(pa_type) or pa.types.is_large_string(pa_type):
            return True
        if pa.types.is_date(pa_type) and _ISO_DATE_RE.match(value):
            import datetime

            try:
                datetime.date.fromisoformat(value)
            except ValueError:
                return False
            return True
        return False
    return False


def _tier_scalar(pa_type, value):
    """The comparison literal as a pyarrow scalar, applying the same
    coercion Spark's implicit cast applies (ISO string -> date)."""
    import pyarrow as pa

    if pa.types.is_date(pa_type) and isinstance(value, str):
        import datetime

        return pa.scalar(datetime.date.fromisoformat(value), type=pa_type)
    return pa.scalar(value)


class _LocalFrontier:
    """The collected graph + vectorized step/closure evaluation."""

    def __init__(self, vtbl, eu, ev, elab):
        import numpy as np

        self.vtbl = vtbl
        self.vids = vtbl.column(M.ID).to_numpy(zero_copy_only=False).astype(np.int64)
        self.vsort = np.argsort(self.vids)
        self.vids_sorted = self.vids[self.vsort]
        self.eu, self.ev, self.elab = eu, ev, elab
        self._cols: dict = {}     # column name -> (values, isnull)
        self._hops: dict = {}     # (direction, labels) -> (skey, sdst)

    def ids_to_vidx(self, ids):
        """Vertex ids -> vtbl row indices (the vertices inner join:
        ids without a vertex row drop; multiplicity preserved)."""
        import numpy as np

        if ids.size == 0:
            return ids.astype(np.int64)
        j = np.searchsorted(self.vids_sorted, ids)
        j_cl = np.minimum(j, self.vids_sorted.size - 1)
        ok = self.vids_sorted[j_cl] == ids
        return self.vsort[j_cl[ok]]

    def col(self, name):
        """The vertex column as one combined pyarrow array."""
        if name not in self._cols:
            self._cols[name] = self.vtbl.column(name).combine_chunks()
        return self._cols[name]

    def _edge_index(self, direction: str, labels: tuple):
        """Edges grouped by the hop's match endpoint: (sorted keys,
        co-sorted far endpoints), after the label filter."""
        key = (direction, labels)
        if key not in self._hops:
            import numpy as np

            if labels:
                mask = np.isin(self.elab, list(labels))
                eu, ev = self.eu[mask], self.ev[mask]
            else:
                eu, ev = self.eu, self.ev
            near, far = (eu, ev) if direction == "out" else (ev, eu)
            order = np.argsort(near, kind="stable")
            self._hops[key] = (near[order], far[order])
        return self._hops[key]

    def hop(self, idx, direction: str, labels: tuple):
        """One bag-semantics hop: each frontier row emits one row per
        matching edge; far ids map back to vertex rows."""
        import numpy as np

        if direction == "both":
            return np.concatenate(
                [self.hop(idx, "out", labels), self.hop(idx, "in", labels)]
            )
        skey, sfar = self._edge_index(direction, labels)
        front_ids = self.vids[idx]
        lo = np.searchsorted(skey, front_ids, "left")
        hi = np.searchsorted(skey, front_ids, "right")
        counts = hi - lo
        total = int(counts.sum())
        if total == 0:
            return np.empty(0, dtype=np.int64)
        pos = (
            np.arange(total, dtype=np.int64)
            - np.repeat(np.cumsum(counts) - counts, counts)
            + np.repeat(lo, counts)
        )
        return self.ids_to_vidx(sfar[pos])

    def cmp_mask(self, idx, name: str, op: str, value):
        """Boolean mask over frontier rows for one comparison, with the
        filter steps' null contract (isnull/neq_or_null true on NULL,
        everything else false on NULL).  Comparisons run in pyarrow
        compute: Arrow's bytewise UTF-8 string order and numeric
        promotions match Spark's, and nullable int64 columns never
        round-trip through float64."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        sub = self.col(name).take(pa.array(idx, type=pa.int64()))
        nn = np.asarray(
            pc.is_null(sub).to_numpy(zero_copy_only=False), dtype=bool
        )
        if op == "notnull":
            return ~nn
        if op == "isnull":
            return nn
        fn = {
            "eq": pc.equal, "neq": pc.not_equal, "neq_or_null": pc.not_equal,
            "gt": pc.greater, "gte": pc.greater_equal,
            "lt": pc.less, "lte": pc.less_equal,
        }[op]
        res = np.asarray(
            pc.fill_null(fn(sub, _tier_scalar(sub.type, value)), False).to_numpy(
                zero_copy_only=False
            ),
            dtype=bool,
        )
        if op == "neq_or_null":
            return nn | res
        return res  # fill_null(False) already fails NULL rows


_CLOSURE_OP_NAMES = {
    "<": "lt", "<=": "lte", ">": "gt", ">=": "gte", "==": "eq", "!=": "neq",
}


def _tier_closure_mask(lf: "_LocalFrontier", columns, conds, loops: int, idx):
    """numpy twin of :func:`_closure_col` at loop counter ``loops``:
    it.loops / constant conjuncts fold, property conjuncts compare with
    the same null contract (``!=`` true on NULL/absent, others false),
    the conjunction lands every row in exactly one branch."""
    import numpy as np

    n = idx.size
    mask = None
    for c in conds:
        if c[0] == "const":
            if not c[1]:
                return np.zeros(n, dtype=bool)
        elif c[0] == "loops":
            if not _PY_CMP[c[1]](loops, c[2]):
                return np.zeros(n, dtype=bool)
        else:
            _, key, op, value = c
            k = _resolve_key(columns, key, value)
            if not k:
                if op == "!=":
                    continue
                return np.zeros(n, dtype=bool)
            if op == "!=":
                x = lf.cmp_mask(idx, k, "neq_or_null", value)
            else:
                x = lf.cmp_mask(idx, k, _CLOSURE_OP_NAMES[op], value)
            mask = x if mask is None else (mask & x)
    return np.ones(n, dtype=bool) if mask is None else mask


def _tier_arrow_schema(vertices: DataFrame):
    """The vertex table's arrow schema as a name->field dict, or None
    when the frame cannot express one the replay materializes back
    (every column must be integer/float/string/bool/date/timestamp)."""
    import pyarrow as pa

    try:
        schema = vertices.limit(0).toArrow().schema
    except Exception:  # noqa: BLE001 — un-collectable schema
        return None
    for f in schema:
        t = f.type
        if not (
            pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_boolean(t) or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
        ):
            return None
    return {f.name: f for f in schema}


def _tier_collect_graph(vertices: DataFrame, edges: DataFrame):
    """Bounded collects of the whole graph: the vertex table (all
    columns) and the (src, dst, label) edge triples.  None = use the
    distributed path (over a cap, nulls/duplicates in the id column,
    or non-integral id types)."""
    import numpy as np

    vcap, ecap = GREMLIN_DRIVER_VERTEX_MAX, GREMLIN_DRIVER_EDGE_MAX
    v, e = vertices, edges
    if M.ID not in v.columns or not {M.SRC, M.DST, M.LABEL} <= set(e.columns):
        return None
    # every job-free gate before the vertex collect's jobs
    if (
        not (integral(v, M.ID) and integral(e, M.SRC, M.DST))
        or ecap <= 0
        or files_prove_over(e, ecap)
    ):
        return None
    # counted (a zero-column scan — parquet row groups, no data), so the
    # collect runs in parallel rather than through a global limit
    vtbl = bounded_arrow(v, vcap, not_null=(M.ID,), rows=v.count, file_rows=True)
    if vtbl is None:
        return None
    vids = vtbl.column(M.ID).to_numpy(zero_copy_only=False).astype(np.int64)
    if np.unique(vids).size != vids.size:
        return None  # duplicate vertex ids: join multiplicity not modeled
    # e's count: a store view answers it with no job
    etbl = bounded_arrow(e.select(M.SRC, M.DST, M.LABEL), ecap, rows=e.count)
    if etbl is None:
        return None
    src = etbl.column(0)
    dst = etbl.column(1)
    # null endpoints never match any hop join — drop them up front
    if src.null_count or dst.null_count:
        import pyarrow.compute as pc

        keep = pc.and_(pc.is_valid(src), pc.is_valid(dst))
        etbl = etbl.filter(keep)
        src, dst = etbl.column(0), etbl.column(1)
    eu = src.to_numpy(zero_copy_only=False).astype(np.int64)
    ev = dst.to_numpy(zero_copy_only=False).astype(np.int64)
    elab = etbl.column(2).to_numpy(zero_copy_only=False)
    return _LocalFrontier(vtbl, eu, ev, elab)


def _tier_steps_ok(columns, schema, steps) -> bool:
    """Step-vocabulary / key-resolution / literal-type checks for a
    list of frontier-to-frontier steps the replay must model."""

    def key_ok(key, value) -> bool:
        try:
            k = _resolve_key(columns, key, value)
        except GremlinSyntaxError:
            return False  # distributed path raises identically
        if not k:
            return True  # absent key: modeled (all or nothing)
        return value is None or _tier_value_ok(schema[k].type, value)

    for stp in steps:
        if stp.name not in _TIER_SECTION_OK:
            return False
        a = stp.args
        if stp.name == "has":
            if len(a) == 1:
                ok = key_ok(a[0], None)
            elif len(a) == 2 and not isinstance(a[1], Cmp):
                ok = key_ok(a[0], a[1])
            elif len(a) == 3 and isinstance(a[1], Cmp):
                ok = key_ok(a[0], a[2])
            else:
                return False  # malformed: let the distributed path raise
            if not ok:
                return False
        elif stp.name == "hasNot":
            if len(a) not in (1, 2):
                return False
            if not key_ok(a[0], a[1] if len(a) == 2 else None):
                return False
        elif stp.name == "interval":
            if len(a) != 3 or not key_ok(a[0], a[1]):
                return False
            # both bounds compare against the same column
            try:
                k = _resolve_key(columns, a[0], a[1])
            except GremlinSyntaxError:
                return False
            if k and not _tier_value_ok(schema[k].type, a[2]):
                return False
        elif stp.name == "dedup" and a:
            return False
    return True


def _tier_conds_ok(columns, schema, while_conds, emit_conds) -> bool:
    def key_ok(key, value) -> bool:
        try:
            k = _resolve_key(columns, key, value)
        except GremlinSyntaxError:
            return False
        if not k:
            return True
        return _tier_value_ok(schema[k].type, value)

    for conds in (while_conds, emit_conds or ()):
        for c in conds:
            if c[0] == "prop":
                if not key_ok(c[1], c[3]):
                    return False
            elif c[0] not in ("const", "loops"):
                return False
    return True


def _tier_validate(cur: "Traversal", section, while_conds, emit_conds):
    """Engage checks for the mid-pipeline tier: frontier shape plus the
    step/closure checks."""
    if cur._track or cur._kind != "V":
        return False
    columns = list(cur._vertices.columns)
    if list(cur.df().columns) != columns or M.ID not in columns:
        return False
    schema = _tier_arrow_schema(cur._vertices)
    if schema is None:
        return False
    return _tier_steps_ok(columns, schema, section) and _tier_conds_ok(
        columns, schema, while_conds, emit_conds
    )


def _tier_apply_section(lf: "_LocalFrontier", section, idx):
    import numpy as np

    for stp in section:
        if idx.size > _GREMLIN_DRIVER_ROWS_MAX:
            return None  # abandon: bag fan-out outgrew the budget
        name, a = stp.name, stp.args
        if name in _HOPS:
            idx = lf.hop(idx, {"out": "out", "in": "in", "both": "both"}[name],
                         tuple(a))
        elif name == "has":
            if len(a) == 1:
                key, op, value = a[0], "notnull", None
            elif len(a) == 2:
                key, op, value = a[0], "eq", a[1]
            else:
                key, op, value = a[0], a[1].op, a[2]
            k = _resolve_key(lf.vtbl.column_names, key, value)
            if not k:
                idx = idx[:0]
            else:
                idx = idx[lf.cmp_mask(idx, k, op, value)]
        elif name == "hasNot":
            key = a[0]
            value = a[1] if len(a) == 2 else None
            op = "neq_or_null" if len(a) == 2 else "isnull"
            k = _resolve_key(lf.vtbl.column_names, key, value)
            if k:
                idx = idx[lf.cmp_mask(idx, k, op, value)]
            # absent key: hasNot keeps everything
        elif name == "interval":
            k = _resolve_key(lf.vtbl.column_names, a[0], a[1])
            if not k:
                idx = idx[:0]
            else:
                idx = idx[
                    lf.cmp_mask(idx, k, "gte", a[1])
                    & lf.cmp_mask(idx, k, "lt", a[2])
                ]
        elif name == "dedup":
            idx = np.unique(idx)
    return idx


def _tier_run_loop(lf, idx, section, while_conds, emit_conds, max_loops):
    """The fixpoint recurrence on index arrays — identical round
    structure, counter semantics, emission contract and max_loops raise
    as :func:`_run_fixpoint`.  Returns the emitted indices, or None to
    abandon (fan-out outgrew the in-replay budget)."""
    import numpy as np

    columns = lf.vtbl.column_names
    loops = 2
    parts = []
    emitted = 0
    while True:
        w = _tier_closure_mask(lf, columns, while_conds, loops, idx)
        if emit_conds is None:
            parts.append(idx[~w])
        else:
            parts.append(
                idx[_tier_closure_mask(lf, columns, emit_conds, loops, idx)]
            )
        emitted += parts[-1].size
        if emitted > _GREMLIN_DRIVER_ROWS_MAX:
            return None
        cont = idx[w]
        if cont.size == 0:
            break
        if loops > max_loops:
            raise RuntimeError(
                f"loop exceeded max_loops={max_loops} without "
                "converging; raise max_loops or bound the closure with "
                "it.loops"
            )
        idx = _tier_apply_section(lf, section, cont)
        if idx is None:
            return None
        loops += 1
    return (
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    )


# one explode row never materializes an array over this many elements
_TIER_CNT_CHUNK = 1 << 16
_TIER_CNT_SCHEMA = T.StructType(
    [T.StructField("__tier_id", T.LongType()), T.StructField("__tier_cnt", T.LongType())]
)


def _tier_materialize(lf, all_idx, vertices: DataFrame):
    """Emitted indices -> a DataFrame with the frontier's exact row
    multiset.  The emitted rows are vertex-table rows, so only the
    (id, multiplicity) pairs cross back to the cluster — a tiny
    broadcast joined against the vertex table and exploded to the
    multiplicity.  Shipping the full rows through a local relation
    measured ~1 s PER ACTION at 230k rows (the relation re-serializes
    into every job); this form is one cheap vertex scan."""
    import numpy as np

    spark = vertices.sparkSession
    uniq, counts = np.unique(all_idx, return_counts=True)
    ids = lf.vids[uniq]
    tier_ids, tier_cnts = [], []
    for vid, cnt in zip(ids.tolist(), counts.tolist()):
        while cnt > _TIER_CNT_CHUNK:
            tier_ids.append(vid)
            tier_cnts.append(_TIER_CNT_CHUNK)
            cnt -= _TIER_CNT_CHUNK
        tier_ids.append(vid)
        tier_cnts.append(cnt)
    cnt_df = local_dataframe(spark, [tier_ids, tier_cnts], _TIER_CNT_SCHEMA)
    out = (
        vertices.join(
            F.broadcast(cnt_df),
            F.col(M.ID).cast("long") == F.col("__tier_id"),
        )
        .withColumn(
            "__tier_rep",
            F.explode(F.sequence(F.lit(1), F.col("__tier_cnt"))),
        )
        .select(*vertices.columns)
    )
    return out


def _fixpoint_driver_tier(cur, section, while_conds, emit_conds, st: "_EvalState"):
    """In-process replay of :func:`_run_fixpoint` (None = fall back):
    identical per-round recurrence — while/emit closures at the same
    counter, the same emission contract, the same max_loops raise —
    over numpy row-index arrays into the collected vertex table."""
    if not _tier_validate(cur, section, while_conds, emit_conds):
        return None
    lf = _tier_collect_graph(cur._vertices, cur._edges)
    if lf is None:
        return None
    ftbl = bounded_arrow(cur.df().select(M.ID), _GREMLIN_DRIVER_ROWS_MAX, not_null=(M.ID,))
    if ftbl is None:
        return None
    import numpy as np

    fids = ftbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    idx = lf.ids_to_vidx(fids)
    all_idx = _tier_run_loop(lf, idx, section, while_conds, emit_conds,
                             st.max_loops)
    if all_idx is None:
        return None
    return cur._derived(
        _tier_materialize(lf, all_idx, cur._vertices), cur._kind
    )


def _pipeline_driver_tier(vertices, edges, prefix, fix, max_loops):
    """Whole-prefix driver replay (r13): when the pipeline OPENS with
    ``g.V``/``g.v(ids)`` and every step through the first
    data-dependent loop is tier-supported, even the initial frontier
    derives locally from the collected tables — the only Spark work is
    the two graph collects and whatever follows the loop.  Returns the
    post-loop frontier DataFrame, or None to evaluate normally."""
    section, while_conds, emit_conds = fix.args
    if not prefix or prefix[0].name not in ("V", "v"):
        return None
    start = prefix[0]
    if start.name == "v" and not start.args:
        return None  # distributed path raises the proper error
    if start.args and not all(
        isinstance(i, int) and not isinstance(i, bool) for i in start.args
    ):
        return None
    if M.ID not in vertices.columns:
        return None
    columns = list(vertices.columns)
    schema = _tier_arrow_schema(vertices)
    if schema is None:
        return None
    if not _tier_steps_ok(columns, schema, prefix[1:]):
        return None
    if not _tier_steps_ok(columns, schema, section):
        return None
    if not _tier_conds_ok(columns, schema, while_conds, emit_conds):
        return None
    lf = _tier_collect_graph(vertices, edges)
    if lf is None:
        return None
    import numpy as np

    if start.args:
        idx = np.flatnonzero(np.isin(lf.vids, list(start.args)))
    else:
        idx = np.arange(lf.vids.size, dtype=np.int64)
    idx = _tier_apply_section(lf, prefix[1:], idx)
    if idx is None:
        return None
    all_idx = _tier_run_loop(lf, idx, section, while_conds, emit_conds,
                             max_loops)
    if all_idx is None:
        return None
    return _tier_materialize(lf, all_idx, vertices)


def _run_fixpoint(cur, section, while_conds, emit_conds, st: "_EvalState"):
    """Driver-side superstep fixpoint for a data-dependent ``loop`` —
    the analytics operators' iteration pattern (operators/analytics.py:
    eager materialize + localCheckpoint per round, bounded driver probe
    for convergence) applied to a traversal frontier:

    each round the looping frontier MATERIALIZES (localCheckpoint —
    truncating lineage so the per-round plan stays constant-size
    instead of nesting one join tree per round), the while closure
    splits it into re-entering vs exiting traversers (one column
    predicate — no extra shuffle), the section re-runs on the
    re-entering subset through the ordinary step dispatch, and the
    only driver-side data is the per-round empty-check.  Stops at
    fixpoint (no traverser re-enters) or raises at ``max_loops``
    (Gremlin's unbounded ``loop(1){true}`` is an infinite walk on a
    cyclic graph — the budget is the engine's termination contract).

    Counter semantics match the static unroll: at arrival, ``it.loops``
    = sections-run + 1, so ``{it.loops < N}`` means N-1 executions.
    Emission per Gremlin 2's LoopPipe: no emit closure — traversers
    emit exactly when the while closure fails; with one — the emit
    closure alone decides emission (evaluated at every arrival), and
    traversers failing both are discarded."""
    if not isinstance(cur, Traversal):
        raise GremlinSyntaxError("loop after a projection/terminal step")
    tiered = _fixpoint_driver_tier(cur, section, while_conds, emit_conds, st)
    if tiered is not None:
        return tiered
    loops = 2  # first arrival: the section has run once
    parts: list[DataFrame] = []
    looping = cur
    while True:
        df = looping.df().localCheckpoint()  # eager: materialize + truncate
        w = _closure_col(df.columns, while_conds, loops)
        if emit_conds is None:
            parts.append(df.where(~w))
        else:
            parts.append(df.where(_closure_col(df.columns, emit_conds, loops)))
        cont = df.where(w)
        if cont.isEmpty():  # bounded driver probe per round
            break
        if loops > st.max_loops:
            raise RuntimeError(
                f"loop exceeded max_loops={st.max_loops} without "
                "converging; raise max_loops or bound the closure with "
                "it.loops"
            )
        looping = _eval_steps(
            list(section), looping._derived(cont, looping._kind), st
        )
        if not isinstance(looping, Traversal):
            raise GremlinSyntaxError("loop section must keep an element frontier")
        loops += 1
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return cur._derived(out, cur._kind)


def run(
    script: str,
    vertices: DataFrame,
    edges: DataFrame,
    max_loops: int = 32,
) -> DataFrame:
    """Evaluate a Gremlin pipeline string against (vertices, edges).

    Always returns a DataFrame (count() becomes a one-row ``count``
    frame)).  Evaluation stays lazy/declarative end to end EXCEPT for
    data-dependent ``loop`` closures, which run as driver-side
    superstep fixpoints bounded by ``max_loops`` (see
    :func:`_run_fixpoint`).
    """
    steps = _unroll_loops(parse(script))
    if not steps:
        raise GremlinSyntaxError("empty pipeline")
    track = any(
        s.name in ("path", "select", "as", "back", "simplePath") for s in steps
    )
    if not track:
        fixes = [i for i, s in enumerate(steps) if s.name == "loop_fix"]
        if fixes:
            i = fixes[0]
            out_df = _pipeline_driver_tier(
                vertices, edges, steps[:i], steps[i], max_loops
            )
            if out_df is not None:
                t = Traversal(vertices, edges)._derived(out_df, "V")
                return _finalize(
                    _eval_steps(steps[i + 1:], t, _EvalState(max_loops))
                )
    cur: Any = Traversal(vertices, edges, track_paths=track)
    return _finalize(_eval_steps(steps, cur, _EvalState(max_loops)))


def _finalize(cur) -> DataFrame:
    if isinstance(cur, Traversal):
        return cur.df()
    return cur


def _eval_steps(steps: list[Step], cur, st: "_EvalState"):
    for step in steps:
        cur = _apply_step(step, cur, st)
    return cur


def _apply_step(step: Step, cur, st: "_EvalState"):
    name, args = step.name, step.args
    ordered, collections = st.ordered, st.collections
    if name == "order":
        pass
    elif name not in ("range", "limit", *_NOOPS):
        # conservative: only steps that provably keep row order leave
        # the ordered flag up — anything else (hops, filters, dedup,
        # projections) may re-plan/re-shuffle and lose it
        st.ordered = ordered = False
    if not isinstance(cur, Traversal) and name not in (
        "order", "dedup", "range", "limit", "count",
        "groupCount", "sum", "mean", "max", "min", *_NOOPS,
    ):
        raise GremlinSyntaxError(
            f".{name} after a projection/terminal step"
        )
    if name in ("V", "E"):
        cur = getattr(cur, name)(*args)
    elif name in ("v", "e"):
        if not args:
            raise GremlinSyntaxError(f"g.{name}() needs at least one id")
        cur = getattr(cur, name.upper())(*args)
    elif name == "has":
        if len(args) == 1:
            cur = _key_filter(cur, args[0], "notnull", None)
        elif len(args) == 2 and not isinstance(args[1], Cmp):
            cur = _key_filter(cur, args[0], "eq", args[1])
        elif len(args) == 3 and isinstance(args[1], Cmp):
            cur = _key_filter(cur, args[0], args[1].op, args[2])
        else:
            raise GremlinSyntaxError("has() takes (k), (k,v) or (k,T.cmp,v)")
    elif name == "hasNot":
        if len(args) == 1:
            cur = _key_filter(cur, args[0], "isnull", None)
        elif len(args) == 2:
            cur = _key_filter(cur, args[0], "neq_or_null", args[1])
        else:
            raise GremlinSyntaxError("hasNot() takes (k) or (k,v)")
    elif name == "interval":
        if len(args) != 3:
            raise GremlinSyntaxError("interval(k, start, end)")
        col = _resolve_key(cur.df().columns, args[0], args[1])
        if not col:
            cur = cur.where(F.lit(False))
        else:
            cur = cur.interval(col, args[1], args[2])
    elif name in _HOPS:
        cur = getattr(cur, _HOPS[name])(*args)
    elif name in _EDGE_STEPS:
        cur = getattr(cur, _EDGE_STEPS[name])(*args)
    elif name in _ENDPOINTS:
        if args:
            raise GremlinSyntaxError(f"{name} takes no args")
        cur = getattr(cur, _ENDPOINTS[name])()
    elif name == "dedup":
        if isinstance(cur, Traversal):
            cur = cur.dedup()
        else:
            cur = cur.dropDuplicates()
    elif name == "order":
        df = cur.df() if isinstance(cur, Traversal) else cur
        if args:
            key = _resolve_key(df.columns, args[0])
            if not key:
                raise GremlinSyntaxError(f"unknown property key {args[0]!r}")
            cols = [key]
        elif isinstance(cur, Traversal) and M.ID in df.columns:
            cols = [M.ID]
        else:
            cols = list(df.columns)
        # the sort must be TOTAL before it can license offset paging:
        # a non-unique key (order('kind')) leaves ties in
        # shuffle-dependent relative order, so append the element id —
        # PLUS any walk-history columns (__path / __as_*): a
        # path-tracked frontier carries one row per TRAVERSER, so the
        # id alone is not unique there — when present, else every
        # remaining column, as a tiebreaker
        tie = (
            [M.ID] + [c for c in df.columns if c.startswith("__")]
            if M.ID in df.columns
            else [c for c in df.columns if c not in cols]
        )
        df = df.orderBy(*cols, *[c for c in tie if c not in cols])
        cur = cur._derived(df, cur._kind) if isinstance(cur, Traversal) else df
        st.ordered = True
    elif name in ("range", "limit"):
        if name == "limit":
            lo, hi = 0, args[0] - 1
        else:
            lo, hi = args
        if lo != 0:
            if not ordered:
                raise GremlinSyntaxError(
                    "range/[i..j] with a non-zero start needs an "
                    "explicit `order` first (offset paging of an "
                    "unordered distributed frontier is "
                    "nondeterministic; use rexster.offset paging on "
                    "the REST surface instead)"
                )
            # a sorted frontier pages deterministically
            df = cur.df() if isinstance(cur, Traversal) else cur
            df = df.offset(lo).limit(hi - lo + 1)
            cur = cur._derived(df, cur._kind) if isinstance(cur, Traversal) else df
        else:
            cur = cur.limit(hi + 1)
    elif name in ("values", "property"):
        if name == "property" and len(args) != 1:
            raise GremlinSyntaxError("property(k) takes one key")
        if not args:
            raise GremlinSyntaxError("values() needs at least one key")
        cols = []
        for k in args:
            col = _resolve_key(cur.df().columns, k)
            if not col:
                raise GremlinSyntaxError(f"unknown property key {k!r}")
            cols.append(F.col(col).alias(k))
        cur = cur.df().select(*cols)
    elif name == "id":
        cur = cur.ids()
    elif name == "label":
        cur = cur.df().select(M.LABEL)
    elif name == "count":
        df = cur.df() if isinstance(cur, Traversal) else cur
        cur = df.agg(F.count(F.lit(1)).alias("count"))
    elif name == "groupCount":
        df = cur.df() if isinstance(cur, Traversal) else cur
        if args:
            col = _resolve_key(df.columns, args[0])
            if not col:
                raise GremlinSyntaxError(f"unknown property key {args[0]!r}")
            keys = [F.col(col).alias(args[0])]
        elif isinstance(cur, Traversal):
            keys = [F.col(M.ID)]  # traverser visit counts per element
        else:
            keys = [F.col(c) for c in df.columns]
        cur = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))
    elif name in ("sum", "mean", "max", "min"):
        if isinstance(cur, Traversal) or len(cur.columns) != 1:
            raise GremlinSyntaxError(
                f".{name} aggregates a single projected value — "
                f"use .values(key) / .property(key) first"
            )
        agg = {"sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}[
            name
        ](F.col(cur.columns[0]))
        cur = cur.agg(agg.alias(name))
    elif name == "as":
        if len(args) != 1 or not isinstance(args[0], str):
            raise GremlinSyntaxError("as('name') takes one string")
        cur = cur.as_(args[0])
    elif name == "back":
        if len(args) != 1 or not isinstance(args[0], str):
            raise GremlinSyntaxError(
                "back('name') takes one named step (numeric back(n) "
                "is not supported — name the step with as())"
            )
        try:
            cur = cur.back(args[0])
        except ValueError as ex:
            raise GremlinSyntaxError(str(ex)) from None
    elif name == "select":
        try:
            cur = cur.select_steps(*args)
        except ValueError as ex:
            raise GremlinSyntaxError(str(ex)) from None
    elif name == "path":
        if args:
            raise GremlinSyntaxError("path takes no args")
        cur = cur.path_df()
    elif name == "simplePath":
        if args:
            raise GremlinSyntaxError("simplePath takes no args")
        cur = cur.simple_path()
    elif name in ("aggregate", "store"):
        if len(args) != 1 or not isinstance(args[0], str):
            raise GremlinSyntaxError(f"{name}('x') takes one string")
        collections[args[0]] = cur.df().select(M.ID).distinct()
    elif name in ("except", "retain"):
        if len(args) != 1 or not isinstance(args[0], str):
            raise GremlinSyntaxError(f"{name}('x') takes one named set")
        if args[0] not in collections:
            raise GremlinSyntaxError(
                f"no collection named {args[0]!r}; aggregate/store it first"
            )
        how = "left_anti" if name == "except" else "left_semi"
        cur = cur._derived(
            cur.df().join(collections[args[0]], M.ID, how), cur._kind
        )
    elif name == "loop_fix":
        cur = _run_fixpoint(cur, args[0], args[1], args[2], st)
    elif name in _NOOPS:
        pass
    else:
        raise GremlinSyntaxError(f"unsupported step .{name}")
    return cur
