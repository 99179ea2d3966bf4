"""Traced-run instrumentation: wrappers around the engine's public calls,
installed from the benchmark's side (nothing under fluxgraph_spark/ is
edited), and the per-layer metrics computed from the recorded spans.

Span names are ``<layer>.<call>[.<tier side>]`` with the layer named
after its module.  Hot per-row calls (``LocalStore.version_at``, the
element chain steps, fsutil I/O) are aggregated as leaves instead of one
span each; their time still counts as their layer's self time."""

from __future__ import annotations

import contextlib
import time
from typing import Optional

from harness import Tracer, patch, self_time

_ACTIVE: Optional[Tracer] = None


@contextlib.contextmanager
def layer(name: str):
    """A span around a call the benchmark makes into a layer (and the
    action that materializes it).  No-op in untraced runs."""
    tr = _ACTIVE
    if tr is None or not tr.recording():
        yield
        return
    idx = tr.begin(name)
    try:
        yield
    finally:
        tr.end(idx)


def count(name: str, amount: float = 1.0) -> None:
    """Add to a traced-run counter (answer checks record counts too)."""
    if _ACTIVE is not None:
        _ACTIVE.count(name, amount)


def install(tracer: Tracer) -> list:
    """Patch the engine's public calls; returns the undo callbacks."""
    global _ACTIVE
    _ACTIVE = tracer
    from fluxgraph_spark import elements as EL
    from fluxgraph_spark import graph as G
    from fluxgraph_spark import store as ST
    from fluxgraph_spark.operators import diff as D
    from fluxgraph_spark.operators import temporal as TM
    from fluxgraph_spark.sources import fsutil as FS

    undo = []
    LS = ST.LocalStore

    def rows_walked(tr, args, _kw, out):
        store, kind, eid, tx = args
        hist = store._index(kind).get(eid, [])
        if tx is None or out is None:
            walked = 1 if (tx is None and hist) else len(hist)
        else:
            rows = store._rows(kind)
            walked = next(
                (k + 1 for k, i in enumerate(reversed(hist)) if rows[i] is out), len(hist)
            )
        tr.count("store.version_at.rows_walked", walked)

    undo.append(patch(LS, "version_at", tracer, "store.version_at", leaf=True, after=rows_walked))

    orig_iter = LS.iter_visible

    def iter_visible(self, kind, tx):
        if not tracer.recording():
            return orig_iter(self, kind, tx)
        idx = tracer.begin("store.iter_visible")
        try:
            rows = list(orig_iter(self, kind, tx))
        finally:
            tracer.end(idx)
        tracer.count("store.iter_visible.calls")
        tracer.count("store.iter_visible.rows", len(rows))
        return iter(rows)

    LS.iter_visible = iter_visible
    undo.append(lambda: setattr(LS, "iter_visible", orig_iter))

    orig_to_df = LS.to_dataframe

    def to_dataframe(self, spark, kind):
        if tracer.active() and tracer.op is not None:  # wrap counted off-thread calls
            cached = self._df_cache.get(kind)
            tracer.count("store.to_dataframe.calls")
            if cached is None or cached[0] != self.generation:
                tracer.count("store.to_dataframe.rebuilds")
        return orig_to_df(self, spark, kind)

    LS.to_dataframe = tracer.wrap("store.to_dataframe", to_dataframe)
    undo.append(lambda: setattr(LS, "to_dataframe", orig_to_df))

    TG = G.TemporalGraph
    undo.append(patch(TG, "resolve_checkpoint", tracer, "graph.resolve_checkpoint"))

    def write_wrapper(orig):
        def write_call(self, *a, **kw):
            before = len(self._store.vertices) + len(self._store.edges)
            out = orig(self, *a, **kw)
            if tracer.active() and tracer.op is not None:
                tracer.count("graph.write.calls")
                tracer.count(
                    "graph.write.versions",
                    len(self._store.vertices) + len(self._store.edges) - before,
                )
            return out

        return write_call

    for attr in ("add_vertex", "add_edge", "remove_edge", "remove_vertex", "_set_property"):
        orig = getattr(TG, attr)
        setattr(TG, attr, tracer.wrap("graph.write", write_wrapper(orig)))
        undo.append(lambda a=attr, o=orig: setattr(TG, a, o))
    undo.append(patch(TG, "_vertex_edges", tracer, "graph.vertex_edges"))

    E = EL.TimeAwareElement
    undo.append(patch(E, "previous_version", tracer, "elements.chain_step", leaf=True))
    undo.append(patch(E, "next_version", tracer, "elements.chain_step", leaf=True))
    undo.append(patch(E, "get_property", tracer, "elements.get_property", leaf=True))
    undo.append(patch(E, "time_interval", tracer, "elements.time_interval", leaf=True))
    # only the subclasses: each calls super().get_facts(), so wrapping the
    # base too would record a nested half-call span inside every call
    for cls in (EL.FluxSparkVertex, EL.FluxSparkEdge):
        undo.append(patch(cls, "get_facts", tracer, "elements.get_facts"))

    def facts_in(tr, args, _kw, _out):
        tr.count("diff.facts_difference.calls")
        tr.count("diff.facts_difference.facts", len(args[0]) + len(args[1]))

    undo.append(patch(D, "graph_difference", tracer, "diff.graph_difference"))
    undo.append(patch(D, "element_difference", tracer, "diff.element_difference"))
    undo.append(patch(D, "facts_difference", tracer, "diff.facts_difference", after=facts_in))
    undo.append(patch(D, "build_difference_graph", tracer, "diff.build_difference_graph"))
    undo.append(patch(TM, "resolve_checkpoint", tracer, "temporal.resolve_checkpoint"))
    for fn in ("is_dir", "list_names", "delete", "makedirs", "rename",
               "replace_file", "read_text", "write_text", "remove_file"):
        undo.append(patch(FS, fn, tracer, "fsutil." + fn, leaf=True))
    return undo


def uninstall(undo: list) -> None:
    global _ACTIVE
    for u in reversed(undo):
        u()
    _ACTIVE = None


# --------------------------------------------------------------------------
# metrics from a traced run
# --------------------------------------------------------------------------

# The per-layer metric names, in BENCHMARK.json order.  Every traced run
# reports all of them; a layer a workload never calls reports 0.
SPAN_STATS = {
    # span name -> statistics reported for it
    "store.to_dataframe": ("s",),
    "graph.resolve_checkpoint": ("s",),
    "graph.write": ("s",),
    "elements.get_facts": ("s",),
    "diff.graph_difference": ("s",),
    "diff.facts_difference_df": ("s", "shuffle_mb"),
    "temporal.resolve_checkpoint": ("s",),
    "temporal.chain": ("s", "shuffle_mb"),
    "temporal.validity": ("s",),
    "traversal.multi_hop": ("s", "jobs", "shuffle_mb"),
    "gremlin.run": ("s", "jobs", "driver_s"),
    "analytics.connected_components": ("s", "jobs", "driver_s"),
    "analytics.closeness_centrality.under_cap": ("s", "jobs", "driver_s"),
    "analytics.closeness_centrality.over_cap": ("s", "jobs", "driver_s"),
    "dedup.lsh.under_cap": ("s", "driver_s", "jobs"),
    "dedup.lsh.over_cap": ("s", "driver_s", "jobs"),
    "dedup.semantic_ivf": ("s", "shuffle_mb"),
    "bucketed.dedupe_batch": ("s",),
    "bucketed.append": ("s",),
    "text_index.topk": ("s", "input_mb"),
    "text_index.append_batch": ("s",),
    "ann_index.topk": ("s",),
    "ann_index.append_batch": ("s",),
    "scd2_table.ingest": ("s",),
    "scd2_table.as_of": ("s", "input_mb"),
    "scd2_table.read_version": ("s",),
    "scd2_table.vacuum": ("s",),
}

LAYERS = ("store", "graph", "elements", "diff", "temporal", "traversal", "fluent", "gremlin",
          "analytics", "dedup", "bucketed", "text_index", "ann_index", "scd2_table",
          "fsutil")

# counter ratios: metric name -> (numerator, denominator, unit)
RATIOS = {
    "store.version_at.calls_per_op": ("leaf:store.version_at", "ops", "count"),
    "store.version_at.rows_walked": ("store.version_at.rows_walked", "leaf:store.version_at",
                                     "count"),
    "store.iter_visible.rows_per_call": ("store.iter_visible.rows", "store.iter_visible.calls",
                                         "count"),
    "store.to_dataframe.rebuild_ratio": ("store.to_dataframe.rebuilds",
                                         "store.to_dataframe.calls", "ratio"),
    "graph.write.versions_per_op": ("graph.write.versions", "graph.write.calls", "count"),
    "elements.chain_steps_per_walk": ("leaf:elements.chain_step", "elements.walks", "count"),
    "diff.facts_per_diff": ("diff.facts_difference.facts", "diff.facts_difference.calls",
                            "count"),
    "dedup.lsh.under_cap.pairs_out": ("dedup.lsh.under_cap.pairs", "dedup.lsh.under_cap.calls",
                                      "count"),
    "dedup.lsh.over_cap.pairs_out": ("dedup.lsh.over_cap.pairs", "dedup.lsh.over_cap.calls",
                                     "count"),
    "bucketed.dedupe_batch.yield": ("bucketed.planted_found", "bucketed.planted", "ratio"),
    "bucketed.append.bytes_written": ("bucketed.append.bytes", "bucketed.append.calls", "B"),
    "text_index.append_batch.bytes_written": ("text_index.append.bytes",
                                              "text_index.append.calls", "B"),
    "ann_index.recall_at_10": ("ann_index.recall_hits", "ann_index.recall_total", "ratio"),
    "ann_index.append_batch.bytes_written": ("ann_index.append.bytes", "ann_index.append.calls",
                                             "B"),
    "scd2_table.ingest.bytes_written": ("scd2_table.ingest.bytes", "scd2_table.ingest.calls",
                                        "B"),
    "scd2_table.ingest.files_written": ("scd2_table.ingest.files", "scd2_table.ingest.calls",
                                        "count"),
    "scd2_table.ingest.buckets_rewritten": ("scd2_table.ingest.buckets",
                                            "scd2_table.ingest.calls", "count"),
    "scd2_table.vacuum.bytes_removed": ("scd2_table.vacuum.bytes", "scd2_table.vacuum.calls",
                                        "B"),
}

# metrics filled in by run.py: name -> unit
RUN_METRICS = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.job_busy_s": "s", "driver.self_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "jvm.gc_s": "s",
    "wl.read_tail_ms": "ms", "wl.read_tail_pct": "%",
    "wl.history_p50_ms": "ms", "wl.history_tail_ms": "ms", "wl.history_tail_pct": "%",
    "wl.write_p50_ms": "ms", "wl.write_tail_ms": "ms", "wl.write_tail_pct": "%",
    "wl.batch_p50_ms": "ms", "wl.error_ratio": "ratio",
    "wl.write_amp": "B/B", "wl.space_amp": "B/B",
    "trace.ops_per_s": "op/s", "trace.selftime_closure_err_s": "s",
    "trace.offthread_calls": "count",
    "process.py_rss_mb": "MB", "process.jvm_rss_mb": "MB", "process.peak_rss_mb": "MB",
}


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) for every per-layer metric."""
    unit = {"s": "s", "jobs": "count", "driver_s": "s", "shuffle_mb": "MB", "input_mb": "MB"}
    out = [(f"{span}.{st}", unit[st]) for span, stats in SPAN_STATS.items() for st in stats]
    out += [(f"{lay}.busy_share", "ratio") for lay in LAYERS]
    out += [(name, u) for name, (_, _, u) in RATIOS.items()]
    return out + list(RUN_METRICS.items())


def span_metrics(tracer: Tracer, op_walls: dict[int, tuple[float, float]],
                 log_walls: dict[int, float], jobs, stages,
                 wall_offset: float) -> tuple[dict, dict]:
    """Per-span statistics, layer busy shares and per-op self-time
    closure: layer self times + uncovered remainder against the op wall
    the OpLog measured outside the root span (``log_walls``)."""
    from spark_env import attribute

    metrics: dict[str, float] = {}
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    for span, stats in SPAN_STATS.items():
        ss = by_name.get(span, [])
        n = len(ss)
        acts = [attribute(jobs, stages, s.start + wall_offset, s.end + wall_offset)
                for s in ss] if ss and jobs is not None else []
        for st in stats:
            key = f"{span}.{st}"
            if not n:
                metrics[key] = 0.0
            elif st == "s":
                metrics[key] = sum(s.dur for s in ss) / n
            elif st == "jobs":
                metrics[key] = sum(a["jobs"] for a in acts) / n
            elif st == "driver_s":
                metrics[key] = sum(s.dur - a["job_busy_s"] for s, a in zip(ss, acts)) / n
            else:  # shuffle_mb, input_mb
                field = "shuffle_write_mb" if st == "shuffle_mb" else st
                metrics[key] = sum(a[field] for a in acts) / n
    self_by = tracer.layer_self_times()
    total_wall = sum(e - s for s, e in op_walls.values()) or 1.0
    for lay in LAYERS:
        busy = sum(v for k, v in self_by.items() if k.split(".")[0] == lay)
        metrics[f"{lay}.busy_share"] = busy / total_wall
    c = dict(tracer.counters)
    c["ops"] = len(op_walls)
    for name, (calls, _secs) in tracer.leaves.items():
        c["leaf:" + name] = calls
    for name, (num, den, _unit) in RATIOS.items():
        metrics[name] = c.get(num, 0.0) / c[den] if c.get(den) else 0.0
    # closure: per op, the self times of every span in it (the root 'op'
    # span's self time is the uncovered remainder) against the OpLog's
    # wall, which is timed outside the root span; the error is the part
    # of the op no span saw (tracer bookkeeping between the two clocks)
    per_op: dict[int, float] = {}
    for s in tracer.spans:
        per_op[s.op] = per_op.get(s.op, 0.0) + self_time(s, tracer.spans) + s.leaf_s
    metrics["trace.selftime_closure_err_s"] = max(
        (abs(per_op.get(i, 0.0) - wall) for i, wall in log_walls.items()), default=0.0)
    metrics["trace.offthread_calls"] = tracer.offthread_calls
    detail = {"self_s_by_span": self_by, "counters": tracer.counters,
              "leaves": tracer.leaves}
    return metrics, detail


def root_span(tracer: Tracer, idx: int, run):
    """Wrap an op's run in the root span of op ``idx``."""

    def traced():
        tracer.op = idx
        root = tracer.begin("op")
        try:
            return run()
        finally:
            tracer.end(root)
            tracer.op = None

    return traced


def wall_offset() -> float:
    return time.time() - time.perf_counter()
