"""perfbench — end-to-end and per-layer benchmark of fluxgraph_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process, one local[<nproc>] Spark
driver, one closed-loop client: each op is issued only after the previous
one returned, because the engine's callers (Blueprints calls and Spark
actions) all wait for their reply.  Every op's answer is checked; a wrong
answer or an exception counts as a failed op.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.  A detail artifact (per-class latencies, calibration,
driver-tier sides per op, span self times) is written to
.perfbench_out/<workload>-s<seed>-t<trace>.json.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = {
    "oltp_timetravel": "w_oltp",
    "graph_asof_olap": "w_olap",
    "corpus_ingest": "w_corpus",
}
# setup_s is the median of this many full set-ups, the first of them cold
# (a third, warm set-up made the median the slower of two warm ones: its
# spread across seeds was 0.19-0.33 of the median, against 0.11-0.19 here)
SETUP_REPS = 2

END_TO_END = {
    # name -> unit
    "setup_s": "s",
    "ops_per_s": "op/s",
    "read_p50_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    from harness import OpLog, Tracer, p50, steal_share, tail
    import layers
    import spark_env

    wl = importlib.import_module(WORKLOADS[args.workload])
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = spark_env.start(work, traced)
    try:
        setup_s, state = [], None
        for rep in range(SETUP_REPS):
            if state is not None:
                wl.teardown(state)
            t0 = time.perf_counter()
            state = wl.setup(spark, args.seed, os.path.join(work, f"setup{rep}"))
            setup_s.append(time.perf_counter() - t0)
        # no warm-up cycle: the measured cycle includes each query's first-run
        # codegen (on a 4-core local[4] box a cold cycle varied less across
        # seeds than a warmed one, and a warm-up would add a cycle per run)
        calib = {"start": spark_env.calibrate(spark)}
        gc.collect()
        gc.freeze()  # set-up garbage stays out of the timed phase's collections

        tracer = undo = None
        offset = layers.wall_offset()
        if traced:
            tracer = Tracer()
            undo = layers.install(tracer)
        log = OpLog()
        # measure whole cycles until --seconds of op time (the untimed answer
        # checks do not count): every run then holds the same op mix
        busy = 0.0
        for cycle in wl.cycles(state):
            for op in cycle:
                if traced:
                    op.run = layers.root_span(tracer, log.attempted, op.run)
                busy += log.execute(op).wall
            if busy >= args.seconds:
                break
        if traced:
            layers.uninstall(undo)
        extra = wl.finish(state)
        wl.teardown(state)
        calib["end"] = spark_env.calibrate(spark)
        calib["steal_share"] = steal_share(calib["start"]["cpu_ticks"], calib["end"]["cpu_ticks"])
        py_mb, jvm_mb = spark_env.peak_rss_mb(spark)

        classes = log.class_stats()
        walls = log.walls_ms()
        op_tail, op_tail_pct = tail(walls)
        e2e = {
            "setup_s": statistics.median(setup_s),
            "ops_per_s": log.attempted / busy,
            "read_p50_ms": classes["read"]["p50_ms"],
        }
        # class tails are per-layer: a run of graph_asof_olap or
        # corpus_ingest holds too few reads for a tail (harness.tail), and
        # a metric absent on a workload reports 0 with its percentile 0
        wl_stats = {"wl.read_tail_ms": classes["read"]["tail_ms"],
                    "wl.read_tail_pct": classes["read"]["tail_pct"]}
        for cls in ("history", "write"):
            c = classes.get(cls, {})
            wl_stats[f"wl.{cls}_p50_ms"] = c.get("p50_ms", 0.0)
            wl_stats[f"wl.{cls}_tail_ms"] = c.get("tail_ms", 0.0)
            wl_stats[f"wl.{cls}_tail_pct"] = c.get("tail_pct", 0.0)
        wl_stats.update({
            "wl.batch_p50_ms": classes.get("batch", {}).get("p50_ms", 0.0),
            "wl.error_ratio": log.error_ratio(),
            "wl.write_amp": extra.get("write_amp", 0.0),
            "wl.space_amp": extra.get("space_amp", 0.0),
        })
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "params": wl.PARAMS, "setup_s_runs": setup_s,
            "busy_s": busy, "classes": classes,
            "op_p50_ms": p50(walls), "op_tail_ms": op_tail, "op_tail_pct": op_tail_pct,
            "calibration": calib, "workload_stats": wl_stats, "extra": extra,
            "process": {"py_rss_mb": py_mb, "jvm_rss_mb": jvm_mb,
                        "peak_rss_mb": py_mb + jvm_mb},
            "errors": [r.error for r in log.records if r.error][:50],
            "ops": [{"i": r.idx, "cls": r.cls, "name": r.name, "ms": r.wall * 1e3,
                     "ok": r.error is None, "tier": r.tier} for r in log.records],
        }
        if traced:
            jobs, stages = spark_env.spark_activity(spark)
            roots = {s.op: s for s in tracer.spans if s.name == "op" and s.parent is None}
            op_walls = {i: (s.start, s.end) for i, s in roots.items()}
            metrics, span_detail = layers.span_metrics(
                tracer, op_walls, {r.idx: r.wall for r in log.records}, jobs, stages, offset)
            acts = [spark_env.attribute(jobs, stages, s + offset, e + offset)
                    for s, e in op_walls.values()]
            n = len(acts) or 1
            metrics.update({
                "spark.jobs_per_op": sum(a["jobs"] for a in acts) / n,
                "spark.stages_per_op": sum(a["stages"] for a in acts) / n,
                "spark.tasks_per_op": sum(a["tasks"] for a in acts) / n,
                "spark.job_busy_s": sum(a["job_busy_s"] for a in acts) / n,
                "driver.self_s": sum((e - s) - a["job_busy_s"]
                                     for (s, e), a in zip(op_walls.values(), acts)) / n,
                "spark.shuffle_write_mb": sum(a["shuffle_write_mb"] for a in acts) / n,
                "spark.spill_mb": sum(a["spill_mb"] for a in acts) / n,
                "spark.input_mb": sum(a["input_mb"] for a in acts) / n,
                "jvm.gc_s": sum(a["gc_s"] for a in acts) / n,
            })
            metrics.update(wl_stats)
            metrics.update({"trace.ops_per_s": e2e["ops_per_s"],
                            "process.py_rss_mb": py_mb, "process.jvm_rss_mb": jvm_mb,
                            "process.peak_rss_mb": py_mb + jvm_mb})
            for rec, act in zip(detail["ops"], acts):
                rec["spark"] = act
            detail["spans"] = span_detail
            detail["trace_overhead"] = {
                "note": "tracing overhead = this run's ops_per_s vs the untraced run's "
                        "ops_per_s for the same workload and seed",
                "spans": len(tracer.spans),
                "leaf_calls": sum(v[0] for v in tracer.leaves.values()),
            }
            units = dict(layers.per_layer_names())
        else:
            metrics, units = e2e, END_TO_END
        detail["metrics"] = metrics
        return {
            "correct": log.failed == 0,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }, detail
    finally:
        spark_env.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fluxgraph_spark")):
        print(f"perfbench: no fluxgraph_spark/ package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, detail = run(args)
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
