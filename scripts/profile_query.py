"""Profile one or more bench/registry queries: time N noop-sink runs,
capture .explain("formatted"), and pull per-stage metrics (duration,
shuffle bytes, task counts) from the live UI REST API.

Usage: python scripts/profile_query.py [--sf DIR] [--runs N]
         [--explain-dir DIR] query [query ...]

Mirrors bench.py's session settings (local[$SPARK_GRAFT_CPUS], same
shuffle partitions / AQE / graph materialization) so numbers are
comparable, but enables the UI so stage metrics are scrapeable.
"""

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod


def bench_local(spark, sf_dir):
    import bench

    return bench._bench_local_queries(spark, sf_dir)


def stage_metrics(ui_port):
    base = f"http://localhost:{ui_port}/api/v1/applications"
    with urllib.request.urlopen(base) as r:
        apps = json.load(r)
    app_id = apps[0]["id"]
    with urllib.request.urlopen(f"{base}/{app_id}/stages?status=complete") as r:
        return json.load(r)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument(
        "--no-ckpt-plans",
        action="store_true",
        help="capture explain plans with DataFrame.localCheckpoint as a "
        "no-op, so committed plans show the full lineage instead of "
        "bottoming out in Scan ExistingRDD (r12 VERDICT item 8: plan "
        "evidence must be readable without trusting stage-metric "
        "prose).  Timing runs are NOT affected — the patch applies "
        "only while the plan is built.",
    )
    ap.add_argument("--top-stages", type=int, default=12)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fluxgraph_spark_profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui_port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    if not os.environ.get("SPARK_GRAFT_GRAPH_DIR"):
        from fluxgraph_spark.sources import tpch as tpch_mod

        import re

        m = re.search(r"sf([0-9.]+)", args.sf)
        sf = float(m.group(1)) if m else None
        gdir = os.path.join("/tmp", f"spark_graft_bench_graph_sf{sf}")
        tpch_mod.materialize_graph(spark, args.sf, gdir)
        os.environ["SPARK_GRAFT_GRAPH_DIR"] = gdir
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()

    qs = entrymod.queries()
    qs.update(bench_local(spark, args.sf))

    # the session's concrete DataFrame class: under PySpark 4 the classic
    # class overrides localCheckpoint, so patching pyspark.sql.DataFrame
    # would leave every checkpoint in place
    _DF = type(spark.range(0))

    for name in args.queries:
        fn = qs[name]
        # explain capture (plan shape, not timing)
        if args.no_ckpt_plans:
            real_ckpt = _DF.localCheckpoint
            _DF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
            try:
                df0 = fn(args.sf and spark, args.sf)
            finally:
                _DF.localCheckpoint = real_ckpt  # type: ignore[method-assign]
        else:
            df0 = fn(args.sf and spark, args.sf)
        plan = df0._sc._jvm.PythonSQLUtils.explainString(
            df0._jdf.queryExecution(), "formatted"
        )
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        spark.catalog.clearCache()

        per_run = []
        stages_before = {s["stageId"] for s in stage_metrics(ui_port)}
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}:run{i}")
            t0 = time.time()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            per_run.append(time.time() - t0)
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        runs_s = " ".join(f"{t:.3f}" for t in per_run)
        print(f"\n=== {name}: min {min(per_run):.3f}s  runs [{runs_s}]")
        # stage breakdown for all runs of this query (new stages only)
        stages = [
            s for s in stage_metrics(ui_port)
            if s["stageId"] not in stages_before
        ]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print(f"  {'stage':>6} {'runTime_s':>9} {'tasks':>6} {'shufR_MB':>9} "
              f"{'shufW_MB':>9} {'in_MB':>8}  name")
        for s in stages[: args.top_stages]:
            print(
                f"  {s['stageId']:>6} {(s.get('executorRunTime') or 0)/1e3:>9.2f} "
                f"{s.get('numCompleteTasks', 0):>6} "
                f"{(s.get('shuffleReadBytes') or 0)/1e6:>9.1f} "
                f"{(s.get('shuffleWriteBytes') or 0)/1e6:>9.1f} "
                f"{(s.get('inputBytes') or 0)/1e6:>8.1f}  "
                f"{(s.get('name') or '')[:60]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
