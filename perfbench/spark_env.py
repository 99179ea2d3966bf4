"""The benchmark's Spark session: one local[<nproc>] driver whose scratch,
warehouse and temp files all live under the run's work directory, a
pinned calibration probe, per-op job attribution from the local UI REST
API (traced runs only), and a shutdown that waits for the JVM to exit."""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import tempfile
import time
import urllib.request

from harness import covered, cpu_ticks, loadavg, vm_kb


def start(work: str, traced: bool):
    """Start the session.  The JVM inherits TMPDIR/SPARK_LOCAL_DIRS so its
    scratch files stay inside ``work``."""
    cores = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", tmp)
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.ui.enabled", "true" if traced else "false")
        .config("spark.ui.port", "0")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "200")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the context, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    proc = gw.proc
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def calibrate(spark) -> dict:
    """Pinned trivial probe (one range scan + one aggregate, 3 timed runs)
    plus /proc/loadavg and /proc/stat ticks: a run on a loaded box shows
    up in the artifact."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(4_000_000).selectExpr("sum(id)").collect()
        runs.append(time.perf_counter() - t0)
    return {"probe_s": runs, "probe_min_s": min(runs), "loadavg": loadavg(),
            "cpu_ticks": cpu_ticks(), "cpus": os.cpu_count()}


def peak_rss_mb(spark) -> tuple[float, float]:
    """(python, jvm) peak resident set in MB, from /proc VmHWM."""
    return vm_kb(os.getpid(), "VmHWM") / 1024.0, vm_kb(jvm_pid(spark), "VmHWM") / 1024.0


# --------------------------------------------------------------------------
# REST job/stage attribution (traced runs)
# --------------------------------------------------------------------------


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_activity(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs (with wall-clock start/end) and stages seen by the UI."""
    jobs = []
    for j in _rest(spark, "jobs"):
        if "submissionTime" not in j:
            continue
        end = _ts(j["completionTime"]) if j.get("completionTime") else time.time()
        jobs.append({"id": j["jobId"], "start": _ts(j["submissionTime"]), "end": end,
                     "stages": j["stageIds"], "tasks": j["numTasks"]})
    stages = {}
    for s in _rest(spark, "stages"):
        sid = s["stageId"]
        if sid in stages and stages[sid]["attempt"] > s["attemptId"]:
            continue
        stages[sid] = {
            "attempt": s["attemptId"],
            "tasks": s["numTasks"],
            "status": s["status"],
            "shuffle_write_b": s.get("shuffleWriteBytes", 0),
            "spill_b": s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
            "input_b": s.get("inputBytes", 0),
            "gc_ms": s.get("jvmGcTime", 0),
        }
    return jobs, stages


def attribute(jobs: list[dict], stages: dict[int, dict], start: float, end: float) -> dict:
    """Spark work of the op whose wall-clock interval is [start, end]: the
    single closed-loop client means every job submitted inside the
    interval belongs to that op, whichever engine thread submitted it."""
    mine = [j for j in jobs if start - 0.002 <= j["start"] <= end + 0.002]
    run_stages = [stages[s] for j in mine for s in j["stages"]
                  if s in stages and stages[s]["status"] != "SKIPPED"]
    return {
        "jobs": len(mine),
        "stages": len(run_stages),
        "tasks": sum(s["tasks"] for s in run_stages),
        "job_busy_s": covered(start, end, [(j["start"], j["end"]) for j in mine]),
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in run_stages) / 2**20,
        "spill_mb": sum(s["spill_b"] for s in run_stages) / 2**20,
        "input_mb": sum(s["input_b"] for s in run_stages) / 2**20,
        "gc_s": sum(s["gc_ms"] for s in run_stages) / 1e3,
    }
