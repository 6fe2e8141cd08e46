"""The measured process: one fresh interpreter and one Spark JVM per run.

Started by ``run.py`` with a spec file; writes its raw measurements as JSON to
the spec's ``out`` path. It drives the package only through its public API
(``Engine.local``, ``Engine.query``, ``Engine.run_pipeline`` and, when
tracing, ``registry.QUERIES``).

Pass schedule: a cold pass (fresh JIT, empty process memos), then the warm
passes. A traced run instead makes cold, warm, traced, warm: the traced pass
sits between two untraced ones so the tracing overhead is measured against
passes equally warm on either side.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

from layers import Tracer, vm_hwm_mb
from workloads import row_digest


def _query_pass(eng, spec, tracer):
    ops = []
    for name in spec["ops"]:
        eng.spark.catalog.clearCache()
        op = tracer.begin(name) if tracer else None
        t0 = time.perf_counter()
        rows, err = None, None
        try:
            rows = eng.query(name).collect()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            err = f"{type(exc).__name__}: {exc}"[:500]
        wall = time.perf_counter() - t0
        if tracer:
            tracer.end(op, wall)
        observed = row_digest(rows) if rows is not None else None
        ops.append({"op": name, "wall_s": wall, "error": err, "observed": observed})
    return ops


def _pipeline_observed(res) -> dict:
    with open(res.export_path) as f:
        lines = f.read().splitlines()
    return {
        "sanity": {name: row_digest(rows) for name, rows in res.sanity.items()},
        "cleaned_rows": res.cleaned_rows,
        "analytics": res.analytics,
        "marts": res.marts,
        "export": {
            "columns": lines[0].split("|") if lines else [],
            "rows": [line.split("|") for line in lines[1:]],
        },
    }


def _pipeline_pass(eng, spec, tracer, idx):
    work = Path(spec["state"]) / "work" / f"pass-{idx}"
    shutil.rmtree(work, ignore_errors=True)
    work.parent.mkdir(parents=True, exist_ok=True)
    eng.spark.catalog.clearCache()
    op = tracer.begin("run_pipeline") if tracer else None
    t0 = time.perf_counter()
    res, err = None, None
    try:
        res = eng.run_pipeline(str(work))
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        err = f"{type(exc).__name__}: {exc}"[:500]
    wall = time.perf_counter() - t0
    if tracer:
        tracer.end(op, wall)
    observed = _pipeline_observed(res) if res is not None else None
    shutil.rmtree(work, ignore_errors=True)
    return [{"op": "run_pipeline", "wall_s": wall, "error": err, "observed": observed}]


def run_pass(eng, spec, idx, mode, jvm_pid) -> dict:
    tracer = Tracer(eng.spark, jvm_pid) if mode == "traced" else None
    if tracer:
        first_execution = tracer.status.next_execution_id()
        tracer.install()
    try:
        if spec["kind"] == "pipeline":
            ops = _pipeline_pass(eng, spec, tracer, idx)
        else:
            ops = _query_pass(eng, spec, tracer)
    finally:
        if tracer:
            tracer.uninstall()
    layers = tracer.metrics(first_execution) if tracer else None
    return {
        "mode": mode,
        "wall_s": sum(o["wall_s"] for o in ops),
        "ops": ops,
        "layers": layers,
    }


def _stamp(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "jvm_gc_s": sum(
            b.getCollectionTime()
            for b in sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        / 1e3,
    }


def _shutdown(spark) -> None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    t0 = time.monotonic()
    from databricks_spark_sql_challenge1_spark.engine import Engine

    t1 = time.monotonic()
    eng = Engine.local(spec["fixture"])
    t2 = time.monotonic()
    eng.spark.range(1).count()
    t3 = time.monotonic()

    spark = eng.spark
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    if spec["trace"]:
        schedule = ["cold", "warm", "traced", "warm"]
    else:
        schedule = ["cold"] + ["warm"] * spec["warm_passes"]
    passes = [run_pass(eng, spec, i, mode, jvm_pid) for i, mode in enumerate(schedule)]
    result = {
        "t_ready": t3,
        "import_s": t1 - t0,
        "get_spark_s": t2 - t1,
        "first_job_s": t3 - t2,
        "jvm_pid": jvm_pid,
        "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid),
        "stamp": _stamp(spark),
        "passes": passes,
    }
    out = Path(spec["out"])
    out.write_text(json.dumps(result))
    _shutdown(spark)


if __name__ == "__main__":
    main()
