"""Self-test of the benchmark's counters and contract.

The execution counters must repeat exactly across passes and across
processes, and one injected ``repartition`` must move ``execution.exchanges``
by exactly one. Shuffle *bytes* are compressed sizes: the row order inside a
shuffle block follows task timing, so they drift by a few percent between
passes and are held to ``SHUFFLE_BYTES_TOLERANCE`` instead; the shuffled
record count repeats exactly.

    python3 -m pytest perfbench/test_perfbench.py -q     # ~1 min, 2 JVMs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import run  # noqa: E402
from layers import Tracer  # noqa: E402
from workloads import BENCH_DIR, FIXTURE_DIR, WORKLOADS, op_order  # noqa: E402

COUNTERS = (
    "operators.build_jobs",
    "execution.jobs",
    "execution.stages",
    "execution.tasks",
    "execution.exchanges",
    "execution.shuffle_write_records",
)
SHUFFLE_BYTES = ("execution.shuffle_write_mb", "execution.shuffle_read_mb")
SHUFFLE_BYTES_TOLERANCE = 0.05
# Build-time jobs, a shuffle-heavy action and a driver loop, in ~2 s.
QUERY = "copurchase_components"


def _session():
    for sub in ("tmp", "spark-local"):
        (run.STATE / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(run.worker_env())
    from databricks_spark_sql_challenge1_spark.engine import Engine

    return Engine.local(str(FIXTURE_DIR))


def traced_counters(eng, extra_repartition: bool = False) -> dict:
    spark = eng.spark
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, jvm_pid)
    first = tracer.status.next_execution_id()
    tracer.install()
    try:
        spark.catalog.clearCache()
        op = tracer.begin("selftest")
        t0 = time.perf_counter()
        df = eng.query(QUERY)
        if extra_repartition:
            df = df.repartition(3)
        df.collect()
        tracer.end(op, time.perf_counter() - t0)
    finally:
        tracer.uninstall()
    metrics = tracer.metrics(first)
    return {k: metrics[k] for k in COUNTERS + SHUFFLE_BYTES}


def assert_same_counters(a: dict, b: dict) -> None:
    assert {k: a[k] for k in COUNTERS} == {k: b[k] for k in COUNTERS}
    for k in SHUFFLE_BYTES:
        assert a[k] > 0 and abs(a[k] - b[k]) <= SHUFFLE_BYTES_TOLERANCE * a[k], k


@pytest.fixture(scope="module")
def eng():
    engine = _session()
    yield engine
    engine.spark.stop()


def test_counters_repeat_across_passes(eng):
    first = traced_counters(eng)
    assert first["execution.exchanges"] > 0 and first["operators.build_jobs"] > 0
    assert_same_counters(traced_counters(eng), first)


def test_counters_repeat_across_processes(eng):
    here = traced_counters(eng)
    out = subprocess.run(
        [sys.executable, __file__], capture_output=True, text=True, timeout=300,
        cwd=run.STATE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert_same_counters(json.loads(out.stdout.strip().splitlines()[-1]), here)


def test_extra_repartition_moves_exchanges_by_one(eng):
    base = traced_counters(eng)
    injected = traced_counters(eng, extra_repartition=True)
    assert injected["execution.exchanges"] - base["execution.exchanges"] == 1


def test_seed_permutes_only_query_workloads():
    assert op_order("graph_loops", 3) == op_order("graph_loops", 3)
    orders = {tuple(op_order("graph_loops", s)) for s in range(10)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(WORKLOADS["graph_loops"]["ops"]) for o in orders)
    assert op_order("reference_pipeline", 1) == op_order("reference_pipeline", 2)


def test_benchmark_json_names_what_run_reports():
    spec = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"setup_s", "first_pass_s", "pass_s", "jvm_peak_rss_mb"} == {
        m["name"] for m in spec["end_to_end"]
    }
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


if __name__ == "__main__":
    engine = _session()
    print(json.dumps(traced_counters(engine)))
    engine.spark.stop()
