"""Workload definitions shared by the orchestrator (``run.py``), the measured
worker (``worker.py``) and the oracle module (``oracle.py``).

A workload is a list of operations. One pass runs every operation once; the
seed only permutes the operation order of query workloads (the pipeline's
stage order is semantic and stays fixed). The program itself only ever
receives the fixture directory.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

PACKAGE = "databricks_spark_sql_challenge1_spark"
BENCH_DIR = Path(__file__).resolve().parent
FIXTURE_DIR = BENCH_DIR / "fixtures" / "sf0.01"
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ``kind`` selects how worker.py runs a pass: "pipeline" calls
# Engine.run_pipeline once per pass, "queries" collects Engine.query(name)
# for each name. ``nominal_pass_s`` is the warm pass on the 4-core reference
# host (README.md); --seconds buys one warm pass per whole nominal pass, at
# least one. The count is fixed, so every run of a workload takes the same
# samples.
WORKLOADS: dict[str, dict] = {
    "reference_pipeline": {
        "kind": "pipeline",
        "nominal_pass_s": 15,
        "ops": ("run_pipeline",),
    },
    "graph_loops": {
        "kind": "queries",
        "nominal_pass_s": 12,
        "ops": (
            "dedup_embedding_clusters",
            "copurchase_components",
            "copurchase_pagerank",
            "similarity_ann_methods",
        ),
    },
}

# Registered names whose oracles check the pipeline's PipelineResult.
PIPELINE_SANITY = ("count_distinct_orders", "orders_no_price", "valid_orders")
PIPELINE_MARTS = ("abandonment_by_month", "abandonment_by_day")
PIPELINE_EXPORT = "order_export_denorm"


def op_order(workload: str, seed: int) -> list[str]:
    ops = list(WORKLOADS[workload]["ops"])
    if WORKLOADS[workload]["kind"] == "queries":
        random.Random(seed).shuffle(ops)
    return ops


def warm_passes(workload: str, seconds: int) -> int:
    return max(1, seconds // WORKLOADS[workload]["nominal_pass_s"])


def row_digest(rows) -> dict:
    """Digest of the order-insensitive row-string form of
    ``tools/parity_sweep.py``."""
    strings = sorted(tuple(str(x) for x in r) for r in rows)
    return {
        "rows": len(strings),
        "sha256": hashlib.sha256(repr(strings).encode()).hexdigest(),
    }
