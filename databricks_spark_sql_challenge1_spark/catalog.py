"""Catalog: parquet loaders, temp-view registration, and scalar anchors.

Mirrors the reference's ingestion + session-state pattern:
  - one parquet scan per table (``load_table``), partitioned as the files
    split, with ``events.ts`` normalized to a microsecond timestamp;
  - table registration (ref ``src/TyreStore Challenge.py:65-72``) →
    ``register_views`` (temp views over parquet; no metastore needed);
  - the ``MAX(carts.createdTS)`` scalar pulled to the driver and spliced into
    later SQL (ref ``py:78-82``, SURVEY.md §2 S11/S12) → ``last_order_datetime``
    (cached per sf_dir; the analog anchor is ``MAX(orders.o_orderdate)``).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided SparkSession safe for this engine.

    The driver harness passes its own session to ``entry``/``queries()``
    callables; these confs are runtime-settable and load-bearing:
    nanos-as-long (events.parquet is TIMESTAMP(NANOS)), UTC (date extraction
    must agree with the DuckDB oracle's naive timestamps), AQE on.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some deployments; session.get_spark sets it


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with embedded schema (SURVEY.md §2 S2).

    ``events.ts`` is TIMESTAMP(NANOS) in the fixture parquet — Spark has no
    nanosecond timestamp type, so it is read as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncated to microseconds
    here, matching DuckDB's ns→us truncation exactly.

    The scan keeps the file layout's split partitioning: no repartition is
    added here, so consumers that need a particular distribution ask for it
    in their own plans.
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _heal_events_ts(df)
    return df


def _heal_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a plain ``timestamp`` regardless of how the
    running Spark decodes TIMESTAMP(NANOS) parquet:

    - ``bigint`` (nanosAsLong honored, Spark ≤4.0): truncate ns→us with
      integer division (double division loses precision at ~1e18 nanos);
    - ``timestamp_ntz`` (Spark 4.1+ ignores nanosAsLong and reads NANOS as
      NTZ): cast to ``timestamp`` — the session TZ is pinned UTC, so the
      wall-clock reinterpretation is the identity and oracle semantics are
      unchanged;
    - ``timestamp``: already fine.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each fixture table as a temp view (SURVEY.md §2 S4/S7 analog)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# --- scalar session state (S11/S12) ---------------------------------------

_ANCHOR_CACHE: dict[str, _dt.datetime] = {}


def last_order_datetime(spark: SparkSession, sf_dir: str) -> _dt.datetime:
    """Pull MAX(o_orderdate) to the driver once per sf_dir (ref ``py:78-82``).

    The reference stashes the scalar in Spark conf and lexically splices
    ``${carts.last_datetime}`` into SQL text; the OSS-idiomatic equivalent is a
    Python-side value interpolated into the DataFrame plan (SURVEY.md §4.3.1).
    """
    if sf_dir not in _ANCHOR_CACHE:
        row = (
            load_table(spark, sf_dir, "orders")
            .agg(F.max("o_orderdate").alias("last_datetime"))
            .first()
        )
        if row["last_datetime"] is None:
            # MAX over an empty (or all-NULL-date) orders table is NULL;
            # caching it would lexically splice the string "None" into
            # every anchored trend query — fail loudly at the source
            # instead (engine contract: non-empty base tables, same
            # assumption the reference's py:78-82 scalar pull makes).
            raise ValueError(
                f"orders at {sf_dir} has no o_orderdate rows: the trend "
                "anchor MAX(o_orderdate) is undefined"
            )
        _ANCHOR_CACHE[sf_dir] = row["last_datetime"]
    return _ANCHOR_CACHE[sf_dir]
