"""Expected results for every benchmark operation, from the package's DuckDB
oracles over the benchmark fixtures.

``run.py`` builds the expectations once per checkout and caches them under
``.perfbench/``, keyed by the package sources, the benchmark sources, the
fixture checksums and the DuckDB version.
"""

from __future__ import annotations

from workloads import (
    FIXTURE_DIR,
    FIXTURE_TABLES,
    PIPELINE_EXPORT,
    PIPELINE_MARTS,
    PIPELINE_SANITY,
    WORKLOADS,
    row_digest,
)


def _package_oracles():
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401  (registers)
    from databricks_spark_sql_challenge1_spark.operators.abandonment import (
        NO_PRICE_THRESHOLD,
    )
    from databricks_spark_sql_challenge1_spark.pipeline import ANALYTICS_QUERIES
    from databricks_spark_sql_challenge1_spark.registry import ORACLES

    names = [n for w in WORKLOADS.values() if w["kind"] == "queries" for n in w["ops"]]
    names += [*PIPELINE_SANITY, *ANALYTICS_QUERIES, *PIPELINE_MARTS, PIPELINE_EXPORT]
    missing = [n for n in names if n not in ORACLES]
    if missing:
        raise KeyError(f"no DuckDB oracle registered for {missing}")
    return {n: ORACLES[n] for n in names}, NO_PRICE_THRESHOLD, ANALYTICS_QUERIES


def build() -> dict:
    import duckdb

    oracles, threshold, analytics = _package_oracles()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE_DIR / t}.parquet'")
    expected: dict = {"queries": {}, "analytics": list(analytics)}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        rows = cur.fetchall()
        expected["queries"][name] = row_digest(rows)
        if name == PIPELINE_EXPORT:
            cols = [d[0] for d in cur.description]
            # Columns whose oracle values print the same through Spark's CSV
            # writer (integers and strings); floats and timestamps are
            # covered by the row count and the query digest.
            exact = [
                i
                for i in range(len(cols))
                if all(isinstance(r[i], (int, str)) and not isinstance(r[i], bool) for r in rows)
            ]
            expected["export"] = {
                "columns": cols,
                "exact_columns": exact,
                "values": {cols[i]: sorted(str(r[i]) for r in rows) for i in exact},
            }
    expected["cleaned_rows"] = con.execute(
        "SELECT COUNT(*) FROM orders WHERE o_totalprice >= ?", [threshold]
    ).fetchone()[0]
    con.close()
    return expected
