"""Reference query #14 (``py:531-546``): the 7-table denormalized export.

Mixed LEFT/RIGHT join chain (J6 — outer joins are order-sensitive, the chain
is preserved verbatim in both engines), grouped on 8 order-level keys with
entry-level aggregates, top-50 by order value. The single-file pipe-delimited
export of this result (S8/S9) lives in ``sources.export``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_spark_sql_challenge1_spark.catalog import load_table
from databricks_spark_sql_challenge1_spark.registry import query


@query(
    "order_export_denorm",
    oracle="""
SELECT o.o_orderkey AS order_key,
       o.o_orderdate AS order_date,
       o.o_totalprice AS order_totalprice,
       o.o_orderpriority AS order_priority,
       c.c_name AS customer_name,
       c.c_mktsegment AS mktsegment,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       ROUND(CAST(COALESCE(SUM(l.l_quantity), 0) AS DOUBLE), 2) AS sum_quantity,
       COUNT(l.l_linenumber) AS count_entries,
       ROUND(CAST(COALESCE(SUM(p.p_retailprice), 0) AS DOUBLE), 2) AS sum_part_retail,
       COUNT(DISTINCT s.s_suppkey) AS distinct_suppliers
FROM lineitem l
RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
RIGHT JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN part p ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice, o.o_orderpriority,
         c.c_name, c.c_mktsegment, n.n_name, r.r_name
ORDER BY order_totalprice DESC NULLS LAST, order_key ASC NULLS FIRST,
         customer_name ASC NULLS FIRST, region_name ASC NULLS FIRST
LIMIT 50
""",
)
def order_export_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref #14: analog of the carts|users|paymentmodes|... export join.

    Join-type mapping mirrors the reference chain (cartentries RIGHT carts
    RIGHT users LEFT paymentmodes LEFT paymentinfos RIGHT cmssitelp LEFT
    addresses → lineitem RIGHT orders RIGHT customer LEFT nation RIGHT region
    LEFT part LEFT supplier). RIGHT customer keeps order-less customers
    (NULL order_key groups); RIGHT region keeps every region.

    Scale note: the dims (customer/nation/region/part/supplier) broadcast;
    only lineitem⋈orders shuffles — and AQE may convert even that to
    broadcast at small SF.
    """
    l = load_table(spark, sf_dir, "lineitem").alias("l")
    o = load_table(spark, sf_dir, "orders").alias("o")
    c = load_table(spark, sf_dir, "customer").alias("c")
    n = load_table(spark, sf_dir, "nation").alias("n")
    r = load_table(spark, sf_dir, "region").alias("r")
    p = load_table(spark, sf_dir, "part").alias("p")
    s = load_table(spark, sf_dir, "supplier").alias("s")
    joined = (
        l.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"), "right")
        .join(c, F.col("o.o_custkey") == F.col("c.c_custkey"), "right")
        .join(n, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
        .join(r, F.col("n.n_regionkey") == F.col("r.r_regionkey"), "right")
        .join(p, F.col("l.l_partkey") == F.col("p.p_partkey"), "left")
        .join(s, F.col("l.l_suppkey") == F.col("s.s_suppkey"), "left")
    )
    return (
        joined.groupBy(
            F.col("o.o_orderkey").alias("order_key"),
            F.col("o.o_orderdate").alias("order_date"),
            F.col("o.o_totalprice").alias("order_totalprice"),
            F.col("o.o_orderpriority").alias("order_priority"),
            F.col("c.c_name").alias("customer_name"),
            F.col("c.c_mktsegment").alias("mktsegment"),
            F.col("n.n_name").alias("nation_name"),
            F.col("r.r_name").alias("region_name"),
        )
        .agg(
            F.round(F.coalesce(F.sum("l.l_quantity"), F.lit(0.0)), 2).alias(
                "sum_quantity"
            ),
            F.count("l.l_linenumber").alias("count_entries"),
            F.round(F.coalesce(F.sum("p.p_retailprice"), F.lit(0.0)), 2).alias(
                "sum_part_retail"
            ),
            F.countDistinct("s.s_suppkey").alias("distinct_suppliers"),
        )
        .orderBy(
            F.col("order_totalprice").desc_nulls_last(),
            F.col("order_key").asc_nulls_first(),
            F.col("customer_name").asc_nulls_first(),
            F.col("region_name").asc_nulls_first(),
        )
        .limit(50)
    )
