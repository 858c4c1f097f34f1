"""Relational / analytic queries (SURVEY.md §2.F + §7 M4).

The reference has NO relational operators (SURVEY §2.F: no joins, no SQL,
no sort/limit/top-k, no scalar function library — users write arbitrary JVM
code inside Tasks). Everything here is the relational breadth a user of the
reference writes by hand inside `Task.onNext`, re-expressed declaratively so
Catalyst gets pushdown / pruning / join planning — strict upside vs the
reference's "the DAG you write is the DAG that runs" (SURVEY §4.1,
reference: streaming/src/main/scala/io/gearpump/streaming/StreamApplication.scala:44-57).

Scale notes are on each query: join strategy, shuffle keys, why the plan
survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gearpump_spark.datasets import table
from gearpump_spark.functions import hash as H
from gearpump_spark.functions.exact import (
    davg,
    dec,
    dsum,
    out_double,
    sql_davg,
    sql_dec,
    sql_dsum,
    sql_out_double,
)
from gearpump_spark.operators import sampling as SP
from gearpump_spark.queries import register

# ---------------------------------------------------------------------------
# TPC-H-style core
# ---------------------------------------------------------------------------

# l_extendedprice * (1 - l_discount) as an exact decimal product, and the
# rounded double of its sum.
SQL_DISC_PRICE = f"{sql_dec('l_extendedprice')} * {sql_dec('1.0 - l_discount')}"
SQL_REVENUE = sql_out_double(f"SUM({SQL_DISC_PRICE})")


def disc_price():
    return dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"))


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {SQL_REVENUE} AS sum_disc_price,
           {sql_out_double(f"SUM({sql_dec('l_extendedprice')} * {sql_dec('(1.0 - l_discount) * (1.0 + l_tax)', 8)})")} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    desc="TPC-H Q1 pricing summary: scan + partial agg, 8 aggregates",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy group-by. Scale: filter + 7-column projection push into
    the parquet scan; aggregation is map-side partial then a 6-group
    exchange — shuffle volume is O(groups), not O(rows)."""
    li = table(spark, sf_dir, "lineitem")
    charge = dec("l_extendedprice") * dec(
        (F.lit(1.0) - F.col("l_discount")) * (F.lit(1.0) + F.col("l_tax")), 8
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            out_double(F.sum(disc_price())).alias("sum_disc_price"),
            out_double(F.sum(charge)).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {SQL_REVENUE} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30'
      AND l_shipdate > TIMESTAMP '1997-06-30'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    desc="TPC-H Q3: 3-way join + agg + deterministic top-10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: customer filtered on segment (~1/5) joins orders on custkey —
    both shuffle on the join key; lineitem joins on orderkey. Top-10 via
    TakeOrderedAndProject (no global sort materialization)."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-30").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(out_double(F.sum(disc_price())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {SQL_REVENUE} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    desc="TPC-H Q5: 6-way join, broadcast dims, group by nation",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: region/nation are constant-size → broadcast (no shuffle);
    supplier is SF-small → broadcast below ~10 GB; the big fact joins
    (orders⋈lineitem on orderkey, ⋈customer on custkey) shuffle on their
    keys and AQE handles skew."""
    region = F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    supplier = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey) & (cust.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(out_double(F.sum(disc_price())).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q6_revenue_forecast",
    oracle=f"""
    SELECT {sql_out_double(f"SUM({sql_dec('l_extendedprice')} * {sql_dec('l_discount')})")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
    desc="TPC-H Q6: pure filter + single-row agg (pushdown showcase)",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: all four predicates push to the parquet scan (row-group
    skipping on shipdate); only 3 columns read; result is one row — shuffle
    volume is one partial per task."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.04, 0.08))
        & (F.col("l_quantity") < 24)
    ).agg(out_double(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias("revenue"))


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {SQL_REVENUE} AS revenue,
           c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    desc="TPC-H Q10: returned-item revenue by customer, top 20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: nation broadcast; lineitem filtered on returnflag before the
    join (predicate below the join via Catalyst)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(out_double(F.sum(disc_price())).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q18_large_volume_customer",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_totalprice,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_totalprice
    HAVING SUM({sql_dec('l_quantity')}) > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
    desc="TPC-H Q18: group-by + HAVING over a join",
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the agg and both joins share the orderkey/custkey shuffle
    keys; HAVING is a post-agg filter (tiny)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 150)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            out_double(F.col("_sq")).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Joins: semi / anti / outer / cross (SURVEY §2.F — absent in reference)
# ---------------------------------------------------------------------------


@register(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
    desc="left-semi join (EXISTS)",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join never duplicates the probe side — at scale this beats
    join+distinct because only the key column of orders is shuffled."""
    cust = table(spark, sf_dir, "customer")
    pending = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(pending, cust.c_custkey == pending.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
    desc="left-anti join (NOT EXISTS)",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    pending = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(pending, cust.c_custkey == pending.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q_outer_join_counts",
    oracle=f"""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           {sql_out_double(f"COALESCE(SUM({sql_dec('o_totalprice')}), 0)")} AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
    desc="left outer join preserving zero-order customers",
)
def q_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            out_double(F.coalesce(F.sum(dec("o_totalprice")), dec(F.lit(0)))).alias(
                "total_spend"
            ),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_cross_join_broadcast",
    oracle="""
    SELECT r_name, s.o_orderstatus AS status,
           CONCAT(r_name, ':', s.o_orderstatus) AS tag
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    ORDER BY r_name, status
    """,
    desc="BroadcastPartitioner analog: replicate small side to all partitions "
    "(reference: streaming/.../partitioner/BroadcastPartitioner.scala:20-32)",
)
def q_cross_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's BroadcastPartitioner sends every message to all
    downstream tasks; the Spark-native analog is a broadcast nested-loop
    join — the small side ships once per executor, not per row."""
    region = table(spark, sf_dir, "region")
    statuses = table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return (
        region.crossJoin(F.broadcast(statuses))
        .select(
            "r_name",
            F.col("o_orderstatus").alias("status"),
            F.concat_ws(":", "r_name", "o_orderstatus").alias("tag"),
        )
        .orderBy("r_name", "status")
    )


# ---------------------------------------------------------------------------
# Aggregation breadth: distinct, rollup/cube, pivot, stats, having
# ---------------------------------------------------------------------------


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",
    desc="distinct (absent in reference, SURVEY §2.F)",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    desc="exact distinct aggregation (reference has none, SURVEY §2.F)",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    desc="rollup hierarchy totals",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    desc="cube over two dimensions",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


@register(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    desc="pivot (conditional aggregation)",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .orderBy("o_orderpriority")
    )
    # pivot yields null for empty cells; conditional COUNT yields 0
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("O", "F", "P")],
    )


@register(
    "q_agg_stats",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           {sql_davg('o_totalprice')} AS avg_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    desc="min/max/avg/count statistics per group",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
            davg("o_totalprice").alias("avg_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_groupby_having",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS total_qty
    FROM lineitem GROUP BY l_suppkey
    HAVING COUNT(*) > 50
    ORDER BY n_items DESC, l_suppkey
    """,
    desc="group-by with HAVING post-filter",
)
def q_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("total_qty"))
        .filter(F.col("n_items") > 50)
        .orderBy(F.desc("n_items"), "l_suppkey")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k, window functions
# ---------------------------------------------------------------------------


@register(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    desc="global top-k: TakeOrderedAndProject, no full sort",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ORDER BY + LIMIT compiles to per-partition top-k + driver
    merge — never a global sort of 100 TB."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part)
    WHERE rn <= 3
    ORDER BY p_brand, rn
    """,
    desc="top-k per group via ranking window function",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash shuffle on the group key + per-partition sort; with
    many groups this stays fully parallel (no global sort)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        table(spark, sf_dir, "part")
        .select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("p_brand", "rn")
    )


@register(
    "q_window_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_out_double(f"SUM({sql_dec('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
             AS running_spend,
           CAST(LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
             AS prev_price,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS order_seq
    FROM orders
    ORDER BY o_custkey, order_seq
    """,
    desc="analytic window functions: running sum, lag, row_number",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            out_double(
                F.sum(dec("o_totalprice")).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            ).alias("running_spend"),
            # raw double both sides: lag moves a value without arithmetic,
            # so no decimal rounding — the oracle is CAST(LAG(..) AS DOUBLE)
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.row_number().over(w).cast("bigint").alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    SELECT 'both' AS side, n_nationkey AS nationkey FROM (
        SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'cust_only' AS side, n_nationkey FROM (
        SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey FROM supplier)
    ORDER BY side, nationkey
    """,
    desc="INTERSECT / EXCEPT / UNION ALL (reference only has Flatten=union, "
    "SURVEY §2.D: translators/FlattenPCollectionsTranslator.java:33-60)",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_nk = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nk = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cust_nk.intersect(supp_nk).select(F.lit("both").alias("side"), "nationkey")
    cust_only = cust_nk.exceptAll(supp_nk).select(F.lit("cust_only").alias("side"), "nationkey")
    return both.unionByName(cust_only).orderBy("side", "nationkey")


# ---------------------------------------------------------------------------
# Scalar function library (reference runs these as arbitrary JVM code in
# Tasks; SURVEY §2.F — we expose Spark's codegen'd built-ins)
# ---------------------------------------------------------------------------


@register(
    "q_scalar_string_date_math",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority) AS prio_upper,
           SUBSTRING(o_orderpriority, 1, 3) AS prio_pre,
           CAST(LENGTH(o_orderstatus) AS BIGINT) AS len_status,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS tag,
           REPLACE(o_orderpriority, '-', '_') AS prio_u,
           REVERSE(o_orderstatus) AS rev_status,
           CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
           CAST(DAY(o_orderdate) AS BIGINT) AS dom,
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS TIMESTAMP) AS due_date,
           CAST(DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
           ROUND(ABS(o_totalprice - 100000.0), 2) AS absdiff,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket_k,
           ROUND(SQRT(o_totalprice), 6) AS sqrt_price,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'small' END AS size_class
    FROM orders ORDER BY o_orderkey
    """,
    desc="scalar string/date/math function battery",
)
def q_scalar_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 3).alias("prio_pre"),
        F.length("o_orderstatus").cast("bigint").alias("len_status"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_u"),
        F.reverse("o_orderstatus").alias("rev_status"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp").alias("due_date"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("absdiff"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("bucket_k"),
        F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("size_class"),
    ).orderBy("o_orderkey")


@register(
    "q_array_ops",
    oracle="""
    SELECT p_partkey,
           ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(p_type, ' ')), '|') AS sorted_tokens,
           CAST(LEN(STRING_SPLIT(p_type, ' ')) AS BIGINT) AS n_tokens,
           LIST_CONTAINS(STRING_SPLIT(p_type, ' '), 'BRUSHED') AS has_brushed
    FROM part ORDER BY p_partkey
    """,
    desc="array construction/sort/contains (reference payloads are opaque "
    "Any — we give arrays first-class typed columns, SURVEY §1.3)",
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    toks = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.array_join(F.sort_array(toks), "|").alias("sorted_tokens"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.array_contains(toks, "BRUSHED").alias("has_brushed"),
    ).orderBy("p_partkey")


def _zorder_oracle() -> str:
    """Mirror of operators/physical.py zorder_key at bits=16 over
    (o_custkey, days-since-1992) — the interleave unrolls to 32 shift/mask
    terms, generated here so the formula can't drift from the Spark side."""
    terms = " + ".join(
        f"(((xn >> {i}) & 1) << {2 * i + 1}) + (((yn >> {i}) & 1) << {2 * i})"
        for i in range(16)
    )
    return f"""
    WITH base AS (
      SELECT CAST(o_custkey AS BIGINT) AS x,
             CAST(DATEDIFF('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS y
      FROM orders),
    b AS (SELECT MIN(x) AS minx, MAX(x) AS maxx,
                 MIN(y) AS miny, MAX(y) AS maxy FROM base),
    norm AS (
      SELECT ((x - minx) * 65535) // GREATEST(maxx - minx, 1) AS xn,
             ((y - miny) * 65535) // GREATEST(maxy - miny, 1) AS yn
      FROM base CROSS JOIN b),
    z AS (SELECT xn, yn, {terms} AS zkey FROM norm)
    SELECT zkey >> 28 AS bucket, COUNT(*) AS n,
           MIN(xn) AS min_x, MAX(xn) AS max_x,
           MIN(yn) AS min_y, MAX(yn) AS max_y
    FROM z GROUP BY bucket ORDER BY bucket
    """


@register(
    "q_zorder_layout",
    oracle=_zorder_oracle(),
    desc="Z-order (Morton) multi-dimensional layout: interleave "
    "(o_custkey, order-day) into one BIGINT sort key and report per-bucket "
    "min/max spans of BOTH dims — each of the 16 buckets covers ~1/4 of "
    "each dimension's range (a 1-D sort leaves the other dim at 100%), "
    "which is what makes file-level min/max skipping selective on every "
    "z-ordered column at 100 TB (Delta/Iceberg OPTIMIZE ZORDER analog; "
    "the reference's partitioners route but never order)",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/physical.py zorder_key/zorder_normalize: one O(1)-row
    bounds agg broadcast back in-plan, then pure-integer shift/mask
    interleave (whole-stage codegen, no UDF), one groupBy on the 16
    bucket values. Bucket = top-4 bits of the 32-bit code — fixed
    boundaries, no global sort, scale-free."""
    from gearpump_spark.operators.physical import zorder_key, zorder_normalize

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("y"),
    )
    b = base.agg(
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    )
    withb = base.crossJoin(F.broadcast(b))
    xn = zorder_normalize(F.col("x"), F.col("minx"), F.col("maxx"))
    yn = zorder_normalize(F.col("y"), F.col("miny"), F.col("maxy"))
    zkey = zorder_key(
        [F.col("x"), F.col("y")],
        [(F.col("minx"), F.col("maxx")), (F.col("miny"), F.col("maxy"))],
    )
    return (
        withb.select(
            F.shiftright(zkey, 28).alias("bucket"),
            xn.alias("xn"),
            yn.alias("yn"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("xn").alias("min_x"),
            F.max("xn").alias("max_x"),
            F.min("yn").alias("min_y"),
            F.max("yn").alias("max_y"),
        )
        .orderBy("bucket")
    )


@register(
    "q_compaction_plan",
    oracle="""
    WITH files AS (
        SELECT source, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY source, lang),
    ordered AS (
        SELECT *,
               COALESCE(SUM(bytes) OVER (ORDER BY bytes, source, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM files),
    binned AS (
        SELECT source, lang, n_docs, bytes,
               CAST(cum_before // 16384 AS BIGINT) AS bin
        FROM ordered)
    SELECT source, lang, n_docs, bytes, bin,
           CAST(SUM(bytes) OVER (PARTITION BY bin) AS BIGINT) AS bin_bytes,
           CAST(COUNT(*) OVER (PARTITION BY bin) AS BIGINT) AS bin_files
    FROM binned ORDER BY source, lang
    """,
    desc="small-file compaction planner (OPTIMIZE-style bin packing): "
    "treat each (source, lang) slice as a file, order size-ascending, "
    "assign merge bins by cumulative-size range (bin = cum_before div "
    "16KB target) — the shuffle-free, sequential-dependency-free "
    "approximation of greedy packing: every bin lands in "
    "[target - max_file, target + max_file), and the assignment is a "
    "pure window over the FILE INVENTORY (never the data)",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse maintenance: the planner runs on file metadata (one row
    per file), so at 100 TB the window sorts ~10^6 inventory rows while
    the actual rewrite is embarrassingly parallel per bin. Range-packing
    (floor(cum/target)) instead of greedy first-fit: no sequential scan
    dependency, deterministic, and bin overshoot is bounded by one file."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("bytes"),
    )
    w = W.orderBy("bytes", "source", "lang")
    ordered = files.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("bytes").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    )
    binned = ordered.select(
        "source",
        "lang",
        "n_docs",
        "bytes",
        F.floor(F.col("cum_before") / 16384).cast("long").alias("bin"),
    )
    wb = W.partitionBy("bin")
    return binned.select(
        "source",
        "lang",
        "n_docs",
        "bytes",
        "bin",
        F.sum("bytes").over(wb).cast("long").alias("bin_bytes"),
        F.count("*").over(wb).cast("long").alias("bin_files"),
    ).orderBy("source", "lang")


# ---------------------------------------------------------------------------
# r5 addition: snapshot diff (CDC bootstrap)
# ---------------------------------------------------------------------------

# Deterministic simulated snapshots of `orders`: "old" drops the keys whose
# seeded bucket lands in the top 5%, "new" drops the bottom 3% and bumps
# o_totalprice by 10% for keys with hash % 7 == 0 — inserts, deletes, and
# updates, all reproducible on both engines.
_SNAP_SEED = 21


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH hashed AS (
        SELECT o_orderkey, o_totalprice,
               {H.sql_hash15("o_orderkey", _SNAP_SEED)} AS h
        FROM orders),
    old AS (
        SELECT o_orderkey, {sql_dec("o_totalprice")} AS price
        FROM hashed WHERE {SP.sql_hash_bucket("o_orderkey", _SNAP_SEED)} < 9500),
    new AS (
        SELECT o_orderkey,
               CASE WHEN (h % 7) = 0
                    THEN {sql_dec("o_totalprice")} * 1.1
                    ELSE {sql_dec("o_totalprice")} END AS price
        FROM hashed WHERE {SP.sql_hash_bucket("o_orderkey", _SNAP_SEED)} >= 300)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'updated' END AS change_type,
           CAST(o.price AS DOUBLE) AS old_price,
           CAST(n.price AS DOUBLE) AS new_price
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
          OR o.price <> n.price
    ORDER BY o_orderkey
    """,
    desc="snapshot diff (CDC bootstrap): full-outer join of two table "
    "versions on the key, classifying every row as inserted / deleted / "
    "updated — the change feed you compute when no CDC log exists; "
    "unchanged rows are filtered before the result ever leaves the join",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed shuffle per side into a sort-merge full-outer join; at
    100 TB both snapshots bucket by the key so the diff is co-located
    (and day-over-day snapshots of the same table share layout). The
    unchanged-row filter sits ON the join output, before any projection
    widens it."""
    od = table(spark, sf_dir, "orders")
    hashed = od.select(
        "o_orderkey",
        "o_totalprice",
        H.hash15(F.col("o_orderkey"), _SNAP_SEED).alias("h"),
    )
    price = dec("o_totalprice")
    bucket = SP.hash_bucket(F.col("o_orderkey"), _SNAP_SEED)
    old = hashed.where(bucket < 9500).select("o_orderkey", price.alias("price"))
    new = hashed.where(bucket >= 300).select(
        "o_orderkey",
        # decimal literal, NOT F.lit(1.1): a bare 1.1 is a DOUBLE in Spark
        # but an exact DECIMAL(2,1) in DuckDB — the product would silently
        # go through float on one side only
        F.when((F.col("h") % 7) == 0, price * F.lit("1.1").cast("decimal(2,1)"))
        .otherwise(price)
        .alias("price"),
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    return (
        j.where(
            F.col("o.o_orderkey").isNull()
            | F.col("n.o_orderkey").isNull()
            | (F.col("o.price") != F.col("n.price"))
        )
        .select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("o.o_orderkey").isNull(), F.lit("inserted"))
            .when(F.col("n.o_orderkey").isNull(), F.lit("deleted"))
            .otherwise(F.lit("updated"))
            .alias("change_type"),
            F.col("o.price").cast("double").alias("old_price"),
            F.col("n.price").cast("double").alias("new_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q_file_skip_stats",
    oracle=f"""
    WITH tagged AS (
        SELECT l_shipdate,
               CAST(STRFTIME(l_shipdate, '%Y%m') AS INT) * 4
                 + CAST({H.sql_hash15("l_orderkey", 13)} % 4 AS INT)
                 AS file_clustered,
               CAST({H.sql_hash15("l_orderkey", 13)} % 64 AS INT)
                 AS file_scattered
        FROM lineitem),
    layouts AS (
        SELECT 'clustered' AS layout, file_clustered AS file_id, l_shipdate
        FROM tagged
        UNION ALL
        SELECT 'scattered', file_scattered, l_shipdate FROM tagged),
    zones AS (
        SELECT layout, file_id, COUNT(*) AS n_rows,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
        FROM layouts GROUP BY layout, file_id)
    SELECT layout, file_id, CAST(n_rows AS BIGINT) AS n_rows,
           min_ship, max_ship,
           (max_ship < DATE '1995-01-01' OR min_ship > DATE '1995-03-31')
             AS can_skip
    FROM zones ORDER BY layout, file_id
    """,
    desc="zone-map file-skipping accounting: the same rows laid out two "
    "ways — shipdate-clustered files vs hash-scattered files — with "
    "per-file min/max zone maps and the skip verdict for a Q1-95 date "
    "predicate; the quantified argument for clustering/Z-order (the "
    "scattered layout skips ~nothing, the clustered one skips almost "
    "everything outside the window)",
)
def q_file_skip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle per layout (union of two groupBys over the same scan);
    file counts are bounded (months x 4, 64), so the result always
    broadcasts. This is the accounting a table-format metadata layer
    (Iceberg/Delta stats) maintains incrementally."""
    li = table(spark, sf_dir, "lineitem")
    h = H.hash15(F.col("l_orderkey"), 13)
    tagged = li.select(
        "l_shipdate",
        (
            F.date_format("l_shipdate", "yyyyMM").cast("int") * 4 + (h % 4).cast("int")
        ).alias("file_clustered"),
        (h % 64).cast("int").alias("file_scattered"),
    )
    # ONE scan for both layouts: a union of two projections over the same
    # source reads the fact table twice — at 100 TB the scan is the
    # dominant cost, so the two layout rows explode from each input row
    # instead (narrow, scan-local)
    layouts = tagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("clustered").alias("layout"),
                    F.col("file_clustered").alias("file_id"),
                ),
                F.struct(
                    F.lit("scattered").alias("layout"),
                    F.col("file_scattered").alias("file_id"),
                ),
            )
        ).alias("lf"),
        "l_shipdate",
    ).select("lf.layout", "lf.file_id", "l_shipdate")
    zones = layouts.groupBy("layout", "file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    return zones.select(
        "layout",
        "file_id",
        "n_rows",
        "min_ship",
        "max_ship",
        (
            (F.col("max_ship") < F.lit("1995-01-01").cast("date"))
            | (F.col("min_ship") > F.lit("1995-03-31").cast("date"))
        ).alias("can_skip"),
    ).orderBy("layout", "file_id")
