"""Relational operator registry over the TPC-H-ish tables.

The reference has *no* relational operators — no joins, no filters, no
windows (SURVEY.md §2.2): its whole plan is scan → flatMap → exchange →
sort-group → reduce. This module is the "same query capabilities,
idiomatic Spark" extension surface (SURVEY.md §7.2 step 3): every
standard operator family, declared via the DataFrame API so Catalyst
does pushdown/pruning/join-selection, with DuckDB oracles.

Scale notes (100 TB):
- Filters/projections are expressed on base columns before joins/aggs so
  they reach the parquet scan (PushedFilters / ReadSchema) — verified by
  tests/test_plans.py.
- Dimension joins (region/nation/supplier-sized) are broadcast — no
  shuffle of the fact table; fact-fact joins (orders⋈lineitem) are
  sort-merge/shuffle-hash on the join key, which AQE re-plans at runtime.
- Aggregates get partial (map-side) combine before the exchange
  automatically; count(distinct) compiles to a two-stage expand+agg.
- Window functions shuffle once per distinct partitioning; queries here
  partition on keys with bounded group sizes (custkey, suppkey, user_id),
  never on a constant (no global windows).
- Top-k uses TakeOrderedAndProject (driver holds k rows, not the input).

Float determinism — exact fixed-point aggregation:
Money columns are doubles with a fixed decimal scale (2 for prices/
discounts/taxes). Summing doubles is order-dependent, so a shuffled sum
is not reproducible bit-for-bit across engines (or even across runs with
AQE). Every money aggregate here therefore integerizes per row at the
column's exact decimal scale (``round(x * scale)`` → BIGINT; the per-row
double product is IEEE-identical in any engine), sums exactly in integer
space, and divides back once at the end. Results are bit-identical to
the DuckDB oracle, with no round() hazards. This is also the right
100 TB design: money in fixed-point never drifts; at extreme volumes the
BIGINT sum would be widened to DECIMAL(38) (Spark does this for decimal
inputs automatically).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import GenerationSlot
from ..registry import register
from ..sources.tables import table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


def fixed_point(expr: Column, scale: int) -> Column:
    """Per-row exact integerization of a fixed-decimal-scale double."""
    return F.round(expr * F.lit(float(scale))).cast("long")


def fsum(expr: Column, scale: int) -> Column:
    """Exact sum of a fixed-scale money expression, back in natural units."""
    return F.sum(fixed_point(expr, scale)).cast("double") / F.lit(float(scale))


def favg(expr: Column, scale: int) -> Column:
    """Exact-average: integer sum / scale / count, identical op order to
    the oracle's ``CAST(SUM(...) AS DOUBLE) / scale / count(*)``."""
    return (
        F.sum(fixed_point(expr, scale)).cast("double")
        / F.lit(float(scale))
        / F.count(F.lit(1))
    )


# ---------------------------------------------------------------------------
# Aggregation: TPC-H Q1 pricing summary
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
           CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan-filter-aggregate with 8 aggregates; Spark "
    "plans partial agg before the exchange (map-side combine). Money "
    "aggregates are exact fixed-point (module docstring).",
    tags=["relational", "aggregate"],
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fsum(F.col("l_quantity"), 100).alias("sum_qty"),
            fsum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
            fsum(disc_price, 10000).alias("sum_disc_price"),
            fsum(charge, 1000000).alias("sum_charge"),
            favg(F.col("l_quantity"), 100).alias("avg_qty"),
            favg(F.col("l_extendedprice"), 100).alias("avg_price"),
            favg(F.col("l_discount"), 100).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Selective scan-filter-aggregate: TPC-H Q6 forecasting revenue
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: highly selective conjunctive predicate, single "
    "global aggregate. All four predicates push to the parquet scan.",
    tags=["relational", "filter"],
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(fsum(F.col("l_extendedprice") * F.col("l_discount"), 10000).alias("revenue"))


# ---------------------------------------------------------------------------
# Fact-fact-dim join + agg + top-k: TPC-H Q3 shipping priority
# ---------------------------------------------------------------------------

_REVENUE_SQL = "CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0"


def _revenue() -> Column:
    return fsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_REVENUE_SQL} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: dim-filtered 3-way join, aggregate, top-10. "
    "customer side broadcasts; orders⋈lineitem is the one shuffle. "
    "Deterministic top-k via (revenue DESC, l_orderkey) total order.",
    tags=["relational", "join", "topk"],
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue().alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# 6-way join: TPC-H Q5 local supplier volume
# ---------------------------------------------------------------------------


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {_REVENUE_SQL} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: 6-way join; region/nation/supplier broadcast, "
    "the local-supplier constraint (c_nationkey = s_nationkey) rides the "
    "supplier join.",
    tags=["relational", "join"],
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Join + agg + top-k on customers: TPC-H Q10 returned items
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {_REVENUE_SQL} AS revenue,
           c_acctbal AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20. "
    "Stored columns (acctbal) pass through raw — identical parquet bytes "
    "need no rounding.",
    tags=["relational", "join", "topk"],
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue().alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").alias("acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pure scan shape: projection + filter pushdown
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_quantity < 5 AND l_returnflag = 'A'
    """,
    doc="Raw scan-filter-project, no aggregation: values pass through "
    "untouched (identical parquet bytes on both sides). Predicates and "
    "the 4-column ReadSchema push to the scan — asserted in "
    "tests/test_plans.py.",
    tags=["relational", "filter"],
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where((F.col("l_quantity") < 5) & (F.col("l_returnflag") == "A")).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject — each partition "
    "keeps k rows, driver merges k*partitions; never a full global sort.",
    tags=["relational", "topk"],
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Distinct aggregates
# ---------------------------------------------------------------------------


@register(
    "distinct_agg",
    oracle="""
    SELECT l_suppkey,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc="Multi-distinct aggregate: Spark compiles to Expand + two-stage "
    "agg; distinct is per-group, never a global dedup.",
    tags=["relational", "aggregate"],
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_topn_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    )
    WHERE rn <= 3
    """,
    doc="Top-N per group via row_number window: one shuffle on the "
    "partition key; total order (price DESC, orderkey) makes ranks "
    "deterministic.",
    tags=["relational", "window"],
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_qty
    FROM lineitem
    """,
    doc="Running total per supplier: ROWS frame over a unique total order "
    "(shipdate, orderkey, linenumber). Fixed-point inside the frame so "
    "the cumulative sum is exact whatever summation tree the engine uses.",
    tags=["relational", "window"],
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (
            F.sum(fixed_point(F.col("l_quantity"), 100)).over(w).cast("double")
            / F.lit(100.0)
        ).alias("running_qty"),
    )


# ---------------------------------------------------------------------------
# Semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    doc="EXISTS as left-semi join: probe side never duplicates, only the "
    "key column of orders is read (column pruning through the semi join).",
    tags=["relational", "join"],
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    p_orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return cust.join(
        p_orders, cust.c_custkey == p_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    doc="NOT EXISTS as left-anti join.",
    tags=["relational", "join"],
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    p_orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return cust.join(
        p_orders, cust.c_custkey == p_orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_ops_custkeys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT (distinct set semantics): customers with both an open "
    "and a finished order.",
    tags=["relational", "setop"],
)
def set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    o = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return o.intersect(f)


@register(
    "set_ops_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="EXCEPT (distinct set semantics).",
    tags=["relational", "setop"],
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    o = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    p = orders.where(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return o.subtract(p)


# ---------------------------------------------------------------------------
# Grouping sets: rollup / cube / pivot
# ---------------------------------------------------------------------------


@register(
    "rollup_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets; Spark's Expand feeds one shuffle for all "
    "grouping levels.",
    tags=["relational", "aggregate"],
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            fsum(F.col("l_quantity"), 100).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets.",
    tags=["relational", "aggregate"],
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            fsum(F.col("o_totalprice"), 100).alias("sum_price"),
            F.count("*").alias("n"),
        )
    )


@register(
    "pivot_returnflag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot with explicit value list (never let Spark scan for pivot "
    "values at scale — that is an extra job over the full input).",
    tags=["relational", "aggregate"],
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        _t(spark, sf_dir, "lineitem")
        .withColumn("qty_i", fixed_point(F.col("l_quantity"), 100))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("qty_i"))
    )
    return pivoted.select(
        "l_returnflag",
        (F.col("O").cast("double") / 100.0).alias("qty_O"),
        (F.col("F").cast("double") / 100.0).alias("qty_F"),
    )


# ---------------------------------------------------------------------------
# Scalar functions (string / math / date)
# ---------------------------------------------------------------------------


@register(
    "scalar_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           concat(p_brand, ':', p_type) AS brand_type,
           CAST(p_size % 7 AS INTEGER) AS size_mod,
           CAST(abs(p_size - 25) AS INTEGER) AS size_dist,
           CAST(round(p_retailprice * 1000) AS BIGINT) AS price_e3,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket
    FROM part
    """,
    doc="Scalar function sweep: string (upper/length/substr/replace/"
    "concat), math (%/abs/round/floor). All JVM built-ins inside one "
    "codegen stage — zero Python.",
    tags=["relational", "scalar"],
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.regexp_replace("p_brand", "Brand#", "B").alias("brand_short"),
        F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias(
            "brand_type"
        ),
        (F.col("p_size") % 7).alias("size_mod"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        fixed_point(F.col("p_retailprice"), 1000).alias("price_e3"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(day(o_orderdate) AS INTEGER) AS d,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
    FROM orders
    """,
    doc="Date/time function sweep: extraction, diff, truncation.",
    tags=["relational", "scalar"],
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01"))).alias(
            "days_since"
        ),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
    )


# ---------------------------------------------------------------------------
# Broadcast dimension join (snowflake rollup)
# ---------------------------------------------------------------------------


@register(
    "broadcast_dim_join",
    oracle="""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="Snowflake rollup through two broadcast dims: the fact table never "
    "shuffles for the joins, only for the final aggregate. Broadcast "
    "asserted in tests/test_plans.py.",
    tags=["relational", "join"],
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            favg(F.col("c_acctbal"), 100).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Having / aggregate-filter: TPC-H Q18 shape
# ---------------------------------------------------------------------------


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(big.sum_qty_i AS DOUBLE) / 100.0 AS total_qty,
           o_totalprice AS totalprice
    FROM (
      SELECT l_orderkey, SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_i
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 15000
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate subquery joined back "
    "to orders/customer. The aggregate runs first and shrinks the join "
    "input.",
    tags=["relational", "join", "aggregate"],
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(fixed_point(F.col("l_quantity"), 100)).alias("sum_qty_i"))
        .where(F.col("sum_qty_i") > 15000)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            (F.col("sum_qty_i").cast("double") / 100.0).alias("total_qty"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# Events: tumbling window aggregation (batch form)
# ---------------------------------------------------------------------------


@register(
    "events_hourly_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation over the event stream, batch "
    "form. The streaming twin (watermark + window) is "
    "streaming/windows.py:hourly_agg_stream — same logical result on a "
    "bounded input.",
    tags=["relational", "events"],
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        fsum(F.col("value"), 100).alias("total_value"),
    )


@register(
    "events_sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start
    FROM sessions
    GROUP BY user_id, session_no
    """,
    doc="Gap-based sessionization (30-min inactivity): lag + cumulative "
    "sum of session-break flags, then per-session rollup. One shuffle on "
    "user_id shared by both windows and the final aggregate. Streaming "
    "twin: session_window(ts, '30 minutes') in streaming/windows.py.",
    tags=["relational", "events", "window"],
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        # interval arithmetic on timestamp_ntz: exact to the microsecond and
        # independent of the session timezone (unix_timestamp would truncate
        # to seconds and disagree with the oracle's INTERVAL comparison)
        F.when(
            (F.col("ts") - F.lag("ts").over(w)) <= F.expr("INTERVAL 30 MINUTES"),
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    sessions = marked.withColumn("session_no", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
    doc="Semi-structured extraction from the props JSON column (regexp "
    "form so the DuckDB oracle matches byte-for-byte; Spark also has "
    "get_json_object/from_json for real pipelines).",
    tags=["relational", "events", "scalar"],
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("long").alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


@register(
    "array_hof_orderitems",
    oracle="""
    WITH items AS (
      SELECT l_orderkey,
             list_transform(
               list_sort(list_zip(list(l_linenumber), list(CAST(l_quantity AS INTEGER)))),
               p -> p[2]) AS qtys
      FROM lineitem
      WHERE l_orderkey % 100 = 0
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(qtys) AS BIGINT) AS n_items,
           CAST(list_reduce(list_prepend(0, qtys), (a, b) -> a + b) AS BIGINT)
             AS total_qty,
           CAST(len(list_filter(qtys, q -> q > 25)) AS BIGINT) AS n_heavy,
           CAST(list_max(qtys) AS BIGINT) AS max_qty
    FROM items
    """,
    doc="Higher-order array functions over per-order item lists: "
    "collect (linenumber, qty) structs, sort, transform to a qty "
    "array, then aggregate/filter/max entirely with array built-ins — "
    "the JVM-side lambda surface (transform/filter/aggregate/zip_with) "
    "that replaces per-row Python in this engine.",
    tags=["functions"],
)
def array_hof_orderitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    items = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").cast("int").alias("q"),
                    )
                )
            ),
            lambda s: s.q,
        ).alias("qtys")
    )
    return items.select(
        "l_orderkey",
        F.size("qtys").cast("long").alias("n_items"),
        F.aggregate("qtys", F.lit(0), lambda a, b: a + b)
        .cast("long")
        .alias("total_qty"),
        F.size(F.filter("qtys", lambda q: q > 25)).cast("long").alias("n_heavy"),
        F.array_max("qtys").cast("long").alias("max_qty"),
    )


@register(
    "percentile_pricing",
    oracle="""
    SELECT l_returnflag,
           round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS median_price,
           round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90_price,
           round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per return flag: Spark's "
    "percentile == DuckDB's quantile_cont (both exact linear "
    "interpolation; rounded 4 to absorb interpolation-arithmetic "
    "ulps). Exact percentiles sort within groups — at 100 TB swap to "
    "approx_percentile (t-digest) unless exactness is contractual.",
    tags=["aggregates"],
)
def percentile_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
    )


@register(
    "window_functions_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_order,
           CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_in_cust,
           CAST(nth_value(o_orderkey, 2) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS second_in_cust
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="The analytic window-function suite over per-customer order "
    "sequences: lag/lead, ntile, percent_rank, cume_dist, first/nth "
    "value. One shuffle on the partition key; deterministic total "
    "order via (o_orderdate, o_orderkey).",
    tags=["windows"],
)
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("first_in_cust"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_in_cust"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_signup,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_signup,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                         AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM stages
    """,
    doc="Sequential funnel analysis: users whose first click falls after "
    "signup, and first purchase after that click. One "
    "conditional-min aggregate per user then a global rollup — the "
    "ordered-event pattern product analytics runs at full corpus "
    "scale; no joins, two exchanges.",
    tags=["events"],
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return stages.agg(
        F.count("*").alias("n_users"),
        one(signed).alias("n_signup"),
        one(clicked).alias("n_click_after_signup"),
        one(purchased).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Global total-order sort with a scalable global rank (terasort pattern)
# ---------------------------------------------------------------------------

# one generation slot per rank consumer for the ranked frame: the data
# branch and the offsets branch must see the SAME materialized range
# partitioning — range split points come from seeded per-RDD sampling,
# and two independently-planned rangepartitioning exchanges could in
# principle disagree on partition boundaries, silently corrupting
# global positions. Persisting pins one materialization that both
# branches read.
_RANK_SLOTS: defaultdict[str, GenerationSlot] = defaultdict(GenerationSlot)


def two_level_global_rank(
    df: DataFrame, order_cols: list, slot: str
) -> DataFrame:
    """``df`` + an exact 1-based global ``pos`` under the total order
    ``order_cols`` — the terasort shape shared by ``global_sort_rank``
    and the training-shuffle: RangePartitioning via orderBy (sampled
    split points, mutually ordered partitions), per-partition
    row_number, and a broadcast prefix-sum of per-partition counts.
    Never a single-partition window over the data; the ranked frame is
    persisted (one-generation) so the data branch and the offsets
    branch share ONE materialized range partitioning — independently
    planned exchanges could sample different split points. The cache is
    one generation PER ``slot`` (callers pass their query name): a
    shared single slot would let one consumer's build unpersist
    another's still-unexecuted ranked frame, reintroducing the
    split-point hazard for drivers that build several frames before
    collecting any."""
    ranked = (
        df.orderBy(*order_cols)
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("pid").orderBy(*order_cols)),
        )
    )
    _RANK_SLOTS[slot].evict()
    ranked = _RANK_SLOTS[slot].adopt(ranked.persist())
    offsets = (
        ranked.groupBy("pid")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    return (
        ranked.join(F.broadcast(offsets), "pid")
        .withColumn("pos", (F.col("offset") + F.col("rn")).cast("long"))
        .drop("pid", "rn", "offset")
    )


@register(
    "global_sort_rank",
    oracle="""
    SELECT c_custkey, c_name,
           round(c_acctbal, 2) AS acctbal,
           CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
                AS BIGINT) AS pos
    FROM customer
    """,
    doc="Total-order global sort with an exact global position for every "
    "row — the terasort pattern. orderBy plans a RangePartitioning "
    "exchange (sampled split points, so partitions are balanced and "
    "mutually ordered); the global rank is then TWO-LEVEL: a "
    "row_number within each range partition plus a prefix-sum of "
    "per-partition counts joined back by broadcast. The naive "
    "row_number() OVER (ORDER BY ...) would funnel the whole corpus "
    "through ONE partition — this shape never does (plan-asserted), "
    "which is what makes a 100 TB global index feasible.",
    tags=["relational", "sort"],
)
def global_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return two_level_global_rank(
        c, [F.col("c_acctbal").desc(), "c_custkey"], slot="global_sort_rank"
    ).select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        "pos",
    )


# ---------------------------------------------------------------------------
# MERGE INTO (lakehouse upsert): matched-update + not-matched-insert
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    upd AS (
      SELECT o_orderkey, round(o_totalprice * 1.1, 2) AS new_price
      FROM base WHERE o_orderkey % 97 = 0
    ),
    mx AS (SELECT max(o_orderkey) AS mk FROM base)
    SELECT b.o_orderkey, b.o_custkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN 'update'
                ELSE 'keep' END AS action,
           round(coalesce(u.new_price, b.o_totalprice), 2) AS o_totalprice
    FROM base b LEFT JOIN upd u USING (o_orderkey)
    UNION ALL
    SELECT b.o_orderkey + mk, b.o_custkey, 'insert',
           round(b.o_totalprice, 2)
    FROM base b, mx WHERE b.o_orderkey % 97 = 0
    """,
    doc="MERGE INTO semantics (the lakehouse upsert): a deterministic "
    "delta derived from orders (every 97th key re-priced +10%, plus the "
    "same rows re-keyed past max(o_orderkey) as inserts) merged into "
    "the base — matched rows update, unmatched delta rows insert, "
    "everything else keeps, with the merge action made observable. "
    "Engine shape: one left join on the merge key (the delta side is "
    "small enough to broadcast — Catalyst/AQE decides) plus a union of "
    "inserts; the new-key offset is a broadcast 1-row max, no driver "
    "action. On a lakehouse table this is the copy-on-write MERGE "
    "dataflow: the join IS the engine work, the file rewrite is the "
    "committer's.",
    tags=["relational", "merge"],
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    delta_src = base.where(F.col("o_orderkey") % 97 == 0)
    upd = delta_src.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 1.1, 2).alias("new_price"),
    )
    mx = base.agg(F.max("o_orderkey").alias("mk"))
    merged = (
        base.join(upd, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(F.col("new_price").isNotNull(), F.lit("update"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            F.round(
                F.coalesce(F.col("new_price"), F.col("o_totalprice")), 2
            ).alias("o_totalprice"),
        )
    )
    inserts = delta_src.crossJoin(F.broadcast(mx)).select(
        (F.col("o_orderkey") + F.col("mk")).alias("o_orderkey"),
        "o_custkey",
        F.lit("insert").alias("action"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    return merged.union(inserts)


# ---------------------------------------------------------------------------
# Cohort retention + market-basket co-occurrence (product analytics)
# ---------------------------------------------------------------------------


@register(
    "events_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort
      FROM events GROUP BY 1
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', f.cohort, a.d) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM act a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-activity date, "
    "counted active per (cohort, day offset) — the product-analytics "
    "rollup run over full event history. Two shuffles on user_id "
    "(first-day aggregate, distinct active days) then the small matrix "
    "aggregate; at 100 TB both are map-side-combined and the join is "
    "co-partitioned on user_id.",
    tags=["relational", "events"],
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort"))
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            F.datediff("d", "cohort").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "basket_part_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b LIMIT 100
    """,
    doc="Market-basket co-occurrence: the top-100 part pairs appearing "
    "together in the most orders. Pair generation is a self-join keyed "
    "on l_orderkey, so fan-out is quadratic only in BASKET size (~7 "
    "items), never order count; the per-pair count gets map-side "
    "partials and the top-100 is TakeOrdered over (count DESC, "
    "part_a, part_b) — a deterministic total order, no global sort.",
    tags=["relational", "join"],
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(100)
    )


@register(
    "events_trailing_1h_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS trailing_1h_value
    FROM events
    """,
    doc="Time-interval RANGE window frame: per user, the exact "
    "fixed-point sum of event values within the trailing hour of each "
    "event — the sliding-by-time analytic that ROWS frames cannot "
    "express (frame membership is defined by timestamp distance, and "
    "equal-timestamp peers are all included, so the result is "
    "order-deterministic by construction). One shuffle on user_id; "
    "state per row is the in-frame aggregate, same cost class as the "
    "running-sum window.",
    tags=["relational", "events", "window"],
)
def events_trailing_1h_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.selectExpr(
        "user_id",
        "event_id",
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER ("
        "  PARTITION BY user_id ORDER BY ts"
        "  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
        " AS DOUBLE) / 100.0 AS trailing_1h_value",
    )


@register(
    "grouping_sets_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
             AS BIGINT) AS gid,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100.0 AS sum_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS with a GROUPING() set identifier — the "
    "general form ROLLUP/CUBE desugar to, including the gid column "
    "consumers need to tell an aggregated NULL from a data NULL. "
    "Spark's Expand replicates rows once per set into ONE shuffle "
    "(3x here), the same single-exchange shape as the rollup.",
    tags=["relational", "aggregate"],
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                 AS BIGINT) AS gid,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE) / 100.0 AS sum_price,
               count(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure,
           round(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
      FROM lineitem WHERE l_orderkey < 100
    )
    UNPIVOT (value FOR measure IN (l_quantity, l_discount, l_tax))
    """,
    doc="Native UNPIVOT (wide -> long reshape): three measure columns "
    "melt to (measure, value) rows — the inverse of "
    "pivot_returnflag, and the long form feature stores and plotting "
    "layers consume. Spark plans Expand (3 rows per input, map-side, "
    "no shuffle); the filter is pushed to the scan. Bounded to a key "
    "range to keep the checked output small.",
    tags=["relational", "reshape"],
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round("value", 2).alias("value"),
    )
