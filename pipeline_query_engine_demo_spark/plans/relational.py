"""Relational query corpus: scans, filters, joins, aggregations, sorts,
set ops, and the scalar-function surface (SURVEY.md §2.1, §2.3).

The reference implements exactly four operators — TableScan
(``src/executor/mod.rs:250-276``), a hard-coded Filter (``:278-308``),
inner HashJoin (``:310-381``), and offset/limit (``:383-466``) — and its
one demo query composes them. ``ref_demo_pipeline`` reproduces that query
bit-for-bit; everything else widens the surface to what any user of a
query engine needs, expressed declaratively so Catalyst plans the
physical execution (broadcast vs shuffle join, partial aggregation,
limit early-stop).

Determinism contract (see plans.registry): orderBy before limit, shared
aliases, DECIMAL casts before float aggregation, double division only in
forms both engines evaluate identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pipeline_query_engine_demo_spark.functions.rounding import round_half_up
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import held_confs, resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import load_table


def _dec(col: str) -> F.Column:
    """Exact money arithmetic: cast a double column to DECIMAL before
    aggregating so Spark and DuckDB (whose float-sum orders differ) both
    do exact decimal sums. Final results are cast back to double."""
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# M0 — the reference's own workload
# --------------------------------------------------------------------------


@query(
    "ref_demo_pipeline",
    category="reference-replica",
    oracle="""
        WITH build AS (SELECT range AS id FROM range(0, 4096)),
             probe AS (SELECT range AS id FROM range(2048, 4096))
        SELECT b.id AS build_id, p.id AS probe_id
        FROM build b JOIN probe p ON b.id = p.id
        WHERE b.id >= 2560
        ORDER BY build_id
        LIMIT 200 OFFSET 100
    """,
)
def ref_demo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's single hand-wired query (``src/main.rs:29-48``):
    build ids 0..4095, probe ids 2048..4095, filter ``id >= 2560``
    (``src/executor/mod.rs:295``), inner hash join on id
    (``:310-381``), LIMIT 200 OFFSET 100 (``src/main.rs:35``).
    Golden answer: 200 rows x 2 cols, first id 2660 (``src/main.rs:71-73``).

    Spark-first translation: the filtered side is small, so Catalyst
    broadcast-hash-joins it (the reference's shared in-process hash table
    is the degenerate single-node form of a broadcast). The explicit
    orderBy makes offset/limit deterministic — Spark limit without a
    total order is not (SURVEY.md §7 risk 1).
    """
    build = spark.range(0, 4096).select(F.col("id"))
    probe = spark.range(2048, 4096).select(F.col("id"))
    return (
        build.filter(F.col("id") >= 2560)
        .join(probe, on="id", how="inner")
        .select(F.col("id").alias("build_id"), F.col("id").alias("probe_id"))
        .orderBy("build_id")
        .offset(100)
        .limit(200)
    )


@query(
    "flagship_filter_join_limit",
    category="reference-replica",
    oracle="""
        SELECT o.o_orderkey AS orderkey,
               l.l_linenumber AS linenumber,
               l.l_quantity AS quantity
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_totalprice >= 1000.0
        ORDER BY orderkey, linenumber
        LIMIT 200 OFFSET 100
    """,
)
def flagship_filter_join_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's plan shape (filter build side -> inner equi-join ->
    offset/limit, ``src/main.rs:29-48``) on real Parquet fixtures. The
    filter sits on the orders side so Catalyst pushes it into the Parquet
    scan (the reference places its Filter below the join by hand,
    ``src/main.rs:31-32``; Catalyst's PushDownPredicates does the same
    automatically — SURVEY.md §4.1)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.filter(F.col("o_totalprice") >= 1000.0)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "inner")
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_quantity").alias("quantity"),
        )
        .orderBy("orderkey", "linenumber")
        .offset(100)
        .limit(200)
    )


# --------------------------------------------------------------------------
# M1 — aggregations
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    category="aggregation",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. Spark plans this as partial
    (map-side) + final hash aggregation automatically — at 100 TB the
    partial agg collapses ~600 G rows to 6 groups per partition before
    the shuffle, so the exchange is O(partitions), not O(rows)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q6_forecast_revenue",
    category="aggregation",
    oracle="""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.09
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue: the purest scan-predicate-agg
    query — every filter pushes into the Parquet scan (range on
    shipdate, band on discount, bound on quantity) and the single
    global aggregate needs one O(partitions) exchange. The benchmark
    classic for measuring raw scan throughput."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.09))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "agg_basic_stats",
    category="aggregation",
    oracle="""
        SELECT l_suppkey,
               COUNT(*) AS n_items,
               CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
               CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/min/max/sum per supplier — the basic hash-agg surface the
    reference lacks entirely (SURVEY.md §2.3 'Aggregations')."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("l_quantity").cast("double").alias("min_qty"),
            F.max("l_quantity").cast("double").alias("max_qty"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("l_suppkey")
    )


@query(
    "agg_distinct_counts",
    category="aggregation",
    oracle="""
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation. Spark rewrites count(distinct) into a
    two-phase expand + two aggregations — no driver-side dedup."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_rollup",
    category="aggregation",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (hierarchical subtotals + grand total)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
            F.col("n"),
        )
    )


@query(
    "agg_cube",
    category="aggregation",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, n
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority (all 2^2 grouping sets)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("n"),
        )
    )


@query(
    "agg_grouping_sets",
    category="aggregation",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): per-flag totals,
    per-status totals, and the grand total in one pass — Spark plans one
    Expand + one aggregation, not three scans."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, n
        """
    )


@query(
    "agg_having",
    category="aggregation",
    oracle="""
        SELECT o_custkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 3
        ORDER BY o_custkey
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 3)
        .orderBy("o_custkey")
    )


@query(
    "agg_collect_set",
    category="aggregation",
    oracle="""
        SELECT c_mktsegment,
               array_to_string(list_sort(list_distinct(list(o.o_orderstatus))), '|')
                   AS statuses
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array: set-valued aggregation with a canonical
    (sorted) representation so the result is order-insensitive. The set
    is serialized to a '|'-joined string because the driver's hasher
    cannot canonicalize array-typed cells."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("o_orderstatus"))).alias("statuses")
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_boolean_count_if",
    category="aggregation",
    oracle="""
        SELECT l_returnflag AS returnflag,
               CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_heavy,
               bool_and(l_quantity > 0) AS all_positive,
               bool_or(l_discount > 0.05) AS any_discounted
        FROM lineitem GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def agg_boolean_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: count_if / bool_and (EVERY) / bool_or (ANY) —
    the predicate-summary trio used by every data-quality report."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count_if(F.col("l_quantity") >= 25).alias("n_heavy"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
        )
        .orderBy("returnflag")
    )


@query(
    "agg_max_by_min_by",
    category="aggregation",
    oracle="""
        SELECT o_custkey AS custkey,
               arg_max(o_orderkey, o_totalprice) AS biggest_order,
               arg_min(o_orderkey, o_totalprice) AS smallest_order
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) = COUNT(DISTINCT o_totalprice)
        ORDER BY custkey
    """,
)
def agg_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates): the one-pass 'row of the
    extreme' idiom that replaces a window + filter. Groups with tied
    prices are excluded (HAVING) because argmax on ties is
    engine-defined."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct("o_totalprice").alias("_nd"),
        )
        .filter(F.col("_n") == F.col("_nd"))
        .drop("_n", "_nd")
        .orderBy("custkey")
    )


@query(
    "array_functions2",
    category="scalar-fn",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CAST(list_sum(range(1, (o_orderkey % 10) + 1)) AS BIGINT) AS seq_sum,
               len(list_filter(range(1, (o_orderkey % 10) + 1), x -> x % 2 = 0)) > 0
                   AS has_even,
               len(list_filter(range(1, (o_orderkey % 10) + 1), x -> x < 100)) =
                   len(range(1, (o_orderkey % 10) + 1)) AS all_small,
               CAST(list_sum(list_transform(range(1, (o_orderkey % 10) + 1), x -> x * x))
                   AS BIGINT) AS sum_squares
        FROM orders WHERE o_orderkey % 10 >= 1
        ORDER BY orderkey
    """,
)
def array_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — exists/forall/transform/aggregate
    over generated integer sequences (exact arithmetic in any fold
    order, so list_sum oracles match the left fold)."""
    orders = load_table(spark, sf_dir, "orders")
    seq = F.sequence(F.lit(1), (F.col("o_orderkey") % 10))
    return (
        orders.filter(F.col("o_orderkey") % 10 >= 1)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.aggregate(seq, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("seq_sum"),
            F.exists(seq, lambda x: x % 2 == 0).alias("has_even"),
            F.forall(seq, lambda x: x < 100).alias("all_small"),
            F.aggregate(
                F.transform(seq, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("sum_squares"),
        )
        .orderBy("orderkey")
    )


@query(
    "agg_pivot",
    category="aggregation",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_linestatus = 'F') AS status_f,
               COUNT(*) FILTER (WHERE l_linestatus = 'O') AS status_o
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation). Values are enumerated
    explicitly — at scale an un-enumerated pivot needs an extra pass to
    discover the value domain."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# M1 — joins (every type; SURVEY.md §2.3 'Joins')
# --------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    category="join",
    oracle="""
        SELECT l.l_orderkey AS orderkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o.o_orderpriority AS priority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderpriority
        ORDER BY revenue DESC, orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter -> 3-way join -> agg ->
    top-k. customer is broadcast (dim ≪ fact); the lineitem-orders join
    shuffles on orderkey; the final top-10 is TakeOrderedAndProject (no
    full sort of the aggregate)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
        .select("orderkey", "revenue", "priority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey"))
        .limit(10)
    )


@query(
    "q5_regional_revenue",
    category="join",
    oracle="""
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM region r
        JOIN nation n ON r.r_regionkey = n.n_regionkey
        JOIN customer c ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        ORDER BY revenue DESC, nation
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join. All dims (region, nation,
    customer) broadcast; only the orders-lineitem edge shuffles. At
    100 TB this is the canonical star-schema plan: one big-table scan,
    one shuffle."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, region.r_regionkey == nation.n_regionkey)
        .join(customer, nation.n_nationkey == customer.c_nationkey)
        .join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


@query(
    "join_left_outer",
    category="join",
    oracle="""
        SELECT c.c_custkey AS custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey ORDER BY custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("custkey")
    )


@query(
    "join_right_outer",
    category="join",
    oracle="""
        SELECT c.c_custkey AS custkey,
               c.c_mktsegment AS segment,
               COUNT(o.o_orderkey) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE)
                   AS total_spend
        FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_mktsegment ORDER BY custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving customers with no orders (count 0,
    spend 0). The reference executor implements inner hash join only
    (src/executor/mod.rs:310-381); SURVEY §2.3 maps the right-outer
    variant to ``how="right"``, which Catalyst plans as the mirrored
    left-outer with build/probe sides swapped — at 100 TB the fact
    (orders) side streams and the preserved customer side shuffles on
    the same key, so the plan is identical in cost to join_left_outer.
    Decimal sum keeps the cross-engine aggregate exact before the final
    double cast."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "right")
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_spend"),
        )
        .orderBy("custkey")
    )


@query(
    "join_full_outer",
    category="join",
    oracle="""
        WITH big AS (SELECT o_custkey, COUNT(*) AS n_big FROM orders
                     WHERE o_totalprice > 3000 GROUP BY o_custkey),
             rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000)
        SELECT COALESCE(b.o_custkey, r.c_custkey) AS custkey,
               COALESCE(b.n_big, 0) AS n_big,
               CAST(COALESCE(r.c_acctbal, -1.0) AS DOUBLE) AS acctbal
        FROM big b FULL OUTER JOIN rich r ON b.o_custkey = r.c_custkey
        ORDER BY custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides; NULL-bridging
    via coalesce. Full outer forces a shuffle join (broadcast cannot
    preserve both sides' unmatched rows)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.filter(F.col("o_totalprice") > 3000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    rich = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_acctbal")
    return (
        big.join(rich, big.o_custkey == rich.c_custkey, "full")
        .select(
            F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias("custkey"),
            F.coalesce(F.col("n_big"), F.lit(0)).alias("n_big"),
            F.coalesce(F.col("c_acctbal"), F.lit(-1.0)).cast("double").alias("acctbal"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi",
    category="join",
    oracle="""
        SELECT c_custkey AS custkey, c_name AS name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        ORDER BY custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with >= 1 urgent order. Semi
    join never duplicates the probe side — cheaper than join+distinct."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .orderBy("custkey")
    )


@query(
    "join_anti",
    category="join",
    oracle="""
        SELECT c_custkey AS custkey, c_mktsegment AS segment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders at all."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment"))
        .orderBy("custkey")
    )


@query(
    "join_theta",
    category="join",
    oracle="""
        SELECT s.s_suppkey AS suppkey, c.c_custkey AS custkey
        FROM supplier s JOIN customer c
          ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
        ORDER BY suppkey, custkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed equi + theta join: Catalyst plans the equi part as the hash
    key and evaluates the inequality as a post-join residual — so this
    still hash-partitions instead of falling back to nested loops."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    return (
        supplier.join(
            customer,
            (supplier.s_nationkey == customer.c_nationkey) & (supplier.s_acctbal > customer.c_acctbal),
        )
        .select(F.col("s_suppkey").alias("suppkey"), F.col("c_custkey").alias("custkey"))
        .orderBy("suppkey", "custkey")
    )


@query(
    "join_cross",
    category="join",
    oracle="""
        SELECT r.r_name AS region_name, n.n_name AS nation_name
        FROM region r CROSS JOIN nation n
        ORDER BY region_name, nation_name
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two (small) dims — BroadcastNestedLoopJoin.
    Only safe when one side is tiny; the API makes that explicit."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        region.crossJoin(nation)
        .select(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .orderBy("region_name", "nation_name")
    )


@query(
    "join_dedup_build_side",
    category="join",
    oracle="""
        WITH build AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice >= 4000)
        SELECT c.c_custkey AS custkey, c.c_acctbal AS acctbal
        FROM build b JOIN customer c ON b.o_custkey = c.c_custkey
        ORDER BY custkey
    """,
)
def join_dedup_build_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's nonstandard join semantics, made explicit: its
    hash-table build uses ``HashMap::insert`` so duplicate build keys
    overwrite (last wins — ``src/executor/mod.rs:371``), i.e. it joins
    against a de-duplicated build side. SQL semantics would duplicate
    probe rows; we reproduce the reference behavior with an explicit
    ``dropDuplicates`` before the join (SURVEY.md §7 risk 2)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = (
        orders.filter(F.col("o_totalprice") >= 4000).select("o_custkey").dropDuplicates(["o_custkey"])
    )
    return (
        build.join(customer, build.o_custkey == customer.c_custkey)
        .select(F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal"))
        .orderBy("custkey")
    )


@query(
    "join_sort_merge_hint",
    category="join",
    oracle="""
        SELECT o.o_orderkey AS orderkey, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey ORDER BY orderkey
    """,
)
def join_sort_merge_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join, forced via the ``merge`` hint. At fixture scale
    Catalyst would broadcast (everything fits under the threshold); on a
    cluster this large-large shape picks SMJ automatically — the hint
    pins the strategy so the SMJ code path is exercised and tested at
    any scale. Shuffle-by-key + sorted merge is the plan that survives
    when neither side fits in memory."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.hint("merge")
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        )
        .orderBy("orderkey")
    )


#: Conf block for the AQE skew-join demonstration: thresholds scaled to
#: fixture bytes so the runtime skew split actually fires on local
#: data (production leaves the 256 MB defaults; the MECHANISM is
#: identical — only the trigger sizes differ).
AQE_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
}

#: Fraction of orders remapped onto ONE hot customer key: o_orderkey
#: % 20 != 0 → 95% of the fact rows share hot_key 1, a ×19-vs-median
#: reduce-partition skew.
AQE_SKEW_HOT_MOD = 20


def build_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed join itself, shared by the registered query and the
    plan-shape test. 95% of orders land on hot_key 1; the merge hint
    plus disabled broadcast force the shuffled SMJ whose hot reduce
    partition AQE must split at runtime. The repartition(16) gives the
    map side multiple mappers — AQE splits a skewed reduce partition at
    map-output granularity, so a single-file local scan (1 mapper)
    would leave it nothing to split; a real cluster has thousands of
    mappers and needs no such help."""
    orders = load_table(spark, sf_dir, "orders").repartition(16)
    cust = load_table(spark, sf_dir, "customer")
    hot = orders.withColumn(
        "hot_key",
        F.when(F.col("o_orderkey") % AQE_SKEW_HOT_MOD != 0, F.lit(1)).otherwise(
            F.col("o_custkey")
        ),
    )
    return hot.hint("merge").join(cust, hot.hot_key == cust.c_custkey)


@query(
    "join_aqe_skew_split",
    category="join",
    oracle=f"""
        SELECT c.c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c
          ON c.c_custkey = CASE WHEN o.o_orderkey % {AQE_SKEW_HOT_MOD} <> 0
                                THEN 1 ELSE o.o_custkey END
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def join_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join split, demonstrated live (the declarative
    counterpart of operators.joins.salted_join — same hot-key problem,
    zero hand salting: AQE reads the map-output statistics, sees one
    reduce partition ×19 the median, and splits it across tasks while
    duplicating the matching build rows). The skew confs are held
    (``session.held_confs``) only while the eager localCheckpoint
    EXECUTES the join — execution is what AQE re-plans — so the rest
    of the corpus runs on the session defaults. tests/test_plans.py
    asserts the SortMergeJoin(skew=true) plan shape at sf0.1 and result
    parity with the manual salted join."""
    with held_confs(spark, AQE_SKEW_CONFS):
        agg = resilient_local_checkpoint(  # eager: runs the join under the held confs
            build_aqe_skew_join(spark, sf_dir)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )
        )
    return agg.orderBy("c_mktsegment")


#: Conf block for the runtime bloom-filter demonstration: trigger sizes
#: lowered until InjectRuntimeFilter fires on fixture data (production
#: keeps the 10 MB creation / 10 GB application defaults; the mechanism
#: is identical — only the thresholds differ). At these thresholds the
#: filter is a demonstration, not a win: at sf0.1 on 4 cores
#: tools/bloom_experiment.py measured the bloom variant slower than the
#: plain join (1.13 vs 0.94 s) while it wrote 0.045x the shuffle bytes.
BLOOM_FILTER_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep the join shuffled
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def build_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective-dim shuffle join itself, shared by the registered
    query and the plan-shape test (tests/test_plans.py asserts the
    executed plan carries ``bloom_filter_agg`` on the dim side and a
    ``might_contain`` filter above the fact scan). Broadcast is disabled
    by the held confs, so without the runtime filter EVERY fact row
    would cross the shuffle only to be dropped by the join."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1997)
    )
    return li.join(dim, li.l_orderkey == dim.o_orderkey)


@query(
    "bloom_filter_pruned_join",
    category="join",
    oracle="""
        SELECT l.l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT' AND year(o.o_orderdate) = 1997
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
)
def bloom_filter_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (InjectRuntimeFilter): the
    selective dim filter ("urgent orders placed in 1997" — ~3% of
    orders) is turned into a bloom filter built from the dim's join
    keys and applied as a ``might_contain`` predicate ABOVE THE FACT
    SCAN, before the shuffle — so ~97% of fact rows are dropped
    map-side instead of crossing the wire to die in the join. This is
    the shuffle-join counterpart of DPP (plans/partitioned.py): DPP
    prunes partition DIRECTORIES of a partitioned fact; the bloom
    filter prunes ROWS of an unpartitioned one. At 100 TB the two
    compose — date partitions prune the scan, the bloom filter prunes
    the survivors' shuffle. False positives only cost wasted shuffle
    rows (the join re-checks equality), so the result is byte-identical
    to the plain join — which is exactly what the oracle asserts. The
    confs are held (``session.held_confs``) only while the eager
    localCheckpoint EXECUTES the join.

    ``BLOOM_FILTER_CONFS`` lowers the trigger thresholds so the filter
    fires on fixture data, so this row shows the mechanism, not a win:
    at sf0.1 on 4 cores tools/bloom_experiment.py measured the bloom
    variant slower than the plain join (1.13 vs 0.94 s) while it wrote
    0.045x the shuffle bytes — the extra dim-side bloom build costs
    more than the small exchange it saves."""
    with held_confs(spark, BLOOM_FILTER_CONFS):
        agg = resilient_local_checkpoint(  # eager: runs the join under the held confs
            build_bloom_filter_join(spark, sf_dir)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
                )
                .cast("double")
                .alias("revenue"),
            )
        )
    return agg.orderBy("l_returnflag")


@query(
    "salted_agg_two_phase",
    category="aggregation",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def salted_agg_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: phase 1 aggregates
    on (key, salt) — spreading each hot key over 16 reducers — phase 2
    merges the partials per key. Semantically identical to a plain
    GROUP BY (the oracle), and the pattern that rescues a skewed shuffle
    when one key holds half the corpus. (Spark's partial aggregation
    already defuses skew for algebraic aggs; salting is the general form
    that also works for joins and exact-distinct.) Decimal partials make
    the two-phase sum order-independent."""
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
    phase1 = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_v"),
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("_n").alias("n"),
            F.sum("_v").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "salted_join_skewed",
    category="join",
    oracle="""
        SELECT e.event_id, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY event_id
    """,
)
def salted_join_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators.joins.salted_join): events.user_id is
    Zipf-ish (a few users dominate), so the plain shuffle join would
    send a hot key to one reducer; salting on event_id spreads it over
    16. Semantically identical to the plain join — the oracle is the
    unsalted SQL."""
    from pipeline_query_engine_demo_spark.operators.joins import salted_join

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        events.select("event_id", F.col("user_id").alias("c_custkey")),
        customer,
        on="c_custkey",
        salt_src=F.col("event_id"),
    )
    return joined.select("event_id", F.col("c_mktsegment").alias("segment")).orderBy("event_id")


@query(
    "cached_reuse_branches",
    category="sink",
    oracle="""
        WITH big AS (SELECT * FROM orders WHERE o_totalprice >= 2000)
        SELECT o_orderstatus AS k, COUNT(*) AS n FROM big GROUP BY o_orderstatus
        UNION ALL
        SELECT o_orderpriority AS k, COUNT(*) AS n FROM big GROUP BY o_orderpriority
        ORDER BY k, n
    """,
)
def cached_reuse_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.cache()``: one filtered scan materialized once, consumed by
    two independent aggregations (the reference's materialize() analog,
    ``src/executor/mod.rs:363-374``, generalized to any reuse point).
    Without the cache each branch would rescan the Parquet; with it the
    second branch reads executor-local columnar blocks. The query stays
    lazy (so plan audits see the real plan); the cache entry is
    LRU-evictable under memory pressure — cached blocks yield to
    execution memory automatically — and a production caller that owns
    the session lifecycle should ``unpersist()`` after consuming."""
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") >= 2000).cache()
    by_status = big.groupBy(F.col("o_orderstatus").alias("k")).agg(F.count(F.lit(1)).alias("n"))
    by_priority = big.groupBy(F.col("o_orderpriority").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return by_status.unionByName(by_priority).orderBy("k", "n")


# --------------------------------------------------------------------------
# M1 — sorts / limits / top-k
# --------------------------------------------------------------------------


@query(
    "sort_multi_key_offset_limit",
    category="sort-limit",
    oracle="""
        SELECT o_orderkey AS orderkey, o_orderpriority AS priority, o_totalprice AS totalprice
        FROM orders
        ORDER BY priority ASC, totalprice DESC, orderkey
        LIMIT 50 OFFSET 25
    """,
)
def sort_multi_key_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with mixed directions + offset/limit pagination
    (the reference's Limit operator, ``src/executor/mod.rs:383-466``,
    generalized). Spark range-partitions the sort; the limit early-stops."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy(F.col("priority").asc(), F.col("totalprice").desc(), F.col("orderkey"))
        .offset(25)
        .limit(50)
    )


@query(
    "topk_global",
    category="sort-limit",
    oracle="""
        SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
        FROM orders ORDER BY totalprice DESC, orderkey LIMIT 15
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit compiles to TakeOrderedAndProject —
    each partition keeps a k-heap, the driver merges k*partitions rows;
    no full sort, no full shuffle. This is the plan that survives 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("totalprice"))
        .orderBy(F.col("totalprice").desc(), F.col("orderkey"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# M1 — set operations
# --------------------------------------------------------------------------


@query(
    "set_union_all",
    category="set-op",
    oracle="""
        SELECT c_custkey AS custkey, 'building' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey AS custkey, 'machinery' AS src FROM customer WHERE c_mktsegment = 'MACHINERY'
        ORDER BY custkey, src
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union, no dedup shuffle)."""
    customer = load_table(spark, sf_dir, "customer")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.lit("building").alias("src")
    )
    machinery = customer.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey"), F.lit("machinery").alias("src")
    )
    return building.unionByName(machinery).orderBy("custkey", "src")


@query(
    "set_intersect",
    category="set-op",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY custkey
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers with both finished and open orders."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(o).orderBy("custkey")


@query(
    "set_except",
    category="set-op",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
        ORDER BY custkey
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): anti-join expressed as a set difference.
    ``subtract`` is EXCEPT DISTINCT regardless of left-side duplicates
    (exceptAll-then-distinct would keep a value whose left multiplicity
    exceeds its right multiplicity)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    all_cust = customer.select(F.col("c_custkey").alias("custkey"))
    with_orders = orders.select(F.col("o_custkey").alias("custkey"))
    return all_cust.subtract(with_orders).orderBy("custkey")


@query(
    "set_intersect_all",
    category="set-op",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT ALL
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice >= 1500
        ORDER BY custkey
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each value survives min(left
    multiplicity, right multiplicity) times — the multiplicity-aware
    cousin of intersect, one hash-partitioned count-compare, no
    pre-distinct pass."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    big = orders.filter(F.col("o_totalprice") >= 1500).select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersectAll(big).orderBy("custkey")


@query(
    "set_except_all",
    category="set-op",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice >= 1500
        EXCEPT ALL
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY custkey
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics): each value survives max(0, left
    multiplicity - right multiplicity) times."""
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") >= 1500).select(
        F.col("o_custkey").alias("custkey")
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return big.exceptAll(f).orderBy("custkey")


@query(
    "distinct_rows",
    category="set-op",
    oracle="""
        SELECT DISTINCT l_returnflag AS returnflag, l_linestatus AS linestatus
        FROM lineitem ORDER BY returnflag, linestatus
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — plans as a hash aggregate on all columns (partial+final),
    so the shuffle carries only unique combinations."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.select(
            F.col("l_returnflag").alias("returnflag"), F.col("l_linestatus").alias("linestatus")
        )
        .distinct()
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# M1 — scalar function surface
# --------------------------------------------------------------------------


@query(
    "string_functions",
    category="scalar-fn",
    oracle="""
        SELECT p_partkey AS partkey,
               lower(p_name) AS name_lower,
               upper(p_brand) AS brand_upper,
               length(p_name) AS name_len,
               substr(p_type, 1, 7) AS type_prefix,
               concat_ws('/', p_brand, p_type) AS brand_type,
               regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
               CASE WHEN p_type LIKE 'ECONOMY%' THEN 1 ELSE 0 END AS is_economy
        FROM part ORDER BY partkey
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression surface (the reference has no expressions at all
    — its one predicate is compiled Rust, ``src/executor/mod.rs:295``).
    All JVM-side whole-stage-codegen'd built-ins; no Python UDFs."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            F.col("p_partkey").alias("partkey"),
            F.lower("p_name").alias("name_lower"),
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 7).alias("type_prefix"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
            F.when(F.col("p_type").like("ECONOMY%"), 1).otherwise(0).alias("is_economy"),
        ).orderBy("partkey")
    )


@query(
    "string_functions2",
    category="scalar-fn",
    oracle="""
        SELECT s_suppkey AS suppkey,
               split_part(s_name, '#', 2) AS name_num,
               lpad(CAST(s_suppkey AS VARCHAR), 8, '0') AS key_padded,
               reverse(s_name) AS name_rev,
               translate(s_name, '#', '-') AS name_dashed,
               repeat('ab', 3) AS repeated,
               left(s_name, 8) AS name_left,
               ascii(s_name) AS first_char_code,
               instr(s_name, '#') AS hash_pos
        FROM supplier ORDER BY suppkey
    """,
)
def string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function tranche: split_part/lpad/reverse/translate/
    repeat/left/ascii/instr — still all JVM codegen built-ins."""
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.select(
        F.col("s_suppkey").alias("suppkey"),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse("s_name").alias("name_rev"),
        F.translate("s_name", "#", "-").alias("name_dashed"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.left("s_name", F.lit(8)).alias("name_left"),
        F.ascii("s_name").alias("first_char_code"),
        F.instr("s_name", "#").alias("hash_pos"),
    ).orderBy("suppkey")


@query(
    "date_functions2",
    category="scalar-fn",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
               CAST(quarter(o_orderdate) AS INT) AS q,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
               strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS plus3m
        FROM orders ORDER BY orderkey
    """,
)
def date_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date tranche: last_day/quarter/dayofweek/date_format/
    add_months. DuckDB's dayofweek is 0=Sunday while Spark's is
    1=Sunday (the oracle shifts); add_months clamps month-end the same
    way INTERVAL MONTH does in DuckDB on these mid-month dates."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp").alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofweek(F.col("o_orderdate").cast("date")).alias("dow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).cast("timestamp").alias("plus3m"),
    ).orderBy("orderkey")


@query(
    "udf_sql_registered",
    category="udf",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CAST(floor(o_totalprice / 1000) AS INT) AS price_band
        FROM orders ORDER BY orderkey
    """,
)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.udf.register``: a Python UDF callable from SQL text —
    the remaining UDF registration surface (plans/udfs.py covers the
    DataFrame-side flavors)."""

    def band(price: float) -> int:
        return int(price // 1000)

    spark.udf.register("price_band", band, "int")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_udfreg_orders")
    return spark.sql(
        "SELECT o_orderkey AS orderkey, price_band(o_totalprice) AS price_band "
        "FROM _udfreg_orders ORDER BY orderkey"
    )


@query(
    "date_functions",
    category="scalar-fn",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(month(o_orderdate) AS INT) AS order_month,
               CAST(day(o_orderdate) AS INT) AS order_day,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
        FROM orders ORDER BY orderkey
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time expression surface over the orders timestamps."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            (F.col("o_orderdate").cast("date") + F.expr("INTERVAL 30 DAYS"))
            .cast("timestamp")
            .alias("due_ts"),
            F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
                "days_to_y2k"
            ),
        ).orderBy("orderkey")
    )


@query(
    "math_functions",
    category="scalar-fn",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               abs(l_quantity - 25.0) AS qty_dev,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
               CASE WHEN isfinite(l_extendedprice / 100.0) THEN floor((l_extendedprice / 100.0) * 100.0 + 0.5) / 100.0 END AS price_hundreds,
               sqrt(l_quantity) AS qty_sqrt,
               l_quantity * l_quantity AS qty_sq,
               CAST(l_quantity AS BIGINT) % 7 AS qty_mod
        FROM lineitem
        WHERE l_orderkey <= 100
        ORDER BY orderkey, linenumber
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math expression surface. sqrt/floor/ceil/abs are correctly-rounded
    IEEE ops — bit-identical across engines; round(x, 2) on a shared
    double input is deterministic too."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 100)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
            F.floor("l_extendedprice").alias("price_floor"),
            F.ceil("l_extendedprice").alias("price_ceil"),
            round_half_up(F.col("l_extendedprice") / 100.0, 2).alias("price_hundreds"),
            F.sqrt("l_quantity").alias("qty_sqrt"),
            (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
            (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "try_error_safe_functions",
    category="scalar-fn",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               CASE WHEN l_linenumber - 1 = 0 THEN NULL
                    ELSE l_quantity / (l_linenumber - 1) END AS qty_per,
               TRY_CAST(l_returnflag AS INT) AS flag_as_int,
               TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip
        FROM lineitem WHERE l_orderkey <= 200
        ORDER BY orderkey, linenumber
    """,
)
def try_error_safe_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: Spark 4 runs ANSI mode by default,
    where division by zero and bad casts RAISE — ``try_divide`` /
    ``try_cast`` are the null-on-error forms a data-cleaning pipeline
    uses to survive dirty rows without disabling ANSI globally."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 200)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.try_divide(F.col("l_quantity"), F.col("l_linenumber") - 1).alias("qty_per"),
            F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
            F.col("l_quantity").cast("string").try_cast("double").alias("qty_roundtrip"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "bitwise_functions",
    category="scalar-fn",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               CAST(l_orderkey & 255 AS BIGINT) AS low_byte,
               CAST(l_orderkey | 7 AS BIGINT) AS or7,
               CAST(xor(l_orderkey, l_linenumber) AS BIGINT) AS xored,
               CAST(l_orderkey << 2 AS BIGINT) AS shifted,
               CAST(l_orderkey >> 1 AS BIGINT) AS halved
        FROM lineitem WHERE l_orderkey <= 100
        ORDER BY orderkey, linenumber
    """,
)
def bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface (AND/OR/XOR/shifts) — the substrate
    under feature hashing, bucketing, and bitmap tricks. Exact integer
    ops, trivially cross-engine."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 100)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
            F.col("l_orderkey").bitwiseOR(F.lit(7)).alias("or7"),
            F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber").cast("long")).alias("xored"),
            F.shiftleft(F.col("l_orderkey"), 2).alias("shifted"),
            F.shiftright(F.col("l_orderkey"), 1).alias("halved"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "deterministic_sample",
    category="scalar-fn",
    oracle="""
        SELECT o_orderkey AS orderkey, o_custkey AS custkey
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        ORDER BY orderkey
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~1/16 sampling by content hash — the pattern a
    training-data pipeline needs instead of ``df.sample``: membership
    depends only on the key, not on partitioning, session, or cluster
    size, so reruns and incremental jobs select the same rows. (Spark's
    ``sample(seed=...)`` is only stable for a fixed partitioning.)"""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0")
        .select(F.col("o_orderkey").alias("orderkey"), F.col("o_custkey").alias("custkey"))
        .orderBy("orderkey")
    )


@query(
    "array_functions",
    category="scalar-fn",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               CAST(embedding[1] AS DOUBLE) AS first_elem,
               CAST(embedding[64] AS DOUBLE) AS last_elem,
               CAST(list_max(embedding) AS DOUBLE) AS max_elem,
               CAST(list_min(embedding) AS DOUBLE) AS min_elem,
               len(list_filter(embedding, x -> x > 0)) AS n_positive
        FROM embeddings ORDER BY vec_id
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array expression surface over the embedding column — size,
    1-indexed element access, higher-order filter. All JVM built-ins;
    this is the substrate the similarity operators build on."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    return (
        embeddings.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.element_at("embedding", 1).cast("double").alias("first_elem"),
            F.element_at("embedding", 64).cast("double").alias("last_elem"),
            F.array_max("embedding").cast("double").alias("max_elem"),
            F.array_min("embedding").cast("double").alias("min_elem"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        ).orderBy("vec_id")
    )


@query(
    "explode_unnest",
    category="scalar-fn",
    oracle="""
        SELECT d.doc_id, t.word, COUNT(*) AS n
        FROM documents d, unnest(string_split(d.text, ' ')) AS t(word)
        WHERE d.doc_id < 20
        GROUP BY d.doc_id, t.word
        ORDER BY d.doc_id, t.word
    """,
)
def explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (UNNEST): one row per token — the lateral primitive under
    every shingling/tokenizing operator in the LLM-pipeline family."""
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "word")
    )


@query(
    "json_functions",
    category="scalar-fn",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
        FROM events ORDER BY event_id
    """,
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parsing of the events.props payload column (from_json with an
    explicit schema — schema-on-read, pushed into codegen; no UDF)."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id", F.from_json("props", "k INT").alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10).alias("k_mod"),
    ).orderBy("event_id")


@query(
    "map_functions",
    category="scalar-fn",
    oracle="""
        SELECT event_id, event_type AS et_from_map, 2 AS n_keys
        FROM events WHERE event_id < 100 ORDER BY event_id
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + access (create_map / element_at / map_keys).
    The oracle checks the round-trip identity: what goes into the map
    comes back out."""
    events = load_table(spark, sf_dir, "events")
    with_map = events.filter(F.col("event_id") < 100).select(
        "event_id",
        F.create_map(
            F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
        ).alias("m"),
    )
    return with_map.select(
        "event_id",
        F.element_at("m", "type").alias("et_from_map"),
        F.size(F.map_keys("m")).alias("n_keys"),
    ).orderBy("event_id")


@query(
    "unpivot_melt",
    category="scalar-fn",
    oracle="""
        SELECT c_custkey AS custkey, metric, CAST(value AS DOUBLE) AS value
        FROM (
            SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
            UNION ALL
            SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        )
        ORDER BY custkey, metric
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot (melt): wide columns → (metric, value) rows — the inverse
    of pivot, planned as a single Expand (one scan, no union of scans,
    which is what the oracle's UNION ALL would naively cost)."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select(
            "c_custkey", F.col("c_acctbal").alias("acctbal"), F.col("c_nationkey").cast("double").alias("nationkey")
        )
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")
        .select(F.col("c_custkey").alias("custkey"), "metric", "value")
        .orderBy("custkey", "metric")
    )


@query(
    "posexplode_outer_shingles",
    category="scalar-fn",
    oracle="""
        SELECT doc_id, t.pos::INT AS pos, t.sh AS shingle
        FROM (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, greatest(len(string_split(text, ' ')) - 39, 0)),
                         i -> struct_pack(pos := i - 1,
                                          sh := concat_ws(' ', string_split(text, ' ')[i],
                                                          string_split(text, ' ')[i + 39]))))
                         AS t
              FROM documents WHERE doc_id < 30)
        UNION ALL
        SELECT doc_id, NULL, NULL
        FROM documents
        WHERE doc_id < 30 AND len(string_split(text, ' ')) < 40
        ORDER BY doc_id, pos
    """,
)
def posexplode_outer_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: explode with positions, preserving rows whose
    array is empty as (NULL, NULL) — the outer variant matters in
    pipelines where losing empty documents would corrupt downstream
    counts. Pairs each token with the one 39 places later, so short
    documents genuinely produce empty arrays."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    toks = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        toks,
        F.slice(toks, 40, 1_000_000),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    trimmed = F.slice(pairs, 1, F.greatest(F.size(toks) - F.lit(39), F.lit(0)))
    return (
        docs.select("doc_id", F.posexplode_outer(trimmed).alias("pos", "shingle"))
        .orderBy("doc_id", "pos")
    )


@query(
    "case_null_handling",
    category="scalar-fn",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CASE WHEN o_totalprice >= 4000 THEN 'large'
                    WHEN o_totalprice >= 1500 THEN 'medium'
                    ELSE 'small' END AS size_class,
               COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
               (o_orderstatus = 'F') AS is_finished
        FROM orders ORDER BY orderkey
    """,
)
def case_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN ladders + NULLIF/COALESCE null algebra."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("orderkey"),
            F.when(F.col("o_totalprice") >= 4000, "large")
            .when(F.col("o_totalprice") >= 1500, "medium")
            .otherwise("small")
            .alias("size_class"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
                "status_norm"
            ),
            (F.col("o_orderstatus") == "F").alias("is_finished"),
        ).orderBy("orderkey")
    )


@query(
    "struct_functions",
    category="scalar-fn",
    oracle="""
        SELECT s_suppkey AS suppkey,
               struct_pack(name := s_name, nation := s_nationkey).name AS sname,
               struct_pack(name := s_name, nation := s_nationkey).nation AS snation,
               to_json(struct_pack(k := s_suppkey, bal := s_acctbal)) AS packed_json
        FROM supplier ORDER BY suppkey
    """,
)
def struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction, field access, and struct→JSON serialization
    — the nested-type surface (BinaryType/Array covered elsewhere).
    to_json output formats match across engines for long/double fields."""
    supplier = load_table(spark, sf_dir, "supplier")
    packed = F.struct(F.col("s_suppkey").alias("k"), F.col("s_acctbal").alias("bal"))
    named = F.struct(F.col("s_name").alias("name"), F.col("s_nationkey").alias("nation"))
    return supplier.select(
        F.col("s_suppkey").alias("suppkey"),
        named.getField("name").alias("sname"),
        named.getField("nation").alias("snation"),
        F.to_json(packed).alias("packed_json"),
    ).orderBy("suppkey")


@query(
    "scalar_subquery",
    category="subquery",
    oracle="""
        SELECT c_custkey AS custkey, c_acctbal AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        ORDER BY custkey
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the mean balance. Expressed as a
    broadcast cross-join of the 1-row aggregate — the distributed form of
    a scalar subquery (no driver round-trip, no collect)."""
    customer = load_table(spark, sf_dir, "customer")
    mean = customer.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        customer.crossJoin(F.broadcast(mean))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select(F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal"))
        .orderBy("custkey")
    )


@query(
    "in_subquery",
    category="subquery",
    oracle="""
        SELECT p_partkey AS partkey, p_brand AS brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        ORDER BY partkey
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery — planned as a left semi join on the subquery result."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    heavy = lineitem.filter(F.col("l_quantity") >= 49).select("l_partkey")
    return (
        part.join(heavy, part.p_partkey == heavy.l_partkey, "left_semi")
        .select(F.col("p_partkey").alias("partkey"), F.col("p_brand").alias("brand"))
        .orderBy("partkey")
    )


# --------------------------------------------------------------------------
# Pivot / unpivot (reshaping)
# --------------------------------------------------------------------------


@query(
    "pivot_revenue_by_status",
    category="reshape",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS "F",
               CAST(SUM(CASE WHEN o_orderstatus = 'O'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS "O",
               CAST(SUM(CASE WHEN o_orderstatus = 'P'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS "P"
        FROM orders GROUP BY order_year ORDER BY order_year
    """,
)
def pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long-to-wide reshaping (``groupBy().pivot()``) — revenue
    per order year spread across one column per order status. The pivot
    values are listed explicitly, which matters at scale: without them
    Spark runs an extra distinct-collect job over the pivot column
    before planning. Sums are exact DECIMAL then cast to double
    (float-sum order differs between engines)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
        .orderBy("order_year")
    )


@query(
    "unpivot_lineitem_charges",
    category="reshape",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               'extendedprice' AS charge, l_extendedprice AS amount
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax
        FROM lineitem WHERE l_orderkey <= 100
        ORDER BY orderkey, linenumber, charge
    """,
)
def unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide-to-long reshaping — one (charge, amount) row
    per charge column. ``DataFrame.unpivot`` plans as a generator
    expression (no join, no shuffle beyond the final sort): the
    scale-safe way to normalize metric columns before a grouped
    analysis."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax")
        .withColumnsRenamed(
            {
                "l_extendedprice": "extendedprice",
                "l_discount": "discount",
                "l_tax": "tax",
            }
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["extendedprice", "discount", "tax"],
            "charge",
            "amount",
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            "charge",
            "amount",
        )
        .orderBy("orderkey", "linenumber", "charge")
    )


# --------------------------------------------------------------------------
# SQL-surface depth: recursive CTE, LATERAL, null-safe equality
# --------------------------------------------------------------------------


@query(
    "recursive_cte_hierarchy",
    category="sql-surface",
    oracle="""
        WITH RECURSIVE tree(nationkey, depth, path) AS (
            SELECT n_nationkey, 0, CAST(n_nationkey AS VARCHAR)
            FROM nation WHERE n_nationkey = 0
            UNION ALL
            SELECT c.n_nationkey, t.depth + 1,
                   t.path || '>' || CAST(c.n_nationkey AS VARCHAR)
            FROM nation c JOIN tree t
              ON CAST(floor((c.n_nationkey - 1) / 5.0) AS BIGINT) = t.nationkey
            WHERE c.n_nationkey > 0
        )
        SELECT nationkey, depth, path FROM tree ORDER BY nationkey
    """,
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk a synthetic
    5-ary nation hierarchy (parent(k) = floor((k-1)/5)) from the root,
    emitting depth and the root-to-node path. Each iteration is one
    equi-join of the frontier against the (broadcastable) edge table —
    the same fixed-point loop pattern as operators/dedup
    connected-components, but expressed declaratively and terminated
    by the engine."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("rc_nation")
    return spark.sql(
        """
        WITH RECURSIVE tree(nationkey, depth, path) AS (
            SELECT n_nationkey, 0, CAST(n_nationkey AS STRING)
            FROM rc_nation WHERE n_nationkey = 0
            UNION ALL
            SELECT c.n_nationkey, t.depth + 1,
                   t.path || '>' || CAST(c.n_nationkey AS STRING)
            FROM rc_nation c JOIN tree t
              ON CAST(floor((c.n_nationkey - 1) / 5.0) AS BIGINT) = t.nationkey
            WHERE c.n_nationkey > 0
        )
        SELECT nationkey, depth, path FROM tree ORDER BY nationkey
        """
    )


@query(
    "lateral_topk_per_group",
    category="sql-surface",
    oracle="""
        SELECT n.n_name AS nation, l.custkey, l.acctbal
        FROM nation n,
             LATERAL (
                 SELECT c_custkey AS custkey, c_acctbal AS acctbal
                 FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 2
             ) l
        ORDER BY nation, acctbal DESC, custkey
    """,
)
def lateral_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by account balance
    for every nation, written as the SQL-standard lateral form. Catalyst
    decorrelates the ORDER BY/LIMIT subquery into a partitioned window
    top-k — same physical plan as window_topk_per_group, proving the
    lateral surface lowers to the scale-safe shape rather than a
    per-row re-execution."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, l.custkey, l.acctbal
        FROM lat_nation n,
             LATERAL (
                 SELECT c_custkey AS custkey, c_acctbal AS acctbal
                 FROM lat_customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey
                 LIMIT 2
             ) l
        ORDER BY nation, acctbal DESC, custkey
        """
    )


@query(
    "join_null_safe",
    category="join",
    oracle="""
        WITH a AS (
            SELECT NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio,
                   COUNT(*) AS cnt_early
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY prio
        ),
        b AS (
            SELECT NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS prio,
                   COUNT(*) AS cnt_late
            FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY prio
        )
        SELECT a.prio AS prio, a.cnt_early, b.cnt_late
        FROM a JOIN b ON a.prio IS NOT DISTINCT FROM b.prio
        ORDER BY prio NULLS FIRST
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    unspecified priority is mapped to NULL on both sides, and the
    null-safe join must still pair the NULL groups (a plain equi-join
    would drop them). Spark hashes null-safe keys like ordinary keys —
    still a one-shuffle (here broadcast) hash join, not a nested
    loop."""
    orders = load_table(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED"))
    cutoff = F.lit("1998-01-01").cast("timestamp")
    a = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy(prio.alias("prio"))
        .agg(F.count(F.lit(1)).alias("cnt_early"))
    )
    b = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(prio.alias("prio"))
        .agg(F.count(F.lit(1)).alias("cnt_late"))
    )
    return (
        a.join(b, a["prio"].eqNullSafe(b["prio"]))
        .select(a["prio"].alias("prio"), "cnt_early", "cnt_late")
        .orderBy(F.col("prio").asc_nulls_first())
    )


@query(
    "array_higher_order2",
    category="scalar-array",
    oracle="""
        WITH arrs AS (
            SELECT l_orderkey AS orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS a
            FROM lineitem WHERE l_orderkey <= 200
            GROUP BY l_orderkey
        )
        SELECT orderkey,
               array_to_string(a, ',') AS qty_arr,
               len(list_filter(a, x -> x > 40)) > 0 AS any_gt40,
               len(list_filter(a, x -> NOT (x > 0))) = 0 AS all_gt0,
               CAST(list_sum(a) AS BIGINT) AS total,
               array_to_string(
                   list_transform(generate_series(1, len(a)),
                                  i -> a[i] + a[len(a) + 1 - i]), ',') AS zipped
        FROM arrs
        ORDER BY orderkey
    """,
)
def array_higher_order2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions round 2: exists, forall, aggregate
    (fold), and zip_with against a reversed copy — all JVM lambda
    expressions inside whole-stage codegen, no UDFs. Array outputs are
    serialized to strings (driver-hasher contract)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    arrs = (
        lineitem.filter(F.col("l_orderkey") <= 200)
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.array_sort(F.collect_list(F.col("l_quantity").cast("bigint"))).alias("a"))
    )
    a = F.col("a")
    return (
        arrs.select(
            "orderkey",
            F.array_join(a, ",").alias("qty_arr"),
            F.exists(a, lambda x: x > 40).alias("any_gt40"),
            F.forall(a, lambda x: x > 0).alias("all_gt0"),
            F.aggregate(a, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("total"),
            F.array_join(
                F.zip_with(a, F.reverse(a), lambda x, y: x + y), ","
            ).alias("zipped"),
        )
        .orderBy("orderkey")
    )


@query(
    "regex_functions",
    category="scalar-string",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, '[aeiou][a-z]+')) AS n_vowel_words,
               NULLIF(regexp_extract(text, 't[a-z]+'), '') AS first_t_word,
               COALESCE(array_to_string(regexp_extract_all(text, '(key|value)', 1), '|'), '')
                 AS kv_hits,
               regexp_matches(text, 'agg') AS has_agg
        FROM documents
        ORDER BY doc_id
    """,
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: regexp_count, regexp_substr (first match),
    regexp_extract_all (serialized), regexp_like. Patterns are kept in
    the RE2-compatible subset so Java and DuckDB dialects agree. All
    JVM-side expressions — the PII scrubber (plans/llm.py) is the
    production-shaped big sibling."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit("[aeiou][a-z]+")).alias("n_vowel_words"),
            F.regexp_substr(F.col("text"), F.lit("t[a-z]+")).alias("first_t_word"),
            F.array_join(
                F.regexp_extract_all(F.col("text"), F.lit("(key|value)"), 1), "|"
            ).alias("kv_hits"),
            F.col("text").rlike("agg").alias("has_agg"),
        )
        .orderBy("doc_id")
    )


@query(
    "url_functions",
    category="scalar-string",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
                     || '?lang=' || lang || '&v=1' AS url
            FROM documents
        )
        SELECT doc_id, url,
               regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
               regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '[?&]lang=([^&]*)', 1) AS qlang,
               regexp_extract(url, '^([a-z]+)://', 1) AS proto
        FROM u
        ORDER BY doc_id
    """,
)
def url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition (host/path/query-param/protocol) via Spark's
    parse_url — the curation primitive behind domain-level filtering and
    per-site quotas in web-corpus pipelines. The oracle reproduces each
    component with anchored regexes since DuckDB has no parse_url."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&v=1"),
    )
    return (
        docs.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            "url",
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("lang")).alias("qlang"),
            F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("proto"),
        )
        .orderBy("doc_id")
    )


@query(
    "map_higher_order",
    category="scalar-map",
    oracle="""
        SELECT l_orderkey AS orderkey,
               CAST(l_quantity AS BIGINT) + 1 AS q_plus1,
               'Q|Q2' AS upper_keys,
               CAST(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
                    + CASE WHEN l_quantity * 2 > 25 THEN 1 ELSE 0 END AS INT) AS n_big,
               CAST(l_quantity AS BIGINT) + 10 AS q_zipped
        FROM lineitem
        WHERE l_linenumber = 1 AND l_orderkey <= 100
        ORDER BY orderkey
    """,
)
def map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: transform_values, transform_keys,
    map_filter, map_zip_with — all JVM lambda expressions. The oracle
    derives each expected value from the scalar inputs directly (DuckDB
    has no map lambdas), so any drift in Spark's map semantics fails
    the hash."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    m = F.create_map(F.lit("q"), qty, F.lit("q2"), qty * 2)
    m2 = F.create_map(F.lit("q"), F.lit(10).cast("bigint"), F.lit("q2"), F.lit(20).cast("bigint"))
    return (
        lineitem.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") <= 100))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.element_at(F.transform_values(m, lambda k, v: v + 1), "q").alias("q_plus1"),
            F.array_join(
                F.array_sort(F.map_keys(F.transform_keys(m, lambda k, v: F.upper(k)))), "|"
            ).alias("upper_keys"),
            F.size(F.map_filter(m, lambda k, v: v > 25)).alias("n_big"),
            F.element_at(
                F.map_zip_with(m, m2, lambda k, v1, v2: v1 + v2), "q"
            ).alias("q_zipped"),
        )
        .orderBy("orderkey")
    )


@query(
    "stats_corr_covar",
    category="aggregation",
    oracle="""
        WITH s AS (
            SELECT l_returnflag AS returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT returnflag, n,
               CASE WHEN isfinite((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) THEN floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 END
                   AS corr_qty_price,
               CASE WHEN isfinite((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) THEN floor(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 1000000.0 + 0.5) / 1000000.0 END AS covar_samp_qty_price
        FROM s
        ORDER BY returnflag
    """,
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and sample covariance per group, computed
    from exact DECIMAL power sums (n, Σx, Σy, Σx², Σy², Σxy) instead of
    the built-in ``corr``/``covar_samp`` — the built-ins accumulate in
    floating point, so their low bits depend on partitioning order and
    can't hash-match across engines. The power sums are exact decimals
    (inputs have 2 fractional digits), combine associatively in any
    partial-agg order, and one deterministic double-precision formula
    finishes on the driver side of the agg.

    Scale: a single map-side-combinable groupBy — the same shuffle
    cost as any sum; this is the textbook way to make distributed
    second-moment statistics reproducible at any cluster size."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = lineitem.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return (
        s.select(
            "returnflag",
            "n",
            round_half_up(
                (nd * sxy - sx * sy)
                / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)),
                6,
            ).alias("corr_qty_price"),
            round_half_up((sxy - sx * sy / nd) / (nd - F.lit(1.0)), 6).alias(
                "covar_samp_qty_price"
            ),
        )
        .orderBy("returnflag")
    )


@query(
    "join_shuffle_hash_hint",
    category="join",
    oracle="""
        SELECT o.o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY priority ORDER BY priority
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled hash join, forced via the ``shuffle_hash`` hint —
    completing the strategy quartet (broadcast / sort-merge / BNLJ /
    shuffled-hash, see join_sort_merge_hint). SHJ beats SMJ when one
    side is much smaller than the other but still too big to broadcast:
    both sides shuffle on the key, the smaller builds an in-memory hash
    table per partition, the larger streams — no sort of either side.
    The hint pins the path (fixture scale would broadcast otherwise);
    at 100 TB Catalyst picks it when
    spark.sql.join.preferSortMergeJoin=false or AQE sizes allow."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.hint("shuffle_hash")
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
        )
        .orderBy("priority")
    )


@query(
    "collation_case_insensitive",
    category="expression",
    oracle="""
        WITH cased AS (
            SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                        ELSE p_name END AS name_cased
            FROM part
        )
        SELECT lower(name_cased) AS name_ci,
               MIN(name_cased) AS first_variant,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT name_cased) AS BIGINT) AS n_variants
        FROM cased
        GROUP BY name_ci
        ORDER BY name_ci
    """,
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support: grouping under the UNICODE_CI collation
    treats case variants as one key — the engine-level answer to
    case-insensitive semantics that otherwise get hand-rolled as
    lower() everywhere (and lose index/stats fidelity on real columns).
    The query plants deterministic case variation (even keys
    uppercased), groups by the collated value, and emits
    deterministic representatives (lower + binary MIN) so the oracle —
    which has no collations — reproduces it with lower(); for this
    ASCII corpus UNICODE_CI grouping and lower() agree exactly.

    Scale: a collated groupBy is still one partial-agg combinable hash
    aggregate; the collation key is computed map-side."""
    part = load_table(spark, sf_dir, "part")
    cased = part.select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name"))
        .otherwise(F.col("p_name"))
        .alias("name_cased")
    )
    return (
        cased.groupBy(
            F.lower(F.collate(F.col("name_cased"), "UNICODE_CI")).alias("name_ci")
        )
        .agg(
            F.min(F.collate(F.col("name_cased"), "UTF8_BINARY")).alias("first_variant"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(F.collate(F.col("name_cased"), "UTF8_BINARY"))
            .cast("bigint")
            .alias("n_variants"),
        )
        .orderBy("name_ci")
    )


@query(
    "parameterized_sql_query",
    category="sql-surface",
    oracle="""
        SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(MAX(p_retailprice) AS DOUBLE) AS max_price
        FROM part
        WHERE p_size <= 25 AND p_type = 'PROMO'
        GROUP BY brand ORDER BY brand
    """,
)
def parameterized_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4): named parameter markers bound
    via ``spark.sql(query, args={...})`` — the injection-safe API for
    templated queries (values are bound as literals by the parser, not
    string-spliced, so a hostile string can't alter the plan). The
    bound literals reach Catalyst as constants: the p_size/p_type
    predicates still push down to the Parquet scan exactly like
    hand-written literals."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    return spark.sql(
        """
        SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(MAX(p_retailprice) AS DOUBLE) AS max_price
        FROM part_v
        WHERE p_size <= :max_size AND p_type = :ptype
        GROUP BY brand ORDER BY brand
        """,
        args={"max_size": 25, "ptype": "PROMO"},
    )


@query(
    "xml_functions",
    category="scalar",
    oracle="""
        SELECT event_id,
               '<event><type>' || event_type || '</type><uid>'
                   || CAST(user_id AS VARCHAR) || '</uid></event>' AS xml,
               event_type AS type_from_xml,
               user_id AS uid_from_xml,
               event_type AS type_xpath,
               user_id AS uid_xpath_sum
        FROM events
        WHERE event_id < 200
        ORDER BY event_id
    """,
)
def xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scalar-function surface (Spark 4 ``from_xml`` + the Hive
    xpath family): each event is serialized to an XML fragment, parsed
    back with a declared struct schema, and field-extracted both ways.
    The oracle checks the round trip against the source columns —
    DuckDB has no XML type, and an engine-side identity is exactly what
    proves parse(serialize(x)) == x.

    Scale: pure map-side expressions (parsing included) — scales with
    the scan like every scalar family. ``schema_of_xml`` (schema
    inference from a sample literal) is exercised in tests rather than
    here: its output is a schema string, not row data.
    """
    events = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<event><type>"),
        F.col("event_type"),
        F.lit("</type><uid>"),
        F.col("user_id").cast("string"),
        F.lit("</uid></event>"),
    )
    parsed = F.from_xml(xml, "type string, uid bigint")
    return (
        events.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            xml.alias("xml"),
            parsed.getField("type").alias("type_from_xml"),
            parsed.getField("uid").alias("uid_from_xml"),
            F.xpath_string(xml, F.lit("/event/type")).alias("type_xpath"),
            # xpath numeric extraction returns double; LONG cast pins the
            # driver-hash dtype to the source column's int64.
            F.xpath_long(xml, F.lit("sum(/event/uid)")).alias("uid_xpath_sum"),
        )
        .orderBy("event_id")
    )


@query(
    "agg_mode_median",
    category="aggregation",
    oracle="""
        WITH counts AS (
            SELECT l_returnflag AS returnflag, l_quantity AS q,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM lineitem GROUP BY returnflag, q
        ),
        modes AS (
            SELECT returnflag, q AS mode_qty
            FROM (
                SELECT returnflag, q,
                       row_number() OVER (
                           PARTITION BY returnflag ORDER BY c DESC, q ASC
                       ) AS rn
                FROM counts
            ) WHERE rn = 1
        )
        SELECT m.returnflag, m.mode_qty,
               CASE WHEN isfinite(CAST(MEDIAN(l.l_quantity) AS DOUBLE)) THEN floor((CAST(MEDIAN(l.l_quantity) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END AS median_qty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem l JOIN modes m ON l.l_returnflag = m.returnflag
        GROUP BY m.returnflag, m.mode_qty
        ORDER BY m.returnflag
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode()`` (deterministic form — ties resolve to the lowest
    value, which the oracle replays as argmax over (count DESC, value
    ASC)) and exact ``median()`` per group — the Spark 3.4+/4
    order-statistic aggregates. Median interpolates identically in both
    engines over this integer-valued domain.

    Scale: mode's state is a per-partition value→count map (bounded by
    the 50-value quantity domain); median requires a sort of the
    group's values — at 100 TB the approx_percentile sketch
    (approx_percentile_quantities) is the scale substitute, which is
    why both forms are in the corpus."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.mode(F.col("l_quantity"), True).alias("mode_qty"),
            round_half_up(F.median(F.col("l_quantity")), 6).alias("median_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("returnflag")
    )


@query(
    "equi_depth_histogram",
    category="aggregation",
    oracle="""
        WITH buckets AS (
            SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders
        )
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CASE WHEN isfinite(MIN(o_totalprice)) THEN floor((MIN(o_totalprice)) * 100.0 + 0.5) / 100.0 END AS lo,
               CASE WHEN isfinite(MAX(o_totalprice)) THEN floor((MAX(o_totalprice)) * 100.0 + 0.5) / 100.0 END AS hi
        FROM buckets GROUP BY bucket ORDER BY bucket
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) decile histogram of order totals via
    ``ntile`` — the optimizer-statistics primitive (histogram column
    stats, workload-aware range partitioning boundaries). Ties broken
    by the unique key so both engines cut identical buckets.

    Scale: a global ntile needs a total order — fine for stats
    collection over an aggregate/sample, wrong for raw 100 TB facts;
    there the boundary estimate comes from approx_percentile (the
    sketch path) and this exact form runs on the sampled summary. The
    global_shuffle_positions query shows the bucketed alternative when
    a full exact total order is genuinely required."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_half_up(F.min("o_totalprice"), 2).alias("lo"),
            round_half_up(F.max("o_totalprice"), 2).alias("hi"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"), "n", "lo", "hi")
        .orderBy("bucket")
    )


@query(
    "transpose_agg_summary",
    category="sql-surface",
    oracle="""
        WITH agg AS (
            SELECT l_returnflag AS flag,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(COUNT(*) AS DOUBLE) AS n_rows
            FROM lineitem GROUP BY flag
        )
        SELECT 'n_rows' AS key,
               (SELECT n_rows FROM agg WHERE flag = 'A') AS A,
               (SELECT n_rows FROM agg WHERE flag = 'N') AS N,
               (SELECT n_rows FROM agg WHERE flag = 'R') AS R
        UNION ALL
        SELECT 'sum_qty',
               (SELECT sum_qty FROM agg WHERE flag = 'A'),
               (SELECT sum_qty FROM agg WHERE flag = 'N'),
               (SELECT sum_qty FROM agg WHERE flag = 'R')
        ORDER BY key
    """,
)
def transpose_agg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): flip a metrics-by-group
    aggregate into group-by-metrics — the report/dashboard pivot where
    groups become columns. Spark requires the new column names to come
    from the first column's values and coerces the body to a common
    type (double here).

    Scale: transpose collects the frame shape to the driver to name
    columns, so it belongs strictly AFTER aggregation — this plan
    transposes a 3x3 summary, never raw data (the same driver-size
    discipline as df.stat.crosstab)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = (
        lineitem.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).cast("double").alias("n_rows"),
        )
        .orderBy("flag")
    )
    return (
        agg.transpose()
        .withColumnRenamed("key", "key")
        .orderBy("key")
    )


@query(
    "apply_in_arrow_group_stats",
    category="udf",
    oracle="""
        SELECT l_returnflag AS flag,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(l_quantity) AS min_qty,
               MAX(l_quantity) AS max_qty
        FROM lineitem GROUP BY flag ORDER BY flag
    """,
)
def apply_in_arrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GroupedData.applyInArrow`` (Spark 4) — the zero-copy grouped
    map: each group arrives as a pyarrow.Table and is reduced with
    pyarrow.compute kernels, no pandas materialization at all. The
    lowest-overhead Python hook for group-shaped logic the JVM can't
    express (min/max/count here are verifiable stand-ins).

    Scale: one shuffle on the group key; per-group work is C-side
    Arrow kernels. Same skew caveat as any grouped map — a hot key
    lands on one worker, so keep per-group state bounded."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        q = table.column("l_quantity")
        return pa.table(
            {
                "flag": [table.column("l_returnflag")[0].as_py()],
                "n": pa.array([table.num_rows], pa.int64()),
                "min_qty": [pc.min(q).as_py()],
                "max_qty": [pc.max(q).as_py()],
            }
        )

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    return (
        lineitem.groupBy("l_returnflag")
        .applyInArrow(
            stats, schema="flag string, n bigint, min_qty double, max_qty double"
        )
        .orderBy("flag")
    )


@query(
    "sql_scripting_block",
    category="sql-surface",
    oracle="""
        WITH c AS (SELECT MAX(o_totalprice) * 0.5 AS cutoff FROM orders)
        SELECT o.o_orderstatus AS orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o CROSS JOIN c
        WHERE o.o_totalprice > c.cutoff
        GROUP BY orderstatus ORDER BY orderstatus
    """,
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 ``BEGIN … END``): a procedural block
    DECLAREs a session variable, SETs it from a scalar subquery, and
    the final statement's result is the block's result — the ELT
    migration path for stored-procedure workloads (no driver-side
    Python between steps).

    Scale: the variable holds a scalar on the driver; the data-sized
    work stays declarative inside the block's statements, so each
    statement is its own optimized Catalyst plan. Scripting is on by
    default since Spark 4.1, so the builder sets no conf."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    return spark.sql(
        """
        BEGIN
            DECLARE cutoff DOUBLE;
            SET cutoff = (SELECT MAX(o_totalprice) * 0.5 FROM script_orders);
            SELECT o_orderstatus AS orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_big,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM script_orders
            WHERE o_totalprice > cutoff
            GROUP BY orderstatus ORDER BY orderstatus;
        END
        """
    )


@query(
    "agg_filter_clause",
    category="aggregation",
    oracle="""
        SELECT l_returnflag AS returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted
        FROM lineitem
        GROUP BY returnflag ORDER BY returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``FILTER (WHERE …)`` aggregate modifier — per-aggregate
    predicates in one pass over the data (the standard form of the
    CASE-WHEN-inside-SUM idiom, planned identically: one scan, partial
    aggs carry each filtered accumulator).

    Scale: still a single map-side-combinable groupBy; adding filtered
    aggregates adds accumulator width, never passes."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_fc_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS rev_discounted
        FROM _fc_lineitem
        GROUP BY returnflag ORDER BY returnflag
        """
    )


@query(
    "sql_pivot_clause",
    category="sql-surface",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        FROM orders
        GROUP BY priority ORDER BY priority
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``PIVOT`` clause (the SQL-level twin of
    ``GroupedData.pivot``, which agg_pivot covers): explicit IN values,
    so the planner skips the distinct-value discovery job — the only
    scalable form (an open value list would need a full pre-scan and an
    unbounded output schema).

    Scale: plans to the same single-pass conditional aggregation the
    oracle spells out with CASE."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pv_orders")
    return spark.sql(
        """
        SELECT * FROM (
            SELECT o_orderpriority AS priority, o_orderstatus
            FROM _pv_orders
        )
        PIVOT (
            CAST(COUNT(*) AS BIGINT) FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P)
        )
        ORDER BY priority
        """
    ).select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("P"),
    )


@query(
    "group_by_all_ordinal",
    category="sql-surface",
    oracle="""
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY returnflag, linestatus
        ORDER BY returnflag, linestatus
    """,
)
def group_by_all_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` (infer grouping keys from the non-aggregate
    select list) + ``ORDER BY`` ordinals — the analyst-ergonomics SQL
    surface (Spark 3.4+). Plans identically to the explicit form; the
    inference is purely syntactic."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM _gba_lineitem
        GROUP BY ALL
        ORDER BY 1, 2
        """
    )


@query(
    "agg_listagg_ordered",
    category="aggregation",
    oracle="""
        SELECT n_regionkey AS regionkey,
               string_agg(n_name, '|' ORDER BY n_name) AS nations,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM nation
        GROUP BY regionkey
        ORDER BY regionkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 ``listagg … WITHIN GROUP``,
    the ISO form of string_agg): deterministic only BECAUSE of the
    WITHIN GROUP order — an unordered listagg concatenates in
    partition-arrival order and can never hash-match across engines or
    even across runs. The oracle uses DuckDB's string_agg with the same
    ORDER BY.

    Scale: the per-group result grows with group size — fine for
    dimension-sized groups (nations per region here); for fact-sized
    groups prefer collect_list bounded by a prior top-k."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.expr("listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("regionkey")
    )


@query(
    "sort_null_ordering",
    category="sort",
    oracle="""
        WITH t AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END
                       AS bal
            FROM customer WHERE c_custkey <= 60
        )
        SELECT c_custkey, bal,
               CAST(row_number() OVER (
                   ORDER BY bal DESC NULLS LAST, c_custkey) AS INTEGER)
                   AS rn_nulls_last,
               CAST(row_number() OVER (
                   ORDER BY bal ASC NULLS FIRST, c_custkey) AS INTEGER)
                   AS rn_nulls_first
        FROM t
        ORDER BY c_custkey
    """,
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL placement in sort orders (``desc_nulls_last`` /
    ``asc_nulls_first``) — the semantics every ranking over an optional
    metric must choose deliberately: Spark's defaults (NULLS LAST on
    ASC, NULLS FIRST on DESC) differ from the SQL standard's
    implementation-defined behavior, so portable queries spell it out.
    Planted NULLs (every 7th customer) make both orders observable.

    Scale: null placement is a sort-key flag, not an extra pass —
    identical shuffle/sort cost either way."""
    customer = load_table(spark, sf_dir, "customer")
    t = customer.filter(F.col("c_custkey") <= 60).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    from pyspark.sql import Window as W

    w_last = W.orderBy(F.col("bal").desc_nulls_last(), F.col("c_custkey"))
    w_first = W.orderBy(F.col("bal").asc_nulls_first(), F.col("c_custkey"))
    return (
        t.select(
            "c_custkey",
            "bal",
            F.row_number().over(w_last).cast("int").alias("rn_nulls_last"),
            F.row_number().over(w_first).cast("int").alias("rn_nulls_first"),
        )
        .orderBy("c_custkey")
    )


@query(
    "entity_merge_precedence",
    category="join",
    oracle="""
        WITH a AS (
            SELECT o_custkey AS k,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   MAX(o_orderdate) AS last_order
            FROM orders GROUP BY o_custkey
        ),
        b AS (
            SELECT user_id AS k,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(ts) AS last_event
            FROM events GROUP BY user_id
        )
        SELECT COALESCE(a.k, b.k) AS entity_id,
               CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 'both'
                    WHEN a.k IS NOT NULL THEN 'orders_only'
                    ELSE 'events_only' END AS presence,
               COALESCE(a.n_orders, 0) AS n_orders,
               COALESCE(b.n_events, 0) AS n_events,
               greatest(a.last_order, b.last_event) AS last_seen
        FROM a FULL OUTER JOIN b ON a.k = b.k
        ORDER BY entity_id
    """,
)
def entity_merge_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source entity merge: per-entity order stats and event
    stats unified through a FULL OUTER join with COALESCE precedence
    and a NULL-skipping greatest() for last-seen — the master-data
    consolidation pattern (the single-pair full outer is
    join_full_outer; this is its applied, survivorship-rule form).
    Both engines' greatest() skip NULLs (Postgres semantics), so a
    one-sided entity keeps its one timestamp.

    Scale: two combinable pre-aggregates shrink each side to
    entity-grain BEFORE the join — the full outer shuffles entity
    rows, never fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    a = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.max("o_orderdate").alias("last_order"),
    )
    b = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("last_event"),
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("a.k"), F.col("b.k")).alias("entity_id"),
        F.when(
            F.col("a.k").isNotNull() & F.col("b.k").isNotNull(), "both"
        )
        .when(F.col("a.k").isNotNull(), "orders_only")
        .otherwise("events_only")
        .alias("presence"),
        F.coalesce(F.col("n_orders"), F.lit(0).cast("bigint")).alias("n_orders"),
        F.coalesce(F.col("n_events"), F.lit(0).cast("bigint")).alias("n_events"),
        F.greatest(F.col("last_order"), F.col("last_event")).alias("last_seen"),
    ).orderBy("entity_id")


@query(
    "sql_pipe_syntax",
    category="sql-surface",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SQL:2023-style `|>` chaining): the
    linear FROM → WHERE → EXTEND → AGGREGATE form of a filter+rollup,
    proving the pipe parser lowers onto the exact same Catalyst plan as
    the classic SELECT (the oracle). Pipe SQL is the surface modern
    migration guides teach; one registered row pins that the dialect
    works end-to-end against real tables."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    return spark.sql(
        """
        FROM _pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents1
        |> AGGREGATE COUNT(*) AS n, CAST(SUM(cents1) AS BIGINT) AS cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    ).select("o_orderpriority", "n", "cents")


@query(
    "sql_group_order_by_all",
    category="sql-surface",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        GROUP BY ALL
        ORDER BY ALL
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUP BY ALL` / `ORDER BY ALL` (the DuckDB-popularized
    shorthand Spark 4 adopted): every non-aggregate select item groups,
    every output column orders — both engines run the SAME shorthand
    text, pinning that the two dialects resolve it identically (the
    resolved plan is the classic q1-style partial+final aggregate)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM _gba_lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "sql_udf_scalar_and_table",
    category="function",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events
        WHERE value >= 50.0
        GROUP BY event_type ORDER BY event_type
    """,
)
def sql_udf_scalar_and_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (new in Spark 4.0): a SCALAR function
    (``CREATE TEMPORARY FUNCTION ... RETURNS BIGINT RETURN expr``) and
    a TABLE function (``RETURNS TABLE(...) RETURN SELECT ...``) used
    together — the exact-cent lattice as a reusable scalar, and a
    parameterized high-value-events view as the FROM-clause table.
    Unlike Python UDFs, SQL UDFs INLINE into the Catalyst plan: the
    scalar body participates in whole-stage codegen and the table
    body's ``value >= th`` predicate reaches the parquet scan as a
    pushed filter — reusable abstractions at zero runtime cost, which
    is why they are the first tool for shared logic at 100 TB (the
    Python UDF rows exist to cover the escape hatch, not the default).
    The oracle computes the same aggregate with the logic inlined by
    hand."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_sqludf_events")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _sqludf_to_cents(v DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(v * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION _sqludf_high_value(th DOUBLE) "
        "RETURNS TABLE(event_type STRING, value DOUBLE) "
        "RETURN SELECT event_type, value FROM _sqludf_events WHERE value >= th"
    )
    return spark.sql(
        """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(_sqludf_to_cents(value)) AS BIGINT) AS total_cents
        FROM _sqludf_high_value(50.0D)
        GROUP BY event_type ORDER BY event_type
        """
    )


@query(
    "exists_subquery_customers",
    category="subquery",
    oracle="""
        SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY custkey
    """,
)
def exists_subquery_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries, run through ``spark.sql``
    so Catalyst's RewritePredicateSubquery does the planning: customers
    holding an open ('O') order but no finished ('F') order. EXISTS
    lowers to a left-semi hash join and NOT EXISTS to a left-anti — both
    shuffle-on-key, no per-row re-execution of the subquery (the naive
    reading of correlated subqueries would be a 100 TB disaster; the
    rewrite is what makes them safe). DataFrame-API parity with an
    explicit semi+anti composition is pinned in
    tests/test_relational_ops.py (exists_subquery_customers)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("exq_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("exq_orders")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
        FROM exq_customer c
        WHERE EXISTS (SELECT 1 FROM exq_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM exq_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY custkey
        """
    )


@query(
    "sql_identifier_clause",
    category="sql-surface",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) clause (Spark 4 SQL): table AND grouping
    column arrive as *parameters*, not string-spliced SQL — the
    injection-safe way a multi-tenant 100 TB platform templates one
    audited query over many tables/columns (the parser resolves the
    identifier, so `'orders; DROP ...'` can never escape into the
    plan). Values still bind via named args (:status). The templated
    aggregate must equal the directly-written oracle."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ident_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(IDENTIFIER(:val) AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status
        GROUP BY IDENTIFIER(:grp) ORDER BY priority
        """,
        args={
            "tbl": "ident_orders",
            "grp": "o_orderpriority",
            "val": "o_totalprice",
            "status": "F",
        },
    )


@query(
    "not_in_null_semantics",
    category="subquery",
    oracle="""
        WITH fin AS (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT
            CAST((SELECT COUNT(*) FROM customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM fin))
                 AS BIGINT) AS n_not_in,
            CAST((SELECT COUNT(*) FROM customer c
                  WHERE NOT EXISTS (SELECT 1 FROM fin f
                                    WHERE f.o_custkey = c.c_custkey))
                 AS BIGINT) AS n_not_exists,
            CAST((SELECT COUNT(*) FROM customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM fin
                                          WHERE o_custkey IS NOT NULL))
                 AS BIGINT) AS n_not_in_null_filtered
    """,
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI null semantics of NOT IN vs NOT EXISTS — the classic
    correctness trap, demonstrated live with one NULL planted in the
    subquery: ``x NOT IN (…, NULL)`` is never TRUE (three-valued logic
    — the NULL comparison is UNKNOWN, so the conjunction can't be
    TRUE), hence **n_not_in = 0**; NOT EXISTS ignores the NULL row and
    counts dormant customers normally; filtering the NULL out restores
    NOT IN ≡ NOT EXISTS. Both engines must agree on all three counts.

    At scale the difference is also a PLAN difference: NOT EXISTS /
    null-filtered NOT IN lower to a left-anti hash join, while a
    nullable NOT IN forces a null-aware anti join
    (BroadcastNestedLoopJoin in the worst case) — writing the
    null-filter explicitly is the 100 TB-safe form. DataFrame-API
    parity is pinned in tests/test_sql_surface_parity.py."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("nin_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("nin_orders")
    return spark.sql(
        """
        WITH fin AS (
            SELECT o_custkey FROM nin_orders WHERE o_orderstatus = 'F'
            UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT
            CAST((SELECT COUNT(*) FROM nin_customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM fin))
                 AS BIGINT) AS n_not_in,
            CAST((SELECT COUNT(*) FROM nin_customer c
                  WHERE NOT EXISTS (SELECT 1 FROM fin f
                                    WHERE f.o_custkey = c.c_custkey))
                 AS BIGINT) AS n_not_exists,
            CAST((SELECT COUNT(*) FROM nin_customer
                  WHERE c_custkey NOT IN (SELECT o_custkey FROM fin
                                          WHERE o_custkey IS NOT NULL))
                 AS BIGINT) AS n_not_in_null_filtered
        """
    )


@query(
    "bitmap_distinct_users",
    category="approx-agg",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_merged
        FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via BITMAP aggregates
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the mergeable-state alternative to COUNT(DISTINCT): each
    (event_type, 32k-id bucket) collapses to one bitmap whose bits are
    the ids seen, popcounts sum to the exact distinct count, and —
    the column that matters at 100 TB — bitmaps OR-MERGE, so daily
    per-bucket bitmaps roll up into monthly distincts without ever
    re-touching the raw events (COUNT DISTINCT forces a full reshuffle
    of history every time). Both paths are computed here: ``n_users``
    sums popcounts of per-bucket bitmaps directly; ``n_users_merged``
    first builds per-(bucket, ts-half) bitmaps, OR-merges the halves
    with ``bitmap_or_agg``, then popcounts — proving merge-equivalence
    against the oracle's plain COUNT(DISTINCT) twice over.

    Scale: the bitmap build is a combinable aggregate (partial bitmaps
    OR map-side); state per group is a fixed 4 KB bitmap per 32k-id
    bucket, independent of row count."""
    ev = load_table(spark, sf_dir, "events")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit(0)
    ).otherwise(F.lit(1))
    ev.select("event_type", "user_id", half.alias("half")).createOrReplaceTempView(
        "bm_events"
    )
    return spark.sql(
        """
        WITH direct AS (
            SELECT event_type,
                   CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_users
            FROM (SELECT event_type,
                         bitmap_bucket_number(user_id) AS bucket,
                         bitmap_construct_agg(bitmap_bit_position(user_id))
                             AS bm
                  FROM bm_events GROUP BY event_type, bucket)
            GROUP BY event_type),
        halves AS (
            SELECT event_type, half,
                   bitmap_bucket_number(user_id) AS bucket,
                   bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
            FROM bm_events GROUP BY event_type, half, bucket),
        merged AS (
            SELECT event_type,
                   CAST(SUM(cnt) AS BIGINT) AS n_users_merged
            FROM (SELECT event_type, bucket,
                         bitmap_count(bitmap_or_agg(bm)) AS cnt
                  FROM halves GROUP BY event_type, bucket)
            GROUP BY event_type)
        SELECT d.event_type, d.n_users, m.n_users_merged
        FROM direct d JOIN merged m ON d.event_type = m.event_type
        ORDER BY d.event_type
        """
    )


@query(
    "rollup_grouping_id",
    category="aggregation",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(GROUPING(l_returnflag) AS INT) AS is_flag_total,
               CAST(GROUPING(l_linestatus) AS INT) AS is_status_total,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / grouping_id() over a ROLLUP — the metadata columns
    that make subtotal rows machine-distinguishable: a NULL in a
    rollup output is ambiguous (real NULL data vs "aggregated away")
    until GROUPING() labels it, and grouping_id()'s bitmask keys each
    aggregation LEVEL (0 = leaf, 1 = per-flag subtotal, 3 = grand
    total) — which is how a 100 TB reporting layer routes one rollup's
    rows to per-level sinks instead of re-aggregating per level.
    Spark's grouping_id() == DuckDB's multi-argument GROUPING()
    bitmask, checked value-for-value."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.grouping("l_returnflag").cast("int").alias("is_flag_total"),
            F.grouping("l_linestatus").cast("int").alias("is_status_total"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus", "gid",
            "is_flag_total", "is_status_total", "n",
        )
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "sql_lateral_column_alias",
    category="sql-surface",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               l_extendedprice * (1 - l_discount) AS net,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross,
               l_extendedprice * (1 - l_discount) * (1 + l_tax)
                   - l_extendedprice * (1 - l_discount) AS tax_amt
        FROM lineitem WHERE l_orderkey <= 300
        ORDER BY orderkey, linenumber
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+/4): a SELECT item referencing
    a PRIOR alias in the same list — ``net`` feeds ``gross`` feeds
    ``tax_amt`` without a subquery or repeated expression. Catalyst
    rewrites the chain by inline substitution, so the physical plan is
    identical to the written-out form: the DuckDB oracle states every
    expression fully expanded, which both pins the substitution
    semantics and keeps the IEEE trees identical term-for-term (each
    alias's tree is the textual substitution, multiplication-for-
    multiplication — no DECIMAL needed because no aggregation
    reorders floats).

    tests/test_plans.py replays the chain through the DataFrame API
    (explicit repeated expressions) and asserts frame equality — the
    independent check the mirrored-oracle audit requires."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_lca_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               l_extendedprice * (1 - l_discount) AS net,
               net * (1 + l_tax) AS gross,
               gross - net AS tax_amt
        FROM _lca_lineitem WHERE l_orderkey <= 300
        ORDER BY orderkey, linenumber
        """
    )


@query(
    "agg_grouping_sets_df_api",
    category="aggregation",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_grouping_sets_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API GROUPING SETS (``DataFrame.groupingSets``, Spark
    4.0) — the programmatic twin of agg_grouping_sets' SQL form: the
    sets are built as column lists, which is what a report generator
    composing dimensions at runtime needs (no SQL string splicing).
    Same physical shape: ONE Expand + one aggregation. DECIMAL-cast
    before SUM, as everywhere, so both engines sum exactly."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [[F.col("o_orderstatus")], [F.col("o_orderpriority")], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "lateral_join_df_api",
    category="join",
    oracle="""
        SELECT n.n_name AS nation, l.suppkey, l.acctbal
        FROM nation n,
             LATERAL (
                 SELECT s_suppkey AS suppkey, s_acctbal AS acctbal
                 FROM supplier s
                 WHERE s.s_nationkey = n.n_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey
                 LIMIT 2
             ) l
        ORDER BY nation, acctbal DESC, suppkey
    """,
)
def lateral_join_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API lateral join (``DataFrame.lateralJoin`` +
    ``Column.outer()``, Spark 4.0) — the programmatic twin of
    lateral_topk_per_group's SQL LATERAL: top-2 suppliers by account
    balance per nation, with the correlation expressed as an outer
    column reference instead of a SQL string. Catalyst decorrelates the
    ORDER BY/LIMIT subquery into a partitioned window top-k, so the
    lateral surface lowers to the scale-safe shape (one shuffle on the
    correlation key), not a per-outer-row re-execution."""
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    topk = (
        supplier.where(F.col("s_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .limit(2)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_acctbal").alias("acctbal"),
        )
    )
    return (
        nation.lateralJoin(topk)
        .select(F.col("n_name").alias("nation"), "suppkey", "acctbal")
        .orderBy("nation", F.col("acctbal").desc(), "suppkey")
    )


@query(
    "scalar_subquery_df_api",
    category="subquery",
    oracle="""
        SELECT p_partkey AS partkey, p_retailprice AS price
        FROM part p
        WHERE p_retailprice > (SELECT SUM(l_quantity) FROM lineitem l
                               WHERE l.l_partkey = p.p_partkey)
        ORDER BY partkey
    """,
)
def scalar_subquery_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via the DataFrame API
    (``DataFrame.scalar`` + ``Column.outer()``, Spark 4.0): parts whose
    retail price exceeds their total ordered quantity. The aggregate is
    the ``select(F.sum(...))`` global-agg form — ``agg()`` analyzes its
    child eagerly and cannot hold an unresolved outer reference, a real
    API constraint this query pins down. Catalyst decorrelates to an
    aggregate-then-join on l_partkey; parts with no lineitems yield a
    NULL sum and drop out of the > comparison on both engines.

    NAME-COLLISION LANDMINE: if the inner and outer relations share the
    correlation column's name, ``Column.outer()`` binds to the INNER
    attribute and the predicate silently degenerates (k == k). All
    three DF-API subquery queries correlate on schema-distinct names;
    tests/test_properties.py pins the equivalence on random inputs."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    total_qty = (
        lineitem.where(F.col("l_partkey") == F.col("p_partkey").outer())
        .select(F.sum("l_quantity"))
    )
    return (
        part.where(F.col("p_retailprice") > total_qty.scalar())
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_retailprice").alias("price"),
        )
        .orderBy("partkey")
    )


@query(
    "exists_subquery_df_api",
    category="subquery",
    oracle="""
        SELECT c_custkey AS custkey, c_name AS cname
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY custkey
    """,
)
def exists_subquery_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS via the DataFrame API (``DataFrame.exists``
    + ``Column.outer()``, Spark 4.0): customers with at least one
    urgent order and no finished ('F') order — one predicate planned as
    a left-semi join, the negated one as a left-anti join, both keyed
    on o_custkey (no cross product, no per-row probe)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(
        (F.col("o_custkey") == F.col("c_custkey").outer())
        & (F.col("o_orderpriority") == "1-URGENT")
    )
    finished = orders.where(
        (F.col("o_custkey") == F.col("c_custkey").outer())
        & (F.col("o_orderstatus") == "F")
    )
    return (
        customer.where(urgent.exists() & ~finished.exists())
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("cname"))
        .orderBy("custkey")
    )
