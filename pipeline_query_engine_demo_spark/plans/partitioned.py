"""Partitioned-layout queries: static partition pruning and dynamic
partition pruning (DPP) over Hive-style partitioned Parquet replicas.

The reference scans one in-memory vector (``src/executor/mod.rs:250-276``)
and has no notion of on-disk layout; this module covers the capability a
100 TB deployment leans on hardest — the date-partitioned fact table.
SURVEY.md §4.1 lists partition pruning and
``DynamicPruningExpression`` as Catalyst built-ins the engine inherits,
but inheriting them is only real if a query actually exercises them:
every fixture table ships as a single unpartitioned Parquet file, so no
plan in the corpus contained a PartitionFilters entry before this module
(r11 verdict, "What's missing" #1).

Layout fixtures are ``session.replica_path`` replicas, written once per
(process, scale factor): the fact table is re-written
``partitionBy(<derived key>)`` with a ``repartition(<key>)`` first, so
each partition directory gets ONE file instead of tasks x partitions
small files — the small-files bomb is the classic partitioned-write
mistake at scale.

Why DPP matters at 100 TB: a static filter on the partition column
prunes at PLAN time (PartitionFilters in the scan), but the common star
query filters the DIMENSION ("urgent 1997 orders", "the top purchase
day") and joins the fact on the partition key. DPP turns the dim-side
broadcast into a runtime IN-filter on the fact scan
(``dynamicpruningexpression(...)``), so the fact table reads only the
joined partitions — the single biggest scan reducer a real user hits
daily. tools/audit_plans.py asserts the pruning shows up in every one
of these plans (PARTITION_FILTER_REQUIRED); the scan-bytes drop vs an
unpartitioned twin is recorded in SCALE.md, "Round 12: partition
pruning — static + dynamic".
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import (
    held_confs,
    replica_path,
    resilient_local_checkpoint,
    scratch_path,
)
from pipeline_query_engine_demo_spark.sources.catalog import load_table


def lineitem_by_ship_month(spark: SparkSession, sf_dir: str) -> str:
    """lineitem re-laid-out as Parquet partitioned by ``l_ship_month``
    (83 yyyy-MM values). A ``session.replica_path`` replica: written
    once per process+SF."""
    path, ready = replica_path(sf_dir, "lineitem_by_ship_month")
    if not ready:
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "l_ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        # One shuffle on the partition key -> one file per partition dir.
        li.repartition("l_ship_month").write.mode("overwrite").partitionBy(
            "l_ship_month"
        ).parquet(path)
    return path


def events_by_day(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out as Parquet partitioned by ``event_date``
    (30 daily partitions) — the canonical date-partitioned event log."""
    path, ready = replica_path(sf_dir, "events_by_day")
    if not ready:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        ev.repartition("event_date").write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(path)
    return path


def lineitem_clustered_by_orderkey(spark: SparkSession, sf_dir: str) -> str:
    """lineitem re-laid-out range-clustered on ``l_orderkey``:
    ``repartitionByRange(16)`` gives each output file a disjoint key
    range and ``sortWithinPartitions`` keeps every row group (and page
    index) min/max tight — the single-column special case of
    Z-order/liquid clustering. A ``session.replica_path`` replica."""
    path, ready = replica_path(sf_dir, "lineitem_clustered_orderkey")
    if not ready:
        li = load_table(spark, sf_dir, "lineitem")
        li.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        ).write.mode("overwrite").parquet(path)
    return path


@query(
    "clustered_layout_rowgroup_skip",
    category="partitioned-layout",
    oracle="""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem
        WHERE l_orderkey BETWEEN 1000 AND 3000
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def clustered_layout_rowgroup_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max row-group skipping over a range-clustered layout — the
    third leg of the scan-reduction tripod (directory pruning =
    static/DPP partition filters; shuffle pruning = the runtime bloom
    filter; ROW-GROUP pruning = this). The layout helper writes
    lineitem range-clustered on ``l_orderkey``, so a pushed BETWEEN
    predicate (PushedFilters in the scan) lets the Parquet reader drop
    whole row groups — and with one disjoint key range per file, whole
    FILES — from footer statistics alone, never touching their data
    pages. The unclustered base table must decode everything and filter
    row-by-row; the oracle computes the answer from it, proving the
    re-layout lossless. tests/test_plans.py asserts the actual
    decoded-rows drop via the scan's numOutputRows metric (byte
    counters are blind here — Spark 4's local parquet data-page reads
    bypass Hadoop FS statistics); at 100 TB this is why
    clustering the fact table on the hottest filter key is table
    stakes (Z-order generalizes it to several keys — see
    hilbert_curve_events for the curve construction itself)."""
    fact = spark.read.parquet(lineitem_clustered_by_orderkey(spark, sf_dir))
    return (
        fact.filter(F.col("l_orderkey").between(1000, 3000))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


def lineitem_orderkey_manifest(spark: SparkSession, sf_dir: str) -> str:
    """Per-file min/max manifest over the range-clustered lineitem
    layout (sources.manifest) — built in one distributed pass at
    "ingest" time, like Delta's add-file stats. Written once per
    process+SF (``session.replica_path``)."""
    from pipeline_query_engine_demo_spark.sources.manifest import (
        write_file_manifest,
    )

    layout = lineitem_clustered_by_orderkey(spark, sf_dir)
    mpath, ready = replica_path(sf_dir, "lineitem_orderkey_manifest")
    if not ready:
        write_file_manifest(spark, layout, "l_orderkey", mpath)
    return mpath


@query(
    "manifest_file_skip_lineitem",
    category="partitioned-layout",
    oracle="""
        SELECT l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem
        WHERE l_orderkey BETWEEN 200 AND 900
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
)
def manifest_file_skip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-level data skipping via a persisted min/max manifest — the
    missing tier between directory pruning (static/DPP partition
    filters) and row-group pruning (footer stats): files whose
    [min, max] interval misses the predicate are dropped on the driver
    from the manifest alone, so the distributed scan never lists them,
    never opens them, never reads their footers. At 100 TB with ~10⁶
    files, footer round trips are themselves the bottleneck — this is
    why Delta persists add-file stats and Iceberg persists manifests
    instead of re-reading footers per query (sources/manifest.py has
    the full tier taxonomy). The manifest read is a metadata-plane
    driver read (one row per FILE), exactly like reading a transaction
    log; the data plane stays fully distributed and the pushed range
    filter still prunes row groups INSIDE the selected files. A hard
    assert fails the query loudly if the manifest ever stops pruning
    (e.g. the layout degrades to overlapping key ranges); the oracle
    computes the same answer from the unclustered base table, proving
    the manifest path lossless."""
    from pipeline_query_engine_demo_spark.sources.manifest import (
        prune_files_by_range,
    )

    lo, hi = 200, 900
    mpath = lineitem_orderkey_manifest(spark, sf_dir)
    selected, total = prune_files_by_range(mpath, lo, hi)
    assert 0 < len(selected) < total, (
        f"manifest pruning degraded: {len(selected)} of {total} files "
        f"selected for [{lo}, {hi}] — layout no longer range-clustered?"
    )
    fact = spark.read.parquet(*selected)
    return (
        fact.filter(F.col("l_orderkey").between(lo, hi))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "delete_cow_file_rewrite",
    category="partitioned-layout",
    oracle="""
        SELECT l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem
        WHERE l_orderkey NOT BETWEEN 500 AND 700
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
)
def delete_cow_file_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted DELETE via copy-on-write — what ``DELETE FROM fact
    WHERE key BETWEEN ...`` compiles to on a lakehouse table, done by
    hand with the same two ingredients: the file-stats manifest finds
    which files CAN contain deleted keys (here 2-3 of 16), only those
    are rewritten with the doomed rows filtered out, and the "commit"
    is a file-list swap (untouched files + the rewritten replacements).
    The untouched majority of the table is never read, never decoded,
    never rewritten — at 100 TB this is the difference between a
    seconds-long maintenance op and rewriting the whole table for a
    0.1 % delete. The returned aggregation runs over the post-delete
    file list with NO runtime predicate on the deleted range: the
    delete is physical + metadata, which the oracle (base table WHERE
    NOT BETWEEN) must confirm — any row the rewrite failed to drop, or
    any untouched-file row it wrongly dropped, breaks the hash."""
    import uuid as _uuid

    from pipeline_query_engine_demo_spark.sources.manifest import (
        manifest_files,
        prune_files_by_range,
    )

    lo, hi = 500, 700
    mpath = lineitem_orderkey_manifest(spark, sf_dir)
    touched, total = prune_files_by_range(mpath, lo, hi)
    assert 0 < len(touched) < total, (
        f"delete touches {len(touched)} of {total} files — copy-on-write "
        "only pays off when the stats confine the delete to a few files"
    )
    untouched = [f for f in manifest_files(mpath) if f not in set(touched)]
    # Fresh rewrite dir per invocation: the op IS a write, and its cost
    # is proportional to the touched files only.
    rewrite_dir = scratch_path(f"cow_rewrite_{_uuid.uuid4().hex[:12]}")
    (
        spark.read.parquet(*touched)
        .filter(~F.col("l_orderkey").between(lo, hi))
        .write.mode("overwrite")
        .parquet(rewrite_dir)
    )
    post_delete = spark.read.parquet(*untouched, rewrite_dir)
    return (
        post_delete.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("l_linestatus")
    )


def events_hilbert_clustered(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out ordered by the Hilbert position of
    (user bucket, scaled hour) — the MULTI-key generalization of
    ``lineitem_clustered_by_orderkey``: a single sort key can serve
    range predicates on one column only, while a space-filling-curve
    key keeps 2-D locality, so a box predicate on BOTH dimensions maps
    to few contiguous curve runs (why Delta's OPTIMIZE offers
    ZORDER/HILBERT). The curve arithmetic is the registered
    ``hilbert_curve_events`` chain (plans/analytics.py), reused
    verbatim; the layout drops the scratch hvalue after ordering."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        _HILBERT_ORDER,
        _hilbert_stage_exprs,
    )

    path, ready = replica_path(sf_dir, "events_hilbert_xy")
    if not ready:
        ev = load_table(spark, sf_dir, "events").selectExpr(
            "event_id",
            "event_type",
            "value",
            "user_id % 256 AS xdim",
            "CAST(hour(ts) AS BIGINT) * 10 AS ydim",
        )
        df = ev.selectExpr(
            "*", "xdim AS x", "ydim AS y", "CAST(0 AS BIGINT) AS d"
        )
        for i in range(_HILBERT_ORDER):
            s = 1 << (_HILBERT_ORDER - 1 - i)
            e = _hilbert_stage_exprs(s, "div")
            df = df.selectExpr(
                "event_id",
                "event_type",
                "value",
                "xdim",
                "ydim",
                f"{e['x']} AS x",
                f"{e['y']} AS y",
                f"{e['d']} AS d",
            )
        df.repartitionByRange(16, "d").sortWithinPartitions("d").drop(
            "x", "y", "d"
        ).write.mode("overwrite").parquet(path)
    return path


@query(
    "hilbert_layout_box_skip",
    category="partitioned-layout",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_value
        FROM events
        WHERE user_id % 256 BETWEEN 64 AND 127
          AND CAST(extract(hour FROM ts) AS BIGINT) * 10 BETWEEN 60 AND 120
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def hilbert_layout_box_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box query over the Hilbert-clustered events layout: both
    range predicates push down (PushedFilters on xdim AND ydim), and
    because curve-adjacent rows are grid-adjacent, the box occupies few
    contiguous curve runs — row groups and pages outside them are
    eliminated from footer statistics on BOTH dimensions at once. A
    single-column sort could prune only one of the two predicates
    (tests/test_plans.py meters exactly this: hilbert ≤ x-sorted ≪
    scattered in decoded rows). The oracle computes the same box from
    the unclustered base table, proving the re-layout lossless."""
    fact = spark.read.parquet(events_hilbert_clustered(spark, sf_dir))
    return (
        fact.filter(
            F.col("xdim").between(64, 127) & F.col("ydim").between(60, 120)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "static_partition_prune_lineitem",
    category="partitioned-layout",
    oracle="""
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1996-01' AND '1996-03'
        GROUP BY ship_month
        ORDER BY ship_month
    """,
)
def static_partition_prune_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning: a literal predicate on the partition
    column never touches the data files of the other 80 months — the
    scan's PartitionFilters does the elimination against directory
    names at planning time, before a single row is read. The oracle
    computes the same answer from the unpartitioned base table, so the
    re-layout is proven lossless for the pruned slice."""
    fact = spark.read.parquet(lineitem_by_ship_month(spark, sf_dir))
    return (
        fact.filter(F.col("l_ship_month").between("1996-01", "1996-03"))
        .groupBy(F.col("l_ship_month").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("ship_month")
    )


@query(
    "dpp_urgent_months_revenue",
    category="partitioned-layout",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ord_month
            FROM orders
            WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997
        )
        SELECT l.ship_month, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                     l_extendedprice, l_discount
              FROM lineitem) l
        JOIN dim ON l.ship_month = dim.ord_month
        GROUP BY l.ship_month
        ORDER BY l.ship_month
    """,
)
def dpp_urgent_months_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, the star-query shape: the filter lives
    on the DIMENSION (urgent orders placed in 1997 — 12 of 83 months,
    known only after reading orders), and the fact joins on its
    partition key. Catalyst broadcasts the dim and reuses that broadcast
    as a runtime IN-filter on the fact scan
    (``PartitionFilters: [... dynamicpruningexpression(...)]``), so only
    the 12 joined month directories are ever read — at 100 TB this is
    scan reduction static pruning cannot express. Asserted in
    tools/audit_plans.py (PARTITION_FILTER_REQUIRED); scan-bytes drop
    in SCALE.md, "Round 12: partition pruning — static + dynamic"."""
    fact = spark.read.parquet(lineitem_by_ship_month(spark, sf_dir))
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") == 1997)
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ord_month"))
        .distinct()
    )
    return (
        fact.join(dim, fact["l_ship_month"] == dim["ord_month"])
        .groupBy(F.col("l_ship_month").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("ship_month")
    )


@query(
    "dpp_events_top_day_mix",
    category="partitioned-layout",
    oracle="""
        WITH top_day AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY 1
            ORDER BY COUNT(*) DESC, event_date ASC
            LIMIT 1
        )
        SELECT e.event_type, COUNT(*) AS n,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
                     event_type, value
              FROM events) e
        JOIN top_day USING (event_date)
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
)
def dpp_events_top_day_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPP with a computed 1-row dimension: "what did the busiest
    purchase day look like across all event types?" The dim is an
    aggregate (count per day, deterministic tie-break on the date), so
    the partition set is unknowable until runtime — static pruning is
    impossible, yet the daily-partitioned fact reads exactly ONE of its
    30 day directories via the dynamic pruning filter. The same pattern
    at 100 TB: "re-scan the anomalous day" touches 1/365th of the
    year's data."""
    fact = spark.read.parquet(events_by_day(spark, sf_dir))
    top_day = (
        fact.filter(F.col("event_type") == "purchase")
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n_purch"))
        .orderBy(F.col("n_purch").desc(), F.col("event_date").asc())
        .limit(1)
        .select("event_date")
    )
    return (
        fact.join(top_day, "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


#: The composed-pruning conf bracket: the bloom confs (fixture-scaled
#: trigger thresholds, see plans.relational.BLOOM_FILTER_CONFS) plus
#: DPP-by-subquery. With broadcast disabled for the bloom demonstration
#: the join is an SMJ, and default DPP only reuses a broadcast — the
#: subquery fallback (reuseBroadcastOnly=false) lets Catalyst run the
#: dim as its own pruning subquery instead, which is also the 100 TB
#: posture when the dim exceeds the broadcast threshold.
def _composed_pruning_confs() -> dict[str, str]:
    from pipeline_query_engine_demo_spark.plans.relational import (
        BLOOM_FILTER_CONFS,
    )

    return {
        **BLOOM_FILTER_CONFS,
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false",
    }


def build_dpp_bloom_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The star join itself, shared by the registered query and the
    plan-shape test: partitioned fact joined to the selective dim on
    BOTH the partition key (month) and the row key (orderkey)."""
    fact = spark.read.parquet(lineitem_by_ship_month(spark, sf_dir))
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") == 1997)
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("ord_month"),
        )
    )
    return fact.join(
        dim,
        (fact["l_orderkey"] == dim["o_orderkey"])
        & (fact["l_ship_month"] == dim["ord_month"]),
    )


@query(
    "dpp_bloom_composed_star",
    category="partitioned-layout",
    oracle="""
        SELECT l.l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
        FROM lineitem l
        JOIN orders o
          ON l.l_orderkey = o.o_orderkey
         AND strftime(l.l_shipdate, '%Y-%m') = strftime(o.o_orderdate, '%Y-%m')
        WHERE o.o_orderpriority = '1-URGENT' AND year(o.o_orderdate) = 1997
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
)
def dpp_bloom_composed_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH runtime scan reducers composed in ONE plan — the claim the
    bloom and DPP docstrings each make ("at 100 TB the two compose"),
    demonstrated instead of asserted: lineitems shipped the same month
    their urgent-1997 order was placed, over the month-partitioned fact.
    The executed plan carries ``dynamicpruningexpression(l_ship_month
    ...)`` inside the fact scan's PartitionFilters (only the dim's 12
    months of DIRECTORIES are listed) AND a ``might_contain`` bloom
    filter above the scan (non-joining orderkeys die map-side before
    the shuffle) — directory pruning and row pruning stacked on the
    same scan, pinned by tests/test_plans.py. The confs are held
    (``session.held_confs``) only while the eager localCheckpoint
    executes the join.

    The bloom half runs under ``relational.BLOOM_FILTER_CONFS``, whose
    lowered thresholds make the filter fire on fixture data, so this row
    shows the mechanism, not a win: at sf0.1 on 4 cores
    tools/bloom_experiment.py measured the bloom variant slower than the
    plain join (1.13 vs 0.94 s) while it wrote 0.045x the shuffle bytes."""
    with held_confs(spark, _composed_pruning_confs()):
        agg = resilient_local_checkpoint(  # eager: joins under the held confs
            build_dpp_bloom_star(spark, sf_dir)
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
