"""Write-path (sink) and approximate-aggregate corpus — the two
remaining 'no' rows from VERDICT r1's §2.3 inventory.

The reference's only sink is ``materialize()`` into the join hash table
(``src/executor/mod.rs:363-374``); here the sink surface is
``df.write.parquet`` (plain and partitioned), verified by reading the
files back and oracle-checking the round-trip.

Scale notes: the partitioned write is the pattern that matters at
100 TB — ``partitionBy`` on a low-cardinality column gives partition
pruning to every downstream reader. Approximate aggregates
(HyperLogLog++ count-distinct, Greenwald-Khanna percentiles) are THE
scale substitutes for their exact forms: sketches merge map-side, so
the shuffle carries one sketch per partition instead of the value set.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import (
    held_confs,
    resilient_local_checkpoint,
    scratch_path,
)
from pipeline_query_engine_demo_spark.sources.catalog import load_table

@query(
    "write_roundtrip_parquet",
    category="sink",
    oracle="""
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY returnflag, linestatus
    """,
)
def write_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materializing sink: aggregate -> ``df.write.parquet`` -> read the
    files back. The oracle checks the round-trip preserved every value —
    i.e. the write path is lossless for the full type surface used."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = (
        lineitem.groupBy(
            F.col("l_returnflag").alias("returnflag"), F.col("l_linestatus").alias("linestatus")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )
    path = scratch_path("roundtrip")
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).orderBy("returnflag", "linestatus")


@query(
    "write_partitioned_parquet",
    category="sink",
    oracle="""
        SELECT o_orderstatus AS orderstatus, o_orderpriority AS orderpriority,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus, o_orderpriority
        ORDER BY orderstatus, orderpriority
    """,
)
def write_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink: ``partitionBy(status)`` writes one directory per
    value, giving every downstream reader partition pruning for free —
    the 100 TB layout pattern. Reading back restores the partition
    column from directory names; the oracle checks nothing was lost."""
    orders = load_table(spark, sf_dir, "orders")
    agg = (
        orders.groupBy(
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    path = scratch_path("partitioned")
    agg.write.mode("overwrite").partitionBy("orderstatus").parquet(path)
    return (
        spark.read.parquet(path)
        .select("orderstatus", "orderpriority", "n")
        .orderBy("orderstatus", "orderpriority")
    )


_PART_ORACLE = """
    SELECT p_partkey AS partkey, p_brand AS brand, p_type AS type, p_size AS size
    FROM part ORDER BY partkey
"""


def _part_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("partkey"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
    )


@query("format_roundtrip_csv", category="source-format", oracle=_PART_ORACLE)
def format_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write + schema-declared read. CSV carries no types, so the
    reader gets an explicit schema — the only safe pattern at scale
    (inference costs an extra full scan and guesses)."""
    path = scratch_path("fmt_csv")
    _part_subset(spark, sf_dir).write.mode("overwrite").option("header", True).csv(path)
    return (
        spark.read.schema("partkey long, brand string, type string, size int")
        .option("header", True)
        .csv(path)
        .orderBy("partkey")
    )


@query("format_roundtrip_json", category="source-format", oracle=_PART_ORACLE)
def format_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write + schema-declared read (same scale rationale as
    CSV: explicit schema, no inference scan)."""
    path = scratch_path("fmt_json")
    _part_subset(spark, sf_dir).write.mode("overwrite").json(path)
    return (
        spark.read.schema("partkey long, brand string, type string, size int")
        .json(path)
        .orderBy("partkey")
    )


@query(
    "format_roundtrip_text",
    category="source-format",
    oracle="SELECT text AS value FROM documents ORDER BY value",
)
def format_roundtrip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text write + read (one line per document): the rawest
    source format — ingest for corpora that arrive as line-delimited
    text before any schema exists."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("fmt_text")
    docs.select("text").write.mode("overwrite").text(path)
    return spark.read.text(path).orderBy("value")


@query("format_roundtrip_orc", category="source-format", oracle=_PART_ORACLE)
def format_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read — the other columnar format; types survive the
    round-trip natively (no schema declaration needed)."""
    path = scratch_path("fmt_orc")
    _part_subset(spark, sf_dir).write.mode("overwrite").orc(path)
    return spark.read.orc(path).orderBy("partkey")


@query("format_roundtrip_xml", category="source-format", oracle=_PART_ORACLE)
def format_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + schema-declared read (built-in XML source, rowTag
    per record). Like CSV/JSON, XML carries no types, so the reader
    declares the schema up front — no inference scan. Covers the
    enterprise-feed ingest path (SURVEY §2.1 file formats)."""
    path = scratch_path("fmt_xml")
    _part_subset(spark, sf_dir).write.mode("overwrite").format("xml").option(
        "rowTag", "part"
    ).save(path)
    return (
        spark.read.schema("partkey long, brand string, type string, size int")
        .format("xml")
        .option("rowTag", "part")
        .load(path)
        .select("partkey", "brand", "type", "size")
        .orderBy("partkey")
    )


@query(
    "write_sorted_layout",
    category="sink",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_quantity AS quantity
        FROM lineitem WHERE l_orderkey <= 500
        ORDER BY orderkey, linenumber
    """,
)
def write_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted data layout at write time: ``repartitionByRange`` on the
    query key + ``sortWithinPartitions`` gives each output file a tight
    min/max range for that key, so every later Parquet scan with a key
    predicate prunes whole files/row-groups from the footer stats —
    the poor man's clustering index, and the single highest-leverage
    layout decision for a 100 TB table that is usually filtered on one
    key. The oracle verifies losslessness; layout is observable in the
    files' row-group stats."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    path = scratch_path("sorted_layout")
    (
        lineitem.filter(F.col("l_orderkey") <= 500)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(4, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_quantity").alias("quantity"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "upsert_cdc_apply",
    category="sink",
    oracle="""
        WITH changes AS (
            SELECT o_orderkey, o_totalprice * 1.1 AS new_price
            FROM orders WHERE o_orderkey % 7 = 0
        ),
        inserts AS (
            SELECT 9000000000 + event_id AS o_orderkey, value * 100 AS new_price
            FROM events WHERE event_type = 'purchase' AND event_id < 50
        ),
        cdc AS (SELECT * FROM changes UNION ALL SELECT * FROM inserts)
        SELECT COALESCE(s.o_orderkey, c.o_orderkey) AS orderkey,
               COALESCE(c.new_price, s.o_totalprice) AS totalprice,
               (c.o_orderkey IS NOT NULL) AS was_changed
        FROM orders s FULL OUTER JOIN cdc c ON s.o_orderkey = c.o_orderkey
        ORDER BY orderkey
    """,
)
def upsert_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (MERGE/upsert without a table format): snapshot FULL
    OUTER JOIN changes, coalescing updated values over existing ones and
    surfacing inserts — the one-shuffle pattern for applying a change
    feed to an immutable snapshot before rewriting it. On Delta/Iceberg
    this is MERGE INTO; the join form is what it compiles to."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    changes = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("c_orderkey"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
    )
    inserts = (
        events.filter((F.col("event_type") == "purchase") & (F.col("event_id") < 50))
        .select(
            (F.lit(9_000_000_000) + F.col("event_id")).alias("c_orderkey"),
            (F.col("value") * 100).alias("new_price"),
        )
    )
    cdc = changes.unionByName(inserts)
    return (
        orders.join(cdc, orders.o_orderkey == cdc.c_orderkey, "full")
        .select(
            F.coalesce(F.col("o_orderkey"), F.col("c_orderkey")).alias("orderkey"),
            F.coalesce(F.col("new_price"), F.col("o_totalprice")).alias("totalprice"),
            F.col("c_orderkey").isNotNull().alias("was_changed"),
        )
        .orderBy("orderkey")
    )


@query(
    "bucketed_join_colocated",
    category="sink",
    oracle="""
        SELECT o.o_orderkey AS orderkey, COUNT(*) AS n_lines
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey ORDER BY orderkey
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written with
    ``bucketBy(8, key).sortBy(key)``, then joined with a merge hint —
    the join reads bucket-aligned files and needs NO shuffle and NO sort
    on either side (tests/test_plans.py asserts the plan is
    exchange-free). This is the 100 TB pattern for fact-fact joins that
    repeat across a pipeline: pay the partitioning once at write time,
    never again at read time."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    for name, df, key in (
        ("b_orders", orders.select("o_orderkey"), "o_orderkey"),
        ("b_lineitem", lineitem.select("l_orderkey"), "l_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", scratch_path(name))
            .saveAsTable(name)
        )
    b_orders = spark.table("b_orders").hint("merge")
    b_lineitem = spark.table("b_lineitem")
    return (
        b_orders.join(b_lineitem, b_orders.o_orderkey == b_lineitem.l_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("orderkey")
    )


@query(
    "bucket_pruned_scan",
    category="sink",
    oracle="""
        SELECT l_orderkey AS orderkey, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem
        WHERE l_orderkey IN (32, 69, 1223)
        GROUP BY l_orderkey
        ORDER BY orderkey
    """,
)
def bucket_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-BUCKET pruning — the scan-reduction tier bucketed tables
    add to the partition/manifest/row-group/row family: an equality or
    IN predicate on the bucket column hashes each literal to its bucket
    id at PLAN time, so the scan lists only those buckets' files
    (``SelectedBucketsCount: 3 out of 16`` in the executed plan,
    asserted by tools/audit_plans.py BUCKET_PRUNE_REQUIRED). Unlike
    range-clustering this prunes POINT lookups on a high-cardinality
    key with no directory explosion (16 buckets vs one directory per
    key) and composes with the co-located-join benefit the same layout
    already pays for (bucketed_join_colocated) — why a 100 TB fact
    table buckets on its hottest point-lookup/join key. The oracle
    computes the same answer from the unbucketed base table, proving
    the bucketed replica lossless."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    (
        lineitem.select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(16, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", scratch_path("b_lineitem_prune"))
        .saveAsTable("b_lineitem_prune")
    )
    return (
        spark.table("b_lineitem_prune")
        .filter(F.col("l_orderkey").isin(32, 69, 1223))
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("orderkey")
    )


#: The deliberately cross-prone FROM order (orders and nation share no
#: join key): taken literally this is a cartesian; the optimizer must
#: re-associate the predicates. Shared with tests/test_plans.py, which
#: asserts the JOIN plan itself (the registered query returns through an
#: eager localCheckpoint, so its audited plan is the checkpoint scan).
_CBO_CROSS_PRONE_SQL = """
    SELECT n.n_name AS n_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM cbo_orders o, cbo_nation n, cbo_customer c
    WHERE o.o_custkey = c.c_custkey
      AND c.c_nationkey = n.n_nationkey
      AND o.o_orderpriority = '1-URGENT'
    GROUP BY n.n_name
"""


#: Conf block cbo_stats_join_reorder holds while its joins execute.
CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


@query(
    "cbo_stats_join_reorder",
    category="sink",
    oracle="""
        SELECT n_name, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY n_name ORDER BY n_name
    """,
)
def cbo_stats_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based optimization fed by ANALYZE TABLE statistics — the
    catalog-stats pipeline a 100 TB warehouse runs nightly, exercised
    end to end: the three join inputs become catalog tables, ``ANALYZE
    TABLE ... COMPUTE STATISTICS FOR COLUMNS`` records row counts and
    column NDV/min/max, and the query runs under ``spark.sql.cbo.
    enabled`` + ``joinReorder.enabled``. The FROM clause deliberately
    lists the tables in a cross-prone order (orders, nation, customer —
    orders and nation share no join key), so taking the text literally
    would plan a cartesian product; the optimizer must re-associate the
    predicates into orders⋈customer⋈nation, and the corpus-wide plan
    audit (no unwhitelisted CartesianProduct, tools/audit_plans.py)
    asserts it did. With CBO on, that reordering and the build-side
    choices run off ANALYZE's exact rowCounts instead of raw file sizes
    — the distinction that matters at scale, where a heavily compressed
    dimension looks small on disk but explodes in memory
    (tests/test_plans.py pins that the analyzed rowCount actually
    reaches the optimized plan). The confs are held
    (``session.held_confs``) only while the eager localCheckpoint
    executes the join."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    for name, df in (
        ("cbo_nation", nation.select("n_nationkey", "n_name")),
        ("cbo_customer", customer.select("c_custkey", "c_nationkey")),
        (
            "cbo_orders",
            orders.select("o_custkey", "o_totalprice", "o_orderpriority"),
        ),
    ):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", scratch_path(name))
            .saveAsTable(name)
        )
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    with held_confs(spark, CBO_CONFS):
        # eager localCheckpoint: the joins execute under the held confs
        agg = resilient_local_checkpoint(spark.sql(_CBO_CROSS_PRONE_SQL))
    return agg.orderBy("n_name")


@query(
    "approx_count_distinct_priorities",
    category="approx-agg",
    oracle="""
        SELECT o_orderstatus AS orderstatus,
               COUNT(DISTINCT o_orderpriority) AS n_priorities,
               COUNT(DISTINCT o_custkey % 8) AS n_cust_buckets
        FROM orders GROUP BY o_orderstatus ORDER BY orderstatus
    """,
)
def approx_count_distinct_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_count_distinct`` (HyperLogLog++): sketches merge
    map-side, so at 100 TB the shuffle carries one dense sketch per
    partition instead of the distinct-value set. At rsd=0.01 HLL++
    stores small cardinalities exactly (sparse mode), so on these tiny
    domains (5 priorities, 8 hash buckets) the approximate answer
    EQUALS the exact count and the oracle is plain COUNT(DISTINCT).
    (At 64 buckets with the default rsd=0.05 the estimate was already
    off by 2 — the accuracy cliff is real and sharp.)"""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.approx_count_distinct("o_orderpriority", rsd=0.01).alias("n_priorities"),
            F.approx_count_distinct(F.col("o_custkey") % 8, rsd=0.01).alias("n_cust_buckets"),
        )
        .orderBy("orderstatus")
    )


@query(
    "percentile_exact_quantities",
    category="approx-agg",
    oracle="""
        SELECT l_returnflag AS returnflag,
               quantile_cont(l_quantity, 0.25) AS qty_q25,
               quantile_cont(l_quantity, 0.5) AS qty_q50,
               quantile_cont(l_quantity, 0.75) AS qty_q75
        FROM lineitem GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def percentile_exact_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (``F.percentile`` = SQL
    PERCENTILE_CONT): both engines linearly interpolate at position
    (n-1)*q; on integer-valued quantities with dyadic q the arithmetic
    is exact, so the results match bit-for-bit. Quartiles are unpacked
    to scalar columns (array cells crash the driver's hasher)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    q = F.percentile("l_quantity", F.lit([0.25, 0.5, 0.75]))
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.element_at(q, 1).alias("qty_q25"),
            F.element_at(q, 2).alias("qty_q50"),
            F.element_at(q, 3).alias("qty_q75"),
        )
        .orderBy("returnflag")
    )


@query(
    "approx_percentile_quantities",
    category="approx-agg",
    oracle="""
        SELECT l_returnflag AS returnflag,
               quantile_disc(l_quantity, 0.25) AS qty_q25,
               quantile_disc(l_quantity, 0.5) AS qty_q50,
               quantile_disc(l_quantity, 0.75) AS qty_q75
        FROM lineitem GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def approx_percentile_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (Greenwald-Khanna sketch): rank error
    bounded by n/accuracy, sketches merge map-side — the percentile that
    scales. Returns an actual data element per quantile. At
    accuracy=1e6 the sketch is EXACT below 1e6 rows per group, and on
    l_quantity (50 distinct integer values with massive ties) Spark's
    smallest-rank convention and DuckDB's quantile_disc pick the same
    element, so the discrete quantile is SQL-checkable. The accuracy
    bound at the default 10k accuracy is separately asserted in
    tests/test_plans.py. Quartiles are unpacked to scalar columns
    (array cells crash the driver's hasher)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    q = F.percentile_approx("l_quantity", F.lit([0.25, 0.5, 0.75]), F.lit(1_000_000))
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.element_at(q, 1).alias("qty_q25"),
            F.element_at(q, 2).alias("qty_q50"),
            F.element_at(q, 3).alias("qty_q75"),
        )
        .orderBy("returnflag")
    )


@query(
    "binary_file_source",
    category="source",
    oracle="""
        SELECT * FROM (VALUES
            ('nation', TRUE, '50415231', '50415231'),
            ('region', TRUE, '50415231', '50415231'))
            AS t(table_name, has_bytes, magic_hex, footer_hex)
        ORDER BY table_name
    """,
)
def binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source: whole files as (path, length, content)
    rows — the ingestion primitive for multimodal corpora (images/audio
    arrive as opaque blobs + metadata; see functions/multimodal.py for
    the downstream decode plumbing). Emits each file's name, a
    non-empty flag, and the leading/trailing 4-byte magic — both must
    be 'PAR1' (hex 50415231) for every valid Parquet file, which is
    what the static oracle pins. The blob itself never shuffles; all
    derived columns are map-side."""
    dim_files = [os.path.join(sf_dir, f) for f in ("region.parquet", "nation.parquet")]
    df = spark.read.format("binaryFile").load(dim_files)
    return df.select(
        F.regexp_extract(F.col("path"), r"([a-z]+)\.parquet$", 1).alias("table_name"),
        (F.col("length") > 0).alias("has_bytes"),
        F.hex(F.expr("substring(content, 1, 4)")).alias("magic_hex"),
        F.hex(F.expr("substring(content, -4, 4)")).alias("footer_hex"),
    ).orderBy("table_name")


@query(
    "schema_evolution_merge",
    category="source",
    oracle="""
        WITH a AS (
            SELECT o_orderkey AS orderkey, o_totalprice AS totalprice,
                   CAST(NULL AS VARCHAR) AS orderstatus
            FROM orders WHERE o_orderkey <= 100
        ),
        b AS (
            SELECT o_orderkey AS orderkey, CAST(NULL AS DOUBLE) AS totalprice,
                   o_orderstatus AS orderstatus
            FROM orders WHERE o_orderkey > 100 AND o_orderkey <= 200
        )
        SELECT orderkey, totalprice, orderstatus FROM a
        UNION ALL
        SELECT orderkey, totalprice, orderstatus FROM b
        ORDER BY orderkey
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two Parquet batches written with
    different column sets (an old writer without ``orderstatus``, a new
    writer that dropped ``totalprice``) are read back as ONE table via
    ``mergeSchema`` — missing columns become NULLs. This is how a
    long-lived 100 TB table absorbs producer schema changes without
    rewriting history; merge cost is footer-only, data pages are
    untouched."""
    orders = load_table(spark, sf_dir, "orders")
    base = scratch_path("evolving")
    (
        orders.filter(F.col("o_orderkey") <= 100)
        .select(F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("totalprice"))
        .write.mode("overwrite")
        .parquet(os.path.join(base, "batch=1"))
    )
    (
        orders.filter((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        .select(F.col("o_orderkey").alias("orderkey"), F.col("o_orderstatus").alias("orderstatus"))
        .write.mode("overwrite")
        .parquet(os.path.join(base, "batch=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    return merged.select("orderkey", "totalprice", "orderstatus").orderBy("orderkey")


@query(
    "csv_corrupt_records_permissive",
    category="source-format",
    oracle="""
        SELECT n_nationkey AS nationkey, n_name AS name,
               CAST(NULL AS VARCHAR) AS corrupt_line
        FROM nation
        UNION ALL
        SELECT * FROM (VALUES
            (CAST(NULL AS BIGINT), CAST('BROKEN ROW' AS VARCHAR), 'not-a-number,BROKEN ROW'),
            (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 'x,')
        ) AS bad(nationkey, name, corrupt_line)
        ORDER BY nationkey NULLS LAST, corrupt_line
    """,
)
def csv_corrupt_records_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness: a CSV with two planted corrupt lines
    is read in PERMISSIVE mode with a ``_corrupt_record`` column — good
    rows parse, bad rows keep every field that DID parse (the
    unparseable cell nulls out) and carry the raw line for quarantine (the pattern for dirty 100 TB ingest: never
    fail the job, route rejects to a dead-letter sink). DROPMALFORMED /
    FAILFAST are the same reader with stricter switches.

    Spark caveat encoded here: the parsed column set must include the
    corrupt-record column AND the query must materialize non-corrupt
    columns too (Spark disallows referencing only the corrupt column)."""
    nation = load_table(spark, sf_dir, "nation")
    path = scratch_path("csv_corrupt")
    good = nation.select(
        F.col("n_nationkey").cast("string").alias("c1"), F.col("n_name").alias("c2")
    )
    bad = spark.createDataFrame(
        [("not-a-number", "BROKEN ROW"), ("x", None)], "c1 string, c2 string"  # None -> empty field: raw line is "x,"
    )
    good.unionByName(bad).coalesce(1).write.mode("overwrite").csv(path)
    parsed = (
        spark.read.schema("nationkey long, name string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return (
        parsed.select(
            "nationkey", "name", F.col("_corrupt_record").alias("corrupt_line")
        )
        .orderBy(F.col("nationkey").asc_nulls_last(), "corrupt_line")
    )


@query(
    "python_datasource_sequence",
    category="source-format",
    oracle="""
        SELECT range AS n, range * range AS n_squared,
               CASE WHEN range % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
        FROM range(1000)
        ORDER BY n
    """,
)
def python_datasource_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: a custom batch source registered
    with ``spark.dataSource.register`` and read via
    ``spark.read.format("sequence_feed")``. The source declares 8
    partitions; Spark calls ``read`` per partition on the executors, so
    a bespoke Python feed parallelizes like a built-in source (see
    sources/pydatasource.py for the scale contract)."""
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        SequenceFeedSource,
        register_source,
    )

    register_source(spark, SequenceFeedSource)
    return (
        spark.read.format("sequence_feed")
        .option("n_rows", 1000)
        .load()
        .orderBy("n")
    )


#: Pass cap of a bounded Python feed's drain. Both feeds stop at their
#: declared total (3 passes and 1), so the cap only ends a misbehaving one.
_FEED_MAX_PASSES = 16


def _drain_bounded_feed(agg: DataFrame, feed: str, table: str, total: int) -> DataFrame:
    """Drain the complete-mode aggregate ``agg`` of the bounded Python
    stream ``feed`` (``total`` rows) into the memory table ``table``
    and return the final snapshot.

    A SimpleDataSourceStreamReader prefetches one offset range ahead, so
    a single availableNow pass drains only the first range. Loop
    availableNow runs against ONE checkpoint (offsets resume) until the
    source reports no new input — the deterministic drain for a bounded
    feed, and incidentally a live test of offset recovery. The
    checkpoint is the per-process ``session.scratch_path`` ``table``."""
    import shutil

    spark = agg.sparkSession
    ckpt = scratch_path(table)
    shutil.rmtree(ckpt, ignore_errors=True)
    result = None
    seen = 0
    for _ in range(_FEED_MAX_PASSES):
        q = (
            agg.writeStream.format("memory")
            .queryName(table)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        p = q.lastProgress
        if p is None or p["numInputRows"] == 0:
            break  # drained: the last snapshot is the final answer
        # each start() re-creates the memory table, so snapshot the
        # cumulative complete-mode aggregate before the next (possibly
        # empty) pass replaces it.
        result = resilient_local_checkpoint(spark.table(table))
        # Early stop at the source's declared total: the bounded feed's
        # size IS its contract (the oracles hardcode range(total)), so
        # once every row has been ingested the confirming empty pass —
        # a whole extra StreamingQuery launch, ~25% of the rollup row's
        # wall — proves nothing new.
        # Offset RESUME stays covered: the rollup's passes 2 and 3
        # still restart from committed offsets on the same checkpoint.
        seen += p["numInputRows"]
        if seen >= total:
            break
    assert result is not None, f"{feed} produced no batches"
    assert seen == total, f"{feed} delivered {seen} rows"
    return result


@query(
    "python_stream_datasource_rollup",
    category="streaming",
    oracle="""
        SELECT range % 5 AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(range) AS BIGINT) AS total
        FROM range(100)
        GROUP BY 1 ORDER BY grp
    """,
)
def python_stream_datasource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python STREAMING Data Source API
    (``SimpleDataSourceStreamReader``): the counter_feed source emits
    its deterministic 100-row sequence across three micro-batches (40 +
    40 + 20, offsets checkpointed as plain dicts; ``readBetweenOffsets``
    replays committed ranges on recovery — the exactly-once contract),
    drained through a complete-mode grouped aggregate. The oracle is the
    static roll-up of the same sequence: totals equal iff every row
    arrived exactly once across the offset boundaries.

    Scale: a SimpleDataSourceStreamReader feeds the driver; the
    partition-parallel streaming variant (DataSourceStreamReader with
    partitions()) is the 100 TB shape — implemented as
    python_parallel_stream_shards below; this row pins the offset/replay
    protocol that both share."""
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        STREAM_TOTAL,
        CounterStreamSource,
        register_source,
    )

    register_source(spark, CounterStreamSource)
    agg = (
        spark.readStream.format("counter_feed")
        .load()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("n").cast("bigint").alias("total"),
        )
    )
    result = _drain_bounded_feed(agg, "counter_feed", "t_py_stream_src", STREAM_TOTAL)
    return result.orderBy("grp")


@query(
    "python_parallel_stream_shards",
    category="streaming",
    oracle="""
        SELECT range // 10 AS shard,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(range) AS BIGINT) AS total
        FROM range(120)
        GROUP BY 1 ORDER BY shard
    """,
)
def python_parallel_stream_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-PARALLEL Python STREAMING Data Source
    (``DataSourceStreamReader`` with ``partitions()`` — the 100 TB shape
    whose absence the r8 verdict ranked #3): the driver plans the
    [committed, latest) offset range, ``partitions()`` splits it into
    10-row shards, and ``read`` executes once per shard ON THE
    EXECUTORS — 12 parallel partitions feed the one planned micro-batch
    (availableNow on a rate-free source falls back to exactly one data
    batch; the drain loop then observes the empty follow-up and stops,
    re-using the committed-offset resume the rollup query pins). Each
    row carries its producing shard's id, and the oracle groups BY that
    tag — so a shard reading the wrong slice, a double-read, or a
    driver-funneled read all fail the hash. tests/test_pydatasource.py
    additionally pins >1 physical partition per batch
    (spark_partition_id) and replay determinism of the shard split.

    Scale: this is the Python-source shape that scales — per-batch
    ingest bandwidth is shards x executor throughput, the driver only
    does offset arithmetic. The Simple reader twin
    (python_stream_datasource_rollup) pins the offset/replay protocol;
    this row pins the parallel read path."""
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        PAR_TOTAL,
        ShardStreamSource,
        register_source,
    )

    register_source(spark, ShardStreamSource)
    agg = (
        spark.readStream.format("shard_feed")
        .load()
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("n").cast("bigint").alias("total"),
        )
    )
    result = _drain_bounded_feed(agg, "shard_feed", "t_py_shard_stream", PAR_TOTAL)
    return result.orderBy("shard")


@query(
    "file_metadata_scan",
    category="source",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               TRUE AS all_parquet,
               TRUE AS all_nonempty_names,
               TRUE AS files_cover_rows
        FROM lineitem
    """,
)
def file_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` file-source column (file name/path/
    size/row-group provenance per row) — the lineage primitive: at
    100 TB every curation pipeline needs to answer "which input file
    produced this row" for incident rollback and per-file quarantine
    without a separate manifest join.

    The output asserts layout-INDEPENDENT invariants (every row
    carries a non-empty ``*.parquet`` provenance name; per-file
    subtotals re-sum to the total), not a literal file name — the
    fixture generator has already changed physical details once and a
    multi-file generation must re-verify, not break, this query.

    Scale: ``_metadata`` fields are constant-folded per file split —
    no per-row cost, no extra scan; grouping by file name is a
    map-side-combinable agg over as many distinct keys as files."""
    li = load_table(spark, sf_dir, "lineitem")
    per_file = (
        li.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    total = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return per_file.crossJoin(F.broadcast(total)).agg(
        F.max("n_total").alias("n_rows"),
        F.bool_and(F.col("file_name").endswith(".parquet")).alias("all_parquet"),
        F.bool_and(F.length("file_name") > 0).alias("all_nonempty_names"),
        (F.sum(F.col("n_rows")) == F.max("n_total")).alias("files_cover_rows"),
    )


#: Compaction demo geometry: the 15 status x priority groups written as
#: one file per pmod-8 bucket via partitionBy (exactly 8 files, no range
#: sampling involved), then compacted to 2 files.
_COMPACT_BEFORE = 8
_COMPACT_AFTER = 2


@query(
    "compact_small_files",
    category="sink",
    oracle=f"""
        WITH agg AS (
            SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT CAST({_COMPACT_BEFORE} AS BIGINT) AS files_before,
               CAST({_COMPACT_AFTER} AS BIGINT) AS files_after,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(n) AS BIGINT) AS n_orders
        FROM agg
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operation every
    long-lived 100 TB lake needs: streaming/incremental writers leave
    thousands of KB-sized files whose per-file open/footer overhead
    eventually dominates scans, and a periodic coalesce rewrite restores
    scan-sized files. Here: an aggregate deliberately fragmented into
    exactly {_COMPACT_BEFORE} files — ``repartition(bucket)`` puts each
    pmod-16 bucket in one task, ``partitionBy(bucket)`` splits the
    write per bucket value, so the file count is the bucket count, no
    range-boundary sampling to collapse (repartitionByRange's sampled
    cuts merged two of the 25 dense keys on first attempt — observed
    15 files, not deterministic enough for the gate). The rewrite uses
    ``repartition({_COMPACT_AFTER})`` for the same exactness (round-
    robin leaves both partitions non-empty); production uses
    ``coalesce`` there to skip the shuffle. File counts are observed
    from ``_metadata.file_path`` on read-back, and the oracle pins both
    plus full value preservation.

    Scale: real compactors pick target file size (say 512 MB) and only
    rewrite partitions whose mean file size is below threshold — the
    observed-file-count + rewrite mechanics here are exactly that inner
    loop."""
    orders = load_table(spark, sf_dir, "orders")
    agg = (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "_bucket",
            F.pmod(
                F.row_number().over(
                    Window.orderBy("o_orderstatus", "o_orderpriority")
                ),
                F.lit(_COMPACT_BEFORE),
            ),
        )
    )
    frag_path = scratch_path("fragmented")
    agg.repartition(_COMPACT_BEFORE, "_bucket").write.mode("overwrite").partitionBy(
        "_bucket"
    ).parquet(frag_path)
    frag = spark.read.parquet(frag_path).drop("_bucket")
    files_before = frag.select(
        F.countDistinct(F.col("_metadata.file_path")).alias("c")
    )
    compact_path = scratch_path("compacted")
    frag.repartition(_COMPACT_AFTER).write.mode("overwrite").parquet(compact_path)
    compacted = spark.read.parquet(compact_path)
    files_after = compacted.select(
        F.countDistinct(F.col("_metadata.file_path")).alias("c")
    )
    return (
        compacted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_orders"),
        )
        .crossJoin(F.broadcast(files_before.select(F.col("c").cast("bigint").alias("files_before"))))
        .crossJoin(F.broadcast(files_after.select(F.col("c").cast("bigint").alias("files_after"))))
        .select("files_before", "files_after", "n_groups", "n_orders")
    )


@query(
    "insert_with_column_defaults",
    category="sink",
    oracle="""
        SELECT o_orderkey AS orderkey, 'unreviewed' AS status,
               0.0 AS score, 'bronze' AS tier
        FROM orders WHERE o_totalprice > 400000
        UNION ALL
        SELECT o_orderkey, 'reviewed', 1.0, 'bronze'
        FROM orders WHERE o_totalprice < 1000
        ORDER BY orderkey
    """,
)
def insert_with_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULT values (Spark 3.4+ on built-in sources): a
    partial-column ``INSERT INTO t (k)`` fills the omitted columns from
    their declared defaults, and ``ALTER TABLE ADD COLUMN ... DEFAULT``
    applies an *existence default* — rows written before the column
    existed read back with the default without rewriting a single file,
    which is the only affordable way to add a column to a 100 TB table.
    The table is dropped and recreated each run (idempotent under the
    bench's repeat protocol); the read-back is the returned DataFrame,
    so the oracle checks both insert paths and the existence default."""
    import shutil

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("defaults_src")
    loc = scratch_path("defaults_demo_tbl")
    spark.sql("DROP TABLE IF EXISTS defaults_demo")
    # LOCATION makes the table external: DROP keeps the files, so a
    # repeated run (bench warmup + timed reps) would double the data —
    # clear the directory explicitly before CREATE.
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE defaults_demo (
            orderkey BIGINT,
            status STRING DEFAULT 'unreviewed',
            score DOUBLE DEFAULT 0.0
        ) USING parquet LOCATION '{loc}'
        """
    )
    spark.sql(
        """
        INSERT INTO defaults_demo (orderkey)
        SELECT o_orderkey FROM defaults_src WHERE o_totalprice > 400000
        """
    )
    spark.sql(
        """
        INSERT INTO defaults_demo (orderkey, status, score)
        SELECT o_orderkey, 'reviewed', 1.0 FROM defaults_src
        WHERE o_totalprice < 1000
        """
    )
    spark.sql("ALTER TABLE defaults_demo ADD COLUMN tier STRING DEFAULT 'bronze'")
    return spark.table("defaults_demo").orderBy("orderkey")


@query(
    "write_rebalanced_parquet",
    category="sink",
    oracle="""
        SELECT o_orderkey AS orderkey, o_orderstatus AS orderstatus,
               CAST(o_totalprice AS DOUBLE) AS totalprice
        FROM orders WHERE o_totalprice > 300000
        ORDER BY orderkey
    """,
)
def write_rebalanced_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE REBALANCE hint before a write: RebalancePartitions lets AQE
    split oversized and coalesce undersized output partitions at
    runtime, so a skewed key (order status here is 3 values with one
    tiny) can't produce one multi-GB file next to a thousand 1 KB ones
    — the standard fix for skewed writes at 100 TB.
    tests/test_plans.py asserts the hint survives to the optimized plan;
    the oracle checks the write-read round-trip is lossless."""
    orders = load_table(spark, sf_dir, "orders")
    sel = (
        orders.filter(F.col("o_totalprice") > 300000)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
        )
        .hint("rebalance", "orderstatus")
    )
    path = scratch_path("rebalanced")
    sel.write.mode("overwrite").parquet(path)
    # The schema is the one just written: passing it skips the footer
    # inference job a bare read runs at build time.
    return spark.read.schema(sel.schema).parquet(path).orderBy("orderkey")
