"""UDF-surface corpus: one oracle-checked query per user-defined-function
flavor (SURVEY.md §2.3 'UDF / UDAF / UDTF surface', M4) — row-at-a-time
``F.udf``, vectorized scalar ``pandas_udf``, grouped-agg ``pandas_udf``,
``applyInPandas`` grouped map, and a Python UDTF. ``mapInPandas`` is
covered by the similarity/multimodal queries (plans/llm.py).

The reference has no UDF mechanism at all — its one predicate is
compiled Rust (``src/executor/mod.rs:295``).

Scale notes: the row-at-a-time ``F.udf`` query exists to cover the API,
with the same logic expressed as a built-in CASE in its oracle — in a
real pipeline that form is 10-100x slower than the other flavors and is
the one to avoid on the hot path. The pandas_* flavors move Arrow
batches, not rows. Determinism: every UDF here computes exact integer /
min-max / single-op-double arithmetic, so results are order- and
batch-boundary-independent.
"""

from __future__ import annotations

# Module-level on purpose: `from __future__ import annotations` turns
# hints into strings, and pandas_udf resolves the iterator-form
# signature in MODULE scope — a function-local Iterator import leaves
# the hint unresolvable (UNSUPPORTED_SIGNATURE).
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf, udtf

from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.sources.catalog import fanout_width, load_table


@query(
    "udf_priority_class",
    category="udf",
    oracle="""
        SELECT o_orderkey AS orderkey,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
                    ELSE 'relaxed' END AS priority_class
        FROM orders ORDER BY orderkey
    """,
)
def udf_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (``F.udf``) — the API-coverage query.
    Deliberately trivial logic so the oracle is a CASE expression; the
    docstring above is the 'do not use this flavor on the hot path'
    warning."""

    @F.udf(returnType="string")
    def classify(priority: str) -> str:
        if priority in ("1-URGENT", "2-HIGH"):
            return "expedite"
        if priority == "3-MEDIUM":
            return "standard"
        return "relaxed"

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        classify("o_orderpriority").alias("priority_class"),
    ).orderBy("orderkey")


@query(
    "pandas_udf_scalar_adjusted",
    category="udf",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               l_extendedprice * 2.0 + l_quantity AS adjusted
        FROM lineitem WHERE l_orderkey <= 200
        ORDER BY orderkey, linenumber
    """,
)
def pandas_udf_scalar_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf: Arrow batches in, numpy-vectorized
    arithmetic, Arrow out. ``x*2 + y`` is two IEEE ops per row — exact
    match with the SQL oracle regardless of batching."""

    @pandas_udf("double")
    def adjust(price: pd.Series, qty: pd.Series) -> pd.Series:
        return price * 2.0 + qty

    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 200)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            adjust("l_extendedprice", "l_quantity").alias("adjusted"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "pandas_udf_grouped_agg_qty",
    category="udf",
    oracle="""
        SELECT l_suppkey AS suppkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_suppkey ORDER BY suppkey
    """,
)
def pandas_udf_grouped_agg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas_udf (a Python UDAF over Arrow batches).
    Quantities are small integers stored as double, so the sum is exact
    in any accumulation order — safe to oracle-check."""

    @pandas_udf("double")
    def total(qty: pd.Series) -> float:
        return float(qty.sum())

    lineitem = load_table(spark, sf_dir, "lineitem")
    # A grouped-agg pandas UDF ships every row through Arrow with no
    # partial aggregation, so its parallelism IS the Python-worker count =
    # the agg's partition count. One range exchange on the group key, at
    # cluster width where the layout needs fan-out (fanout_width, None on
    # real multi-file inputs) and at the shuffle width otherwise, both
    # fans out the Python stage and satisfies the aggregate's clustering
    # AND the ORDER BY's ordering. A hash exchange there would leave a
    # range exchange above the aggregate, whose bounds-sampling job runs
    # the Python aggregate a second time. The key is aliased after the
    # sort: aliased in the groupBy, it hides from the planner that the
    # aggregate's output is already range-partitioned on it.
    w = fanout_width(spark, sf_dir, "lineitem")
    ranged = (
        lineitem.repartitionByRange(w, "l_suppkey") if w
        else lineitem.repartitionByRange("l_suppkey")
    )
    return (
        ranged.groupBy("l_suppkey")
        .agg(total("l_quantity").alias("total_qty"))
        .orderBy("l_suppkey")
        .select(F.col("l_suppkey").alias("suppkey"), "total_qty")
    )


@query(
    "apply_in_pandas_user_stats",
    category="udf",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts,
               MAX(value) AS max_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def apply_in_pandas_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: each user's events arrive as one
    pandas DataFrame (one shuffle on the group key), the function
    returns an arbitrary-shaped frame. Count/min/max only — results
    independent of within-group row order."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "first_ts": [pdf["ts"].min()],
                "last_ts": [pdf["ts"].max()],
                "max_value": [pdf["value"].max()],
            }
        )

    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .applyInPandas(
            stats,
            schema="user_id long, n_events long, first_ts timestamp, last_ts timestamp, "
            "max_value double",
        )
        .orderBy("user_id")
    )


@query(
    "map_in_arrow_adjust",
    category="udf",
    oracle="""
        SELECT l_orderkey AS orderkey, l_quantity + 1.0 AS qty_next
        FROM lineitem WHERE l_orderkey <= 100
        ORDER BY orderkey, qty_next
    """,
)
def map_in_arrow_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy cousin of mapInPandas — RecordBatch
    in, RecordBatch out, no pandas conversion. The cheapest Python hook
    when the logic is pyarrow.compute-expressible."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def adjust(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), pc.add(batch.column("l_quantity"), 1.0)],
                ["orderkey", "qty_next"],
            )

    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_orderkey") <= 100)
        .select("l_orderkey", "l_quantity")
        .mapInArrow(adjust, schema="orderkey long, qty_next double")
        .orderBy("orderkey", "qty_next")
    )


@udtf(returnType="pos INT, bigram STRING", useArrow=True)
class _Bigrams:
    """Python UDTF: one row per adjacent-token bigram of the input text
    (Arrow-optimized — batches cross the Python boundary, not rows)."""

    def eval(self, text: str):  # noqa: ANN201 - UDTF protocol
        toks = text.split(" ")
        for i in range(len(toks) - 1):
            yield i, toks[i] + " " + toks[i + 1]


@query(
    "udtf_bigrams",
    category="udf",
    oracle="""
        SELECT doc_id, t.pos::INT AS pos, t.bigram AS bigram
        FROM (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(string_split(text, ' ')) - 1),
                         i -> struct_pack(pos := i - 1,
                                          bigram := concat_ws(' ', string_split(text, ' ')[i],
                                                              string_split(text, ' ')[i + 1]))))
                         AS t
              FROM documents WHERE doc_id < 10)
        ORDER BY doc_id, pos
    """,
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) in a SQL LATERAL join: each document
    row expands to its bigram rows. The set-returning cousin of explode
    for logic that needs imperative Python."""
    spark.udtf.register("bigrams", _Bigrams)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 10).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, b.pos, b.bigram FROM _udtf_docs d, LATERAL bigrams(d.text) b "
        "ORDER BY d.doc_id, b.pos"
    )


#: Planted non-NFC strings (shared between the Spark builder and the
#: oracle, so both sides normalize identical inputs): combining-accent
#: decompositions that NFC recomposes, plus an already-composed control.
_NFC_PLANTED: list[tuple[int, str]] = [
    (900001, "café con leche"),       # e + COMBINING ACUTE -> é
    (900002, "über cool"),            # u + COMBINING DIAERESIS -> ü
    (900003, "café déjà"),   # already NFC — must pass through
    (900004, "Ångström"),       # Å + ö recompositions
]


@query(
    "unicode_nfc_normalize",
    category="udf",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 50
            UNION ALL
            SELECT * FROM (VALUES
    """
    + ",\n".join(
        f"            ({i}, '{s}')" for i, s in _NFC_PLANTED
    )
    + """
            ) AS planted(doc_id, text)
        )
        SELECT doc_id,
               nfc_normalize(text) AS nfc_text,
               text <> nfc_normalize(text) AS changed,
               CAST(length(text) AS BIGINT) AS len_raw,
               CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc
        FROM corpus ORDER BY doc_id
    """,
)
def unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonical first step of any text
    ingest (one byte sequence per glyph before hashing/dedup: 'café'
    with a combining accent and precomposed 'café' must dedup to the
    same document). Spark has no normalization builtin, so this is the
    honest Pandas-UDF seam: Python's unicodedata over Arrow batches.
    The oracle is DuckDB's native nfc_normalize; planted decomposed
    strings prove recomposition actually happens (the fixture corpus
    is ASCII, where NFC is the identity).

    Scale: vectorized Arrow transfer, stateless per batch — scales
    with the scan like any map-side pass; in a curation DAG this runs
    fused into the first projection, before content hashes."""

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(lambda t: unicodedata.normalize("NFC", t))

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "text"
    )
    planted = docs.sparkSession.createDataFrame(
        _NFC_PLANTED, "doc_id long, text string"
    )
    corpus = docs.unionAll(planted)
    return (
        corpus.withColumn("nfc_text", nfc("text"))
        .select(
            "doc_id",
            "nfc_text",
            (F.col("text") != F.col("nfc_text")).alias("changed"),
            F.length("text").cast("bigint").alias("len_raw"),
            F.length("nfc_text").cast("bigint").alias("len_nfc"),
        )
        .orderBy("doc_id")
    )


class _SourceDigest:
    """Table-argument UDTF body: consumes one PARTITION BY group of
    (source, n_chars) rows, emits a single digest row. ``eval`` is
    called per input row; ``terminate`` flushes the group's summary —
    the UDTF analog of a grouped-agg pandas UDF, with full imperative
    control over per-group state."""

    def __init__(self) -> None:
        self._source = None
        self._n = 0
        self._chars = 0

    def eval(self, row):  # noqa: ANN001 — Row arg per UDTF table-argument API
        self._source = row["source"]
        self._n += 1
        self._chars += row["n_chars"]

    def terminate(self):
        yield self._source, self._n, self._chars


@query(
    "udtf_table_argument_digest",
    category="udf",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source ORDER BY source
    """,
)
def udtf_table_argument_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument (Spark 3.5+/4): the function
    consumes an entire relation — ``TABLE(...) PARTITION BY source`` —
    instead of scalar columns, so each UDTF instance sees exactly one
    group's rows and flushes a digest in ``terminate``. This is the
    SQL-native route to custom per-group logic (the other routes being
    applyInPandas/applyInArrow on the DataFrame side).

    Scale: PARTITION BY shuffles once on the group key; per-instance
    state here is three scalars — O(1) per group however large the
    corpus. Exact integer sums keep the oracle comparison trivial."""
    from pyspark.sql.functions import udtf as _udtf

    spark.udtf.register(
        "source_digest",
        _udtf(_SourceDigest, returnType="source string, n_docs long, total_chars long"),
    )
    docs = load_table(spark, sf_dir, "documents")
    docs.select("source", "n_chars").createOrReplaceTempView("_udtf_src_docs")
    return spark.sql(
        """
        SELECT source, n_docs, total_chars
        FROM source_digest(TABLE(_udtf_src_docs) PARTITION BY source)
        ORDER BY source
        """
    )


@query(
    "union_by_name_missing_cols",
    category="set-op",
    oracle="""
        SELECT n_nationkey AS nationkey, n_name AS name,
               CAST(n_regionkey AS BIGINT) AS regionkey
        FROM nation
        UNION ALL
        SELECT r_regionkey + 1000, r_name, CAST(NULL AS BIGINT)
        FROM region
        ORDER BY nationkey
    """,
)
def union_by_name_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — schema-drift-tolerant
    union: the second relation lacks ``regionkey`` and Spark null-fills
    it by NAME, not position (positional unionAll would silently
    misalign columns — the classic multi-generation-ingest bug; the
    mergeSchema read variant of the same drift is
    schema_evolution_merge).

    Scale: a union is plan-level concatenation — zero shuffle; the
    null-fill is a map-side literal projection."""
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("bigint").alias("regionkey"),
    )
    region = load_table(spark, sf_dir, "region").select(
        (F.col("r_regionkey") + 1000).cast("bigint").alias("nationkey"),
        F.col("r_name").alias("name"),
    )
    return nation.unionByName(region, allowMissingColumns=True).orderBy("nationkey")


@query(
    "apply_in_arrow_user_stats",
    category="udf",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts,
               MAX(value) AS max_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def apply_in_arrow_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInArrow`` (Spark 4): the zero-copy sibling of
    applyInPandas — each group arrives as a ``pyarrow.Table``, no
    pandas conversion at all, so Python sees the Arrow buffers Spark
    shipped. Same group-stats computation as apply_in_pandas_user_stats
    (same oracle) computed with pyarrow.compute kernels; count/min/max
    only, so results are independent of within-group row order.

    Scale: identical distribution shape to applyInPandas (one shuffle
    on the group key); the Arrow path skips the pandas materialization
    per batch — the preferred surface when the Python logic can stay in
    Arrow kernels."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(tbl: pa.Table) -> pa.Table:
        ts = tbl.column("ts")
        return pa.table(
            {
                "user_id": pa.array([tbl.column("user_id")[0].as_py()], pa.int64()),
                "n_events": pa.array([tbl.num_rows], pa.int64()),
                "first_ts": pa.array([pc.min(ts).as_py()], ts.type),
                "last_ts": pa.array([pc.max(ts).as_py()], ts.type),
                "max_value": pa.array(
                    [pc.max(tbl.column("value")).as_py()], pa.float64()
                ),
            }
        )

    events = load_table(spark, sf_dir, "events")
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInArrow(
            stats,
            schema=(
                "user_id long, n_events long, first_ts timestamp,"
                " last_ts timestamp, max_value double"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "cogroup_apply_customer_orders",
    category="udf",
    oracle="""
        SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
               c.c_acctbal,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(o.s, 0) AS BIGINT)
                   / CAST(100.0 AS DOUBLE) AS sum_totalprice
        FROM customer c
        LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS n,
                   SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s
            FROM orders GROUP BY 1
        ) o ON o.o_custkey = c.c_custkey
        ORDER BY c_custkey
    """,
)
def cogroup_apply_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy(...).cogroup(...).applyInPandas`` — the two-sided
    member of the pandas-UDF family (the one API-surface row the
    single-input applyInPandas/mapInPandas/applyInArrow queries don't
    cover): customers and their orders arrive CO-PARTITIONED by key as
    two pandas frames per group, merged here into one per-customer
    summary. The real use case is per-key reconciliation that built-in
    joins can't express cheaply (two timelines interleaved, custom
    conflict resolution); the summary math is kept SQL-expressible on
    purpose so the oracle can hash-check the cogroup machinery itself.

    Cross-engine float exactness: order totals accumulate as integer
    CENTS (floor(x*100+0.5), exact for 2-decimal parquet prices) and
    divide once by an IEEE 100.0 — numpy int64 sum vs DuckDB BIGINT
    sum, no float-order divergence. Customers with no orders emit
    (0, 0.0); order groups with no customer row emit nothing.

    Scale: cogroup is the two-input shuffle — both sides hash-partition
    on the SAME coarse key-bucket (custkey mod 64), so one python call
    handles a whole bucket of keys with a vectorized pandas
    groupby+merge inside, instead of one interpreter round-trip per
    customer (per-key calls were measured 45 s at sf0.1 — pure Python
    call overhead; bucketed: ~2 s). Bucket count is fixed, so call
    count stays O(buckets) while per-call work grows with data —
    exactly how a 1000-executor cogroup should amortize; state is
    per-bucket-batch, never corpus-sized. The scan is column-pruned to
    the two columns each side needs."""

    def merge(cdf: pd.DataFrame, odf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(cdf) == 0:
            return pd.DataFrame(
                {
                    "c_custkey": np.array([], dtype=np.int64),
                    "c_acctbal": np.array([], dtype=np.float64),
                    "n_orders": np.array([], dtype=np.int64),
                    "sum_totalprice": np.array([], dtype=np.float64),
                }
            )
        if len(odf):
            ocents = odf.assign(
                cents=np.floor(
                    odf["o_totalprice"].to_numpy(dtype=np.float64) * 100
                    + 0.5
                ).astype(np.int64)
            )
            agg = ocents.groupby("o_custkey", as_index=False).agg(
                n_orders=("cents", "size"), cents=("cents", "sum")
            )
        else:
            agg = pd.DataFrame(
                {
                    "o_custkey": np.array([], dtype=np.int64),
                    "n_orders": np.array([], dtype=np.int64),
                    "cents": np.array([], dtype=np.int64),
                }
            )
        out = cdf[["c_custkey", "c_acctbal"]].merge(
            agg, left_on="c_custkey", right_on="o_custkey", how="left"
        )
        n = out["n_orders"].fillna(0).astype(np.int64)
        cents = out["cents"].fillna(0).astype(np.int64)
        return pd.DataFrame(
            {
                "c_custkey": out["c_custkey"].astype(np.int64),
                "c_acctbal": out["c_acctbal"].astype(np.float64),
                "n_orders": n,
                "sum_totalprice": cents / 100.0,
            }
        )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("o_custkey"), "o_totalprice"
    )
    return (
        cust.groupBy(F.pmod("c_custkey", F.lit(64)).alias("kb"))
        .cogroup(orders.groupBy(F.pmod("o_custkey", F.lit(64)).alias("kb")))
        .applyInPandas(
            merge,
            schema=(
                "c_custkey bigint, c_acctbal double,"
                " n_orders bigint, sum_totalprice double"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "udtf_polymorphic_ngrams",
    category="udf",
    oracle="""
        SELECT doc_id, CAST(t.pos AS INT) AS pos, t.g1 AS g1, t.g2 AS g2,
               t.g3 AS g3
        FROM (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(string_split(text, ' ')) - 2),
                         i -> struct_pack(
                             pos := i - 1,
                             g1 := string_split(text, ' ')[i],
                             g2 := string_split(text, ' ')[i + 1],
                             g3 := string_split(text, ' ')[i + 2]))) AS t
              FROM documents WHERE doc_id < 10)
        ORDER BY doc_id, pos
    """,
)
def udtf_polymorphic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF: no static returnType — the output
    schema is computed at PLAN time by a static ``analyze()`` from the
    (foldable) ``n`` argument, so ``poly_ngrams(text, 3)`` plans columns
    (pos, g1, g2, g3) while ``n=2`` would plan (pos, g1, g2). This is
    the Spark 4 table-function surface a platform team uses to ship ONE
    registered function whose shape adapts per call site — the
    alternative is one UDTF per width. Catalyst sees a fully-typed
    schema before execution, so downstream pruning/codegen work
    normally; eval stays a generator (Arrow-batched rows out).
    tests/test_plans.py exercises the n=2 shape to pin that the schema
    really is argument-dependent."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class _PolyNGrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            width = int(n.value)
            schema = StructType().add("pos", IntegerType())
            for i in range(1, width + 1):
                schema = schema.add(f"g{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):  # noqa: ANN201 - UDTF protocol
            toks = text.split(" ")
            for i in range(len(toks) - n + 1):
                yield (i, *toks[i : i + n])

    spark.udtf.register("poly_ngrams", udtf(_PolyNGrams, useArrow=True))
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 10).createOrReplaceTempView("_poly_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.g1, t.g2, t.g3 "
        "FROM _poly_docs d, LATERAL poly_ngrams(d.text, 3) t "
        "ORDER BY d.doc_id, t.pos"
    )


@query(
    "pandas_udf_iter_brackets",
    category="udf",
    oracle="""
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               l_extendedprice AS price,
               CASE WHEN l_extendedprice < 10000 THEN 0
                    WHEN l_extendedprice < 25000 THEN 1
                    WHEN l_extendedprice < 50000 THEN 2
                    ELSE 3 END AS bracket
        FROM lineitem WHERE l_quantity = 50
        ORDER BY orderkey, linenumber
    """,
)
def pandas_udf_iter_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form scalar pandas_udf (``Iterator[pd.Series] ->
    Iterator[pd.Series]``) — the API surface for per-worker one-time
    setup amortized over every Arrow batch: the bracket boundary table
    is "loaded" ONCE per executor python process before the batch loop
    (the pattern used to hold a tokenizer / ONNX session / compiled
    regex at 100 TB, where per-batch re-init would dominate), then each
    batch is a vectorized ``np.searchsorted``. Complements the plain
    scalar form (pandas_udf_scalar_adjusted): same Arrow transport,
    different lifecycle contract. The oracle replays the bracket lookup
    as a CASE expression — integer bracket ids, no float compare
    hazards."""

    @pandas_udf("long")
    def bracket(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        boundaries = np.array([10000.0, 25000.0, 50000.0])  # once per worker
        for prices in batches:
            yield pd.Series(
                np.searchsorted(boundaries, prices.to_numpy(), side="right"),
                dtype="int64",
            )

    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_quantity") == 50)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("l_extendedprice").alias("price"),
            bracket("l_extendedprice").alias("bracket"),
        )
        .orderBy("orderkey", "linenumber")
    )


@query(
    "udf_arrow_optimized",
    category="udf",
    oracle="""
        SELECT o_orderkey AS orderkey,
               upper(substr(o_orderpriority, 3, 3)) || '-' ||
               CAST(o_orderkey % 7 AS VARCHAR) AS tag
        FROM orders WHERE o_orderkey <= 2000
        ORDER BY orderkey
    """,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``F.udf(useArrow=True)``, the third
    scalar-UDF execution path next to row-at-a-time pickle
    (udf_priority_class) and pandas_udf (pandas_udf_scalar_adjusted):
    the same def-with-scalars API as a classic UDF, but executed over
    Arrow record batches (ArrowEvalPython), so per-row (de)serialization
    disappears while the function body stays plain Python. String logic
    is deterministic, so the SQL oracle is exact."""

    @F.udf(returnType="string", useArrow=True)
    def tag(priority: str, key: int) -> str:
        return f"{priority[2:5].upper()}-{key % 7}"

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") <= 2000)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            tag("o_orderpriority", "o_orderkey").alias("tag"),
        )
        .orderBy("orderkey")
    )
