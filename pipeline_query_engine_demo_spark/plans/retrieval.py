"""Embedding similarity / ANN / ranking retrieval queries (split from plans/llm.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pipeline_query_engine_demo_spark.functions import multimodal, text, vectors
from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.operators import dedup, similarity
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import replica_path
from pipeline_query_engine_demo_spark.sources.catalog import load_table


from pipeline_query_engine_demo_spark.plans.registry import REGISTRY as _REG  # noqa: E402


#: Positional discount literals for nDCG@10: 1/log2(rank+1), folded to
#: Python doubles once so BOTH engines consume the identical constants
#: (no runtime ln/log2 divergence possible). IDCG is the ideal DCG of
#: graded gains 10..1 — a pure constant for a fixed k.
import math as _math  # noqa: E402

from pipeline_query_engine_demo_spark.plans.llm import (  # shared helpers stay in the base module
    _IVF_DIM,
    _KMEANS_ITERS,
    _KMEANS_K,
    IVF_CENTROIDS,
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
    _NDCG_DISCOUNTS,
    _NDCG_IDCG,
    _NDCG_K,
    _RRF_K,
)

# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_COSINE_SQL = sql_round_half_up(
    "list_dot_product(c.v, q.qv)"
    " / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv)))",
    6,
)


def _emb_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings CORPUS scan, fanned out when the layout is unsplittable.

    r12 optimization (guide 2.5): the HOF cosine/score fold is heavy
    per-row JVM expression work pipelined into the scan stage; the
    single-row-group fixture pins it to one task (profiled: 0.5-0.7 s
    single-task stages in the ANN/cosine rows). Query-side scans stay on
    the plain load_table (they only feed broadcasts)."""
    return load_table(spark, sf_dir, "embeddings", fan_out=True)


@query(
    "cosine_topk_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
                   FROM c CROSS JOIN q),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors
    (operators.similarity.cosine_topk): the query side is broadcast, the
    corpus streams map-side through the score + per-query window top-k —
    the corpus never shuffles. Both engines fold the dot product
    left-to-right in double, so rounded scores match bit-for-bit."""
    emb = _emb_fanned(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, q, "vec_id", "embedding", k=10).orderBy(
        "query_id", "rank"
    )


_BUCKET_SQL = (
    "((embedding[1] > 0)::INT * 1 + (embedding[8] > 0)::INT * 2 + "
    "(embedding[22] > 0)::INT * 4 + (embedding[43] > 0)::INT * 8)"
)


@query(
    "ann_lsh_topk_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                          {_BUCKET_SQL} AS bucket
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKET_SQL} AS bucket
              FROM embeddings),
        scored AS (SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
                   FROM c JOIN q ON c.bucket = q.bucket),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ann_lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-LSH bucketing (4 hyperplane bits on
    fixed dims): the bucket equi-join replaces the cross join, scanning
    ~corpus/16 per query at some recall cost (operators.similarity.
    ann_topk_lsh). Recall vs the exact query is asserted in tests/."""
    emb = _emb_fanned(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.ann_topk_lsh(
        emb, q, "vec_id", "embedding", k=10, dims=(0, 7, 21, 42)
    ).orderBy("query_id", "rank")


#: Seeded random hyperplanes for the production-form sign-LSH (4 bits,
#: 64 dims, seed 42) — the same literals are embedded in the SQL oracle.
_HYPERPLANES = similarity.random_hyperplanes(dim=64, bits=4, seed=42)


def _hyperplane_bucket_sql() -> str:
    terms = []
    for i, plane in enumerate(_HYPERPLANES):
        lits = ", ".join(repr(x) for x in plane)
        terms.append(f"(list_dot_product(embedding::DOUBLE[], [{lits}]) > 0)::INT * {2**i}")
    return "(" + " + ".join(terms) + ")"


@query(
    "ann_hyperplane_topk_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                          {_hyperplane_bucket_sql()} AS bucket
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_hyperplane_bucket_sql()} AS bucket
              FROM embeddings),
        scored AS (SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
                   FROM c JOIN q ON c.bucket = q.bucket),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ann_hyperplane_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random-hyperplane LSH ANN (operators.similarity.
    ann_topk_hyperplane): the production upgrade of the coordinate-sign
    variant — buckets partition by the data's directional distribution.
    Same bucket-equi-join scan shape (~corpus/16 per query); the oracle
    embeds the identical seeded hyperplane literals."""
    emb = _emb_fanned(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.ann_topk_hyperplane(
        emb, q, "vec_id", "embedding", k=10, planes=_HYPERPLANES
    ).orderBy("query_id", "rank")




@query(
    "ivf_topk_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
                             AND embedding[1] >= embedding[4] THEN 0
                        WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
                        WHEN embedding[3] >= embedding[4] THEN 2
                        ELSE 3 END AS cell
            FROM embeddings
        ),
        qs AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                   unnest([
                       struct_pack(cell := 0, s := embedding[1]::DOUBLE),
                       struct_pack(cell := 1, s := embedding[2]::DOUBLE),
                       struct_pack(cell := 2, s := embedding[3]::DOUBLE),
                       struct_pack(cell := 3, s := embedding[4]::DOUBLE)
                   ]) AS t
            FROM embeddings WHERE vec_id < 5
        ),
        qcells AS (
            SELECT query_id, qv, t.cell AS cell
            FROM qs
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY t.s DESC, t.cell) <= 2
        ),
        scored AS (
            SELECT q.query_id, c.vec_id,
                   {_COSINE_SQL} AS cosine_sim
            FROM c JOIN qcells q ON c.cell = q.cell
        ),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search path (operators.similarity.ivf_topk): corpus
    pre-assigned to nearest-centroid cells, each query probes its
    nprobe=2 closest cells — the recall/cost dial of every IVF index.
    With unit one-hot centroids the cell ordering reduces to raw
    coordinate comparisons, which the oracle mirrors (ties broken
    first-cell-wins on both sides)."""
    emb = _emb_fanned(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(
        emb, q, "vec_id", "embedding", IVF_CENTROIDS, k=10, nprobe=2
    ).orderBy("query_id", "rank")


@query(
    "ivf_assign_embeddings",
    category="llm-similarity",
    oracle="""
        WITH s AS (SELECT vec_id,
                          embedding[1]::DOUBLE AS s0, embedding[2]::DOUBLE AS s1,
                          embedding[3]::DOUBLE AS s2, embedding[4]::DOUBLE AS s3
                   FROM embeddings)
        SELECT vec_id,
               CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
                    WHEN s1 >= s2 AND s1 >= s3 THEN 1
                    WHEN s2 >= s3 THEN 2
                    ELSE 3 END AS cell
        FROM s ORDER BY vec_id
    """,
)
def ivf_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment to 4 one-hot centroids: broadcast literal
    centroids, map-side argmax — zero shuffles. With unit centroids the
    cosine argmax reduces to an argmax over raw coordinates, which is
    what the oracle computes (first-max-wins tie-break on both sides)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(emb, "vec_id", "embedding", IVF_CENTROIDS).orderBy("vec_id")


@query(
    "pandas_cosine_topk_embeddings",
    category="llm-similarity",
    oracle="""
        WITH qv AS (SELECT list_transform(range(0, 64),
                        i -> CASE WHEN i % 8 = 0 THEN 1.0 ELSE 0.0 END)::DOUBLE[] AS q),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT vec_id,
                   CASE WHEN isfinite(list_dot_product(v, q) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)))) THEN floor((list_dot_product(v, q) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q)))) * 1000000.0 + 0.5) / 1000000.0 END AS cosine_sim
            FROM c CROSS JOIN qv)
        SELECT vec_id, cosine_sim FROM scored
        ORDER BY cosine_sim DESC NULLS LAST, vec_id LIMIT 10
    """,
)
def pandas_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Pandas-UDF brute-force top-10 against one fixed query
    vector: Arrow batches -> numpy matmul, one Python worker per core,
    no collect (operators.similarity.pandas_cosine_topk). The scale path
    for high-dim embeddings where expression trees lose to BLAS. The
    round(6) + NaN-to-NULL canonicalization inside the operator makes
    the scores SQL-reproducible (BLAS pairwise summation and DuckDB's
    sequential fold agree to well within 1e-6 at dim=64), so the oracle
    recomputes the same dot/norm/ratio in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [1.0 if i % 8 == 0 else 0.0 for i in range(_IVF_DIM)]
    return similarity.pandas_cosine_topk(emb, qv, "vec_id", "embedding", k=10)


@query(
    "numpy_cosine_topk_embeddings",
    category="llm-similarity",
    oracle=_REG["cosine_topk_embeddings"].oracle,
)
def numpy_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production numpy tier for MULTI-query brute-force top-k
    (operators.similarity.numpy_cosine_topk): corpus hash-salted into 32
    cogroup buckets, query set replicated per bucket (KBs on the wire),
    one C-side matmul per Arrow batch, local top-k per bucket, bounded
    global re-rank. Same query set and arithmetic contract as the
    HOF-expression `cosine_topk_embeddings`, so it shares that oracle —
    and the recall-parity test (tests/test_similarity.py) is the tier's
    real acceptance gate (r11 verdict item 2): numpy pairwise summation
    is allowed to diverge from the ordered IEEE fold at a rounding
    boundary without failing the build, but overlap with the exact tier
    must stay >= 0.99."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.numpy_cosine_topk(emb, q, "vec_id", "embedding", k=10).orderBy(
        "query_id", "rank"
    )


@query(
    "numpy_cosine_topk_prebucketed",
    category="llm-similarity",
    oracle=_REG["cosine_topk_embeddings"].oracle,
)
def numpy_cosine_topk_prebucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy matmul tier over a PRE-BUCKETED corpus: the embeddings
    table is written once ``bucketBy(32, _b)`` (the same hash-salt the
    cogroup groups on), so the bucketed scan's output partitioning
    satisfies the cogroup's distribution and the corpus side runs with
    ZERO exchanges — only the KB-sized replicated query set shuffles.
    This is the 100 TB posture the crossover note promises (SCALE.md
    round 12): the corpus shuffle that made the expression tier win the
    rows axis is paid once at ingest, not per query batch. Plan shape
    pinned by tests/test_plans.py; same oracle as the exact tier."""
    import os as _os

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", "embedding").withColumn(
        "_b", F.pmod(F.hash(F.col("vec_id")), F.lit(32))
    )
    label = _os.path.basename(_os.path.normpath(sf_dir))
    table = f"b_embeddings_{label.replace('.', '_')}"
    path, ready = replica_path(sf_dir, "bucketed_emb")
    if not spark.catalog.tableExists(table) or not ready:
        (
            c.write.mode("overwrite")
            .format("parquet")
            .bucketBy(32, "_b")
            .option("path", path)
            .saveAsTable(table)
        )
    corpus = spark.table(table)
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.numpy_cosine_topk(
        corpus, q, "vec_id", "embedding", k=10, buckets=32, bucket_col="_b"
    ).orderBy("query_id", "rank")


@query(
    "ivf_index_dpp_topk",
    category="llm-similarity",
    oracle=_REG["ivf_topk_embeddings"].oracle,
)
def ivf_index_dpp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against a PERSISTED index laid out
    ``partitionBy(_cell)`` — the production form where the coarse
    quantizer's output is the table layout. The probe set (each query's
    nprobe=2 closest cells) is runtime-derived, so static pruning is
    impossible; the cell equi-join against the broadcast probe side
    puts a ``dynamicpruningexpression(_cell ...)`` on the index scan
    and only the probed cell DIRECTORIES are read — IVF's
    "search nprobe/n_cells of the corpus" promise enforced by the
    storage layer itself, not just the join. Asserted in
    tools/audit_plans.py (PARTITION_FILTER_REQUIRED); same candidate
    sets and oracle as ivf_topk_embeddings (shared cell-assignment and
    probe expressions, operators.similarity.ivf_index_frame /
    ivf_probe_cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path, ready = replica_path(sf_dir, "ivf_index")
    if not ready:
        (
            similarity.ivf_index_frame(emb, "embedding", IVF_CENTROIDS)
            .repartition("_cell")
            .write.mode("overwrite")
            .partitionBy("_cell")
            .parquet(path)
        )
    index = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 5)
    probes = F.broadcast(
        similarity.ivf_probe_cells(q, "vec_id", "embedding", IVF_CENTROIDS, nprobe=2)
    )
    scored = index.join(probes, "_cell").select(
        "query_id",
        F.col("vec_id"),
        round_half_up(
            similarity.cosine(F.col("embedding"), F.col("_qvec")), 6
        ).alias("cosine_sim"),
    )
    return similarity._topk_per_query(scored, "vec_id", k=10).orderBy(
        "query_id", "rank"
    )


@query(
    "ivf_numpy_topk_embeddings",
    category="llm-similarity",
    oracle=_REG["ivf_topk_embeddings"].oracle,
)
def ivf_numpy_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with the numpy scoring seat
    (similarity.cosine_pandas_scorer): cell assignment stays on the
    expression path (bit-identical candidate sets vs
    `ivf_topk_embeddings`), but the candidate scoring runs as an
    ArrowEvalPython pandas_udf — the production swap once
    dim x candidates outgrows the interpreted HOF tier. Shares the
    expression tier's oracle; the recall-parity test is the acceptance
    gate if a rounding boundary ever splits them."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(
        emb,
        q,
        "vec_id",
        "embedding",
        IVF_CENTROIDS,
        k=10,
        nprobe=2,
        scorer=similarity.cosine_pandas_scorer(),
    ).orderBy("query_id", "rank")


@query(
    "embedding_vector_math",
    category="llm-similarity",
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        SELECT vec_id,
               sqrt(list_dot_product(e, e)) AS l2_norm,
               list_max(list_transform(e, x -> abs(x))) AS max_abs,
               e[1] / sqrt(list_dot_product(e, e)) AS unit_first
        FROM v ORDER BY vec_id
    """,
)
def embedding_vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-math expression surface (functions.vectors): L2 norm,
    max-abs, unit-normalized elements — all zip_with/aggregate
    higher-order folds, JVM-side, bit-identical to DuckDB's sequential
    list arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        vectors.norm("embedding").alias("l2_norm"),
        F.array_max(F.transform(vectors.as_double("embedding"), F.abs)).alias("max_abs"),
        F.element_at(vectors.normalize("embedding"), 1).alias("unit_first"),
    ).orderBy("vec_id")


@query(
    "embedding_quantize_int8",
    category="llm-similarity",
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        s AS (SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) AS max_abs
              FROM v)
        SELECT vec_id,
               max_abs,
               CAST(CASE WHEN isfinite(e[1] * 127.0 / max_abs) THEN floor((e[1] * 127.0 / max_abs) * 1.0 + 0.5) / 1.0 END AS INT) AS q1,
               CAST(CASE WHEN isfinite(e[2] * 127.0 / max_abs) THEN floor((e[2] * 127.0 / max_abs) * 1.0 + 0.5) / 1.0 END AS INT) AS q2,
               CAST(CASE WHEN isfinite(e[64] * 127.0 / max_abs) THEN floor((e[64] * 127.0 / max_abs) * 1.0 + 0.5) / 1.0 END AS INT) AS q64
        FROM s ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (per-vector max-abs scaling) — the
    4x storage cut that makes a 100 TB embedding corpus hold-able; the
    dequantize error is bounded by max_abs/254 per element. Rounding is
    the shared floor-form half-up (functions.rounding), which on a
    NEGATIVE exact half-boundary gives half-toward-+inf (-2.5 -> -2)
    where classic int8 quantizers round half away from zero (-2.5 ->
    -3); both engines agree with each other, the divergence from the
    away-from-zero convention is confined to exact .5 scaled values
    IEEE doubles essentially never produce, and max error stays
    max_abs/254. A zero vector (max_abs = 0) quantizes to NULL codes on
    both sides rather than 0/0 artifacts."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = vectors.as_double("embedding")
    max_abs = F.array_max(F.transform(e, F.abs))
    # max_abs is let-bound: captured directly in the quantize lambda it
    # would re-scan the vector per element (O(d²) per row).
    q = text.let(
        max_abs,
        lambda m: F.transform(e, lambda x: round_half_up(x * 127.0 / m).cast("int")),
    )
    return emb.select(
        "vec_id",
        max_abs.alias("max_abs"),
        F.element_at(q, 1).alias("q1"),
        F.element_at(q, 2).alias("q2"),
        F.element_at(q, 64).alias("q64"),
    ).orderBy("vec_id")

_KMEANS_ITER_SQL = """
        d{i} AS (
            SELECT e.vec_id, c.cell,
                   CAST(SUM(CAST(CASE WHEN isfinite(e.val * c.c) THEN floor((e.val * c.c) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12)))
                        AS DOUBLE) AS dot
            FROM e JOIN c{p} c ON c.dim = e.dim
            GROUP BY e.vec_id, c.cell),
        nc{i} AS (
            SELECT cell,
                   CAST(SUM(CAST(CASE WHEN isfinite(c * c) THEN floor((c * c) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12)))
                        AS DOUBLE) AS nc
            FROM c{p} GROUP BY cell),
        a{i} AS (
            SELECT d.vec_id, d.cell
            FROM d{i} d JOIN nv ON nv.vec_id = d.vec_id
                        JOIN nc{i} nc ON nc.cell = d.cell
            QUALIFY row_number() OVER (
                PARTITION BY d.vec_id
                ORDER BY d.dot / sqrt(nv.nv * nc.nc) DESC, d.cell) = 1),
        c{i} AS (
            SELECT a.cell, e.dim,
                   CASE WHEN isfinite(CAST(SUM(CAST(CASE WHEN isfinite(e.val) THEN floor((e.val) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) THEN floor((CAST(SUM(CAST(CASE WHEN isfinite(e.val) THEN floor((e.val) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 END AS c
            FROM e JOIN a{i} a ON a.vec_id = e.vec_id
            GROUP BY a.cell, e.dim)"""


@query(
    "kmeans_train_embeddings",
    category="llm-similarity",
    oracle="""
        WITH e AS (
            SELECT vec_id, t.d AS dim, embedding[t.d]::DOUBLE AS val
            FROM embeddings, unnest(generate_series(1, 64)) AS t(d)),
        c0 AS (
            SELECT g.cell, t.d AS dim,
                   CASE WHEN t.d = g.cell + 1 THEN 1.0 ELSE 0.0 END AS c
            FROM unnest(generate_series(0, 3)) AS g(cell),
                 unnest(generate_series(1, 64)) AS t(d)),
        nv AS (
            SELECT vec_id,
                   CAST(SUM(CAST(CASE WHEN isfinite(val * val) THEN floor((val * val) * 1000000000.0 + 0.5) / 1000000000.0 END AS DECIMAL(28,12)))
                        AS DOUBLE) AS nv
            FROM e GROUP BY vec_id),
    """
    + _KMEANS_ITER_SQL.format(i=1, p=0)
    + ","
    + _KMEANS_ITER_SQL.format(i=2, p=1)
    + """ ,
        n2 AS (SELECT cell, COUNT(*) AS n FROM a2 GROUP BY cell)
        SELECT CAST(m.cell AS BIGINT) AS cell,
               CAST(m.dim AS BIGINT) AS dim,
               m.c AS centroid,
               CAST(n2.n AS BIGINT) AS n_members
        FROM c2 m JOIN n2 ON n2.cell = m.cell
        ORDER BY cell, dim
    """,
)
def kmeans_train_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means training (operators.clustering.kmeans_train):
    2 Lloyd's iterations, k=4, seeded from the same one-hot centroids
    IVF serves from — so the engine now owns the IVF index's *training*
    step, not just assignment and probe. Per iteration the corpus
    shuffles twice (dot-product agg, mean agg) and the k x dim centroid
    table broadcasts; nothing corpus-sized reaches the driver. The
    oracle replays both iterations as chained CTEs from the same
    DECIMAL-exact accumulators, so every centroid matches to the digit.
    Output is long-format (cell, dim) — array-free by driver contract."""
    from pipeline_query_engine_demo_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    init = spark.createDataFrame(
        [
            (cell, dim, 1.0 if dim == cell + 1 else 0.0)
            for cell in range(_KMEANS_K)
            for dim in range(1, _IVF_DIM + 1)
        ],
        "cell long, dim long, c double",
    )
    cent, assign = clustering.kmeans_train(
        emb, "vec_id", "embedding", init, iterations=_KMEANS_ITERS
    )
    n = assign.groupBy("cell").agg(F.count("*").alias("n"))
    return (
        cent.join(n, "cell")
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            F.col("dim").cast("bigint").alias("dim"),
            F.col("c").alias("centroid"),
            F.col("n").cast("bigint").alias("n_members"),
        )
        .orderBy("cell", "dim")
    )


@query(
    "ann_recall_at_k",
    category="llm-similarity",
    oracle=f"""
        WITH gt AS ({_REG["cosine_topk_embeddings"].oracle}),
             ann AS ({_REG["ann_lsh_topk_embeddings"].oracle})
        SELECT gt.query_id,
               CAST(COUNT(ann.rank) AS BIGINT) AS hits,
               CAST(COUNT(*) AS BIGINT) AS k,
               CASE WHEN isfinite(COUNT(ann.rank) / CAST(COUNT(*) AS DOUBLE)) THEN floor((COUNT(ann.rank) / CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END AS recall_at_k
        FROM gt
        LEFT JOIN ann
          ON ann.query_id = gt.query_id AND ann.vec_id = gt.vec_id
        GROUP BY gt.query_id
        ORDER BY gt.query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH ANN index against brute-force cosine
    ground truth, per query — the evaluation harness every production
    ANN deployment runs before trading exactness for speed. Composes
    the two already-verified pipelines (their oracles are reused
    verbatim as CTEs, so this query is exactly as trustworthy as its
    parts) and reduces each query's top-10 overlap to hits/k.

    Scale shape: ground truth is the expensive branch (brute-force over
    the corpus — in production run on a SAMPLED query set, as here with
    5 probe queries); the overlap join is top-k-sized (50 rows a side),
    broadcast-trivial. Output is one row per probe query.
    """
    gt = cosine_topk_embeddings(spark, sf_dir)
    ann = ann_lsh_topk_embeddings(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        gt.join(ann, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("hits"),
            F.count(F.lit(1)).alias("k"),
            round_half_up(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@query(
    "bm25_topk_docs",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM toks GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS total_tokens
                  FROM dl),
        tfc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
                FROM toks WHERE tok IN {_BM25_TERMS!r}
                GROUP BY doc_id, tok),
        dfc AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM toks WHERE tok IN {_BM25_TERMS!r}
                GROUP BY tok),
        scored AS (
            SELECT t.doc_id, t.tok,
                   ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                      / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0!r})
                   / (CAST(t.tf AS DOUBLE) + {_BM25_K1!r}
                      * (1.0 - {_BM25_B!r} + {_BM25_B!r}
                         * CAST(l.dl AS DOUBLE)
                         / (CAST(s.total_tokens AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))) AS term_score
            FROM tfc t
            JOIN dfc d ON t.tok = d.tok
            JOIN dl l ON l.doc_id = t.doc_id
            CROSS JOIN stats s
        ),
        agg AS (
            SELECT doc_id,
                   SUM(CASE WHEN tok = '{_BM25_TERMS[0]}' THEN term_score END) AS s0,
                   SUM(CASE WHEN tok = '{_BM25_TERMS[1]}' THEN term_score END) AS s1,
                   SUM(CASE WHEN tok = '{_BM25_TERMS[2]}' THEN term_score END) AS s2
            FROM scored GROUP BY doc_id
        ),
        fin AS (
            SELECT doc_id,
                   CAST((CASE WHEN s0 IS NOT NULL THEN 1 ELSE 0 END)
                        + (CASE WHEN s1 IS NOT NULL THEN 1 ELSE 0 END)
                        + (CASE WHEN s2 IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS matched_terms,
                   COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0)
                       AS score_raw
            FROM agg
        )
        SELECT doc_id, matched_terms,
               {sql_round_half_up('score_raw', 6)} AS bm25_score
        FROM fin ORDER BY bm25_score DESC, doc_id LIMIT 15
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 retrieval for a fixed 3-term query over an inverted
    index built from relational primitives: explode -> per-doc term
    frequencies and lengths -> document frequencies -> the
    Robertson/Lucene BM25 formula (idf = ln((N-df+0.5)/(df+0.5)+1),
    always positive). Per-doc scores sum the <=3 term contributions in
    a FIXED coalesce order (conditional aggregate per term), so the
    double addition order is engine-independent.

    Scale: the term filter prunes the exploded stream to query-term
    postings before any shuffle (the inverted-index access path); df
    and the 1-row corpus stats broadcast; no window over the corpus —
    the final top-15 is a TakeOrdered. The same plan serves a stored
    posting-list table; here the index is built in-flight."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    qtoks = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    tfc = qtoks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfc = qtoks.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    scored = (
        tfc.join(F.broadcast(dfc), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs").cast("double")
    tt = F.col("total_tokens").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    k1, b = _BM25_K1, _BM25_B
    term_score = (
        F.log((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)) + F.lit(1.0))
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dld / (tt / nd)))
    )
    scored = scored.select("doc_id", "tok", term_score.alias("term_score"))
    agg = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tok") == t, F.col("term_score"))).alias(f"s{i}")
            for i, t in enumerate(_BM25_TERMS)
        ]
    )
    matched = (
        F.when(F.col("s0").isNotNull(), 1).otherwise(0)
        + F.when(F.col("s1").isNotNull(), 1).otherwise(0)
        + F.when(F.col("s2").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    score_raw = (
        F.coalesce(F.col("s0"), F.lit(0.0))
        + F.coalesce(F.col("s1"), F.lit(0.0))
        + F.coalesce(F.col("s2"), F.lit(0.0))
    )
    return (
        agg.select(
            "doc_id",
            matched.alias("matched_terms"),
            round_half_up(score_raw, 6).alias("bm25_score"),
        )
        .orderBy(F.col("bm25_score").desc(), "doc_id")
        .limit(15)
    )


@query(
    "knn_classify_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                          label AS true_label
                   FROM embeddings WHERE vec_id % 97 = 0),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        scored AS (SELECT q.query_id, c.vec_id, c.label,
                          {_COSINE_SQL} AS cosine_sim
                   FROM c CROSS JOIN q
                   WHERE c.vec_id <> q.query_id),
        top AS (SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine_sim DESC, vec_id) AS rnk
                    FROM scored)
                WHERE rnk <= 5),
        votes AS (SELECT query_id, label,
                         CAST(COUNT(*) AS BIGINT) AS votes
                  FROM top GROUP BY query_id, label),
        pred AS (SELECT query_id, label AS predicted_label, votes FROM (
                     SELECT *, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY votes DESC, label) AS vr
                     FROM votes)
                 WHERE vr = 1)
        SELECT p.query_id, q.true_label, p.predicted_label, p.votes,
               (p.predicted_label = q.true_label) AS correct
        FROM pred p JOIN q ON q.query_id = p.query_id
        ORDER BY p.query_id
    """,
)
def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction (k=5, cosine, majority vote) for a ~1%
    deterministic query sample (vec_id % 97 == 0), self-matches
    excluded — the classification use of the similarity stack
    (operators.similarity.knn_classify). Vote ties break on the
    smaller label; `correct` compares against the held-out true label,
    so the query doubles as a labeled-recall probe of the embedding
    space. Same broadcast + salted-top-k scale shape as
    cosine_topk_embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 97 == 0)
    return similarity.knn_classify(
        emb, q, "vec_id", "embedding", "label", k=5
    ).orderBy("query_id")


def _mmr_cos_sql(a: str, b: str) -> str:
    """Guarded rounded-cosine SQL between two DOUBLE[] expressions —
    the oracle twin of vectors.cosine + round_half_up."""
    return sql_round_half_up(
        f"list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b})))",
        6,
    )


@query(
    "mmr_diversified_topk",
    category="llm-similarity",
    oracle=f"""
        WITH RECURSIVE
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 3),
        c0 AS (SELECT q.query_id, e.vec_id, e.embedding::DOUBLE[] AS v,
                      {_mmr_cos_sql('e.embedding::DOUBLE[]', 'q.qv')} AS rel
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.query_id),
        cand AS (SELECT query_id, vec_id, v, rel FROM (
                     SELECT *, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY rel DESC, vec_id) AS rn
                     FROM c0)
                 WHERE rn <= 20),
        pair AS (SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
                        {_mmr_cos_sql('a.v', 'b.v')} AS s
                 FROM cand a JOIN cand b
                   ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
        sel AS (
            SELECT query_id, 1 AS step, vec_id AS picked, rel AS raw_score,
                   [vec_id] AS selected
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY rel DESC, vec_id) AS rn
                  FROM cand)
            WHERE rn = 1
          UNION ALL
            SELECT s.query_id, s.step + 1, nxt.vec_id, nxt.score,
                   list_append(s.selected, nxt.vec_id)
            FROM sel s, LATERAL (
                SELECT c.vec_id,
                       CAST(0.7 AS DOUBLE) * c.rel
                       - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (
                           SELECT MAX(p.s) FROM pair p
                           WHERE p.query_id = c.query_id
                             AND p.i = c.vec_id
                             AND list_contains(s.selected, p.j)) AS score
                FROM cand c
                WHERE c.query_id = s.query_id
                  AND NOT list_contains(s.selected, c.vec_id)
                ORDER BY score DESC, c.vec_id LIMIT 1
            ) nxt
            WHERE s.step < 5
        )
        SELECT query_id, CAST(step AS BIGINT) AS mmr_rank,
               picked AS vec_id,
               {sql_round_half_up('raw_score', 6)} AS mmr_score
        FROM sel ORDER BY query_id, mmr_rank
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 over a 20-candidate ANN pool per query
    (operators.similarity.mmr_rerank, lambda = 0.7): the greedy
    relevance-vs-redundancy re-rank every retrieval stack runs between
    ANN and the consumer. The greedy loop is sequential per query, so
    it executes in applyInPandas over the BOUNDED candidate pool;
    relevance and pairwise sims are pre-rounded Spark-side, the loop
    does only comparisons plus one lam-blend, and the DuckDB oracle
    replays the identical greedy as a recursive CTE (LATERAL argmax
    per step) — bit-for-bit parity on an iterative algorithm.

    Note the SQL writes CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE), not
    0.3: the Python operator computes 1.0 - lam in IEEE doubles
    (0.30000000000000004), while DuckDB folds bare 1.0 - 0.7 in exact
    DECIMAL to 0.3 — a one-ulp penalty-weight divergence that this
    cast forces back to the Python bits."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    return similarity.mmr_rerank(
        emb, q, "vec_id", "embedding", n_candidates=20, k=5, lam=0.7
    ).orderBy("query_id", "mmr_rank")


@query(
    "ann_ndcg_at_k",
    category="llm-similarity",
    oracle=f"""
        WITH gt AS ({_REG["cosine_topk_embeddings"].oracle}),
             ann AS ({_REG["ann_lsh_topk_embeddings"].oracle}),
        g AS (
            SELECT ann.query_id, ann.rank,
                   COALESCE({_NDCG_K + 1} - gt.rank, 0) AS gain
            FROM ann LEFT JOIN gt
              ON gt.query_id = ann.query_id AND gt.vec_id = ann.vec_id
        ),
        p AS (
            SELECT query_id,
                   {", ".join(
                       f"MAX(CASE WHEN rank = {i} THEN gain END) AS g{i}"
                       for i in range(1, _NDCG_K + 1))}
            FROM g GROUP BY query_id
        ),
        d AS (
            SELECT query_id,
                   ({" + ".join(
                       f"COALESCE(g{i}, 0) * CAST({d!r} AS DOUBLE)"
                       for i, d in enumerate(_NDCG_DISCOUNTS, start=1))})
                       AS dcg
            FROM p
        )
        SELECT query_id,
               {sql_round_half_up('dcg', 6)} AS dcg_at_k,
               {sql_round_half_up(f'dcg / CAST({_NDCG_IDCG!r} AS DOUBLE)', 6)}
                   AS ndcg_at_k
        FROM d ORDER BY query_id
    """,
)
def ann_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the sign-LSH ANN index against brute-force cosine
    ground truth — the rank-sensitive companion to ann_recall_at_k
    (recall treats all top-10 slots equally; nDCG pays more for
    getting the top of the list right). Gains are integer (11 - true
    rank, 0 for misses), positional discounts 1/log2(rank+1) are
    PRE-FOLDED Python literals embedded in both engines, and the DCG
    sums its 10 per-rank terms in one fixed coalesce chain — no
    runtime transcendentals, no float summation-order hazard. IDCG for
    fixed k is a constant, so nDCG is one more literal division.

    Scale shape: composes two verified top-k pipelines; everything
    after them is top-k-sized per query."""
    gt = cosine_topk_embeddings(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rank").alias("gt_rank")
    )
    ann = ann_lsh_topk_embeddings(spark, sf_dir).select(
        "query_id", "vec_id", "rank"
    )
    g = ann.join(gt, ["query_id", "vec_id"], "left").select(
        "query_id",
        "rank",
        F.coalesce(F.lit(_NDCG_K + 1) - F.col("gt_rank"), F.lit(0)).alias("gain"),
    )
    p = g.groupBy("query_id").agg(
        *[
            F.max(F.when(F.col("rank") == i, F.col("gain"))).alias(f"g{i}")
            for i in range(1, _NDCG_K + 1)
        ]
    )
    dcg = None
    for i, disc in enumerate(_NDCG_DISCOUNTS, start=1):
        term = F.coalesce(F.col(f"g{i}"), F.lit(0)) * F.lit(disc)
        dcg = term if dcg is None else dcg + term
    d = p.select("query_id", dcg.alias("dcg"))
    return d.select(
        "query_id",
        round_half_up(F.col("dcg"), 6).alias("dcg_at_k"),
        round_half_up(F.col("dcg") / F.lit(_NDCG_IDCG), 6).alias("ndcg_at_k"),
    ).orderBy("query_id")


def _ivf_oracle_sql(nprobe: int) -> str:
    """The ivf_topk_embeddings oracle parameterized by nprobe (same
    one-hot-centroid coordinate reduction, same tie-breaks)."""
    return f"""
        WITH c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
                             AND embedding[1] >= embedding[4] THEN 0
                        WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
                        WHEN embedding[3] >= embedding[4] THEN 2
                        ELSE 3 END AS cell
            FROM embeddings
        ),
        qs AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                   unnest([
                       struct_pack(cell := 0, s := embedding[1]::DOUBLE),
                       struct_pack(cell := 1, s := embedding[2]::DOUBLE),
                       struct_pack(cell := 2, s := embedding[3]::DOUBLE),
                       struct_pack(cell := 3, s := embedding[4]::DOUBLE)
                   ]) AS t
            FROM embeddings WHERE vec_id < 5
        ),
        qcells AS (
            SELECT query_id, qv, t.cell AS cell
            FROM qs
            QUALIFY row_number() OVER (PARTITION BY query_id
                                       ORDER BY t.s DESC, t.cell) <= {nprobe}
        ),
        scored AS (
            SELECT q.query_id, c.vec_id,
                   {_COSINE_SQL} AS cosine_sim
            FROM c JOIN qcells q ON c.cell = q.cell
        ),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10
    """


@query(
    "ivf_recall_vs_probes",
    category="llm-similarity",
    oracle=f"""
        WITH gt AS ({_REG["cosine_topk_embeddings"].oracle}),
        a1 AS ({_ivf_oracle_sql(1)}),
        a2 AS ({_ivf_oracle_sql(2)}),
        a4 AS ({_ivf_oracle_sql(4)}),
        ann AS (
            SELECT CAST(1 AS INTEGER) AS nprobe, query_id, vec_id FROM a1
            UNION ALL
            SELECT CAST(2 AS INTEGER), query_id, vec_id FROM a2
            UNION ALL
            SELECT CAST(4 AS INTEGER), query_id, vec_id FROM a4
        ),
        probes AS (SELECT CAST(unnest([1, 2, 4]) AS INTEGER) AS nprobe),
        g AS (
            SELECT p.nprobe, gt.query_id, gt.vec_id
            FROM gt CROSS JOIN probes p
        ),
        j AS (
            SELECT g.nprobe, g.query_id,
                   CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM g LEFT JOIN ann a
              ON a.nprobe = g.nprobe AND a.query_id = g.query_id
                 AND a.vec_id = g.vec_id
        )
        SELECT nprobe, query_id,
               CAST(SUM(hit) AS BIGINT) AS hits,
               CAST(COUNT(*) AS BIGINT) AS k,
               {sql_round_half_up(
                   'CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)', 6)}
                   AS recall_at_k
        FROM j GROUP BY nprobe, query_id
        ORDER BY nprobe, query_id
    """,
)
def ivf_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost curve: recall@10 against brute-force ground
    truth at nprobe ∈ {1, 2, 4} — the measurement that picks the
    operating point of every IVF deployment (nprobe=4 probes all 4
    cells, so its recall is exactly 1.0 and anchors the curve). Each
    arm composes the already-verified IVF pipeline at a different
    probe count; arms run as one unioned plan.

    Scale shape: ground truth over a sampled query set (5 probes); the
    per-arm overlap joins are top-k-sized."""
    gt = cosine_topk_embeddings(spark, sf_dir).select("query_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    arms = None
    for p in (1, 2, 4):
        arm = similarity.ivf_topk(
            emb, q, "vec_id", "embedding", IVF_CENTROIDS, k=10, nprobe=p
        ).select(
            F.lit(p).cast("int").alias("nprobe"),
            "query_id",
            "vec_id",
            F.lit(1).alias("hit"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    probes = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    g = gt.crossJoin(F.broadcast(probes))
    j = g.join(arms, ["nprobe", "query_id", "vec_id"], "left")
    return (
        j.groupBy("nprobe", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
            round_half_up(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe", "query_id")
    )


@query(
    "rrf_hybrid_retrieval",
    category="llm-text",
    oracle=f"""
        WITH bm AS ({_REG["bm25_topk_docs"].oracle}),
        bmr AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY bm25_score DESC, doc_id) AS rank_bm25
            FROM bm
        ),
        toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
        nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks
               GROUP BY doc_id),
        inter AS (
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS i
            FROM toks t WHERE t.tok IN {_BM25_TERMS!r}
            GROUP BY t.doc_id
        ),
        jac AS (
            SELECT nt.doc_id,
                   CAST(COALESCE(i.i, 0) AS DOUBLE)
                   / CAST(nt.n + {len(_BM25_TERMS)} - COALESCE(i.i, 0)
                          AS DOUBLE) AS jscore
            FROM nt LEFT JOIN inter i ON i.doc_id = nt.doc_id
        ),
        jr AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY jscore DESC, doc_id) AS rank_jacc
            FROM jac ORDER BY jscore DESC, doc_id LIMIT 15
        ),
        fused AS (
            SELECT COALESCE(b.doc_id, j.doc_id) AS doc_id,
                   b.rank_bm25, j.rank_jacc,
                   COALESCE(1.0 / ({_RRF_K}.0 + CAST(b.rank_bm25 AS DOUBLE)), 0.0)
                   + COALESCE(1.0 / ({_RRF_K}.0 + CAST(j.rank_jacc AS DOUBLE)), 0.0)
                       AS raw
            FROM bmr b FULL OUTER JOIN jr j ON j.doc_id = b.doc_id
        )
        SELECT doc_id, rank_bm25, rank_jacc,
               {sql_round_half_up('raw', 9)} AS rrf_score
        FROM fused ORDER BY raw DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009,
    the standard fusion in today's BM25-plus-dense stacks): two
    retrievers rank the same corpus for the same query — the BM25
    top-15 (bm25_topk_docs, composed verbatim) and a Jaccard retriever
    (query-term set vs distinct-token set, the set-overlap proxy for a
    second scoring model with DIFFERENT length normalization, so the
    two rankings genuinely disagree) — and fuse as
    Σ 1/(k + rank) with k={_RRF_K}, absent-from-a-list contributing 0.
    Top-10 fused docs with both source ranks exposed (NULL when a doc
    appeared in only one list).

    RRF is the scale-correct fusion: it consumes only RANKS, so the
    two retrievers never need score calibration, and each list is
    already top-k-bounded before the full-outer fusion join — at
    100 TB the fusion stage touches 2k rows per query regardless of
    corpus size.

    Determinism: ranks are integers with doc_id tiebreaks; the fused
    score is a fixed-order two-term sum of exact-input divisions —
    identical IEEE on both engines, hash-compared raw."""
    from pyspark.sql import Window

    bm = bm25_topk_docs(spark, sf_dir)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25_score").desc(), "doc_id"))
        .alias("rank_bm25"),
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    nt = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    inter = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    jscore = F.coalesce(F.col("i"), F.lit(0)).cast("double") / (
        F.col("n") + F.lit(len(_BM25_TERMS)) - F.coalesce(F.col("i"), F.lit(0))
    ).cast("double")
    jac = nt.join(inter, "doc_id", "left").select("doc_id", jscore.alias("jscore"))
    jr = (
        jac.orderBy(F.col("jscore").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("jscore").desc(), "doc_id"))
            .alias("rank_jacc"),
        )
    )
    raw = F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_bm25").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_jacc").cast("double")),
        F.lit(0.0),
    )
    return (
        bmr.join(jr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_bm25",
            "rank_jacc",
            raw.alias("_raw"),
        )
        .orderBy(F.col("_raw").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "rank_bm25",
            "rank_jacc",
            round_half_up(F.col("_raw"), 9).alias("rrf_score"),
        )
    )


@query(
    "ann_multiprobe_topk_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH qh AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                           {_BUCKET_SQL} AS home
                    FROM embeddings WHERE vec_id < 5),
        q AS (SELECT query_id, qv, xor(home, m.mask) AS bucket
              FROM qh, LATERAL (SELECT unnest([0, 1, 2, 4, 8]) AS mask) m),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_BUCKET_SQL} AS bucket
              FROM embeddings),
        scored AS (SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
                   FROM c JOIN q ON c.bucket = q.bucket),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
)
def ann_multiprobe_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-10 (Lv et al., VLDB'07 — see
    operators.similarity.ann_topk_multiprobe): each query scores its
    home bucket plus the 4 Hamming-distance-1 buckets, raising recall
    toward brute force (asserted >= the single-probe recall in tests)
    while the scanned fraction grows only 1/16 -> 5/16 — the recall
    dial that does NOT rebuild the index. Probe buckets are pairwise
    distinct and corpus rows live in one bucket, so no candidate is
    scored twice; the fan-out multiplies only the broadcast query
    side."""
    emb = _emb_fanned(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return similarity.ann_topk_multiprobe(
        emb, q, "vec_id", "embedding", k=10, dims=(0, 7, 21, 42)
    ).orderBy("query_id", "rank")


@query(
    "gram_matrix_embeddings",
    category="llm-similarity",
    oracle=f"""
        WITH cells AS (
            SELECT i.i AS i, j.j AS j,
                   CAST({sql_round_half_up(
                       "CAST(embedding[CAST(i.i + 1 AS INTEGER)] AS DOUBLE)"
                       " * CAST(embedding[CAST(j.j + 1 AS INTEGER)]"
                       " AS DOUBLE)", 9)} AS DECIMAL(28,12)) AS p
            FROM embeddings,
                 LATERAL (SELECT CAST(unnest(range(64)) AS BIGINT) AS i) i,
                 LATERAL (SELECT CAST(unnest(range(i.i, 64)) AS BIGINT)
                          AS j) j)
        SELECT i, j,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_round_half_up("CAST(SUM(p) AS DOUBLE)", 6)} AS gram
        FROM cells GROUP BY 1, 2 ORDER BY i, j
    """,
)
def gram_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d x d Gram matrix X^T X of the embedding corpus (upper
    triangle, d=64): THE one-pass moment sketch behind full
    d-dimensional PCA / whitening / ridge regression — each executor
    accumulates per-partition outer-product sums and the merge is
    addition, so a 100 TB corpus reduces to d(d+1)/2 numbers in one
    combinable aggregation (the same shape pca_2d_parts_by_brand uses
    closed-form for d=2; here the full matrix ships to any eigen
    solver).

    Determinism: every product casts the float32 elements to double
    first (matching both engines' promotion), is 9-dp-rounded into
    DECIMAL(28,12), and summed exactly — order-independent across
    partitions.

    Scale: the explode emits d(d+1)/2 = 2080 cells per vector inside
    the scan stage (no shuffle carries vectors); the aggregate shuffles
    2080 running sums per partition. For d where d^2 explode dominates,
    the same plan swaps to a mapInPandas numpy syrk per partition —
    documented alternative, not needed at d=64."""
    emb = _emb_fanned(spark, sf_dir)
    cells = emb.select(
        F.explode(
            F.expr(
                """
                flatten(transform(sequence(0, 63), i ->
                  transform(sequence(i, 63), j ->
                    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
                           CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[j] AS DOUBLE) AS p))))
                """
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    return (
        cells.select(
            "i", "j", round_half_up(F.col("p"), 9).cast("decimal(28,12)").alias("p")
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            round_half_up(F.sum("p").cast("double"), 6).alias("gram"),
        )
        .orderBy("i", "j")
    )
