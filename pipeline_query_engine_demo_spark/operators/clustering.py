"""Distributed Lloyd's k-means over embedding columns — the training
step that produces the IVF centroids ``operators.similarity.ivf_topk``
consumes (round-2 scope note said "KMeans training slots in"; this
module makes the engine own it end-to-end).

Everything is expressed on long-format (id, dim, val) rows so the two
per-iteration steps are plain relational ops:

- **assign**: cosine against each of the k centroids = a broadcast join
  on ``dim`` (the centroid table is k x dim rows — model-sized, never
  corpus-sized) + a sum per (id, cell), then an argmax window per id.
- **update**: new centroid = per-(cell, dim) mean of member values —
  one groupBy.

Scale shape: per iteration the corpus shuffles twice (dot-product agg,
mean agg) and the centroid table broadcasts; the per-id norm table is
iteration-invariant and computed once before the loop. Nothing
corpus-sized ever sits on the driver. The train runs under the one loop
policy of ``operators.rounds``; the whole train is one lazy DAG.

Cross-engine determinism (the DuckDB oracle mirrors every step): all
dot products and means accumulate ``round(x, 9)`` terms as
DECIMAL(28,12), so sums are exact and order-independent regardless of
partitioning; means round to 6 before feeding the next iteration, so
both engines iterate from bit-identical centroids.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pipeline_query_engine_demo_spark.functions.rounding import round_half_up
from pipeline_query_engine_demo_spark.operators.rounds import Rounds
from pyspark.sql import DataFrame

#: Exact accumulator type: scale 12 holds round(x, 9) terms exactly;
#: precision 28 leaves 16 integer digits of headroom for corpus sums.
_DEC = "decimal(28,12)"


def explode_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, val) long form of an array<float> column, 1-based dim
    (matches DuckDB array subscripts), values widened to double."""
    return df.select(id_col, F.posexplode(vec_col).alias("_d0", "_vf")).select(
        id_col,
        (F.col("_d0") + 1).alias("dim"),
        F.col("_vf").cast("double").alias("val"),
    )


def _sq_norms(df: DataFrame, key: str, val: str) -> DataFrame:
    return df.groupBy(key).agg(
        F.sum(round_half_up(F.col(val) * F.col(val), 9).cast(_DEC))
        .cast("double")
        .alias("_n2")
    )


def assign_cells(
    e: DataFrame, id_col: str, cent: DataFrame, nv: DataFrame | None = None
) -> DataFrame:
    """Nearest centroid by cosine for every id in the long-format corpus
    ``e`` against the long-format centroid table ``cent`` (cell, dim, c).
    Ties break lowest-cell-first, mirrored by the oracle.

    ``nv`` (per-id squared norms) is iteration-invariant — the training
    loop computes it ONCE and passes it in, saving a corpus-scale
    aggregation per round; standalone callers may omit it."""
    if nv is None:
        nv = _sq_norms(e, id_col, "val").withColumnRenamed("_n2", "nv")
    nc = _sq_norms(cent, "cell", "c").withColumnRenamed("_n2", "nc")
    dots = (
        e.join(F.broadcast(cent), "dim")
        .groupBy(id_col, "cell")
        .agg(
            F.sum(round_half_up(F.col("val") * F.col("c"), 9).cast(_DEC))
            .cast("double")
            .alias("dot")
        )
    )
    scored = (
        dots.join(nv, id_col)
        .join(F.broadcast(nc), "cell")
        .withColumn("cos", F.col("dot") / F.sqrt(F.col("nv") * F.col("nc")))
    )
    # argmax as max_by over struct(cos, -cell): highest cosine, ties to
    # the lowest cell — same result as a rank-1 window but partial-agg
    # combinable (no per-id sort, map-side combine at 100 TB).
    return scored.groupBy(id_col).agg(
        F.max_by(
            "cell", F.struct(F.col("cos"), (-F.col("cell")).alias("_nc"))
        ).alias("cell")
    )


def update_centroids(e: DataFrame, assign: DataFrame, id_col: str) -> DataFrame:
    """Per-(cell, dim) member mean, rounded to 6 so the next iteration's
    centroids are identical across engines. Empty cells drop out (inner
    join semantics on both sides)."""
    return (
        e.join(assign, id_col)
        .groupBy("cell", "dim")
        .agg(
            round_half_up(
                F.sum(round_half_up(F.col("val"), 9).cast(_DEC)).cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )


def kmeans_train_ml(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    seed: int = 7,
) -> tuple[DataFrame, DataFrame]:
    """PRODUCTION k-means: ``pyspark.ml.clustering.KMeans`` over JVM
    dense vectors — the scale path the r3 verdict asked for beside the
    long-format oracle path.

    Why two paths: :func:`kmeans_train` explodes to (id, dim, val) so
    every Lloyd's step is an oracle-checkable relational plan, but each
    iteration shuffles ``rows x dim`` cells (64x row amplification —
    the slowest query in the repo at sf0.1). This wrapper keeps the
    vector packed in a JVM ``DenseVector``: per iteration the corpus
    shuffles ONE row per vector carrying a k-length partial-sum state,
    and the k x dim centroid matrix lives in a broadcast — the same
    two-agg structure with none of the explode amplification. At 100 TB
    train here; serve/verify against the expression path (which remains
    the DuckDB-checkable reference).

    Differences owned and tested (tests/test_training_ops.py): ml uses
    Euclidean distance with k-means|| init (seeded) rather than cosine
    from caller-supplied centroids, so agreement is asserted on the
    recovered PARTITION of planted clusters (label-permutation
    invariant), not on raw label ids or centroid bit-patterns.

    Returns (centroids long-format (cell, dim, c), assignment
    (id, cell)) — the same shapes as :func:`kmeans_train`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        id_col,
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=k, maxIter=iterations, seed=seed, featuresCol="features").fit(feat)
    assign = model.transform(feat).select(
        id_col, F.col("prediction").cast("long").alias("cell")
    )
    # clusterCenters() is model-sized (k x dim) — the one driver-side
    # artifact, same as any broadcast model.
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [
            (cell, dim + 1, float(v))
            for cell, arr in enumerate(model.clusterCenters())
            for dim, v in enumerate(arr)
        ],
        "cell long, dim long, c double",
    )
    return cent, assign


def kmeans_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids: DataFrame,
    iterations: int,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iterations`` rounds of Lloyd's from the long-format
    ``init_centroids`` (cell, dim, c). Returns (final centroids long
    table, final assignment (id, cell)) — the assignment is the one the
    final centroids were computed from."""
    if iterations < 1:
        raise ValueError(
            f"iterations must be >= 1, got {iterations}: zero rounds would "
            "return no assignment table"
        )
    # Cut once: the exploded corpus (2 aggregations per round plus the
    # norm table) and the per-id squared norms, which never change
    # across rounds. The centroid table is replaced each round
    # (assign_cells reads it twice: the broadcast dot join and the norm
    # aggregate); of the assignments, which the round's update reads
    # once, only the final one is cut (the caller reads it too).
    loop = Rounds()
    e = loop.cut(explode_dims(corpus, id_col, vec_col))
    nv = loop.cut(_sq_norms(e, id_col, "val").withColumnRenamed("_n2", "nv"))
    cent = init_centroids
    assign = None
    for i in range(iterations):
        assign = assign_cells(e, id_col, cent, nv=nv)
        if i == iterations - 1:
            assign = loop.cut(assign)
        cent = loop.replace(update_centroids(e, assign, id_col))
    return cent, assign


def dbscan_grid(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    eps: float,
    min_pts: int,
    max_cell_points: int | None = None,
) -> DataFrame:
    """Density clustering — DBSCAN (Ester et al., KDD'96) composed
    entirely from operators this engine already owns: the grid-bucketed
    ``spatial.radius_join`` finds every eps-neighborhood, and
    ``dedup.connected_components_star`` collapses the core graph in
    O(log n) rounds. Returns one row per input point:
    (id, role 'core'|'border'|'noise', cluster_id) with cluster_id =
    the component's minimum CORE id (border points take the MINIMUM
    cluster over their core neighbors — textbook DBSCAN leaves border
    assignment order-dependent; the min rule makes it deterministic,
    which is what lets a DuckDB oracle replay it), NULL for noise.

    Definitions: |N_eps(p)| counts p itself, so p is core iff its
    radius-join degree >= min_pts. Clusters = connected components of
    the core-core eps-graph; border = non-core with >= 1 core
    neighbor; everything else is noise.

    Scale: one self radius_join (9x cell fan-out, hash shuffle on cell
    id; ``max_cell_points`` is the documented hot-cell valve), one
    count agg for degrees, star-contraction on the core graph (node-
    sized state, O(log n) rounds), one min-agg for borders. Nothing is
    corpus-quadratic unless the TRUE eps-graph is."""
    from pipeline_query_engine_demo_spark.operators import dedup, spatial

    pts = points.select(
        F.col(id_col).alias("pid"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    )
    pairs = spatial.radius_join(
        pts,
        pts,
        eps,
        left_cols=("pid", "lat", "lon"),
        right_cols=("pid", "lat", "lon"),
        max_cell_points=max_cell_points,
    ).select(F.col("_lid").alias("a"), F.col("_rid").alias("b"))
    deg = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.filter(F.col("deg") >= F.lit(int(min_pts))).select(
        F.col("a").alias("pid")
    )
    core_edges = (
        pairs.filter(F.col("a") < F.col("b"))
        .join(core.withColumnRenamed("pid", "a"), "a", "left_semi")
        .join(core.withColumnRenamed("pid", "b"), "b", "left_semi")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    comp = dedup.connected_components_star(
        core.select(F.col("pid").alias("id")), core_edges, "id"
    ).select(F.col("id").alias("pid"), "cluster_id")
    border = (
        pairs.join(core.withColumnRenamed("pid", "a"), "a", "left_anti")
        .join(
            comp.select(F.col("pid").alias("b"), "cluster_id"),
            "b",
        )
        .groupBy("a")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("a").alias("pid"), "cluster_id")
    )
    return (
        pts.select("pid")
        .join(comp.withColumnRenamed("cluster_id", "_core_c"), "pid", "left")
        .join(border.withColumnRenamed("cluster_id", "_bord_c"), "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            F.when(F.col("_core_c").isNotNull(), F.lit("core"))
            .when(F.col("_bord_c").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_core_c", "_bord_c").alias("cluster_id"),
        )
    )
