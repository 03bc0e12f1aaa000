"""Similarity search over embedding columns (``array<float>``).

Three tiers, matching how ANN actually gets deployed over a 100 TB
corpus:

1. **Brute-force cosine top-k** (:func:`cosine_topk`,
   :func:`knn_join`) — exact; the query side is broadcast, the corpus
   side streams through a map-side cosine + per-partition top-k heap
   (TakeOrderedAndProject / window). The baseline every ANN variant is
   measured against.
2. **Sign-LSH bucketing** (:func:`lsh_bucket`, :func:`ann_topk_lsh`) —
   random-hyperplane LSH degenerates to coordinate-sign buckets for a
   deterministic, oracle-checkable variant: bucket = sign bits of fixed
   dimensions. Probing only the query's bucket cuts the scanned corpus
   by ~2^bits at some recall cost. Production would use seeded random
   hyperplanes (same plumbing, one extra literal matrix).
3. **IVF-style coarse quantization** (:func:`ivf_assign`) — assign each
   vector to its nearest centroid (broadcast literal centroids), search
   only the query's cell. Centroid training is out of scope (needs
   k-means; pyspark.ml KMeans slots in here); assignment/probe plumbing
   is what the engine owns.

A vectorized numpy tier is provided for high dimensions
(:func:`pandas_cosine_topk` single-query, :func:`numpy_cosine_topk`
multi-query cogroup matmul, :func:`cosine_pandas_scorer` as a pluggable
scoring seat for :func:`ivf_topk`). Measured crossover (SCALE.md,
"Round 12: numpy production ANN tier — measured crossover"): the numpy
matmul is near-FLAT in dim (one C call per Arrow batch) while the
interpreted HOF fold grows linearly — numpy wins 1.7x at dim=64 and 17x
at dim=1024 over a 50 k corpus. The expression tier's counter-regime is
huge rows x small dim: it streams map-side with ZERO transfer, so at
5 M rows x dim=64 it beats the cogroup tier 2x (the corpus shuffle
dominates) — pick the tier by dim first, rows second. The expression
tier also remains the oracle-hash determinism contract (ordered IEEE
sums); the numpy tiers are gated by recall parity >= 0.99.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pipeline_query_engine_demo_spark.functions.rounding import round_half_up
from pipeline_query_engine_demo_spark.functions.text import let
from pipeline_query_engine_demo_spark.functions.vectors import (
    cosine,
    dot,
    lit_matrix,
    lit_vector,
    norm,
)
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint


def _centroid_scores(vec_col: str, cent: F.Column) -> F.Column:
    """Per-row array of cosine(row_vec, centroid) for every centroid.

    The row vector's norm is LET-BOUND outside the per-centroid lambda:
    HOF lambdas are interpreted, so ``cosine(row, c)`` captured directly
    would re-fold the row's norm once per centroid (n_cells × d extra
    work per row). The bound form computes the identical doubles — same
    dot, same ``norm(a) * norm(b)`` multiply order — so cell assignments
    (and every oracle) are bit-for-bit unchanged."""
    return let(
        norm(F.col(vec_col)),
        lambda na: F.transform(
            cent,
            lambda c: dot(F.col(vec_col), c) / F.nullif(na * norm(c), F.lit(0.0)),
        ),
    )


def cosine_scores(corpus: DataFrame, query: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Cross-score every corpus vector against every query vector.
    ``query`` (small) is broadcast: the big side never shuffles."""
    q = F.broadcast(
        query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    )
    return corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(q).select(
        "query_id",
        F.col(id_col),
        round_half_up(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )


#: Fan-out of the partial top-k phase below. 16 salts bounds the final
#: per-query reducer at 16k rows while keeping the pre-phase shuffle
#: spread; at 1000 executors raise toward the partition count.
_TOPK_SALTS = 16


def _topk_per_query(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Shared tail of every top-k variant, in TWO phases so no reducer
    ever receives a whole query's scored corpus.

    A single window over ``query_id`` funnels every scored row for a
    query into ONE reducer — with a handful of queries over a 100 TB
    corpus that is the job's straggler. Phase 1 therefore ranks within
    (query_id, salt) — a deterministic hash-salt of the corpus id
    spreads each query over ``_TOPK_SALTS`` reducers, each keeping its
    local top-k. Phase 2 re-ranks the surviving ``k * _TOPK_SALTS``
    rows per query — bounded input, skew-free. Both phases break ties
    (score desc, then id), so every row of the global top-k survives
    its salt bucket's cut and the result is identical to the one-phase
    window."""
    salt = F.pmod(F.hash(F.col(id_col)), F.lit(_TOPK_SALTS))
    pre = Window.partitionBy("query_id", "_salt").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    partial = (
        scored.withColumn("_salt", salt)
        .withColumn("_prank", F.row_number().over(pre))
        .filter(F.col("_prank") <= k)
        .drop("_salt", "_prank")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine_sim", "rank")
    )


def cosine_topk(
    corpus: DataFrame, query: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine."""
    return _topk_per_query(cosine_scores(corpus, query, id_col, vec_col), id_col, k)


def lsh_bucket(vec_col: str, dims: Iterable[int]) -> F.Column:
    """Sign-bit LSH bucket id: bit i = (vec[dims[i]] > 0). Deterministic
    coordinate-hyperplane LSH — same banding math as random hyperplanes.

    Precondition (shared by hyperplane_bucket): vectors are fixed-width
    with len > max(dims) and non-NULL elements — the fixture contract.
    A short/NULL-element vector yields a NULL bucket, and the null-unsafe
    bucket equi-join then silently excludes that row (corpus side) or
    returns an empty result (query side); validate widths upstream when
    ingesting foreign embeddings."""
    bit_cols = [
        (F.element_at(vec_col, d + 1) > 0).cast("int") * (2**i)
        for i, d in enumerate(dims)
    ]
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def _bucketed_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    bucket_col: F.Column,
) -> DataFrame:
    """Shared body of every bucketed-ANN variant: compute the bucket on
    both sides, equi-join on it (scanning ~corpus/n_buckets per query
    instead of the cross join), score, per-query top-k. The bucketing
    scheme is entirely in ``bucket_col``."""
    bucketed = corpus.withColumn("_bucket", bucket_col)
    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            bucket_col.alias("_bucket"),
        )
    )
    scored = bucketed.join(q, on="_bucket").select(
        "query_id",
        F.col(id_col),
        round_half_up(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    return _topk_per_query(scored, id_col, k)


def ann_topk_lsh(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dims: tuple[int, ...] = (0, 7, 21, 42),
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    coordinate-sign LSH bucket (see _bucketed_topk)."""
    return _bucketed_topk(corpus, query, id_col, vec_col, k, lsh_bucket(vec_col, dims))


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dims: tuple[int, ...] = (0, 7, 21, 42),
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), restricted to sign-LSH bucket collisions — the
    embedding-space analog of MinHash near-dup: the self-join is keyed
    on the bucket id, so only ~corpus/2^bits of the square is ever
    scored, never all pairs. True near-dups (cosine -> 1) agree on
    every coordinate sign, so bucket-collision recall approaches 1 as
    similarity does; raise ``bits`` (more dims) to cut candidate cost,
    at recall cost for borderline pairs. Scores are round(6) for
    cross-engine reproducibility."""
    # No checkpoint here (contrast lsh_candidate_pairs): the bucket is a
    # map-side expression over the scan, and materializing would pin the
    # full vector table in executor storage — recomputing one projection
    # is the cheaper side of that trade.
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(vec_col, dims).alias("_bucket")
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), "_bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), "_bucket"
    )
    return (
        a.join(b, on="_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round_half_up(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def random_hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-LSH, rounded to 6 decimals so
    the same literals can be embedded verbatim in a SQL oracle. Fixed
    seed → fully deterministic bucketing."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row] for row in rng.standard_normal((bits, dim))]


def hyperplane_bucket(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Random-hyperplane LSH bucket id: bit i = (v . p_i > 0). The
    production form of lsh_bucket — buckets follow the data's actual
    directional distribution instead of coordinate axes."""
    from pipeline_query_engine_demo_spark.functions.vectors import dot

    out = F.lit(0)
    for i, plane in enumerate(planes):
        # lit_vector, not F.lit-per-element: one parsed expression per
        # plane instead of dim py4j round-trips per plane.
        out = out + (dot(vec_col, lit_vector(plane)) > 0).cast("int") * (2**i)
    return out


def ann_topk_hyperplane(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    planes: list[list[float]],
) -> DataFrame:
    """Approximate top-k via seeded random-hyperplane buckets — same
    bucket-equi-join shape as ann_topk_lsh (scan ~corpus/2^bits per
    query), with data-independent yet direction-uniform hyperplanes."""
    return _bucketed_topk(
        corpus, query, id_col, vec_col, k, hyperplane_bucket(vec_col, planes)
    )


def _assign_cells(df: DataFrame, vec_col: str, cent: F.Column) -> DataFrame:
    """Nearest-centroid assignment as a ``_cell`` column. The per-row
    score array is materialized as a column first: Catalyst does not CSE
    repeated higher-order transforms, so referencing the column keeps
    assignment at one n_cells x dim pass per row instead of two."""
    return (
        df.withColumn("_scores", _centroid_scores(vec_col, cent))
        .withColumn(
            "_cell",
            F.array_position(F.col("_scores"), F.array_max(F.col("_scores"))).cast("int") - 1,
        )
        .drop("_scores")
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 1,
    scorer=None,
) -> DataFrame:
    """IVF search: corpus vectors pre-assigned to their nearest centroid
    cell; each query probes only its ``nprobe`` closest cells. The
    cell equi-join scans ~corpus * nprobe / n_cells per query — the
    recall/cost dial every IVF index exposes. Centroids are broadcast
    literals; cell assignment is map-side (shared with ivf_assign via
    _assign_cells).

    ``scorer`` swaps the candidate-scoring seat: default is the
    HOF-expression cosine (ordered IEEE sums — the oracle-hash
    determinism contract); pass :func:`cosine_pandas_scorer`() for the
    numpy/Arrow production tier when dim x candidates is large. Cell
    ASSIGNMENT always stays on the expression path so the probed cells
    — and therefore the candidate set — are bit-identical across
    tiers."""
    score = scorer or (lambda v, qv: round_half_up(cosine(v, qv), 6))
    cent = lit_matrix([[float(x) for x in c] for c in centroids])
    corpus_cells = _assign_cells(corpus, vec_col, cent)
    q_cells = F.broadcast(
        ivf_probe_cells(query, id_col, vec_col, centroids, nprobe)
    )
    scored = corpus_cells.join(q_cells, on="_cell").select(
        "query_id",
        F.col(id_col),
        score(F.col(vec_col), F.col("_qvec")).alias("cosine_sim"),
    )
    return _topk_per_query(scored, id_col, k)


def ivf_index_frame(
    corpus: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """The corpus with its IVF coarse cell attached (`_cell`) — the
    frame a PERSISTED IVF index stores, typically written
    ``partitionBy("_cell")`` so that probing nprobe cells reads only
    those partition directories (dynamic partition pruning when the
    probe set is runtime-derived — see plans.retrieval.
    ivf_index_dpp_topk). Cell assignment is the same expression path as
    :func:`ivf_topk`'s, so a persisted index and an on-the-fly probe
    agree bit-for-bit on candidate sets."""
    cent = lit_matrix([[float(x) for x in c] for c in centroids])
    return _assign_cells(corpus, vec_col, cent)


def ivf_probe_cells(
    query: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
) -> DataFrame:
    """The query side of an IVF probe: (query_id, _qvec, _cell) for each
    query's ``nprobe`` closest cells — shared by the inline ivf_topk and
    the persisted-index path so both probe identical cells."""
    cent = lit_matrix([[float(x) for x in c] for c in centroids])
    q_scored = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.posexplode(_centroid_scores(vec_col, cent)).alias("_cell", "_cell_score"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cell_score").desc(), F.col("_cell")
    )
    return (
        q_scored.withColumn("_cell_rank", F.row_number().over(wq))
        .filter(F.col("_cell_rank") <= nprobe)
        .select("query_id", "_qvec", "_cell")
    )


def ivf_assign(corpus: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """IVF coarse assignment: nearest centroid by cosine, centroids as a
    broadcast literal array. Output: (id, cell). Downstream ANN probes
    only matching cells (equi-join on cell), exactly like ann_topk_lsh."""
    cent = lit_matrix([[float(x) for x in c] for c in centroids])
    return _assign_cells(corpus, vec_col, cent).select(
        F.col(id_col), F.col("_cell").alias("cell")
    )


def pandas_cosine_topk(
    corpus: DataFrame, query_vec: list[float], id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Brute-force top-k against ONE query vector using a vectorized
    Pandas UDF (Arrow batches -> numpy matmul). The scale path for high
    dim: per-batch O(batch * dim) in C, one Python worker per core."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # A NULL embedding must score NaN (-> NULL downstream) like
            # the expression-based cosine path, not crash the worker:
            # np.asarray(None) is 0-d and np.vstack raises on it.
            mat = np.vstack(
                pdf[vec_col].map(
                    lambda v: np.full(len(qv), np.nan)
                    if v is None
                    else np.asarray(v, dtype=np.float64)
                )
            )
            norms = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ qv) / np.where(norms * qn == 0.0, np.nan, norms * qn)
            yield pd.DataFrame({id_col: pdf[id_col], "cosine_sim": np.floor(sims * 1e6 + 0.5) / 1e6})

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} {id_type}, cosine_sim double"
    )
    # Zero-norm vectors come back as NaN, and Spark sorts NaN ABOVE every
    # real double under desc — convert to NULL (sorts last, matching the
    # expression-based cosine() which yields NULL for zero vectors).
    sim = F.when(F.isnan("cosine_sim"), F.lit(None)).otherwise(F.col("cosine_sim"))
    return (
        scored.withColumn("cosine_sim", sim)
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_pandas_scorer():
    """Vectorized drop-in replacement for the HOF-expression cosine:
    a ``pandas_udf`` scoring (vec, qvec) row pairs through numpy in
    Arrow batches. Same arithmetic contract as the expression tier —
    round-half-up to 6 dp, NULL/zero-norm -> NULL — so it can slot into
    any tier's scoring seat (see :func:`ivf_topk`'s ``scorer`` param).

    When to use which: at dim=64 the JVM expression tier wins locally
    (no Python round-trip); once dim x candidate-rows grows (high-dim
    embeddings, fat IVF cells) the BLAS path wins — measured in
    bench.py (`numpy_cosine_topk_embeddings` vs `cosine_topk_embeddings`)
    and pinned by the recall-parity test instead of hash equality."""
    import numpy as np
    import pandas as pd

    def to_mat(s: pd.Series, dim: int) -> "np.ndarray":
        return np.vstack(
            s.map(
                lambda v: np.full(dim, np.nan)
                if v is None
                else np.asarray(v, dtype=np.float64)
            )
        )

    def _cos(v1, v2):
        first = next((v for v in v1 if v is not None), None)
        dim = len(first) if first is not None else 1
        a, b = to_mat(v1, dim), to_mat(v2, dim)
        na = np.sqrt((a * a).sum(axis=1))
        nb = np.sqrt((b * b).sum(axis=1))
        denom = na * nb
        sims = (a * b).sum(axis=1) / np.where(denom == 0.0, np.nan, denom)
        return pd.Series(np.floor(sims * 1e6 + 0.5) / 1e6)

    # This module has `from __future__ import annotations`, which turns
    # inline hints into strings pandas_udf cannot resolve — attach the
    # real class objects instead (Series-to-Series scalar eval type).
    _cos.__annotations__ = {"v1": pd.Series, "v2": pd.Series, "return": pd.Series}
    _cos = F.pandas_udf(_cos, "double")

    def score(v: F.Column, qv: F.Column) -> F.Column:
        c = _cos(v, qv)
        return F.when(F.isnan(c), F.lit(None)).otherwise(c)

    return score


def numpy_cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    buckets: int = 32,
    bucket_col: str | None = None,
) -> DataFrame:
    """Multi-query brute-force top-k, numpy-matmul tier: the production
    scoring path for query BATCHES where dim x rows is large.

    Distribution shape (no driver collect, no per-row query payload):
    the corpus is hash-salted into ``buckets`` groups and COGROUPED with
    the query set replicated once per bucket — so the query matrix
    crosses the wire ``buckets`` times total (KBs), not once per corpus
    row, and each Arrow batch scores via one C-side matmul
    (batch x dim @ dim x n_queries). Each cogroup emits only its local
    top-k per query; the final global window re-ranks the bounded
    ``buckets * k`` rows per query — the same two-phase skew-free shape
    as :func:`_topk_per_query`. The corpus pays one shuffle (the
    cogroup); at 100 TB that is the trade against the broadcast-join
    expression tier, which is why both tiers exist and bench.py
    measures the crossover.

    Arithmetic contract: round-half-up 6 dp, NULL/zero-norm -> NULL
    (sorts last), ties break on corpus id — identical rules to
    :func:`cosine_topk`; parity is asserted by recall >= 0.99 in tests
    (numpy pairwise summation can differ from the ordered IEEE fold at
    a rounding boundary, so hash equality is not the contract here)."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = query.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_type}, {id_col} {id_type}, cosine_sim double"

    if bucket_col is not None:
        # Pre-bucketed corpus (written bucketBy(buckets, bucket_col)):
        # the bucketed scan's output partitioning already satisfies the
        # cogroup's ClusteredDistribution, so the corpus side runs with
        # ZERO exchanges — the 100 TB posture where the salt bucketing
        # is paid once at ingest (asserted by
        # tests/test_plans.py::test_prebucketed_numpy_cogroup_is_corpus_shuffle_free).
        c = corpus.select(
            F.col(id_col), F.col(vec_col), F.col(bucket_col).alias("_b")
        )
    else:
        c = corpus.select(F.col(id_col), F.col(vec_col)).withColumn(
            "_b", F.pmod(F.hash(F.col(id_col)), F.lit(buckets))
        )
    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_b", F.explode(F.array(*[F.lit(i) for i in range(buckets)])))

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"query_id": [], id_col: [], "cosine_sim": []})
        first = next((v for v in left[vec_col] if v is not None), None)
        dim = len(first) if first is not None else 1
        mat = np.vstack(
            left[vec_col].map(
                lambda v: np.full(dim, np.nan)
                if v is None
                else np.asarray(v, dtype=np.float64)
            )
        )
        qmat = np.vstack([np.asarray(v, dtype=np.float64) for v in right["_qvec"]])
        cn = np.sqrt((mat * mat).sum(axis=1))[:, None]
        qn = np.sqrt((qmat * qmat).sum(axis=1))[None, :]
        denom = cn * qn
        sims = (mat @ qmat.T) / np.where(denom == 0.0, np.nan, denom)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6  # rows x n_queries
        ids = left[id_col].to_numpy()
        frames = []
        for j, qid in enumerate(right["query_id"]):
            col = sims[:, j]
            # NaN keys lexsort to the end (worst), matching NULLS LAST
            # under the engine's DESC ordering; ties break on id asc.
            order = np.lexsort((ids, -col))[:k]
            frames.append(
                pd.DataFrame(
                    {"query_id": qid, id_col: ids[order], "cosine_sim": col[order]}
                )
            )
        return pd.concat(frames, ignore_index=True)

    scored = c.groupBy("_b").cogroup(q.groupBy("_b")).applyInPandas(score, out_schema)
    sim = F.when(F.isnan("cosine_sim"), F.lit(None)).otherwise(F.col("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("cosine_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine_sim", "rank")
    )


def knn_classify(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """k-NN majority-vote classification: each query vector takes the
    modal label of its k cosine-nearest corpus neighbors (self-matches
    excluded by id). Vote ties break on the smaller label, so the
    prediction is deterministic. Returns (query_id, true_label,
    predicted_label, votes, correct).

    Scale shape: identical to :func:`cosine_topk` (broadcast query
    side, salted two-phase top-k), plus a neighbor-label equi-join in
    which the tiny top-k side broadcasts — the corpus never shuffles."""
    scored = cosine_scores(corpus, query, id_col, vec_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    top = _topk_per_query(scored, id_col, k)
    labels = corpus.select(F.col(id_col), F.col(label_col).alias("_nbr_label"))
    voted = (
        F.broadcast(top)
        .join(labels, id_col)
        .groupBy("query_id", "_nbr_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("_nbr_label")
    )
    pred = (
        voted.withColumn("_vr", F.row_number().over(w))
        .filter(F.col("_vr") == 1)
        .select(
            "query_id",
            F.col("_nbr_label").alias("predicted_label"),
            "votes",
        )
    )
    truth = query.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "votes",
        (F.col("predicted_label") == F.col("true_label")).alias("correct"),
    )


def mmr_rerank(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    n_candidates: int,
    k: int,
    lam: float,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: fetch ``n_candidates``
    cosine-nearest candidates per query, then greedily select ``k`` of
    them maximizing ``lam * relevance - (1 - lam) * max_sim_to_
    selected`` — the standard diversity-aware second stage over an ANN
    candidate pool.

    The greedy loop is inherently sequential per query, so it runs in
    ``applyInPandas`` over the per-query candidate pool — a BOUNDED
    group (n_candidates rows, n_candidates² edges), never the corpus.
    Everything numeric the loop consumes (relevance, pairwise sims) is
    pre-rounded Spark-side with the shared half-up form, and the loop
    itself does only comparisons plus the one lam-blend expression, so
    a SQL implementation of the same greedy (the DuckDB recursive-CTE
    oracle) reproduces it bit-for-bit. Ties break on the smaller id at
    every step.

    Returns (query_id, mmr_rank, id, mmr_score)."""
    import math

    import pandas as pd

    scored = cosine_scores(corpus, query, id_col, vec_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    cand = _topk_per_query(scored, id_col, n_candidates).select(
        "query_id", F.col(id_col), F.col("cosine_sim").alias("rel")
    )
    vecs = corpus.select(F.col(id_col), F.col(vec_col).alias("_v"))
    # The candidate pool feeds both sides of the pair join AND the edge
    # build; without a cut, its whole ANN lineage (score + salted
    # top-k) re-executes once per consumer. It is n_queries x
    # n_candidates rows — checkpoint it (lazy, same pattern as
    # dedup.banded buckets).
    cand_v = resilient_local_checkpoint(
        F.broadcast(cand).join(vecs, id_col), eager=False
    )
    a = cand_v.select(
        "query_id",
        F.col(id_col).alias("i"),
        F.col("rel").alias("rel_i"),
        F.col("_v").alias("_va"),
    )
    b = cand_v.select(
        "query_id", F.col(id_col).alias("j"), F.col("_v").alias("_vb")
    )
    edges = (
        a.join(b, "query_id")
        .filter(F.col("i") != F.col("j"))
        .select(
            "query_id",
            "i",
            "j",
            "rel_i",
            round_half_up(cosine(F.col("_va"), F.col("_vb")), 6).alias("s"),
        )
    )
    # Base rows (one per candidate, NULL pair columns) guarantee every
    # candidate reaches the greedy even when a query's pool degenerates
    # to a single candidate (zero pair edges) — the oracle's recursive
    # base case emits that query, so the Spark side must too.
    base = a.select(
        "query_id",
        "i",
        F.lit(None).cast("bigint").alias("j"),
        "rel_i",
        F.lit(None).cast("double").alias("s"),
    )
    edges = base.unionByName(edges)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL doubles surface as NaN in the pandas frame; a NaN rel or
        # sim would poison max()/comparisons nondeterministically
        # (ADVICE r4). Mirror SQL instead: NULL sims are SKIPPED (the
        # oracle's MAX(p.s) ignores NULLs), a NULL rel or an all-NULL
        # sim set makes the whole score NULL, and NULL scores sort LAST
        # with the vec_id tiebreak (DuckDB's default NULLS LAST under
        # ORDER BY score DESC, vec_id) — so degenerate zero-norm
        # embeddings rank identically on both engines.
        rels = {}
        sims = {}
        # row-loop-ok: MMR's greedy argmax is inherently sequential
        # (each pick changes the next scores) and the group is bounded
        # by the per-query candidate pool (k<=pool<=shortlist), so this
        # is O(k*pool) driver-free work per group by construction
        # (r5 verdict: "legitimately sequential and bounded").
        for r in pdf.itertuples(index=False):
            rels[r.i] = None if pd.isna(r.rel_i) else float(r.rel_i)
            if r.j is not None and not pd.isna(r.j) and not pd.isna(r.s):
                sims[(r.i, int(r.j))] = float(r.s)
        qid = pdf["query_id"].iloc[0]
        remaining = sorted(rels)
        out = []
        selected: list = []

        def null_last_key(score, x):
            return (
                score is not None,
                score if score is not None else 0.0,
                -x,
            )

        for step in range(1, k + 1):
            if not remaining:
                break
            if not selected:
                best = max(
                    remaining, key=lambda x: null_last_key(rels[x], x)
                )
                raw = rels[best]
            else:
                def mmr_score(x):
                    if rels[x] is None:
                        return None
                    vals = [
                        sims[(x, j)] for j in selected if (x, j) in sims
                    ]
                    if not vals:
                        return None
                    return lam * rels[x] - (1.0 - lam) * max(vals)
                best = max(
                    remaining, key=lambda x: null_last_key(mmr_score(x), x)
                )
                raw = mmr_score(best)
            rounded = (
                math.floor(raw * 1000000.0 + 0.5) / 1000000.0
                if raw is not None and math.isfinite(raw)
                else None
            )
            out.append((qid, step, best, rounded))
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            out, columns=["query_id", "mmr_rank", "id", "mmr_score"]
        )

    out_schema = "query_id long, mmr_rank long, id long, mmr_score double"
    return (
        edges.groupBy("query_id")
        .applyInPandas(greedy, schema=out_schema)
        .withColumnRenamed("id", id_col)
    )


def ann_topk_multiprobe(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dims: tuple[int, ...] = (0, 7, 21, 42),
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07): each query scores
    its home sign-LSH bucket PLUS every bucket at Hamming distance 1 —
    the buckets a borderline vector (a coordinate near 0) most likely
    fell into. Recall rises toward the brute-force answer while the
    scanned fraction grows only from 1/2^bits to (bits+1)/2^bits —
    the standard way to buy recall without rebuilding the index with
    fewer bits (which would double every bucket's size instead).

    Implementation: the query side explodes into bits+1 probe rows
    (home bucket XOR each single-bit mask) — probe buckets are
    pairwise distinct, and a corpus vector lives in exactly one
    bucket, so no candidate is scored twice and no post-join distinct
    is needed. The probe fan-out multiplies only the BROADCAST query
    side; the corpus-side scan/join shape is identical to the
    single-probe operator."""
    bits = len(dims)
    bucket = lsh_bucket(vec_col, dims)
    masks = F.array(F.lit(0), *[F.lit(1 << i) for i in range(bits)])
    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            bucket.alias("_home"),
        )
        .select("query_id", "_qvec", "_home", F.explode(masks).alias("_mask"))
        .select(
            "query_id",
            "_qvec",
            F.col("_home").bitwiseXOR(F.col("_mask")).alias("_bucket"),
        )
    )
    bucketed = corpus.withColumn("_bucket", bucket)
    scored = bucketed.join(q, on="_bucket").select(
        "query_id",
        F.col(id_col),
        round_half_up(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    return _topk_per_query(scored, id_col, k)
