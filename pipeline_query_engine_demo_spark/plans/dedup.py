"""Deduplication-family queries over the documents corpus (split from plans/llm.py)."""

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
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import fanout_width, load_table


from pipeline_query_engine_demo_spark.plans.registry import REGISTRY as _REG  # noqa: E402


#: Positional discount literals for nDCG@10: 1/log2(rank+1), folded to
#: Python doubles once so BOTH engines consume the identical constants
#: (no runtime ln/log2 divergence possible). IDCG is the ideal DCG of
#: graded gains 10..1 — a pure constant for a fixed k.
import math as _math  # noqa: E402

from pipeline_query_engine_demo_spark.plans.llm import (  # shared helpers stay in the base module
    _BANDS,
    _BUCKETS_CTE,
    _CAND_CTE,
    _CLUSTERS_SQL,
    _ESTF_CTE,
    _EST_PREFILTER,
    _FP_PLANT_IDS,
    _NUM_HASHES,
    _ROWS_PER_BAND,
    _SIGS_CTE,
    _UNITS_CTE,
    _shingle_units_sql,
)

_TOKS_CTE = (
    "toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
    "FROM documents)"
)

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def _docs_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan, fanned out when the layout is unsplittable.

    r12 optimization (guide §2.5): the MinHash/shingle pipelines do their
    heavy per-row work (shingle explode + k×md5 partial mins) INSIDE the
    scan stage; the single-row-group fixture file pins that to one task
    (profiled: 1.45 s of a 3.7 s near_dup run in one 32-core-idle stage).
    ``fanout_width`` returns None on splittable (real, multi-file) layouts,
    so the extra exchange exists only where the scan cannot parallelize."""
    return load_table(spark, sf_dir, "documents", fan_out=True)


@query(
    "exact_dedup_docs",
    category="llm-dedup",
    oracle="""
        SELECT sha256(text) AS content_hash,
               MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY sha256(text) ORDER BY doc_id
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash (operators.dedup.exact_dedup): group
    on sha2-256 of the text so the shuffle key is 32 fixed bytes, never
    the document body. At 100 TB the exchange carries (hash, id) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dedup.exact_dedup(docs, "doc_id", "text")
        .select("content_hash", "doc_id", "n_copies")
        .orderBy("doc_id")
    )


@query(
    "doc_fingerprints",
    category="llm-dedup",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS set_fingerprint,
               md5(array_to_string(string_split(text, ' '), chr(31))) AS seq_fingerprint
        FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier document fingerprinting (functions.text): an
    order-insensitive token-set fingerprint (bag dedup) and a
    position-sensitive rolling content hash (permutation-distinguishing).
    Pure map-side expressions — zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.doc_fingerprint("text").alias("set_fingerprint"),
        text.rolling_content_hash("text").alias("seq_fingerprint"),
    ).orderBy("doc_id")


@query(
    "minhash_signatures_docs",
    category="llm-dedup",
    oracle=f"WITH {_UNITS_CTE}, {_SIGS_CTE} SELECT * FROM sigs ORDER BY doc_id",
)
def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hash functions over 3-word shingles): one
    explode + one groupBy with k map-side min() aggregates — the shuffle
    is one row per document regardless of document length."""
    docs = _docs_fanned(spark, sf_dir)
    return dedup.minhash_signatures(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "lsh_candidate_pairs_docs",
    category="llm-dedup",
    oracle=f"""
        WITH {_UNITS_CTE}, {_SIGS_CTE}, {_BUCKETS_CTE}, {_CAND_CTE}
        SELECT id_a, id_b FROM cand ORDER BY id_a, id_b
    """,
)
def lsh_candidate_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidates (4 bands x 2 rows): the self-join is keyed
    on (band_id, band_hash) so only intra-bucket pairs are generated —
    never the corpus square. The whole MinHash->banding->candidate
    pipeline is pure SQL-expressible (this oracle is that proof)."""
    docs = _docs_fanned(spark, sf_dir)
    return dedup.lsh_candidate_pairs(docs, "doc_id", "text").orderBy("id_a", "id_b")


@query(
    "near_dup_pairs_docs",
    category="llm-dedup",
    oracle=f"""
        WITH {_UNITS_CTE}, {_SIGS_CTE}, {_BUCKETS_CTE}, {_CAND_CTE}, {_ESTF_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM units GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            FROM estf c
            JOIN units ta ON ta.doc_id = c.id_a
            JOIN units tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b,
               i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.6
        ORDER BY id_a, id_b
    """,
)
def near_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH banding -> candidate-
    restricted exact Jaccard -> threshold. The verification join touches
    candidate pairs only (see operators.dedup.jaccard_pairs) — the
    oracle reproduces the same restriction in SQL."""
    docs = _docs_fanned(spark, sf_dir)
    return dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.6).orderBy("id_a", "id_b")


def _simhash_oracle(bits: int) -> str:
    odd = "('1','3','5','7','9','b','d','f')"
    votes = ", ".join(
        f"SUM(CASE WHEN substr(h, {j + 1}, 1) IN {odd} THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    sig = ", ".join(f"CASE WHEN b{j} > 0 THEN '1' ELSE '0' END" for j in range(bits))
    return f"""
        WITH {_TOKS_CTE},
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, concat({sig}) AS simhash FROM votes ORDER BY doc_id
    """


@query(
    "dedup_clusters_docs",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL + "SELECT doc_id, cluster_id FROM labels ORDER BY doc_id",
)
def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: the LSH+Jaccard pair graph collapsed into
    connected components by iterative min-label propagation
    (operators.dedup.connected_components). The oracle computes the same
    components with a recursive transitive-closure CTE — feasible for
    DuckDB at fixture scale, quadratic at corpus scale, which is exactly
    why the Spark side iterates joins instead."""
    docs = _docs_fanned(spark, sf_dir)
    return dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.6).select(
        F.col("id").alias("doc_id"), "cluster_id"
    ).orderBy("doc_id")


@query(
    "dedup_clusters_starcontract",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL + "SELECT doc_id, cluster_id FROM labels ORDER BY doc_id",
)
def dedup_clusters_starcontract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters_docs' exact twin, but the pair graph collapses via
    alternating large-star/small-star contraction
    (operators.dedup.connected_components_star) instead of min-label
    propagation: O(log n) rounds regardless of component DIAMETER,
    versus O(diameter) for propagation — the variant that survives an
    adversarial duplicate chain at 100 TB. Same recursive-CTE oracle as
    dedup_clusters_docs (the algorithms must agree on every label);
    tests/test_dedup.py additionally plants a 40-node chain where
    propagation at max_iter=15 provably cannot converge and
    star-contraction does."""
    docs = _docs_fanned(spark, sf_dir)
    pairs = dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.6)
    return (
        dedup.connected_components_star(docs.select("doc_id"), pairs, "doc_id")
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


@query("simhash_docs", category="llm-dedup", oracle=_simhash_oracle(16))
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: one explode + one groupBy, all bit
    votes folding into a single partial aggregate (operators.dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", bits=16).orderBy("doc_id")


@query(
    "ngram_jaccard_pairs_docs",
    category="llm-dedup",
    oracle=f"""
        WITH sh AS (
            {_shingle_units_sql(source="documents", alias="s")} WHERE doc_id < 100
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.id_a, i.id_b,
               i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.2
        ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram (word shingle) Jaccard over a bounded slice (doc_id < 100).
    The inverted-shingle self-join is quadratic in per-shingle document
    frequency, so at corpus scale this runs only post-LSH or on bounded
    inputs — which the slice makes explicit (operators.dedup docstring)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


@query(
    "setsim_prefix_join_docs",
    category="llm-dedup",
    oracle=f"""
        WITH sh AS (
            {_shingle_units_sql(source="documents", alias="s")} WHERE doc_id < 150
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.id_a, i.id_b,
               i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.3
        ORDER BY id_a, id_b
    """,
)
def setsim_prefix_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT tau=0.3 shingle-Jaccard self-join via AllPairs/PPJoin
    prefix filtering (operators.dedup.setsim_join_prefix) — the third
    near-dup route (LSH = probabilistic recall, inverted self-join =
    bounded slices only, prefix filtering = exact AND scalable). The
    brute-force all-pairs oracle proves the no-false-negative claim on
    every pair of the slice; candidate generation touched only each
    document's rarest shingles, so the df^2 stopword meltdown the
    inverted join suffers never happens. The doc_id < 150 slice exists
    for the ORACLE's O(n^2) cost, not the operator's."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return dedup.setsim_join_prefix(
        docs, "doc_id", "text", n=3, threshold=0.3
    ).orderBy("id_a", "id_b")


@query(
    "decontamination_overlap",
    category="llm-dedup",
    oracle=f"""
        WITH csh AS (
            SELECT doc_id AS corpus_id, sh FROM (
                {_shingle_units_sql(source="documents", alias="sh")}
                WHERE doc_id < 450)
        ),
        rsh AS (
            SELECT doc_id AS bench_id, sh FROM (
                {_shingle_units_sql(source="documents", alias="sh")}
                WHERE doc_id >= 450)
        ),
        sizes AS (SELECT corpus_id, COUNT(*) AS n FROM csh GROUP BY corpus_id),
        o AS (SELECT c.corpus_id, r.bench_id, COUNT(*) AS n_common
              FROM csh c JOIN rsh r ON c.sh = r.sh
              GROUP BY c.corpus_id, r.bench_id)
        SELECT o.corpus_id AS corpus_id, o.bench_id, o.n_common,
               o.n_common / s.n AS corpus_frac
        FROM o JOIN sizes s ON s.corpus_id = o.corpus_id
        WHERE o.n_common / s.n >= 0.1
        ORDER BY o.corpus_id, bench_id
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (operators.dedup.cross_corpus_overlap):
    docs >= 450 play the held-out benchmark; training docs sharing >=10%
    of their 3-gram shingles with any benchmark doc are flagged. The
    benchmark side broadcasts — the training corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 450).select(
        F.col("doc_id").alias("corpus_id"), "text"
    )
    bench = docs.filter(F.col("doc_id") >= 450).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return (
        dedup.cross_corpus_overlap(corpus, bench, "corpus_id", "bench_id", "text")
        .filter(F.col("corpus_frac") >= 0.1)
        .orderBy("corpus_id", "bench_id")
    )


# --------------------------------------------------------------------------
# Embedding-space near-dup + deterministic sampling
# --------------------------------------------------------------------------


@query(
    "embedding_near_dup_pairs",
    category="llm-dedup",
    oracle="""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          ((embedding[1] > 0)::INT * 1 + (embedding[8] > 0)::INT * 2 +
                           (embedding[22] > 0)::INT * 4 + (embedding[43] > 0)::INT * 8)
                              AS bucket
                   FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CASE WHEN isfinite(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) THEN floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0 + 0.5) / 1000000.0 END AS cosine_sim
        FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE CASE WHEN isfinite(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) THEN floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0 + 0.5) / 1000000.0 END >= 0.4
        ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection
    (operators.similarity.embedding_near_dup_pairs): sign-LSH bucket
    self-join — only intra-bucket pairs are scored, ~1/2^bits of the
    corpus square — then a cosine threshold. The fixture has no planted
    embedding clones (max intra-bucket cosine ~0.49), so the threshold
    is calibrated to 0.4 to exercise a non-empty result; production
    near-dup uses ~0.95+, where sign-bucket recall is near 1."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4
    ).orderBy("id_a", "id_b")


@query(
    "dedup_representatives_docs",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL
    + """ ,
        sized AS (
            SELECT l.cluster_id, l.doc_id,
                   len(string_split(d.text, ' ')) AS n_tokens
            FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
        SELECT cluster_id,
               doc_id AS rep_doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        FROM sized
        QUALIFY row_number() OVER (
            PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id) = 1
        ORDER BY cluster_id
    """,
)
def dedup_representatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection — the step after near-dup
    clustering that decides WHICH copy survives: keep each cluster's
    longest document (tie-break min doc_id), not the arbitrary min-id
    member, because near-dup clusters usually contain truncated/mangled
    variants of one canonical page. One window per cluster over rows
    carrying (cluster_id, doc_id, n_tokens) — the text itself never
    re-shuffles; at 100 TB the exchange is ~24 bytes/doc."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.6)
    sized = clusters.join(
        docs.select("doc_id", text.token_count("text").alias("n_tokens")),
        clusters["id"] == docs["doc_id"],
    ).select("cluster_id", "doc_id", "n_tokens")
    w = Window.partitionBy("cluster_id")
    ranked = sized.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.col("n_tokens").desc(), F.col("doc_id"))),
    ).withColumn("cluster_size", F.count("*").over(w))
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
        .orderBy("cluster_id")
    )


def _side_buckets_sql(p: str, where: str) -> str:
    """units→sigs→buckets CTE chain for one side of the incremental
    dedup (same constants as the corpus-wide _UNITS/_SIGS/_BUCKETS
    CTEs, parameterized on a documents filter)."""
    units = _shingle_units_sql(source=f"(SELECT * FROM documents WHERE {where})")
    sigs = ", ".join(
        f"min(md5(tok || '#{i}')) AS mh{i}" for i in range(_NUM_HASHES)
    )
    buckets = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws('|', {cols})) AS band_hash "
        "FROM {p}_sigs".format(
            b=b,
            p=p,
            cols=", ".join(
                f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(_BANDS)
    )
    return (
        f"{p}_units AS ({units}), "
        f"{p}_sigs AS (SELECT doc_id, {sigs} FROM {p}_units GROUP BY doc_id), "
        f"{p}_buckets AS ({buckets})"
    )


@query(
    "incremental_dedup_docs",
    category="llm-dedup",
    oracle=f"""
        WITH inc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        ex AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        exact AS (SELECT DISTINCT i.doc_id FROM inc i JOIN ex e ON e.text = i.text),
        {_side_buckets_sql("i", "doc_id % 5 = 0")},
        {_side_buckets_sql("e", "doc_id % 5 <> 0")},
        cand AS (
            SELECT DISTINCT ib.doc_id AS id_i, eb.doc_id AS id_e
            FROM i_buckets ib JOIN e_buckets eb
              ON ib.band_id = eb.band_id AND ib.band_hash = eb.band_hash),
        sz_i AS (SELECT doc_id, COUNT(*) AS n FROM i_units GROUP BY doc_id),
        sz_e AS (SELECT doc_id, COUNT(*) AS n FROM e_units GROUP BY doc_id),
        inter AS (
            SELECT c.id_i, c.id_e, COUNT(*) AS n_common
            FROM cand c
            JOIN i_units ui ON ui.doc_id = c.id_i
            JOIN e_units ue ON ue.doc_id = c.id_e AND ue.tok = ui.tok
            GROUP BY c.id_i, c.id_e),
        near AS (
            SELECT DISTINCT t.id_i AS doc_id
            FROM inter t
            JOIN sz_i si ON si.doc_id = t.id_i
            JOIN sz_e se ON se.doc_id = t.id_e
            WHERE t.n_common / (si.n + se.n - t.n_common) >= 0.6)
        SELECT i.doc_id,
               CASE WHEN x.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS status
        FROM inc i
        LEFT JOIN exact x ON x.doc_id = i.doc_id
        LEFT JOIN near nr ON nr.doc_id = i.doc_id
        ORDER BY i.doc_id
    """,
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the production dedup shape
    (operators.dedup.incremental_dedup): an ingest batch (doc_id % 5 ==
    0 plays the role) checks against the existing corpus's content-hash
    set and LSH band-bucket index without any corpus re-clustering.
    Every incoming doc gets exact_dup / near_dup / new. At 100 TB the
    existing side's two index tables are precomputed sinks; here they
    derive inline from the fixture."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return (
        dedup.incremental_dedup(existing, incoming, "doc_id", "text", threshold=0.6)
        .orderBy("doc_id")
    )


@query(
    "source_overlap_matrix",
    category="llm-dedup",
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT source, tok AS sh
            FROM ({_shingle_units_sql()})
                 u JOIN documents d USING (doc_id)),
        sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
            GROUP BY a.source, b.source)
        SELECT p.source_a, p.source_b,
               CAST(p.n_common AS BIGINT) AS n_common,
               CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
        FROM pairs p
        JOIN sizes sa ON sa.source = p.source_a
        JOIN sizes sb ON sb.source = p.source_b
        ORDER BY source_a, source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: shingle-set Jaccard between
    every pair of sources — the corpus-curation view that tells you two
    crawls are mirroring each other before you double-count them in the
    mixture. Scale shape: the join is keyed on the shingle, and each
    shingle contributes at most n_sources^2 pair rows (sources are
    enumerable, unlike documents), aggregated map-side — so the output
    is n_sources^2 rows no matter the corpus size; no per-document pair
    ever materializes."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source", F.explode(text.shingles("text", dedup.DEFAULT_SHINGLE_N)).alias("sh")
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.select(F.col("source").alias("source_a"), "sh")
        .join(sh.select(F.col("source").alias("source_b"), "sh"), "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_a", "n": "n_a"})),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnsRenamed({"source": "source_b", "n": "n_b"})),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


#: Media-fingerprint geometry: 16 positional stripes, 4 hex chars of
#: md5 per stripe (the 64-char fingerprint), banded 4 stripes x 4 bands
#: for the candidate join; near-dup = >= 14 of 16 stripes agree.
_FP_STRIPES = 16
_FP_SIG = 4
_FP_BANDS = 4
_FP_MIN_MATCH = 14


def _stripe_sql(i: int, dialect: str, txt: str = "text") -> str:
    """Stripe ``i``'s signature: md5 of the i-th of 16 equal positional
    byte ranges. Integer floor division spells ``//`` in DuckDB but
    ``DIV`` in Spark SQL — the only dialect split in the whole
    fingerprint expression."""
    div = "//" if dialect == "duckdb" else "DIV"
    lo = f"(({i} * length({txt})) {div} {_FP_STRIPES})"
    hi = f"((({i} + 1) * length({txt})) {div} {_FP_STRIPES})"
    return f"substr(md5(substr({txt}, {lo} + 1, {hi} - {lo})), 1, {_FP_SIG})"


_FP_CONCAT_DUCK = " || ".join(_stripe_sql(i, "duckdb") for i in range(_FP_STRIPES))
_FP_CONCAT_SPARK = " || ".join(_stripe_sql(i, "spark") for i in range(_FP_STRIPES))
_FP_MATCH_TERMS = " + ".join(
    f"(CASE WHEN substr(fa, {i * _FP_SIG} + 1, {_FP_SIG}) = "
    f"substr(fb, {i * _FP_SIG} + 1, {_FP_SIG}) THEN 1 ELSE 0 END)"
    for i in range(_FP_STRIPES)
)
#: Hot-bucket cap for the band self-join — same 100 TB safety valve as
#: operators.dedup.DEFAULT_MAX_BUCKET_SIZE: a constant payload (black
#: frames, logo stills) floods one bucket with B docs and B^2 pairs; a
#: band shared by >1000 payloads carries no discriminating signal.
_FP_MAX_BUCKET = 1000


@query(
    "media_fingerprint_near_dup",
    category="llm-multimodal",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   'X' || substr(text, 2, length(text) - 1)
            FROM documents WHERE doc_id IN {_FP_PLANT_IDS}
        ),
        fp AS (
            SELECT doc_id, ({_FP_CONCAT_DUCK}) AS f
            FROM corpus WHERE length(text) >= {_FP_STRIPES * 2}
        ),
        bands_all AS (
            SELECT doc_id, f, b.b AS band,
                   substr(f, b.b * {_FP_SIG * _FP_BANDS} + 1,
                          {_FP_SIG * _FP_BANDS}) AS band_key
            FROM fp, unnest(generate_series(0, {_FP_BANDS - 1})) AS b(b)
        ),
        bands AS (
            SELECT doc_id, f, band, band_key
            FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS _n
                FROM bands_all
            ) WHERE _n <= {_FP_MAX_BUCKET}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, a.f AS fa,
                            c.doc_id AS id_b, c.f AS fb
            FROM bands a JOIN bands c
              ON a.band = c.band AND a.band_key = c.band_key
             AND a.doc_id < c.doc_id
        )
        SELECT id_a, id_b,
               CAST(({_FP_MATCH_TERMS}) AS BIGINT) AS n_match
        FROM cand
        WHERE ({_FP_MATCH_TERMS}) >= {_FP_MIN_MATCH}
        ORDER BY id_a, id_b
    """,
)
def media_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash-style near-duplicate detection over opaque media
    payloads — the image/video analog of MinHash dedup: a positional
    stripe fingerprint (16 stripes x 4 hex chars; a real pipeline swaps
    the byte-stripe hash for a DCT perceptual hash — same shape),
    banded into 4 bucket keys so candidates come from a bucket
    equi-self-join (NEVER all pairs), then verified by stripe
    agreement >= 14/16. Planted single-byte mutations of 3 fixture
    payloads (length-preserving, so only stripe 0 changes) are found at
    15/16; exact dups at 16/16.

    Scale shape: fingerprints are 64 bytes/doc — the only thing
    shuffled; the band join scans ~corpus/16^16ths of the square per
    band; verification is a 16-term expression on the carried
    fingerprints, no payload re-read. The hot-bucket cap is ON by
    default (same valve as operators.dedup.DEFAULT_MAX_BUCKET_SIZE,
    same one-shuffle window-count form): a constant payload — black
    frames, logo stills — would otherwise put B^2 pairs from one
    bucket on one reducer."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.filter(F.col("doc_id").isin(*_FP_PLANT_IDS))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.lit("X"), F.expr("substr(text, 2, length(text) - 1)")
            ).alias("text"),
        )
    )
    corpus = docs.unionAll(planted)
    fp = corpus.filter(F.length("text") >= _FP_STRIPES * 2).select(
        "doc_id", F.expr(_FP_CONCAT_SPARK).alias("f")
    )
    bands = fp.select(
        "doc_id",
        "f",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"substr(f, {b * _FP_SIG * _FP_BANDS} + 1,"
                        f" {_FP_SIG * _FP_BANDS})"
                    )
                    for b in range(_FP_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    from pyspark.sql import Window as _W

    bucket_n = F.count(F.lit(1)).over(_W.partitionBy("band", "band_key"))
    bands = (
        bands.withColumn("_n", bucket_n)
        .filter(F.col("_n") <= _FP_MAX_BUCKET)
        .drop("_n")
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("f").alias("fa"), "band", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("f").alias("fb"), "band", "band_key"
    )
    cand = (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "fa", "id_b", "fb")
        .distinct()
    )
    n_match = F.expr(_FP_MATCH_TERMS)
    return (
        cand.withColumn("n_match", n_match.cast("bigint"))
        .filter(F.col("n_match") >= _FP_MIN_MATCH)
        .select("id_a", "id_b", "n_match")
        .orderBy("id_a", "id_b")
    )


@query(
    "shingle_novelty_docs",
    category="llm-text",
    oracle=f"""
        WITH sh AS ({_shingle_units_sql(alias="sh")}),
        df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
        per AS (
            SELECT s.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(COUNT(*) FILTER (WHERE d.df = 1) AS BIGINT) AS n_unique
            FROM sh s JOIN df d ON s.sh = d.sh
            GROUP BY s.doc_id
        )
        SELECT doc_id, n_shingles, n_unique,
               n_unique / n_shingles AS novelty_frac
        FROM per ORDER BY doc_id
    """,
)
def shingle_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-word shingles that occur in NO other document. Low novelty marks
    boilerplate/template text worth down-weighting in a training mix —
    the inverse signal of near-dup detection (a doc can be globally
    unique yet assembled from corpus-common phrases).

    Plan: explode distinct shingles per doc, one groupBy for corpus
    document frequency (each doc contributes a shingle once, so
    COUNT(*) is the document frequency), join back on the shingle, and
    re-aggregate per doc. Two map-side-combinable shuffles on the
    shingle key plus one on doc_id; the df table is the corpus inverted
    index and both joins carry (hash, count) pairs only — the 100 TB
    shape. Uniqueness ratio is BIGINT/BIGINT, one exact double division
    per row."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(text.shingles("text", dedup.DEFAULT_SHINGLE_N))).alias(
            "sh"
        ),
    )
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    per = (
        sh.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count(F.when(F.col("df") == 1, 1)).cast("bigint").alias("n_unique"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        (F.col("n_unique") / F.col("n_shingles")).alias("novelty_frac"),
    ).orderBy("doc_id")


def _hamming16_sql(a: str, b: str) -> str:
    """Fixed-order 16-term character-Hamming chain between two 16-char
    '0'/'1' signatures — pure integer adds, identical on both engines."""
    terms = " + ".join(
        f"(CASE WHEN substr({a}, {j + 1}, 1) <> substr({b}, {j + 1}, 1)"
        f" THEN 1 ELSE 0 END)"
        for j in range(16)
    )
    return f"({terms})"


@query(
    "simhash_hamming_pairs",
    category="llm-dedup",
    oracle=f"""
        WITH sig0 AS ({_REG["simhash_docs"].oracle}),
        sig AS (SELECT * FROM sig0 WHERE doc_id < 1000)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST({_hamming16_sql('a.simhash', 'b.simhash')} AS BIGINT)
                   AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE {_hamming16_sql('a.simhash', 'b.simhash')} <= 3
        ORDER BY id_a, id_b
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance <= 3 over the
    16-bit signatures, found the scale way: the signature splits into
    4 bands of 4 bits and candidates come from a band equi-self-join —
    by pigeonhole, any pair within distance 3 agrees exactly on at
    least one band, so banding is RECALL-LOSSLESS for this radius.
    The oracle is the opposite construction (brute-force all-pairs
    theta join with the same fixed-order character-Hamming chain), so
    the gate independently proves the banded plan drops nothing. The
    query runs on a bounded slice (doc_id < 1000) purely to keep the
    QUADRATIC ORACLE affordable — the banded Spark plan itself needs no
    slice (tests/test_retrieval_ext verifies banding-vs-brute-force
    equality on the full small-SF corpus).

    Scale: candidates are bucketed (4 × 2^4 band values here; 64-bit
    production signatures band into 2^16 buckets), the pair set is
    DISTINCT-ed because near-identical pairs match in several bands,
    and the verify filter touches only candidates — the standard
    in-production simhash dedup shape (Manku et al., WWW'07)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 1000
    )
    sig = dedup.simhash(docs, "doc_id", "text", bits=16)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("simhash", i * 4 + 1, 4).alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", "bv.band", "bv.val")
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sig_a"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sig_b"),
        "band",
        "val",
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = None
    for j in range(16):
        term = (
            F.substring("sig_a", j + 1, 1) != F.substring("sig_b", j + 1, 1)
        ).cast("int")
        hamming = term if hamming is None else hamming + term
    return (
        cand.select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_funnel_report",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL
    + f""" ,
        ex AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM documents)
            WHERE rn = 1
        ),
        reps AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id),
        flags AS (
            SELECT d.source,
                   CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ex_ok,
                   CASE WHEN e.doc_id IS NOT NULL AND r.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END AS nd_ok,
                   CASE WHEN e.doc_id IS NOT NULL AND r.doc_id IS NOT NULL
                             AND len(string_split(d.text, ' ')) >= 20
                        THEN 1 ELSE 0 END AS fin_ok
            FROM documents d
            LEFT JOIN ex e ON e.doc_id = d.doc_id
            LEFT JOIN reps r ON r.doc_id = d.doc_id
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_raw,
                   CAST(SUM(ex_ok) AS BIGINT) AS n_after_exact,
                   CAST(SUM(nd_ok) AS BIGINT) AS n_after_neardup,
                   CAST(SUM(fin_ok) AS BIGINT) AS n_final
            FROM flags GROUP BY source
        )
        SELECT source, n_raw, n_after_exact, n_after_neardup, n_final,
               {sql_round_half_up(
                   'CAST(n_final AS DOUBLE) / CAST(n_raw AS DOUBLE)', 6)}
                   AS retention
        FROM agg ORDER BY source
    """,
)
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup funnel: raw → exact-dedup survivors (first
    doc per content hash) → near-dup cluster representatives → length
    filter, with end-to-end retention — the observability report a
    curation pipeline publishes per run so a source silently losing
    90% of its documents gets noticed. Stage predicates are computed
    once on the full corpus and intersected (standard funnel
    semantics); counts are monotone non-increasing by construction,
    asserted in tests.

    Scale: one content-hash window (hash-partitioned, never global),
    the verified near-dup pipeline it composes, two survivor joins,
    and a source-sized aggregate."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    flagged = docs.select(
        "source",
        "doc_id",
        "text",
        (F.row_number().over(w) == 1).alias("ex_ok"),
    )
    clusters = dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.6)
    reps = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("is_rep")
    )
    j = flagged.join(reps, "doc_id", "left").select(
        "source",
        F.col("ex_ok").cast("int").alias("ex_ok"),
        (F.col("ex_ok") & F.col("is_rep").isNotNull())
        .cast("int")
        .alias("nd_ok"),
        (
            F.col("ex_ok")
            & F.col("is_rep").isNotNull()
            & (text.token_count("text") >= 20)
        )
        .cast("int")
        .alias("fin_ok"),
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.sum("ex_ok").cast("bigint").alias("n_after_exact"),
        F.sum("nd_ok").cast("bigint").alias("n_after_neardup"),
        F.sum("fin_ok").cast("bigint").alias("n_final"),
    )
    return agg.select(
        "source",
        "n_raw",
        "n_after_exact",
        "n_after_neardup",
        "n_final",
        round_half_up(
            F.col("n_final").cast("double") / F.col("n_raw").cast("double"), 6
        ).alias("retention"),
    ).orderBy("source")


@query(
    "cdc_chunk_dedup",
    category="llm-dedup",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source, text,
                   CAST(length(text) AS BIGINT) AS n
            FROM documents),
        pos AS (
            SELECT doc_id, n, text,
                   CAST(unnest(range(1, CAST(GREATEST(n - 6, 1)
                       AS BIGINT))) AS BIGINT) AS p
            FROM d),
        cuts AS (
            SELECT doc_id, p + 7 AS cut
            FROM pos
            WHERE CAST('0x' || substring(md5(substring(text,
                      CAST(p AS INTEGER), 8)), 1, 15) AS BIGINT) % 128 = 0
              AND p + 7 < n),
        mids AS (
            SELECT doc_id,
                   COALESCE(lag(cut) OVER (PARTITION BY doc_id
                       ORDER BY cut) + 1, 1) AS s,
                   cut AS e
            FROM cuts),
        lastc AS (SELECT doc_id, MAX(cut) AS mc FROM cuts GROUP BY 1),
        lasts AS (
            SELECT d.doc_id, COALESCE(l.mc + 1, 1) AS s, d.n AS e
            FROM d LEFT JOIN lastc l ON l.doc_id = d.doc_id),
        spans AS (
            SELECT * FROM mids UNION ALL SELECT * FROM lasts),
        chunks AS (
            SELECT d.source,
                   md5(substring(d.text, CAST(sp.s AS INTEGER),
                       CAST(sp.e - sp.s + 1 AS INTEGER))) AS h,
                   CAST(sp.e - sp.s + 1 AS BIGINT) AS clen
            FROM spans sp JOIN d ON d.doc_id = sp.doc_id),
        freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM chunks GROUP BY 1)
        SELECT c.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup_chunks,
               {sql_round_half_up(
                   "CAST(SUM(c.clen) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE)", 6)} AS avg_chunk_chars,
               {sql_round_half_up(
                   "CAST(SUM(CASE WHEN f.cnt > 1 THEN c.clen ELSE 0 END)"
                   " AS DOUBLE) / CAST(SUM(c.clen) AS DOUBLE)", 6)}
                   AS dup_char_ratio
        FROM chunks c JOIN freq f ON f.h = c.h
        GROUP BY 1 ORDER BY 1
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup profile per source: split every
    document at positions where the rolling 8-gram's hash lands in a
    1/128 bucket (the FastCDC/LBFS boundary rule — boundaries move WITH
    the content, so an insertion only reshapes its own chunk, unlike
    fixed-size blocks where one shifted byte re-hashes the whole tail),
    then hash chunks corpus-wide and report how much of each source
    sits in non-unique chunks — sub-document dedup that exact and
    MinHash dedup both miss when documents share long boilerplate runs
    (complements duplicated_substring_spans' suffix-style spans with
    the storage-shaped chunk view).

    Determinism: boundaries come from the repo's md5->bigint hash of
    the literal 8-char gram (mod 128), span arithmetic is BIGINT, and
    chunk identity is the md5 of the exact substring — no floats until
    the two final ratio divisions.

    Scale: the position explode is linear in corpus characters and
    never shuffles text (gram hashing happens in the same stage);
    the boundary walk windows over CUT rows (1/128 of positions)
    partitioned by doc_id; chunk extraction is a doc_id-equi join; the
    dup check is a combinable hash-count. Expected chunk ~128 chars
    keeps chunk rows ~corpus_chars/128."""
    from pyspark.sql import Window

    # r12 optimization (guide §2.5): the per-position md5 pass below is the
    # query's cost (corpus_chars hashes) and pipelines into the scan stage;
    # on the unsplittable single-row-group fixture that pins it to 1 task.
    docs = _docs_fanned(spark, sf_dir)
    d = docs.select(
        "doc_id",
        "source",
        "text",
        F.length("text").cast("bigint").alias("n"),
    )
    n = F.col("n")
    posd = d.select(
        "doc_id",
        "n",
        "text",
        F.explode(
            F.when(
                n >= 8, F.sequence(F.lit(1).cast("bigint"), n - 7)
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("p"),
    )
    gram = F.col("text").substr(F.col("p").cast("int"), F.lit(8))
    ghash = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("bigint")
    cuts = (
        posd.select("doc_id", "n", "p", ghash.alias("gh"))
        .filter((F.col("gh") % 128 == 0) & (F.col("p") + 7 < n))
        .select("doc_id", (F.col("p") + 7).alias("cut"))
    )
    # Two consumers (mids' window, lastc's groupBy) sit behind DIFFERENT
    # exchanges, so without a lineage cut the whole corpus-chars md5 pass
    # executes twice (profiled: 2 × ~4.1 s at sf0.1). The cut table is
    # tiny (~1/128 of positions), so materializing it once is ~free.
    cuts = resilient_local_checkpoint(cuts, eager=False)
    w_ord = Window.partitionBy("doc_id").orderBy("cut")
    mids = cuts.select(
        "doc_id",
        F.coalesce(F.lag("cut").over(w_ord) + 1, F.lit(1).cast("bigint"))
        .alias("s"),
        F.col("cut").alias("e"),
    )
    lastc = cuts.groupBy("doc_id").agg(F.max("cut").alias("mc"))
    lasts = d.join(lastc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("mc") + 1, F.lit(1).cast("bigint")).alias("s"),
        F.col("n").alias("e"),
    )
    spans = mids.unionAll(lasts)
    chunks = spans.join(d, "doc_id").select(
        "source",
        F.md5(
            F.col("text").substr(
                F.col("s").cast("int"),
                (F.col("e") - F.col("s") + 1).cast("int"),
            )
        ).alias("h"),
        (F.col("e") - F.col("s") + 1).cast("bigint").alias("clen"),
    )
    freq = chunks.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    joined = chunks.join(freq, "h")
    dup = F.when(F.col("cnt") > 1, F.col("clen")).otherwise(F.lit(0))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            round_half_up(
                F.sum("clen").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_chunk_chars"),
            round_half_up(
                F.sum(dup).cast("double") / F.sum("clen").cast("double"), 6
            ).alias("dup_char_ratio"),
        )
        .orderBy("source")
    )


@query(
    "containment_dedup_pairs",
    category="llm-dedup",
    oracle=f"""
        WITH sh AS (
            {_shingle_units_sql(n=3, source="documents", alias="s")}
            WHERE doc_id < 500
        ),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                  FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT i.id_a, i.id_b, sa.n AS n_a, sb.n AS n_b,
               {sql_round_half_up(
                   "CAST(i.n_common AS DOUBLE) / CAST(sa.n AS DOUBLE)",
                   6)} AS containment_ab,
               {sql_round_half_up(
                   "CAST(i.n_common AS DOUBLE) / CAST(sb.n AS DOUBLE)",
                   6)} AS containment_ba,
               {sql_round_half_up(
                   "CAST(i.n_common AS DOUBLE)"
                   " / CAST(sa.n + sb.n - i.n_common AS DOUBLE)",
                   6)} AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.5
           OR CAST(i.n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.5
        ORDER BY id_a, id_b
    """,
)
def containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT pairs (C(A->B) = |A n B|/|A| >=
    0.5 in either direction) over a bounded slice — the subset-
    duplicate detector Jaccard structurally misses: a paragraph quoted
    inside a much longer document has high containment but low Jaccard
    because the union is dominated by the long side (Broder 1997's
    resemblance-vs-containment distinction). Completes the dedup
    family's fourth route: exact (hash), near (LSH banding), exact-
    threshold (prefix filter), and now SUBSET containment.

    Determinism: shingle sets, intersections, and sizes are integer;
    the three ratios are single divisions rounded identically.

    Scale: the inverted-shingle self-join is quadratic in per-shingle
    document frequency — the slice exists for the oracle's O(n^2); at
    corpus scale the candidate source is near_dup_pairs' LSH banding
    with this containment verify applied per candidate (operators.
    dedup.containment_pairs docstring)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    raw = dedup.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return raw.select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        round_half_up(F.col("containment_ab"), 6).alias("containment_ab"),
        round_half_up(F.col("containment_ba"), 6).alias("containment_ba"),
        round_half_up(F.col("jaccard"), 6).alias("jaccard"),
    ).orderBy("id_a", "id_b")


#: Band configurations for the LSH banding sweep: with k = 8 hashes,
#: bands b ∈ {2, 4, 8} give rows-per-band r = 4, 2, 1 — the classic
#: precision/recall dial (collision prob = 1 − (1 − J^r)^b).
_SWEEP_BANDS = (2, 4, 8)


def _band_chain_sql(b: int) -> str:
    """CTE chain (buckets→candidates→prefilter→verified ids) for one
    band count, names suffixed _b{b}; composes with the shared
    units/sigs/sizes CTEs."""
    r = _NUM_HASHES // b
    buckets = " UNION ALL ".join(
        "SELECT doc_id, {g} AS band_id, md5(concat_ws('|', {cols})) AS band_hash FROM sigs".format(
            g=g, cols=", ".join(f"mh{g * r + j}" for j in range(r))
        )
        for g in range(b)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(_NUM_HASHES)
    )
    return f"""
        buckets_b{b} AS ({buckets}),
        cand_b{b} AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM buckets_b{b} a JOIN buckets_b{b} b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id),
        estf_b{b} AS (SELECT c.id_a, c.id_b FROM cand_b{b} c
            JOIN sigs sa ON sa.doc_id = c.id_a
            JOIN sigs sb ON sb.doc_id = c.id_b
            WHERE ({agree}) / {float(_NUM_HASHES)!r} >= {_EST_PREFILTER!r}),
        inter_b{b} AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            FROM estf_b{b} c
            JOIN units ta ON ta.doc_id = c.id_a
            JOIN units tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
            GROUP BY c.id_a, c.id_b),
        ver_b{b} AS (
            SELECT i.id_a, i.id_b
            FROM inter_b{b} i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.6)
    """


@query(
    "lsh_bands_recall_sweep",
    category="llm-dedup",
    oracle=f"""
        WITH {_UNITS_CTE}, {_SIGS_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM units GROUP BY doc_id),
        {", ".join(_band_chain_sql(b).strip() for b in _SWEEP_BANDS)},
        allv AS ({" UNION ".join(f"SELECT id_a, id_b FROM ver_b{b}" for b in _SWEEP_BANDS)}),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union FROM allv),
        rows_out AS (
            {" UNION ALL ".join(
                f"SELECT CAST({b} AS BIGINT) AS bands, "
                f"(SELECT CAST(COUNT(*) AS BIGINT) FROM cand_b{b}) AS n_candidates, "
                f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ver_b{b}) AS n_verified"
                for b in _SWEEP_BANDS)})
        SELECT r.bands, r.n_candidates, r.n_verified, t.n_union,
               {sql_round_half_up(
                   "CAST(r.n_verified AS DOUBLE) / CAST(t.n_union AS DOUBLE)",
                   6)} AS recall
        FROM rows_out r CROSS JOIN tot t
        ORDER BY bands
    """,
)
def lsh_bands_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding DIAL, measured in-engine (the dedup counterpart
    of ann_recall_vs_probes): for b ∈ {{2,4,8}} bands over the same 8
    MinHashes, candidate volume vs verified-pair recall against the
    union of all three configs' verified sets. Fewer bands (more rows
    per band) = fewer, higher-precision candidates; b=8 singleton
    bands = near-total recall at 100-300× the candidate volume — the
    sweep row quantifies what DEFAULT_BANDS buys. The hot-bucket cap
    is OFF here so the subset relation between configs is exact
    (bounded fixture; production keeps the cap and this sweep is how
    it would be tuned).

    Scale: signatures compute once (localCheckpoint) and all three
    chains reuse them; each chain is the standard banded self-join +
    prefilter + candidate-restricted verify."""
    from pipeline_query_engine_demo_spark.operators import dedup as _d

    docs = _docs_fanned(spark, sf_dir)
    sigs = resilient_local_checkpoint(
        _d.minhash_signatures(docs, "doc_id", "text"), eager=False
    )
    # r12 optimization (guide §2.4): all three banding chains verify
    # against the SAME corpus — materialize the shingle explode once
    # (dedup.unit_table, the same public builder jaccard_pairs uses) and
    # share it instead of re-deriving a candidate-restricted explode per
    # chain (the b=8 singleton-band chain's candidate set covers ~the
    # whole corpus anyway, so the unrestricted unit table costs the same
    # explode the largest chain already paid). Per-pair Jaccard is
    # restriction-independent — results identical.
    #
    # r13 (r12 ADVICE): the shared-toks path is GATED on the same
    # unsplittable-layout signal as the fan-out. On a real, splittable
    # corpus where banding prunes aggressively (candidates << corpus) an
    # unrestricted explode plus corpus-sized size/intersection joins can
    # cost more than three candidate-restricted chains — so splittable
    # layouts keep per-chain jaccard_pairs and only the fixture-shaped
    # single-file layout shares the full unit table.
    share_toks = fanout_width(spark, sf_dir, "documents") is not None
    toks = (
        resilient_local_checkpoint(_d.unit_table(docs, "doc_id", "text"), eager=False)
        if share_toks
        else None
    )
    rows = []
    vers = []
    for b in _SWEEP_BANDS:
        cand = resilient_local_checkpoint(
            _d.lsh_candidate_pairs(
                docs,
                "doc_id",
                "text",
                bands=b,
                max_bucket_size=None,
                signatures=sigs,
            ),
            eager=False,
        )
        estf = _d.signature_agreement_prefilter(
            sigs, cand, "doc_id", _d.DEFAULT_NUM_HASHES, _d.DEFAULT_EST_PREFILTER
        )
        verified = (
            _d.jaccard_pairs_from_units(toks, estf, "doc_id")
            if share_toks
            else _d.jaccard_pairs(docs, estf, "doc_id", "text")
        )
        ver = resilient_local_checkpoint(
            verified.filter(F.col("jaccard") >= 0.6)
            .select("id_a", "id_b"),
            eager=False,
        )
        vers.append(ver)
        rows.append(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
            .crossJoin(
                ver.agg(F.count(F.lit(1)).cast("bigint").alias("n_verified"))
            )
            .select(
                F.lit(b).cast("bigint").alias("bands"),
                "n_candidates",
                "n_verified",
            )
        )
    allv = vers[0].unionByName(vers[1]).unionByName(vers[2]).distinct()
    tot = allv.agg(F.count(F.lit(1)).cast("bigint").alias("n_union"))
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return (
        out.crossJoin(F.broadcast(tot))
        .select(
            "bands",
            "n_candidates",
            "n_verified",
            "n_union",
            round_half_up(
                F.col("n_verified").cast("double")
                / F.col("n_union").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("bands")
    )
