"""Training-data curation and text-statistics queries (split from plans/llm.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pipeline_query_engine_demo_spark.functions import multimodal, text, vectors
from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.operators import dedup, similarity
from pipeline_query_engine_demo_spark.operators.rounds import Rounds
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import load_table


from pipeline_query_engine_demo_spark.plans.registry import REGISTRY as _REG  # noqa: E402


#: Positional discount literals for nDCG@10: 1/log2(rank+1), folded to
#: Python doubles once so BOTH engines consume the identical constants
#: (no runtime ln/log2 divergence possible). IDCG is the ideal DCG of
#: graded gains 10..1 — a pure constant for a fixed k.
import math as _math  # noqa: E402

from pipeline_query_engine_demo_spark.plans.llm import (  # shared helpers stay in the base module
    KEYWORDS,
    MIXTURE_THRESHOLDS,
    _BPE_ROUNDS,
    _BUCKETS_CTE,
    _CAND_CTE,
    _CLUSTERS_SQL,
    _DECODE_STEPS,
    _JSD_TOPK,
    _SIGS_CTE,
    _UNITS_CTE,
    _shingle_units_sql,
    _shuffle_positions,
)

#: Fixture-vocabulary stopwords (the synthetic corpus is word soup over
#: ~31 engine terms; 'the' and 'a' play the stopword role).
STOPWORDS = ["the", "a"]
#: SQL IN-list built from the same constant so the oracle tracks any
#: STOPWORDS change automatically.
_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

#: Language marker tokens for the lang-ID heuristic. The real-world
#: version uses char-n-gram frequency profiles; on the synthetic corpus
#: fixed marker sets exercise the same plumbing (map build, intersect,
#: argmax) deterministically.
LANG_MARKERS = {
    "de": ["data", "value", "slow"],
    "en": ["the", "a", "fast"],
    "fr": ["table", "row", "merge"],
}


@query(
    "clean_corpus_pipeline",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL
    + """ ,
        kept AS (SELECT doc_id FROM labels WHERE doc_id = cluster_id)
        SELECT d.doc_id,
               len(string_split(d.text, ' ')) AS n_tokens,
               d.lang, d.source
        FROM documents d JOIN kept k ON d.doc_id = k.doc_id
        WHERE len(string_split(d.text, ' ')) >= 20
        ORDER BY d.doc_id
    """,
)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline in one plan:
    near-dup clustering → keep each cluster's min-id representative →
    drop short documents. This is the composition the LLM-operator
    family exists for; every stage is the scale-shaped variant (LSH
    candidates, candidate-restricted verification, iterative
    components)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.6)
    reps = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    return (
        docs.join(reps, "doc_id")
        .filter(text.token_count("text") >= 20)
        .select("doc_id", text.token_count("text").alias("n_tokens"), "lang", "source")
        .orderBy("doc_id")
    )


@query(
    "token_count_bpeish",
    category="llm-text",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpeish_tokens
        FROM documents ORDER BY doc_id
    """,
)
def token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single other symbols) — the cheap
    pre-tokenizer estimate every training-data budget starts from. Both
    are map-side regexes inside codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpeish_tokens"
        ),
    ).orderBy("doc_id")


@query(
    "hash_mod_sample_docs",
    category="llm-curation",
    oracle="""
        SELECT doc_id,
               CAST(CAST('0x' || substring(
                        md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)
                    AS BIGINT) % 100 AS BIGINT) AS bucket
        FROM documents
        WHERE CAST('0x' || substring(
                  md5(CAST(doc_id AS VARCHAR) || '#sample'), 1, 15)
              AS BIGINT) % 100 < 10
        ORDER BY doc_id
    """,
)
def hash_mod_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod sampling — the production way to sample
    at 100 TB: bucket = md5(key) mod 100, keep buckets < rate. Unlike
    Bernoulli ``sample()`` (partitioning-dependent, unreproducible
    across runs/engines) a hash sample is (a) exactly reproducible,
    (b) CONSISTENT across tables — sampling users by the same key
    expression in every table yields joinable samples — and (c) a pure
    map-side filter Parquet scans can pipeline. The 15-hex-digit md5
    bigint is the repo's cross-engine hash lattice, so the oracle
    selects the identical rows.

    Scale: zero shuffles, no RNG state, no seed-per-partition hazards;
    downsizing to 0.01% just changes the modulus."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#sample"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    return (
        docs.select("doc_id", bucket.cast("bigint").alias("bucket"))
        .filter(F.col("bucket") < 10)
        .orderBy("doc_id")
    )
_KEYWORDS_SQL = ", ".join(f"'{w}'" for w in KEYWORDS)


@query(
    "keyword_tag_docs",
    category="llm-text",
    oracle=f"""
        SELECT doc_id,
               CAST(len(matched) AS BIGINT) AS n_matches,
               COALESCE(array_to_string(matched, ','), '') AS matched
        FROM (
            SELECT doc_id,
                   list_sort(list_filter(
                       list_distinct(string_split(text, ' ')),
                       t -> t IN ({_KEYWORDS_SQL}))) AS matched
            FROM documents
        )
        ORDER BY doc_id
    """,
)
def keyword_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary keyword tagging — the curation primitive behind topic
    labeling, blocklist filtering, and licence-string detection: tag
    each document with the sorted set of lexicon terms it contains.
    For a small lexicon this is a pure map-side ``array_intersect``
    against a broadcast literal array (zero shuffles — this query);
    at lexicon scale (millions of phrases) the same answer comes from
    explode(tokens) ⋈ broadcast(lexicon) + collect_set, the shape
    pii_scrub_patterns' regex alternative cannot reach. Documents with
    no matches keep a 0/'' row — curation filters need the negatives.
    """
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    matched = F.array_sort(
        F.array_intersect(
            text.distinct_tokens(F.col("text")),
            F.array(*[F.lit(w) for w in KEYWORDS]),
        )
    )
    return docs.select(
        "doc_id",
        F.size(matched).cast("bigint").alias("n_matches"),
        F.array_join(matched, ",").alias("matched"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "text_stats_docs",
    category="llm-text",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_distinct(string_split(text, ' '))) /
                   len(string_split(text, ' ')) AS ttr,
               length(replace(text, ' ', '')) /
                   len(string_split(text, ' ')) AS avg_tok_len,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ({_STOPWORDS_SQL}))) /
                   len(string_split(text, ' ')) AS stop_ratio,
               len(list_distinct(string_split(text, ' '))) /
                       len(string_split(text, ' ')) * 0.5
                   + len(list_filter(string_split(text, ' '),
                                     t -> t IN ({_STOPWORDS_SQL}))) /
                       len(string_split(text, ' ')) * 0.2
                   + (len(string_split(text, ' ')) >= 10)::INT::DOUBLE * 0.3 AS quality
        FROM documents ORDER BY doc_id
    """,
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (functions.text): token counts,
    type-token ratio, mean token length, stopword share, and the
    composite quality score — all pure Column expressions inside
    whole-stage codegen; zero shuffles, scales with the scan."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        F.size(text.distinct_tokens("text")).alias("n_distinct"),
        text.type_token_ratio("text").alias("ttr"),
        text.avg_token_len("text").alias("avg_tok_len"),
        text.stopword_ratio("text", STOPWORDS).alias("stop_ratio"),
        text.quality_score("text", STOPWORDS).alias("quality"),
    ).orderBy("doc_id")


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_intersect(list_distinct(string_split(text, ' ')), [{words}]))"
    )


@query(
    "lang_id_docs",
    category="llm-text",
    oracle=f"""
        WITH hits AS (
            SELECT doc_id,
                   {_lang_hits_sql("de")} AS de_hits,
                   {_lang_hits_sql("en")} AS en_hits,
                   {_lang_hits_sql("fr")} AS fr_hits
            FROM documents
        )
        SELECT doc_id, de_hits, en_hits, fr_hits,
               CASE WHEN de_hits >= en_hits AND de_hits >= fr_hits THEN 'de'
                    WHEN en_hits >= fr_hits THEN 'en'
                    ELSE 'fr' END AS predicted
        FROM hits ORDER BY doc_id
    """,
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (functions.text.lang_scores): marker-token
    hit counts per language as a map column, argmax with a deterministic
    first-win tie-break over sorted language keys."""
    docs = load_table(spark, sf_dir, "documents")
    m = text.lang_scores("text", LANG_MARKERS)
    scored = docs.select(
        "doc_id",
        F.element_at(m, "de").alias("de_hits"),
        F.element_at(m, "en").alias("en_hits"),
        F.element_at(m, "fr").alias("fr_hits"),
    )
    return scored.select(
        "doc_id",
        "de_hits",
        "en_hits",
        "fr_hits",
        F.when(
            (F.col("de_hits") >= F.col("en_hits")) & (F.col("de_hits") >= F.col("fr_hits")), "de"
        )
        .when(F.col("en_hits") >= F.col("fr_hits"), "en")
        .otherwise("fr")
        .alias("predicted"),
    ).orderBy("doc_id")


@query(
    "tfidf_top_terms",
    category="llm-text",
    oracle="""
        WITH tf AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY doc_id, tok),
        dfc AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.tok,
                   CASE WHEN isfinite(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) THEN floor((t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0))) * 1000000.0 + 0.5) / 1000000.0 END AS tfidf
            FROM tfc t JOIN dfc d ON t.tok = d.tok CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, tok) AS rn
            FROM scored
        )
        SELECT doc_id, tok, tfidf, rn FROM ranked WHERE rn <= 3
        ORDER BY doc_id, rn
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, built from relational primitives
    (explode -> two aggregations -> broadcast of the 1-row corpus count
    -> window top-k) — no ml-lib dependency, fully plan-optimizable.
    Smoothed idf = ln((N+1)/(df+1)); both engines' ln agree on these
    operands (libm double, identical inputs), rounded to 6.

    r13: the r12 fan-out on the documents scan is REVERTED (r12 verdict
    item 1, driver-measured 0.800 -> 1.215 s): this pipeline is
    aggregation-exchange-bound (two groupBys + a window behind the
    explode; the scan-stage explode itself measured ~280 ms), so the
    extra scan exchange only cost — the same failure mode as the r12
    kneser_ney revert."""
    docs = load_table(spark, sf_dir, "documents")
    tf = docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    tfc = tf.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tfc.join(dfc, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            round_half_up(
                F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )


@query(
    "pii_scrub_patterns",
    category="llm-text",
    oracle="""
        WITH synth AS (
            SELECT doc_id,
                   concat(string_split(text, ' ')[1], '@', string_split(text, ' ')[2],
                          '.com call 555-', CAST(1000 + doc_id % 9000 AS VARCHAR),
                          ' ', substr(text, 1, 40)) AS raw
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(raw,
                   '[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                   '\\d{3}-\\d{4}', '<PHONE>', 'g') AS scrubbed
        FROM synth ORDER BY doc_id
    """,
)
def pii_scrub_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email and phone patterns replaced with placeholder
    tags — the redaction pass every training corpus gets. The fixture
    has no real PII, so deterministic synthetic contact strings are
    built per document and scrubbed; both regex dialects (Java, RE2)
    agree on these patterns. Pure map-side regexes in codegen."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    raw = F.concat(
        F.element_at(toks, 1),
        F.lit("@"),
        F.element_at(toks, 2),
        F.lit(".com call 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" "),
        F.substring("text", 1, 40),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
        r"\d{3}-\d{4}",
        "<PHONE>",
    )
    return docs.select("doc_id", scrubbed.alias("scrubbed")).orderBy("doc_id")


@query(
    "repetition_scores",
    category="llm-text",
    oracle="""
        WITH sh AS (
            SELECT doc_id, unnest(
                list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
                               i -> concat_ws(' ', string_split(text, ' ')[i],
                                              string_split(text, ' ')[i + 1],
                                              string_split(text, ' ')[i + 2]))) AS s
            FROM documents
        ),
        counts AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_shingles,
               CAST(MAX(c) AS BIGINT) AS max_repeat,
               MAX(c) / SUM(c) AS top_shingle_frac,
               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / SUM(c) AS repeated_frac
        FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher/C4-style quality rule):
    fraction of 3-gram shingles that are repeats and the share of the
    single most-repeated shingle — boilerplate and degenerate generation
    both light these up. Ratios are exact-int divisions. One explode +
    one two-level aggregation; scales with the scan."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(text.shingles("text", 3)).alias("s"))
    counts = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_shingles"),
            F.max("c").alias("max_repeat"),
            (F.max("c") / F.sum("c")).alias("top_shingle_frac"),
            (F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c")).alias(
                "repeated_frac"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_length_histogram",
    category="llm-text",
    oracle="""
        SELECT CAST(n_chars // 100 AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents GROUP BY bucket ORDER BY bucket
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length distribution in 100-char buckets — the first
    chart every corpus report shows, and the basis for length cutoffs.
    A single partial+final aggregation over integer bucket keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy((F.floor(F.col("n_chars") / 100)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


@query(
    "token_stats_by_source",
    category="llm-text",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents GROUP BY source ORDER BY source
    """,
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition stats per source — the aggregate every
    training-data pipeline reports before/after filtering. Token counts
    are exact integer sums (order-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(text.token_count("text")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


@query(
    "deterministic_sample_docs",
    category="llm-sampling",
    oracle="""
        SELECT doc_id, source, n_chars,
               md5(doc_id::VARCHAR || '|sample-v1') AS sample_key
        FROM documents
        WHERE md5(doc_id::VARCHAR || '|sample-v1') < '28'
        ORDER BY doc_id
    """,
)
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling — the reproducible way to cut
    a training subset at 100 TB: the keep decision is a pure function of
    the row key (md5 < hex threshold '28' ~ 15.6%), so re-runs,
    backfills, and multi-site runs agree without seed coordination or a
    global sort, and the filter rides the scan (no shuffle at all).
    ``sample()``/TABLESAMPLE give per-partition RNG instead — not
    reproducible under repartitioning — which is why pipelines hash."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|sample-v1")))
    return (
        docs.withColumn("sample_key", key)
        .filter(F.col("sample_key") < "28")
        .select("doc_id", "source", "n_chars", "sample_key")
        .orderBy("doc_id")
    )


@query(
    "stratified_sample_by_source",
    category="llm-sampling",
    oracle="""
        SELECT source, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS INT) AS rn
        FROM documents
        QUALIFY rn <= 10
        ORDER BY source, rn
    """,
)
def stratified_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-k sampling: exactly k=10 documents per source,
    chosen by md5 rank — deterministic, shuffle-bounded (one hash
    partition per stratum, each keeping k rows), and rebalances a
    source-skewed corpus the way mixture weighting does before
    training. For strata too hot for one reducer, compose with the
    two-phase top-k pattern (operators.similarity._topk_per_query)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    )


@query(
    "chunk_documents_for_training",
    category="llm-text",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start
              FROM t)
        SELECT doc_id,
               CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
               array_to_string(toks[start:start + 63], ' ') AS chunk_text,
               CAST(len(toks[start:start + 63]) AS BIGINT) AS n_tokens
        FROM s ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the step that turns documents
    into fixed-size training sequences: 64-token chunks every 48 tokens
    (16-token overlap preserves context across boundaries; the final
    chunk clamps at EOF). One generate-series explode + array slice,
    all map-side from the scan — at 100 TB chunking adds zero shuffles;
    row count grows ~tokens/stride, which is the intended output, not
    amplification. functions.text.chunk_starts/chunk_slice."""
    chunk_tokens, stride = 64, 48
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(text.chunk_starts("text", stride)).alias("start"),
    )
    toks = text.chunk_slice("text", F.col("start"), chunk_tokens)
    return exploded.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {stride} AS BIGINT)").alias("chunk_idx"),
        F.array_join(toks, " ").alias("chunk_text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "pack_sequences_for_training",
    category="llm-text",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start
              FROM t),
        chunks AS (
            SELECT doc_id,
                   CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
                   CAST(len(toks[start:start + 63]) AS BIGINT) AS n_tokens
            FROM s),
        cum AS (
            SELECT doc_id, chunk_idx, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY doc_id ORDER BY chunk_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS tokens_before
            FROM chunks)
        SELECT doc_id, chunk_idx,
               CAST(tokens_before // 512 AS BIGINT) AS pack_id,
               n_tokens,
               CAST(tokens_before % 512 AS BIGINT) AS pack_offset
        FROM cum ORDER BY doc_id, chunk_idx
    """,
)
def pack_sequences_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each training chunk to a fixed-capacity
    context window (512 tokens) by cutting the in-order token stream at
    capacity boundaries — the standard concat-then-cut packing that
    keeps padding waste near zero. pack_id/pack_offset derive from an
    exclusive running token count (one window over the chunk order per
    document), so packing is deterministic under any partitioning and
    costs one shuffle on the group key — no driver-side loop, no UDF.
    Composes directly with chunk_documents_for_training's output."""
    from pyspark.sql import Window

    chunk_tokens, stride, capacity = 64, 48, 512
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(text.chunk_starts("text", stride)).alias("start"),
    )
    chunks = exploded.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {stride} AS BIGINT)").alias("chunk_idx"),
        F.size(text.chunk_slice("text", F.col("start"), chunk_tokens))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = chunks.withColumn("tokens_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return cum.select(
        "doc_id",
        "chunk_idx",
        F.expr(f"CAST(tokens_before DIV {capacity} AS BIGINT)").alias("pack_id"),
        "n_tokens",
        (F.col("tokens_before") % capacity).cast("bigint").alias("pack_offset"),
    ).orderBy("doc_id", "chunk_idx")


@query(
    "unigram_surprisal_scores",
    category="llm-text",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
        probs AS (
            SELECT tok,
                   CAST(CASE WHEN isfinite(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) THEN floor((-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000000.0 + 0.5) / 1000000000.0 END
                        AS DECIMAL(20, 9)) AS s
            FROM vocab, tot)
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CASE WHEN isfinite(CAST(SUM(p.s) AS DOUBLE) / COUNT(*)) THEN floor((CAST(SUM(p.s) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 END AS avg_surprisal
        FROM tok t JOIN probs p ON p.tok = t.tok
        GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring — the cheapest perplexity proxy: train
    token probabilities on the corpus itself (one groupBy), then score
    each document by mean token surprisal -ln(p). High scores flag
    gibberish/rare-token soup; low scores flag boilerplate. Scale shape:
    the model is vocab-sized, not corpus-sized, so it broadcasts and
    scoring is map-side; the only corpus-wide shuffles are the vocab
    count and the per-doc mean. Determinism: each surprisal is rounded
    to 9 places and summed as DECIMAL so the per-doc sum is
    order-independent, then the mean rounds to 6 (same recipe as the
    cosine family)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    probs = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        round_half_up(-F.log(F.col("c").cast("double") / F.col("n").cast("double")), 9)
        .cast("decimal(20,9)")
        .alias("s"),
    )
    return (
        toks.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            round_half_up(F.sum("s").cast("double") / F.count("*"), 6).alias(
                "avg_surprisal"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "global_shuffle_positions",
    category="llm-sampling",
    oracle="""
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5(doc_id::VARCHAR || '|shuffle-v1'), doc_id
               ) AS BIGINT) AS shuffle_pos
        FROM documents ORDER BY shuffle_pos
    """,
)
def global_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a dense position in md5-of-key order, reproducible across runs and
    repartitioning (no RNG, no zipWithIndex); see _shuffle_positions
    for the two-phase rank that avoids a single-reducer row_number."""
    docs = load_table(spark, sf_dir, "documents")
    return _shuffle_positions(
        docs.select("doc_id"), "doc_id", "|shuffle-v1"
    ).select("doc_id", "shuffle_pos").orderBy("shuffle_pos")
_MIXTURE_DEFAULT = "20"


@query(
    "mixture_sample_by_weights",
    category="llm-sampling",
    oracle=f"""
        SELECT source, doc_id,
               md5(doc_id::VARCHAR || '|mix-v1') AS mix_key
        FROM documents
        WHERE mix_key < CASE source
            {' '.join(f"WHEN '{s}' THEN '{t}'" for s, t in MIXTURE_THRESHOLDS.items())}
            ELSE '{_MIXTURE_DEFAULT}' END
        ORDER BY doc_id
    """,
)
def mixture_sample_by_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture sampling — the knob that turns a raw
    crawl into a training mixture (upweight curated sources, downsample
    the long tail). The keep decision compares the row's md5 key against
    a per-source hex threshold, so it is a pure map-side filter that
    rides the scan: reproducible under repartitioning, no shuffle, no
    seed coordination, and re-weighting is a literal change, not a
    re-shuffle. Deterministic analog of weighted TABLESAMPLE."""
    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(_MIXTURE_DEFAULT)
    for s, t in reversed(MIXTURE_THRESHOLDS.items()):
        thr = F.when(F.col("source") == s, F.lit(t)).otherwise(thr)
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|mix-v1")))
    return (
        docs.withColumn("mix_key", key)
        .filter(F.col("mix_key") < thr)
        .select("source", "doc_id", "mix_key")
        .orderBy("doc_id")
    )


@query(
    "markup_strip_docs",
    category="llm-text",
    oracle="""
        WITH html AS (
            SELECT doc_id,
                   '<p id="d">' || regexp_replace(text, ' the ', ' &amp; the ', 'g')
                   || '</p><br/>' AS html
            FROM documents),
        clean AS (
            SELECT doc_id, html,
                   trim(regexp_replace(regexp_replace(
                       regexp_replace(html, '<[^>]+>', '', 'g'),
                       '&amp;', '&', 'g'), ' +', ' ', 'g')) AS clean_text
            FROM html)
        SELECT doc_id,
               CAST(len(html) AS BIGINT) AS html_chars,
               CAST(len(clean_text) AS BIGINT) AS clean_chars,
               md5(clean_text) AS clean_hash
        FROM clean ORDER BY doc_id
    """,
)
def markup_strip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping — the HTML→text cleaning stage of a crawl
    pipeline: drop tags, decode entities, collapse whitespace. The
    fixture corpus is plain text, so the query plants deterministic
    markup (tag wrapper + &amp; entities) and then strips it, proving
    the strip inverts the wrap; the pipeline shape (pure regexp
    expressions, zero UDFs, rides the scan) is exactly what runs on a
    real crawl. Output keeps lengths + a hash, not the body, so the
    result stays narrow."""
    html = F.concat(
        F.lit('<p id="d">'),
        F.regexp_replace("text", " the ", " &amp; the "),
        F.lit("</p><br/>"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(html, "<[^>]+>", ""), "&amp;", "&"
            ),
            " +",
            " ",
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.length(html).cast("bigint").alias("html_chars"),
            F.length(clean).cast("bigint").alias("clean_chars"),
            F.md5(clean).alias("clean_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "length_bucketed_batches",
    category="llm-sampling",
    oracle="""
        WITH sized AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(string_split(text, ' ')) // 16 AS BIGINT)
                       AS length_bucket
            FROM documents),
        ranked AS (
            SELECT doc_id, n_tokens, length_bucket,
                   row_number() OVER (
                       PARTITION BY length_bucket ORDER BY doc_id) AS rn
            FROM sized)
        SELECT length_bucket, doc_id, n_tokens,
               CAST((rn - 1) // 8 AS BIGINT) AS batch_in_bucket
        FROM ranked ORDER BY length_bucket, doc_id
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment — group similar-length documents
    into fixed-size batches (8 docs) so padding waste inside a training
    batch stays small. Documents shuffle once on their length bucket
    (n_tokens DIV 16) and rank deterministically by doc_id; batch id is
    the rank cut every 8 rows. Hot buckets at 100 TB compose with the
    same two-phase rank used by global_shuffle_positions."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n = text.token_count("text").cast("bigint")
    sized = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        (n / 16).cast("bigint").alias("length_bucket"),
    )
    w = Window.partitionBy("length_bucket").orderBy("doc_id")
    return (
        sized.withColumn("rn", F.row_number().over(w))
        .select(
            "length_bucket",
            "doc_id",
            "n_tokens",
            ((F.col("rn") - 1) / 8).cast("bigint").alias("batch_in_bucket"),
        )
        .orderBy("length_bucket", "doc_id")
    )


_VOCAB_SIZE = 16


@query(
    "vocab_induction_oov",
    category="llm-text",
    oracle=f"""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        vocab AS (
            SELECT tok FROM freq
            QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= {_VOCAB_SIZE})
        SELECT t.source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(count_if(v.tok IS NULL) AS BIGINT) AS n_oov,
               CAST(count_if(v.tok IS NULL) AS DOUBLE) / COUNT(*) AS oov_rate
        FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY t.source ORDER BY t.source
    """,
)
def vocab_induction_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-cutoff vocabulary induction + per-source OOV rate —
    the first step of tokenizer training and the coverage check that
    follows it. The vocab (top `_VOCAB_SIZE` tokens, count-desc with
    deterministic tie-break) ranks over the FREQUENCY table, which is
    vocab-sized, not corpus-sized — the only corpus-wide work is the
    count groupBy and the broadcast-vocab membership join, both
    map-side combinable."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(text.tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("tok"))
    vocab = (
        freq.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _VOCAB_SIZE)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    oov_count = F.count(F.when(F.col("_in_vocab").isNull(), F.lit(1)))
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            oov_count.cast("bigint").alias("n_oov"),
            (oov_count.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
        )
        .orderBy("source")
    )


@query(
    "dynamic_length_filter",
    category="llm-text",
    oracle="""
        WITH sized AS (
            SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents),
        thr AS (
            SELECT CAST(quantile_disc(n_tokens, 0.25) AS BIGINT) AS p25
            FROM sized)
        SELECT s.doc_id, s.source, s.n_tokens, t.p25
        FROM sized s, thr t
        WHERE s.n_tokens >= t.p25
        ORDER BY s.doc_id
    """,
)
def dynamic_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality filtering: drop the shortest quartile,
    where the threshold is COMPUTED FROM the corpus (discrete p25 over
    an integer domain — exact and engine-agnostic, unlike interpolated
    percentiles of doubles), not hard-coded. The threshold is a 1-row
    aggregate broadcast onto the scan, so the filter stays map-side;
    at 100 TB this is one extra corpus aggregation, not a sort. The
    integer-domain discrete percentile matches DuckDB's quantile_disc
    exactly (same recipe as approx_percentile_quantities)."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", text.token_count("text").cast("bigint").alias("n_tokens")
    )
    thr = sized.agg(
        F.expr("approx_percentile(n_tokens, 0.25, 1000000)")
        .cast("bigint")
        .alias("p25")
    )
    return (
        sized.crossJoin(F.broadcast(thr))
        .filter(F.col("n_tokens") >= F.col("p25"))
        .select("doc_id", "source", "n_tokens", "p25")
        .orderBy("doc_id")
    )


@query(
    "training_manifest_pipeline",
    category="llm-dedup",
    oracle=_CLUSTERS_SQL
    + f""" ,
        kept AS (
            SELECT d.doc_id, d.source,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
            FROM documents d
            JOIN labels l ON l.doc_id = d.doc_id AND l.doc_id = l.cluster_id
            WHERE len(string_split(d.text, ' ')) >= 20),
        mixed AS (
            SELECT * FROM kept
            WHERE md5(doc_id::VARCHAR || '|mix-v1') < CASE source
                {' '.join(f"WHEN '{s}' THEN '{t}'" for s, t in MIXTURE_THRESHOLDS.items())}
                ELSE '{_MIXTURE_DEFAULT}' END)
        SELECT doc_id, source, n_tokens,
               CAST(row_number() OVER (
                   ORDER BY md5(doc_id::VARCHAR || '|shuffle-v1'), doc_id
               ) AS BIGINT) AS shuffle_pos
        FROM mixed ORDER BY shuffle_pos
    """,
)
def training_manifest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain in ONE lazy plan — what actually runs
    before a training job reads its manifest: near-dup clustering →
    keep each cluster's representative → drop the sub-20-token tail →
    source-weighted mixture sampling (map-side md5 threshold) →
    deterministic global shuffle order (two-phase rank). Every stage is
    the scale-shaped variant already proven green on its own; the
    composition shows they chain without materialization barriers —
    Catalyst plans the whole manifest as one DAG."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.6)
    reps = clusters.filter(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    kept = (
        docs.join(reps, "doc_id")
        .filter(text.token_count("text") >= 20)
        .select(
            "doc_id", "source", text.token_count("text").cast("bigint").alias("n_tokens")
        )
    )
    thr = F.lit(_MIXTURE_DEFAULT)
    for s, t in reversed(MIXTURE_THRESHOLDS.items()):
        thr = F.when(F.col("source") == s, F.lit(t)).otherwise(thr)
    mixed = kept.filter(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|mix-v1"))) < thr
    )
    return (
        _shuffle_positions(mixed, "doc_id", "|shuffle-v1")
        .select("doc_id", "source", "n_tokens", "shuffle_pos")
        .orderBy("shuffle_pos")
    )


@query(
    "tokenizer_fertility_by_source",
    category="llm-text",
    oracle=f"""
        WITH per_doc AS (
            SELECT source,
                   len(string_split(text, ' ')) AS ws,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe
            FROM documents
        )
        SELECT source,
               CAST(SUM(ws) AS BIGINT) AS ws_tokens,
               CAST(SUM(bpe) AS BIGINT) AS bpeish_tokens,
               {sql_round_half_up('CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE)', 6)}
                   AS fertility
        FROM per_doc GROUP BY source ORDER BY source
    """,
)
def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    source — the metric that decides whether a tokenizer is efficient
    on a corpus slice (fertility creep on a domain means its text is
    being shredded into too many pieces, inflating training cost for
    the same content). Uses the same two counters as token_count_bpeish,
    aggregated per source.

    Scale shape: both token counts are map-side regexes inside codegen;
    one combinable groupBy on source; output is source-count-sized.
    The ratio divides two exact BIGINT sums in double, so both engines
    produce the identical IEEE value."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        text.token_count("text").alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpe"
        ),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("bpeish_tokens"),
            round_half_up(
                F.sum("bpe").cast("double") / F.sum("ws").cast("double"), 6
            ).alias("fertility"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Preference-pair construction + shingle novelty
# --------------------------------------------------------------------------

#: The quality_score(text, STOPWORDS) expression as DuckDB SQL — kept in
#: lockstep with functions.text.quality_score (same operand doubles, same
#: operation order, deliberately unrounded; see text_stats_docs).
_QUALITY_SQL = (
    "len(list_distinct(string_split(text, ' '))) / "
    "len(string_split(text, ' ')) * 0.5 "
    f"+ len(list_filter(string_split(text, ' '), t -> t IN ({_STOPWORDS_SQL}))) / "
    "len(string_split(text, ' ')) * 0.2 "
    "+ (len(string_split(text, ' ')) >= 10)::INT::DOUBLE * 0.3"
)


@query(
    "preference_pairs_rlhf",
    category="llm-curation",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, quality,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY quality DESC, doc_id) AS rn_top,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY quality ASC, doc_id) AS rn_bot
            FROM scored
        )
        SELECT t.source AS source,
               t.doc_id AS chosen_doc_id,
               b.doc_id AS rejected_doc_id,
               t.quality AS chosen_quality,
               b.quality AS rejected_quality,
               t.quality - b.quality AS quality_margin
        FROM ranked t
        JOIN ranked b ON t.source = b.source
        WHERE t.rn_top = 1 AND b.rn_bot = 1 AND t.doc_id <> b.doc_id
        ORDER BY source
    """,
)
def preference_pairs_rlhf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training
    data: within each prompt group (source stands in for the prompt
    key), the highest-quality document becomes `chosen` and the lowest
    `rejected`, with the score margin carried for margin-weighted
    losses. Ranking is two row_number windows over the same partition
    key (one exchange, two in-partition sorts) with doc_id tie-breaks,
    so pair selection is deterministic; groups with a single document
    produce no pair.

    Scale: the per-group extremes shrink the corpus to |groups| rows
    before the self-join, so the join is group-count-sized regardless
    of corpus size — the standard shape for pairing exemplars at
    100 TB. Quality is functions.text.quality_score, the same unrounded
    double both engines compute identically (see text_stats_docs)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", text.quality_score("text", STOPWORDS).alias("quality")
    )
    w_top = Window.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
    w_bot = Window.partitionBy("source").orderBy(F.asc("quality"), "doc_id")
    ranked = scored.select(
        "*",
        F.row_number().over(w_top).alias("rn_top"),
        F.row_number().over(w_bot).alias("rn_bot"),
    )
    top = ranked.filter(F.col("rn_top") == 1).select(
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("quality").alias("chosen_quality"),
    )
    bot = ranked.filter(F.col("rn_bot") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("quality").alias("rejected_quality"),
    )
    return (
        top.join(bot, "source")
        .filter(F.col("chosen_doc_id") != F.col("rejected_doc_id"))
        .select(
            "source",
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_quality",
            "rejected_quality",
            (F.col("chosen_quality") - F.col("rejected_quality")).alias(
                "quality_margin"
            ),
        )
        .orderBy("source")
    )


@query(
    "rouge2_eval_pairs",
    category="llm-text",
    oracle=f"""
        WITH {_UNITS_CTE}, {_SIGS_CTE}, {_BUCKETS_CTE}, {_CAND_CTE},
        cids AS (SELECT id_a AS doc_id FROM cand
                 UNION SELECT id_b AS doc_id FROM cand),
        bg AS ({_shingle_units_sql(
            n=2,
            source="(SELECT * FROM documents"
            " WHERE doc_id IN (SELECT doc_id FROM cids))",
            alias="bg")}),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg
                  FROM bg GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN bg a ON a.doc_id = c.id_a
            JOIN bg b ON b.doc_id = c.id_b AND b.bg = a.bg
            GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b, i.n_common,
               i.n_common / sb.n_bg AS rouge2_precision,
               i.n_common / sa.n_bg AS rouge2_recall,
               2.0 * (i.n_common / sb.n_bg) * (i.n_common / sa.n_bg)
                   / ((i.n_common / sb.n_bg) + (i.n_common / sa.n_bg)) AS rouge2_f1
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        ORDER BY id_a, id_b
    """,
)
def rouge2_eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 precision/recall/F1 between LSH candidate pairs — the
    n-gram-overlap evaluation metric (summarization eval, distillation
    quality checks) computed at corpus scale by restricting the bigram
    join to MinHash-LSH candidates instead of all pairs. id_a plays the
    reference (recall denominator), id_b the candidate (precision
    denominator); pairs sharing zero bigrams drop out structurally.
    Ratios are exact BIGINT/BIGINT divisions and the F1 combiner is one
    identical IEEE expression tree on both engines, so no rounding is
    needed.

    Scale: candidate generation is the banded bucket self-join
    (operators.dedup.lsh_candidate_pairs — capped buckets, materialized
    bucket table); the bigram overlap join is candidate-restricted, so
    total cost tracks true-pair output, not corpus²."""
    docs = load_table(spark, sf_dir, "documents")
    # Lazy checkpoint: cand feeds three consumers (the id semi-filter
    # and both overlap joins) — without the cut each would replay the
    # whole MinHash/banding chain (same rationale as near_dup_pairs).
    cand = resilient_local_checkpoint(
        dedup.lsh_candidate_pairs(docs, "doc_id", "text"), eager=False
    )
    # Only candidate documents ever need bigrams: semi-filter before the
    # explode so the overlap joins shuffle candidate-doc bigrams, not the
    # whole corpus's (candidates ~ output-sized, corpus ~ 100 TB).
    ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # bg also feeds three consumers (both overlap joins + sizes); cut its
    # lineage too so the semi-join + explode runs once.
    bg = resilient_local_checkpoint(
        docs.join(ids, "doc_id", "left_semi")
        .select(
            "doc_id", F.explode(F.array_distinct(text.shingles("text", 2))).alias("bg")
        ),
        eager=False,
    )
    sizes = bg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_bg"))
    inter = (
        cand.join(bg.withColumnsRenamed({"doc_id": "id_a"}), "id_a")
        .join(bg.withColumnsRenamed({"doc_id": "id_b"}), ["id_b", "bg"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    joined = inter.join(
        sizes.withColumnsRenamed({"doc_id": "id_a", "n_bg": "n_a"}), "id_a"
    ).join(sizes.withColumnsRenamed({"doc_id": "id_b", "n_bg": "n_b"}), "id_b")
    p = F.col("n_common") / F.col("n_b")
    r = F.col("n_common") / F.col("n_a")
    return joined.select(
        "id_a",
        "id_b",
        "n_common",
        p.alias("rouge2_precision"),
        r.alias("rouge2_recall"),
        (F.lit(2.0) * p * r / (p + r)).alias("rouge2_f1"),
    ).orderBy("id_a", "id_b")


@query(
    "char_entropy_docs",
    category="llm-text",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, length(text)),
                                         i -> substr(text, i, 1))) AS ch
            FROM documents
        ),
        cnts AS (
            SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM chars GROUP BY doc_id, ch
        ),
        tot AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
            FROM cnts GROUP BY doc_id
        ),
        terms AS (
            SELECT c.doc_id,
                   CAST({sql_round_half_up(
                       "(c.cnt / t.n_total) * ln(c.cnt / t.n_total)", 9)}
                        AS DECIMAL(28,12)) AS term
            FROM cnts c JOIN tot t ON c.doc_id = t.doc_id
        )
        SELECT t.doc_id, t.n_total, t.n_distinct_chars,
               CAST(-SUM(s.term) AS DOUBLE) AS char_entropy_nats
        FROM terms s JOIN tot t ON s.doc_id = t.doc_id
        GROUP BY t.doc_id, t.n_total, t.n_distinct_chars
        ORDER BY t.doc_id
    """,
)
def char_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the cheap
    gibberish/compression detector every quality-filter stack carries:
    natural text sits in a narrow entropy band, base64 blobs and
    repeated-character junk fall far outside it.

    Determinism: each p·ln(p) term is floor-rounded to 9 digits and
    summed as DECIMAL, so the per-document sum is exact and
    order-independent — float accumulation order (the usual
    cross-engine killer for entropy) never appears. One explode to
    (doc, char) counts, two map-side-combinable groupBys; the char
    domain is tiny so the shuffles carry ~alphabet rows per doc."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.col("text").substr(i, F.lit(1)),
            )
        ).alias("ch"),
    )
    cnts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = cnts.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
    )
    p = F.col("cnt") / F.col("n_total")
    terms = cnts.join(tot, "doc_id").select(
        "doc_id",
        round_half_up(p * F.log(p), 9).cast("decimal(28,12)").alias("term"),
    )
    return (
        terms.groupBy("doc_id")
        .agg((-F.sum("term")).cast("double").alias("char_entropy_nats"))
        .join(tot, "doc_id")
        .select("doc_id", "n_total", "n_distinct_chars", "char_entropy_nats")
        .orderBy("doc_id")
    )


@query(
    "token_log_odds_by_source",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE source IN ('src0', 'src1')
        ),
        c AS (
            SELECT tok,
                   CAST(COUNT(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c1,
                   CAST(COUNT(*) FILTER (WHERE source = 'src1') AS BIGINT) AS c2
            FROM toks GROUP BY tok
        ),
        n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                     CAST(SUM(c2) AS BIGINT) AS n2 FROM c),
        s AS (
            SELECT c.tok, c.c1, c.c2,
                   (ln((CAST(c.c1 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                       / (CAST(n.n1 - c.c1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    - ln((CAST(c.c2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(n.n2 - c.c2 AS DOUBLE) + CAST(0.5 AS DOUBLE))))
                   / sqrt(CAST(1.0 AS DOUBLE)
                          / (CAST(c.c1 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                          + CAST(1.0 AS DOUBLE)
                            / (CAST(c.c2 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                       AS z_raw
            FROM c CROSS JOIN n
        )
        SELECT tok, c1, c2, {sql_round_half_up('z_raw', 6)} AS log_odds_z
        FROM s ORDER BY log_odds_z DESC, tok LIMIT 10
    """,
)
def token_log_odds_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary between two sources by smoothed log-odds
    ratio with an informative z-score (Monroe et al.'s 'Fightin'
    Words' keyness statistic, +0.5 smoothing) — the drift/keyness
    probe that surfaces which tokens make src0 read differently from
    src1, used for contamination triage and mixture debugging. Counts
    stay BIGINT to the end; the z expression evaluates on identical
    doubles (every literal CAST to DOUBLE in the oracle — bare 0.5
    would fold in DECIMAL on DuckDB).

    Scale: explode → one combinable conditional-count aggregate on the
    token vocabulary; the 1-row totals broadcast. Top-10 is a
    TakeOrdered over the vocabulary table."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = docs.select("source", F.explode(text.tokens("text")).alias("tok"))
    c = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    j = c.crossJoin(F.broadcast(n))
    c1d = F.col("c1").cast("double")
    c2d = F.col("c2").cast("double")
    half = F.lit(0.5)
    one = F.lit(1.0)
    delta = F.log(
        (c1d + half) / ((F.col("n1") - F.col("c1")).cast("double") + half)
    ) - F.log((c2d + half) / ((F.col("n2") - F.col("c2")).cast("double") + half))
    z = delta / F.sqrt(one / (c1d + half) + one / (c2d + half))
    return (
        j.select("tok", "c1", "c2", round_half_up(z, 6).alias("log_odds_z"))
        .orderBy(F.col("log_odds_z").desc(), "tok")
        .limit(10)
    )


@query(
    "lang_id_confusion",
    category="llm-text",
    oracle=f"""
        WITH pred AS ({_REG["lang_id_docs"].oracle}),
        j AS (
            SELECT d.lang AS true_lang, p.predicted
            FROM pred p JOIN documents d ON d.doc_id = p.doc_id
        ),
        conf AS (
            SELECT true_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
            FROM j GROUP BY true_lang, predicted
        ),
        tot AS (
            SELECT true_lang, CAST(SUM(n) AS BIGINT) AS n_true
            FROM conf GROUP BY true_lang
        )
        SELECT c.true_lang, c.predicted, c.n,
               {sql_round_half_up(
                   'CAST(c.n AS DOUBLE) / CAST(t.n_true AS DOUBLE)', 6)}
                   AS row_frac
        FROM conf c JOIN tot t ON t.true_lang = c.true_lang
        ORDER BY c.true_lang, c.predicted
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang_id_docs heuristic against the
    fixture's ground-truth language labels, with row-normalized
    fractions (per-language recall on the diagonal) — the evaluation
    loop that decides whether a cheap classifier is good enough to
    gate a corpus. Composes the verified lang-ID pipeline (its oracle
    is reused verbatim as a CTE); counts stay BIGINT and the row
    fraction is one exact-integer division.

    Scale: the predictor is a map-side expression over the scan; the
    confusion aggregate is |langs|² rows."""
    pred = lang_id_docs(spark, sf_dir).select("doc_id", "predicted")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    conf = (
        pred.join(docs, "doc_id")
        .groupBy("true_lang", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = conf.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    return (
        conf.join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "predicted",
            "n",
            round_half_up(
                F.col("n").cast("double") / F.col("n_true").cast("double"), 6
            ).alias("row_frac"),
        )
        .orderBy("true_lang", "predicted")
    )


@query(
    "heaps_law_vocab_growth",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        first_seen AS (
            SELECT tok, CAST(MIN(doc_id) AS BIGINT) AS first_doc
            FROM toks GROUP BY tok
        ),
        doc_tok AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
            FROM toks GROUP BY doc_id
        ),
        checkpoints AS (
            SELECT CAST(unnest([100, 200, 300, 400, 500]) AS BIGINT) AS c
        )
        SELECT cp.c AS n_docs_prefix,
               (SELECT CAST(SUM(n_toks) AS BIGINT) FROM doc_tok
                WHERE doc_id < cp.c) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen
                WHERE first_doc < cp.c) AS vocab_size
        FROM checkpoints cp
        ORDER BY n_docs_prefix
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): distinct-token count at
    doc-id-prefix checkpoints, computed WITHOUT re-scanning per
    checkpoint — each token contributes only its FIRST-appearance
    doc_id (a min aggregate), and every checkpoint then counts tokens
    whose first appearance precedes it. The sub-linearity of this
    curve is the sanity check that a corpus is natural text rather
    than noise (vocab ~ tokens^beta, beta < 1), and its flattening
    point sizes tokenizer vocab budgets.

    Scale: one explode + two combinable aggregates + a 5-row
    checkpoint probe — the per-checkpoint work is a filtered count of
    the token-vocabulary table, never a corpus re-scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    first_seen = toks.groupBy("tok").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    doc_tok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    cps = spark.createDataFrame([(c,) for c in (100, 200, 300, 400, 500)], "c long")
    tok_counts = (
        doc_tok.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") < F.col("c"))
        .groupBy("c")
        .agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    )
    vocab_counts = (
        first_seen.crossJoin(F.broadcast(cps))
        .filter(F.col("first_doc") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )
    return (
        cps.join(tok_counts, "c", "left")
        .join(vocab_counts, "c", "left")
        .select(
            F.col("c").alias("n_docs_prefix"), "n_tokens", "vocab_size"
        )
        .orderBy("n_docs_prefix")
    )


@query(
    "dataset_card_summary",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT d.doc_id, d.lang, d.source, d.text,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
            FROM documents d
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
            FROM per_doc
        ),
        v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
              FROM toks)
        SELECT s.n_docs, s.n_tokens, v.vocab_size, s.n_langs, s.n_sources,
               {sql_round_half_up(
                   'CAST(s.n_docs - s.n_unique_texts AS DOUBLE)'
                   ' / CAST(s.n_docs AS DOUBLE)', 6)} AS exact_dup_rate,
               {sql_round_half_up(
                   'CAST(s.n_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE)',
                   6)} AS mean_doc_tokens,
               {sql_round_half_up(
                   'CAST(v.vocab_size AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)',
                   6)} AS type_token_ratio
        FROM s CROSS JOIN v
    """,
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card: corpus size, token count, vocabulary,
    language/source cardinalities, exact-duplicate rate, mean document
    length, and type-token ratio — the header block of every dataset
    release document, computed in one pass plus a vocabulary count.
    All counts BIGINT; three exact-integer ratios.

    Scale: combinable aggregates + two COUNT(DISTINCT)s (hash +
    partial-distinct shuffles); swap approx_count_distinct in at
    extreme cardinalities — same plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    s = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(text.token_count("text")).cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_unique_texts"),
    )
    v = toks.agg(F.countDistinct("tok").cast("bigint").alias("vocab_size"))
    j = s.crossJoin(F.broadcast(v))
    return j.select(
        "n_docs",
        "n_tokens",
        "vocab_size",
        "n_langs",
        "n_sources",
        round_half_up(
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("exact_dup_rate"),
        round_half_up(
            F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_doc_tokens"),
        round_half_up(
            F.col("vocab_size").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
    )


_ZIPF_TOP = 1000
_ZIPF_DSUM = (
    "CAST(SUM(CAST(CASE WHEN isfinite({e}) THEN floor(({e}) * 1000000000.0"
    " + 0.5) / 1000000000.0 END AS DECIMAL(28,12))) AS DOUBLE)"
)


@query(
    "zipf_rank_frequency_fit",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
                FROM toks GROUP BY tok),
        top AS (SELECT tok, c,
                       row_number() OVER (ORDER BY c DESC, tok) AS r
                FROM cnt ORDER BY c DESC, tok LIMIT {_ZIPF_TOP}),
        terms AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
                         ln(CAST(c AS DOUBLE)) AS y
                  FROM top),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     {_ZIPF_DSUM.format(e="x")} AS sx,
                     {_ZIPF_DSUM.format(e="y")} AS sy,
                     {_ZIPF_DSUM.format(e="x * y")} AS sxy,
                     {_ZIPF_DSUM.format(e="x * x")} AS sxx,
                     {_ZIPF_DSUM.format(e="y * y")} AS syy
              FROM terms)
        SELECT n AS n_ranks,
               {sql_round_half_up(
                   "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope,
               {sql_round_half_up(
                   "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)"
                   " / n", 6)} AS intercept,
               {sql_round_half_up(
                   "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
                   " / ((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)}
                   AS r2
        FROM s
    """,
)
def zipf_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS of ln(frequency) on ln(rank) over the top
    1000 corpus token ranks — the rank-frequency twin of
    heaps_law_vocab_growth (slope ≈ −1 for natural language; a far
    shallower or steeper slope flags template spam or truncated
    vocabularies before tokenizer training). Fitting the HEAD is
    standard practice (the unigram tail departs from the power law)
    and is also what makes the plan scale: top-k, never a full-vocab
    rank.

    Determinism: every logarithm both engines take is ln of the SAME
    integer; the quadratic sums use the order-independent round9 →
    DECIMAL(28,12) recipe, then slope/intercept/r² are closed-form
    doubles from six scalars, gate-hashed raw.

    Scale: token counting is one combinable aggregate; the top-1000
    cut compiles to TakeOrderedAndProject (per-partition k-heaps, a
    k·partitions driver merge — no global sort). Ranks attach on the
    1000-row result via the bucketed two-phase row_number, and the
    OLS is a 1000-row aggregate."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        _bucketed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top = (
        cnt.orderBy(F.col("c").desc(), "tok")
        .limit(_ZIPF_TOP)
        .withColumn("negc", -F.col("c"))
    )
    ranked = _bucketed_row_number(top, "negc", "tok", F.col("negc"), "r")
    terms = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )

    def _dsum(col):
        return F.sum(round_half_up(col, 9).cast("decimal(28,12)")).cast("double")

    s = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x") * F.col("y")).alias("sxy"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        F.col("n").alias("n_ranks"),
        round_half_up(slope, 6).alias("slope"),
        round_half_up((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "intercept"
        ),
        round_half_up((cov * cov) / (varx * vary), 6).alias("r2"),
    )


_PMI_TOP_TOKENS = 100
_PMI_MIN_CO = 5
_PMI_TOP_PAIRS = 30


@query(
    "pmi_token_cooccurrence",
    category="llm-text",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY tok),
        top AS (SELECT tok, c FROM df
                ORDER BY c DESC, tok LIMIT {_PMI_TOP_TOKENS}),
        dtt AS (SELECT dt.doc_id, dt.tok, top.c
                FROM dt JOIN top ON top.tok = dt.tok),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS v
              FROM documents),
        co AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   MAX(a.c) AS c_a, MAX(b.c) AS c_b,
                   CAST(COUNT(*) AS BIGINT) AS c_ab
            FROM dtt a JOIN dtt b
              ON b.doc_id = a.doc_id AND a.tok < b.tok
            GROUP BY a.tok, b.tok)
        SELECT tok_a, tok_b, c_ab,
               {sql_round_half_up(
                   "ln(CAST(n.v * c_ab AS DOUBLE)"
                   " / CAST(c_a * c_b AS DOUBLE))", 6)} AS pmi
        FROM co CROSS JOIN n
        WHERE c_ab >= {_PMI_MIN_CO}
        ORDER BY ln(CAST(n.v * c_ab AS DOUBLE) / CAST(c_a * c_b AS DOUBLE))
                 DESC, tok_a, tok_b
        LIMIT {_PMI_TOP_PAIRS}
    """,
)
def pmi_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs (document-level
    co-occurrence of the top {_PMI_TOP_TOKENS} document-frequency
    tokens): PMI = ln(N·c_ab / (c_a·c_b)) — the classic collocation /
    word-association score (Church & Hanks 1990) that seeds phrase
    mining and embedding evaluation; distinct from
    mutual_information_source_lang, which scores two CATEGORICAL
    columns, not item pairs. Pairs with support ≥ {_PMI_MIN_CO} rank
    by PMI; top {_PMI_TOP_PAIRS} emitted.

    Determinism: every PMI is ln of ONE quotient of exact BIGINT
    products, identical IEEE on both engines; ordering ties break on
    the token pair.

    Scale: document-frequency counting is combinable; the restriction
    to a top-k vocabulary (TakeOrderedAndProject + broadcast semi
    join) bounds the pair join's fan-out per document at k, so the
    co-occurrence shuffle is O(docs · k²_present) with k fixed —
    never vocabulary × vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(text.tokens("text"))).alias("tok")
    )
    df_ = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top = df_.orderBy(F.col("c").desc(), "tok").limit(_PMI_TOP_TOKENS)
    dtt = dt.join(F.broadcast(top), "tok").select("doc_id", "tok", "c")
    n = docs.agg(F.count_distinct("doc_id").cast("bigint").alias("v"))
    a = dtt.select(
        F.col("doc_id"), F.col("tok").alias("tok_a"), F.col("c").alias("ca")
    )
    b = dtt.select(
        F.col("doc_id"), F.col("tok").alias("tok_b"), F.col("c").alias("cb")
    )
    co = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.max("ca").alias("c_a"),
            F.max("cb").alias("c_b"),
            F.count(F.lit(1)).cast("bigint").alias("c_ab"),
        )
    )
    pmi = F.log(
        (F.col("v") * F.col("c_ab")).cast("double")
        / (F.col("c_a") * F.col("c_b")).cast("double")
    )
    return (
        co.crossJoin(F.broadcast(n))
        .filter(F.col("c_ab") >= _PMI_MIN_CO)
        .withColumn("pmi_raw", pmi)
        .orderBy(F.col("pmi_raw").desc(), "tok_a", "tok_b")
        .limit(_PMI_TOP_PAIRS)
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            round_half_up(F.col("pmi_raw"), 6).alias("pmi"),
        )
    )

#: Adjacent symbol pairs of a word's current symbol array (every
#: position, overlapping included — standard BPE pair statistics).
_BPE_PAIRS = (
    "zip_with(slice(sym, 1, size(sym) - 1), slice(sym, 2, size(sym) - 1), "
    "(x, y) -> named_struct('a', x, 'b', y))"
)

#: Leftmost-first NON-overlapping application of the merge (pa, pb) to
#: the symbol array, as a single fold: carry (emitted, pending); a
#: pending pa followed by pb emits the merged symbol and clears the
#: carry, so in a run like 'aaa' only positions 1-2 merge — the exact
#: semantics of Sennrich et al.'s reference merge loop.
_BPE_MERGE = """aggregate(sym,
  named_struct('out', cast(array() as array<string>), 'pend', cast(null as string)),
  (acc, s) -> CASE
      WHEN acc.pend IS NULL THEN named_struct('out', acc.out, 'pend', s)
      WHEN acc.pend = pa AND s = pb THEN named_struct(
          'out', array_append(acc.out, concat(pa, pb)),
          'pend', cast(null as string))
      ELSE named_struct('out', array_append(acc.out, acc.pend), 'pend', s)
  END,
  acc -> CASE WHEN acc.pend IS NULL THEN acc.out
              ELSE array_append(acc.out, acc.pend) END)"""


def _bpe_round_sql(r: int) -> str:
    """One BPE learning round as DuckDB CTEs, on the POSITIONAL (word,
    pos, sym) representation — deliberately a different algorithm shape
    than the Spark fold (window-parity leftmost-nonoverlap instead of a
    sequential carry), so engine agreement is evidence, not mirroring.
    Overlapping matches chain only when a = b; within each maximal run
    of consecutive match positions the leftmost-nonoverlap winners are
    exactly the even offsets from the run start."""
    keep = f"""
        p{r} AS MATERIALIZED (
            SELECT x.sym AS a, y.sym AS b, SUM(x.wt) AS cnt
            FROM s{r} x JOIN s{r} y
              ON y.word = x.word AND y.pos = x.pos + 1
            GROUP BY 1, 2),
        t{r} AS MATERIALIZED (
            SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
        m{r} AS MATERIALIZED (
            SELECT word, pos FROM (
                SELECT word, pos,
                       pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
                FROM (SELECT mm.word, mm.pos,
                             mm.pos - ROW_NUMBER() OVER (
                                 PARTITION BY mm.word ORDER BY mm.pos) AS grp
                      FROM (SELECT x.word, x.pos
                            FROM s{r} x
                            JOIN s{r} y
                              ON y.word = x.word AND y.pos = x.pos + 1
                            CROSS JOIN t{r} t
                            WHERE x.sym = t.a AND y.sym = t.b) mm) q)
            WHERE off % 2 = 0)"""
    nxt = f""",
        s{r + 1} AS MATERIALIZED (
            SELECT word, wt,
                   ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
                   sym
            FROM (SELECT s.word, s.wt, s.pos,
                         CASE WHEN m.pos IS NOT NULL THEN t.a || t.b
                              ELSE s.sym END AS sym
                  FROM s{r} s
                  CROSS JOIN t{r} t
                  LEFT JOIN m{r} m
                    ON m.word = s.word AND m.pos = s.pos
                  LEFT JOIN m{r} mp
                    ON mp.word = s.word AND mp.pos = s.pos - 1
                  WHERE mp.pos IS NULL) u)"""
    return keep + (nxt if r < _BPE_ROUNDS - 1 else "")


_BPE_ORACLE = (
    """
        WITH base AS MATERIALIZED (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS wt
            FROM (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE word <> ''
            GROUP BY word),
        s0 AS MATERIALIZED (
            SELECT word, wt, pos, substring(word, pos, 1) AS sym
            FROM (SELECT word, wt,
                         unnest(generate_series(1, length(word))) AS pos
                  FROM base)),
    """
    + ",".join(_bpe_round_sql(r) for r in range(_BPE_ROUNDS))
    + """
        SELECT * FROM (
    """
    + " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS left_sym, "
        f"b AS right_sym, a || b AS merged_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(_BPE_ROUNDS)
    )
    + """
        ) ORDER BY merge_round
    """
)


@query("bpe_learn_merges", category="llm-text", oracle=_BPE_ORACLE)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING (Sennrich et al., ACL'16): learn the
    first 6 byte-pair merges of the corpus — per round, count adjacent
    symbol pairs weighted by word frequency, take the most frequent
    pair (ties broken lexicographically), and merge it everywhere
    (leftmost-first, non-overlapping) before the next count. Returns
    the learned merge table (round, pair, merged symbol, count) — the
    exact artifact a training pipeline ships to its tokenizer.

    The distributed shape is the one that matters at 100 TB: the
    corpus is touched ONCE (word-frequency aggregate, combinable);
    every learning round then runs on the VOCABULARY (words x current
    symbols), orders of magnitude smaller than the corpus, with the
    argmax pair as a 1-row broadcast onto the vocab (no driver
    round-trips — the whole 6-round train is one lazy DAG under the
    ``operators.rounds`` loop policy; each round's vocab (read by the
    pair count and the merge) and top pair (read by the merge and the
    merge table) are cut). Pair counting and the merge application are
    pure JVM higher-order array expressions (zip_with / aggregate fold),
    no Python workers.

    The DuckDB oracle replays learning on a POSITIONAL representation
    with window-parity non-overlap resolution — an independently
    derived algorithm, so cross-engine agreement checks the semantics,
    and the literal-python Sennrich loop in tests pins both.
    All-integer counts + lexicographic tie-break make every round
    deterministic in any engine."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wt"))
    )
    loop = Rounds()
    vocab = loop.cut(words.select("word", "wt", F.split("word", "").alias("sym")))
    out = None
    for r in range(_BPE_ROUNDS):
        pairs = vocab.select(
            "wt", F.explode(F.expr(_BPE_PAIRS)).alias("p")
        ).select("wt", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        top = loop.cut(
            pairs.groupBy("a", "b")
            .agg(F.sum("wt").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
        )
        row = top.select(
            F.lit(r).cast("bigint").alias("merge_round"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.concat("a", "b").alias("merged_sym"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionAll(row)
        if r < _BPE_ROUNDS - 1:
            vocab = loop.cut(
                vocab.crossJoin(
                    F.broadcast(
                        top.select(
                            F.col("a").alias("pa"), F.col("b").alias("pb")
                        )
                    )
                )
                .withColumn("sym", F.expr(_BPE_MERGE))
                .drop("pa", "pb")
            )
    return out.orderBy("merge_round")


@query(
    "feature_hashing_docs",
    category="llm-text",
    oracle="""
        WITH sample AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        toks AS (
            SELECT doc_id, md5('fh|' || t.tok) AS h
            FROM sample, unnest(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''),
        hashed AS (
            SELECT doc_id,
                   CAST('0x' || substring(h, 1, 8) AS BIGINT) % 64 AS bucket,
                   CASE WHEN CAST('0x' || substring(h, 9, 1) AS BIGINT) % 2
                             = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM toks)
        SELECT doc_id, bucket,
               CAST(SUM(sgn) AS BIGINT) AS weight,
               CAST(COUNT(*) AS BIGINT) AS n_terms
        FROM hashed
        GROUP BY doc_id, bucket
        ORDER BY doc_id, bucket
    """,
)
def feature_hashing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): tokens map to
    a FIXED 64-dim signed feature space via bucket = md5 mod 64 and a
    ±1 sign bit from the next hash digit — the vocabulary-free
    vectorizer used when a 100 TB corpus can't afford a fitted
    vocabulary (signs make collisions cancel in expectation, keeping
    inner products unbiased). Emitted sparse as (doc_id, bucket,
    weight, n_terms) for a deterministic 1/97 doc sample.

    Determinism: both engines take bucket and sign from the same md5
    hex prefix (F.conv ↔ '0x'||substr cast), weights are integer sums.

    Scale: one token explode → one combinable (doc, bucket) groupBy;
    output dimensionality is FIXED at 64 per doc regardless of corpus
    or vocabulary size (that is the point of the trick), so the shuffle
    carries at most 64 rows per document. The 1/97 sample bounds this
    demo's output only — the full-corpus path is the same plan."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    h = F.md5(F.concat(F.lit("fh|"), F.col("tok")))
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 64).alias(
            "bucket"
        ),
        F.when(
            F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("bigint").alias("weight"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
        .orderBy("doc_id", "bucket")
    )


#: ln(2) pre-folded to a Python literal so both engines divide by the
#: identical double (the Benford/log2-discount recipe).
_LN2 = 0.6931471805599453


@query(
    "js_divergence_sources",
    category="llm-text",
    oracle=f"""
        WITH toks AS (
            SELECT source, t.tok AS token
            FROM documents, unnest(string_split(text, ' ')) AS t(tok)
            WHERE t.tok <> ''),
        cnt AS (
            SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
        support AS (
            SELECT token FROM cnt
            GROUP BY token
            ORDER BY SUM(c) DESC, token LIMIT {_JSD_TOPK}),
        srcs AS (SELECT DISTINCT source FROM cnt),
        grid AS (
            SELECT s.source, v.token, COALESCE(cnt.c, 0) AS c
            FROM srcs s CROSS JOIN support v
            LEFT JOIN cnt ON cnt.source = s.source AND cnt.token = v.token),
        tot AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS n
            FROM grid GROUP BY source),
        probs AS (
            SELECT g.source, g.token,
                   CAST(g.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS p
            FROM grid g JOIN tot t ON t.source = g.source),
        terms AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   (CASE WHEN a.p > 0
                         THEN a.p * ln(a.p / ((a.p + b.p) / 2.0))
                         ELSE CAST(0.0 AS DOUBLE) END)
                   + (CASE WHEN b.p > 0
                          THEN b.p * ln(b.p / ((a.p + b.p) / 2.0))
                          ELSE CAST(0.0 AS DOUBLE) END) AS term
            FROM probs a JOIN probs b
              ON b.token = a.token AND a.source < b.source)
        SELECT source_a, source_b,
               {sql_round_half_up(
                   f"CAST(SUM(CAST({sql_round_half_up('term', 9)}"
                   " AS DECIMAL(28,12))) AS DOUBLE)"
                   f" / (2.0 * {_LN2!r})", 6)} AS jsd_bits
        FROM terms
        GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (in bits, so 0 = identical, 1 =
    disjoint) between every pair of sources' token distributions over
    the shared top-{_JSD_TOPK} support — the symmetric, bounded
    distribution distance used to pick mixture weights and detect
    source drift (PSI's multi-class sibling; unlike KL it never blows
    up on zero cells).

    Determinism: probabilities are single divisions of exact BIGINTs;
    each p·ln(p/m) term is one identical expression tree (shared libm
    ln), and the per-pair sum uses the order-independent 9-dp →
    DECIMAL(28,12) recipe before one division by the pre-folded 2·ln2
    literal.

    Scale: corpus-sized work is one combinable (source, token) count;
    everything after runs on the FIXED {_JSD_TOPK}-token support —
    grid is |sources|×K rows, the pair join is K rows per source pair
    (token-hash equi-join), never corpus-quadratic. Truncating to a
    top-K support is the standard practice for distribution distances
    over unbounded vocabularies (the tail mass is per-source
    negligible and the support is IDENTICAL for every pair, so
    comparisons stay apples-to-apples)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    cnt = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    support = (
        cnt.groupBy("token")
        .agg(F.sum("c").alias("g"))
        .orderBy(F.desc("g"), "token")
        .limit(_JSD_TOPK)
        .select("token")
    )
    srcs = cnt.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(support))
        .join(cnt, ["source", "token"], "left")
        .select("source", "token", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    probs = grid.join(F.broadcast(tot), "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
    )
    a, b = probs.alias("a"), probs.alias("b")
    m = (F.col("a.p") + F.col("b.p")) / F.lit(2.0)
    term = F.when(
        F.col("a.p") > 0, F.col("a.p") * F.log(F.col("a.p") / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("b.p") > 0, F.col("b.p") * F.log(F.col("b.p") / m)
    ).otherwise(
        F.lit(0.0)
    )
    terms = a.join(
        b,
        (F.col("b.token") == F.col("a.token"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        term.alias("term"),
    )
    return (
        terms.groupBy("source_a", "source_b")
        .agg(
            round_half_up(
                F.sum(
                    round_half_up(F.col("term"), 9).cast("decimal(28,12)")
                ).cast("double")
                / (F.lit(2.0) * F.lit(_LN2)),
                6,
            ).alias("jsd_bits")
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "wasserstein_doc_lengths",
    category="llm-text",
    oracle=f"""
        WITH hist AS (
            SELECT source, CAST(n_chars AS BIGINT) AS v,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM documents GROUP BY 1, 2),
        tot AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
            FROM hist GROUP BY 1),
        srcs AS (SELECT DISTINCT source FROM hist),
        pairs AS (
            SELECT a.source AS s1, b.source AS s2
            FROM srcs a JOIN srcs b ON a.source < b.source),
        e AS (
            SELECT p.s1, p.s2, h.v, h.cnt AS a1, CAST(0 AS BIGINT) AS a2
            FROM pairs p JOIN hist h ON h.source = p.s1
            UNION ALL
            SELECT p.s1, p.s2, h.v, CAST(0 AS BIGINT), h.cnt
            FROM pairs p JOIN hist h ON h.source = p.s2),
        g AS (
            SELECT s1, s2, v,
                   CAST(SUM(a1) AS BIGINT) AS a1,
                   CAST(SUM(a2) AS BIGINT) AS a2
            FROM e GROUP BY 1, 2, 3),
        c AS (
            SELECT s1, s2, v,
                   CAST(SUM(a1) OVER w AS BIGINT) AS c1,
                   CAST(SUM(a2) OVER w AS BIGINT) AS c2,
                   lead(v) OVER (PARTITION BY s1, s2 ORDER BY v) AS nv
            FROM g
            WINDOW w AS (PARTITION BY s1, s2 ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        segsum AS (
            SELECT c.s1, c.s2, t1.n AS n1, t2.n AS n2,
                   CAST(SUM(CASE WHEN c.nv IS NULL THEN 0
                        ELSE abs(c.c1 * t2.n - c.c2 * t1.n) * (c.nv - c.v)
                        END) AS BIGINT) AS mass
            FROM c
            JOIN tot t1 ON t1.source = c.s1
            JOIN tot t2 ON t2.source = c.s2
            GROUP BY 1, 2, 3, 4)
        SELECT s1, s2, n1, n2,
               {sql_round_half_up(
                   "CAST(mass AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)", 6)}
                   AS w1_chars
        FROM segsum ORDER BY s1, s2
    """,
)
def wasserstein_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between every pair of
    sources' document-length distributions: W1 = integral over v of
    |F1(v) - F2(v)| dv, evaluated exactly on the step ECDFs — the
    drift metric that, unlike KS's max gap or PSI's fixed bins, weighs
    HOW FAR mass must move, which is what matters when rebalancing a
    training mixture's length profile (the reference has no
    distribution-distance surface).

    Determinism: the integral is a sum of per-segment terms
    |c1*n2 - c2*n1| * (v_next - v), every factor BIGINT-exact; one
    final division by n1*n2 per pair.

    Scale: corpus rows feed one combinable (source, length) histogram;
    the pairwise stage runs on histogram rows (distinct lengths), with
    the ECDF walk window-partitioned by source pair and the histogram
    broadcast onto the |sources|^2/2-row pair list. At 100 TB the
    histogram is still ~|sources| x |distinct lengths| — KBs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(
            "source", F.col("n_chars").cast("bigint").alias("v")
        )
        .groupBy("source", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = hist.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    srcs = hist.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
    )
    zero = F.lit(0).cast("bigint")
    e1 = pairs.join(F.broadcast(hist), F.col("source") == F.col("s1")).select(
        "s1", "s2", "v", F.col("cnt").alias("a1"), zero.alias("a2")
    )
    e2 = pairs.join(F.broadcast(hist), F.col("source") == F.col("s2")).select(
        "s1", "s2", "v", zero.alias("a1"), F.col("cnt").alias("a2")
    )
    g = (
        e1.unionAll(e2)
        .groupBy("s1", "s2", "v")
        .agg(
            F.sum("a1").cast("bigint").alias("a1"),
            F.sum("a2").cast("bigint").alias("a2"),
        )
    )
    w_cum = (
        Window.partitionBy("s1", "s2")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_ord = Window.partitionBy("s1", "s2").orderBy("v")
    c = g.select(
        "s1",
        "s2",
        "v",
        F.sum("a1").over(w_cum).cast("bigint").alias("c1"),
        F.sum("a2").over(w_cum).cast("bigint").alias("c2"),
        F.lead("v").over(w_ord).alias("nv"),
    )
    t1 = tot.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    t2 = tot.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    seg = (
        c.join(F.broadcast(t1), "s1")
        .join(F.broadcast(t2), "s2")
        .groupBy("s1", "s2", "n1", "n2")
        .agg(
            F.sum(
                F.when(F.col("nv").isNull(), F.lit(0)).otherwise(
                    F.abs(
                        F.col("c1") * F.col("n2")
                        - F.col("c2") * F.col("n1")
                    )
                    * (F.col("nv") - F.col("v"))
                )
            )
            .cast("bigint")
            .alias("mass")
        )
    )
    return seg.select(
        "s1",
        "s2",
        "n1",
        "n2",
        round_half_up(
            F.col("mass").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double"),
            6,
        ).alias("w1_chars"),
    ).orderBy("s1", "s2")


@query(
    "jackknife_source_loo",
    category="llm-text",
    oracle=f"""
        WITH per_src AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s_chars
            FROM documents GROUP BY 1),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
                   CAST(SUM(s_chars) AS BIGINT) AS ss,
                   CAST(COUNT(*) AS BIGINT) AS g
            FROM per_src),
        loo AS (
            SELECT p.source, p.n_docs, t.g,
                   CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE) AS theta,
                   CAST(t.ss - p.s_chars AS DOUBLE)
                       / CAST(t.nn - p.n_docs AS DOUBLE) AS theta_i
            FROM per_src p CROSS JOIN tot t),
        m AS (
            SELECT CAST(SUM(CAST({sql_round_half_up("theta_i", 9)}
                       AS DECIMAL(28,12))) AS DOUBLE)
                       / CAST(MAX(g) AS DOUBLE) AS mean_loo
            FROM loo),
        sq AS (
            SELECT CAST(SUM(CAST({sql_round_half_up(
                       "(l.theta_i - m.mean_loo)"
                       " * (l.theta_i - m.mean_loo)", 9)}
                       AS DECIMAL(28,12))) AS DOUBLE) AS ssq,
                   CAST(MAX(l.g) AS DOUBLE) AS gd
            FROM loo l CROSS JOIN m)
        SELECT l.source, l.n_docs,
               {sql_round_half_up("l.theta_i", 6)} AS loo_mean,
               {sql_round_half_up("l.theta - l.theta_i", 6)} AS influence,
               {sql_round_half_up(
                   "sqrt((s.gd - 1.0) / s.gd * s.ssq)", 6)} AS jack_se
        FROM loo l CROSS JOIN sq s
        ORDER BY l.source
    """,
)
def jackknife_source_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife over sources for the corpus mean
    document length: each source's leave-one-out estimate
    theta_(i) = (S - s_i)/(N - n_i), its influence theta - theta_(i)
    (how much this source pulls the corpus statistic — the curation
    question "which source is distorting my length profile?"), and the
    grouped-jackknife standard error sqrt((G-1)/G * sum (theta_(i) -
    mean)^2) — resampling-free uncertainty for any ratio statistic,
    the natural companion to the Poisson bootstrap (which resamples
    ROWS; the jackknife here deletes whole CORRELATED groups).

    Determinism: per-source and grand totals are BIGINT; each
    theta_(i) is one exact division; the across-source mean and the
    squared-deviation sum accumulate 9-dp-rounded DECIMAL terms
    (order-independent, G terms), and the SE is one final expression.

    Scale: one combinable corpus pass; everything after runs on
    |sources| rows with 1-row broadcast totals."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("s_chars"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("nn"),
        F.sum("s_chars").cast("bigint").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    loo = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "g",
        (F.col("ss").cast("double") / F.col("nn").cast("double")).alias(
            "theta"
        ),
        (
            (F.col("ss") - F.col("s_chars")).cast("double")
            / (F.col("nn") - F.col("n_docs")).cast("double")
        ).alias("theta_i"),
    )
    m = loo.agg(
        (
            F.sum(round_half_up(F.col("theta_i"), 9).cast("decimal(28,12)"))
            .cast("double")
            / F.max("g").cast("double")
        ).alias("mean_loo")
    )
    dev = F.col("theta_i") - F.col("mean_loo")
    sq = loo.crossJoin(F.broadcast(m)).agg(
        F.sum(round_half_up(dev * dev, 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("ssq"),
        F.max("g").cast("double").alias("gd"),
    )
    se = F.sqrt(
        (F.col("gd") - F.lit(1.0)) / F.col("gd") * F.col("ssq")
    )
    return (
        loo.crossJoin(F.broadcast(sq))
        .select(
            "source",
            "n_docs",
            round_half_up(F.col("theta_i"), 6).alias("loo_mean"),
            round_half_up(F.col("theta") - F.col("theta_i"), 6).alias(
                "influence"
            ),
            round_half_up(se, 6).alias("jack_se"),
        )
        .orderBy("source")
    )


@query(
    "negative_sampling_unigram",
    category="llm-text",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        cnt AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok WHERE tok <> '' GROUP BY 1),
        vocab AS (
            SELECT tok, c,
                   CAST(row_number() OVER (ORDER BY c DESC, tok)
                       AS BIGINT) AS rn,
                   CAST({sql_round_half_up("pow(CAST(c AS DOUBLE),"
                       " CAST(0.75 AS DOUBLE))", 9)}
                       AS DECIMAL(28,12)) AS w
            FROM cnt QUALIFY rn <= 500),
        cdf AS (
            SELECT tok, c, rn, w,
                   SUM(w) OVER (ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS hi
            FROM vocab),
        tot AS (
            SELECT CAST(SUM(w) AS DOUBLE) AS t_d,
                   CAST(MAX(rn) AS BIGINT) AS max_rn
            FROM vocab),
        bounds AS (
            SELECT d.tok, d.c, d.rn, d.w,
                   CAST(d.hi - d.w AS DOUBLE) AS lo_d,
                   CASE WHEN d.rn = t.max_rn
                        THEN t.t_d * CAST(2.0 AS DOUBLE)
                        ELSE CAST(d.hi AS DOUBLE) END AS hi_d,
                   t.t_d
            FROM cdf d CROSS JOIN tot t),
        samples AS (
            SELECT CAST(unnest(range(1000)) AS BIGINT) AS s),
        draws AS (
            SELECT b.tok
            FROM samples s JOIN bounds b
              ON (CAST(CAST('0x' || substring(md5('neg:' ||
                      CAST(s.s AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                  / 1152921504606846976.0) * b.t_d >= b.lo_d
             AND (CAST(CAST('0x' || substring(md5('neg:' ||
                      CAST(s.s AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                  / 1152921504606846976.0) * b.t_d < b.hi_d),
        drawn AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_drawn
            FROM draws GROUP BY 1)
        SELECT b.tok AS token, b.c AS cnt,
               {sql_round_half_up(
                   "CAST(b.w AS DOUBLE) / b.t_d", 6)} AS share,
               COALESCE(d.n_drawn, CAST(0 AS BIGINT)) AS n_drawn
        FROM bounds b LEFT JOIN drawn d ON d.tok = b.tok
        ORDER BY token
    """,
)
def negative_sampling_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative sampling table: the top-500 vocabulary
    weighted by count^0.75 (Mikolov et al. 2013 — the exponent that
    up-weights rare words versus raw unigram draws), materialized as an
    exact cumulative-mass CDF, plus 1000 deterministic inverse-CDF
    draws placed by interval containment — the sampling primitive
    contrastive/embedding training consumes at corpus scale.

    Determinism: weights are 9-dp-rounded DECIMAL, the CDF is an exact
    decimal cumulative sum over the (count desc, token) total order,
    draw targets are the shared md5->[0,1) hash times the total mass
    (identical IEEE product), and containment compares the identical
    doubles both engines derive from the same decimals; the top
    bucket's upper bound is stretched to 2T so a draw rounding up to
    exactly T still lands.

    Scale: the corpus feeds one combinable token count; the CDF is 500
    rows and BROADCASTS onto the sample ids, so the draw join is a
    bounded nested-loop over 500 x samples — at 100 TB the vocab table
    is unchanged and samples explode linearly with requested draws,
    never with corpus size."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    cnt = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # 500-row vocab: global rank + cumulative mass run on the
    # aggregate, never on corpus rows
    w_rank = Window.orderBy(F.col("c").desc(), "tok")
    vocab = (
        cnt.select(
            "tok",
            "c",
            F.row_number().over(w_rank).cast("bigint").alias("rn"),
            round_half_up(
                F.pow(F.col("c").cast("double"), F.lit(0.75)), 9
            )
            .cast("decimal(28,12)")
            .alias("w"),
        )
        .filter(F.col("rn") <= 500)
    )
    w_cum = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    cdf = vocab.select(
        "tok", "c", "rn", "w", F.sum("w").over(w_cum).alias("hi")
    )
    tot = vocab.agg(
        F.sum("w").cast("double").alias("t_d"),
        F.max("rn").cast("bigint").alias("max_rn"),
    )
    bounds = cdf.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c",
        "rn",
        "w",
        (F.col("hi") - F.col("w")).cast("double").alias("lo_d"),
        F.when(
            F.col("rn") == F.col("max_rn"),
            F.col("t_d") * F.lit(2.0),
        )
        .otherwise(F.col("hi").cast("double"))
        .alias("hi_d"),
        "t_d",
    )
    samples = spark.range(0, 1000).select(F.col("id").alias("s"))
    target = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("neg:"), F.col("s").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(1152921504606846976.0)
    ) * F.col("t_d")
    draws = samples.join(
        F.broadcast(bounds),
        (target >= F.col("lo_d")) & (target < F.col("hi_d")),
    ).select("tok")
    drawn = draws.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_drawn")
    )
    return (
        bounds.join(F.broadcast(drawn), "tok", "left")
        .select(
            F.col("tok").alias("token"),
            F.col("c").alias("cnt"),
            round_half_up(
                F.col("w").cast("double") / F.col("t_d"), 6
            ).alias("share"),
            F.coalesce(F.col("n_drawn"), F.lit(0).cast("bigint")).alias(
                "n_drawn"
            ),
        )
        .orderBy("token")
    )


@query(
    "naive_bayes_source_classify",
    category="llm-text",
    oracle=f"""
        WITH dt AS (
            SELECT doc_id, source, tok,
                   CAST(COUNT(*) AS BIGINT) AS cnt_dt
            FROM (SELECT doc_id, source,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> '' GROUP BY 1, 2, 3),
        cst AS (
            SELECT source AS s, tok, CAST(SUM(cnt_dt) AS BIGINT) AS c
            FROM dt GROUP BY 1, 2),
        ns AS (
            SELECT s, CAST(SUM(c) AS BIGINT) AS n_s
            FROM cst GROUP BY 1),
        vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cst),
        prior AS (
            SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS d_s
            FROM documents GROUP BY 1),
        dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
        scores AS (
            SELECT dt.doc_id, dt.source AS true_src, ns.s AS cand,
                   SUM(dt.cnt_dt * CAST({sql_round_half_up(
                       "ln(CAST(COALESCE(cst.c, 0) + 1 AS DOUBLE)"
                       " / CAST(ns.n_s + vv.v AS DOUBLE))", 9)}
                       AS DECIMAL(28,12))) AS lsum
            FROM dt
            CROSS JOIN ns CROSS JOIN vv
            LEFT JOIN cst ON cst.s = ns.s AND cst.tok = dt.tok
            GROUP BY 1, 2, 3),
        posts AS (
            SELECT sc.doc_id, sc.true_src, sc.cand,
                   sc.lsum + CAST({sql_round_half_up(
                       "ln(CAST(p.d_s AS DOUBLE)"
                       " / CAST(dtot.d AS DOUBLE))", 9)}
                       AS DECIMAL(28,12)) AS post
            FROM scores sc
            JOIN prior p ON p.s = sc.cand CROSS JOIN dtot),
        pred AS (
            SELECT doc_id, true_src, cand AS pred_src,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY post DESC, cand) AS rn
            FROM posts)
        SELECT true_src, pred_src, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred WHERE rn = 1
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def naive_bayes_source_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained and evaluated in-engine: learn
    add-1-smoothed per-source token likelihoods P(t|s) =
    (c_st+1)/(n_s+V) and document priors, score every document against
    every source, and report the source-level confusion matrix of the
    argmax predictions — supervised text classification as a pure
    DataFrame program (train = two combinable count tables; predict =
    equi-joins + a per-doc rank), the companion to the unsupervised
    lang-ID and k-NN queries.

    Determinism: all counts are BIGINT; each log-likelihood and the
    log-prior are identical IEEE expressions 9-dp-rounded into
    DECIMAL(28,12); per-(doc, candidate) sums weight the decimal by the
    BIGINT term count (exact); the argmax orders exact decimals with a
    candidate-name tie-break.

    Scale: the corpus feeds (doc, token) and (source, token) counts —
    both combinable, shuffling tokens, never text. Scoring joins the
    doc-token table against the |sources|-row broadcast and the
    model equi-keyed on (source, token): rows = doc-token pairs x
    |sources|, linear in corpus tokens with a constant class factor;
    the model table is vocab-sized (broadcastable at any corpus
    size)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_dt"))
    )
    cst = dt.groupBy(F.col("source").alias("s"), "tok").agg(
        F.sum("cnt_dt").cast("bigint").alias("c")
    )
    ns = cst.groupBy("s").agg(F.sum("c").cast("bigint").alias("n_s"))
    vv = cst.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    prior = docs.groupBy(F.col("source").alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d_s")
    )
    dtot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    loglik = round_half_up(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("n_s") + F.col("v")).cast("double")
        ),
        9,
    ).cast("decimal(28,12)")
    scores = (
        dt.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(vv))
        .join(
            cst.withColumnRenamed("s", "cs"),
            (F.col("cs") == F.col("s")) & (cst["tok"] == dt["tok"]),
            "left",
        )
        .groupBy(
            "doc_id", F.col("source").alias("true_src"), F.col("s").alias("cand")
        )
        .agg(F.sum(F.col("cnt_dt") * loglik).alias("lsum"))
    )
    logprior = round_half_up(
        F.log(F.col("d_s").cast("double") / F.col("d").cast("double")), 9
    ).cast("decimal(28,12)")
    posts = (
        scores.join(
            F.broadcast(prior.withColumnRenamed("s", "ps")),
            F.col("ps") == F.col("cand"),
        )
        .crossJoin(F.broadcast(dtot))
        .select(
            "doc_id",
            "true_src",
            "cand",
            (F.col("lsum") + logprior).alias("post"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("post").desc(), "cand")
    pred = posts.select(
        "true_src",
        F.col("cand").alias("pred_src"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        pred.groupBy("true_src", "pred_src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_src", "pred_src")
    )


@query(
    "quantile_normalize_lengths",
    category="llm-text",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v,
                   CAST(row_number() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id) AS BIGINT) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_s
            FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
        hist AS (
            SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                   CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_prev
            FROM (SELECT CAST(n_chars AS BIGINT) AS v,
                         CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM documents GROUP BY 1)),
        mapped AS (
            SELECT rk.source, rk.v AS orig, h.v AS norm
            FROM ranked rk
            CROSS JOIN tot t
            JOIN hist h
              ON (rk.r * t.nn + rk.n_s - 1) // rk.n_s > h.cum_prev
             AND (rk.r * t.nn + rk.n_s - 1) // rk.n_s <= h.cum)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {sql_round_half_up(
                   "CAST(SUM(orig) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_orig,
               {sql_round_half_up(
                   "CAST(SUM(norm) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_norm,
               {sql_round_half_up(
                   "CAST(SUM(abs(norm - orig)) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_abs_shift
        FROM mapped GROUP BY 1 ORDER BY source
    """,
)
def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of document lengths: each
    document's length maps to the GLOBAL length at its within-source
    quantile (nearest-rank k = ceil(r/n_s * N), all-integer), the
    genomics-standard transform (quantile normalization, Bolstad 2003)
    that forces every source onto the same length distribution before
    mixing — reported as per-source mean original/normalized lengths
    and the mean absolute shift (how much each source's profile had to
    move, i.e. the actionable curation signal).

    Determinism: ranks, nearest-rank targets, and the global
    cumulative histogram are BIGINT (the (r*N + n_s - 1) // n_s form —
    never ceil of an IEEE product); the mapping join is integer
    interval containment; only the three final means divide.

    Scale: per-source ranking windows run over doc rows partitioned by
    source; the global walk runs on the DISTINCT-length histogram
    (hundreds of rows), which broadcasts onto the interval-containment
    join — corpus rows never enter a non-equi join with anything
    bigger than the histogram."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("v"),
        F.row_number().over(w_rank).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n_s"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    hist_base = docs.groupBy(F.col("n_chars").cast("bigint").alias("hv")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w_cum = Window.orderBy("hv").rowsBetween(Window.unboundedPreceding, 0)
    w_prev = Window.orderBy("hv").rowsBetween(Window.unboundedPreceding, -1)
    hist = hist_base.select(
        "hv",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("cum_prev"),
    )
    k = F.floor(
        (F.col("r") * F.col("nn") + F.col("n_s") - 1) / F.col("n_s")
    ).cast("bigint")
    mapped = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("k", k)
        .join(
            F.broadcast(hist),
            (F.col("k") > F.col("cum_prev")) & (F.col("k") <= F.col("cum")),
        )
        .select(
            "source",
            F.col("v").alias("orig"),
            F.col("hv").alias("norm"),
        )
    )
    cnt = F.count(F.lit(1))
    return (
        mapped.groupBy("source")
        .agg(
            cnt.cast("bigint").alias("n_docs"),
            round_half_up(
                F.sum("orig").cast("double") / cnt.cast("double"), 6
            ).alias("mean_orig"),
            round_half_up(
                F.sum("norm").cast("double") / cnt.cast("double"), 6
            ).alias("mean_norm"),
            round_half_up(
                F.sum(F.abs(F.col("norm") - F.col("orig"))).cast("double")
                / cnt.cast("double"),
                6,
            ).alias("mean_abs_shift"),
        )
        .orderBy("source")
    )


@query(
    "vocab_coverage_p90",
    category="llm-text",
    oracle="""
        WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
        c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM t GROUP BY 1, 2),
        r AS (SELECT source, tok, cnt,
                     CAST(row_number() OVER win AS BIGINT) AS rn,
                     CAST(SUM(cnt) OVER (win ROWS UNBOUNDED PRECEDING)
                         AS BIGINT) AS cum
              FROM c
              WINDOW win AS (PARTITION BY source ORDER BY cnt DESC, tok)),
        tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
                       CAST(COUNT(*) AS BIGINT) AS vocab_size
                FROM c GROUP BY 1)
        SELECT r.source, tot.total_tokens, tot.vocab_size,
               CAST(MIN(r.rn) AS BIGINT) AS n_types_p90
        FROM r JOIN tot ON r.source = tot.source
        WHERE r.cum * 10 >= 9 * tot.total_tokens
        GROUP BY 1, 2, 3 ORDER BY r.source
    """,
)
def vocab_coverage_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus vocabulary coverage per source: the smallest number of
    word types that covers >= 90% of token OCCURRENCES — the
    tokenizer-budget statistic behind vocabulary sizing and the
    head-heaviness complement of zipf_rank_frequency_fit. Ranking is
    the total order (count DESC, token ASC) both engines replay, and
    the 90% cut is the all-integer predicate cum·10 >= 9·total, so no
    percentage float ever materializes.

    Scale: tokens reduce to a (source, type) count table (combinable),
    and the rank/cumsum window is PARTITIONED BY source over vocab-sized
    (not corpus-sized) input — the same two-phase shape as the BPE and
    vocab-induction queries."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    win = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "tok")
    ranked = counts.select(
        "source",
        "cnt",
        F.row_number().over(win).cast("bigint").alias("rn"),
        F.sum("cnt")
        .over(win.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
    )
    tot = counts.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )
    return (
        ranked.join(tot, "source")
        .filter(F.col("cum") * 10 >= 9 * F.col("total_tokens"))
        .groupBy("source", "total_tokens", "vocab_size")
        .agg(F.min("rn").cast("bigint").alias("n_types_p90"))
        .orderBy("source")
    )


def _decode_oracle() -> str:
    levels = []
    for s in range(1, _DECODE_STEPS + 1):
        levels.append(
            f"s{s} AS MATERIALIZED (SELECT b.w2 AS token FROM bi b, s{s - 1} p "
            f"WHERE b.w1 = p.token ORDER BY b.cnt DESC, b.w2 LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS step, token FROM s{s}"
        for s in range(_DECODE_STEPS + 1)
    )
    return f"""
        WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
        pairs AS (
            SELECT words[i] AS w1, words[i + 1] AS w2
            FROM w, LATERAL (SELECT unnest(generate_series(1, len(words) - 1))
                             AS i) r
            WHERE len(words) >= 2),
        bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM pairs GROUP BY 1, 2),
        uni AS (SELECT w1 AS token, CAST(SUM(cnt) AS BIGINT) AS c
                FROM bi GROUP BY 1),
        s0 AS MATERIALIZED (SELECT token FROM uni ORDER BY c DESC, token
                            LIMIT 1),
        {", ".join(levels)}
        {union}
        ORDER BY step
    """


@query("bigram_greedy_decode", category="llm-text", oracle=_decode_oracle())
def bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy autoregressive DECODING from the corpus bigram model: seed
    with the most frequent bigram-head token, then 8 steps of
    argmax-successor generation — the in-engine counterpart of running
    inference on the n-gram LM the pipeline's perplexity rows score
    (deterministic decoding; sampling variants swap the argmax for the
    md5-CDF draw negative_sampling_unigram already pins). Each step is
    the established iterative-argmax pattern: a total order
    (count DESC, token ASC) ranked by orderBy+limit(1) =
    TakeOrderedAndProject, whose 1-row result broadcast-joins into the
    next step — no driver collect, no partition-less window; the
    oracle replays the chain through MATERIALIZED CTE levels.

    Seed note: the seed maximizes bigram-HEAD frequency (Σ successor
    counts) so the seed is guaranteed a successor; a document-final
    token can never strand the decode.

    Scale: the corpus reduces to the bigram count table once
    (combinable, cut under the ``operators.rounds`` loop policy); each
    of the 9 steps touches only that table, and each step's 1-row token
    is cut (the next step and the output union both read it)."""
    from pipeline_query_engine_demo_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(F.explode(shingles(F.col("text"), 2)).alias("bg"))
    loop = Rounds()
    bigrams = loop.cut(
        bg.select(
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("bg"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    uni = bigrams.groupBy(F.col("w1").alias("token")).agg(
        F.sum("cnt").cast("bigint").alias("c")
    )
    cur = (
        uni.orderBy(F.col("c").desc(), "token")
        .limit(1)
        .select(F.lit(0).cast("bigint").alias("step"), "token")
    )
    outs = [cur]
    for s in range(1, _DECODE_STEPS + 1):
        cur = loop.cut(
            bigrams.join(
                F.broadcast(cur.select(F.col("token").alias("w1"))), "w1"
            )
            .orderBy(F.col("cnt").desc(), "w2")
            .limit(1)
            .select(F.lit(s).cast("bigint").alias("step"), F.col("w2").alias("token"))
        )
        outs.append(cur)
    out = outs[0]
    for nxt in outs[1:]:
        out = out.unionByName(nxt)
    return out.orderBy("step")
