"""Training-corpus curation operators, round 3 additions.

Beyond the reference's operator surface (its entire executor is
``src/executor/mod.rs``), a 100 TB training-data pipeline needs
corpus-hygiene passes. This module adds the ones not yet covered by
plans/llm.py: span-level exact dedup (the C4/"one copy of every
3-sentence span" shape, adapted to fixed 10-word spans since fixture
docs are single-line), a smoothed bigram language-model scorer (the
classic perplexity quality filter), a blocklist/badword ratio filter,
and a deterministic per-source quota cap.

All four are pure JVM DataFrame ops (split/transform/slice/windows) —
no Python in the hot path — and follow the registry determinism
contract (ordered aggregation via sorted structs, ln terms rounded to
9 decimals before DECIMAL accumulation; see plans.registry and
unigram_surprisal_scores in plans/llm.py for the proven float rules).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.functions.text import let
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import load_table

#: Span width (in whitespace tokens) for span-level exact dedup.
SPAN_WORDS = 10

#: Demo blocklist over the fixture vocabulary. In production this is a
#: broadcast list of a few thousand terms — same plan shape.
BLOCKLIST = ("slow", "big")


@query(
    "span_dedup_docs",
    category="llm-dedup",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        spans AS (
            SELECT doc_id, s.g AS span_idx,
                   array_to_string(w[(s.g*{SPAN_WORDS}+1):(s.g*{SPAN_WORDS}+{SPAN_WORDS})], ' ') AS span
            FROM words,
                 LATERAL (SELECT unnest(generate_series(
                     0, CAST(ceil(len(w) / {SPAN_WORDS}.0) AS BIGINT) - 1)) AS g) s
        ),
        ranked AS (
            SELECT doc_id, span_idx, span,
                   row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
            FROM spans
        )
        SELECT doc_id,
               COUNT(*) AS n_spans,
               COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
               COALESCE(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE rn = 1), '')
                 AS cleaned_text
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (C4-style): the corpus keeps exactly ONE
    occurrence of every {SPAN_WORDS}-word span — the lexicographically
    first (doc_id, span_idx) wins — and each document is reassembled
    from its surviving spans.

    Scale shape: docs explode into ~tokens/{SPAN_WORDS} span rows (10×
    smaller than a token explode); the only wide ops are one window
    shuffle hashed on the span text (global first-occurrence) and one
    groupBy doc_id (reassembly). No all-pairs comparison anywhere; a
    degenerate viral span lands in one partition but costs O(copies),
    not O(copies²).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # let-bound so the split runs once per document, not once per span
    # (an interpreted-lambda capture re-evaluates it per element).
    def _spans(ws):
        n_spans = F.ceil(F.size(ws) / F.lit(float(SPAN_WORDS))).cast("bigint")
        return F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_spans - 1),
            lambda i: F.array_join(
                F.slice(ws, (i * SPAN_WORDS + 1).cast("int"), SPAN_WORDS), " "
            ),
        )

    spans = (
        docs.select(
            "doc_id",
            F.posexplode(
                let(F.split(F.col("text"), " "), _spans)
            ).alias("span_idx", "span"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("span").orderBy("doc_id", "span_idx")
    )
    ranked = spans.withColumn("rn", rn)
    kept_struct = F.when(F.col("rn") == 1, F.struct("span_idx", "span"))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("rn") == 1, F.lit(1))).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["span"]
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "bigram_lm_perplexity",
    category="llm-text",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        big AS (
            SELECT doc_id, w[s.g] || ' ' || w[s.g+1] AS bigram, w[s.g] AS w1
            FROM words,
                 LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS g) s
            WHERE len(w) >= 2
        ),
        c2 AS (SELECT bigram, COUNT(*) AS cnt2 FROM big GROUP BY bigram),
        c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM big GROUP BY w1),
        v AS (SELECT COUNT(DISTINCT word) AS vocab
              FROM (SELECT unnest(w) AS word FROM words)),
        terms AS (
            SELECT b.doc_id,
                   CASE WHEN isfinite(-ln((c2.cnt2 + 0.5) / (c1.cnt1 + 0.5 * v.vocab))) THEN floor((-ln((c2.cnt2 + 0.5) / (c1.cnt1 + 0.5 * v.vocab))) * 1000000000.0 + 0.5) / 1000000000.0 END AS term
            FROM big b JOIN c2 USING (bigram) JOIN c1 USING (w1), v
        )
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               CASE WHEN isfinite(CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) THEN floor((CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 END
                 AS avg_nll
        FROM terms
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: train add-0.5-smoothed
    bigram conditionals C(w1,w2)/C(w1·) on the corpus itself, then score
    each document by its average negative log-probability (low = fluent
    under corpus statistics, high = anomalous — the classic KenLM-style
    perplexity filter, here with the LM trained in the same engine).

    Scale shape: one bigram explode feeds both count tables (partial
    aggs shuffle counts, not text); the scorer is two equi-joins on
    bigram/context plus a 1-row vocab broadcast. Float determinism:
    each -ln(p) term is rounded to 9 decimals, accumulated as
    DECIMAL(28,12), divided after a cast — the order-independent float
    sum recipe proven by unigram_surprisal_scores (plans/llm.py).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    tokens = docs.select("doc_id", words.alias("w"))
    big = (
        tokens.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.concat_ws(" ", F.col("w")[i], F.col("w")[i + 1]).alias("bigram"),
                        F.col("w")[i].alias("w1"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.bigram", "b.w1")
    )
    c2 = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    vocab = (
        tokens.select(F.explode("w").alias("word"))
        .agg(F.countDistinct("word").alias("vocab"))
    )
    p = (F.col("cnt2") + F.lit(0.5)) / (F.col("cnt1") + F.lit(0.5) * F.col("vocab"))
    terms = (
        big.join(c2, "bigram")
        .join(c1, "w1")
        .join(F.broadcast(vocab))
        .select("doc_id", round_half_up(-F.log(p), 9).alias("term"))
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(
                F.sum(F.col("term").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "blocklist_filter_docs",
    category="llm-text",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   x -> list_contains({list(BLOCKLIST)!r}, x))) AS hits,
               CAST(len(list_filter(string_split(text, ' '),
                   x -> list_contains({list(BLOCKLIST)!r}, x))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS bad_ratio,
               CAST(len(list_filter(string_split(text, ' '),
                   x -> list_contains({list(BLOCKLIST)!r}, x))) AS DOUBLE)
                 / len(string_split(text, ' ')) <= 0.08 AS keep
        FROM documents
        ORDER BY doc_id
    """,
)
def blocklist_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist/badword-ratio filter: per-document hit count and ratio
    against a term blocklist, with a keep flag at ratio <= 0.08. Pure
    map-side higher-order-function expression (split -> filter ->
    size) — zero shuffles, scales exactly with the scan; a production
    blocklist of thousands of terms broadcasts as an array literal or
    a broadcast join on token."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    block = F.array(*[F.lit(w) for w in BLOCKLIST])
    hits = F.size(F.filter(words, lambda x: F.array_contains(block, x)))
    ratio = hits.cast("double") / F.size(words)
    return docs.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        hits.alias("hits"),
        ratio.alias("bad_ratio"),
        (ratio <= 0.08).alias("keep"),
    ).orderBy("doc_id")


@query(
    "per_source_quota_sample",
    category="llm-sampling",
    oracle="""
        SELECT doc_id, source, rn AS quota_rank
        FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        WHERE rn <= 5
        ORDER BY source, quota_rank, doc_id
    """,
)
def per_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: keep at most 5 documents per source,
    chosen by md5(doc_id) order — a deterministic, repartition-proof
    "uniform" pick (same property as deterministic_sample_docs) that
    caps over-represented sources in a training mixture.

    Scale shape: one window shuffle hashed on source. If one source
    dominates the corpus, swap the exact window for the two-phase
    per-partition top-k used by operators/similarity._topk_per_query —
    semantics identical because md5 order is global, not positional."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    return (
        docs.withColumn("quota_rank", rn)
        .filter(F.col("quota_rank") <= 5)
        .select("doc_id", "source", "quota_rank")
        .orderBy("source", "quota_rank", "doc_id")
    )


@query(
    "train_val_test_split",
    category="llm-sampling",
    oracle="""
        SELECT doc_id, source,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 2) < 'cc'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 2) < 'e6'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by hashing the
    document id with a salted version tag — stable under repartitioning,
    re-runs, and corpus growth (a doc never changes split when other
    docs arrive), which is the property cross-contamination audits
    need. Pure map-side expression; zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split-v1"))), 1, 2)
    return (
        docs.select(
            "doc_id",
            "source",
            F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test").alias("split"),
        )
        .orderBy("doc_id")
    )


@query(
    "semantic_dedup_embeddings",
    category="llm-dedup",
    oracle="""
        WITH c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
                             AND embedding[1] >= embedding[4] THEN 0
                        WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
                        WHEN embedding[3] >= embedding[4] THEN 2
                        ELSE 3 END AS cell
            FROM embeddings
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE CASE WHEN isfinite(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) THEN floor((list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0 + 0.5) / 1000000.0 END >= 0.4
        )
        SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
        FROM c LEFT JOIN dropped d ON c.vec_id = d.vec_id
        ORDER BY c.vec_id
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication: vectors are clustered into
    IVF cells (broadcast one-hot centroids, map-side argmax — see
    ivf_assign_embeddings), and within each cell any vector whose cosine
    to a LOWER-id cell-mate reaches the threshold is dropped (greedy
    keep-first, the standard SemDedup rule). Cosine is only ever
    computed inside a cell — the self-join is keyed on cell id, so the
    comparison count is sum(cell²) not corpus²; at 100 TB the cell
    count grows with the corpus (trained k-means — kmeans_train_embeddings
    — replaces the fixed demo centroids) keeping cells bounded.

    Threshold 0.4 matches embedding_near_dup_pairs (fixture vectors are
    near-orthogonal; production uses ~0.95+)."""
    from pipeline_query_engine_demo_spark.functions.vectors import dot, norm
    from pipeline_query_engine_demo_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cells = similarity.ivf_assign(emb, "vec_id", "embedding", similarity_centroids())
    # Norms are computed ONCE per vector here, not per pair inside the
    # self-join (cuts the per-pair HOF work from 3 folds to 1), and the
    # tiny (id, vec, cell, norm) table is checkpointed so the join's two
    # branches don't each re-run the scan + centroid assignment.
    # dot/(na*nb) is the same IEEE expression the oracle's
    # dot/(sqrt(dot)*sqrt(dot)) evaluates, so rounding still matches.
    vecs = resilient_local_checkpoint(
        emb.select("vec_id", "embedding")
        .join(cells, "vec_id")
        .withColumn("_norm", norm("embedding")),
        eager=False,
    )
    a = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"), "cell",
        F.col("_norm").alias("_na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"), "cell",
        F.col("_norm").alias("_nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            round_half_up(
                dot(F.col("_va"), F.col("_vb"))
                / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                6,
            )
            >= 0.4
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        vecs.join(dropped, "vec_id", "left")
        .select("vec_id", "cell", F.col("_dropped").isNull().alias("kept"))
        .orderBy("vec_id")
    )


def similarity_centroids():
    """The 4 one-hot demo centroids shared with the IVF queries
    (plans/llm.py IVF_CENTROIDS) — re-derived here to avoid an import
    cycle at module-registration time."""
    from pipeline_query_engine_demo_spark.plans.llm import IVF_CENTROIDS

    return IVF_CENTROIDS


@query(
    "gopher_quality_filter",
    category="llm-text",
    oracle="""
        WITH w AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
            FROM documents
        ),
        sig AS (
            SELECT doc_id, source,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CASE WHEN isfinite(CAST(CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT) AS DOUBLE) / len(words)) THEN floor((CAST(CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT) AS DOUBLE) / len(words)) * 1000000.0 + 0.5) / 1000000.0 END AS mean_word_len,
                   CASE WHEN isfinite(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(words)) THEN floor((CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(words)) * 1000000.0 + 0.5) / 1000000.0 END AS alpha_word_frac,
                   CAST(len(list_filter(['the', 'a'], s -> list_contains(words, s))) AS BIGINT)
                       AS stopword_hits
            FROM w
        )
        SELECT doc_id, source, n_words, mean_word_len, alpha_word_frac, stopword_hits,
               (n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3 AND 10
                AND alpha_word_frac >= 0.8
                AND stopword_hits >= 2) AS kept
        FROM sig
        ORDER BY doc_id
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality filter (Rae et al. 2021, published
    heuristics): word-count bounds [50, 100k], mean word length [3, 10],
    >=80% words containing an alphabetic character, and >=2 distinct
    stop words present. The stop list is adapted to the synthetic
    fixture vocabulary ('the', 'a' are its only function words); the
    production list is Gopher's eight — same expressions, longer
    literal.

    Scale: every signal is a higher-order-function expression over one
    whitespace split — zero shuffles, zero Python, computed in a single
    map-side pass over the scan; the filter prunes before anything
    downstream shuffles. At 100 TB this is scan-bound, the ideal shape
    for a first-pass quality gate."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.expr(r"filter(split(text, '\\s+'), x -> x != '')")
    sig = docs.select(
        "doc_id",
        "source",
        words.alias("words"),
    ).select(
        "doc_id",
        "source",
        F.size("words").cast("bigint").alias("n_words"),
        round_half_up(
            F.expr("cast(aggregate(words, 0L, (acc, x) -> acc + length(x)) as double)")
            / F.size("words"),
            6,
        ).alias("mean_word_len"),
        round_half_up(
            F.expr("cast(size(filter(words, x -> x rlike '[a-z]')) as double)")
            / F.size("words"),
            6,
        ).alias("alpha_word_frac"),
        F.expr("cast(size(filter(array('the', 'a'), s -> array_contains(words, s))) as bigint)").alias(
            "stopword_hits"
        ),
    )
    return sig.select(
        "*",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("alpha_word_frac") >= 0.8)
            & (F.col("stopword_hits") >= 2)
        ).alias("kept"),
    ).orderBy("doc_id")


@query(
    "fuzzy_name_match_pairs",
    category="llm-dedup",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        grams AS (
            SELECT name, unnest(list_distinct(
                       list_transform(range(1, len(name) - 1),
                                      i -> substring(name, CAST(i AS INT), 3)))) AS gram
            FROM names
        ),
        cand AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM grams a JOIN grams b ON a.gram = b.gram AND a.name < b.name
        )
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_distance
        FROM cand
        WHERE levenshtein(name_a, name_b) <= 3
        ORDER BY name_a, name_b
    """,
)
def fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching (entity resolution): candidate
    pairs come from a q-gram (trigram) equi-self-join — two names are
    compared ONLY if they share a trigram — then the expensive
    levenshtein verification runs on candidates alone, never all pairs.

    Scale: the join is over DISTINCT names (vocabulary-sized, not
    corpus-sized) keyed on trigram — the same blocking shape as LSH
    band buckets (operators/dedup.py); a degenerate ultra-common gram
    is the q-gram analog of a hot LSH bucket and takes the same cap
    valve in production. Edit distance is Spark's built-in
    ``levenshtein`` (JVM codegen), matched exactly by DuckDB's."""
    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    grams = names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, length(name) - 2), i -> substring(name, i, 3))")
            )
        ).alias("gram"),
    )
    a = grams.select(F.col("name").alias("name_a"), "gram")
    b = grams.select(F.col("name").alias("name_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "edit_distance", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("edit_distance") <= 3)
        .orderBy("name_a", "name_b")
    )


@query(
    "bpe_pair_frequencies",
    category="llm-text",
    oracle="""
        WITH words AS (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                       AS w
            FROM documents
        ),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(w)),
                                         i -> substring(w, CAST(i AS INT), 2))) AS pair
            FROM words
            WHERE len(w) >= 2
        ),
        counted AS (
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
            FROM pairs GROUP BY pair
        )
        SELECT pair, freq,
               CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT)
                   AS merge_rank
        FROM counted
        ORDER BY merge_rank
        LIMIT 20
    """,
)
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: count every adjacent
    symbol pair across the corpus and rank candidates for the next
    merge (highest frequency wins, ties broken lexicographically —
    deterministic merge order is what makes a tokenizer reproducible).
    One full merge loop re-runs this after applying the top merge;
    each round is this exact plan.

    Scale: the explode emits len(word)-1 two-char rows but the groupBy
    partial-aggregates map-side, so the shuffle carries only the
    distinct-pair count table (alphabet², tiny); the global top-20
    rank runs over that table, not the corpus. This is the pair-count
    job from the published BPE algorithm (Sennrich et al. 2016)
    expressed as one aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.expr(r"filter(split(text, '\\s+'), x -> x != '')")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    return (
        counted.select(
            "pair",
            "freq",
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "pair"))
            .cast("bigint")
            .alias("merge_rank"),
        )
        .orderBy("merge_rank")
        .limit(20)
    )


@query(
    "zscore_outlier_events",
    category="aggregation",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(value AS DECIMAL(18,2))) AS sx,
                   SUM(CAST(value AS DECIMAL(18,2))
                       * CAST(value AS DECIMAL(18,2))) AS sxx
            FROM events GROUP BY event_type
        ),
        z AS (
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN isfinite((e.value - CAST(s.sx AS DOUBLE) / s.n) / sqrt((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1))) THEN floor(((e.value - CAST(s.sx AS DOUBLE) / s.n) / sqrt((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1))) * 1000000.0 + 0.5) / 1000000.0 END AS zscore
            FROM events e JOIN s USING (event_type)
        )
        SELECT event_id, event_type, value, zscore
        FROM z
        WHERE abs(zscore) >= 1.8
        ORDER BY event_id
    """,
)
def zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier flagging: per-type mean/stddev from exact
    DECIMAL power sums (same reproducible-moments recipe as
    stats_corr_covar — built-in stddev_samp is partition-order
    dependent in its low bits), then each event scored map-side
    against its broadcast group statistics; |z| >= 1.8 survives.

    Scale: the stats table is one map-side-combinable groupBy with
    n_types rows — broadcast back onto the scan, so scoring + filter
    never shuffle the fact table."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("sx"),
        F.sum(v * v).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    z = round_half_up(
        (F.col("value") - sx / nd) / F.sqrt((sxx - sx * sx / nd) / (nd - F.lit(1.0))),
        6,
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .select("event_id", "event_type", "value", z.alias("zscore"))
        .filter(F.abs(F.col("zscore")) >= 1.8)
        .orderBy("event_id")
    )


@query(
    "temperature_sample_by_source",
    category="llm-curation",
    oracle="""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        probs AS (
            SELECT source, n_docs,
                   CASE WHEN isfinite(pow(n_docs, 0.7 - 1.0) / (SELECT max(pow(n_docs, 0.7 - 1.0)) FROM counts)) THEN floor((pow(n_docs, 0.7 - 1.0) / (SELECT max(pow(n_docs, 0.7 - 1.0)) FROM counts)) * 1000000.0 + 0.5) / 1000000.0 END
                       AS keep_prob
            FROM counts
        )
        SELECT d.doc_id, d.source, p.keep_prob
        FROM documents d JOIN probs p USING (source)
        WHERE CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':temp'), 1, 8)
                        AS UBIGINT) AS DOUBLE) / 4294967296.0 < p.keep_prob
        ORDER BY d.doc_id
    """,
)
def temperature_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-training
    sampling rule, e.g. mBERT/XLM-R: sample sources with probability
    proportional to size^alpha, alpha=0.7): per-source keep
    probability n^(alpha-1), normalized so the LARGEST source's
    relative downsampling is maximal and the smallest is kept whole —
    head sources shrink, tail sources survive. Selection is the
    repo's deterministic md5-threshold coin (deterministic_sample_docs):
    reproducible under any repartitioning, no RNG state.

    Scale: source counts are a tiny aggregate broadcast back onto the
    scan; the keep decision is a map-side hash compare — the corpus
    never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    alpha = 0.7
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = F.pow(F.col("n_docs"), F.lit(alpha - 1.0))
    probs = counts.join(
        F.broadcast(counts.agg(F.max(F.pow(F.col("n_docs"), F.lit(alpha - 1.0))).alias("_mx")))
    ).select("source", round_half_up(w / F.col("_mx"), 6).alias("keep_prob"))
    coin = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":temp"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(probs), "source")
        .filter(coin < F.col("keep_prob"))
        .select("doc_id", "source", "keep_prob")
        .orderBy("doc_id")
    )


#: Source repeat factors for epoch oversampling (the data-recipe knob:
#: low-resource quality sources see >1 epoch). Integer part = full
#: copies for every doc; fractional part = probability of one more
#: copy, decided by a deterministic md5 coin per (doc, extra-copy).
EPOCH_FACTORS = {"src0": 2.5, "src1": 1.0, "src2": 1.25}
_EPOCH_DEFAULT = 1.0
#: md5-hex thresholds for the fractional coin: P(md5 < t) ≈ frac.
_FRAC_THRESHOLD = {0.5: "8", 0.25: "4", 0.0: "0"}


@query(
    "epoch_repeat_oversample",
    category="llm-sampling",
    oracle=f"""
        WITH factored AS (
            SELECT doc_id, source,
                   CASE source
                       {' '.join(f"WHEN '{s}' THEN {int(f)}" for s, f in EPOCH_FACTORS.items())}
                       ELSE {int(_EPOCH_DEFAULT)} END AS n_full,
                   CASE source
                       {' '.join(f"WHEN '{s}' THEN '{_FRAC_THRESHOLD[round(f - int(f), 2)]}'" for s, f in EPOCH_FACTORS.items())}
                       ELSE '{_FRAC_THRESHOLD[0.0]}' END AS frac_thr
            FROM documents
        ),
        expanded AS (
            SELECT doc_id, source, e.epoch AS epoch
            FROM factored, unnest(generate_series(0, n_full - 1)) AS e(epoch)
            UNION ALL
            SELECT doc_id, source, n_full AS epoch
            FROM factored
            WHERE md5(doc_id::VARCHAR || '|epoch-v1') < frac_thr
        )
        SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch
        FROM expanded
        ORDER BY doc_id, epoch
    """,
)
def epoch_repeat_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repeat oversampling — the other half of mixture design
    (mixture_sample_by_weights downsamples; this UP-samples): each
    source carries a repeat factor (e.g. 2.5 epochs for a small
    high-quality source), realized as floor(f) full copies per doc plus
    one extra copy with probability frac(f) via a deterministic
    per-doc md5 coin. The (doc_id, epoch) pair stays unique so
    downstream shuffling/packing treats copies as distinct rows.

    Scale shape: the expansion is a generator (posexplode of a
    sequence) — map-side row amplification bounded by max(f), never a
    join; the coin is the same zero-shuffle md5 filter as every
    deterministic sampler here. Re-weighting a source edits literals,
    not data."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_full = F.lit(int(_EPOCH_DEFAULT))
    frac_thr = F.lit(_FRAC_THRESHOLD[0.0])
    for s, f in reversed(EPOCH_FACTORS.items()):
        n_full = F.when(F.col("source") == s, F.lit(int(f))).otherwise(n_full)
        frac_thr = F.when(
            F.col("source") == s, F.lit(_FRAC_THRESHOLD[round(f - int(f), 2)])
        ).otherwise(frac_thr)
    factored = docs.withColumn("n_full", n_full).withColumn("frac_thr", frac_thr)
    full = factored.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.col("n_full") - 1)).alias("epoch"),
    )
    coin = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|epoch-v1")))
    extra = factored.filter(coin < F.col("frac_thr")).select(
        "doc_id", "source", F.col("n_full").alias("epoch")
    )
    return (
        full.unionAll(extra)
        .select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))
        .orderBy("doc_id", "epoch")
    )


#: Contrastive negative sampling geometry: k hash-ranked negatives per
#: anchor, drawn from OTHER sources (in-batch negatives from the same
#: source would often be topical near-positives).
_NEG_K = 4
_NEG_ANCHORS = 40


@query(
    "contrastive_negative_pairs",
    category="llm-sampling",
    oracle=f"""
        WITH anchors AS (
            SELECT doc_id AS anchor_id, source AS anchor_source
            FROM documents WHERE doc_id < {_NEG_ANCHORS}
        ),
        scored AS (
            SELECT a.anchor_id, d.doc_id AS negative_id,
                   md5(a.anchor_id::VARCHAR || '|' || d.doc_id::VARCHAR || '|neg-v1') AS h,
                   row_number() OVER (
                       PARTITION BY a.anchor_id
                       ORDER BY md5(a.anchor_id::VARCHAR || '|' || d.doc_id::VARCHAR || '|neg-v1'),
                                d.doc_id
                   ) AS rk
            FROM anchors a JOIN documents d
              ON d.source <> a.anchor_source
        )
        SELECT anchor_id, negative_id, CAST(rk AS INTEGER) AS neg_rank
        FROM scored WHERE rk <= {_NEG_K}
        ORDER BY anchor_id, neg_rank
    """,
)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each anchor doc draws its k=4 negatives as the lowest hash-ranked
    docs from OTHER sources — a seedless, reproducible stand-in for
    uniform sampling (same pairs on any cluster layout), with the
    cross-source constraint that keeps topical near-positives out of
    the negative set.

    Scale shape: anchors broadcast (the query-set side is small by
    construction); candidate scoring is map-side hash arithmetic; the
    per-anchor top-k uses a bounded window (k * anchors rows survive).
    At 100 TB the corpus side streams once — no per-anchor rescans —
    and swapping uniform hashes for hard negatives = replacing the
    hash order with an ANN distance order (ivfpq_topk_embeddings),
    same plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    anchors = F.broadcast(
        docs.filter(F.col("doc_id") < _NEG_ANCHORS).select(
            F.col("doc_id").alias("anchor_id"),
            F.col("source").alias("anchor_source"),
        )
    )
    h = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("|"),
            F.col("doc_id").cast("string"),
            F.lit("|neg-v1"),
        )
    )
    scored = (
        docs.join(anchors, docs.source != anchors.anchor_source)
        .select("anchor_id", F.col("doc_id").alias("negative_id"), h.alias("h"))
    )
    # Two-phase top-k (the operators.similarity._topk_per_query shape):
    # a single window on anchor_id would funnel each anchor's ENTIRE
    # candidate corpus into one reducer — with few anchors over a
    # 100 TB corpus that is the job's straggler. Phase 1 keeps a local
    # top-k per (anchor, hash-salt of candidate); phase 2 re-ranks the
    # <= k*16 survivors. Identical result: any global top-k row also
    # tops its salt bucket under the same (h, id) order.
    salt = F.pmod(F.hash(F.col("negative_id")), F.lit(16))
    pre = Window.partitionBy("anchor_id", "_salt").orderBy("h", "negative_id")
    partial = (
        scored.withColumn("_salt", salt)
        .withColumn("_prank", F.row_number().over(pre))
        .filter(F.col("_prank") <= _NEG_K)
        .drop("_salt", "_prank")
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "negative_id")
    return (
        partial.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= _NEG_K)
        .select("anchor_id", "negative_id", "neg_rank")
        .orderBy("anchor_id", "neg_rank")
    )


@query(
    "url_canonical_dedup",
    category="llm-dedup",
    oracle="""
        WITH raw AS (
            -- Deterministic URL variants: doc_id mod 4 picks the noise
            -- (uppercase host / utm params / fragment / trailing slash)
            -- so the same page appears under several surface forms.
            SELECT doc_id,
                   CASE doc_id % 4
                       WHEN 0 THEN 'https://WWW.Example.COM/docs/'
                                   || CAST(doc_id // 4 AS VARCHAR)
                       WHEN 1 THEN 'https://www.example.com/docs/'
                                   || CAST(doc_id // 4 AS VARCHAR)
                                   || '?utm_source=feed&utm_campaign=x'
                       WHEN 2 THEN 'https://www.example.com/docs/'
                                   || CAST(doc_id // 4 AS VARCHAR) || '#section-2'
                       ELSE 'https://www.example.com/docs/'
                            || CAST(doc_id // 4 AS VARCHAR) || '/'
                   END AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id, url,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               lower(regexp_extract(url, '^https?://[^/#?]+'))
                               || regexp_replace(url, '^https?://[^/#?]+', ''),
                               '[?&]utm_[^&#]*', '', 'g'),
                           '#.*$', ''),
                       '/$', '') AS curl
            FROM raw
        )
        SELECT curl AS canonical_url,
               CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_variants
        FROM canon
        GROUP BY curl
        ORDER BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the FIRST dedup pass of every web
    corpus (CCNet/C4 drop same-URL recrawls before any content hashing,
    since it's free): lowercase the host, strip tracking params
    (utm_*), fragments, and trailing slashes, then keep one
    representative per canonical URL. The fixture synthesizes four
    surface variants per logical page so every noise class is
    exercised.

    Scale shape: canonicalization is pure map-side regexp; the dedup
    groupBy shuffles only (canonical_url, doc_id) pairs — the same
    fixed-width-key contract as exact_dedup's sha2 grouping. The
    scheme+host prefix is lowercased via the identical
    extract-lower-concat expression on both sides (DuckDB regexes have
    no case-folding escape)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = F.concat(
        F.lit("https://www.example.com/docs/"),
        F.expr("CAST(doc_id DIV 4 AS STRING)"),
    )
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://WWW.Example.COM/docs/"),
                F.expr("CAST(doc_id DIV 4 AS STRING)"),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(F.col("doc_id") % 4 == 2, F.concat(base, F.lit("#section-2")))
        .otherwise(F.concat(base, F.lit("/")))
    )
    raw = docs.select("doc_id", url.alias("url"))
    lowered = F.concat(
        F.lower(F.regexp_extract(F.col("url"), "^https?://[^/#?]+", 0)),
        F.regexp_replace(F.col("url"), "^https?://[^/#?]+", ""),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(lowered, "[?&]utm_[^&#]*", ""),
            "#.*$",
            "",
        ),
        "/$",
        "",
    )
    return (
        raw.select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        )
        .orderBy("canonical_url")
    )


#: FIM geometry: middle span = the central ~30% of each document's
#: characters, with deterministic per-doc jitter from an md5 nibble so
#: split points vary across the corpus (fixed splits teach the model
#: positional artifacts).
_FIM_MIN_CHARS = 40


@query(
    "fim_split_docs",
    category="llm-text",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n,
                   CAST(substr(md5(CAST(doc_id AS VARCHAR) || '|fim-v1'), 1, 1)
                        IN ('0','1','2','3','4','5','6','7') AS INTEGER) AS jit
            FROM documents WHERE length(text) >= {_FIM_MIN_CHARS}
        ),
        cuts AS (
            SELECT doc_id, text, n,
                   (n * 35 // 100) + jit AS p_end,
                   (n * 65 // 100) + jit AS m_end
            FROM base
        )
        SELECT doc_id,
               substr(text, 1, p_end) AS prefix,
               substr(text, p_end + 1, m_end - p_end) AS middle,
               substr(text, m_end + 1, n - m_end) AS suffix,
               CAST(n AS BIGINT) AS n_chars,
               substr(text, 1, p_end) || substr(text, p_end + 1, m_end - p_end)
                   || substr(text, m_end + 1, n - m_end) = text AS lossless
        FROM cuts
        ORDER BY doc_id
    """,
)
def fim_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) data preparation — the span-corruption
    transform behind infilling-capable code/text models: each document
    splits into (prefix, middle, suffix) so training can present
    prefix+suffix and predict the middle. Cut points sit at ~35%/65%
    of the characters with a deterministic per-doc md5 jitter (fixed
    cut ratios across a corpus teach positional artifacts; production
    uses a seeded RNG — same plumbing). The ``lossless`` column proves
    the three spans reassemble the exact document.

    Scale shape: pure map-side substring arithmetic — scales with the
    scan, zero shuffles; reordering into the PSM/SPM training layouts
    is a downstream concat over these columns."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.length("text") >= _FIM_MIN_CHARS).select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|fim-v1"))), 1, 1
        )
        .isin(*"01234567")
        .cast("int")
        .alias("jit"),
    )
    cuts = base.select(
        "doc_id",
        "text",
        "n",
        (F.expr("n * 35 DIV 100") + F.col("jit")).alias("p_end"),
        (F.expr("n * 65 DIV 100") + F.col("jit")).alias("m_end"),
    )
    prefix = F.expr("substr(text, 1, p_end)")
    middle = F.expr("substr(text, p_end + 1, m_end - p_end)")
    suffix = F.expr("substr(text, m_end + 1, n - m_end)")
    return cuts.select(
        "doc_id",
        prefix.alias("prefix"),
        middle.alias("middle"),
        suffix.alias("suffix"),
        F.col("n").cast("bigint").alias("n_chars"),
        (F.concat(prefix, middle, suffix) == F.col("text")).alias("lossless"),
    ).orderBy("doc_id")


#: Ranked BPE merges for bpe_apply_merges (the output shape of
#: bpe_pair_frequencies' training step). Applied in priority order,
#: each replacing every occurrence of the adjacent pair corpus-wide —
#: chosen so no merged piece creates a false suffix match for a later
#: pattern on this vocabulary.
BPE_MERGES = (("e", "r"), ("i", "n"), ("s", "t"))


@query(
    "bpe_apply_merges",
    category="llm-text",
    oracle="""
        WITH vocab AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS corpus_freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''
            GROUP BY word
        ),
        split AS (
            SELECT word, corpus_freq,
                   array_to_string(string_split(word, ''), ' ') AS s0
            FROM vocab
        ),
        merged AS (
            SELECT word, corpus_freq,
                   replace(replace(replace(s0,
                       'e r', 'er'),
                       'i n', 'in'),
                       's t', 'st') AS pieces
            FROM split
        )
        SELECT word, pieces,
               CAST(len(string_split(pieces, ' ')) AS BIGINT) AS n_pieces,
               corpus_freq
        FROM merged
        ORDER BY word
    """,
)
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the other half of tokenizer training
    (bpe_pair_frequencies ranks candidate merges; this applies a ranked
    merge list): each word splits to characters and the merges collapse
    adjacent pairs in priority order, exactly the greedy BPE encode.
    Plain substring replacement on the space-joined pieces is correct
    here because every piece is atomic in the string representation
    (the merge list is chosen so no earlier output creates a false
    suffix match for a later pattern — the per-vocabulary check a real
    tokenizer build does).

    Scale shape: tokenization applies to the DISTINCT vocabulary —
    which does not grow with corpus size — and the result broadcasts
    back as a lookup, so the corpus itself never re-tokenizes per
    occurrence. That vocabulary-level contract (same as
    fuzzy_name_match_pairs' name-vocab join) is what makes tokenizer
    application O(vocab), not O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("corpus_freq"))
    )
    pieces = F.array_join(F.split(F.col("word"), ""), " ")
    for x, y in BPE_MERGES:
        pieces = F.replace(pieces, F.lit(f"{x} {y}"), F.lit(x + y))
    return (
        vocab.select(
            "word",
            pieces.alias("pieces"),
            F.size(F.split(pieces, " ")).cast("bigint").alias("n_pieces"),
            "corpus_freq",
        )
        .orderBy("word")
    )


@query(
    "diversity_capped_topk_docs",
    category="llm-sampling",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn_src
            FROM documents
        )
        SELECT doc_id, source, n_chars, rn_src
        FROM ranked WHERE rn_src <= 2
        ORDER BY n_chars DESC, doc_id LIMIT 20
    """,
)
def diversity_capped_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-capped global top-k: the 20 highest-scoring documents
    (score = n_chars here) subject to at most 2 per source — the
    anti-monoculture export every ranked-selection pipeline needs so a
    single dominant source can't fill the whole budget. Per-source
    row_number applies the cap, then a global TakeOrdered picks the
    winners; both ranks break ties on doc_id, so the selection is
    deterministic.

    Scale: the cap runs in a source-partitioned window (one hash
    exchange), after which at most 2×|sources| rows reach the global
    top-k — a TakeOrderedAndProject over a vocabulary-sized input, no
    global sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rn_src"),
        )
        .filter(F.col("rn_src") <= 2)
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
    )


@query(
    "grouped_split_by_user",
    category="llm-sampling",
    oracle=f"""
        WITH keyed AS (
            SELECT event_id, user_id,
                   substring(md5(user_id::VARCHAR || '|gsplit-v1'), 1, 1) AS h
            FROM events
        ),
        lab AS (
            SELECT event_id, user_id,
                   CASE WHEN h < 'c' THEN 'train'
                        WHEN h < 'e' THEN 'val'
                        ELSE 'test' END AS split
            FROM keyed
        ),
        s AS (
            SELECT split,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM lab GROUP BY split
        ),
        tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM s)
        SELECT s.split, s.n_users, s.n_events,
               {sql_round_half_up(
                   'CAST(s.n_events AS DOUBLE) / CAST(tot.n AS DOUBLE)', 6)}
                   AS event_frac
        FROM s CROSS JOIN tot
        ORDER BY s.split
    """,
)
def grouped_split_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is a hash of
    the GROUP (user_id), not the row, so every event of a user lands
    in exactly one split by construction — the grouping that
    row-hashed splits (train_val_test_split) get wrong whenever rows
    of one entity must not straddle the boundary (a user's behavior in
    train AND test is leakage). Hex-prefix thresholds give ~12/2/2
    sixteenths; the split is a pure map-side expression — reproducible
    under repartitioning, no RNG, no shuffle before the summary
    aggregate.

    Scale: the label rides the scan; the summary is a 3-row aggregate
    with a broadcast 1-row total."""
    ev = load_table(spark, sf_dir, "events")
    h = F.substring(
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|gsplit-v1"))),
        1,
        1,
    )
    lab = ev.select(
        "event_id",
        "user_id",
        F.when(h < "c", "train").when(h < "e", "val").otherwise("test").alias(
            "split"
        ),
    )
    s = lab.groupBy("split").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    tot = s.agg(F.sum("n_events").cast("bigint").alias("n"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "split",
            "n_users",
            "n_events",
            round_half_up(
                F.col("n_events").cast("double") / F.col("n").cast("double"), 6
            ).alias("event_frac"),
        )
        .orderBy("split")
    )


#: Sliding-window length (tokens) for exact-substring dedup. 50 tokens
#: in Lee et al.; 10 here so the fixture corpus (short synthetic docs
#: with planted near-dup families) exercises every code path at every
#: SF. The algorithm is length-agnostic.
SUBSTR_L = 10


@query(
    "duplicated_substring_spans",
    category="llm-dedup",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, s.g AS pos,
                   md5(array_to_string(w[s.g:s.g+{SUBSTR_L}-1], ' ')) AS gh
            FROM words,
                 LATERAL (SELECT unnest(generate_series(
                     1, len(w) - {SUBSTR_L} + 1)) AS g) s
            WHERE len(w) >= {SUBSTR_L}
        ),
        cnt AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS c
                FROM grams GROUP BY gh),
        dup AS (
            SELECT g.doc_id, g.pos
            FROM grams g JOIN cnt ON cnt.gh = g.gh
            WHERE cnt.c > 1
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER w > {SUBSTR_L}
                        THEN 1 ELSE 0 END AS brk
            FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        grp AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS island
            FROM isl
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {SUBSTR_L} - 1 AS BIGINT) AS span_end,
               CAST(MAX(pos) - MIN(pos) + {SUBSTR_L} AS BIGINT) AS span_len,
               CAST(COUNT(*) AS BIGINT) AS n_dup_grams
        FROM grp GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
)
def duplicated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans, the sliding-window form of
    corpus dedup from Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", the ExactSubstr variant): every
    {SUBSTR_L}-token window whose content occurs MORE THAN ONCE in the
    corpus marks its positions as duplicated, and per document the
    overlapping/adjacent marked windows merge (gaps-and-islands on
    token position: break when pos - lag(pos) > L) into MAXIMAL
    duplicated spans [span_start, span_end] (1-based token indices,
    inclusive) — the byte ranges a training pipeline cuts out, versus
    span_dedup_docs' fixed non-overlapping C4 grid, which misses
    duplicates that straddle its block boundaries.

    The reference paper builds a suffix array — inherently sequential
    over a single in-memory corpus. The Spark-shaped equivalent:
    sliding grams hash to fixed-width md5 keys (one combinable count
    per gram, no suffix structure), the duplicated-gram set joins back
    position-wise, and island-merging is a per-document window. A
    viral boilerplate gram costs O(copies) in one count cell, never
    O(copies²); the per-doc window partitions on high-cardinality
    doc_id.

    Determinism: positions and counts are integers, the gram key is
    md5 — the oracle replays the identical pipeline and every column
    hash-compares raw."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    w = F.split(F.col("text"), " ")

    # let-bound: the sliding-gram lambda slices the tokenization once
    # per document instead of re-splitting per gram position.
    def _grams(ws):
        return F.transform(
            F.sequence(F.lit(1), F.size(ws) - F.lit(SUBSTR_L - 1)),
            lambda i: F.md5(
                F.array_join(F.slice(ws, i.cast("int"), SUBSTR_L), " ")
            ),
        )

    grams = docs.filter(F.size(w) >= SUBSTR_L).select(
        "doc_id",
        F.posexplode(let(w, _grams)).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")
    cnt = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c"))
    dup = (
        grams.join(cnt.filter(F.col("c") > 1).select("gh"), "gh")
        .select("doc_id", "pos")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(win) > F.lit(SUBSTR_L), F.lit(1)
    ).otherwise(F.lit(0))
    grp = dup.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(win.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        grp.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(SUBSTR_L - 1)).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(SUBSTR_L))
            .cast("bigint")
            .alias("span_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )


_DSIR_B = 4096
_DSIR_TARGET = "src0"
_DSIR_TOP = 20
_DSIR_DSUM = (
    "CAST(SUM(CAST(CASE WHEN isfinite({e}) THEN floor(({e}) * 1000000000.0"
    " + 0.5) / 1000000000.0 END AS DECIMAL(28,12))) AS DOUBLE)"
)


@query(
    "dsir_importance_selection",
    category="llm-curation",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST('0x' || substring(md5(unnest(string_split(text, ' '))),
                        1, 15) AS BIGINT) % {_DSIR_B} AS b
            FROM documents),
        tcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS t_b FROM toks
                 WHERE source = '{_DSIR_TARGET}' GROUP BY b),
        rcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r_b FROM toks
                 WHERE source <> '{_DSIR_TARGET}' GROUP BY b),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM toks
               WHERE source = '{_DSIR_TARGET}'),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM toks
               WHERE source <> '{_DSIR_TARGET}'),
        buckets AS (SELECT DISTINCT b FROM toks),
        lr AS (
            SELECT bk.b,
                   ln(CAST((COALESCE(t.t_b, 0) + 1) * (nr.v + {_DSIR_B})
                           AS DOUBLE)
                      / CAST((COALESCE(r.r_b, 0) + 1) * (nt.v + {_DSIR_B})
                             AS DOUBLE)) AS lr
            FROM buckets bk
            LEFT JOIN tcnt t ON t.b = bk.b
            LEFT JOIN rcnt r ON r.b = bk.b
            CROSS JOIN nt CROSS JOIN nr),
        db AS (SELECT doc_id, source, b, CAST(COUNT(*) AS BIGINT) AS c
               FROM toks WHERE source <> '{_DSIR_TARGET}'
               GROUP BY doc_id, source, b),
        w AS (
            SELECT db.doc_id, db.source,
                   {_DSIR_DSUM.format(e="db.c * lr.lr")} AS weight
            FROM db JOIN lr ON lr.b = db.b
            GROUP BY db.doc_id, db.source)
        SELECT doc_id, source,
               {sql_round_half_up("weight", 6)} AS importance
        FROM w
        ORDER BY weight DESC, doc_id
        LIMIT {_DSIR_TOP}
    """,
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style targeted data selection (Xie et al., "Data Selection
    for Language Models via Importance Resampling", NeurIPS 2023 —
    public): score every out-of-domain document by the hashed-unigram
    log importance ratio Σ_b c_{d,b}·ln(p̂_target(b)/p̂_raw(b)) with
    add-1 smoothing over {_DSIR_B} md5 buckets, and select the top
    {_DSIR_TOP} docs that look most like the target domain ({_DSIR_TARGET!r}
    stands in for the high-quality target corpus). The hashed-feature
    trick is the whole point at scale: the "language model" of each
    side is a {_DSIR_B}-row table, not a vocabulary.

    Determinism: the smoothed ratio folds to a quotient of two exact
    BIGINT products, so each ln sees one identical double; per-doc
    weights accumulate via the round9 → DECIMAL recipe; the top-20 cut
    orders by the exact decimal weight before output rounding.

    Scale: two passes of combinable aggregates (bucket counts; per-doc
    bucket counts), a broadcast {_DSIR_B}-row log-ratio join, and a
    TakeOrderedAndProject top-k — no shuffle ever carries text, and
    the raw-corpus scoring is embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "source",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"),
            F.lit(_DSIR_B),
        ).alias("b"),
    )
    is_t = F.col("source") == _DSIR_TARGET
    tcnt = (
        toks.filter(is_t)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_b"))
    )
    rcnt = (
        toks.filter(~is_t)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r_b"))
    )
    nt = toks.filter(is_t).agg(F.count(F.lit(1)).cast("bigint").alias("ntv"))
    nr = toks.filter(~is_t).agg(F.count(F.lit(1)).cast("bigint").alias("nrv"))
    buckets = toks.select("b").distinct()
    lr = (
        buckets.join(tcnt, "b", "left")
        .join(rcnt, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "b",
            F.log(
                (
                    (F.coalesce("t_b", F.lit(0)) + 1)
                    * (F.col("nrv") + _DSIR_B)
                ).cast("double")
                / (
                    (F.coalesce("r_b", F.lit(0)) + 1)
                    * (F.col("ntv") + _DSIR_B)
                ).cast("double")
            ).alias("lr"),
        )
    )
    db = (
        toks.filter(~is_t)
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(
                round_half_up(F.col("c") * F.col("lr"), 9).cast("decimal(28,12)")
            ).alias("wdec")
        )
    )
    return (
        w.orderBy(F.col("wdec").desc(), "doc_id")
        .limit(_DSIR_TOP)
        .select(
            "doc_id",
            "source",
            round_half_up(F.col("wdec").cast("double"), 6).alias("importance"),
        )
    )


@query(
    "jaro_winkler_linkage_pairs",
    category="llm-dedup",
    oracle="""
        WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        grams AS (
            SELECT name, unnest(list_distinct(
                       list_transform(range(1, len(name) - 1),
                                      i -> substring(name, CAST(i AS INT), 3)))) AS gram
            FROM names
        ),
        cand AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM grams a JOIN grams b ON a.gram = b.gram AND a.name < b.name
        )
        SELECT name_a, name_b,
               CASE WHEN isfinite(jaro_winkler_similarity(name_a, name_b))
                    THEN floor(jaro_winkler_similarity(name_a, name_b)
                               * 1000000.0 + 0.5) / 1000000.0 END AS jw
        FROM cand
        WHERE jaro_winkler_similarity(name_a, name_b) >= 0.85
        ORDER BY name_a, name_b
    """,
)
def jaro_winkler_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with Jaro-Winkler, the edit-distance family's
    PREFIX-weighted member (Winkler 1990 — the U.S. Census Bureau's
    linkage scorer) beside fuzzy_name_match_pairs' levenshtein: same
    trigram blocking, different verifier — JW rewards shared prefixes,
    which is what name/title matching wants. Candidates with
    jw >= 0.85 survive.

    Determinism: functions.text.jaro_winkler replicates DuckDB's
    built-in float-for-float (proven in tests on every candidate
    pair), so the threshold filter and the reported score agree
    across engines despite a Python-side kernel.

    Scale: the expensive O(|a|·|b|) kernel runs ONLY on blocked
    candidate pairs, Arrow-batched; the blocking join is
    vocabulary-sized. Same hot-gram cap valve story as the
    levenshtein twin."""
    from pipeline_query_engine_demo_spark.functions import text as _text

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    grams = names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(name) - 2),"
                    " i -> substring(name, i, 3))"
                )
            )
        ).alias("gram"),
    )
    a = grams.select(F.col("name").alias("name_a"), "gram")
    b = grams.select(F.col("name").alias("name_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    scored = cand.withColumn("jw_raw", _text.jaro_winkler("name_a", "name_b"))
    return (
        scored.filter(F.col("jw_raw") >= 0.85)
        .select(
            "name_a",
            "name_b",
            round_half_up(F.col("jw_raw"), 6).alias("jw"),
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "kneser_ney_perplexity",
    category="llm-text",
    oracle=f"""
        WITH words AS (
            SELECT source, string_split(text, ' ') AS w FROM documents),
        big AS (
            SELECT source, w[s.g] AS v, w[s.g+1] AS nxt
            FROM words,
                 LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                          AS g) s
            WHERE len(w) >= 2),
        cvw AS (SELECT v, nxt, CAST(COUNT(*) AS BIGINT) AS c2
                FROM big GROUP BY 1, 2),
        cv AS (SELECT v, CAST(SUM(c2) AS BIGINT) AS c1,
                      CAST(COUNT(*) AS BIGINT) AS n1v
               FROM cvw GROUP BY 1),
        n1w AS (SELECT nxt, CAST(COUNT(*) AS BIGINT) AS n1w
                FROM cvw GROUP BY 1),
        dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1dd FROM cvw),
        terms AS (
            SELECT b.source,
                   CAST({sql_round_half_up(
                       "-log2((CAST(t2.c2 AS DOUBLE) - 0.75)"
                       " / CAST(t1.c1 AS DOUBLE)"
                       " + 0.75 * (CAST(t1.n1v AS DOUBLE)"
                       " / CAST(t1.c1 AS DOUBLE))"
                       " * (CAST(tw.n1w AS DOUBLE)"
                       " / CAST(d.n1dd AS DOUBLE)))", 9)}
                       AS DECIMAL(28,12)) AS term
            FROM big b
            JOIN cvw t2 ON t2.v = b.v AND t2.nxt = b.nxt
            JOIN cv t1 ON t1.v = b.v
            JOIN n1w tw ON tw.nxt = b.nxt
            CROSS JOIN dd d)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               {sql_round_half_up(
                   "CAST(SUM(term) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE)", 6)} AS avg_nll_bits,
               {sql_round_half_up(
                   "pow(2.0, CAST(SUM(term) AS DOUBLE)"
                   " / CAST(COUNT(*) AS DOUBLE))", 6)} AS perplexity
        FROM terms GROUP BY 1 ORDER BY 1
    """,
)
def kneser_ney_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney-smoothed bigram perplexity per source (absolute
    discount D=0.75 with CONTINUATION-count backoff: P(w|v) =
    (c(vw)-D)/c(v) + D*(N1+(v,.)/c(v)) * (N1+(.,w)/N1+(.,.)) — the
    smoothing that made n-gram LMs competitive (Kneser & Ney 1995;
    Chen & Goodman 1999), scoring how fluent each source is under the
    corpus LM. Complements bigram_lm_perplexity's add-k smoothing: KN
    backs off to how PROMISCUOUSLY a word continues contexts, not raw
    frequency, so boilerplate-heavy sources separate differently.

    Determinism: all five count tables are BIGINT; every probability
    is one identical IEEE expression (D=0.75 is an exactly
    representable literal); each -log2 term is 9-dp-rounded into
    DECIMAL(28,12) and summed exactly per source.

    Scale: one bigram explode feeds all count tables (combinable;
    shuffles carry tokens, never text); scoring is three equi-joins on
    bigram/context/word plus a 1-row broadcast of the bigram-type
    total."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    words = F.split(F.col("text"), " ")
    tokens = docs.select("source", words.alias("w"))
    big = (
        tokens.filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.col("w")[i].alias("v"),
                        F.col("w")[i + 1].alias("nxt"),
                    ),
                )
            ).alias("b"),
        )
        .select("source", "b.v", "b.nxt")
    )
    cvw = big.groupBy("v", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    cv = cvw.groupBy("v").agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1v"),
    )
    n1w = cvw.groupBy("nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1w")
    )
    dd = cvw.agg(F.count(F.lit(1)).cast("bigint").alias("n1dd"))
    p = (F.col("c2").cast("double") - F.lit(0.75)) / F.col("c1").cast(
        "double"
    ) + F.lit(0.75) * (
        F.col("n1v").cast("double") / F.col("c1").cast("double")
    ) * (
        F.col("n1w").cast("double") / F.col("n1dd").cast("double")
    )
    terms = (
        big.join(cvw, ["v", "nxt"])
        .join(cv, "v")
        .join(n1w, "nxt")
        .crossJoin(F.broadcast(dd))
        .select(
            "source",
            round_half_up(-F.log2(p), 9).cast("decimal(28,12)").alias("term"),
        )
    )
    avg = F.sum("term").cast("double") / F.count(F.lit(1)).cast("double")
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            round_half_up(avg, 6).alias("avg_nll_bits"),
            round_half_up(F.pow(F.lit(2.0), avg), 6).alias("perplexity"),
        )
        .orderBy("source")
    )


@query(
    "gopher_repetition_filter",
    category="llm-text",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        g AS (
            SELECT doc_id,
                   concat_ws(' ', words[i], words[i + 1], words[i + 2]) AS gram
            FROM w, LATERAL (SELECT unnest(generate_series(1, len(words) - 2))
                             AS i) r
            WHERE len(words) >= 3),
        c AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM g GROUP BY 1, 2),
        s AS (SELECT doc_id,
                     CAST(SUM(cnt) AS BIGINT) AS n_grams,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(MAX(cnt) AS BIGINT) AS top_cnt
              FROM c GROUP BY 1)
        SELECT doc_id, n_grams, n_distinct, top_cnt,
               {sql_round_half_up(
                   "CAST(n_grams - n_distinct AS DOUBLE) / n_grams", 6)}
                   AS dup_frac,
               {sql_round_half_up("CAST(top_cnt AS DOUBLE) / n_grams", 6)}
                   AS top_frac,
               (n_grams = n_distinct AND top_cnt * 20 <= n_grams) AS kept
        FROM s ORDER BY doc_id
    """,
)
def gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter — the Gopher repetition rules
    (Rae et al. 2021 §A1.1: duplicate-n-gram fraction, most-common-
    n-gram fraction) that gopher_quality_filter's length/stopword rules
    don't cover: per document, the fraction of 3-gram OCCURRENCES that
    are repeats (1 - distinct/total) and the share held by the single
    most common 3-gram. The keep decision is ALL-INTEGER (n_grams =
    n_distinct, top_cnt·20 ≤ n_grams ⇔ top_frac ≤ 5%) so no float
    compare can diverge; the reported fractions are round6 display
    values. Documents with fewer than 3 tokens have no 3-grams and drop
    out on both engines (none exist in the fixture).

    Scale: the explode is per-document and the two aggregations key on
    doc_id — repetition scoring never compares documents, so it
    pipelines with the scan (contrast: the near-dup family, where the
    cross-document joins live)."""
    from pipeline_query_engine_demo_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    grams = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("gram")
    )
    per = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    sig = per.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    return sig.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "top_cnt",
        round_half_up(
            (F.col("n_grams") - F.col("n_distinct")).cast("double")
            / F.col("n_grams"),
            6,
        ).alias("dup_frac"),
        round_half_up(F.col("top_cnt").cast("double") / F.col("n_grams"), 6).alias(
            "top_frac"
        ),
        (
            (F.col("n_grams") == F.col("n_distinct"))
            & (F.col("top_cnt") * 20 <= F.col("n_grams"))
        ).alias("kept"),
    ).orderBy("doc_id")
