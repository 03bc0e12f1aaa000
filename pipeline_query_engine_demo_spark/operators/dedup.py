"""Deduplication operators for the documents corpus — the core
training-data-pipeline family (exact, MinHash+LSH banding, SimHash,
n-gram Jaccard).

Scale design (the 100 TB story):

- **Exact dedup** is a hash aggregate on a 256-bit content hash: the
  shuffle carries (hash, doc_id) pairs — 40 bytes/row — never the text.
- **MinHash+LSH** is the canonical near-dup algorithm at corpus scale:
  signatures are k map-side aggregations over exploded shingles (one
  shuffle keyed by doc_id, combiner-reduced); banding turns the O(n^2)
  pair problem into a groupBy on band hashes, so only documents that
  collide in >= 1 band ever meet. Candidate verification (true Jaccard)
  touches candidate pairs only. The similarity unit is the 3-word
  shingle (DEFAULT_SHINGLE_N) — bag-of-tokens saturates at scale.
- **SimHash** is one pass: explode tokens -> per-bit signed counts ->
  sign -> pack. Hamming-adjacent buckets are a groupBy away.
- **n-gram Jaccard** without an LSH prefilter self-joins the inverted
  shingle index; that is quadratic in per-shingle document frequency and
  is therefore only exposed for bounded inputs / post-LSH verification.
- **Connected components** (both variants) run under the one loop
  policy of ``operators.rounds``: lazy resilient cuts, two live
  generations of replaced state, one convergence error.

Cross-engine determinism: every hash is md5 hex (identical in Spark and
DuckDB), mins/sorts over hex strings are binary-collation stable, and
Jaccard is a single double division — so even the LSH pipeline is fully
oracle-checkable in SQL (plans/llm.py carries the CTE translations).
"""

from __future__ import annotations

from functools import reduce
from operator import add

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspark.sql import Column

from pipeline_query_engine_demo_spark.functions.text import distinct_tokens, shingles
from pipeline_query_engine_demo_spark.operators.rounds import Rounds
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint

#: Number of MinHash hash functions and how they are banded for LSH.
#: 8 signatures in 4 bands of 2: near-dups (J >= ~0.6) collide with high
#: probability while the band hash stays cheap. Tune per corpus.
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4

#: MinHash/Jaccard similarity unit: 3-word shingles by default. Bag-of-
#: tokens (shingle_n=1) saturates on any real corpus — vocabulary is
#: finite, so at scale every document pair shares most tokens and LSH
#: candidates degenerate toward all-pairs (observed: 128 s vs 3 s at
#: sf0.1 on the fixture corpus, whose vocabulary is 31 words). Shingles
#: keep the unit space growing with |vocab|^n, so only genuinely
#: near-duplicate documents collide.
DEFAULT_SHINGLE_N = 3

#: Hot-bucket safety valve, ON by default: an LSH bucket of B documents
#: yields B^2 intra-bucket candidate pairs in one reducer, so a single
#: viral boilerplate template at 100 TB (B ~ 10^6) is a quadratic
#: melt-down. Buckets above the cap carry no discriminating signal
#: (every member collides with every other — a stopword band) and are
#: dropped whole. At the cap, a degenerate bucket costs at most
#: cap^2 = 10^6 pairs — bounded reducer work. The recall trade: members
#: of an over-full bucket can still pair through their OTHER bands, so
#: only documents whose every colliding band is degenerate lose their
#: candidates — for boilerplate templates that is exactly the intended
#: drop. Pass ``max_bucket_size=None`` for exact LSH semantics.
DEFAULT_MAX_BUCKET_SIZE = 1000

#: Estimated-Jaccard prefilter cutoff (fraction of agreeing MinHash
#: signature positions) applied between LSH banding and the exact
#: verify join — see near_dup_pairs. Well below the verify threshold
#: (0.6 in the registered queries) so borderline-true pairs survive.
DEFAULT_EST_PREFILTER = 0.4

#: Safety valve for exact-clone pre-contraction (see near_dup_pairs):
#: a clone group of r sha2-identical documents expands to r(r-1)/2
#: intra-group pairs through ONE reducer key (the group's _rep), and —
#: because contraction happens BEFORE banding — that expansion bypasses
#: the hot-bucket cap entirely. A viral mega-clone (r ~ 10^6 copies of
#: one boilerplate page at 100 TB) would otherwise reintroduce exactly
#: the quadratic single-reducer blow-up max_bucket_size exists to stop:
#: the ANSWER itself is 5*10^11 rows, so no salting strategy fixes it —
#: the group must be dropped whole, like an over-full bucket (a
#: 1000+-replica text is boilerplate; dropping it IS the intended
#: curation outcome). At the cap a degenerate group costs at most
#: cap^2/2 pairs, the same bound as the bucket cap. Independent of
#: max_bucket_size because the two guard different joins; pass None
#: (together with max_bucket_size=None) for exact semantics.
DEFAULT_CLONE_GROUP_CAP = 1000

#: Adaptive pre-contraction trigger (integer percent): contract exact
#: clones only when at least this share of documents are duplicates.
#: Contraction's cost — two corpus-sized membership-expansion joins —
#: scales with the CORPUS, while its benefit scales with the CLONE MASS
#: it removes, so on a nearly-clone-free corpus (the r8 bench fixture:
#: 8 duplicate docs in ~6000, 0.13%) it is pure overhead (measured
#: ~1.3x), while on a boilerplate-heavy one (the ×30 replica scale run:
#: 96% duplicates) it is a ~9x saving. The bypass is output-identical
#: when the caps don't bind, and the hot-bucket cap keeps the
#: uncontracted path mega-clone-safe when they do.
CONTRACT_MIN_DUP_PERCENT = 1


def _units(text_col: Column, shingle_n: int) -> Column:
    """The distinct similarity units of a document: word shingles for
    shingle_n >= 2, bag of tokens for shingle_n = 1."""
    if shingle_n == 1:
        return distinct_tokens(text_col)
    return F.array_distinct(shingles(text_col, shingle_n))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per exact text; report copy count.
    Grouping happens on sha2(text) so the shuffle key is fixed-width even
    for multi-megabyte documents; min(text) just carries one copy through."""
    return (
        df.select(F.col(id_col), F.col(text_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
            F.min(text_col).alias(text_col),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """MinHash signature per document: hash_i(unit) = md5(unit || '#i'),
    signature_i = min over the document's distinct shingles (see _units).

    One explode + one groupBy(doc) with k min() aggregates — the partial
    aggregation combines map-side, so the shuffle is one row per document
    regardless of document length. Documents shorter than shingle_n
    tokens have no units and drop out (nothing to near-dup against)."""
    exploded = df.select(
        F.col(id_col), F.explode(_units(F.col(text_col), shingle_n)).alias("tok")
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("tok"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Explode each signature into (band_id, band_hash) bucket keys.
    Documents sharing a bucket in any band are near-dup candidates."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature columns would be silently dropped otherwise"
        )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("band_hash"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    materialize: bool = True,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) that collide in >= 1 LSH band.

    ``signatures`` lets a caller that already computed (and ideally
    checkpointed) the MinHash signature table share it instead of
    re-deriving it from the corpus — ``near_dup_pairs`` does this so
    its estimated-Jaccard prefilter reuses the same signatures.
    The self-join is keyed on (band_id, band_hash) — only intra-bucket
    pairs are generated, never the cartesian corpus square.

    ``max_bucket_size`` is the 100 TB safety valve, ON by default
    (DEFAULT_MAX_BUCKET_SIZE): a degenerate bucket of B documents
    yields B^2 intra-bucket pairs (one boilerplate template shared by a
    million pages melts a reducer). Buckets larger than the cap are
    dropped entirely — their signature band carries no discriminating
    information, exactly like a stopword in an inverted index. Pass
    None for exact LSH semantics on bounded inputs.

    ``materialize`` (default on) localCheckpoints the banded buckets
    before the self-join: a logical self-join duplicates its subtree,
    so without it the corpus scan + shingle explode + minhash
    aggregation run TWICE. The bucket table is (id, band_id, band_hash)
    — tens of bytes per document regardless of document size — so
    materializing it trades a sliver of executor storage for half the
    heavy lifting (measured 9.5 s -> 5.6 s at sf0.1). The lineage cut
    means downstream stages re-read the checkpoint, not the corpus —
    and because the cut makes the blocks irreplaceable, multi-executor
    runs store them replicated (session.resilient_local_checkpoint;
    a lost executor then degrades to a replica read instead of
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND aborting the query)."""
    buckets = lsh_band_buckets(
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    if max_bucket_size is not None:
        # One whole-partition window count instead of groupBy + semi-join:
        # a single shuffle on the bucket key tags every row with its
        # bucket size, and the filter drops over-full buckets in place.
        from pyspark.sql import Window

        wcnt = F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_hash"))
        buckets = buckets.withColumn("_n", wcnt).filter(F.col("_n") <= max_bucket_size).drop("_n")
    if materialize:
        # Lazy: materializes on the caller's first action, computed once
        # and shared by both self-join branches.
        buckets = resilient_local_checkpoint(buckets, eager=False)
    a = buckets.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Exact unit-set Jaccard for the given (id_a, id_b) candidate pairs,
    where a unit is what ``_units`` emits — a ``shingle_n``-gram shingle
    by default (shingle-set Jaccard decays faster than token-set Jaccard
    on partial overlaps; tune thresholds against the shingle metric), or
    single tokens at ``shingle_n=1``.

    Scale contract: only candidate pairs ever materialize. The
    intersection count comes from joining ``pairs`` → tokens-of-a (equi
    on id_a) → tokens-of-b (equi on id_b AND tok), so the cost is
    O(|pairs| x avg_doc_tokens) — linear in the candidate set. The
    corpus-wide token self-join (quadratic in per-token document
    frequency — exactly the blow-up LSH exists to avoid) never appears
    in the plan. Pairs with an empty token intersection drop out of the
    inner join; LSH candidates always share the token behind their
    colliding min-hash, and Jaccard 0 pairs are below any threshold
    anyway.

    The corpus is semi-joined down to the ids appearing in ``pairs``
    BEFORE the explode, so the unit explode + size aggregation also
    scale with the candidate set, not the corpus (a corpus-wide explode
    would dominate when LSH prunes aggressively)."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    restricted = df.join(cand_ids, on=id_col, how="left_semi")
    return jaccard_pairs_from_units(
        unit_table(restricted, id_col, text_col, shingle_n), pairs, id_col
    )


def unit_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """(id, tok) similarity-unit explode — the one public builder behind
    :func:`jaccard_pairs` and any caller that verifies several candidate
    sets against one corpus (the banding recall sweep), so the explode
    construction lives in exactly one place (r12 ADVICE)."""
    return df.select(
        F.col(id_col), F.explode(_units(F.col(text_col), shingle_n)).alias("tok")
    )


def jaccard_pairs_from_units(
    toks: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """The verify tail of :func:`jaccard_pairs` over an externally-built
    (id, tok) unit table. A caller that verifies SEVERAL candidate sets
    against the same corpus (the banding recall sweep) materializes the
    unit explode once and shares it across chains — per-pair Jaccard
    depends only on each doc's unit set, never on which candidate set
    restricted the explode, so the result is identical to per-chain
    jaccard_pairs calls (r12 optimization, guide §2.4: one shared
    subtree instead of three re-derivations)."""
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_toks"))
    ta = toks.select(F.col(id_col).alias("id_a"), "tok")
    tb = toks.select(F.col(id_col).alias("id_b"), "tok")
    inter = (
        pairs.join(ta, on="id_a")
        .join(tb, on=["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n_toks": "n_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_toks": "n_b"}), on="id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
        )
    )


def signature_agreement_prefilter(
    sigs: DataFrame,
    candidates: DataFrame,
    id_col: str,
    num_hashes: int,
    cutoff: float,
) -> DataFrame:
    """Estimated-Jaccard prefilter: keep (id_a, id_b) candidates whose
    MinHash signature agreement fraction clears ``cutoff``. Two
    candidate-sized equi-joins against the signature table; the integer
    agreement count / float(num_hashes) is exact IEEE, so the SQL
    oracle's identical expression can't diverge. Shared by
    near_dup_pairs and the banding-sweep query."""
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    agree = reduce(
        add,
        [
            (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
            for i in range(num_hashes)
        ],
    )
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(agree / F.lit(float(num_hashes)) >= cutoff)
        .select("id_a", "id_b")
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    est_prefilter: float | None = DEFAULT_EST_PREFILTER,
    contract_exact: bool = True,
    clone_group_cap: int | None = DEFAULT_CLONE_GROUP_CAP,
) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH banding (hot-bucket cap on
    by default, see DEFAULT_MAX_BUCKET_SIZE) -> estimated-Jaccard
    prefilter -> exact shingle-Jaccard verification -> threshold.
    Returns (id_a, id_b, jaccard).

    The prefilter (``est_prefilter``, ON by default at
    DEFAULT_EST_PREFILTER) discards candidates whose MinHash signature
    agreement fraction — an unbiased Jaccard estimate costing two
    candidate-sized equi-joins against the already-computed signature
    table — falls below the cutoff, BEFORE the explode-verify join
    whose cost is O(|pairs| x doc_tokens). On high-duplication corpora
    (the x30 scale experiment's 71 s case) most LSH candidates are
    true high-Jaccard pairs and survive, but boilerplate-collision
    candidates die here for the price of comparing 8 hashes instead of
    exploding two documents. Recall trade, owned like the hot-bucket
    cap: with k=8 hashes a band collision fixes 2 agreements, so a
    true-J pair needs >= 2 of its other 6 hashes to agree to clear
    0.4; at the verify threshold J=0.6 that fails with probability
    ~4% per candidate (Binomial(6, 0.6) <= 1) and falls off
    exponentially for higher J — production raises k, which tightens
    the estimator, before raising the prefilter. Pass None for exact
    pre-r4 semantics.

    ``contract_exact`` (ON by default) pre-contracts sha2-identical
    documents to one representative before MinHash: exact clones have
    identical signatures, land in identical buckets, and verify to
    jaccard 1.0 — so a corpus with r replicas per document pays r× the
    shingle/minhash work and r² the candidate-verify work for answers
    that are pure expansions of the representative-level answers. The
    contraction runs the LSH pipeline on unique texts only, then emits
    (a) all intra-clone-group pairs at jaccard 1.0 (skipping groups
    whose text has no shingles — those never form pairs in the
    uncontracted pipeline either) and (b) representative-level verified
    pairs expanded through the group membership map. When the
    hot-bucket cap does not bind and no group exceeds
    ``clone_group_cap``, the result is IDENTICAL to the uncontracted
    pipeline (identical texts ⇒ identical signatures ⇒ identical
    collisions ⇒ identical jaccard); when the bucket cap binds,
    contraction strictly improves recall because clone groups no
    longer inflate bucket sizes. On a boilerplate-heavy web corpus the
    ×-duplication factor is the dominant cost multiplier this removes
    (the ×30 replica scale experiment is the measured case).

    ``clone_group_cap`` (see DEFAULT_CLONE_GROUP_CAP) bounds the
    intra-group expansion the contraction itself creates: groups with
    more than ``cap`` sha2-identical members are dropped WHOLE —
    members, representative, intra pairs — before the rep-level
    pipeline, exactly like an over-full LSH bucket. Without it a
    mega-clone group re-creates the single-reducer r² blow-up that
    ``max_bucket_size`` prevents, just one join later.

    ADAPTIVE BYPASS: the clone-group map costs one narrow sha2
    groupBy; when it shows the duplicate mass below
    CONTRACT_MIN_DUP_PERCENT of the corpus, the expansion joins cost
    more than the duplication they remove (measured ~1.3x overhead on
    the 0.13%-duplicated sf0.1 fixture vs ~9x saving on the
    96%-duplicated ×30 replica run) — so the builder reads one 2-int
    summary driver-side (a plan-selection scalar, like the convergence
    count in connected_components; no data is collected) and falls
    through to the uncontracted pipeline, which is output-identical
    while the caps don't bind and hot-bucket-cap-safe when they do."""
    if clone_group_cap is not None and clone_group_cap < 1:
        raise ValueError(
            f"clone_group_cap must be >= 1 or None, got {clone_group_cap}"
        )
    if contract_exact:
        # ADAPTIVE TRIGGER — one 2-int driver scalar; plan selection
        # only, nothing is collected. Contraction's COST (two
        # corpus-sized membership-expansion joins) is proportional to
        # the corpus; its BENEFIT is proportional to the duplicate mass
        # it removes — so when fewer than CONTRACT_MIN_DUP_PERCENT of
        # documents are clones, skip straight to the uncontracted
        # pipeline, which is output-identical when the caps don't bind
        # and remains mega-clone-SAFE when they do (an over-cap clone
        # group makes every one of its LSH buckets over-full, so the
        # hot-bucket cap drops it — the same owned trade clone_group_cap
        # encodes).
        #
        # r13 (guide §1.2/§5): the trigger is a BARE aggregation —
        # count + count_distinct over the text hash, no id column, no
        # localCheckpoint. The r12 shape derived it from the
        # checkpointed members/groups tables, which meant the COMMON
        # bypass path (every low-duplication corpus) materialized and
        # then abandoned a corpus-sized (id, hash) block set plus the
        # group map — block-manager pressure bought nothing. The
        # contraction path now pays one extra narrow hash-scan to
        # rebuild the group map it actually uses (its expansion joins
        # re-scan the corpus several times anyway); the bypass path pays
        # one lean combinable-aggregate job and persists nothing.
        # NULL texts count in neither side (count_distinct skips
        # NULLs), so they are never taken for mutual clones.
        st = df.agg(
            F.count(F.col(text_col)).alias("total"),
            F.count_distinct(F.sha2(F.col(text_col), 256)).alias("uniq"),
        ).first()
        dups = (st.total or 0) - (st.uniq or 0)
        if not st.total or dups * 100 < st.total * CONTRACT_MIN_DUP_PERCENT:
            return near_dup_pairs(
                df,
                id_col,
                text_col,
                threshold,
                num_hashes,
                bands,
                shingle_n,
                max_bucket_size,
                est_prefilter,
                contract_exact=False,
            )
        # Contraction path only: the shared clone-group map, checkpointed
        # because members feeds both the group map and the membership
        # expansion, and groups feeds the cap filter, the representative
        # semi-join, and both expansion legs.
        members = resilient_local_checkpoint(
            df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("_h")),
            eager=False,
        )
        groups = resilient_local_checkpoint(
            members.groupBy("_h").agg(
                F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_n")
            ),
            eager=False,
        )
        if clone_group_cap is not None:
            over = groups.filter(F.col("_n") > clone_group_cap)
            groups = groups.filter(F.col("_n") <= clone_group_cap)
            members = members.join(over.select("_h"), "_h", "left_anti")
        memb = members.join(groups, "_h").select(id_col, "_rep", "_n")
        rep_only = groups.select(F.col("_rep").alias(id_col))
        rep_docs = df.join(rep_only, on=id_col, how="left_semi")
        rep_pairs = near_dup_pairs(
            rep_docs,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
            shingle_n,
            max_bucket_size,
            est_prefilter,
            contract_exact=False,
        )
        # (a) intra-group pairs: jaccard exactly 1.0, provided the text
        # actually has shingles (empty-unit docs never pair upstream).
        multi = memb.filter(F.col("_n") > 1).select(id_col, "_rep")
        nonempty_reps = (
            rep_docs.join(
                multi.select(F.col("_rep").alias(id_col)).distinct(),
                on=id_col,
                how="left_semi",
            )
            .filter(F.size(_units(F.col(text_col), shingle_n)) > 0)
            .select(F.col(id_col).alias("_rep"))
        )
        ga = multi.select(F.col(id_col).alias("id_a"), "_rep")
        gb = multi.select(F.col(id_col).alias("id_b"), "_rep")
        intra = (
            ga.join(gb, "_rep")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(nonempty_reps, "_rep", "left_semi")
            .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
            .filter(F.lit(1.0) >= threshold)
        )
        # (b) representative pairs expanded through group membership.
        ma = memb.select(F.col("_rep").alias("id_a"), F.col(id_col).alias("_a"))
        mb = memb.select(F.col("_rep").alias("id_b"), F.col(id_col).alias("_b"))
        cross = (
            rep_pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("_a", "_b").alias("id_a"),
                F.greatest("_a", "_b").alias("id_b"),
                "jaccard",
            )
        )
        return intra.unionByName(cross)
    sigs = resilient_local_checkpoint(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_n),
        eager=False,
    )
    candidates = lsh_candidate_pairs(
        df,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_n,
        max_bucket_size,
        signatures=sigs,
    )
    if est_prefilter is not None:
        candidates = signature_agreement_prefilter(
            sigs, candidates, id_col, num_hashes, est_prefilter
        )
    verified = jaccard_pairs(df, candidates, id_col, text_col, shingle_n)
    return verified.filter(F.col("jaccard") >= threshold)


def connected_components(
    nodes: DataFrame, edges: DataFrame, id_col: str, max_iter: int = 15
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node's label converges to the smallest id reachable from it. Returns
    (id, cluster_id).

    Each iteration is one join + one aggregation over the edge list —
    all distributed, nothing driver-side except the convergence check
    (a count per iteration, standard for iterative graph algorithms).
    Plain propagation needs O(graph diameter) rounds; near-dup clusters
    are shallow (dups of a common source), so diameter is small. For
    adversarial long-chain graphs use ``connected_components_star``
    below (same join primitives, O(log n) rounds regardless of
    diameter) — the two are asserted label-identical in tests.

    Labels are replaced each round (``Rounds.replace``). ``sym`` is cut
    eagerly, once, so the edge-PRODUCING pipeline (the full LSH +
    prefilter + Jaccard-verify DAG when called from dedup_clusters)
    materializes before the loop instead of inside every round's join.
    One driver sync per round: the new label carries an inline
    ``_chg`` flag (a strictly smaller neighbor label arrived), and the
    filter-count that returns the changed count is also the job that
    materializes the round's cut.
    """
    sym = resilient_local_checkpoint(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct(),
        eager=True,
    )
    loop = Rounds()

    def step(labels: DataFrame) -> tuple[DataFrame, int]:
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = loop.replace(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_chg"),
            )
        )
        changed = new_labels.filter(F.col("_chg")).count()
        return new_labels.select("id", "cluster_id"), changed

    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id"))
    return loop.until_stable(labels, step, max_iter, "connected_components")


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, id_col: str, max_iter: int = 25
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds regardless of graph
    DIAMETER, where min-label propagation (``connected_components``)
    needs O(diameter) rounds — the difference between surviving and not
    surviving an adversarial duplicate CHAIN (doc1~doc2~...~docN with
    no shortcut edges) at 100 TB. Returns (id, cluster_id) with
    cluster_id = the component's minimum node id, identical to the
    propagation variant.

    Each round over the canonical edge list E (u < v):
      * large-star — for every node, hang all strictly LARGER
        neighbors off the minimum of its closed neighborhood:
        sym = E ∪ swap(E); m(x) = least(x, min neighbor); emit
        (m(x), v) for each neighbor v > x. Canonical order is
        preserved because m(x) <= x < v.
      * small-star — for every node, hang its SMALLER neighbors (and
        itself) off their minimum: group canonical edges by the larger
        endpoint v; m = min smaller-neighbor; emit (m, u) for the
        other smaller neighbors u plus (m, v).
    Both are one shuffle (groupBy) + one shuffle (join) on node id;
    star graphs are a fixed point of both, so an unchanged edge set
    terminates the loop. The convergence check is count-equality
    short-circuited: both edge sets are distinct, so |new| == |old|
    AND new.exceptAll(old) empty ⟺ new == old — rounds that changed
    the edge count (every round but the last) pay ONE cached count and
    zero join work; only the terminal round runs the one exceptAll.
    The edge set is replaced each round (``Rounds.replace``), and the
    count that materializes each cut is the convergence count. At the
    fixed point every edge is
    (component_min, member); members absent from the edge list are
    their own singleton clusters."""
    loop = Rounds()

    def step(state: tuple[DataFrame, int]) -> tuple[tuple[DataFrame, int], bool]:
        e, n_e = state
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        closed_min = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(closed_min, "u")
            .select(F.col("m").alias("u"), "v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        small_min = large.groupBy("v").agg(F.min("u").alias("m"))
        hang_smaller = (
            large.join(small_min, "v")
            .filter(F.col("u") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("u").alias("v"))
        )
        hang_self = small_min.select(F.col("m").alias("u"), "v")
        new_e = loop.replace(hang_smaller.unionByName(hang_self).distinct())
        n_new = new_e.count()
        changed = n_new != n_e or new_e.exceptAll(e).count() != 0
        return (new_e, n_new), changed

    e = loop.replace(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    e, _ = loop.until_stable((e, e.count()), step, max_iter, "connected_components_star")
    member_labels = e.select(
        F.col("v").alias("id"), F.col("u").alias("cluster_id")
    )
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(member_labels, "id", "left")
        .groupBy("id")
        .agg(
            F.least(F.col("id"), F.coalesce(F.min("cluster_id"), F.col("id"))).alias(
                "cluster_id"
            )
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    est_prefilter: float | None = DEFAULT_EST_PREFILTER,
    contract_exact: bool = True,
    clone_group_cap: int | None = DEFAULT_CLONE_GROUP_CAP,
) -> DataFrame:
    """Near-dup clustering: LSH+Jaccard pair graph → connected
    components. Returns (id, cluster_id); a document with no near-dups
    is its own cluster. Downstream dedup keeps ``id == cluster_id``
    (the min-id representative per cluster — deterministic). The LSH
    hot-bucket cap is on by default (DEFAULT_MAX_BUCKET_SIZE), and
    every near_dup_pairs knob — including ``est_prefilter=None`` for
    exact pre-prefilter semantics — plumbs through."""
    pairs = near_dup_pairs(
        df,
        id_col,
        text_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        max_bucket_size,
        est_prefilter,
        contract_exact,
        clone_group_cap,
    )
    return connected_components(df.select(id_col), pairs, id_col)


def cross_corpus_overlap(
    corpus: DataFrame,
    reference: DataFrame,
    corpus_id: str,
    reference_id: str,
    text_col: str,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """Decontamination primitive: per (corpus doc, reference doc) count
    of shared n-gram shingles — the standard test-set-contamination
    check before training. The inverted shingle join only materializes
    (corpus, reference) pairs that actually share a shingle; the
    reference side (benchmarks) is small and broadcastable, so the
    corpus never shuffles. Returns (corpus_id, reference_id, n_common,
    corpus_frac = n_common / corpus doc's shingle count)."""
    c_sh = corpus.select(
        F.col(corpus_id), F.explode(_units(F.col(text_col), shingle_n)).alias("sh")
    )
    r_sh = F.broadcast(
        reference.select(
            F.col(reference_id), F.explode(_units(F.col(text_col), shingle_n)).alias("sh")
        )
    )
    sizes = c_sh.groupBy(corpus_id).agg(F.count(F.lit(1)).alias("_n_sh"))
    overlap = (
        c_sh.join(r_sh, on="sh")
        .groupBy(corpus_id, reference_id)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return overlap.join(sizes, on=corpus_id).select(
        corpus_id,
        reference_id,
        "n_common",
        (F.col("n_common") / F.col("_n_sh")).alias("corpus_frac"),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash signature as a `bits`-char '0'/'1' string per document.

    Bit j of a token's hash = parity of hex digit j of md5(token) — a
    deterministic bit mixer both Spark and DuckDB compute identically.
    The document bit is the sign of the sum of (+1/-1) votes over its
    distinct tokens. One explode + one groupBy; the `bits` conditional
    sums all fold into a single partial aggregate."""
    if bits > 32:
        raise ValueError("md5 hex has 32 digits; bits must be <= 32")
    exploded = df.select(
        F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
    ).select(F.col(id_col), F.md5("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f"), 1)
            .otherwise(-1)
        ).alias(f"bit{j}")
        for j in range(bits)
    ]
    with_votes = exploded.groupBy(id_col).agg(*votes)
    sig = F.concat(*[F.when(F.col(f"bit{j}") > 0, "1").otherwise("0") for j in range(bits)])
    return with_votes.select(F.col(id_col), sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """n-gram (word-shingle) Jaccard similarity via the inverted shingle
    index. Quadratic in per-shingle document frequency — at corpus scale
    run near_dup_pairs (LSH) instead and use this only to verify
    candidates or on bounded slices."""
    sh = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("sa")
        .join(sh.alias("sb"), on="sh")
        .select(F.col(f"sa.{id_col}").alias("id_a"), F.col(f"sb.{id_col}").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), on="id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus WITHOUT
    re-clustering the corpus — the production shape of dedup at 100 TB,
    where the corpus's content hashes and LSH band buckets live as a
    materialized index and each ingest batch joins against it.

    Tags every incoming id with a status:

    - ``exact_dup``  — byte-identical text already in the corpus
      (sha2 semi-join; 32-byte keys shuffle, never text);
    - ``near_dup``   — shares an LSH band bucket with an existing doc
      AND verifies at Jaccard >= ``threshold`` (verification restricted
      to candidates, per jaccard_pairs' scale contract);
    - ``new``        — neither. Exact wins when both apply.

    Cost is O(|batch|) plus joins against index-shaped tables: the
    existing side contributes its hash set and its (id, band_id,
    band_hash) bucket table — both tens of bytes per doc and in
    production precomputed once, not rebuilt per batch (here they are
    derived inline because the fixture has no index sink). The
    ``max_bucket_size`` valve applies to the existing-side buckets —
    a viral boilerplate bucket must not cross-join against every
    incoming batch. Ids of the two sides must be disjoint — an UNCHECKED
    precondition (enforcing it would cost an extra anti-join action per
    batch): a shared id puts two rows in the union corpus and inflates
    that id's shingle counts, mis-scoring its Jaccard verification."""
    ex_hashes = existing.select(F.sha2(F.col(text_col), 256).alias("_h")).distinct()
    inc_hashed = incoming.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("_h")
    )
    exact_ids = inc_hashed.join(ex_hashes, on="_h", how="left_semi").select(id_col)

    inc_buckets = lsh_band_buckets(
        minhash_signatures(incoming, id_col, text_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    ex_buckets = lsh_band_buckets(
        minhash_signatures(existing, id_col, text_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        wcnt = F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_hash"))
        ex_buckets = (
            ex_buckets.withColumn("_n", wcnt)
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    # Checkpoint: jaccard_pairs references its candidate table three
    # times (both cand_ids branches + the inter join), and without a
    # lineage cut each reference re-executes the existing-corpus MinHash
    # + banding scan — the 100 TB side — from scratch (the same 2x-scan
    # trap lsh_candidate_pairs' bucket checkpoint closes, measured there
    # at 9.5 -> 5.6 s).
    pairs = (
        resilient_local_checkpoint(
            inc_buckets.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
            .join(
                ex_buckets.select(F.col(id_col).alias("id_b"), "band_id", "band_hash"),
                on=["band_id", "band_hash"],
            )
            .select("id_a", "id_b")
            .distinct(),
            eager=False,
        )
    )
    union_corpus = existing.select(id_col, text_col).unionByName(
        incoming.select(id_col, text_col)
    )
    near_ids = (
        jaccard_pairs(union_corpus, pairs, id_col, text_col, shingle_n)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        incoming.select(id_col)
        .join(exact_ids.withColumn("_e", F.lit(1)), on=id_col, how="left")
        .join(near_ids.withColumn("_nn", F.lit(1)), on=id_col, how="left")
        .select(
            id_col,
            F.when(F.col("_e") == 1, "exact_dup")
            .when(F.col("_nn") == 1, "near_dup")
            .otherwise("new")
            .alias("status"),
        )
    )


def setsim_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_SHINGLE_N,
    threshold: float = 0.5,
    max_prefix_df: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al.
    VLDB'08), the third route into the near-dup tier next to MinHash
    LSH (probabilistic, operators above) and the bounded-slice inverted
    self-join (``ngram_jaccard_pairs``). Returns every (id_a, id_b,
    jaccard) pair with word-shingle Jaccard >= ``threshold`` — NO false
    negatives, unlike LSH.

    Why it scales where the inverted self-join melts: order each
    document's shingles by ascending global document frequency and keep
    only the first L = |x| - ceil(t*|x|) + 1 of them (the PREFIX — the
    document's RAREST shingles). If J(x, y) >= t then
    |x n y| >= ceil(t*|x|); a pair sharing no x-prefix token overlaps
    at most |x| - L = ceil(t*|x|) - 1 < ceil(t*|x|) — contradiction, so
    every qualifying pair collides on a prefix token of BOTH sides.
    Candidate generation therefore joins the inverted index only on
    each document's rarest tokens: stopword-grade shingles (the df^2
    quadratic meltdown) sit at the END of the frequency order and never
    enter a prefix unless a document is nearly all boilerplate.

    Plan shape: one df-count agg over the shingle stream, one per-doc
    rank window (partitioned by doc — never a global window), a
    prefix-token equi-join for candidates (+ the t*max<=min length
    prune), then a candidate-bounded verify join: candidates x their
    two token lists, count the intersection, one division. Every
    shuffle is keyed (token, doc, or pair); nothing is corpus-quadratic.

    ``max_prefix_df``: skew valve — drop prefix ENTRIES whose token df
    exceeds the cap before candidate generation (the setsim twin of the
    LSH hot-bucket cap). Only documents whose entire prefix is that hot
    (near-pure boilerplate) can lose candidates; the default None keeps
    the join exact.
    """
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_units(F.col(text_col), n)).alias("sh"),
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Prefix length L = n_sh - o + 1 with o = ceil(t * n_sh), the
    # minimum intersection a J >= t pair can have with this document.
    # IEEE trap: 0.3 * 10 = 3.0000000000000004, so a bare ceil yields 4
    # and SHORTENS the prefix — a false negative. ceil(t*n - 1e-9) can
    # only round o DOWN across such a boundary (the double-multiply
    # error is <= t*n*2^-52, orders below 1e-9 for any feasible doc
    # size), and a smaller o means a LONGER prefix — always safe, at
    # worst one extra candidate token.
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn(
            "_pos",
            F.row_number().over(Window.partitionBy("_id").orderBy("_df", "sh")),
        )
        .join(sizes, "_id")
    )
    o_min = F.greatest(
        F.lit(1), F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
    )
    prefix = ranked.filter(F.col("_pos") <= F.col("n_sh") - o_min + 1)
    if max_prefix_df is not None:
        prefix = prefix.filter(F.col("_df") <= F.lit(int(max_prefix_df)))
    pa = prefix.select(F.col("_id").alias("id_a"), "sh", F.col("n_sh").alias("n_a"))
    pb = prefix.select(F.col("_id").alias("id_b"), "sh", F.col("n_sh").alias("n_b"))
    cand = (
        pa.join(pb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t implies t * max(|x|,|y|) <= min(|x|,|y|).
        # Same epsilon guard as the prefix bound: 0.3 * 10 > 3 in IEEE
        # would wrongly drop an exact-containment pair at the boundary.
        .filter(
            F.greatest("n_a", "n_b") * F.lit(threshold)
            <= F.least("n_a", "n_b") + F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("_id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), "sh"), ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"_id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"_id": "id_b", "n_sh": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Asymmetric set-CONTAINMENT pairs over distinct n-word shingles:
    C(A->B) = |A n B| / |A|. Jaccard-threshold dedup structurally
    misses subset duplicates (a paragraph quoted inside a much longer
    document has high containment but low Jaccard because the union is
    dominated by the long side); containment is the right measure for
    quote/boilerplate/subset detection (Broder 1997 distinguishes
    resemblance from containment for exactly this reason). Emits pairs
    where EITHER direction's containment clears the threshold, with
    both directions and the Jaccard for context.

    Same inverted-shingle scale caveat as ngram_jaccard_pairs: run on
    bounded slices or post-LSH candidates; at corpus scale the
    candidate source is near_dup_pairs' banding."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("sa")
        .join(sh.alias("sb"), on="sh")
        .select(
            F.col(f"sa.{id_col}").alias("id_a"),
            F.col(f"sb.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    withsz = inter.join(
        sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), on="id_a"
    ).join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), on="id_b")
    c_ab = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("n_common").cast("double") / F.col("n_b").cast("double")
    return withsz.select(
        "id_a",
        "id_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        c_ab.alias("containment_ab"),
        c_ba.alias("containment_ba"),
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    ).filter(
        (F.col("containment_ab") >= F.lit(threshold))
        | (F.col("containment_ba") >= F.lit(threshold))
    )
