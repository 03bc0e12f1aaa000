"""KMV / theta-sketch cardinality family (r5 verdict task 8).

``approx_count_distinct`` already covers Spark's built-in HLL++, but
HLL sketches can't INTERSECT: a union of HLLs is exact sketch algebra,
an intersection is inclusion-exclusion noise. The theta-sketch family
(KMV per Bar-Yossef et al. 2002; theta generalization per Apache
DataSketches / Dasgupta et al. 2016) fixes that by keeping the k
MINIMUM hash values: the k-th smallest normalized hash θ estimates density
(distinct ≈ (k-1)/θ), and because every sketch retains actual hash
values below its θ, two sketches intersect by literally intersecting
their retained sets below min(θ_a, θ_b) — the set-intersection
estimate a 100 TB dedup/decontamination planner needs ("how much does
crawl A overlap crawl B?") without ever joining the full corpora.

Cross-engine determinism: the hash is the repo-wide md5 idiom — 15 hex
digits → bigint in [0, 2^60) (`F.conv` ↔ DuckDB ``'0x' || substr``,
established in plans/curation.py's deterministic coin) — so sketch
contents, θ, and every estimate are bit-identical in Spark and DuckDB
and the driver gate hash-compares them raw. Accuracy (estimate vs
exact, within KMV's ~1/sqrt(k-1) relative error) is pinned by
tests/test_sketches.py, NOT by the oracle — the oracle proves the two
engines build the same sketch; the test proves the sketch math is
worth building.

Scale: sketch construction is ONE pass over the distinct (source,
hash) pairs — the bottom-k per source runs the same salted two-phase
shape as operators.similarity._topk_per_query (no per-source
single-reducer window over the corpus); everything after operates on
k·|sources| rows (KB), which is the entire point of sketches.

Reference parity: the reference engine has no sketch surface (its
whole operator set is scan/filter/hash-join/limit,
``/root/reference/src/executor/mod.rs:250-466``); this family comes
from the north star's LLM-pipeline mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pipeline_query_engine_demo_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from pipeline_query_engine_demo_spark.operators import dedup
from pipeline_query_engine_demo_spark.plans.registry import query
from pipeline_query_engine_demo_spark.session import resilient_local_checkpoint
from pipeline_query_engine_demo_spark.sources.catalog import load_table

#: Retained minimum hash values per sketch. 128 sits well below the
#: fixture shingle vocabulary (~1.2-1.5k per source), so the estimator
#: path genuinely estimates at every fixture SF; production sizes k by
#: target error ~ 1/sqrt(k-1) (k=1024 → ~3%).
K = 128
#: Hash universe: 15 md5 hex digits = [0, 2^60).
U = 1 << 60
#: Fan-out of the bottom-k pre-phase (same rationale as
#: similarity._TOPK_SALTS).
_SALTS = 16

#: 127 * 2^60 is exactly representable in a double (7-bit mantissa
#: times a power of two), so the estimator's one division is the same
#: IEEE operation on both engines.
_KMV_NUM = float(K - 1) * float(U)


def _source_shingle_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (source, hv) with hv = md5-bigint of each 3-word
    shingle — the stream a KMV sketch consumes. Distinct-before-sketch
    keeps the bottom-k input minimal and is semantics-free (KMV is a
    set sketch)."""
    sh = docs.select(
        "source",
        F.explode(dedup._units(F.col("text"), dedup.DEFAULT_SHINGLE_N)).alias("tok"),
    )
    hv = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    return sh.select("source", hv.alias("hv")).distinct()


def kmv_sketch(hashes: DataFrame, k: int = K) -> DataFrame:
    """Bottom-k hash values per source: (source, hv, rn), rn = 1-based
    ascending rank. Salted two-phase so no reducer ever sees a whole
    source's hash stream: phase 1 ranks within (source, salt-of-hv) and
    keeps k per salt; phase 2 re-ranks the <= k * _SALTS survivors."""
    pre = Window.partitionBy("source", "_salt").orderBy("hv")
    fin = Window.partitionBy("source").orderBy("hv")
    return (
        hashes.withColumn("_salt", F.pmod(F.hash("hv"), F.lit(_SALTS)))
        .withColumn("_p", F.row_number().over(pre))
        .filter(F.col("_p") <= k)
        .drop("_salt", "_p")
        .withColumn("rn", F.row_number().over(fin))
        .filter(F.col("rn") <= k)
    )


def _sketch_meta(sk: DataFrame, k: int = K) -> DataFrame:
    """(source, n_ret, theta): θ = the k-th smallest hv when the sketch
    is full, else the whole universe (an unsaturated sketch IS the
    exact set — the standard theta-sketch convention). ``k`` must match
    the ``k`` the sketch was built with (``kmv_sketch(..., k=...)``) or
    the saturation check would misclassify a full sketch as exact."""
    return sk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ret"),
        F.when(F.count(F.lit(1)) < F.lit(int(k)), F.lit(U).cast("bigint"))
        .otherwise(F.max("hv"))
        .alias("theta"),
    )


#: Shared SQL CTE chain: shingles with source → distinct md5-bigints →
#: per-source ascending ranks → retained bottom-k + θ. The shingle
#: expression mirrors plans/llm._shingle_units_sql with the source
#: column carried through.
_SH_WORDS = ", ".join(f"string_split(text, ' ')[i + {j}]" for j in range(3))
_SKETCH_CTES = f"""
        sh AS (SELECT source, unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> concat_ws(' ', {_SH_WORDS})))) AS tok
               FROM documents),
        hv AS (SELECT DISTINCT source,
                      CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hv
               FROM sh),
        r AS (SELECT source, hv,
                     row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
              FROM hv),
        sk AS (SELECT source, hv, rn FROM r WHERE rn <= {K}),
        mt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ret,
                      CASE WHEN COUNT(*) < {K} THEN CAST({U} AS BIGINT)
                           ELSE MAX(hv) END AS theta
               FROM sk GROUP BY source)
"""


@query(
    "kmv_distinct_shingles_by_source",
    category="sketch",
    oracle=f"""
        WITH {_SKETCH_CTES.strip()},
        ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
               FROM hv GROUP BY source)
        SELECT e.source, e.exact_distinct,
               {sql_round_half_up(
                   f"CASE WHEN m.n_ret < {K} THEN CAST(m.n_ret AS DOUBLE) "
                   f"ELSE {_KMV_NUM!r} / CAST(m.theta AS DOUBLE) END", 6)}
                   AS kmv_estimate
        FROM ex e JOIN mt m ON m.source = e.source
        ORDER BY e.source
    """,
)
def kmv_distinct_shingles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality, exact AND KMV-estimated
    ((k-1) / normalized θ with θ = k-th smallest md5-bigint), side by
    side — the accuracy of the sketch is part of the result. Estimate
    and exact are both deterministic, so the gate hash-compares them
    raw; tests additionally bound |est - exact| / exact by the KMV
    error envelope.

    Scale: the exact column is one combinable count over distinct
    (source, hv) — at 100 TB you DROP that column and keep the sketch;
    it ships here because the fixture can afford the ground truth and
    the estimator's error then stays visible in every gate run."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    hashes = _source_shingle_hashes(docs)
    exact = hashes.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    meta = _sketch_meta(kmv_sketch(hashes))
    est = F.when(
        F.col("n_ret") < F.lit(K), F.col("n_ret").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("theta").cast("double"))
    return (
        exact.join(F.broadcast(meta), "source")
        .select("source", "exact_distinct", round_half_up(est, 6).alias("kmv_estimate"))
        .orderBy("source")
    )


@query(
    "theta_sketch_shingle_overlap",
    category="sketch",
    oracle=f"""
        WITH {_SKETCH_CTES.strip()},
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   least(a.theta, b.theta) AS th
            FROM mt a JOIN mt b ON a.source < b.source
        ),
        c AS (
            SELECT p.source_a, p.source_b,
                   CAST(COUNT(y.hv) AS BIGINT) AS common_retained
            FROM pairs p
            LEFT JOIN sk x ON x.source = p.source_a AND x.hv < p.th
            LEFT JOIN sk y ON y.source = p.source_b AND y.hv = x.hv
            GROUP BY p.source_a, p.source_b
        ),
        u AS (
            SELECT p.source_a, p.source_b,
                   CAST(COUNT(DISTINCT s.hv) AS BIGINT) AS union_retained
            FROM pairs p
            JOIN sk s ON s.source IN (p.source_a, p.source_b)
                     AND s.hv < p.th
            GROUP BY p.source_a, p.source_b
        )
        SELECT p.source_a, p.source_b,
               COALESCE(c.common_retained, CAST(0 AS BIGINT))
                   AS common_retained,
               {sql_round_half_up(
                   "CAST(COALESCE(c.common_retained, 0) AS DOUBLE) * "
                   f"{float(U)!r} / CAST(p.th AS DOUBLE)", 6)}
                   AS est_common,
               CASE WHEN COALESCE(u.union_retained, 0) > 0 THEN
                   {sql_round_half_up(
                       "CAST(COALESCE(c.common_retained, 0) AS DOUBLE) / "
                       "CAST(u.union_retained AS DOUBLE)", 6)}
               END AS est_jaccard
        FROM pairs p
        LEFT JOIN c ON c.source_a = p.source_a AND c.source_b = p.source_b
        LEFT JOIN u ON u.source_a = p.source_a AND u.source_b = p.source_b
        ORDER BY p.source_a, p.source_b
    """,
)
def theta_sketch_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimates from the per-source KMV
    sketches alone: intersect each pair's retained hash sets below
    θ = min(θ_a, θ_b); |∩| · U / θ estimates the common-shingle count
    and |∩| / |∪ below θ| the Jaccard — the theta-sketch intersection
    (the operation HLL fundamentally can't do). No corpus-side pair
    join exists in the plan: after the one sketch-building pass, all
    20 sources x 190 pairs run over k·|sources| broadcast rows — at
    100 TB the sketches are kilobytes while source_overlap_matrix's
    exact join is another full-corpus shuffle.

    Determinism: retained sets, θ, and both estimates derive from md5
    — the gate hash-compares every column raw. Accuracy vs the exact
    overlap is pinned in tests/test_sketches.py."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sk = resilient_local_checkpoint(
        kmv_sketch(_source_shingle_hashes(docs)), eager=False
    )
    meta = _sketch_meta(sk)
    pairs = (
        meta.alias("a")
        .join(meta.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.least(F.col("a.theta"), F.col("b.theta")).alias("th"),
        )
    )
    ska = sk.select(F.col("source").alias("source_a"), F.col("hv").alias("hva"))
    skb = sk.select(F.col("source").alias("source_b"), F.col("hv").alias("hvb"))
    common = (
        pairs.join(F.broadcast(ska), "source_a")
        .filter(F.col("hva") < F.col("th"))
        .join(F.broadcast(skb), "source_b")
        .filter(F.col("hvb") == F.col("hva"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_retained"))
    )
    union_rows = pairs.join(F.broadcast(ska), "source_a").select(
        "source_a", "source_b", "th", F.col("hva").alias("hv")
    ).unionByName(
        pairs.join(
            F.broadcast(sk.select(F.col("source").alias("source_b"), "hv")),
            "source_b",
        ).select("source_a", "source_b", "th", "hv")
    )
    union_ret = (
        union_rows.filter(F.col("hv") < F.col("th"))
        .groupBy("source_a", "source_b")
        .agg(F.count_distinct(F.col("hv")).cast("bigint").alias("union_retained"))
    )
    cr = F.coalesce(F.col("common_retained"), F.lit(0).cast("bigint"))
    est_common = round_half_up(
        cr.cast("double") * F.lit(float(U)) / F.col("th").cast("double"), 6
    )
    est_jac = F.when(
        F.coalesce(F.col("union_retained"), F.lit(0).cast("bigint")) > 0,
        round_half_up(cr.cast("double") / F.col("union_retained").cast("double"), 6),
    )
    return (
        pairs.join(common, ["source_a", "source_b"], "left")
        .join(union_ret, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            cr.alias("common_retained"),
            est_common.alias("est_common"),
            est_jac.alias("est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "kmv_merge_global_distinct",
    category="sketch",
    oracle=f"""
        WITH {_SKETCH_CTES.strip()},
        merged AS (
            SELECT DISTINCT hv FROM sk
        ),
        mr AS (
            SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM merged
        ),
        msk AS (SELECT hv, rn FROM mr WHERE rn <= {K}),
        mmeta AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_ret,
                   CASE WHEN COUNT(*) < {K} THEN CAST({U} AS BIGINT)
                        ELSE MAX(hv) END AS theta
            FROM msk
        ),
        ex AS (SELECT CAST(COUNT(DISTINCT hv) AS BIGINT) AS exact_distinct
               FROM hv)
        SELECT CAST((SELECT COUNT(*) FROM mt) AS BIGINT) AS n_sources,
               e.exact_distinct,
               {sql_round_half_up(
                   f"CASE WHEN m.n_ret < {K} THEN CAST(m.n_ret AS DOUBLE) "
                   f"ELSE {_KMV_NUM!r} / CAST(m.theta AS DOUBLE) END", 6)}
                   AS merged_estimate
        FROM ex e, mmeta m
    """,
)
def kmv_merge_global_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes KMV a distributed
    aggregate: the union of per-source sketches, re-cut to its own
    bottom-k, IS the sketch of the union (any global bottom-k value is
    bottom-k within its own source, so no retained value is missing).
    The global distinct-shingle estimate here is computed ONLY from the
    20 per-source sketches (k·|sources| rows), exactly how a
    1000-executor job merges per-partition sketches on a combiner
    tree; the exact global count rides along for visible accuracy.

    The merge re-cut is orderBy(hv).limit(k) — TakeOrderedAndProject,
    a parallel partial top-k per partition + tiny driver merge, no
    partition-less window.

    Scale: after the one corpus pass that builds per-source sketches,
    the merge touches KB regardless of corpus size; the exact column
    is the piece you drop at 100 TB."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    hashes = _source_shingle_hashes(docs)
    sk = kmv_sketch(hashes)
    n_sources = sk.select("source").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources")
    )
    merged = sk.select("hv").distinct().orderBy("hv").limit(K)
    mmeta = merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ret"),
        F.max("hv").alias("mx"),
    ).select(
        "n_ret",
        F.when(F.col("n_ret") < F.lit(K), F.lit(U).cast("bigint"))
        .otherwise(F.col("mx"))
        .alias("theta"),
    )
    exact = hashes.select("hv").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_ret") < F.lit(K), F.col("n_ret").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("theta").cast("double"))
    return (
        n_sources.crossJoin(exact)
        .crossJoin(mmeta)
        .select(
            "n_sources",
            "exact_distinct",
            round_half_up(est, 6).alias("merged_estimate"),
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog (register-based) — the third cardinality sketch
# --------------------------------------------------------------------------

#: HLL register count (2^6). j = hv % 64 picks the register; the
#: remaining 54 bits feed the leading-zero rank.
_HLL_M = 64
#: rho = (54-bit window) leading zeros + 1 = 55 - bitlength(rest),
#: capped at 55 when rest == 0.
_HLL_RHO_CAP = 55
#: alpha_64 * m^2 * 2^55, folded to ONE python double so both engines
#: divide the identical IEEE numerator by the identical integer
#: denominator (the repo's pre-folded-constant recipe). 0.709 is the
#: standard alpha_m for m = 64 (Flajolet et al., AofA'07).
_HLL_ALPHA_NUM = 0.709 * float(_HLL_M) * float(_HLL_M) * float(1 << _HLL_RHO_CAP)

#: Shared CTE chain for the HLL oracles (batch query below + the
#: streaming twin in plans/streams.py): shingle md5-bigints → register
#: index / rank → per-register max → harmonic denominator in exact
#: BIGINT.
_HLL_CTES = f"""
        sh AS (SELECT source, unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> concat_ws(' ', {_SH_WORDS})))) AS tok
               FROM documents),
        hv AS (SELECT DISTINCT source,
                      CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hv
               FROM sh),
        rho AS (SELECT source, hv % {_HLL_M} AS j,
                       CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RHO_CAP}
                            ELSE {_HLL_RHO_CAP} - length(bin(hv // {_HLL_M}))
                       END AS rho
                FROM hv),
        mx AS (SELECT source, j, MAX(rho) AS m FROM rho GROUP BY source, j),
        regs AS (SELECT s.source, g.j
                 FROM (SELECT DISTINCT source FROM hv) s
                 CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS j) g),
        filled AS (SELECT r.source, r.j, COALESCE(mx.m, 0) AS m
                   FROM regs r LEFT JOIN mx ON mx.source = r.source AND mx.j = r.j),
        den AS (SELECT source,
                       SUM(CAST(power(2, {_HLL_RHO_CAP} - m) AS BIGINT)) AS denom,
                       SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS hit
                FROM filled GROUP BY source)
"""


@query(
    "hll_distinct_shingles_by_source",
    category="sketch",
    oracle=f"""
        WITH {_HLL_CTES.strip()},
        ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
               FROM hv GROUP BY source)
        SELECT d.source,
               CAST(d.hit AS BIGINT) AS registers_hit,
               {sql_round_half_up(f"{_HLL_ALPHA_NUM!r} / CAST(d.denom AS DOUBLE)", 6)}
                   AS hll_estimate,
               e.exact_distinct
        FROM den d JOIN ex e ON e.source = d.source
        ORDER BY d.source
    """,
)
def hll_distinct_shingles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-based HyperLogLog (Flajolet et al., AofA'07) over the
    same distinct-shingle stream the KMV/theta sketches consume — the
    third cardinality sketch, completing the family (KMV/theta for
    intersectable sets, CMS for frequencies, bloom for membership, HLL
    for the smallest-memory union-able count): 64 registers = 64 longs
    per source versus KMV's k=128 retained hashes.

    Cross-engine exactness without transcendentals: rho = 55 -
    bitlength(hv div 64) is pure integer (length(bin(x)) on both
    engines); each register contributes the INTEGER 2^(55 - M[j]) and
    the harmonic denominator accumulates in BIGINT (<= 64 * 2^55 =
    2^61, exact) — the raw-HLL estimate is then ONE double division of
    a pre-folded alpha*m^2*2^55 literal by the denominator, identical
    IEEE on both engines (no small/large-range corrections: the
    fixture's per-source cardinality ~ 1.2-1.5k sits far above the
    2.5m = 160 bias zone, and bias-correction tables would import
    engine-specific float behavior for nothing).

    Scale: one pass over distinct (source, hv) pairs, groupBy
    (source, j) max — fully combinable (map-side max) — then 64 rows
    per source; sketches from disjoint partitions/days MERGE by
    register max, the union-ability pytest proves it bit-for-bit."""
    hashes = _source_shingle_hashes(load_table(spark, sf_dir, "documents", fan_out=True))
    rest = F.expr(f"hv div {_HLL_M}")
    rho = F.when(rest == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.lit(_HLL_RHO_CAP) - F.length(F.bin(rest))
    )
    mx = (
        hashes.select(
            "source", F.pmod("hv", F.lit(_HLL_M)).alias("j"), rho.alias("rho")
        )
        .groupBy("source", "j")
        .agg(F.max("rho").alias("m"))
    )
    regs = (
        hashes.select("source")
        .distinct()
        .select("source", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("j"))
    )
    filled = regs.join(mx, ["source", "j"], "left").select(
        "source", "j", F.coalesce("m", F.lit(0)).alias("m")
    )
    den = filled.groupBy("source").agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(_HLL_RHO_CAP) - F.col("m")).cast("bigint")
        ).alias("denom"),
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).cast("bigint").alias(
            "registers_hit"
        ),
    )
    ex = hashes.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    return (
        den.join(ex, "source")
        .select(
            "source",
            "registers_hit",
            round_half_up(
                F.lit(_HLL_ALPHA_NUM) / F.col("denom").cast("double"), 6
            ).alias("hll_estimate"),
            "exact_distinct",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Theta-sketch A-not-B — the set-DIFFERENCE estimator
# --------------------------------------------------------------------------


@query(
    "theta_sketch_anotb_difference",
    category="sketch",
    oracle=f"""
        WITH {_SKETCH_CTES.strip()},
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   least(a.theta, b.theta) AS th
            FROM mt a JOIN mt b ON a.source < b.source
        ),
        ab AS (
            SELECT p.source_a, p.source_b,
                   CAST(COUNT(*) FILTER (WHERE y.hv IS NULL) AS BIGINT)
                       AS a_not_b_retained
            FROM pairs p
            JOIN sk x ON x.source = p.source_a AND x.hv < p.th
            LEFT JOIN sk y ON y.source = p.source_b AND y.hv = x.hv
            GROUP BY p.source_a, p.source_b
        ),
        ba AS (
            SELECT p.source_a, p.source_b,
                   CAST(COUNT(*) FILTER (WHERE y.hv IS NULL) AS BIGINT)
                       AS b_not_a_retained
            FROM pairs p
            JOIN sk x ON x.source = p.source_b AND x.hv < p.th
            LEFT JOIN sk y ON y.source = p.source_a AND y.hv = x.hv
            GROUP BY p.source_a, p.source_b
        )
        SELECT p.source_a, p.source_b,
               COALESCE(ab.a_not_b_retained, CAST(0 AS BIGINT))
                   AS a_not_b_retained,
               COALESCE(ba.b_not_a_retained, CAST(0 AS BIGINT))
                   AS b_not_a_retained,
               {sql_round_half_up(
                   "CAST(COALESCE(ab.a_not_b_retained, 0) AS DOUBLE) * "
                   f"{float(U)!r} / CAST(p.th AS DOUBLE)", 6)}
                   AS est_a_not_b,
               {sql_round_half_up(
                   "CAST(COALESCE(ba.b_not_a_retained, 0) AS DOUBLE) * "
                   f"{float(U)!r} / CAST(p.th AS DOUBLE)", 6)}
                   AS est_b_not_a
        FROM pairs p
        LEFT JOIN ab ON ab.source_a = p.source_a AND ab.source_b = p.source_b
        LEFT JOIN ba ON ba.source_a = p.source_a AND ba.source_b = p.source_b
        ORDER BY p.source_a, p.source_b
    """,
)
def theta_sketch_anotb_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-not-B (Apache DataSketches' ``AnotB`` operation):
    per source pair, restrict BOTH retained sets below θ = min(θ_a,
    θ_b) and count A-side hashes absent from B; |A\\B below θ| · U / θ
    estimates the set difference. With union (kmv merge), intersection
    (theta overlap) and now difference, the sketch tier closes the full
    set algebra — "how much of crawl A is NOT already in crawl B" is
    the incremental-ingest sizing question, answered from kilobytes of
    sketch without re-joining either corpus.

    Determinism: same md5-bigint retained sets as every sketch query —
    counts and the one estimate division hash-compare raw. Accuracy vs
    the exact per-pair difference, plus the exact identity
    (A\\B) + (A∩B) = |A below θ|, are pinned in tests.

    Scale: after the one sketch-building corpus pass, both anti-join
    legs run over broadcast k·|sources| rows — pair cost is
    sketch-sized, independent of corpus size."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sk = resilient_local_checkpoint(
        kmv_sketch(_source_shingle_hashes(docs)), eager=False
    )
    meta = _sketch_meta(sk)
    pairs = (
        meta.alias("a")
        .join(meta.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.least(F.col("a.theta"), F.col("b.theta")).alias("th"),
        )
    )

    def _one_side(keep: str, other: str, out: str) -> DataFrame:
        """Count retained ``keep``-side hvs below th with no match in
        the ``other`` side's retained set (hv-equality implies the
        match is below th too)."""
        x = sk.select(F.col("source").alias(keep), F.col("hv").alias("hvx"))
        y = sk.select(F.col("source").alias("_ys"), F.col("hv").alias("hvy"))
        return (
            pairs.join(F.broadcast(x), keep)
            .filter(F.col("hvx") < F.col("th"))
            .join(
                F.broadcast(y),
                (F.col("_ys") == F.col(other)) & (F.col("hvy") == F.col("hvx")),
                "left_outer",
            )
            .groupBy("source_a", "source_b")
            .agg(
                F.count(F.when(F.col("hvy").isNull(), 1)).cast("bigint").alias(out)
            )
        )

    ab = _one_side("source_a", "source_b", "a_not_b_retained")
    ba = _one_side("source_b", "source_a", "b_not_a_retained")
    zero = F.lit(0).cast("bigint")
    cab = F.coalesce(F.col("a_not_b_retained"), zero)
    cba = F.coalesce(F.col("b_not_a_retained"), zero)
    scale = F.lit(float(U)) / F.col("th").cast("double")
    return (
        pairs.join(ab, ["source_a", "source_b"], "left")
        .join(ba, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            cab.alias("a_not_b_retained"),
            cba.alias("b_not_a_retained"),
            round_half_up(cab.cast("double") * scale, 6).alias("est_a_not_b"),
            round_half_up(cba.cast("double") * scale, 6).alias("est_b_not_a"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# HLL sketch cube — per-month registers, trailing windows answered by merge
# --------------------------------------------------------------------------

#: Trailing window width in months (current month + 2 preceding).
_HLL_WIN = 3


@query(
    "hll_rollup_trailing_parts",
    category="sketch",
    oracle=f"""
        WITH mh AS (
            SELECT DISTINCT
                   (year(l_shipdate) * 12 + month(l_shipdate)) AS mi,
                   CAST('0x' || substring(md5(
                       CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)), 1, 15)
                       AS BIGINT) AS hv
            FROM lineitem),
        rho AS (SELECT mi, hv % {_HLL_M} AS j,
                       CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RHO_CAP}
                            ELSE {_HLL_RHO_CAP} - length(bin(hv // {_HLL_M}))
                       END AS rho
                FROM mh),
        mx AS (SELECT mi, j, MAX(rho) AS m FROM rho GROUP BY mi, j),
        months AS (SELECT DISTINCT mi FROM mh),
        grid AS (SELECT months.mi, g.j
                 FROM months
                 CROSS JOIN (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS j) g),
        filled AS (SELECT grid.mi, grid.j, COALESCE(mx.m, 0) AS m
                   FROM grid LEFT JOIN mx
                     ON mx.mi = grid.mi AND mx.j = grid.j),
        win AS (SELECT mi, j,
                       MAX(m) OVER (PARTITION BY j ORDER BY mi
                                    RANGE BETWEEN {_HLL_WIN - 1} PRECEDING
                                          AND CURRENT ROW) AS mw
                FROM filled),
        den AS (SELECT mi,
                       SUM(CAST(power(2, {_HLL_RHO_CAP} - mw) AS BIGINT)) AS denom,
                       SUM(CASE WHEN mw > 0 THEN 1 ELSE 0 END) AS hit
                FROM win GROUP BY mi),
        mp AS (SELECT DISTINCT
                      (year(l_shipdate) * 12 + month(l_shipdate)) AS mi,
                      CAST(l_partkey AS BIGINT) AS pk
               FROM lineitem),
        tgt AS (SELECT mi + g.x AS tmi, pk
                FROM mp CROSS JOIN (SELECT unnest([0, 1, 2]) AS x) g),
        ex AS (SELECT t.tmi AS mi, CAST(COUNT(DISTINCT t.pk) AS BIGINT)
                          AS exact_distinct
               FROM tgt t JOIN months mm ON mm.mi = t.tmi
               GROUP BY t.tmi)
        SELECT CAST(d.mi AS BIGINT) AS month_idx,
               CAST(d.hit AS BIGINT) AS registers_hit,
               {sql_round_half_up(f"{_HLL_ALPHA_NUM!r} / CAST(d.denom AS DOUBLE)", 6)}
                   AS hll_estimate,
               e.exact_distinct
        FROM den d JOIN ex e ON e.mi = d.mi
        ORDER BY month_idx
    """,
)
def hll_rollup_trailing_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SKETCH CUBE: per ship-month HLL registers over distinct
    ``l_partkey``, with every trailing-3-month distinct-part count
    answered purely by register-wise MAX over the window — the pattern
    that makes sketches a storage format, not just an aggregate: a
    100 TB pipeline stores 64 longs per (month, dimension) cell ONCE,
    then any trailing/rolling/ad-hoc window union is sketch algebra
    over KB, with zero re-scans of raw data (Delta/Iceberg cube tables
    do exactly this for distinct-user dashboards). Completes the HLL
    story begun by ``hll_distinct_shingles_by_source`` (single-level)
    and the streaming twin (state): time-dimension MERGE.

    The merged-window estimate is exactly the estimate of the sketch
    built over the unioned months (register max is the HLL union — no
    approximation stacking), which the independent python replay test
    proves value-for-value; exact trailing distincts ride along for
    visible accuracy (~1.3-2k per window here, far above the m=64 bias
    zone; that column is what you DROP at scale).

    Cross-engine exactness: same integer-only rho/denominator algebra
    as the base HLL query (decimal-free BIGINT harmonic sum, one final
    IEEE division by the pre-folded alpha numerator).

    Scale: one combinable (month, register) MAX over distinct hashes;
    the window runs over the GRID (months x 64 rows — sketch-sized, by
    construction bounded), never over data; the exact column's
    explode-by-window-width fan-out is x3 on (month, part) pairs, also
    combinable. No driver state, no partition-less window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    mi = (F.year("l_shipdate") * F.lit(12) + F.month("l_shipdate")).cast(
        "bigint"
    )
    pk = F.col("l_partkey").cast("bigint")
    hv = F.conv(F.substring(F.md5(pk.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    mh = li.select(mi.alias("mi"), hv.alias("hv")).distinct()
    rest = F.expr(f"hv div {_HLL_M}")
    rho = F.when(rest == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.lit(_HLL_RHO_CAP) - F.length(F.bin(rest))
    )
    mx = (
        mh.select("mi", F.pmod("hv", F.lit(_HLL_M)).alias("j"), rho.alias("rho"))
        .groupBy("mi", "j")
        .agg(F.max("rho").alias("m"))
    )
    months = mh.select("mi").distinct()
    grid = months.select(
        "mi", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("j")
    )
    filled = grid.join(mx, ["mi", "j"], "left").select(
        "mi", "j", F.coalesce("m", F.lit(0)).alias("m")
    )
    w = (
        Window.partitionBy("j")
        .orderBy("mi")
        .rangeBetween(-(_HLL_WIN - 1), 0)
    )
    win = filled.select("mi", "j", F.max("m").over(w).alias("mw"))
    den = win.groupBy("mi").agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(_HLL_RHO_CAP) - F.col("mw")).cast("bigint")
        ).alias("denom"),
        F.sum(F.when(F.col("mw") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("registers_hit"),
    )
    mp = li.select(mi.alias("mi"), pk.alias("pk")).distinct()
    tgt = mp.select(
        F.explode(
            F.sequence(F.col("mi"), F.col("mi") + F.lit(_HLL_WIN - 1))
        ).alias("mi"),
        "pk",
    )
    ex = (
        tgt.join(months, "mi", "left_semi")
        .groupBy("mi")
        .agg(F.countDistinct("pk").cast("bigint").alias("exact_distinct"))
    )
    return (
        den.join(ex, "mi")
        .select(
            F.col("mi").alias("month_idx"),
            "registers_hit",
            round_half_up(
                F.lit(_HLL_ALPHA_NUM) / F.col("denom").cast("double"), 6
            ).alias("hll_estimate"),
            "exact_distinct",
        )
        .orderBy("month_idx")
    )


# --------------------------------------------------------------------------
# Bottom-k quantile sketch — a mergeable uniform-sample quantile summary
# --------------------------------------------------------------------------

#: Retained (hash, value) pairs in the quantile sketch. Bottom-k BY A
#: DETERMINISTIC HASH is a uniform sample without replacement, so the
#: sample's nearest-rank quantiles estimate the population's with error
#: ~ z * sqrt(p(1-p)/k) at quantile level p (k=512 -> ~2-4 points).
_QSK_K = 512
#: Nearest-rank percentile levels, as integer percents so the rank
#: arithmetic (pct*n + 99) div 100 = ceil(pct*n/100) stays in BIGINT on
#: both engines — a DECIMAL-vs-double ceil(p*n) would diverge whenever
#: p*n grazes an integer (0.9*400 is 360 in DECIMAL, 360.00000000000006
#: in IEEE).
_QSK_PCTS = [25, 50, 75, 90, 99]


@query(
    "quantile_sketch_totalprice",
    category="sketch",
    oracle=f"""
        WITH h AS (
            SELECT CAST('0x' || substring(md5(
                       CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15)
                       AS BIGINT) AS hv,
                   o_totalprice AS v
            FROM orders),
        r AS (SELECT hv, v, row_number() OVER (ORDER BY hv) AS rn FROM h),
        sk AS (SELECT v FROM r WHERE rn <= {_QSK_K}),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sk),
        rv AS (SELECT v, row_number() OVER (ORDER BY v) AS vr FROM sk),
        p AS (SELECT unnest([{", ".join(str(p) for p in _QSK_PCTS)}]) AS pct)
        SELECT CAST(p.pct AS BIGINT) AS pct,
               n.n AS n_retained,
               rv.v AS est_quantile
        FROM p CROSS JOIN n
        JOIN rv ON rv.vr = (CAST(p.pct AS BIGINT) * n.n + 99) // 100
        ORDER BY pct
    """,
)
def quantile_sketch_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch: retain the k=512 (hash, value) pairs
    with the smallest deterministic md5-bigint of the row key — a
    uniform sample without replacement whose sorted values answer any
    nearest-rank percentile of ``o_totalprice``. The same bottom-k
    algebra as KMV makes it a distributed aggregate: per-partition (or
    per-day, per-source) sketches MERGE by union + re-cut to bottom-k,
    bit-for-bit equal to the sketch of the full stream (pytest proves
    the merge over per-orderstatus sketches; the KMV proof pattern,
    now carrying VALUES so it summarizes a distribution, not just a
    cardinality — the hash-ordered cousin of a GK/KLL summary with the
    merge story a 1000-executor combiner tree needs).

    Estimates are DETERMINISTIC (fixed hash), so the gate compares them
    raw; accuracy vs the true population quantiles (~ sqrt(p(1-p)/k)
    rank error) is pinned by pytest against numpy over the full table.

    Rank arithmetic is all-BIGINT — ceil(pct*n/100) spelled
    (pct*n + 99) div 100 — because DECIMAL-vs-IEEE ceil diverges when
    p*n grazes an integer (docstring constant note above).

    Scale: the bottom-k is ``orderBy(hv).limit(k)`` =
    TakeOrderedAndProject (per-partition partial top-k + tiny driver
    merge, no partition-less window, nothing value-sorted globally);
    everything after runs on k rows via one 512-element sorted array in
    a single-row aggregate. The full-table scan reads exactly two
    columns (pruned scan)."""
    orders = load_table(spark, sf_dir, "orders")
    hv = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("bigint").cast("string")), 1, 15),
        16,
        10,
    ).cast("bigint")
    retained = (
        orders.select(hv.alias("hv"), F.col("o_totalprice").alias("v"))
        .orderBy("hv")
        .limit(_QSK_K)
    )
    one = retained.agg(
        F.sort_array(F.collect_list("v")).alias("vals"),
        F.count(F.lit(1)).cast("bigint").alias("n_retained"),
    )
    pct = F.explode(
        F.array(*[F.lit(p).cast("bigint") for p in _QSK_PCTS])
    ).alias("pct")
    rank = F.expr("(pct * n_retained + 99) div 100").cast("int")
    return (
        one.select(pct, "vals", "n_retained")
        .select(
            "pct",
            "n_retained",
            F.element_at("vals", rank).alias("est_quantile"),
        )
        .orderBy("pct")
    )


# --------------------------------------------------------------------------
# AMS F2 sketch — self-join size / skew estimation in one combinable pass
# --------------------------------------------------------------------------

#: Sign hashes (one bit each, all drawn from ONE md5-bigint per row).
_AMS_J = 40
#: Averaging-group width and count: 5 groups of 8 estimators,
#: median-of-means.
_AMS_G, _AMS_NG = 8, 5


@query(
    "ams_f2_skew_events",
    category="sketch",
    oracle=f"""
        WITH h AS (
            SELECT CAST('0x' || substring(md5(
                       CAST(CAST(user_id AS BIGINT) AS VARCHAR)), 1, 15)
                       AS BIGINT) AS hv
            FROM events),
        s AS (SELECT {", ".join(
            f"SUM(((hv >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(_AMS_J)
        )},
                     CAST(COUNT(*) AS BIGINT) AS n_rows
              FROM h),
        g AS (SELECT n_rows, {", ".join(
            "(" + " + ".join(
                f"s{j} * s{j}" for j in range(gi * _AMS_G, (gi + 1) * _AMS_G)
            ) + f") AS g{gi}"
            for gi in range(_AMS_NG)
        )}
              FROM s),
        ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
               FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id)),
        med AS (SELECT n_rows,
                       list_sort([{", ".join(f"g{gi}" for gi in range(_AMS_NG))}])
                           [{_AMS_NG // 2 + 1}] AS m
                FROM g)
        SELECT med.n_rows,
               ex.exact_f2,
               CAST(med.m AS DOUBLE) / CAST({_AMS_G}.0 AS DOUBLE)
                   AS ams_estimate
        FROM med, ex
    """,
)
def ams_f2_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy,
    STOC'96) over ``events.user_id``: F2 = Σ f(u)² is the SELF-JOIN
    SIZE and the canonical key-skew statistic a distributed planner
    wants BEFORE shuffling a join (F2/n² near 1/|keys| = uniform, near
    1 = one hot key). Each sign hash keeps one running integer
    S_j = Σ_rows s_j(row) — the per-row ±1 trick means NO pre-grouping:
    the whole sketch is one map-side-combinable global aggregate of 40
    longs, mergeable across partitions/days by plain addition (the
    linear-sketch property; E[S_j²] = F2). Median of 5 means of 8
    estimators bounds the tail. The 40 signs are bits of ONE
    md5-bigint per row (a deliberate, documented simplification of
    4-wise independence — deterministic and engine-portable; the
    pytest pins the realized accuracy against exact F2).

    All-integer until the single final division, so the gate
    hash-compares exact F2, the estimate, and the row count raw.

    Scale: the sketch pass is groupBy-free (one 40-long aggregate
    state); the exact-F2 column is the piece you DROP at 100 TB —
    it requires the full per-key count the sketch exists to avoid."""
    ev = load_table(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("bigint").cast("string")), 1, 15),
        16,
        10,
    ).cast("bigint")
    h = ev.select(hv.alias("hv"))
    s = h.agg(
        *[
            F.sum(F.expr(f"(shiftright(hv, {j}) & 1) * 2 - 1")).alias(f"s{j}")
            for j in range(_AMS_J)
        ],
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    groups = [
        sum(
            (F.col(f"s{j}") * F.col(f"s{j}")
             for j in range(gi * _AMS_G, (gi + 1) * _AMS_G)),
            F.lit(0),
        ).alias(f"g{gi}")
        for gi in range(_AMS_NG)
    ]
    g = s.select("n_rows", *groups)
    med = g.select(
        "n_rows",
        F.element_at(
            F.sort_array(F.array(*[F.col(f"g{gi}") for gi in range(_AMS_NG)])),
            _AMS_NG // 2 + 1,
        ).alias("m"),
    )
    ex = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_f2")
    )
    return med.crossJoin(ex).select(
        "n_rows",
        "exact_f2",
        (F.col("m").cast("double") / F.lit(float(_AMS_G))).alias("ams_estimate"),
    )
