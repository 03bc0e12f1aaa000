"""Dedup operator validation on planted fixtures: exact-dup counting,
near-dup recall for planted clones, candidate-restricted Jaccard
correctness, and the LSH banding contract."""

from __future__ import annotations

import pytest

from pipeline_query_engine_demo_spark.operators import dedup

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
# last token changed → of the 8 3-shingles only the final one differs:
# shingle-jaccard 7/9
NEAR = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
FAR = "one two three four five six seven eight nine ten"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)],
        "doc_id long, text string",
    )


def test_exact_dedup_counts(spark, docs):
    out = {r.doc_id: r for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[0].n_copies == 2  # ids 0,1 identical; min id kept
    assert 1 not in out
    assert out[2].n_copies == 1 and out[3].n_copies == 1


def test_near_dup_recall_and_precision(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact clone found
    assert (0, 2) in pairs and abs(pairs[(0, 2)] - 7 / 9) < 1e-12  # planted near-dup
    assert all(3 not in p for p in pairs)  # unrelated doc never paired


def test_jaccard_restricted_to_candidates(spark, docs):
    # only the (0, 3) pair is offered — jaccard must be computed for it
    # alone, and its token intersection is empty → no output row.
    pairs = spark.createDataFrame([(0, 3)], "id_a long, id_b long")
    assert dedup.jaccard_pairs(docs, pairs, "doc_id", "text").count() == 0
    pairs2 = spark.createDataFrame([(0, 2)], "id_a long, id_b long")
    rows = dedup.jaccard_pairs(docs, pairs2, "doc_id", "text").collect()
    assert len(rows) == 1 and abs(rows[0].jaccard - 7 / 9) < 1e-12


def test_lsh_rejects_ragged_bands():
    with pytest.raises(ValueError):
        dedup.lsh_band_buckets(None, "doc_id", num_hashes=7, bands=4)


def test_lsh_hot_bucket_cap(spark):
    # 4 identical docs share every band bucket (size 4); cap 3 drops the
    # bucket and no candidates emerge; without the cap all 6 pairs do.
    clones = spark.createDataFrame(
        [(i, BASE) for i in range(4)], "doc_id long, text string"
    )
    uncapped = dedup.lsh_candidate_pairs(clones, "doc_id", "text", max_bucket_size=None)
    assert uncapped.count() == 6
    capped = dedup.lsh_candidate_pairs(clones, "doc_id", "text", max_bucket_size=3)
    assert capped.count() == 0


def test_lsh_hot_bucket_cap_is_on_by_default(spark):
    # The 100 TB safety valve must be the DEFAULT path: a planted
    # degenerate bucket above the cap generates zero candidate pairs
    # through the LSH pipeline, instead of B^2 pairs in one reducer.
    # Exact clones are exercised with contract_exact=False — the default
    # pre-contraction collapses them to one representative BEFORE
    # banding, so they can't inflate a bucket in the first place.
    assert dedup.DEFAULT_MAX_BUCKET_SIZE is not None
    clones = spark.createDataFrame(
        [(i, BASE) for i in range(4)], "doc_id long, text string"
    )
    # below the default cap the clones still pair up (recall preserved) …
    assert dedup.near_dup_pairs(clones, "doc_id", "text").count() == 6
    # … in the uncontracted pipeline the cap drops the over-full bucket
    capped = dedup.near_dup_pairs(
        clones, "doc_id", "text", max_bucket_size=3, contract_exact=False
    )
    assert capped.count() == 0
    # … while the DEFAULT (contracting) path keeps full clone recall
    # even when the cap would bind: the bucket holds 1 rep, never 4.
    assert (
        dedup.near_dup_pairs(clones, "doc_id", "text", max_bucket_size=3).count()
        == 6
    )
    clusters = {
        r.id: r.cluster_id
        for r in dedup.dedup_clusters(
            clones, "doc_id", "text", max_bucket_size=3
        ).collect()
    }
    assert clusters == {0: 0, 1: 0, 2: 0, 3: 0}


def test_clone_group_cap_bounds_mega_group(spark):
    # A planted MEGA clone group (size 5 > cap 3) must be dropped WHOLE
    # by the contraction path — without the cap it would expand to
    # r(r-1)/2 pairs through one reducer key, bypassing the hot-bucket
    # cap (the blow-up the r8 advisor flagged). A small group (size 2,
    # under the cap) in the same corpus keeps full recall, as does the
    # rep-level near-dup edge between distinct texts.
    assert dedup.DEFAULT_CLONE_GROUP_CAP is not None  # the default path is safe
    corpus = spark.createDataFrame(
        [(i, BASE) for i in range(5)]  # mega group: 5 exact clones
        + [(10, NEAR), (11, NEAR)]  # small clone group of 2
        + [(20, FAR)],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.5, clone_group_cap=3
        ).collect()
    }
    assert all(a not in range(5) and b not in range(5) for a, b in pairs)
    assert (10, 11) in pairs and pairs[(10, 11)] == 1.0
    # uncapped (cap=None): the mega group contributes all 10 intra pairs
    # plus 5x2 expanded rep-level near-dup pairs to the NEAR clones
    uncapped = dedup.near_dup_pairs(
        corpus, "doc_id", "text", threshold=0.5, clone_group_cap=None
    )
    assert uncapped.count() == 10 + 10 + 1
    with pytest.raises(ValueError):
        dedup.near_dup_pairs(corpus, "doc_id", "text", clone_group_cap=0)


def test_contract_exact_adaptive_bypass_identity(spark):
    # A clone-FREE corpus must produce identical pairs through the
    # default (contract_exact=True, now bypassing) and the uncontracted
    # pipeline — the bypass is a plan choice, never a semantic one.
    corpus = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR)], "doc_id long, text string"
    )
    bypassed = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.5
        ).collect()
    )
    uncontracted = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.5, contract_exact=False
        ).collect()
    )
    assert bypassed == uncontracted and len(bypassed) == 1


def test_null_texts_are_not_clones(spark, monkeypatch):
    # 20 unique texts plus 5 NULL texts: no document is a clone, so the
    # default path must bypass contraction (neither of its two
    # clone-group checkpoints is taken) and match the uncontracted
    # pipeline exactly.
    corpus = spark.createDataFrame(
        [(i, f"{BASE} w{i} x{i}") for i in range(20)]
        + [(100 + i, None) for i in range(5)],
        "doc_id long, text string",
    )
    cuts = []
    real = dedup.resilient_local_checkpoint

    def spy(df, eager=True):
        cuts.append(df.columns)
        return real(df, eager=eager)

    monkeypatch.setattr(dedup, "resilient_local_checkpoint", spy)
    got = sorted(
        tuple(r) for r in dedup.near_dup_pairs(corpus, "doc_id", "text", threshold=0.5).collect()
    )
    assert not [c for c in cuts if "_h" in c], cuts
    want = sorted(
        tuple(r)
        for r in dedup.near_dup_pairs(
            corpus, "doc_id", "text", threshold=0.5, contract_exact=False
        ).collect()
    )
    assert got == want and got


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus isolated 9: one component labeled 1, one {9}
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    labels = {
        r.id: r.cluster_id
        for r in dedup.connected_components(nodes, edges, "doc_id").collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(4)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(nodes, edges, "doc_id", max_iter=2)


def test_starcontract_long_chain_beats_propagation_budget(spark):
    """Planted 40-node chain (ids shuffled so the min sits mid-chain):
    min-label propagation needs ~diameter rounds, so at max_iter=15 it
    provably CANNOT converge — while large-star/small-star contracts
    the same chain in O(log n) rounds under a far smaller budget and
    still labels every node with the component minimum. This is the
    adversarial-long-chain case the star variant exists for."""
    import pytest

    n = 40
    # permute ids deterministically so the min label (0) starts mid-chain:
    # position i holds id (i*17 + 5) % n — propagation distance from the
    # min to the far end is ~n, not n/2-lucky.
    ids = [(i * 17 + 5) % n for i in range(n)]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(nodes, edges, "doc_id", max_iter=15)
    labels = {
        r.id: r.cluster_id
        for r in dedup.connected_components_star(
            nodes, edges, "doc_id", max_iter=10
        ).collect()
    }
    assert labels == {i: 0 for i in ids}


def test_starcontract_matches_propagation_on_mixed_graph(spark):
    """Random-ish mixed graph (two components + isolates + a self-loop
    + duplicate/reversed edges): the star variant must produce exactly
    the propagation variant's labels."""
    nodes = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(3, 7), (7, 3), (7, 9), (9, 11), (2, 4), (4, 2), (4, 8), (5, 5), (8, 2)],
        "id_a long, id_b long",
    )
    a = {
        r.id: r.cluster_id
        for r in dedup.connected_components(nodes, edges, "doc_id").collect()
    }
    b = {
        r.id: r.cluster_id
        for r in dedup.connected_components_star(nodes, edges, "doc_id").collect()
    }
    assert a == b
    assert b[3] == b[7] == b[9] == b[11] == 3
    assert b[2] == b[4] == b[8] == 2
    assert all(b[i] == i for i in (0, 1, 5, 6, 10))


def test_starcontract_empty_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in (4, 7)], "doc_id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    labels = {
        r.id: r.cluster_id
        for r in dedup.connected_components_star(nodes, edges, "doc_id").collect()
    }
    assert labels == {4: 4, 7: 7}


def test_dedup_clusters_planted(spark, docs):
    labels = {
        r.id: r.cluster_id for r in dedup.dedup_clusters(docs, "doc_id", "text").collect()
    }
    # docs 0,1 (exact clones) and 2 (near-dup) collapse into cluster 0;
    # unrelated doc 3 stays alone
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == 3


def test_lsh_recall_vs_exhaustive_ground_truth(spark, sf_dir):
    """Measured LSH recall on the fixture corpus: ground truth = the
    exhaustive inverted-shingle-index Jaccard (quadratic, fine at test
    scale), candidates = the LSH pipeline. Everything is deterministic
    (fixed data, md5 hashes), so the bound is stable, not statistical.
    Theory for 4 bands x 2 rows at s >= 0.6: P(candidate) >= 0.83."""
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.6).collect()
    }
    assert truth, "fixture must contain planted near-duplicates"
    assert found <= truth  # verification step guarantees precision = 1
    recall = len(found & truth) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below bound ({len(found)}/{len(truth)})"


def test_simhash_shape_and_clone_equality(spark, docs):
    out = {r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text", bits=16).collect()}
    assert all(len(s) == 16 and set(s) <= {"0", "1"} for s in out.values())
    assert out[0] == out[1]  # identical docs → identical signature


def test_incremental_dedup_statuses(spark):
    """Planted batch: one byte-identical copy, one near-dup (small
    edit), one genuinely new doc; exact wins over near."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    existing = spark.createDataFrame(
        [(1, base), (2, "totally unrelated corpus text about other things x y")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, base),                      # exact copy of 1
            (11, base + " nu"),              # near-dup of 1
            (12, "brand new content nothing shared with anything qq ww ee rr"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.status
        for r in dedup.incremental_dedup(
            existing, incoming, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert got == {10: "exact_dup", 11: "near_dup", 12: "new"}


def test_est_prefilter_identical_output_and_fewer_verify_pairs(spark):
    """The estimated-Jaccard prefilter (r4): a single-band collision on
    otherwise-different documents estimates 2/8 = 0.25 < 0.4 and dies
    before the explode-verify join; genuine near-dups estimate high and
    survive. Output must be identical with the prefilter on and off on
    this corpus (the planted borderline pair is far from the verify
    threshold)."""
    import pyspark.sql.functions as F

    base = " ".join(f"w{i} w{i} join scan" for i in range(12))
    rows = [
        (1, base),
        (2, base + " extra tail shingle"),  # true near-dup of 1 (J >> 0.6)
        (3, "completely different text about other things entirely qq ww ee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    on = sorted(
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs(df, "doc_id", "text", threshold=0.6).collect()
    )
    off = sorted(
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs(
            df, "doc_id", "text", threshold=0.6, est_prefilter=None
        ).collect()
    )
    assert on == off
    assert (1, 2) in on

    # Reduction evidence on the sf fixture shape: candidates whose
    # signature agreement is below the cutoff exist and are dropped
    # before verification (the expensive join sees strictly fewer rows).
    docs = spark.createDataFrame(
        [(i, base) for i in range(10, 14)]
        + [(20, "the quick brown fox jumps over the lazy dog again and again"),
           (21, "the quick brown fox naps under the busy dog again and again")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    cand = dedup.lsh_candidate_pairs(docs, "doc_id", "text", signatures=sigs)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(8)],
    )
    agree = sum(
        [(F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int") for i in range(8)],
        F.lit(0),
    )
    n_cand = cand.count()
    n_kept = (
        cand.join(sa, "id_a").join(sb, "id_b").filter(agree / 8.0 >= 0.4).count()
    )
    assert n_kept <= n_cand
    # the exact-copy clique all survives
    assert n_kept >= 6


def test_duplicated_substring_spans_matches_literal(spark, sf_dir):
    """duplicated_substring_spans vs a literal python implementation:
    sliding L-token windows, corpus-frequency > 1, per-doc interval
    merge — span-for-span on the real fixture."""
    from collections import Counter

    from pipeline_query_engine_demo_spark.plans.curation import (
        SUBSTR_L,
        duplicated_substring_spans,
    )

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    freq: Counter = Counter()
    positions: dict = {}
    for did, ws in docs.items():
        grams = [
            " ".join(ws[i : i + SUBSTR_L])
            for i in range(len(ws) - SUBSTR_L + 1)
        ]
        positions[did] = grams
        freq.update(grams)
    expect = []
    for did in sorted(docs):
        dup_pos = [
            i + 1 for i, g in enumerate(positions[did]) if freq[g] > 1
        ]
        spans = []  # (start, end, last_start, n_grams)
        for p in dup_pos:
            # merge when the new window [p, p+L-1] overlaps or touches
            # the span's covered region, i.e. p <= prev_start + L
            if spans and p <= spans[-1][2] + SUBSTR_L:
                s, e, _ls, n = spans[-1]
                spans[-1] = (s, max(e, p + SUBSTR_L - 1), p, n + 1)
            else:
                spans.append((p, p + SUBSTR_L - 1, p, 1))
        for s, e, _ls, n in spans:
            expect.append((did, s, e, e - s + 1, n))
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_dup_grams"])
        for r in duplicated_substring_spans(spark, sf_dir).collect()
    ]
    assert got == expect


def test_setsim_prefix_join_equals_brute_force_with_no_false_negatives(spark):
    """AllPairs/PPJoin prefix filtering vs a literal python all-pairs
    Jaccard on an adversarial fixture: IEEE ceil boundaries (t*n
    landing on integers: 0.3 * 10), exact-containment pairs at the
    length-filter edge (|x|=3 inside |y|=10, max J exactly 0.3), a
    stopword shingle shared by EVERY doc, and identical twins."""
    from pipeline_query_engine_demo_spark.operators import dedup

    w = lambda *ts: " ".join(ts)  # noqa: E731
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = [
        (1, base),                                   # 12 tokens -> 10 shingles
        (2, base),                                   # identical twin of 1
        (3, base.replace("delta", "DELTA")),         # near-dup of 1
        (4, "alpha beta gamma delta epsilon"),       # 3 shingles, contained in 1
        (5, "one two three four five six seven"),    # unrelated
        (6, "one two three four five six EIGHT"),    # near-dup of 5
        (7, w("alpha", "beta", "gamma", "one", "two", "three", "nine")),
    ]
    # stopword shingle in every doc: append the same 3 words everywhere
    docs = [(i, t + " common tail words") for i, t in docs]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def units(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    for thr in (0.3, 0.5, 0.25):
        expect = {}
        for i, ti in docs:
            for j, tj in docs:
                if i < j:
                    a, b = units(ti), units(tj)
                    jac = len(a & b) / len(a | b)
                    if jac >= thr:
                        expect[(i, j)] = jac
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.setsim_join_prefix(
                df, "doc_id", "text", n=3, threshold=thr
            ).collect()
        }
        assert got.keys() == expect.keys(), f"thr={thr}"
        for k in expect:
            assert abs(got[k] - expect[k]) < 1e-12


def test_setsim_prefix_cap_drops_only_boilerplate_candidacy(spark):
    """max_prefix_df (the setsim skew valve): a document whose ENTIRE
    prefix is corpus-wide boilerplate loses its candidates under the
    cap, while pairs colliding on rare prefix tokens are untouched."""
    from pipeline_query_engine_demo_spark.operators import dedup

    boiler = "the quick brown fox jumps over it"
    docs = (
        # 30 docs sharing pure boilerplate (all shingles hot)
        [(100 + i, boiler) for i in range(30)]
        # one rare near-dup pair
        + [(1, "unique alpha beta gamma delta"), (2, "unique alpha beta gamma DELTA")]
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.setsim_join_prefix(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in exact and (100, 101) in exact
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.setsim_join_prefix(
            df, "doc_id", "text", threshold=0.5, max_prefix_df=10
        ).collect()
    }
    assert (1, 2) in capped
    assert all(a < 100 for a, _ in capped)  # every boilerplate pair dropped


def test_containment_catches_subset_duplicates_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment ~1.0,
    Jaccard low — the pair a Jaccard threshold structurally misses."""
    from pipeline_query_engine_demo_spark.operators.dedup import (
        containment_pairs,
    )

    quote = " ".join(f"tok{i}" for i in range(30))
    filler = " ".join(f"pad{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote), (3, "unrelated words only here")],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]): r for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["containment_ab"] >= 0.9  # the quote is fully contained
    assert r["jaccard"] < 0.15  # a 0.3-Jaccard dedup would miss it
    assert (1, 3) not in out and (2, 3) not in out


def test_containment_matches_python_sets(spark, sf_dir):
    from pipeline_query_engine_demo_spark.plans.dedup import containment_dedup_pairs

    out = {(r["id_a"], r["id_b"]): r for r in containment_dedup_pairs(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id < 500"
    ).collect()
    sets = {}
    for r in docs:
        w = r["text"].split(" ")
        sets[r["doc_id"]] = {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        }
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            common = len(sets[a] & sets[b])
            if not common:
                continue
            ca, cb = common / len(sets[a]), common / len(sets[b])
            if ca >= 0.5 or cb >= 0.5:
                expect[(a, b)] = (len(sets[a]), len(sets[b]), ca, cb)
    assert set(out) == set(expect)
    for k, (na, nb, ca, cb) in expect.items():
        r = out[k]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert abs(r["containment_ab"] - ca) < 1e-6
        assert abs(r["containment_ba"] - cb) < 1e-6
