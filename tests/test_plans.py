"""Registry-level invariants and accuracy bounds that SQL oracles can't
express."""

from __future__ import annotations

import pyspark.sql.functions as F

from pipeline_query_engine_demo_spark import plans
from pipeline_query_engine_demo_spark.session import held_confs


def test_registry_shape():
    qs = plans.queries()
    oracles = plans.oracles()
    assert set(oracles) <= set(qs)
    # every spec has a docstring citing its design
    for name, spec in plans.REGISTRY.items():
        assert spec.doc, f"{name} has no docstring"
    # every registered query carries an oracle: the driver records
    # oracle-less entries as err:no_oracle (no rows-only fallback
    # exists in practice), so an empty set is the invariant.
    no_oracle = set(qs) - set(oracles)
    assert no_oracle == set()


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (pruned at planning — directories never listed), not a post-scan
    row filter."""
    import pyspark.sql.functions as F

    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    path = str(tmp_path / "orders_by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy("o_orderstatus").parquet(path)
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the non-partition filter path stays a data filter
    df2 = spark.read.parquet(path).filter(F.col("o_totalprice") > 100.0)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100.0)" in plan2


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The two DPP queries must carry a dynamicpruningexpression inside
    the fact scan's PartitionFilters after execution — a dim-side filter
    joined on the partition key prunes the fact scan at RUNTIME (the
    capability static pruning can't express). Executed (not just
    analyzed) plan, so AQE can't have replanned it away."""
    from pipeline_query_engine_demo_spark.plans import partitioned

    for build, key in (
        (partitioned.dpp_urgent_months_revenue, "l_ship_month"),
        (partitioned.dpp_events_top_day_mix, "event_date"),
    ):
        df = build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"dynamicpruningexpression({key}" in plan, build.__name__
    # and the static variant prunes at plan time on the same layout
    df = partitioned.static_partition_prune_lineitem(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "l_ship_month" in pf


def test_prebucketed_numpy_cogroup_is_corpus_shuffle_free(spark, sf_dir):
    """The pre-bucketed numpy tier must pay NO corpus-side shuffle: the
    bucketed scan's partitioning satisfies the cogroup's distribution,
    so exactly ONE hashpartitioning(_b) exchange remains (the KB-sized
    replicated query side) vs TWO in the on-the-fly variant — the
    pay-bucketing-once-at-ingest posture."""
    from pipeline_query_engine_demo_spark.plans.retrieval import (
        numpy_cosine_topk_embeddings,
        numpy_cosine_topk_prebucketed,
    )

    def b_exchanges(df):
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning(_b#"), plan

    n_pre, plan_pre = b_exchanges(numpy_cosine_topk_prebucketed(spark, sf_dir))
    n_fly, _ = b_exchanges(numpy_cosine_topk_embeddings(spark, sf_dir))
    assert n_pre == 1, plan_pre[:2000]
    assert n_fly == 2
    assert "Bucketed: true" in plan_pre


def test_ivf_index_scan_is_dynamically_pruned(spark, sf_dir):
    """The persisted cell-partitioned IVF index must be probed through
    dynamic partition pruning — only the nprobe cell directories are
    read."""
    from pipeline_query_engine_demo_spark.plans.retrieval import ivf_index_dpp_topk

    df = ivf_index_dpp_topk(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(_cell" in plan


def test_bucketed_join_plan_is_exchange_free(spark, sf_dir):
    from pipeline_query_engine_demo_spark.plans.sinks import bucketed_join_colocated

    df = bucketed_join_colocated(spark, sf_dir)
    # the join itself (below the final orderBy) must read bucket-aligned
    # files: no shuffle exchange feeding the SortMergeJoin
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in join_part


def test_approx_percentile_within_bound(spark, sf_dir):
    from pipeline_query_engine_demo_spark.plans.sinks import (
        approx_percentile_quantities,
        percentile_exact_quantities,
    )

    approx = {
        r.returnflag: (r.qty_q25, r.qty_q50, r.qty_q75)
        for r in approx_percentile_quantities(spark, sf_dir).collect()
    }
    exact = {
        r.returnflag: (r.qty_q25, r.qty_q50, r.qty_q75)
        for r in percentile_exact_quantities(spark, sf_dir).collect()
    }
    for flag, quartiles in exact.items():
        for a, e in zip(approx[flag], quartiles):
            # quantities span 1..50; GK at accuracy 1e6 on ~6k rows is
            # exact — allow one unit of interpolation slack (exact
            # percentile interpolates, the sketch returns an element)
            assert abs(a - e) <= 1.0, (flag, a, e)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling — the 100 TB answer to hot keys
    that salting handles manually (salted_join_skewed): plant one key
    owning ~75% of a 400k-row fact, lower the skew thresholds to
    fixture scale, and assert the FINAL adaptive SortMergeJoin really
    split the hot partition (``skew=true`` in the executed plan)."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    with held_confs(spark, confs):
        # Payload must be incompressible and non-foldable: a constant
        # string constant-folds out of the shuffle entirely (observed:
        # the agg became sum(100) and the hot partition shrank below
        # every threshold), hiding the very skew being planted.
        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") % 4 != 0, F.lit(0))
            .otherwise(F.col("id") % 97 + 1)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 98).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = fact.join(dim, "k").select(F.sum(F.length("payload")).alias("s"))
        [row] = joined.collect()
        assert row.s == 400_000 * 64  # every fact row matches exactly one dim row
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan


def _decoded_scan_rows(df) -> int:
    """Execute ``df`` (noop sink) and sum numOutputRows over its parquet
    scan leaves — rows actually DECODED from data pages; row groups and
    pages eliminated by footer/column-index stats never reach the
    metric. Descends through AQE query stages and reused exchanges."""
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan()
    try:
        plan = plan.finalPhysicalPlan()
    except Exception:
        pass

    def walk(node) -> int:
        cls = node.getClass().getSimpleName()
        if "QueryStageExec" in cls:
            return walk(node.plan())
        if "ReusedExchange" in cls:
            return walk(node.child())
        total = 0
        if "FileSourceScan" in cls or "BatchScan" in cls:
            total += int(node.metrics().apply("numOutputRows").value())
        ch = node.children().iterator()
        while ch.hasNext():
            total += walk(ch.next())
        return total

    return walk(plan)


def test_clustered_layout_skips_rowgroups(spark, tmp_path):
    """clustered_layout_rowgroup_skip's reason to exist must be REAL
    skipping, not plan shape (PushedFilters shows up on both layouts).
    The honest meter is the scan node's numOutputRows — rows actually
    DECODED from data pages; row groups (and, via the column index,
    pages) eliminated by footer stats never reach it. Byte counters
    can't see this in Spark 4: local parquet data-page reads go through
    nio, bypassing Hadoop FileSystem statistics (verified — a 68 MB
    full scan registered 169 KB, footers only). The sf0.001 fixture is
    also too small for real row groups, so the test builds its own
    layout: 1M rows with an incompressible sha2 payload,
    range-clustered vs deliberately interleaved twin (every twin file
    spans the full key range, so its stats can exclude nothing), same
    narrow key-range filter."""
    base = spark.range(0, 1_000_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    clustered = str(tmp_path / "clustered")
    twin = str(tmp_path / "interleaved_twin")
    base.repartitionByRange(16, "k").sortWithinPartitions("k").write.parquet(
        clustered
    )
    # Round-robin repartition alone still leaves contiguous runs of k
    # inside each file (pages get narrow min/max and the column index
    # skips 2/3 of them — measured); sorting by the hash payload
    # scatters k fully so neither row groups nor pages can be excluded.
    base.repartition(16).sortWithinPartitions("payload").write.parquet(twin)

    def run(path: str) -> tuple[int, list]:
        df = (
            spark.read.parquet(path)
            .filter(F.col("k").between(10_000, 30_000))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("payload")).alias("payload_len"),
            )
        )
        return _decoded_scan_rows(df), sorted(map(tuple, df.collect()))

    clustered_rows, clustered_res = run(clustered)
    twin_rows, twin_res = run(twin)
    assert clustered_res == twin_res == [(20_001, 20_001 * 64)]
    assert twin_rows == 1_000_000, twin_rows  # nothing skippable
    # 20k of 1M keys live in 1 of 16 disjoint-range files; observed
    # 40k decoded (row-group + page-index elimination). 0.1 is loose.
    assert clustered_rows < 0.1 * twin_rows, (clustered_rows, twin_rows)


def test_hilbert_layout_prunes_2d_boxes(spark, tmp_path):
    """hilbert_layout_box_skip's claim, metered: on a 2-D box predicate
    a Hilbert-ordered layout must decode fewer rows than a single-key
    sort (which can prune only its own dimension) and far fewer than a
    scattered layout (which can prune nothing). 1M rows on a 256x256
    grid, box = the dyadic-aligned 32x32 subsquare at (64,64) — one
    contiguous curve run, ~15.6k true rows."""
    from pipeline_query_engine_demo_spark.plans.analytics import (
        _HILBERT_ORDER,
        _hilbert_stage_exprs,
    )

    base = spark.range(0, 1_000_000).selectExpr(
        "id % 256 AS x",
        "(id DIV 256) % 256 AS y",
        "sha2(CAST(id AS STRING), 256) AS payload",
    )
    # Working coords keep the helper's expected bare names x/y; the
    # data columns ride along as xd/yd (the layout-helper pattern).
    curved = base.selectExpr(
        "x AS xd", "y AS yd", "payload", "x", "y", "CAST(0 AS BIGINT) AS d"
    )
    for i in range(_HILBERT_ORDER):
        s = 1 << (_HILBERT_ORDER - 1 - i)
        e = _hilbert_stage_exprs(s, "div")
        curved = curved.selectExpr(
            "xd",
            "yd",
            "payload",
            f"{e['x']} AS x",
            f"{e['y']} AS y",
            f"{e['d']} AS d",
        )
    curved = curved.drop("x", "y").withColumnRenamed("xd", "x").withColumnRenamed(
        "yd", "y"
    )
    layouts = {
        "hilbert": str(tmp_path / "hilbert"),
        "xsort": str(tmp_path / "xsort"),
        "scattered": str(tmp_path / "scattered"),
    }
    # Range bounds come from a sample seeded by the RDD id, which every
    # earlier job in the shared session shifts: decoded rows varied from
    # 20k to 80k (Hilbert) and 125k to 160k (x-sort) with the same data.
    # A sample as large as the input makes the bounds exact.
    with held_confs(spark, {"spark.sql.execution.rangeExchange.sampleSizePerPartition": "1000000"}):
        curved.repartitionByRange(16, "d").sortWithinPartitions("d").drop(
            "d"
        ).write.parquet(layouts["hilbert"])
        base.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(
            layouts["xsort"]
        )
    base.repartition(16).sortWithinPartitions("payload").write.parquet(
        layouts["scattered"]
    )

    rows, results = {}, {}
    for name, path in layouts.items():
        df = (
            spark.read.parquet(path)
            .filter(F.col("x").between(64, 95) & F.col("y").between(64, 95))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("payload")).alias("payload_len"),
            )
        )
        rows[name] = _decoded_scan_rows(df)
        results[name] = sorted(map(tuple, df.collect()))
    n_true = base.filter(
        F.col("x").between(64, 95) & F.col("y").between(64, 95)
    ).count()
    assert (
        results["hilbert"] == results["xsort"] == results["scattered"]
        == [(n_true, n_true * 64)]
    )
    assert rows["scattered"] == 1_000_000, rows  # nothing skippable
    # x-sort prunes the x range only: expect ~1/8 of rows (125k).
    assert rows["xsort"] < 0.25 * rows["scattered"], rows
    # Hilbert prunes BOTH dimensions: strictly better than the
    # single-key sort, with margin (observed well under half).
    assert rows["hilbert"] < 0.6 * rows["xsort"], rows


def test_manifest_file_skip_prunes_file_list(spark, tmp_path):
    """manifest_file_skip_lineitem's tier claim, metered: the persisted
    min/max manifest must shrink the FILE LIST handed to the scan (the
    skipped files are never listed/opened — they simply aren't in the
    read paths), the pruned read must equal the full-scan twin, and the
    pushed predicate must still row-group-prune INSIDE the survivors.
    1M rows range-clustered into 16 disjoint-range files; a 20k-wide
    key range intersects at most 2 of them."""
    from pipeline_query_engine_demo_spark.sources.manifest import (
        prune_files_by_range,
        write_file_manifest,
    )

    layout = str(tmp_path / "clustered")
    mpath = str(tmp_path / "manifest")
    spark.range(0, 1_000_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    ).repartitionByRange(16, "k").sortWithinPartitions("k").write.parquet(
        layout
    )
    write_file_manifest(spark, layout, "k", mpath)

    selected, total = prune_files_by_range(mpath, 100_000, 120_000)
    assert total == 16, total
    assert 1 <= len(selected) <= 2, selected  # disjoint ranges: ≤2 overlap

    def run(paths):
        df = (
            spark.read.parquet(*paths)
            .filter(F.col("k").between(100_000, 120_000))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("payload")).alias("payload_len"),
            )
        )
        return _decoded_scan_rows(df), sorted(map(tuple, df.collect()))

    pruned_rows, pruned_res = run(selected)
    full_rows, full_res = run([layout])
    assert pruned_res == full_res == [(20_001, 20_001 * 64)]
    # Survivor files still row-group-prune via the pushed filter: far
    # fewer rows decoded than the ~62.5k they physically hold.
    assert pruned_rows <= full_rows, (pruned_rows, full_rows)
    assert pruned_rows < 0.1 * 1_000_000, pruned_rows

    # Disjoint range entirely outside the keyspace prunes EVERYTHING.
    none_selected, _ = prune_files_by_range(mpath, 5_000_000, 6_000_000)
    assert none_selected == []


def test_cbo_analyzed_rowcount_reaches_optimizer(spark, sf_dir):
    """cbo_stats_join_reorder's premise, pinned: ANALYZE TABLE's exact
    rowCount must actually reach the optimized plan's statistics under
    spark.sql.cbo.enabled (otherwise the conf bracket is decoration and
    join reordering still runs on file-size guesses). Builds the same
    catalog tables the query uses, then compares the logical plan's
    rowCount stat to the true count — and asserts the registered
    query's cross-prone FROM order still plans no cartesian (the
    corpus audit enforces this too; here it fails next to its cause)."""
    from pipeline_query_engine_demo_spark.plans import sinks

    sinks.cbo_stats_join_reorder(spark, sf_dir)
    # build side effects done: the cbo_* tables exist and are analyzed
    true_n = spark.table("cbo_orders").count()
    with held_confs(spark, sinks.CBO_CONFS):
        stats = (
            spark.table("cbo_orders")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().isDefined(), "ANALYZE rowCount not plumbed"
        assert int(str(stats.rowCount().get())) == true_n
        # the JOIN plan itself (the registered query returns through a
        # localCheckpoint, hiding the join from its audited plan)
        plan = (
            spark.sql(sinks._CBO_CROSS_PRONE_SQL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """bloom_filter_pruned_join's reason to exist: under the held confs
    the executed plan must build a bloom filter from the selective dim's
    join keys (``bloom_filter_agg`` on the creation side) and apply it
    as a ``might_contain`` predicate above the FACT scan — rows dropped
    map-side, before the shuffle. Executed (not analyzed) plan, and the
    predicate must sit on the fact's key, not the dim's."""
    from pipeline_query_engine_demo_spark.plans import relational

    with held_confs(spark, relational.BLOOM_FILTER_CONFS):
        df = (
            relational.build_bloom_filter_join(spark, sf_dir)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg(xxhash64(o_orderkey" in plan, plan
    assert "might_contain" in plan and "xxhash64(l_orderkey" in plan.split("might_contain")[1][:120], plan


def test_dpp_and_bloom_compose_on_one_scan(spark, sf_dir):
    """dpp_bloom_composed_star's reason to exist: under the composed
    conf bracket the SAME fact scan must carry a
    dynamicpruningexpression partition filter (directory pruning from
    the dim's months) AND sit under a might_contain bloom filter
    (row pruning from the dim's orderkeys) — the two runtime scan
    reducers stacked, not merely coexisting in the corpus."""
    from pipeline_query_engine_demo_spark.plans import partitioned

    with held_confs(spark, partitioned._composed_pruning_confs()):
        df = (
            partitioned.build_dpp_bloom_star(spark, sf_dir)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(l_ship_month" in plan, plan
    assert "might_contain" in plan and "bloom_filter_agg(xxhash64(o_orderkey" in plan, plan


def test_every_oracle_floor_round_is_isfinite_guarded():
    """The non-finite contract of functions.rounding holds corpus-wide:
    every half-up floor-round in every RENDERED oracle (helper-emitted
    or hand-inlined) must sit inside its CASE WHEN isfinite(...) guard,
    so a NaN/Inf from a degenerate future fixture can never hash-diverge
    between engines. PageRank is the one whitelisted pair: its ranks are
    provably finite (outdeg >= 1, n >= 1) and both sides share the same
    unguarded form."""
    import re

    from pipeline_query_engine_demo_spark import plans

    pat = re.compile(r"floor\(\([^\n]*?\* [0-9.e]+ \+ 0\.5\)")
    bad = []
    for name, sql in plans.oracles().items():
        if name == "pagerank_copurchase":
            continue
        for m in pat.finditer(sql):
            if sql[max(0, m.start() - 5):m.start()] != "THEN ":
                bad.append((name, m.group(0)[:60]))
    assert not bad, bad


def test_cogroup_customer_orders_matches_pandas_replay(spark, sf_dir):
    """Pandas-side replay (merge of two groupbys, integer-cents sums)
    matches the cogroup query row-for-row, including customers with
    zero orders (n=0, 0.0) and the dropped orphan-order groups."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from pipeline_query_engine_demo_spark.plans import udfs

    cust = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"), columns=["c_custkey", "c_acctbal"]
    ).to_pandas()
    orders = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"), columns=["o_custkey", "o_totalprice"]
    ).to_pandas()
    cents = np.floor(orders["o_totalprice"].to_numpy() * 100 + 0.5).astype(np.int64)
    agg = (
        orders.assign(cents=cents)
        .groupby("o_custkey")
        .agg(n=("cents", "size"), s=("cents", "sum"))
    )
    expect = {}
    for _, row in cust.iterrows():
        k = int(row["c_custkey"])
        if k in agg.index:
            expect[k] = (
                float(row["c_acctbal"]),
                int(agg.loc[k, "n"]),
                int(agg.loc[k, "s"]) / 100.0,
            )
        else:
            expect[k] = (float(row["c_acctbal"]), 0, 0.0)
    got = {
        r["c_custkey"]: (r["c_acctbal"], r["n_orders"], r["sum_totalprice"])
        for r in udfs.cogroup_apply_customer_orders(spark, sf_dir).collect()
    }
    assert got == expect

    # planted mini-corpus: customer 2 has no orders (-> 0, 0.0), order
    # for customer 99 has no customer row (-> dropped)
    import tempfile

    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        pd.DataFrame(
            {"c_custkey": [1, 2], "c_acctbal": [10.5, -3.25]}
        ).to_parquet(os.path.join(d, "customer.parquet"))
        pd.DataFrame(
            {"o_custkey": [1, 1, 99], "o_totalprice": [1.11, 2.22, 9.99]}
        ).to_parquet(os.path.join(d, "orders.parquet"))
        mini = {
            r["c_custkey"]: (r["c_acctbal"], r["n_orders"], r["sum_totalprice"])
            for r in udfs.cogroup_apply_customer_orders(spark, d).collect()
        }
        assert mini == {1: (10.5, 2, 3.33), 2: (-3.25, 0, 0.0)}


def test_join_aqe_skew_split_query_plan_and_salted_parity(spark):
    """The REGISTERED skew query (join_aqe_skew_split) must really
    trigger AQE's split on fixture data: execute its shared join at
    sf0.1 under the query's conf block and assert the final adaptive
    plan shows SortMergeJoin(skew=true). Then pin that AQE's answer
    equals the manual salted_join on the identical hot-key inputs —
    the declarative and hand-salted strategies must agree row-for-row."""
    import pyspark.sql.functions as F

    from pipeline_query_engine_demo_spark.operators.joins import salted_join
    from pipeline_query_engine_demo_spark.plans.relational import (
        AQE_SKEW_CONFS,
        AQE_SKEW_HOT_MOD,
        build_aqe_skew_join,
    )
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    sf1 = "/root/testdata/sf0.1"
    with held_confs(spark, AQE_SKEW_CONFS):
        joined = build_aqe_skew_join(spark, sf1).select(
            "o_orderkey", "c_custkey", "c_mktsegment"
        )
        rows = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    # parity with the manual salting strategy on the same inputs
    orders = load_table(spark, sf1, "orders")
    cust = load_table(spark, sf1, "customer")
    hot = orders.withColumn(
        "hot_key",
        F.when(F.col("o_orderkey") % AQE_SKEW_HOT_MOD != 0, F.lit(1)).otherwise(
            F.col("o_custkey")
        ),
    ).withColumnRenamed("hot_key", "c_custkey")
    salted = salted_join(
        hot.select("o_orderkey", "c_custkey"),
        cust.select("c_custkey", "c_mktsegment"),
        on="c_custkey",
        salt_src=F.col("o_orderkey"),
    )
    got = {(r.o_orderkey, r.c_custkey, r.c_mktsegment) for r in rows}
    exp = {(r.o_orderkey, r.c_custkey, r.c_mktsegment) for r in salted.collect()}
    assert got == exp


def test_ps_rolling_weekly_matches_pandas_replay(spark, sf_dir):
    """The pandas-on-Spark rolling row must equal a REAL-pandas replay
    of the same trailing-week recursion on the collected daily series —
    an independent check that the distributed rolling window implements
    pandas semantics (min_periods=1, trailing 7 rows)."""
    import pandas as pd

    from pipeline_query_engine_demo_spark.plans.windows import (
        ps_rolling_weekly_cents,
    )

    got = ps_rolling_weekly_cents(spark, sf_dir).toPandas()
    daily = (
        got[["day", "cents"]]
        .sort_values("day")
        .reset_index(drop=True)
        .set_index("day")["cents"]
    )
    r = daily.rolling(7, min_periods=1)
    exp_sum = r.sum().astype("int64")
    exp_n = r.count().astype("int64")
    chk = got.set_index("day").sort_index()
    assert (chk["roll_cents"] == exp_sum).all()
    assert (chk["roll_n"] == exp_n).all()
    assert (
        chk["roll_mean"] == exp_sum.astype("float64") / exp_n.astype("float64")
    ).all()


def test_ps_groupby_and_merge_match_dataframe_api(spark, sf_dir):
    """The pandas-API groupby and merge rows must return the DataFrame
    API's own answers on the same session (not merely the oracle's) —
    migration surface == engine, per-row."""
    import pyspark.sql.functions as F

    from pipeline_query_engine_demo_spark.plans.windows import (
        ps_groupby_agg_events,
        ps_merge_groupby_segments,
    )
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    got = {tuple(r) for r in ps_groupby_agg_events(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exp = {
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                "total_cents"
            ),
        )
        .collect()
    }
    assert got == exp
    got2 = {tuple(r) for r in ps_merge_groupby_segments(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    exp2 = {
        tuple(r)
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                "total_cents"
            ),
        )
        .collect()
    }
    assert got2 == exp2


def test_sql_udf_inlines_into_plan(spark, sf_dir):
    """SQL-language UDFs must INLINE: the table function's predicate
    reaches the parquet scan as a pushed filter, the scalar body joins
    whole-stage codegen, and no Python evaluation node appears."""
    from pipeline_query_engine_demo_spark.plans.relational import (
        sql_udf_scalar_and_table,
    )

    df = sql_udf_scalar_and_table(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(value,50.0)" in plan  # pushed into the scan
    assert "ReadSchema: struct<event_type:string,value:double>" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_udtf_polymorphic_schema_tracks_argument(spark, sf_dir):
    """The polymorphic UDTF's analyze() must derive the schema from the
    n argument: n=2 plans (pos, g1, g2); n=3 (the registered query)
    plans (pos, g1, g2, g3) — and the n=2 rows match a Python replay."""
    from pipeline_query_engine_demo_spark.plans.udfs import (
        udtf_polymorphic_ngrams,
    )
    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    got3 = udtf_polymorphic_ngrams(spark, sf_dir)
    assert got3.columns == ["doc_id", "pos", "g1", "g2", "g3"]

    df2 = spark.sql(
        "SELECT d.doc_id, t.* FROM _poly_docs d, "
        "LATERAL poly_ngrams(d.text, 2) t ORDER BY d.doc_id, t.pos"
    )
    assert df2.columns == ["doc_id", "pos", "g1", "g2"]
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .filter("doc_id < 10")
        .collect()
    }
    exp = []
    for doc_id in sorted(texts):
        toks = texts[doc_id].split(" ")
        for i in range(len(toks) - 1):
            exp.append((doc_id, i, toks[i], toks[i + 1]))
    assert [tuple(r) for r in df2.collect()] == exp


def test_sql_lateral_column_alias_matches_dataframe_replay(spark):
    """Independent check for the mirrored-oracle audit: the lateral
    column alias chain (net -> gross -> tax_amt) must equal the
    DataFrame-API replay with every expression written out fully —
    pinning that Catalyst's alias substitution is textual substitution,
    not a different evaluation tree."""
    from pipeline_query_engine_demo_spark.plans.relational import (
        sql_lateral_column_alias,
    )

    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = sql_lateral_column_alias(spark, sf).collect()
    li = load_table(spark, sf, "lineitem").filter(F.col("l_orderkey") <= 300)
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    gross = net * (F.lit(1) + F.col("l_tax"))
    exp = (
        li.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            net.alias("net"),
            gross.alias("gross"),
            (gross - net).alias("tax_amt"),
        )
        .orderBy("orderkey", "linenumber")
        .collect()
    )
    assert got == exp
    assert len(got) > 0


def test_pandas_udf_iter_brackets_boundaries(spark):
    """The iterator-form pandas_udf's searchsorted(side='right') must
    land boundary values in the UPPER bracket (10000 -> bracket 1),
    matching the oracle's strict `<` CASE arms."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf as _pudf  # noqa: F401

    from pipeline_query_engine_demo_spark.plans import udfs as udfs_mod

    df = spark.createDataFrame(
        [(1, 1, 9999.99, 50.0), (2, 1, 10000.0, 50.0), (3, 1, 25000.0, 50.0),
         (4, 1, 49999.0, 50.0), (5, 1, 50000.0, 50.0)],
        "l_orderkey long, l_linenumber long, l_extendedprice double, l_quantity double",
    )
    import pipeline_query_engine_demo_spark.sources.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda _s, _d, _t: df
        udfs_mod.load_table = cat.load_table
        out = {
            r.orderkey: r.bracket
            for r in udfs_mod.pandas_udf_iter_brackets(spark, "ignored").collect()
        }
    finally:
        cat.load_table = orig
        udfs_mod.load_table = orig
    assert out == {1: 0, 2: 1, 3: 2, 4: 2, 5: 3}


def test_df_api_subqueries_decorrelate(spark, sf_dir):
    """The Spark 4.0 DataFrame-API subquery builders (lateralJoin,
    scalar, exists + Column.outer) must lower to the same scale-safe
    shapes as their SQL twins — keyed joins / window top-k — never a
    per-outer-row re-execution (CartesianProduct / nested loop)."""
    from pipeline_query_engine_demo_spark.plans import relational as rel

    def plan_of(q):
        return q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    lat = plan_of(rel.lateral_join_df_api)
    assert "WindowGroupLimit" in lat or "Window" in lat
    assert "CartesianProduct" not in lat

    sca = plan_of(rel.scalar_subquery_df_api)
    assert "CartesianProduct" not in sca and "BroadcastNestedLoopJoin" not in sca

    exi = plan_of(rel.exists_subquery_df_api)
    assert "LeftSemi" in exi and "LeftAnti" in exi
    assert "CartesianProduct" not in exi


def test_rebalance_hint_survives_to_plan(spark, sf_dir):
    """The REBALANCE hint must reach the optimizer (RebalancePartitions
    node) — if a refactor drops the hint the query still returns
    identical rows, so only a plan assertion catches it."""
    import pyspark.sql.functions as F

    from pipeline_query_engine_demo_spark.sources.catalog import load_table

    sel = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .hint("rebalance", "o_orderstatus")
    )
    plan = sel._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in plan


def test_grouped_agg_pandas_udf_has_one_range_exchange(spark, sf_dir):
    """One range exchange on the group key serves both the grouped-agg
    pandas UDF and the ORDER BY. A second exchange above the aggregate
    would make its bounds-sampling job run the Python aggregate again."""
    import re

    from pipeline_query_engine_demo_spark.plans import udfs

    df = udfs.pandas_udf_grouped_agg_qty(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"\bExchange (\w+)", plan)
    assert exchanges == ["rangepartitioning"], plan
