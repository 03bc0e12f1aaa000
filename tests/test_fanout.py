"""r12 optimization internals: layout-gated fan-out, the shared
jaccard verify tail, and the directed pair-expansion rewrite."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pipeline_query_engine_demo_spark.operators import dedup
from pipeline_query_engine_demo_spark.plans.graph import _order_part_pairs
from pipeline_query_engine_demo_spark.sources import catalog

SF_DIR = "/root/testdata/sf0.001"


def test_fanout_width_fires_on_single_row_group_layout(spark):
    # The fixture tables are single-file single-row-group parquet: the
    # scan cannot split, so the gate must return the cluster width.
    w = catalog.fanout_width(spark, SF_DIR, "documents")
    assert w == spark.sparkContext.defaultParallelism


def test_fanout_width_none_when_layout_splits(spark, monkeypatch):
    # A layout with >= parallelism/2 splittable units must NOT take the
    # extra exchange (the 100 TB posture).
    import os

    path = os.path.join(SF_DIR, "documents.parquet")
    # r13: metadata caches key on (path, mtime, size) — see _cache_key.
    monkeypatch.setitem(
        catalog._SCAN_UNITS,
        catalog._cache_key(path),
        spark.sparkContext.defaultParallelism,
    )
    assert catalog.fanout_width(spark, SF_DIR, "documents") is None


def test_metadata_caches_invalidate_on_rewrite(spark, tmp_path):
    # r13 (r12 ADVICE): the per-path schema / row-group caches key on
    # (path, mtime, size), so regenerating a fixture inside one process
    # misses the cache instead of serving stale metadata.
    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.mode("overwrite").parquet(p)
    import glob
    import os
    import shutil

    part = glob.glob(p + "/part-*.parquet")[0]
    single = str(tmp_path / "single.parquet")
    shutil.copy(part, single)
    k1 = catalog._cache_key(single)
    assert catalog._scan_units(single) >= 1
    assert k1 in catalog._SCAN_UNITS
    # rewrite the file: key changes, old entry is never consulted
    spark.range(7).selectExpr("id AS a", "id AS b").coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    part2 = glob.glob(p + "/part-*.parquet")[0]
    shutil.copy(part2, single)
    os.utime(single)
    k2 = catalog._cache_key(single)
    assert k1 != k2


def test_order_part_pairs_expansion_pin_survives_planning(spark):
    # r12 pinned the expansion width with repartition(w, l_orderkey) and
    # EnsureRequirements silently ELIDED it (same key + count as the
    # groupBy), handing the CPU-quadratic expansion back to AQE's
    # byte-based coalescing (observed: 6 tasks for an 8.2 s-CPU stage).
    # The r13 pin hashes xxhash64(l_orderkey) — a different partitioning
    # expression — so the exchange must survive as REPARTITION_BY_NUM,
    # which AQE cannot coalesce. This asserts it stays in the plan.
    plan = (
        _order_part_pairs(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "REPARTITION_BY_NUM" in plan, plan


def test_fanout_width_unknown_layout_assumed_splittable(spark, tmp_path):
    # Uninspectable layouts (directory tables, object stores) must be
    # treated as splittable -> no fan-out.
    df = spark.range(10)
    out = str(tmp_path / "dirtable.parquet")
    df.write.parquet(out)  # a DIRECTORY, pyarrow.ParquetFile() rejects it
    assert catalog.fanout_width(spark, str(tmp_path), "dirtable") is None


def test_load_table_fan_out_identical_rows(spark):
    plain = catalog.load_table(spark, SF_DIR, "documents")
    fanned = catalog.load_table(spark, SF_DIR, "documents", fan_out=True)
    a = sorted(r.doc_id for r in plain.select("doc_id").collect())
    b = sorted(r.doc_id for r in fanned.select("doc_id").collect())
    assert a == b
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_directed_pair_expansion_multiset_matches_filter_form(spark):
    # The one-slice-pass directed expansion must emit the same
    # (order, src, dst) MULTISET as the per-element filter() form it
    # replaced (each ordered pair exactly once per order).
    new = _order_part_pairs(spark, SF_DIR, directed=True)
    li = catalog.load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    old_expr = (
        "flatten(transform(ps, x -> "
        "transform(filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))"
    )
    old = per_order.select(
        F.col("l_orderkey"), F.explode(F.expr(old_expr)).alias("p")
    ).select("l_orderkey", "p.src", "p.dst")
    key = ["l_orderkey", "src", "dst"]
    diff1 = new.groupBy(key).count().exceptAll(old.groupBy(key).count())
    diff2 = old.groupBy(key).count().exceptAll(new.groupBy(key).count())
    assert diff1.count() == 0 and diff2.count() == 0


def test_jaccard_from_units_matches_restricted_jaccard_pairs(spark):
    docs = catalog.load_table(spark, SF_DIR, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, "doc_id", "text")
    per_chain = dedup.jaccard_pairs(docs, pairs, "doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            dedup._units(F.col("text"), dedup.DEFAULT_SHINGLE_N)
        ).alias("tok"),
    )
    shared = dedup.jaccard_pairs_from_units(toks, pairs, "doc_id")
    a = sorted(map(tuple, per_chain.collect()))
    b = sorted(map(tuple, shared.collect()))
    assert a == b


def test_scan_units_assume_splittable_on_arrow_error(monkeypatch, tmp_path):
    # An Arrow error from the footer read (e.g. an encoding
    # Arrow does not implement) takes the quiet assume-splittable path.
    import pyarrow.lib
    import pyarrow.parquet as pq

    def unreadable(path):
        raise pyarrow.lib.ArrowNotImplementedError("unsupported encoding")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    path = tmp_path / "t.parquet"
    path.write_bytes(b"PAR1")
    assert catalog._scan_units(str(path)) == 1 << 30
