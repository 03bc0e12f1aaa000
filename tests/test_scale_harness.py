"""The one scale harness (tools/scale_experiment.py): its replica is a
set of write-once tables under the scratch root, and its timing is the
bench's traced pass."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from pipeline_query_engine_demo_spark.session import scratch_path
from tools import scale_experiment as scale

_BASE = "/root/testdata/sf0.01"


def _success_mtimes(sf_dir: str) -> dict[str, int]:
    return {
        t: os.stat(os.path.join(sf_dir, f"{t}.parquet", "_SUCCESS")).st_mtime_ns
        for t in scale.SCALED
    }


def test_replica_scales_keys_and_is_write_once(spark):
    sf_dir = scale.build_replica(spark, _BASE, 2)

    base = spark.read.parquet(os.path.join(_BASE, "lineitem.parquet"))
    rep = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    n, keys = base.agg(F.count("*"), F.countDistinct("l_orderkey")).first()
    assert tuple(rep.agg(F.count("*"), F.countDistinct("l_orderkey")).first()) == (
        2 * n,
        2 * keys,
    )

    root = scratch_path()
    assert os.path.commonpath([sf_dir, root]) == root
    entries = sorted(os.listdir(sf_dir))
    assert entries == sorted(f"{t}.parquet" for t in [*scale.SCALED, *scale.UNSCALED])
    for t in scale.SCALED:
        assert not os.path.islink(os.path.join(sf_dir, f"{t}.parquet"))
    for t in scale.UNSCALED:
        link = os.path.join(sf_dir, f"{t}.parquet")
        assert os.readlink(link) == os.path.join(_BASE, f"{t}.parquet")

    before = _success_mtimes(sf_dir)
    assert scale.build_replica(spark, _BASE, 2) == sf_dir
    assert _success_mtimes(sf_dir) == before


def test_run_at_times_through_the_traced_pass(spark):
    sf_dir = scale.build_replica(spark, _BASE, 2)
    names = ["q1_pricing_summary", "flagship_filter_join_limit"]
    key = "spark.sql.shuffle.partitions"
    width_before = spark.conf.get(key)

    walls, layers, errors = scale.run_at(spark, sf_dir, names, width=7)

    assert sorted(walls) == sorted(layers) == sorted(names)
    assert errors == {}
    assert all(layers[n]["action_s"] > 0 for n in names)
    assert spark.conf.get(key) == width_before
    assert scale.scaled_width(spark, 4) == 2 * spark.sparkContext.defaultParallelism
