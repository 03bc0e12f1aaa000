"""Temporary session confs: ``session.held_confs`` is the one bracket, and
no builder that holds a conf leaves the shared session changed — a conf
left behind would silently re-plan every later query."""

from __future__ import annotations

import pytest

from pipeline_query_engine_demo_spark import plans
from pipeline_query_engine_demo_spark.session import held_confs

_KEY = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.cbo.joinReorder.enabled"


def test_held_confs_restores_a_previous_value(spark):
    before = spark.conf.get(_KEY)
    with held_confs(spark, {_KEY: "3"}):
        assert spark.conf.get(_KEY) == "3"
    assert spark.conf.get(_KEY) == before


def test_held_confs_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with held_confs(spark, {_UNSET_KEY: "true"}):
        assert spark.conf.get(_UNSET_KEY) == "true"
    assert spark.conf.get(_UNSET_KEY, None) is None
    assert _UNSET_KEY not in spark.conf.getAll


def test_held_confs_restores_when_the_block_raises(spark):
    before = spark.conf.get(_KEY)
    with pytest.raises(RuntimeError, match="inside"):
        with held_confs(spark, {_KEY: "3", _UNSET_KEY: "true"}):
            raise RuntimeError("inside")
    assert spark.conf.get(_KEY) == before
    assert spark.conf.get(_UNSET_KEY, None) is None


@pytest.mark.parametrize(
    "name",
    [
        "join_aqe_skew_split",
        "bloom_filter_pruned_join",
        "dpp_bloom_composed_star",
        "cbo_stats_join_reorder",
        "streaming_tws_user_value_totals",
        "sql_scripting_block",
    ],
)
def test_conf_holding_builder_leaves_session_unchanged(spark, sf_dir, name):
    before = spark.conf.getAll
    plans.queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert spark.conf.getAll == before
