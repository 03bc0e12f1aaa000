"""The loop driver (operators/rounds.py) on the shared session: replaced
state keeps at most two live generations, caller state is never freed,
a generation outlives its unmaterialized successor, and a loop that
does not converge raises."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pipeline_query_engine_demo_spark.operators.rounds import Rounds


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _rdd_id(df) -> int:
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def test_replaced_state_keeps_at_most_two_generations(spark):
    loop = Rounds()
    state = spark.range(50).withColumn("v", F.col("id") % 5)
    gens = []
    for _ in range(10):
        state = loop.replace(state.withColumn("v", F.col("v") + 1))
        assert state.count() == 50  # materializes the generation
        gens.append(_rdd_id(state))
    live = set(gens) & _persisted(spark)
    assert len(live) <= 2, live
    assert gens[-1] in live
    assert sorted(r.v for r in state.select("v").distinct().collect()) == [
        10, 11, 12, 13, 14
    ]


def test_caller_state_survives_the_loop(spark):
    cached = spark.range(30).withColumn("w", F.col("id") * 2).cache()
    assert cached.count() == 30
    cut = spark.range(30).localCheckpoint(eager=True)
    kept = {_rdd_id(cut)}
    loop = Rounds()
    state = cached.join(cut, "id")
    for _ in range(6):
        state = loop.replace(state.withColumn("w", F.col("w") + 1))
        state.count()
    assert kept <= _persisted(spark)
    assert cached.is_cached
    assert cached.agg(F.sum("w")).first()[0] == 2 * sum(range(30))
    assert cut.count() == 30
    cached.unpersist()


def test_generation_outlives_its_unmaterialized_successor(spark):
    loop = Rounds()
    g0 = loop.replace(spark.range(20).withColumn("v", F.col("id")))
    assert g0.count() == 20
    g1 = loop.replace(g0.withColumn("v", F.col("v") + 1))  # never acted on
    g2 = loop.replace(g1.withColumn("v", F.col("v") + 1))
    # g1 still computes from g0's blocks, so g0 must not be freed yet;
    # freeing it would make the action below fail on a missing block.
    assert _rdd_id(g0) in _persisted(spark)
    assert g2.agg(F.sum("v")).first()[0] == sum(range(20)) + 40


def test_until_stable_raises_when_out_of_rounds():
    assert Rounds.until_stable(5, lambda s: (max(s - 1, 0), s > 0), 10, "countdown") == 0
    with pytest.raises(RuntimeError, match="converge"):
        Rounds.until_stable(0, lambda s: (s + 1, True), 3, "runaway")
