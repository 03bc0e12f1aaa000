"""Spark 4 Python Data Source API: batch partition parallelism and
streaming offset progression across restarts (checkpointed state)."""

from __future__ import annotations

from pipeline_query_engine_demo_spark.sources.pydatasource import (
    STREAM_TOTAL as TOTAL,
    CounterStreamSource,
)


def test_batch_source_reads_all_partitions_in_parallel(spark):
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        SequenceFeedSource,
    )

    try:
        spark.dataSource.register(SequenceFeedSource)
    except Exception:
        pass
    df = spark.read.format("sequence_feed").option("n_rows", 500).load()
    assert df.rdd.getNumPartitions() == 8
    rows = df.orderBy("n").collect()
    assert len(rows) == 500
    assert rows[0].n == 0 and rows[-1].n == 499
    assert all(r.n_squared == r.n * r.n for r in rows)


def test_stream_source_resumes_offsets_across_restarts(spark, tmp_path):
    """Each availableNow run drains the reader's next prefetched batch;
    the checkpoint carries both the source offset and the aggregation
    state, so three restarts accumulate the full 100-row feed into the
    complete-mode counts — the incremental contract of a custom Python
    streaming source."""
    try:
        spark.dataSource.register(CounterStreamSource)
    except Exception:
        pass
    ckpt = str(tmp_path / "c1")

    def run_once(name: str):
        agg = (
            spark.readStream.format("counter_feed")
            .load()
            .groupBy("grp")
            .count()
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.grp: r["count"] for r in spark.table(name).collect()}

    totals = {}
    for i in range(4):
        totals = run_once(f"t_counter_{i}")
        if sum(totals.values()) >= TOTAL:
            break
    assert sum(totals.values()) == TOTAL
    assert totals == {g: TOTAL // 5 for g in range(5)}


def test_counter_stream_source_drains_all_offsets(spark, sf_dir):
    """The streaming Python data source must deliver the full bounded
    sequence exactly once across its offset ranges: totals equal the
    closed form, and the offset-replay API is deterministic."""
    from pipeline_query_engine_demo_spark.plans.sinks import (
        python_stream_datasource_rollup,
    )
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        STREAM_TOTAL,
        CounterStreamReader,
    )

    rows = {r.grp: (r.n, r.total) for r in python_stream_datasource_rollup(spark, sf_dir).collect()}
    exp = {}
    for i in range(STREAM_TOTAL):
        n, t = exp.get(i % 5, (0, 0))
        exp[i % 5] = (n + 1, t + i)
    assert rows == exp
    # exactly-once replay contract: committed ranges re-read identically
    r = CounterStreamReader()
    a = list(r.readBetweenOffsets({"pos": 40}, {"pos": 80}))
    b = list(r.readBetweenOffsets({"pos": 40}, {"pos": 80}))
    assert a == b and len(a) == 40 and a[0] == (40, 0)


def test_parallel_stream_reader_fans_out_partitions(spark, tmp_path):
    """The DataSourceStreamReader variant must deliver a micro-batch
    through MULTIPLE physical partitions (executor-side reads), not a
    driver funnel: spark_partition_id() observed BEFORE any shuffle must
    show one partition per planned shard, and each shard's rows must be
    exactly its slice."""
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        PAR_SHARD_ROWS,
        PAR_TOTAL,
        ShardStreamSource,
    )
    import pyspark.sql.functions as F

    try:
        spark.dataSource.register(ShardStreamSource)
    except Exception:
        pass
    ckpt = str(tmp_path / "c1")
    tagged = (
        spark.readStream.format("shard_feed")
        .load()
        .withColumn("pid", F.spark_partition_id())
    )
    q = (
        tagged.writeStream.format("memory")
        .queryName("t_shard_fanout")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_shard_fanout").collect()
    assert len(rows) == PAR_TOTAL
    n_shards = PAR_TOTAL // PAR_SHARD_ROWS
    # one physical partition per shard, and >1 overall (the 100 TB claim)
    pids_per_shard = {}
    for r in rows:
        pids_per_shard.setdefault(r.shard, set()).add(r.pid)
    assert len(pids_per_shard) == n_shards
    assert all(len(p) == 1 for p in pids_per_shard.values())
    assert len({p for s in pids_per_shard.values() for p in s}) > 1
    # each shard delivered exactly its slice
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.n)
    for s, ns in by_shard.items():
        assert sorted(ns) == list(
            range(s * PAR_SHARD_ROWS, (s + 1) * PAR_SHARD_ROWS)
        )


def test_parallel_stream_reader_replay_is_deterministic(spark, tmp_path):
    """Recovery contract: re-splitting the same offset range yields the
    identical shard slices, and re-reading a shard yields identical
    rows — the partitions()-based equivalent of readBetweenOffsets. A
    second drain over the committed checkpoint must also plan ZERO new
    rows (offset resume)."""
    from pipeline_query_engine_demo_spark.sources.pydatasource import (
        ShardStreamReader,
        ShardStreamSource,
    )

    r = ShardStreamReader()
    split1 = [(p.lo, p.hi, p.shard) for p in r.partitions({"pos": 0}, {"pos": 120})]
    split2 = [(p.lo, p.hi, p.shard) for p in r.partitions({"pos": 0}, {"pos": 120})]
    assert split1 == split2 and len(split1) == 12
    p0 = r.partitions({"pos": 30}, {"pos": 50})
    assert [(p.lo, p.hi, p.shard) for p in p0] == [(30, 40, 3), (40, 50, 4)]
    assert list(r.read(p0[0])) == [(i, 3, i % 5) for i in range(30, 40)]
    assert list(r.read(p0[0])) == list(r.read(p0[0]))
    # committed-offset resume: a fresh availableNow run over the same
    # checkpoint sees latest == committed and plans no input rows
    try:
        spark.dataSource.register(ShardStreamSource)
    except Exception:
        pass
    ckpt = str(tmp_path / "c2")

    def drain(name):
        # complete-mode aggregate: append-mode memory sinks cannot
        # recover a checkpoint (same constraint drain_with_flush notes)
        q = (
            spark.readStream.format("shard_feed")
            .load()
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress

    p1 = drain("t_shard_replay_1")
    assert p1 is not None and p1["numInputRows"] == 120
    p2 = drain("t_shard_replay_2")
    assert p2 is None or p2["numInputRows"] == 0
