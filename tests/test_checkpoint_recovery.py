"""Checkpoint/restart semantics: a stopped streaming query resumed from
its checkpoint must (a) process every input exactly once across the two
runs, and (b) restore operator state, not recompute from zero.

The reference has no durable streaming state (its pipeline is a
single-process in-memory demo); these tests pin the Spark behaviors a
production 100 TB ingest relies on: file-source offsets and the state
store both live in the checkpoint, so a restarted job continues where
the dead one stopped.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from pipeline_query_engine_demo_spark import streaming
from pipeline_query_engine_demo_spark.session import held_confs
from pipeline_query_engine_demo_spark.sources.catalog import load_table
from pipeline_query_engine_demo_spark.streaming import ROCKSDB_STATE_STORE

_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _split_events(spark, sf_dir, tmp_path):
    """Write the events fixture as two disjoint halves (2 files each)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "half", (F.col("event_id") % 2).cast("int")
    )
    srcs = []
    for h in (0, 1):
        out = str(tmp_path / f"half{h}")
        events.filter(F.col("half") == h).drop("half").repartition(2).write.mode(
            "overwrite"
        ).parquet(out)
        srcs.append(out)
    return srcs


def test_file_sink_exactly_once_across_restart(spark, sf_dir, tmp_path):
    """Run 1 drains the first half into a parquet sink and stops; more
    files then arrive; run 2 restarts from the SAME checkpoint and must
    emit only the new files — union of both runs = input, exactly once."""
    half0, half1 = _split_events(spark, sf_dir, tmp_path)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for f in os.listdir(half0):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(half0, f), os.path.join(src, f"a_{f}"))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(_SCHEMA).parquet(src)
        q = (
            stream.select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first > 0

    # second half "arrives" after the first run died
    for f in os.listdir(half1):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(half1, f), os.path.join(src, f"b_{f}"))
    run_once()

    out = spark.read.parquet(sink)
    expected = load_table(spark, sf_dir, "events")
    assert out.count() == expected.count()  # no loss, and...
    assert out.select("event_id").distinct().count() == expected.count()  # ...no dups
    # run 2 really was incremental: it added only the second half
    assert n_first < expected.count()


def test_stateful_counts_survive_restart(spark, sf_dir, tmp_path):
    """applyInPandasWithState counters must resume from the state store:
    after a restart over the second half of the data, every user's final
    count equals the full-corpus count — impossible unless run 2 started
    from run 1's state rather than zero."""
    half0, half1 = _split_events(spark, sf_dir, tmp_path)
    src = str(tmp_path / "src2")
    os.makedirs(src)
    for f in os.listdir(half0):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(half0, f), os.path.join(src, f"a_{f}"))

    ckpt = str(tmp_path / "ckpt2")
    out_root = str(tmp_path / "out2")

    def run_once(run_name):
        # memory sink cannot recover from a checkpoint; foreachBatch
        # writing parquet can, and lets each run land in its own dir.
        dest = os.path.join(out_root, run_name)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(dest)

        stream = spark.readStream.schema(_SCHEMA).parquet(src)
        q = (
            streaming.stateful_user_counts(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(dest)

    run_once("run1")
    for f in os.listdir(half1):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(half1, f), os.path.join(src, f"b_{f}"))
    result2 = run_once("run2")

    # the second run emits only users seen in batch 2+, but with counts
    # accumulated from run 1's state
    final = result2.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = final.join(expected, "user_id")
    assert joined.count() > 0
    mismatches = joined.filter(F.col("n_events") != F.col("n")).count()
    assert mismatches == 0


def test_statestore_reader_exposes_operator_state(spark, sf_dir, tmp_path):
    """The state-store reader (``spark.read.format("statestore")``,
    Spark 4) must expose a stateful operator's keyed state directly
    from the checkpoint — the debugging/ops surface for "what does the
    state store believe right now" without adding a probe to the job.
    A watermarked tumbling count runs once; reading its checkpointed
    state back must reproduce the (window, event_type) -> count table
    the aggregation computed."""
    src = str(tmp_path / "src3")
    load_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    ckpt = str(tmp_path / "ckpt3")
    dest = str(tmp_path / "out3")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(dest)

    stream = spark.readStream.schema(_SCHEMA).parquet(src)
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # The store keys by the INTERNAL attribute names (`window`, not the
    # query's alias), and the value struct's field name is internal too
    # — resolve the count field from the schema instead of guessing.
    state_raw = spark.read.format("statestore").load(ckpt)
    value_field = state_raw.schema["value"].dataType.names[0]
    state = state_raw.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.`{value_field}`").alias("state_n"),
    )
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The store retains only OPEN windows: once the watermark passes a
    # window's end, update mode emits the final count and EVICTS the
    # key — that eviction is precisely what bounds state size at scale,
    # so closed windows being absent is correct behavior, not loss.
    # What must hold: every retained key carries the exact full count
    # for its window, and the newest window (which no watermark can
    # have closed) is retained.
    assert state.count() >= 1
    bad = state.join(expected, ["window_start", "event_type"], "left").filter(
        F.col("n").isNull() | (F.col("n") != F.col("state_n"))
    )
    assert bad.count() == 0
    last_window = expected.agg(F.max("window_start").alias("m")).collect()[0].m
    assert (
        state.filter(F.col("window_start") == last_window).count()
        == expected.filter(F.col("window_start") == last_window).count()
    )


def test_rocksdb_state_store_provider_parity(spark, sf_dir, tmp_path):
    """The RocksDB state store provider — the backend a production
    cluster runs (state spills to local disk instead of growing the JVM
    heap) — must produce batch-identical results through the same
    windowed aggregation, and its artifacts (zip/changelog uploads, not
    the HDFS provider's delta files) must actually appear in the
    checkpoint, proving the provider was in effect and not silently
    defaulted."""
    src = str(tmp_path / "rdb_src")
    load_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    ckpt = str(tmp_path / "rdb_ckpt")
    with held_confs(spark, ROCKSDB_STATE_STORE):
        stream = spark.readStream.schema(_SCHEMA).parquet(src)
        q = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
            .writeStream.format("memory")
            .queryName("rdb_counts")
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = spark.table("rdb_counts")
    expected = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    diff = expected.join(got, ["window_start", "event_type"]).filter(
        expected["n"] != got["n"]
    )
    assert got.count() == expected.count()
    assert diff.count() == 0

    rocksdb_files = []
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        rocksdb_files += [
            f for f in files if f.endswith(".zip") or f.endswith(".changelog")
        ]
    assert rocksdb_files, "no RocksDB artifacts under the state checkpoint"
