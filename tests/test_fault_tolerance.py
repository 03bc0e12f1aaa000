"""Task-retry fault tolerance: a transient Python-side failure must be
retried by the scheduler and the query must still return exact results.

Local mode defaults to maxFailures=1 (any task failure kills the job),
so this runs in a SUBPROCESS with ``local[4,4]`` — 4 threads, 4 task
attempts — the knob a real cluster always has on. The planted fault is
deterministic: the first attempt of one specific partition raises; the
retry (attemptNumber > 0) succeeds. This is the single-box stand-in for
the lost-executor story: every operator in the engine is expressed as
deterministic DataFrame transforms over re-readable sources, so any
task is safe to re-execute (no side effects in the hot path — the one
sink family writes through Spark's committer, which handles attempt
isolation)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = textwrap.dedent(
    """
    import json, sys
    from pyspark.sql import SparkSession
    from pyspark import TaskContext
    import pyspark.sql.functions as F

    marker_dir = sys.argv[1]
    spark = (
        SparkSession.builder.master("local[4,4]")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={marker_dir}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )

    def flaky(batches):
        import os
        import pandas as pd
        tc = TaskContext.get()
        pid = tc.partitionId()
        if pid == 0 and tc.attemptNumber() == 0:
            # record that the fault was actually planted, then die
            open(os.path.join(marker_dir, "fault_planted"), "w").write("1")
            raise RuntimeError("planted transient failure (attempt 0)")
        if pid == 0 and tc.attemptNumber() > 0:
            open(os.path.join(marker_dir, "retried"), "w").write(
                str(tc.attemptNumber())
            )
        for pdf in batches:
            pdf["doubled"] = pdf["v"] * 2
            yield pdf

    df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("v"))
    out = df.mapInPandas(flaky, schema="v long, doubled long")
    total = out.agg(
        F.sum("v").alias("sv"), F.sum("doubled").alias("sd")
    ).collect()[0]
    print(json.dumps({"sv": total.sv, "sd": total.sd}))
    spark.stop()
    """
)


_KILL_WORKER = textwrap.dedent(
    """
    import glob, hashlib, json, os, signal, sys, threading, time

    repo, token, tmp = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,4,1400]")
        .config("spark.executor.memory", "1200m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "16")
        # JVM temp files (lz4/snappy native copies) go to the test's tmp
        # dir: a SIGKILLed executor never runs their delete-on-exit.
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config(
            "spark.executor.extraJavaOptions",
            f"-Dgraft.token={token} -Djava.io.tmpdir={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pipeline_query_engine_demo_spark.plans.dedup import near_dup_pairs_docs

    df = near_dup_pairs_docs(spark, "/root/testdata/sf0.1")
    info = {}

    def killer():
        st = spark.sparkContext.statusTracker()
        t0 = time.time()
        while time.time() - t0 < 180 and not st.getActiveJobsIds():
            time.sleep(0.05)
        # Record the observation that triggered the kill HERE: the
        # at-kill read below can land in the gap between two jobs of a
        # multi-job query and return [], which is not evidence the app
        # was idle.
        info["saw_active_job"] = bool(st.getActiveJobsIds())
        time.sleep(1.5)  # land mid-stage, not on the first task
        info["jobs_active_at_kill"] = list(st.getActiveJobsIds())
        for d in glob.glob("/proc/[0-9]*/cmdline"):
            try:
                c = open(d, "rb").read().decode(errors="replace")
            except Exception:
                continue
            if "CoarseGrainedExecutorBackend" in c and f"graft.token={token}" in c:
                pid = int(d.split("/")[2])
                os.kill(pid, signal.SIGKILL)
                info["killed_pid"] = pid
                return

    th = threading.Thread(target=killer)
    th.start()
    rows = sorted(map(tuple, ((r[0], r[1]) for r in df.collect())))
    th.join(timeout=10)
    digest = hashlib.md5(json.dumps(rows).encode()).hexdigest()
    print(json.dumps({"n": len(rows), "digest": digest, **info}))
    try:
        spark.stop()
    except Exception:
        pass  # a dying executor's shutdown noise must not fail the run
    """
)


def test_executor_loss_recovers_exact_results(spark, tmp_path):
    """Whole-executor loss (r11 verdict item 6): SIGKILL one of two
    executor JVMs in local-cluster mode while near_dup_pairs_docs (the
    longest multi-stage query) is mid-flight. The standalone Worker
    relaunches the executor; lost shuffle output is recomputed by stage
    retry; the result must be EXACTLY the unharmed run's. This is the
    cluster-grade story the task-retry test above can't cover: losing a
    JVM loses its shuffle files and cached/localCheckpoint blocks, not
    just one task attempt."""
    import hashlib

    token = f"graft_kill_{os.getpid()}"
    script = tmp_path / "kill_worker.py"
    script.write_text(_KILL_WORKER)
    proc = subprocess.run(
        [sys.executable, str(script), REPO, token, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=560,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # the kill really happened, and the query had genuinely started
    # (jobs_active_at_kill stays informational: the at-kill read can
    # race the gap between two jobs of this multi-job query)
    assert out.get("killed_pid"), out
    assert out.get("saw_active_job"), out
    # exact-result reference from this (unharmed) test session
    from pipeline_query_engine_demo_spark.plans.dedup import near_dup_pairs_docs

    ref = sorted(
        map(tuple, ((r[0], r[1]) for r in near_dup_pairs_docs(spark, "/root/testdata/sf0.1").collect()))
    )
    assert out["n"] == len(ref)
    assert out["digest"] == hashlib.md5(json.dumps(ref).encode()).hexdigest()


def test_task_retry_survives_transient_python_failure(tmp_path):
    script = tmp_path / "worker.py"
    script.write_text(_WORKER)
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    n = 1000
    assert result == {"sv": n * (n - 1) // 2, "sd": n * (n - 1)}
    # the fault really happened AND the retry really ran
    assert (tmp_path / "fault_planted").exists()
    assert (tmp_path / "retried").exists()
