"""SparkSession factory with scale-oriented defaults.

The reference engine hand-builds its runtime: 1024-row morsels
(``src/releation/mod.rs:20-26``), push pipelines and pipeline-breaker
scheduling (``src/executor/mod.rs:84-207``), two OS threads joined by an
mpsc channel (``src/main.rs:53-64``). On Spark every one of those is a
built-in (Tungsten columnar batches, whole-stage codegen, the DAG
scheduler), so this module's job is only to *configure* that machinery
for the 100 TB design point:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- broadcast threshold generous enough that dimension tables never shuffle;
- Arrow on for the few Pandas-UDF operators;
- shuffle (and streaming state) partitions sized from the session's
  cores, like the reference sizes its pipelines to the machine's
  threads, so a 4-core box and local[32] run the same code path with
  one task per core and a cluster sets the count by shuffled bytes.

A driver JVM that :func:`get_spark` launches maps a class-data archive
of Spark's jars (``class_archive``), which cuts JVM launch plus first
job from about 7 s to about 3.5 s on a 4-core box (SCALE.md). The
archive holds class metadata of the installed jars only, no data, plan
or result, and lives at
``${XDG_CACHE_HOME:-~/.cache}/spark_graft/spark-<key>.jsa``, keyed by
the JDK, pyspark and jar set. The first launch on an install builds it
(about 40 s, once). A launch goes without it, as a plain launch, when
the master is not local, the Spark conf dir holds any file other than a
``*.template``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` or
``SPARK_DIST_CLASSPATH`` is set, the caller overrides
``spark.driver.extraJavaOptions``, the cache dir is not writable, an
earlier build failed (``spark-<key>.failed``) or another process is
building it. Delete the file (or the marker) to reset.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import class_archive

# --- vendored pure-python protobuf (vendor/google/protobuf) -------------
# transformWithStateInPandas speaks protobuf to the JVM state server; when
# the environment has no google.protobuf we fall back to the vendored
# pure-python runtime (public protobuf 4.23.2 tree + a runtime_version
# shim — see vendor/google/protobuf/LICENSE). An installed protobuf always
# wins: the vendor dir is appended only on ImportError, and PYTHONPATH is
# extended (not replaced) so Spark-spawned Python workers resolve the same
# module the driver did.
_VENDOR_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "vendor")
)
#: Directory holding the ``pipeline_query_engine_demo_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_protobuf() -> None:
    try:
        import google.protobuf  # noqa: F401
        return
    except ImportError:
        pass
    if os.path.isdir(os.path.join(_VENDOR_DIR, "google", "protobuf")):
        if _VENDOR_DIR not in sys.path:
            sys.path.append(_VENDOR_DIR)
        existing = os.environ.get("PYTHONPATH", "")
        if _VENDOR_DIR not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                existing + os.pathsep + _VENDOR_DIR if existing else _VENDOR_DIR
            )
        # The vendored tree is pure-python; make api_implementation not
        # probe for the absent C++ extension.
        os.environ.setdefault("PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION", "python")


_ensure_protobuf()


def _add_worker_pythonpath(spark: SparkSession, path: str) -> None:
    """Append ``path`` to the PYTHONPATH that Spark hands its Python
    workers, unless it is already there.

    Workers are spawned with the PythonFunction's ``envVars``
    (``sc.environment``, read at UDF / data-source creation time), NOT
    the live ``os.environ`` — so when the JVM was launched before this
    package was imported (a vanilla SparkSession, then
    ``import __spark_entry__``), an ``os.environ`` edit never reaches
    them, while this one does."""
    env = spark.sparkContext.environment
    existing = env.get("PYTHONPATH", "")
    if path not in existing.split(os.pathsep):
        env["PYTHONPATH"] = existing + os.pathsep + path if existing else path


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Let Python workers import this package from any working directory.

    Workers unpickle Python data sources by reference, and a session
    from :func:`get_spark` starts its daemon from ``pyworker``, so they
    must import ``pipeline_query_engine_demo_spark``; without this they
    find it only when the JVM's cwd is the repo root."""
    _add_worker_pythonpath(spark, _PACKAGE_ROOT)


def ensure_protobuf_on_workers(spark: SparkSession) -> None:
    """Put the vendored protobuf runtime on the transformWithState
    state-server workers' PYTHONPATH (see :func:`_add_worker_pythonpath`
    for why ``os.environ`` is not enough). No-op when a real
    google.protobuf is installed."""
    if _VENDOR_DIR not in sys.path:  # real protobuf won; nothing vendored
        return
    _add_worker_pythonpath(spark, _VENDOR_DIR)
    spark.sparkContext.environment.setdefault(
        "PROTOCOL_BUFFERS_PYTHON_IMPLEMENTATION", "python"
    )


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """min(16g, half of physical memory): the heap a local driver may
    claim without outgrowing the box. 16g when ``meminfo`` is unreadable
    (non-Linux hosts)."""
    cap_mib = 16 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(cap_mib, int(line.split()[1]) // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{cap_mib}m"


# Defaults for a local[n] harness; on a real cluster these are
# overridden by spark-submit conf (the code never assumes them).
_LOCAL_DEFAULTS: dict[str, str] = {
    # --- adaptive execution: the scale workhorse ------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- join strategy --------------------------------------------------
    # region/nation/supplier/part are all broadcast-able at any SF that
    # fits the TPC-H-ish ratios; 64 MiB covers them with margin.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- Python interop -------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Workers load pyspark from the installed tree's bytecode, not from
    # $SPARK_HOME's source zip (pyworker.py); get_spark puts the package
    # on the workers' PYTHONPATH so the daemon finds this module.
    "spark.python.daemon.module": "pipeline_query_engine_demo_spark.pyworker",
    # --- streaming ------------------------------------------------------
    # Checkpoint and state files are renamed through FileSystem.rename,
    # atomic on a POSIX local FS. The default FileContext manager calls
    # getFileLinkStatus on both paths (and on their .crc sidecars), and
    # without native libhadoop each call forks `readlink` (perfbench
    # stream_ingest's drain commits its state in 0.02 s here, in 0.36 s
    # through FileContext, traced on a 4-core box). HDFS or native
    # libhadoop on a cluster keeps Spark's default (SCALE.md).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # --- misc -----------------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # events.ts is ns-precision Parquet; read as BIGINT nanos and convert
    # in sources.catalog.load_table (truncate to µs, matching DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def resilient_local_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` with a storage level that survives losing one
    executor when the app actually runs on multiple executor JVMs.

    Local checkpointing truncates lineage by design, so its blocks are
    the ONLY way to recompute downstream stages — and the default
    storage keeps one replica. On a multi-executor cluster, SIGKILLing
    the executor that holds a block is then unrecoverable:
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` aborts the job after
    exhausting stage retries (reproduced deterministically by
    tests/test_fault_tolerance.py's executor-kill drill before this
    helper existed). ``MEMORY_AND_DISK_2`` keeps a second replica on
    another executor, so single-executor loss degrades to a replica
    read instead of a dead query — the posture a 100 TB cluster needs,
    where executor churn is routine.

    In single-JVM ``local[n]`` mode there is no second executor to
    replicate to; the default level is kept (replication would only log
    insufficient-peer warnings), so bench timings, plan fingerprints,
    and block-manager footprint in the test/bench environment are
    byte-identical to plain ``localCheckpoint``."""
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local[") or sc.master == "local":
        return df.localCheckpoint(eager=eager)
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2)


@contextmanager
def held_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Hold ``confs`` on ``spark`` for the ``with`` block, then put each
    key's previous value back — or unset it when it had none — also when
    the block raises.

    Per-query settings live in the one shared session, so a conf a
    builder leaves behind silently changes every later plan; this is
    the only place that sets and restores one temporarily (the contract
    of pyspark's ``SQLTestUtils.sql_conf``, minus the unittest mixin).
    Hold it around the ACTION the confs must shape — an eager
    checkpoint, a noop write, a streaming drain — since a lazy
    DataFrame is planned when it executes, not when it is built."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_scratch_lock = threading.Lock()
_scratch_root: str | None = None  # made by this pid; a forked child makes its own


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:  # a forked child inherits atexit hooks
        shutil.rmtree(root, ignore_errors=True)


def scratch_path(*parts: str) -> str:
    """Path under this process's one scratch root,
    ``<tempfile.gettempdir()>/spark_graft_<pid>``, which holds every file
    a query writes for itself. The root is made on first use (never on
    import) and removed at interpreter exit by the pid that made it, so
    concurrent runs never share a path and nothing outlives the process."""
    global _scratch_root
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{os.getpid()}")
    with _scratch_lock:
        if _scratch_root != root:
            os.makedirs(root, exist_ok=True)
            atexit.register(_remove_scratch_root, root, os.getpid())
            _scratch_root = root
    return os.path.join(root, *parts)


def replica_path(sf_dir: str, name: str) -> tuple[str, bool]:
    """``(path, ready)`` of the write-once replica ``name`` of fixture
    ``sf_dir``, one per process and SF label. ``ready`` once a write
    completed and left ``_SUCCESS``; a crashed half-write is redone."""
    path = scratch_path(os.path.basename(os.path.normpath(sf_dir)), name)
    return path, os.path.exists(os.path.join(path, "_SUCCESS"))


def _launches_jvm() -> bool:
    """Whether the next ``getOrCreate`` starts a driver JVM: none was
    started in this process and none was handed to it (spark-submit)."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def get_spark(app_name: str = "pipeline-query-engine-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session.

    Core count comes from ``SPARK_GRAFT_CPUS`` (driver contract) so the
    bench harness and tests share one factory. ``overrides`` win over
    the defaults — callers opt out, never fork the config dict.

    Shuffle partitions default to the core count (``defaultParallelism``
    of ``local[n]``), one path for batch and streaming. AQE coalesces
    batch shuffles anyway, but it is off inside streaming micro-batches,
    where every shuffle partition is a state store, so partitions beyond
    the core count only add per-store commit cost. A drain that resumes
    a checkpoint keeps the count recorded in it. At 100 TB a cluster
    sets the count by shuffled bytes (SCALE.md).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    cores = str(os.cpu_count()) if cpus == "*" else cpus
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = {
        **_LOCAL_DEFAULTS,
        "spark.sql.shuffle.partitions": cores,
        # Honored when THIS factory launches the JVM (local mode, fresh
        # process); a no-op on an already-running session. The 1g default
        # OOMs broadcast builds well before the 64 MiB threshold is reached
        # (observed at 10x sf0.1: notEnoughMemoryToBuildAndBroadcastTable).
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _default_driver_memory(),
        # Like the memory above, honored only by a JVM this call launches:
        # its temp files (native lz4/snappy libraries, the checkpoints of
        # memory sinks) go under the scratch root and leave with it.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch_path()}",
        **overrides,
    }
    archive = None
    if "spark.driver.extraJavaOptions" not in overrides and _launches_jvm():
        archive = class_archive.archive_for_launch(conf.get("spark.master", f"local[{cpus}]"))
    if archive:
        conf["spark.driver.extraJavaOptions"] += f" -XX:SharedArchiveFile={archive}"
    for key, value in conf.items():
        builder = builder.config(key, value)
    with class_archive.launch_env(archive):
        spark = builder.getOrCreate()
    ensure_package_on_workers(spark)
    return spark
