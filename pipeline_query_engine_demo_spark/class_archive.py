"""Class-data archive of Spark's jars for the session JVM.

Most of a local driver's start-up is the JVM loading, parsing and
verifying Spark's classes (``session.launch_s`` and
``session.first_job_s`` in perfbench's traced runs). A JDK dynamic AppCDS
archive (application class-data sharing) holds those classes already
parsed and verified, in a file the JVM maps at start
(``-XX:SharedArchiveFile``). The archive holds class metadata of the
installed jars only: no data, no plan and no result.

It lives at ``${XDG_CACHE_HOME:-~/.cache}/spark_graft/spark-<key>.jsa``.
The key hashes the JDK's ``release`` file, ``pyspark.__version__`` and
the name, size and mtime of every jar in ``$SPARK_HOME/jars``, so a new
JDK, pyspark or jar set gets a new archive and the old ones are removed.
The first :func:`archive_for_launch` on a machine that has none builds it
(about 40 s, once): a child process runs a synthetic warm-up on
``spark.range`` data in a session started with
``-XX:ArchiveClassesAtExit`` and the JVM writes the archive as it exits.
A build that writes nothing leaves ``spark-<key>.failed`` with the tail
of its log and is not retried; delete that marker, or the archive, to
reset.

JDK 17 refuses a non-empty directory on a CDS classpath, and Spark puts
``$SPARK_CONF_DIR`` first on it, so every launch with the archive, and
its build, point ``SPARK_CONF_DIR`` at an empty directory next to it
(:func:`launch_env`). A launch whose classpath or JDK does not match
the archive prints "Unable to use shared archive" and runs without it.

Run as ``python -m pipeline_query_engine_demo_spark.class_archive OUT``
it is the build child: warm up, stop, and wait for the JVM to write OUT.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from collections.abc import Iterator

#: A build that takes longer is killed and marked failed.
_BUILD_TIMEOUT_S = 600
#: Bytes of the build log kept in a ``.failed`` marker.
_LOG_TAIL = 4000


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "spark_graft")


def _java_home() -> str | None:
    """The JDK ``spark-class`` launches: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(spark_home: str, java_home: str) -> str:
    """Hash of what the archived classes come from: the JDK ``release``
    file, the pyspark version and every jar's name, size and mtime."""
    from pyspark.version import __version__

    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    h.update(__version__.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _failed_marker(archive: str) -> str:
    return archive[: -len(".jsa")] + ".failed"


def _plain_launch_needed(master: str, spark_home: str) -> bool:
    """True when the JVM's classpath is not just Spark's jars behind a
    conf dir that holds nothing Spark reads, or the master is not local."""
    if master != "local" and not master.startswith("local["):
        return True
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return True
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return any(not f.endswith(".template") for f in os.listdir(conf))
    except FileNotFoundError:
        return False


def archive_for_launch(master: str) -> str | None:
    """Path of the class-data archive a driver JVM for ``master`` should
    map, building it first when this machine has none; ``None`` for a
    plain launch (see :func:`_plain_launch_needed`, and: no JDK found, a
    cache dir that is not writable, an earlier build that failed, or a
    build running in another process)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java_home = _java_home()
    if _plain_launch_needed(master, spark_home) or not java_home:
        return None
    cache = cache_dir()
    try:
        key = archive_key(spark_home, java_home)
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    except OSError:
        return None
    archive = os.path.join(cache, f"spark-{key}.jsa")
    if os.path.exists(archive):
        return archive
    if not os.access(cache, os.W_OK) or os.path.exists(_failed_marker(archive)):
        return None
    with open(os.path.join(cache, "build.lock"), "a") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return None
        if not os.path.exists(archive):  # another process may have just finished
            try:
                failure = _build(archive)
            except OSError as ex:  # a failed build never fails the launch
                failure = f"{type(ex).__name__}: {ex}"
            if failure:
                with contextlib.suppress(OSError), open(_failed_marker(archive), "w") as f:
                    f.write(failure)
    return archive if os.path.exists(archive) else None


@contextlib.contextmanager
def launch_env(archive: str | None) -> Iterator[None]:
    """Point ``SPARK_CONF_DIR`` at the archive's empty conf dir while a
    JVM that maps ``archive`` is launched; nothing when it is ``None``."""
    if archive is None:
        yield
        return
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(archive), "conf")
    try:
        yield
    finally:
        if prev is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prev


def _build_command(out: str) -> list[str]:
    return [sys.executable, "-m", __spec__.name, out]


def _build(archive: str) -> str | None:
    """Write ``archive`` from a child process's warm-up, with the build
    lock held; on failure return what went wrong, with the log's tail."""
    from .session import _PACKAGE_ROOT, scratch_path

    cache = os.path.dirname(archive)
    for f in os.listdir(cache):  # left by a build that was killed
        if ".jsa.tmp" in f:
            os.remove(os.path.join(cache, f))
    tmp = f"{archive}.tmp{os.getpid()}"
    env = {**os.environ, "SPARK_CONF_DIR": os.path.join(cache, "conf")}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (_PACKAGE_ROOT, env.get("PYTHONPATH")) if p)
    log_path = scratch_path("class-archive.log")
    with open(log_path, "w") as log:
        # Its own process group, to kill the JVM with it on a timeout; the
        # same session, so whoever kills this one's session kills it too.
        child = subprocess.Popen(_build_command(tmp), env=env, stdin=subprocess.DEVNULL,
                                 stdout=log, stderr=subprocess.STDOUT, process_group=0)
        try:
            child.wait(timeout=_BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log.write(f"\nclass archive build over {_BUILD_TIMEOUT_S} s, killed\n")
        finally:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
    if child.returncode == 0 and os.path.exists(tmp):
        os.replace(tmp, archive)
        for f in os.listdir(cache):
            if f.startswith("spark-") and f.endswith(".jsa") and f != os.path.basename(archive):
                os.remove(os.path.join(cache, f))
        return None
    if os.path.exists(tmp):
        os.remove(tmp)
    with open(log_path, "rb") as f:
        f.seek(max(0, os.path.getsize(log_path) - _LOG_TAIL))
        tail = f.read().decode(errors="replace")
    return f"exit code {child.returncode}, no archive written; log tail:\n{tail}"


def _warm_up(spark) -> None:
    """Touch the classes a query run loads, on ``spark.range`` data only:
    Parquet write and read, broadcast and shuffle joins, an aggregate, a
    window, offset/limit, Arrow ``toPandas``, grouped ``applyInPandas``,
    a stateful ``availableNow`` streaming drain and a repartitioned write."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .session import held_confs, scratch_path

    root = scratch_path("class-archive")
    facts_dir = os.path.join(root, "facts")
    spark.range(100_000).select(
        "id", (F.col("id") % 97).alias("k"), (F.col("id") / 7).cast("decimal(12,2)").alias("v"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    ).write.mode("overwrite").parquet(facts_dir)
    facts = spark.read.parquet(facts_dir)
    dims = spark.range(97).select(F.col("id").alias("k"), F.format_string("d%d", "id").alias("name"))
    facts.join(F.broadcast(dims), "k").groupBy("name").agg(
        F.sum("v"), F.count("*"), F.max("ts")
    ).collect()
    with held_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        facts.join(facts.select("id", F.col("v").alias("w")), "id").agg(F.sum("w")).collect()
    facts.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("v")))
    ).where("r <= 2").collect()
    facts.orderBy("id").offset(10).limit(5).collect()
    facts.limit(10_000).toPandas()
    facts.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), schema=facts.schema).collect()
    drain = (
        spark.readStream.format("rate").option("rowsPerSecond", 1000).load()
        .groupBy((F.col("value") % 7).alias("g")).count()
        .writeStream.format("memory").queryName("class_archive_warm_up").outputMode("complete")
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .trigger(availableNow=True).start()
    )
    drain.awaitTermination()
    facts.repartition(4, "k").write.mode("overwrite").parquet(os.path.join(root, "out"))


def _dump(out: str) -> None:
    """Build child: warm up a session whose JVM writes the archive ``out``
    at exit, stop it, and wait for the JVM to finish writing (it outlives
    a plain session stop by about 12 s)."""
    from pyspark import SparkContext

    from .session import get_spark, scratch_path

    spark = get_spark("class-archive", **{
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch_path()} -XX:ArchiveClassesAtExit={out}",
    })
    _warm_up(spark)
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway exits on EOF, and the JVM dumps as it exits
    jvm.wait()


if __name__ == "__main__":
    _dump(sys.argv[1])
