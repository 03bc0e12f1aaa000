"""The driver JVM's class-data archive (``class_archive``): its
key, when a launch goes without it, what a failed build leaves, and that
a ``get_spark`` session really maps it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from pipeline_query_engine_demo_spark import class_archive

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _touch(path: str, data: bytes = b"") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark install and JDK, and an empty cache."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    _touch(str(spark_home / "jars" / "a.jar"), b"aaaa")
    _touch(str(spark_home / "jars" / "b.jar"), b"bb")
    _touch(str(spark_home / "conf" / "spark-defaults.conf.template"))
    _touch(str(java_home / "release"), b'JAVA_VERSION="17.0.1"\n')
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    return spark_home, java_home


@pytest.fixture
def builds(monkeypatch) -> list[str]:
    """The archives a test's launches set out to build (none are built)."""
    started: list[str] = []
    monkeypatch.setattr(class_archive, "_build", started.append)
    return started


def _archive(spark_home, java_home) -> str:
    key = class_archive.archive_key(str(spark_home), str(java_home))
    return os.path.join(class_archive.cache_dir(), f"spark-{key}.jsa")


def test_key_follows_jars_and_jdk(install):
    spark_home, java_home = install
    key = lambda: class_archive.archive_key(str(spark_home), str(java_home))  # noqa: E731
    keys = [key()]
    assert key() == keys[0]
    _touch(str(spark_home / "jars" / "a.jar"), b"aaaaa")  # size
    keys.append(key())
    st = os.stat(spark_home / "jars" / "b.jar")
    os.utime(spark_home / "jars" / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime
    keys.append(key())
    _touch(str(java_home / "release"), b'JAVA_VERSION="17.0.2"\n')  # JDK
    keys.append(key())
    assert len(set(keys)) == 4


def test_existing_archive_is_used_with_an_empty_conf_dir(install, builds):
    spark_home, java_home = install
    archive = _archive(spark_home, java_home)
    _touch(archive)
    assert class_archive.archive_for_launch("local[2]") == archive
    with class_archive.launch_env(archive):
        conf = os.environ["SPARK_CONF_DIR"]
        assert os.path.dirname(conf) == class_archive.cache_dir() and os.listdir(conf) == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert builds == []


@pytest.mark.parametrize("case", ["defaults_conf", "cluster_master", "hadoop_conf", "dist_classpath"])
def test_plain_launch_when_the_classpath_or_master_differs(install, builds, monkeypatch, case):
    spark_home, java_home = install
    _touch(_archive(spark_home, java_home))
    master = "local[2]"
    if case == "defaults_conf":
        _touch(str(spark_home / "conf" / "spark-defaults.conf"), b"spark.driver.cores 2\n")
    elif case == "cluster_master":
        master = "spark://head:7077"
    elif case == "hadoop_conf":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(spark_home / "conf"))
    else:
        monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/opt/hadoop/share/*")
    archive = class_archive.archive_for_launch(master)
    assert archive is None
    with class_archive.launch_env(archive):
        assert "SPARK_CONF_DIR" not in os.environ
    assert builds == []


def test_failed_marker_starts_no_build(install, builds):
    spark_home, java_home = install
    _touch(class_archive._failed_marker(_archive(spark_home, java_home)))
    assert class_archive.archive_for_launch("local[2]") is None
    assert builds == []


def test_build_lock_held_elsewhere_starts_no_build(install, builds):
    lock = os.path.join(class_archive.cache_dir(), "build.lock")
    _touch(lock)
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, sys; f = open(sys.argv[1]); fcntl.flock(f, fcntl.LOCK_EX);"
         " print('held', flush=True); sys.stdin.read()", lock],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        assert class_archive.archive_for_launch("local[2]") is None
    finally:
        holder.communicate("", timeout=30)
    assert builds == []


def test_failed_build_leaves_marker_with_log_tail(install, monkeypatch):
    """A build child that exits without writing the archive leaves
    ``<key>.failed`` holding its log's tail and no temp file, and the
    launch goes on without the archive; the marker stops a retry."""
    spark_home, java_home = install
    monkeypatch.setattr(
        class_archive, "_build_command",
        lambda out: [sys.executable, "-c", "print('warm-up broke'); raise SystemExit(3)"],
    )
    assert class_archive.archive_for_launch("local[2]") is None
    marker = class_archive._failed_marker(_archive(spark_home, java_home))
    with open(marker) as f:
        text = f.read()
    assert "exit code 3" in text and "warm-up broke" in text
    assert [f for f in os.listdir(class_archive.cache_dir()) if ".tmp" in f] == []
    monkeypatch.setattr(class_archive, "_build", lambda archive: pytest.fail("rebuilt"))
    assert class_archive.archive_for_launch("local[2]") is None


def _session_child(tmp_path, prelude: str = "", **env) -> tuple[list[str], str]:
    """Start a ``get_spark`` session in a child process and return its
    JVM's input arguments and the child's whole output."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from pipeline_query_engine_demo_spark import class_archive
        {prelude}
        from pipeline_query_engine_demo_spark.session import get_spark
        spark = get_spark("class-archive-test")
        spark.range(10).count()
        jvm = spark.sparkContext._jvm
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        print("ARGS", "\\t".join(args), flush=True)
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env={**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2", **env},
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=900,
    ).stdout
    args = [ln for ln in out.splitlines() if ln.startswith("ARGS ")]
    assert args, out[-3000:]
    return args[0][len("ARGS "):].split("\t"), out


def test_session_maps_the_archive(tmp_path):
    """The session JVM is started with the archive and maps it: a JVM
    that cannot use it prints "Unable to use shared archive"."""
    args, out = _session_child(tmp_path)
    flags = [a for a in args if a.startswith("-XX:SharedArchiveFile=")]
    assert len(flags) == 1, args
    path = flags[0].split("=", 1)[1]
    assert os.path.dirname(path) == class_archive.cache_dir() and os.path.exists(path)
    assert "Unable to use shared archive" not in out


def test_failed_build_still_starts_the_session(tmp_path):
    cache = tmp_path / "cache"
    prelude = (
        "class_archive._build_command = lambda out: "
        "[sys.executable, '-c', 'raise SystemExit(1)']"
    )
    args, _ = _session_child(tmp_path, prelude, XDG_CACHE_HOME=str(cache))
    assert not [a for a in args if "SharedArchiveFile" in a]
    assert [f for f in os.listdir(cache / "spark_graft") if f.endswith(".failed")]
