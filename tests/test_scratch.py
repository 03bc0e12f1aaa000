"""One scratch root: every file a query writes for itself goes under
``session.scratch_path``'s per-process directory, and nothing of it
outlives the process."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_REPO, "pipeline_query_engine_demo_spark")

#: Builders that write scratch: a sink round-trip, a foreachBatch sink
#: and its checkpoint, the shared stream source dir, two partitioned
#: replicas plus a per-invocation rewrite dir, and a bucketed table.
_WRITERS = [
    "write_rebalanced_parquet",
    "streaming_foreach_batch_sink",
    "streaming_tumbling_window_counts",
    "delete_cow_file_rewrite",
    "numpy_cosine_topk_prebucketed",
]


def _scratch_roots(tmp_dir) -> list[str]:
    return sorted(e for e in os.listdir(tmp_dir) if e.startswith("spark_graft_"))


def test_one_scratch_root_per_process_removed_at_exit(tmp_path, sf_dir):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from pipeline_query_engine_demo_spark import plans
        from pipeline_query_engine_demo_spark.session import get_spark
        spark = get_spark("scratch-test")
        for name in {_WRITERS!r}:
            plans.queries()[name](spark, {sf_dir!r}).write.format(
                "noop"
            ).mode("overwrite").save()
        print("BUILT", flush=True)
        sys.stdin.readline()
        """
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2"}
    child = subprocess.Popen(
        [sys.executable, "-c", script],
        env=env,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        line = child.stdout.readline()
        if line.strip() != "BUILT":
            child.kill()
            raise AssertionError(child.communicate(timeout=60)[1][-3000:])
        assert _scratch_roots(tmp_path) == [f"spark_graft_{child.pid}"]
        _, err = child.communicate("\n", timeout=300)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait(timeout=60)
    assert child.returncode == 0, err[-3000:]
    assert _scratch_roots(tmp_path) == []


def test_class_archive_build_leaves_no_scratch(tmp_path):
    """A session that first builds its class-data archive (in a child
    process with a JVM of its own) leaves the archive and nothing else:
    no scratch root of either process and no half-written archive."""
    tmp, cache = tmp_path / "tmp", tmp_path / "cache"
    tmp.mkdir()
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from pipeline_query_engine_demo_spark.session import get_spark
        get_spark("scratch-test").range(10).count()
        """
    )
    env = {**os.environ, "TMPDIR": str(tmp), "XDG_CACHE_HOME": str(cache),
           "SPARK_GRAFT_CPUS": "2"}
    child = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                           text=True, timeout=900)
    assert child.returncode == 0, child.stderr[-3000:]
    archives = sorted(os.listdir(cache / "spark_graft"))
    try:
        assert [f for f in archives if f.endswith(".jsa")], archives
        assert [f for f in archives if ".tmp" in f or f.endswith(".failed")] == []
        assert _scratch_roots(tmp) == []
    finally:
        shutil.rmtree(cache, ignore_errors=True)  # about 180 MB


def test_only_session_names_the_scratch_root():
    offenders = []
    for dirpath, _, files in os.walk(_PACKAGE):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(_PACKAGE, "session.py"):
                continue
            with open(path) as fh:
                text = fh.read()
            offenders += [
                f"{os.path.relpath(path, _REPO)}: {word}"
                for word in ("tempfile", "spark_graft_")
                if word in text
            ]
    assert offenders == []


def test_tools_keep_no_fixed_tmp_root_or_second_metrics_reader():
    """Scripts under tools/ write under the scratch root (never a fixed
    "/tmp" path that ignores TMPDIR and outlives the run) and read stage
    metrics through the Tracer (never the Spark UI REST API)."""
    tools = os.path.join(_REPO, "tools")
    offenders = []
    for f in sorted(os.listdir(tools)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(tools, f)) as fh:
            text = fh.read()
        offenders += [
            f"tools/{f}: {word}"
            for word in ('"/tmp', "'/tmp", "urllib", "api/v1")
            if word in text
        ]
    assert offenders == []


def _is_main_guard(test: ast.expr) -> bool:
    return (
        isinstance(test, ast.Compare)
        and isinstance(test.left, ast.Name)
        and test.left.id == "__name__"
        and any(isinstance(c, ast.Constant) and c.value == "__main__" for c in test.comparators)
    )


def _import_time_argv_reads(node: ast.AST) -> list[int]:
    """Lines reading ``sys.argv`` outside a function body or the
    ``__main__`` block, i.e. while the module is being imported.
    Decorators and default values run at import, so they count."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        children = [*node.decorator_list, node.args]
    elif isinstance(node, ast.If) and _is_main_guard(node.test):
        children = node.orelse
    else:
        children = list(ast.iter_child_nodes(node))
    lines = [ln for c in children for ln in _import_time_argv_reads(c)]
    if (
        isinstance(node, ast.Attribute)
        and node.attr == "argv"
        and isinstance(node.value, ast.Name)
        and node.value.id == "sys"
    ):
        lines.append(node.lineno)
    return lines


def test_tools_read_argv_only_when_run():
    """Importing a tool parses no arguments: perfbench's child imports
    check_correctness.fingerprint under its own CONFIG/RESULT argv."""
    tools = os.path.join(_REPO, "tools")
    offenders = []
    for f in sorted(os.listdir(tools)):
        if f.endswith(".py"):
            with open(os.path.join(tools, f)) as fh:
                tree = ast.parse(fh.read())
            offenders += [f"tools/{f}:{ln}" for ln in _import_time_argv_reads(tree)]
    assert offenders == []
