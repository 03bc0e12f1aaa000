"""Python workers load the installed pyspark, not $SPARK_HOME's zip
(``pipeline_query_engine_demo_spark.pyworker``)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pandas as pd  # module scope: pandas_udf resolves the string hints here
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def worker_state(spark):
    """``(pyspark.__file__, sys.path, zipimporter paths)`` as seen by a
    pandas UDF inside a Python worker."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        return pd.Series([json.dumps([pyspark.__file__, sys.path, zips])] * len(x))

    import json

    return json.loads(spark.range(1).select(probe("id")).first()[0])


def test_worker_imports_pyspark_outside_any_zip(worker_state):
    pyspark_file = worker_state[0]
    assert ".zip" not in pyspark_file, pyspark_file


def test_worker_path_has_no_jar(worker_state):
    assert [p for p in worker_state[1] if p.endswith(".jar")] == []


def test_worker_keeps_at_most_two_zipimporters(worker_state):
    # Every task's importlib.invalidate_caches() re-reads each one's
    # central directory; Spark's own path leaves 16 of them.
    assert len(worker_state[2]) <= 2, worker_state[2]


def _fake_layout(tmp_path, zip_version: str, tree_version: str) -> list[str]:
    spark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(spark_zip, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    py4j_zip = tmp_path / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{tree_version}"\n')
    jar = str(tmp_path / "spark-core.jar")
    return [str(tmp_path), str(spark_zip), str(py4j_zip), jar, str(tmp_path / "lib"), str(site)]


def test_version_mismatch_leaves_path_untouched(tmp_path):
    from pipeline_query_engine_demo_spark.pyworker import worker_path

    path = _fake_layout(tmp_path, "4.1.2", "4.0.0")
    assert worker_path(path) == path


def test_matching_version_moves_zips_behind_installed_tree(tmp_path):
    from pipeline_query_engine_demo_spark.pyworker import worker_path

    here, spark_zip, py4j_zip, _jar, lib, site = _fake_layout(tmp_path, "4.1.2", "4.1.2")
    assert worker_path([here, spark_zip, py4j_zip, _jar, lib, site]) == [
        here, lib, site, spark_zip, py4j_zip]


def test_package_import_loads_no_pyspark():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; import pipeline_query_engine_demo_spark; "
         "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"],
        cwd=_REPO, capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
