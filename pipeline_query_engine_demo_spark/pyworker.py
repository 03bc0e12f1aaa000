"""Python-worker daemon that loads pyspark from the installed tree.

Spark starts each executor's Python daemon as ``python -m <module>`` with
``$SPARK_HOME/python/lib/pyspark.zip``, py4j's source zip and the
spark-core jar first on ``PYTHONPATH``. That costs twice:

- the zip holds pyspark's sources and no bytecode, so every daemon
  compiles pyspark anew (``import pyspark.worker``: 0.8-1.0 s from the
  zip, 0.2 s from an installed tree with its ``__pycache__``);
- every task calls ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``), which makes each of the 16
  cached zipimporters re-read its archive's central directory: pyspark.zip
  with its subpackage paths, py4j's zip, and the spark-core jar, 5,359
  entries and no Python at all (0.13 s per call).

Times measured on a 4-core x86 VM, Python 3.11, Spark 4.1.2.

``get_spark`` names this module as ``spark.python.daemon.module``. Before
anything imports pyspark it drops the ``.jar`` entries from ``sys.path``,
moves the pyspark and py4j zips behind an installed pyspark of the same
``__version__``, and evicts the cached importers of the paths it moved or
dropped; then it runs ``pyspark.daemon`` unchanged. When the versions
differ, or no installed pyspark exists, ``sys.path`` stays as Spark made
it. The package ``__init__`` imports no pyspark, since ``python -m``
imports the package before this module runs.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import traceback
import zipfile

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _pyspark_version(entry: str) -> str | None:
    """``pyspark.__version__`` as written in the pyspark package under the
    ``sys.path`` entry ``entry``, a zip archive or a directory."""
    if entry.endswith(".zip"):
        with zipfile.ZipFile(entry) as z:
            text = z.read("pyspark/version.py").decode()
    else:
        with open(os.path.join(entry, "pyspark", "version.py")) as f:
            text = f.read()
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _spark_zip(entry: str) -> bool:
    return entry.endswith(".zip") and os.path.basename(entry).startswith(("pyspark", "py4j"))


def worker_path(path: list[str]) -> list[str]:
    """``path`` without ``.jar`` entries and with the pyspark and py4j zips
    moved behind the first entry that holds an installed pyspark of the
    zip's version; ``path`` itself (as a copy) when there is no such entry."""
    zips = [p for p in path if _spark_zip(p)]
    spark_zip = next((p for p in zips if os.path.basename(p) == "pyspark.zip"), None)
    rest = [p for p in path if p not in zips and not p.endswith(".jar")]
    installed = next((p for p in rest if p and os.path.isfile(
        os.path.join(p, "pyspark", "version.py"))), None)
    if spark_zip is None or installed is None:
        return list(path)
    version = _pyspark_version(spark_zip)
    if version is None or version != _pyspark_version(installed):
        return list(path)
    at = rest.index(installed) + 1
    return rest[:at] + zips + rest[at:]


def _evict_importers(cache: dict, paths: set[str]) -> None:
    """Drop ``cache``'s importers for ``paths`` and for paths inside them
    (a zipimporter caches one entry per package directory it served)."""
    for key in list(cache):
        if any(key == p or key.startswith(p + os.sep) for p in paths):
            del cache[key]


def main() -> None:
    try:
        new = worker_path(sys.path)
        if new != sys.path:
            moved = {p for p in sys.path if p.endswith(".jar") or _spark_zip(p)}
            _evict_importers(sys.path_importer_cache, moved)
            sys.path[:] = new
    except Exception:  # noqa: BLE001 - the daemon must start; Spark's path still works
        traceback.print_exc()  # stdout carries the daemon's port: stderr only
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
