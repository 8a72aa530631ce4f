"""Python worker daemon with a lean import path and the Arrow stack loaded.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Spark starts it once per worker pool (``python -m`` this module, with the
worker module as its argument). It trims ``sys.path``, imports
``pyarrow`` and ``pandas``, and then runs PySpark's own daemon loop, so
every worker forks with both modules loaded and with the trimmed path.

Spark's ``PythonWorkerFactory`` puts ``pyspark.zip``, the py4j source zip
and ``spark-core``'s jar at the head of every worker's ``PYTHONPATH``.
They cost each Python task time, measured at sf0.001 on a 4-vCPU box:

- every task's ``worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``, which makes each cached
  ``zipimporter`` (one per archive and one per package imported from
  it, ~16 in a worker) re-read its archive's index: 1,328 entries in
  ``pyspark.zip``, 5,359 in the jar. That took 105-121 ms per task; with
  the archives off the path it takes 0.2-1.3 ms;
- ``pyspark.zip`` holds no bytecode, so each daemon compiled
  ``pyspark.daemon`` and ``pyspark.worker`` from source: 0.62 s per
  daemon start, against 0.06 s from an installed release's cached
  bytecode.

``lean_path`` drops an archive only where it adds nothing: ``pyspark.zip``
when the installed pyspark is the release its ``pyspark/version.py``
names, ``py4j-<v>-src.zip`` when the installed py4j is ``<v>``, and a jar
with no Python in it. Any other entry, an archive that cannot be read,
or an archive with no matching release installed (a bare Spark
distribution) stays, and kept entries keep their order.

Importing pandas first saves each worker the import on its first Arrow
task: pyarrow's pandas shim imports pandas the first time ``pa.array``,
``pa.table`` or ``ChunkedArray.to_numpy`` runs in a process (0.33-0.49 s
per fresh worker on a 4-vCPU box), and ``operators.arrowgroup`` calls all
three. PySpark's own Arrow serializers do not import pandas. Spark hands
out idle workers first in, first out, so every group of a cold grouped
fit lands on a fresh worker and pays it.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\b[^=]*=\s*["']([^"']+)["']""")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")


def _installed(dist: str) -> str | None:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return None


def _redundant(path: str) -> bool:
    """True if ``path`` is an archive whose modules an installed release
    already provides, or that holds no Python at all."""
    name = os.path.basename(path)
    try:
        if name == "pyspark.zip":
            with zipfile.ZipFile(path) as z:
                found = _VERSION.search(z.read("pyspark/version.py").decode())
            return found is not None and found.group(1) == _installed("pyspark")
        py4j = _PY4J_ZIP.fullmatch(name)
        if py4j:
            return py4j.group(1) == _installed("py4j")
        if name.endswith(".jar"):
            with zipfile.ZipFile(path) as z:
                return not any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        pass
    return False


def lean_path(paths: list[str]) -> list[str]:
    """``paths`` without the archives that add nothing (module docstring)."""
    return [p for p in paths if not _redundant(p)]


if __name__ == "__main__":
    sys.path[:] = lean_path(sys.path)
    # drop the dropped archives' cached importers too; the finders of the
    # kept entries are rebuilt on the next import
    sys.path_importer_cache.clear()

    import pandas  # noqa: F401
    import pyarrow
    from pyspark.daemon import manager

    # the shim's first use still costs ~10 ms after the import; pay it here
    pyarrow.array([0])
    manager()
