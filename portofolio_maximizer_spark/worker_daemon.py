"""Python worker daemon with the Arrow stack already imported.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Spark starts it once per worker pool (``python -m`` this module, with the
worker module as its argument); it imports ``pyarrow`` and ``pandas`` and
then runs PySpark's own daemon loop, so every worker forks with both
modules loaded.

Without it, each worker pays the import on its first Arrow task:
pyarrow's pandas shim imports pandas the first time ``pa.array``,
``pa.table`` or ``ChunkedArray.to_numpy`` runs in a process (0.33-0.49 s
per fresh worker on a 4-vCPU box), and ``operators.arrowgroup`` calls all
three. PySpark's own Arrow serializers do not import pandas. Spark hands
out idle workers first in, first out, so every group of a cold grouped
fit lands on a fresh worker and pays it.
"""

import pandas  # noqa: F401
import pyarrow
from pyspark.daemon import manager

if __name__ == "__main__":
    # the shim's first use still costs ~10 ms after the import; pay it here
    pyarrow.array([0])
    manager()
