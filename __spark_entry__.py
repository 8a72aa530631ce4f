"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``portofolio_maximizer_spark``; this module only
adapts it to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from portofolio_maximizer_spark.plans import ORACLE, QUERIES  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"](spark, SF0001)


def _interleave(qs: dict[str, Callable]) -> dict[str, Callable]:
    """Round-robin query names across their defining pack modules.

    The driver's correctness gate checks a prefix of the registration
    order; pack-sequential order would leave whole packs unchecked.
    Interleaving puts entries from every pack (oracle-backed first within
    each pack) inside any prefix window.
    """
    packs: dict[str, list[str]] = {}
    for name, fn in qs.items():
        packs.setdefault(fn.__module__, []).append(name)
    queues = [
        sorted(names, key=lambda n: (n not in ORACLE,))  # stable: oracle-backed first
        for _, names in sorted(packs.items())
    ]
    order: list[str] = []
    while queues:
        for q in queues:
            order.append(q.pop(0))
        queues = [q for q in queues if q]
    return {n: qs[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Reading a source table (``sources.catalog.load_table``) turns
    simplified Python UDF tracebacks off on the caller's session, so RDD
    Python tasks and the Arrow grouped fits share one worker pool instead
    of two. The trade-off: a failing UDF still raises ``PythonException``
    with its original exception class and message, but its traceback
    also lists PySpark's own worker frames."""
    return _interleave(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted → rows-only check).

    Staged-verification oracles reference the per-sf staging area via a
    template token. The driver runs this contract at sf=0.01 — the
    documented default — but the render root is overridable via
    ``SPARK_GRAFT_ORACLE_SF_DIR`` so a driver run at another scale
    factor or data root renders matching staging paths instead of
    silently diffing against sf0.01 artifacts. Tools that run at other
    SFs (tests at sf0.001, diffcheck at any) render the templates
    themselves via ``plans.queries.render_oracle``."""
    from portofolio_maximizer_spark.plans.queries import render_oracle

    sf_dir = os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    return {k: render_oracle(v, sf_dir) for k, v in ORACLE.items()}
