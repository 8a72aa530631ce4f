"""Named query pack — the correctness surface of the engine.

Each entry pairs a Spark DataFrame plan (built from the operator layer) with
the ANSI-SQL oracle DuckDB runs on the same parquet tables. Conventions that
make the differential hash stable:

- every computed column is aliased identically on both sides;
- every floating aggregate is rounded to 6 decimals ON BOTH SIDES, so
  order-of-summation noise (Spark partial aggs vs DuckDB single-thread)
  cannot flip the hash;
- skew/kurtosis are computed from raw moments (Spark's builtins are
  population statistics, DuckDB's are sample-adjusted — neither matches the
  other, the closed form matches both);
- timestamps are emitted as epoch millis or ISO strings, never raw
  timestamp columns;
- window orderings always include a unique tiebreaker column.

The operators each query exercises are tagged ``[§2 ids]`` from SURVEY.md.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import stats
from ..operators import joins as OJ
from ..operators import memo
from ..operators import windows as OW
from ..sources.catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def r6(col):
    """Round a double column to 6 decimals (hash-stability convention)."""
    return F.round(col, 6)


# Queries whose INPUT is engine-generated (Python DataSource, streaming
# sink output, simulation) can still get a value-level oracle: the Spark
# side STAGES its input table here at query-build time and the oracle SQL
# re-derives the OUTPUT from the staged rows independently — the
# aggregation/dedup logic is what gets differentially checked. The driver
# always executes the Spark query before its oracle, so the stage exists.
#
# The staging area is keyed by scale factor (basename of sf_dir) so
# concurrent runs at different SFs (pytest at sf0.001 + diffcheck at
# sf0.01) cannot overwrite each other's artifacts between a query's
# Spark run and its DuckDB oracle read. Oracle SQL templates reference
# the stage via the ``__ORACLE_STAGE__`` token; ``render_oracle``
# substitutes the per-sf root at call time (the driver contract's static
# ``oracle_sql()`` renders for its fixed sf0.01 run).
#
# Writes are CACHED: a ``_stage_marker.json`` fingerprint (package source
# hash + input parquet stats) inside each artifact dir lets repeat
# invocations skip both the parquet write and — via ``stage_cached`` —
# the upstream model fit entirely, reading the staged artifact back
# instead. Production semantics: fit once, replay many; verification
# artifacts are written once per (code version, dataset), not per query
# invocation. An ``fcntl`` lock serialises concurrent same-SF writers.
# The stage root sits in ``spark-warehouse/`` beside the package.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_STAGE = os.path.join(os.path.dirname(_PKG_ROOT), "spark-warehouse", "oracle_stage")
STAGE_TOKEN = "__ORACLE_STAGE__"
_MARKER = "_stage_marker.json"
_PKG_HASH: str | None = None


def _pkg_hash() -> str:
    """Content hash of every package source file — any code edit
    invalidates all staged artifacts (coarse, but never stale)."""
    global _PKG_HASH
    if _PKG_HASH is None:
        import hashlib

        h = hashlib.sha256()
        for dirpath, _dirs, files in sorted(os.walk(_PKG_ROOT)):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(p.encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
        _PKG_HASH = h.hexdigest()[:16]
    return _PKG_HASH


def _fingerprint(sf_dir: str) -> dict:
    data = [list(f) for f in memo.data_fingerprint(sf_dir)]
    return {"pkg": _pkg_hash(), "sf_dir": sf_dir, "data": data}


def stage_root(sf_dir: str) -> str:
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(ORACLE_STAGE, key)


def render_oracle(sql: str, sf_dir: str) -> str:
    """Substitute the per-sf staging root into an oracle SQL template."""
    return sql.replace(STAGE_TOKEN, stage_root(sf_dir))


def _read_marker(path: str) -> dict | None:
    import json
    import os

    try:
        with open(os.path.join(path, _MARKER)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _stage_fresh(path: str, fp: dict) -> bool:
    """True when the artifact's marker carries this fingerprint (the
    marker's other fields, such as the written schema, are not compared)."""
    marker = _read_marker(path)
    return isinstance(marker, dict) and all(marker.get(k) == v for k, v in fp.items())


class _stage_lock:
    """Exclusive advisory lock serialising same-artifact writers."""

    def __init__(self, path: str):
        self._lockfile = path + ".lock"

    def __enter__(self):
        import fcntl
        import os

        os.makedirs(os.path.dirname(self._lockfile), exist_ok=True)
        self._fh = open(self._lockfile, "w")
        fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fh, fcntl.LOCK_UN)
        self._fh.close()


#: telemetry: FIRST stage-cache outcome per artifact in this process
#: ("hit" = a fresh marker skipped the build, "miss" = the fit ran).
#: bench.py copies this into BENCH_FULL.json so cold-vs-warm staging is
#: machine-readable instead of a prose caveat — a bench wall with
#: misses includes fit time; one with all hits is the warm profile.
STAGE_EVENTS: dict[str, str] = {}

#: telemetry: wall seconds of each COLD stage build (fit + parquet
#: write) in this process, keyed like STAGE_EVENTS. bench.py copies
#: this into BENCH_FULL.json so the cold bench attributes its staging
#: cost per artifact instead of per first-touching query (optimization
#: round 12, guide §1 "measure first").
STAGE_TIMES: dict[str, float] = {}


def _ensure_staged(
    df_or_build, name: str, sf_dir: str, partition_by: str | None = None
) -> str:
    """Write the artifact unless a fresh fingerprint marker says a prior
    run (this or any other process, same code + data) already did.
    ``partition_by`` gives the artifact a partitioned directory layout
    (one staging protocol — fingerprint, lock, double-check, marker,
    telemetry — for flat and partitioned writes alike)."""
    import json
    import os

    path = os.path.join(stage_root(sf_dir), name)
    # full path, not basename: two data roots with the same leaf name
    # (testdata sf0.1 vs a scalecheck replica's sf0.1) must not merge
    # their hit/miss records
    ev_key = sf_dir.rstrip("/") + "/" + name
    fp = _fingerprint(sf_dir)
    if _stage_fresh(path, fp):
        STAGE_EVENTS.setdefault(ev_key, "hit")
        return path
    with _stage_lock(path):
        if not _stage_fresh(path, fp):  # re-check under the lock
            STAGE_EVENTS.setdefault(ev_key, "miss")
            import time as _time

            _t0 = _time.time()
            df = df_or_build() if callable(df_or_build) else df_or_build
            writer = df.write.mode("overwrite")
            if partition_by is not None:
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            STAGE_TIMES[ev_key] = round(_time.time() - _t0, 3)
            # the written schema lets ``stage_cached`` read the artifact
            # back without a schema-inference job
            with open(os.path.join(path, _MARKER), "w") as f:
                json.dump({**fp, "schema": df.schema.json()}, f)
        else:
            STAGE_EVENTS.setdefault(ev_key, "hit")
    return path


def stage_for_oracle(df: DataFrame, name: str, sf_dir: str) -> str:
    """Write ``df`` to the per-sf oracle staging area (skipped when a
    fresh marker exists); returns the parquet glob DuckDB can read."""
    import os

    return os.path.join(_ensure_staged(df, name, sf_dir), "*.parquet")


def literal_grid(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small literal parameter grid as a PLAN-VISIBLE literal.

    ``createDataFrame`` routes Python lists through Arrow and plans as a
    ``LogicalRDD`` — indistinguishable, to a plan audit, from
    checkpoint-truncated big data. Building the same rows by exploding
    an array-of-structs literal keeps the grid's boundedness visible in
    the plan (a Generate over a literal array on a 1-row Range), so
    ``tools/planaudit.py`` can PROVE the broadcast side of a
    scalar-attach crossJoin is bounded instead of soft-flagging it for
    reviewer adjudication. Row/value semantics identical to
    ``spark.createDataFrame(rows, schema)`` for literal rows; use only
    for config-sized grids (the array literal lives in the plan)."""
    # parse via the real DDL parser: a naive split-on-comma mis-parses
    # parameterized types with commas (decimal(18,6), map<k,v>)
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    names = [f.name for f in struct.fields]
    types = [f.dataType for f in struct.fields]
    for row in rows:
        if len(row) != len(names):
            raise ValueError(
                f"literal_grid: row arity {len(row)} != schema arity "
                f"{len(names)} ({schema!r})"
            )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(t).alias(n)
                for v, n, t in zip(row, names, types)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_g"))
        .select("_g.*")
    )


#: first-build wall seconds per "helper|sf" — measurement only, so the
#: within-run overlap of shared-frame builds stays attributable
FRAME_BUILDS: dict[str, float] = {}


def session_frame_cache(fn):
    """Memoize a shared per-pack helper frame for the lifetime of the
    Spark session (``operators.memo.session_frame_cache``: keyed on
    session, helper, sf_dir and data fingerprint) and record its first
    build's wall in ``FRAME_BUILDS``.

    Several query packs build the SAME intermediate frame in a private
    helper (e.g. the attribution record frame ``_ola_recf``); the first
    caller builds (and, where the helper does so, eagerly checkpoints)
    it and later callers in the same session reuse it. A new session
    rebuilds from the parquet inputs, so every bench/diffcheck
    invocation still computes from raw data — this memo only removes
    within-run duplication. Helpers must be pure functions of (code,
    data); results are identical by construction."""
    import functools

    @functools.wraps(fn)
    def timed(spark: SparkSession, sf_dir: str):
        t0 = time.time()
        built = fn(spark, sf_dir)
        # the honest attribution of where a shared frame's one-time build
        # cost was paid (bench.py publishes this as frame_builds)
        FRAME_BUILDS.setdefault(
            f"{fn.__qualname__}|{os.path.basename(sf_dir.rstrip('/'))}",
            round(time.time() - t0, 3),
        )
        return built

    return memo.session_frame_cache(timed)


def shared_small_frame(fn):
    """``session_frame_cache`` + lazy ``localCheckpoint`` for registered
    queries that OTHER queries compose (optimization round 12, guide
    §2.4/§5 — the batch-4 helper-materialization pattern applied one
    level up, to the registry). Only for frames at a BOUNDED grain
    (ticker/model/rule/bin — orders of magnitude smaller than their
    inputs at any scale): the first consumer's action materializes the
    small frame once; every later consumer in the same session —
    including the query's own standalone bench entry — scans the
    materialized partitions instead of re-executing the pipeline.
    Results are identical (the checkpoint is a materialization barrier,
    not a computation change) and a new session still computes the
    frame from the parquet inputs.

    The BOUNDED-grain claim is enforced, not assumed (optimization round
    13, round-12 verdict #8): the one-time build counts the materialized
    checkpoint and fails fast past ``SHARED_FRAME_MAX_ROWS`` — the §5
    memory story (block-manager bytes bounded at any input scale) holds
    by construction or the process stops. The count() runs on the frame
    the first consumer was about to materialize anyway, so the guard
    only MOVES that job into the memoized build (where the bench's
    background pool already overlaps it), it does not add a pass."""
    import functools

    @functools.wraps(fn)
    def wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
        ckpt = fn(spark, sf_dir).localCheckpoint(eager=False)
        n = ckpt.count()
        if n > SHARED_FRAME_MAX_ROWS:
            raise RuntimeError(
                f"shared_small_frame({fn.__qualname__}): materialized "
                f"{n} rows > bound {SHARED_FRAME_MAX_ROWS} — this frame "
                "is not bounded-grain; memoize it with "
                "session_frame_cache (no materialization) instead"
            )
        return ckpt

    return session_frame_cache(wrap)


#: hard ceiling on rows a shared_small_frame may materialize: the wrapped
#: frames are config/ticker/model/bin grain (5–115 rows at sf0.1, growing
#: with catalog size, never with fact rows), so 100k is generous headroom
#: while still guaranteeing a KB–MB-scale block-manager footprint at any
#: data scale
SHARED_FRAME_MAX_ROWS = 100_000


def stage_cached(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Stage ``build()`` (skipping the build entirely on a fresh marker)
    and return the READ-BACK DataFrame — the parquet scan both feeds the
    oracle and replaces the eager localCheckpoint in the query plan, so
    an expensive model fit runs once per (code version, dataset) across
    processes instead of once per invocation. The read takes the schema
    recorded in the marker, so it launches no schema-inference job (Spark
    makes a given file schema nullable, as inference does).

    One owner per artifact: the key is only (name, package hash, data
    fingerprint), so two calls staging one name with their own builds
    would let whichever query runs first decide what every consumer
    reads. Each name is a string literal passed by exactly one call in
    the package, inside its pack's builder (e.g. ``_ivf_index``), and
    consumers call the builder; ``tests/test_stage_owners.py`` enforces
    it for every staging call (this, ``stage_for_oracle`` and direct
    ``_ensure_staged`` writes)."""
    import json

    from pyspark.sql.types import StructType

    path = _ensure_staged(build, name, sf_dir)
    schema = StructType.fromJson(json.loads(_read_marker(path)["schema"]))
    # the directory, not a glob: Spark skips the marker and ``_SUCCESS``,
    # and a glob path makes the sink-metadata probe log a missing-file WARN
    return spark.read.schema(schema).parquet(path)


# ---------------------------------------------------------------------------
# Aggregation pack
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    WITH d AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS DECIMAL(14,2))       AS qty,
             CAST(l_extendedprice AS DECIMAL(14,2))  AS price,
             CAST(l_discount AS DECIMAL(4,2))        AS disc,
             CAST(l_tax AS DECIMAL(4,2))             AS tax
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS DOUBLE)                               AS sum_qty,
           CAST(SUM(price) AS DOUBLE)                             AS sum_base_price,
           CAST(SUM(price * (1 - disc)) AS DOUBLE)                AS sum_disc_price,
           CAST(SUM(price * (1 - disc) * (1 + tax)) AS DOUBLE)    AS sum_charge,
           ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6)          AS avg_qty,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6)        AS avg_price,
           ROUND(CAST(SUM(disc) AS DOUBLE) / COUNT(*), 6)         AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM d
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary [A14, P-filters, §2.4].

    Mirrors the reference's per-period rollups (`etl/database_manager.py:
    1255-1281`) as a partial+final aggregation: map-side combine makes the
    shuffle carry one row per (flag, status) per task — invariant to input
    scale, so the plan is identical at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Money has 2 decimal places: DECIMAL sums are exact and order-
    # independent, so the result is bit-identical regardless of partial-agg
    # partitioning — a double sum at ~1e9 magnitude carries last-ulp noise
    # bigger than the 6-decimal grid at sf>=0.1.
    qty = F.col("l_quantity").cast("decimal(14,2)")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            r6(F.sum(qty).cast("double") / n).alias("avg_qty"),
            r6(F.sum(price).cast("double") / n).alias("avg_price"),
            r6(F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q3_top_revenue",
    oracle="""
    SELECT o.o_orderkey,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
             AS revenue,
           CAST(o.o_orderdate AS DATE)                           AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join + top-k [J1, O3, A-family].

    customer scales with sf, so it carries NO broadcast hint — at small sf
    Catalyst/AQE broadcast it from size stats for free; at 100 TB it is
    billions of rows and a forced hint would OOM the build side, so the
    optimizer must stay free to pick sort-merge. Top-10 is
    TakeOrderedAndProject (heap per partition + driver merge), never a
    global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Exact DECIMAL money sum (SURVEY §7.3 item 6): order-independent, so
    # the 6-decimal hash survives any join-order / partial-agg re-plan.
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r6(F.sum(rev).cast("double")).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
             AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-way star join [J1, broadcast dims, §2.3].

    Only the constant-cardinality dims (region: 5 rows, nation: 25) carry
    explicit broadcast hints. supplier scales with sf, so its join is left
    to Catalyst/AQE — broadcast at small sf from size stats, sort-merge at
    100 TB. The fact shuffle is lineitem⋈orders on orderkey plus the final
    tiny groupBy: facts shuffle once, constant dims never.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = s.join(
        F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    )
    # Exact DECIMAL money sum: the r3 join restructure flipped double
    # partial-summation order and broke the 6-decimal hash by one ulp —
    # decimal sums are order-independent, so plan changes can't re-roll
    # that dice (SURVEY §7.3 item 6).
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(r6(F.sum(rev).cast("double")).alias("revenue"))
    )


@query(
    "rollup_order_totals",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_price,
           COUNT(*)                         AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets [§2.4 closing note — absent in the reference,
    native in Spark]. Partial aggregation applies per grouping set.

    Money sums go through DECIMAL(18,2): prices carry 2 decimal places,
    so the decimal sum is EXACT and order-independent — at sf0.1 the
    grand total is ~2.5e9 and a double sum's last-ulp noise exceeds the
    6-decimal hash convention (SURVEY §7.3 item 6: prefer decimal for
    declared t2 checks)."""
    o = load_table(spark, sf_dir, "orders")
    dec_price = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            r6(F.sum(dec_price).cast("double")).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "total_price",
            "n_orders",
        )
    )


@query(
    "descriptive_stats_events",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(value)      AS n,
             AVG(value)        AS m1,
             AVG(value*value)  AS m2,
             AVG(value*value*value) AS m3,
             AVG(value*value*value*value) AS m4,
             STDDEV_SAMP(value) AS sd,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           n,
           ROUND(m1, 6) AS mean,
           ROUND(sd, 6) AS std,
           ROUND(mn, 6) AS min,
           ROUND(mx, 6) AS max,
           ROUND((m3 - 3*m1*m2 + 2*m1*m1*m1) / POW(m2 - m1*m1, 1.5), 6) AS skew_g1,
           ROUND((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*POW(m1, 4)) / POW(m2 - m1*m1, 2) - 3, 6) AS kurt_g2
    FROM m
    """,
)
def descriptive_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 descriptive stats from raw moments [A3, §2.4] — reference
    `etl/time_series_analyzer.py:279-337`."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(v).alias("n"),
        r6(F.avg(v)).alias("mean"),
        r6(F.stddev_samp(v)).alias("std"),
        r6(F.min(v)).alias("min"),
        r6(F.max(v)).alias("max"),
        r6(stats.skewness_g1(v)).alias("skew_g1"),
        r6(stats.kurtosis_g2(v)).alias("kurt_g2"),
    )


# ---------------------------------------------------------------------------
# Join pack
# ---------------------------------------------------------------------------


@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 anti join (NOT EXISTS) — reference contamination exclusion
    `etl/database_manager.py:1374-1379`. Filter on the right side first so
    the anti-join's build side shrinks before the shuffle (pushdown +
    broadcast at scale)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return OJ.anti_join(c, o, ["c_custkey"]).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 semi join (EXISTS) — `integrity/pnl_integrity_enforcer.py:458-467`."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return OJ.semi_join(c, o, ["c_custkey"]).select("c_custkey", "c_name")


@query(
    "order_fill_status",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderstatus,
           COALESCE(COUNT(l.l_orderkey), 0) AS n_lines,
           ROUND(COALESCE(SUM(l.l_quantity), 0), 6) AS total_qty
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def order_fill_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 left join close→open shape (`etl/database_manager.py:1404-1425`):
    every left row survives, aggregates null-default on the right."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.coalesce(F.count("l_orderkey"), F.lit(0)).alias("n_lines"),
            r6(F.coalesce(F.sum("l_quantity"), F.lit(0.0))).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Window pack — per-customer order history as the "per-ticker time series"
# ---------------------------------------------------------------------------


@query(
    "running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_spend,
           ROUND(MAX(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_max
    FROM orders
    """,
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 cumulative equity-curve shape: running sum + running max per key —
    reference `etl/database_manager.py:3240-3272`, `etl/portfolio_math.py:135-138`.
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        r6(F.sum("o_totalprice").over(w)).alias("cum_spend"),
        r6(F.max("o_totalprice").over(w)).alias("running_max"),
    )


@query(
    "order_lag_features",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey, 1) OVER w AS prev_orderkey,
           DATE_DIFF('day',
                     CAST(LAG(o_orderdate, 1) OVER w AS DATE),
                     CAST(o_orderdate AS DATE)) AS days_since_prev,
           ROUND(o_totalprice / LAG(o_totalprice, 1) OVER w - 1, 6) AS spend_change
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def order_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 lag features + pct-change — reference
    `etl/time_series_feature_builder.py:106-119`."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate", 1).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        F.datediff(F.col("o_orderdate").cast("date"), prev_date.cast("date")).alias(
            "days_since_prev"
        ),
        r6(F.col("o_totalprice") / F.lag("o_totalprice", 1).over(w) - 1).alias(
            "spend_change"
        ),
    )


@query(
    "rolling_order_stats",
    oracle="""
    WITH s AS (
      SELECT o_custkey, o_orderkey,
             COUNT(*) OVER w5 AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
               AS s1,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) OVER w5 AS DOUBLE)
               AS s2
      FROM orders
      WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey, o_orderkey,
           ROUND(s1 / n, 6) AS price_mean_5,
           ROUND(CASE WHEN n > 1
                      THEN SQRT(GREATEST((s2 - s1 * s1 / n) / (n - 1), 0))
                      ELSE 0 END, 6) AS price_std_5
    FROM s
    """,
)
def rolling_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 rolling mean/std (min_periods=1 semantics) — reference
    `etl/time_series_feature_builder.py:111-115`.

    Mean/std are derived from EXACT decimal window sums (prices have 2
    decimal places; squares have 4): Spark's and DuckDB's incremental
    stddev kernels disagree in the last ulp, which flips the 6-decimal
    rounding at sf0.1 row counts — identical exact sums pushed through an
    identical float formula cannot."""
    o = load_table(spark, sf_dir, "orders")
    w5 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w5).alias("n"),
        F.sum(dec).over(w5).cast("double").alias("s1"),
        F.sum(dec * dec).over(w5).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return s.select(
        "o_custkey",
        "o_orderkey",
        r6(s1 / n).alias("price_mean_5"),
        r6(
            F.when(
                n > 1,
                F.sqrt(F.greatest((s2 - s1 * s1 / n) / (n - 1), F.lit(0.0))),
            ).otherwise(0.0)
        ).alias("price_std_5"),
    )


@query(
    "xsec_month_rank",
    oracle="""
    SELECT o_orderkey,
           STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m')
             ORDER BY o_totalprice), 6) AS price_pct_rank,
           NTILE(3) OVER (
             PARTITION BY STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m')
             ORDER BY o_totalprice, o_orderkey) AS price_tercile
    FROM orders
    """,
)
def xsec_month_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 cross-sectional percent-rank + W8 tercile bucketing — reference
    `etl/time_series_feature_builder.py:137-166`. ntile ordering includes the
    unique orderkey so bucket assignment is total-ordered on both engines."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.col("o_orderdate"), "yyyy-MM")
    return o.select(
        "o_orderkey",
        month.alias("month"),
        r6(
            F.percent_rank().over(Window.partitionBy(month).orderBy("o_totalprice"))
        ).alias("price_pct_rank"),
        F.ntile(3)
        .over(Window.partitionBy(month).orderBy("o_totalprice", "o_orderkey"))
        .alias("price_tercile"),
    )


@query(
    "top_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 6) AS totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O4 top-1 per group via row_number — reference best-config lookup
    `etl/database_manager.py:3379-3401`."""
    from ..operators.topk import top_per_group

    o = load_table(spark, sf_dir, "orders")
    return top_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")]
    ).select("o_custkey", "o_orderkey", r6(F.col("o_totalprice")).alias("totalprice"))


# ---------------------------------------------------------------------------
# Events pack — sessionization + tumbling windows (batch form of §2.9)
# ---------------------------------------------------------------------------


@query(
    "event_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9-style gap sessionization (30-min gap) — batch twin of the
    Structured Streaming ``session_window`` surface [§2.9]."""
    ev = load_table(spark, sf_dir, "events")
    sess = OW.sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT EPOCH_MS(DATE_TRUNC('hour', ts)) AS hour_ms,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-window tumbling 1h aggregation (batch form) — streaming twin lives
    in streaming/events_stream.py. Hour emitted as epoch millis so the hash
    never depends on timestamp rendering."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), r6(F.sum("value")).alias("total_value"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type = 'ECONOMY'
      AND l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery: lines whose quantity
    is under half their part's average — SURVEY §4 claims Catalyst's
    subquery decorrelation for free; this query PROVES it (the correlated
    subquery becomes an aggregate + join, no per-row re-scan).

    Expressed through ``spark.sql`` so the decorrelation actually runs on
    the SQL path; revenue in exact decimals per the hash convention."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p.p_brand,
               COUNT(*) AS n_lines,
               ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / 7.0, 6) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'ECONOMY'
          AND l.l_quantity < (
            SELECT 0.5 * AVG(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        """
    )


@query(
    "q14_promo_revenue",
    oracle="""
    WITH d AS (
      SELECT p_type,
             CAST(l_extendedprice AS DECIMAL(14,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
    )
    SELECT ROUND((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                          AS DOUBLE))
                 / CAST(SUM(rev) AS DOUBLE), 6) AS promo_revenue_pct,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
             AS promo_revenue,
           COUNT(*) AS n_lines
    FROM d
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share [J1 broadcast dim, A14, §2.3].

    The month filter prunes the fact scan (pushed to parquet row groups);
    ``part`` scales with sf so the join is unhinted — AQE broadcasts it at
    small sf and falls back to shuffle join at 100 TB; the final aggregate
    is a single scalar. Exact DECIMAL revenue per the hash convention."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    d = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "p_type", rev.alias("rev")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0))
    return d.agg(
        F.round(
            (F.lit(100.0) * promo.cast("double")) / F.sum("rev").cast("double"), 6
        ).alias("promo_revenue_pct"),
        promo.cast("double").alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue [J1, §2.3].

    The OR-of-ANDs mixes fact-side (quantity) and dim-side (brand, size)
    predicates: the ``part`` join is unhinted (part scales with sf — AQE
    broadcasts it at small sf, shuffle-joins at 100 TB) and Catalyst
    evaluates the disjunction post-join, while the common fact-side
    residual and column pruning reach the scan. The classic stress test
    that hand-built plans get wrong."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(pt, pt.p_partkey == li.l_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((br == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((br == "Brand#15") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return j.filter(cond).agg(
        F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "followup_orders_in_window",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS anchor_key, o_custkey,
             o_orderdate AS w_start,
             o_orderdate + INTERVAL 7 DAY AS w_end
      FROM orders WHERE o_totalprice > 450000
    ),
    m AS (
      SELECT a.anchor_key, COUNT(*) AS n,
             CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_dbl
      FROM a JOIN orders o2
        ON o2.o_custkey = a.o_custkey
       AND o2.o_orderdate >= a.w_start AND o2.o_orderdate <= a.w_end
       AND o2.o_orderkey != a.anchor_key
      GROUP BY a.anchor_key
    )
    SELECT a.anchor_key,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_followups,
           ROUND(COALESCE(m.s_dbl, 0.0), 6) AS followup_value
    FROM a LEFT JOIN m ON m.anchor_key = a.anchor_key
    """,
)
def followup_orders_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders that follow a high-value anchor order by the
    same customer within 7 days [J1/J4 range variant, §2.3].

    Implemented with ``operators/rangejoin.bucketed_interval_join`` —
    the interval side explodes into ≤2 week-buckets and the match is a
    (custkey, bucket) EQUI-join + residual range filter, never the
    ``BroadcastNestedLoopJoin`` a bare BETWEEN join plans to (pinned by
    tests/test_plans.py). The oracle states the same join as the naive
    BETWEEN — semantics identical, physical strategy the scale-safe one.
    """
    from ..operators.rangejoin import bucketed_interval_join

    orders = load_table(spark, sf_dir, "orders")
    anchors = orders.filter(F.col("o_totalprice") > 450000).select(
        F.col("o_orderkey").alias("anchor_key"),
        "o_custkey",
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("w_end"),
    )
    points = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("p_key"),
        F.col("o_orderdate").alias("p_ts"),
        F.col("o_totalprice").alias("p_price"),
    )
    matched = bucketed_interval_join(
        points, anchors, "p_ts", "w_start", "w_end", 7 * 86400, keys=["o_custkey"]
    ).filter(F.col("p_key") != F.col("anchor_key"))
    m = matched.groupBy("anchor_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p_price").cast("decimal(18,2)")).cast("double").alias("s_dbl"),
    )
    return anchors.join(m, "anchor_key", "left").select(
        "anchor_key",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_followups"),
        r6(F.coalesce("s_dbl", F.lit(0.0))).alias("followup_value"),
    )


@query(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS over a correlated date condition [J3, §2.3].

    Catalyst decorrelates the EXISTS into a left-semi join on
    ``l_orderkey`` with the shipdate-vs-orderdate residual — the quarter
    filter prunes the orders scan first, so the semi join probes only one
    quarter of the fact table. Runs through ``spark.sql`` so the SQL
    decorrelation path itself is exercised."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        """
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    WITH pos AS (SELECT c_custkey, c_nationkey, c_acctbal
                 FROM customer WHERE c_acctbal > 0.0),
    t AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            AS thr FROM pos),
    rich AS (SELECT p.* FROM pos p, t WHERE p.c_acctbal > t.thr)
    SELECT c_nationkey, COUNT(*) AS n_custs,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_acctbal
    FROM rich r
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: above-average-balance customers with no RECENT
    orders (none since 2000-01-01), rolled up per nation [J2 anti join + scalar subquery, §2.3/2.7].

    Two decorrelations in one query: the scalar AVG subquery becomes a
    broadcast single-row join, the NOT EXISTS a left-anti join on
    ``o_custkey``. The threshold is an exact-decimal sum divided once —
    bit-identical across engines, per the hash convention."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH pos AS (SELECT c_custkey, c_nationkey, c_acctbal
                     FROM customer WHERE c_acctbal > 0.0),
        t AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*) AS thr FROM pos),
        rich AS (SELECT p.* FROM pos p, t WHERE p.c_acctbal > t.thr)
        SELECT c_nationkey, COUNT(*) AS n_custs,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
                 AS total_acctbal
        FROM rich r
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
        """
    )


@query(
    "event_funnel_conversion",
    oracle="""
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS t2
           FROM events e JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id),
    u AS (SELECT COUNT(DISTINCT user_id) AS n_total FROM events)
    SELECT 1 AS step, 'view' AS event_type, COUNT(*) AS n_users,
           ROUND(COUNT(*) * 1.0 / MIN(u.n_total), 6) AS frac_of_users,
           CAST(NULL AS DOUBLE) AS avg_hours_from_prev
    FROM s1, u
    UNION ALL
    SELECT 2, 'click', COUNT(*), ROUND(COUNT(*) * 1.0 / MIN(u.n_total), 6),
           ROUND(AVG((EPOCH_MS(t2) - EPOCH_MS(t1)) / 3600000.0), 6)
    FROM s2, u
    UNION ALL
    SELECT 3, 'purchase', COUNT(*), ROUND(COUNT(*) * 1.0 / MIN(u.n_total), 6),
           ROUND(AVG((EPOCH_MS(t3) - EPOCH_MS(t2)) / 3600000.0), 6)
    FROM s3, u
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase) with per-step
    conversion and mean step latency [A-family analytics; events surface].

    Each step's "first qualifying time" chains off the previous step
    (earliest click AT OR AFTER the first view, ...), computed as K tiny
    per-user aggregates joined on ``user_id`` — every join is an
    equi-join on the user key, so at 100 TB this is K co-partitioned
    passes, not a self-join blow-up.
    """
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )
    n_total = ev.select(F.countDistinct("user_id").alias("n")).collect()[0]["n"]

    def hours(a: str, b: str):
        # cast to LTZ first: unix_millis rejects TIMESTAMP_NTZ (Spark 4)
        am = F.unix_millis(F.col(a).cast("timestamp_ltz"))
        bm = F.unix_millis(F.col(b).cast("timestamp_ltz"))
        return (am - bm) / 3600000.0

    r1 = s1.agg(F.count(F.lit(1)).alias("n_users")).select(
        F.lit(1).alias("step"),
        F.lit("view").alias("event_type"),
        "n_users",
        r6(F.col("n_users") * 1.0 / n_total).alias("frac_of_users"),
        F.lit(None).cast("double").alias("avg_hours_from_prev"),
    )
    r2 = s2.agg(
        F.count(F.lit(1)).alias("n_users"),
        r6(F.avg(hours("t2", "t1"))).alias("avg_hours_from_prev"),
    ).select(
        F.lit(2).alias("step"),
        F.lit("click").alias("event_type"),
        "n_users",
        r6(F.col("n_users") * 1.0 / n_total).alias("frac_of_users"),
        "avg_hours_from_prev",
    )
    r3 = s3.agg(
        F.count(F.lit(1)).alias("n_users"),
        r6(F.avg(hours("t3", "t2"))).alias("avg_hours_from_prev"),
    ).select(
        F.lit(3).alias("step"),
        F.lit("purchase").alias("event_type"),
        "n_users",
        r6(F.col("n_users") * 1.0 / n_total).alias("frac_of_users"),
        "avg_hours_from_prev",
    )
    return r1.unionByName(r2).unionByName(r3)


@query(
    "weekly_cohort_retention",
    oracle="""
    WITH f AS (SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS act_week FROM events),
    j AS (SELECT f.cohort_week,
                 CAST(DATE_DIFF('day', f.cohort_week, a.act_week) / 7 AS INT)
                   AS week_offset,
                 a.user_id
          FROM f JOIN a ON a.user_id = f.user_id),
    c AS (SELECT cohort_week, COUNT(DISTINCT user_id) AS n0 FROM f
          GROUP BY cohort_week)
    SELECT EPOCH_MS(j.cohort_week) AS cohort_week_ms, j.week_offset,
           COUNT(DISTINCT j.user_id) AS n_active,
           ROUND(COUNT(DISTINCT j.user_id) * 1.0 / MIN(c.n0), 6) AS retention
    FROM j JOIN c ON c.cohort_week = j.cohort_week
    GROUP BY j.cohort_week, j.week_offset
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: users bucketed by first-activity
    week, retention = fraction of each cohort active N weeks later
    [A14/W14-family analytics; events surface].

    Shape: two user-keyed aggregates (first week, distinct active weeks)
    joined on ``user_id``, then a cohort-sized rollup — the distinct
    pre-aggregation means the big table is shuffled once on the user key
    and everything after is cohort×week sized (tiny at any scale).
    """
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    j = f.join(a, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    c = f.groupBy("cohort_week").agg(F.countDistinct("user_id").alias("n0"))
    return (
        j.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(c, "cohort_week")
        .select(
            F.unix_millis(F.col("cohort_week")).alias("cohort_week_ms"),
            "week_offset",
            "n_active",
            r6(F.col("n_active") * 1.0 / F.col("n0")).alias("retention"),
        )
    )


@query(
    "order_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping-bit disambiguation [A14 §2.4
    closing note — generalizes the cube/rollup pair]. One pass computes
    the per-priority, per-status, and grand-total rollups; the expand
    node triples rows BEFORE the partial aggregate, so the shuffle still
    carries only group keys."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "customer_spend_deciles",
    oracle="""
    WITH s AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    d AS (SELECT o_custkey, spend,
                 NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
          FROM s)
    SELECT decile,
           COUNT(*) AS n_customers,
           ROUND(CAST(MIN(spend) AS DOUBLE), 6) AS min_spend,
           ROUND(CAST(MAX(spend) AS DOUBLE), 6) AS max_spend,
           ROUND(CAST(SUM(spend) AS DOUBLE), 6) AS total_spend
    FROM d GROUP BY decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/W15 variant: customer lifetime-spend deciles via NTILE with a
    deterministic tiebreak, per-decile envelope stats. The global decile
    rank is a two-pass `scalable_row_number` (range-partitioned on
    (spend DESC, o_custkey), local ranks + broadcast boundary offsets);
    NTILE's bucket boundaries are then closed-form from the driver-known
    total — first ``total%10`` buckets hold ``total//10 + 1`` rows (the
    SQL-standard definition both engines share). No single-partition
    window; exact-decimal spends keep the cuts engine-identical."""
    from ..operators.windows import closed_form_ntile, scalable_row_number

    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked, total = scalable_row_number(
        s,
        [F.col("spend").desc(), F.col("o_custkey")],
        out_col="rk",
        with_total=True,
    )
    d = ranked.withColumn(
        "decile", closed_form_ntile(F.col("rk"), total, 10)
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        r6(F.min("spend").cast("double")).alias("min_spend"),
        r6(F.max("spend").cast("double")).alias("max_spend"),
        r6(F.sum("spend").cast("double")).alias("total_spend"),
    )


@query(
    "hourly_grid_interpolation",
    oracle="""
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
               WHERE user_id < 30),
    b AS (SELECT user_id, DATE_TRUNC('hour', MIN(ts)) AS t0,
                 DATE_TRUNC('hour', MAX(ts)) AS t1
          FROM e GROUP BY user_id),
    g AS (SELECT user_id, UNNEST(GENERATE_SERIES(t0, t1, INTERVAL 1 HOUR)) AS t
          FROM b),
    u AS (
      SELECT user_id, ts AS t, 0 AS kind, value AS v, ts AS ts_event FROM e
      UNION ALL
      SELECT user_id, t, 1 AS kind, NULL, NULL FROM g
    ),
    w AS (
      SELECT user_id, t, kind,
             LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
             LAST_VALUE(ts_event IGNORE NULLS) OVER wp AS pt,
             FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
             FIRST_VALUE(ts_event IGNORE NULLS) OVER wf AS nt
      FROM u
      WINDOW wp AS (PARTITION BY user_id ORDER BY t, kind
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY t, kind
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, EPOCH_MS(t) AS hour_ms,
           ROUND(CASE
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             WHEN EPOCH_MS(nt) = EPOCH_MS(pt) THEN pv
             ELSE pv + (nv - pv) * (EPOCH_MS(t) - EPOCH_MS(pt)) * 1.0
                       / (EPOCH_MS(nt) - EPOCH_MS(pt))
           END, 6) AS value_interp
    FROM w WHERE kind = 1
    """,
)
def hourly_grid_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample irregular event series onto a regular hourly grid with
    linear interpolation (ffill/bfill at the edges) [§2.8 null-handling
    family + W-windows; the reference's reindex/interpolate step in
    `etl/time_series_feature_builder.py` preprocessing].

    Union-then-window: grid points (null value) interleave with real
    events in ONE per-user ordered window pass — no per-gap join, no
    UDF; the grid explode is `sequence()` (UDTF-style). Scales as one
    shuffle on the series key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    e = ev.select("user_id", "ts", "value")
    b = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    g = b.select(
        "user_id",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("t"),
    )
    u = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("kind"),
        F.col("value").alias("v"),
        F.col("ts").alias("ts_event"),
    ).unionByName(
        g.select(
            "user_id",
            "t",
            F.lit(1).alias("kind"),
            F.lit(None).cast("double").alias("v"),
            F.lit(None).cast("timestamp").alias("ts_event"),
        )
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    w = u.select(
        "user_id",
        "t",
        "kind",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last("ts_event", ignorenulls=True).over(wp).alias("pt"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first("ts_event", ignorenulls=True).over(wf).alias("nt"),
    )
    tms = F.unix_millis(F.col("t"))
    ptms = F.unix_millis(F.col("pt"))
    ntms = F.unix_millis(F.col("nt"))
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .when(ntms == ptms, F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv")) * (tms - ptms) * F.lit(1.0) / (ntms - ptms)
        )
    )
    return w.filter(F.col("kind") == 1).select(
        "user_id",
        tms.alias("hour_ms"),
        r6(interp).alias("value_interp"),
    )


@query(
    "q10_returned_item_customers",
    oracle="""
    WITH r AS (
      SELECT o.o_custkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(r.rev AS DOUBLE), 6) AS revenue
    FROM r
    JOIN customer c ON c.c_custkey = r.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY r.rev DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top returned-item revenue customers in a quarter
    [J1 multi-join + O3 top-k, §2.3/2.6].

    Fact-side predicates (returnflag, quarter) prune the scans; the
    orders join shuffles once on orderkey; nation (25 rows, constant)
    broadcasts, customer is unhinted (sf-scaling — AQE broadcasts small,
    shuffle-joins at 100 TB); the LIMIT compiles to TakeOrderedAndProject
    (no global sort materialization). Deterministic tiebreak on custkey
    keeps the top-20 hash-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    r = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("rev"))
    )
    return (
        r.join(c, r.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .orderBy(F.col("rev").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            r6(F.col("rev").cast("double")).alias("revenue"),
        )
    )


@query(
    "q7_nation_trade_flows",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(YEAR(o.o_orderdate) AS INT) AS order_year,
           COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_name IN ('NATION_0', 'NATION_1')
      AND nc.n_name IN ('NATION_0', 'NATION_1')
      AND ns.n_name != nc.n_name
    GROUP BY ns.n_name, nc.n_name, YEAR(o.o_orderdate)
    """,
)
def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade flows [J1 five-way join, A14].

    The join tree a 100 TB star schema wants: the two facts (lineitem,
    orders) shuffle once on orderkey; the nation pair (constant 25-row
    table) broadcasts with its filters pushed into the build side;
    supplier/customer are sf-scaling so their joins are unhinted — AQE
    broadcasts them at small sf, sort-merges at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pair = F.col("n_name").isin("NATION_0", "NATION_1")
    ns = n.filter(pair).select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.filter(pair).select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        r6(F.sum(rev).cast("double")).alias("revenue"),
    )


@query(
    "scd2_tier_at_order",
    oracle="""
    WITH q AS (
      SELECT o_custkey,
             DATE_TRUNC('quarter', o_orderdate) AS eff_start,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey, DATE_TRUNC('quarter', o_orderdate)
    ),
    dim AS (
      SELECT o_custkey, eff_start,
             COALESCE(LEAD(eff_start) OVER (PARTITION BY o_custkey
                                            ORDER BY eff_start),
                      TIMESTAMP '2999-01-01') AS eff_end,
             CASE WHEN spend >= 300000.0 THEN 'high'
                  WHEN spend >= 150000.0 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM q
    )
    SELECT d.tier,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS revenue
    FROM orders o
    JOIN dim d ON d.o_custkey = o.o_custkey
              AND o.o_orderdate >= d.eff_start
              AND o.o_orderdate <  d.eff_end
    GROUP BY d.tier
    """,
)
def scd2_tier_at_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time dimension lookup [J6 as-of family, §2.3]: a
    versioned customer-tier dimension (quarterly spend tiers, intervals
    closed by LEAD — the standard type-2 effective-dating build), each
    fact row joined to the version effective AT ITS OWN timestamp, never
    the latest one — the correctness property backtests need (no lookahead
    into future dimension versions; reference analog: signal validity
    windows in `models/signal_router.py`).

    Scale: the interval predicate rides on a custkey EQUI-join — per-key
    version lists are short, so this is a hash join with a residual
    filter, not a range blow-up; the dimension build is one groupBy +
    one LEAD window on dimension-sized data."""
    o = load_table(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
    q = o.groupBy(
        "o_custkey", F.date_trunc("quarter", F.col("o_orderdate")).alias("eff_start")
    ).agg(spend.alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("eff_start")
    dim = q.select(
        F.col("o_custkey").alias("d_custkey"),
        "eff_start",
        F.coalesce(
            F.lead("eff_start").over(w), F.lit("2999-01-01").cast("timestamp")
        ).alias("eff_end"),
        F.when(F.col("spend") >= 300000.0, "high")
        .when(F.col("spend") >= 150000.0, "mid")
        .otherwise("low")
        .alias("tier"),
    )
    j = o.join(
        dim,
        (F.col("o_custkey") == F.col("d_custkey"))
        & (F.col("o_orderdate") >= F.col("eff_start"))
        & (F.col("o_orderdate") < F.col("eff_end")),
    )
    return j.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        r6(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")).alias(
            "revenue"
        ),
    )


@query(
    "q6_quantity_band_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                          * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 6)
             AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_quantity_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue-change scan [S6 pure pushdown].

    No join at all: the entire predicate set (date band, discount band,
    quantity cap) pushes to the parquet scan and the aggregate is one
    scalar — the query whose plan is ONLY as good as its pushdown, which
    is why it's pinned in the plan tests."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * F.col("l_discount").cast(
        "decimal(4,2)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            r6(F.sum(rev).cast("double")).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q12_late_shipment_by_priority",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
           ROUND(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS late_frac
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q12_late_shipment_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped shipping-SLA rollup (adapted: priority instead of
    shipmode, 60-day lateness) [J1 + conditional aggregation].

    One orderkey-shuffle join, conditional sums in a single aggregate
    pass — the dual-CASE pattern that replaces two separate filtered
    scans."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.sum(F.when(~late, 1).otherwise(0)).cast("long").alias("n_ontime"),
        r6(
            F.sum(F.when(late, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1))
        ).alias("late_frac"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
          FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6)
             AS transition_prob
    FROM t
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    [W1 lag family → sequence mining]: bigram counts via one LEAD window,
    row-normalized into transition probabilities with a per-source-state
    window over the 25-cell matrix. The sequence pass is one shuffle on
    the user key; everything after is state-space sized."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        r6(F.col("n") * F.lit(1.0) / F.sum("n").over(wf)).alias("transition_prob"),
    )


@query(
    "q8_nation_market_share",
    oracle="""
    WITH sales AS (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS order_year,
             ns.n_name AS supp_nation,
             CAST(l.l_extendedprice AS DECIMAL(14,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT order_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0 END)
                      AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS market_share,
           COUNT(*) AS n_lines
    FROM sales GROUP BY order_year
    """,
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share [J1 six-way star join + share-of-total
    conditional aggregation]: one nation's share of all revenue delivered
    into one customer region, per year. Facts shuffle once on orderkey;
    the constant dims (nation projections, region) broadcast; customer
    and supplier scale with sf so their joins are unhinted (AQE
    broadcasts small, sort-merges at 100 TB); the share is two
    exact-decimal sums in ONE aggregate pass (CASE inside SUM)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "supp_nation",
            rev.alias("rev"),
        )
    )
    target = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("rev")).otherwise(0)
    )
    return sales.groupBy("order_year").agg(
        F.round(target.cast("double") / F.sum("rev").cast("double"), 6).alias(
            "market_share"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: the customer-distribution query — how many
    customers placed exactly N qualifying orders (the filter lives in
    the JOIN CONDITION of a left outer join, so customers with zero
    qualifying orders are retained and land in the N=0 bucket — the
    shape that separates an outer join from a WHERE filter), then the
    distribution of those counts [J1 outer join + A14 double
    aggregation, §2.3/2.4].

    Scale: one key-partitioned outer join (orders shuffled on custkey,
    COUNT is map-side-combinable), then a second aggregate over a frame
    that is one row per customer with a bounded-cardinality count key —
    the second shuffle carries |distinct counts| rows per partition.
    Reference anchor: the reference's order-frequency report shape
    (analysis/ report family), via the classic Q13 formulation."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH co AS (
          SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '5-LOW'
          GROUP BY c.c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM co GROUP BY c_count
        """
    )


@query(
    "q15_top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           ROUND(CAST(r.total_revenue AS DOUBLE), 6) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the top supplier by quarterly shipped revenue —
    a derived revenue aggregate consumed TWICE (once as the join input,
    once reduced to its max in a scalar subquery), with the winner
    selected by EQUALITY on the aggregate [O2 argmax via scalar
    subquery, §2.6]. The equality is evaluated in EXACT DECIMAL on both
    engines (the sum of price·(1−discount) products never touches a
    float until the display rounding), so "ties" mean genuinely equal
    rational revenue — the formulation's classic float trap, closed the
    same way the repo's other money arithmetic is.

    Scale: one lineitem aggregate keyed on suppkey (map-side
    combinable, date filter pushed to the scan), a one-row max
    broadcast back over the bounded supplier-revenue frame, and a dim
    join — no shuffle touches lineitem twice.
    Reference anchor: the reference's per-venue revenue ranking shape,
    via the classic Q15 view formulation."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               ROUND(CAST(r.total_revenue AS DOUBLE), 6) AS total_revenue
        FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS order_date,
           ROUND(o.o_totalprice, 6) AS total_price,
           ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: large-volume orders — customers whose single
    orders aggregate more than 250 units (top ~1% of orders by total
    quantity at every test sf), listed with the order's full quantity
    [U-family IN-subquery semi join over a grouped HAVING, §2.3 J3/J9].
    The HAVING threshold is evaluated in exact decimal on both engines;
    the IN decorrelates to a semi join on orderkey, so lineitem is
    aggregated once to find qualifying orders and joined once to
    re-aggregate their detail — the classic double-touch the
    formulation forces, kept to two key-partitioned passes.

    Scale: both lineitem passes shuffle on l_orderkey (map-side
    combined); the semi join and the detail join are equi-joins on the
    same key, so AQE can co-locate the whole right side of the plan on
    one partitioning. Reference anchor: the reference's
    large-position audit shape, via the classic Q18 formulation."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS STRING) AS order_date,
               ROUND(o.o_totalprice, 6) AS total_price,
               ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE), 6) AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
        )
        GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        """
    )
