"""Fixed per-query driver cost: py4j traffic of a Column op, per-session
resolution of the source tables (``sources.catalog.load_table``) and of
the staged trades (``plans.queries_models._simulated_trades``), and the
staged read-back (``plans.queries.stage_cached``)."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

from portofolio_maximizer_spark.plans import queries as Q
from portofolio_maximizer_spark.sources.catalog import load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _count_sends(spark, build) -> int:
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
    return len(calls)


def test_column_op_skips_call_site_capture(spark):
    """With call-site capture on, ``col + lit`` sends ~27 commands; the
    factory turns it off, leaving only the commands that build it."""
    from pyspark.sql import functions as F

    def build():
        F.col("x") + F.lit(1)

    build()  # first build resolves the py4j members it uses
    assert _count_sends(spark, build) <= 8


def _jobs_in_group(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(d, n: int) -> None:
    pd.DataFrame(
        {"r_regionkey": list(range(n)), "r_name": [f"R{i}" for i in range(n)]}
    ).to_parquet(os.path.join(d, "region.parquet"), index=False)


@pytest.fixture
def per_session(tmp_path, sf_dir):
    """The per-session frame sources, by name: ``load_table`` over a fresh
    parquet file (its first read takes the schema from the footer, with
    no job), and the staged ``paper_trades`` read-back of
    ``_simulated_trades``."""
    from portofolio_maximizer_spark.plans.queries_models import _simulated_trades

    d = str(tmp_path)
    _write_region(d, 3)
    return {
        "region": lambda session: load_table(session, d, "region"),
        "paper_trades": lambda session: _simulated_trades(session, sf_dir),
    }


def test_second_load_launches_no_job(spark, per_session):
    for name, load in per_session.items():
        first = []
        jobs = _jobs_in_group(spark, f"{name}-1", lambda: first.append(load(spark)))
        if name == "region":
            assert jobs == 0, "the first load should read the schema from the footer, with no job"
        again = []
        assert _jobs_in_group(spark, f"{name}-2", lambda: again.append(load(spark))) == 0, name
        assert again[0] is first[0], name


def test_rewritten_parquet_is_read_again(spark, tmp_path):
    d = str(tmp_path)
    _write_region(d, 2)
    assert load_table(spark, d, "region").count() == 2
    _write_region(d, 5)
    assert load_table(spark, d, "region").count() == 5


def test_child_session_gets_its_own_frame(spark, per_session):
    child = spark.newSession()
    for name, load in per_session.items():
        parent = load(spark)
        mine = load(child)
        assert mine is not parent, name
        assert mine.sparkSession is child, name
        assert load(child) is mine, name


def test_concurrent_loads_share_one_entry(spark, tmp_path):
    """Background pools resolve tables from many threads at once: every
    caller gets a usable frame and the memo keeps one entry per key."""
    import threading

    from portofolio_maximizer_spark.operators import memo

    d = str(tmp_path)
    _write_region(d, 4)
    got = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(load_table(spark, d, "region")))
            for _ in range(12)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 12 and all(f.count() == 4 for f in got)
    assert len([k for k in memo._FRAME_CACHE if k[0] is spark and k[3] == d]) == 1
    kept = load_table(spark, d, "region")
    assert any(f is kept for f in got)


def test_new_application_reads_again(tmp_path):
    """After the session stops, a new session resolves its own frame and the
    stopped session's entry is pruned (a separate process: the test session
    must stay up)."""
    _write_region(str(tmp_path), 2)
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from portofolio_maximizer_spark.operators import memo
from portofolio_maximizer_spark.session import get_spark
from portofolio_maximizer_spark.sources.catalog import load_table

d = {str(tmp_path)!r}
s1 = get_spark("memo-a", cpus=1)
old = load_table(s1, d, "region")
assert old.count() == 2
s1.stop()
s2 = get_spark("memo-b", cpus=1)
new = load_table(s2, d, "region")
assert new is not old and new.sparkSession is s2
assert new.count() == 2
assert [k[0] for k in memo._FRAME_CACHE] == [s2]
s2.stop()
print("ok")
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]


def _staged_frame(spark):
    return spark.sql(
        """
        SELECT CAST(id AS INT) AS k,
               CAST(id * 1.25 AS DECIMAL(18, 6)) AS amount,
               TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS ts,
               array(id, id + 1) AS xs,
               map('a', CAST(id AS DOUBLE)) AS m,
               named_struct('s', CAST(id AS STRING), 'd', DATE '2024-01-01') AS st
        FROM range(4)
        """
    )


@pytest.fixture
def staged_sf(tmp_path, monkeypatch) -> str:
    """An empty data dir whose stage root is private to the test."""
    monkeypatch.setattr(Q, "ORACLE_STAGE", str(tmp_path / "stage"))
    d = str(tmp_path / "sf")
    os.makedirs(d)
    return d


def test_staged_read_back_keeps_inferred_schema(spark, staged_sf):
    got = Q.stage_cached(spark, staged_sf, "typed", lambda: _staged_frame(spark))
    path = os.path.join(Q.stage_root(staged_sf), "typed")
    inferred = spark.read.parquet(path)
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_staged_hit_launches_no_job(spark, staged_sf):
    builds = []

    def build():
        builds.append(1)
        return _staged_frame(spark)

    Q.stage_cached(spark, staged_sf, "typed", build).count()
    hit = []
    assert _jobs_in_group(spark, "stage-hit", lambda: hit.append(Q.stage_cached(spark, staged_sf, "typed", build))) == 0
    assert builds == [1]
    assert hit[0].count() == 4


def test_stale_stage_marker_rebuilds(spark, staged_sf):
    import json

    assert Q.stage_cached(spark, staged_sf, "grid", lambda: spark.range(3)).count() == 3
    marker = os.path.join(Q.stage_root(staged_sf), "grid", Q._MARKER)
    with open(marker) as f:
        fp = json.load(f)
    with open(marker, "w") as f:
        json.dump({**fp, "pkg": "0" * 16}, f)
    builds = []

    def build():
        builds.append(1)
        return spark.range(5)

    assert Q.stage_cached(spark, staged_sf, "grid", build).count() == 5
    assert builds == [1]
    with open(marker) as f:
        assert json.load(f)["pkg"] == fp["pkg"]
