"""Closed-loop benchmark of the quant engine's query packs.

One Python process and one client thread issue a workload's queries one at
a time: the next query is built only after the previous one's action ends.
Inputs are the deterministic sf0.001 tables under ``perfbench/data``; the
seed sets only the order in which the client issues the queries.

A run:

1. isolates itself (``common.isolate``) and runs the correctness gate
   (``gate.py``) in a child process if this checkout has no cached result;
2. repeats a cold cycle: set up — session start, a warm-up query on the
   JVM and one on the Python workers, one scan of the ten input tables —
   then one cold pass over the workload's queries on that fresh session
   and an empty stage root. The first cycle launches the JVM and warms its
   JIT and is not timed; timed cycles follow for ``--seconds`` seconds, at
   least ``MIN_CYCLES`` of them;
3. traced runs only: replays the queries ``REPLAYS`` times on the last
   session (stage and frame memos warm);
4. checks every query's digest against the gate's, writes the run record
   to ``.perfbench/runs/`` and prints one JSON line.

With ``--trace 0`` it prints the end-to-end metrics: ``setup_s``, the median
timed set-up, and ``wall_s``, the fastest timed cold pass. Both are net of
steal: each wall is scaled by one minus the share of the machine's busy CPU
time that the hypervisor gave to other guests meanwhile (``/proc/stat``),
so that a neighbour's load on a shared host moves them less. A neighbour
slows a pass more than the steal it causes, so ``wall_s`` takes the pass
it slowed least. The raw walls and shares are in the run record.

With ``--trace 1`` it runs the same loop under ``layers.Tracer`` and prints
the per-layer metrics, summed over the last cold pass and the first replay.
Tracing overhead is the traced run's ``trace.wall_s`` minus an untraced
run's ``wall_s``.

Usage: python3 perfbench/run.py --workload ops_reports --seed 1 --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time

import common

#: per-layer metric -> the end-to-end metric (and workload) it should move
LAYER_MAP = {
    "session.start_s": "setup_s (both)",
    "session.first_action_s": "setup_s (both)",
    "sources.scan_s": "setup_s (both)",
    "plans.build_s": "wall_s (ops_reports)",
    "plans.py4j_calls": "wall_s (ops_reports)",
    "memo.frame_builds": "wall_s (ops_reports)",
    "memo.frame_build_s": "wall_s (ops_reports)",
    "catalyst.*": "wall_s (ops_reports)",
    "exec.*": "wall_s (both)",
    "stage.*": "wall_s (model_refresh); stage hits on the replay",
    "replay.wall_s": "warm replay: what the stage and frame memos save over wall_s",
    "trace.unattributed_s": "each query's wall minus its attributed parts",
    "trace.wall_s": "traced cold pass wall; minus wall_s it is the tracing overhead",
    "driver.peak_rss_mb": "peak resident memory of the driver JVM plus the Python driver",
}

SUMMED = (
    "plans.build_s", "plans.py4j_calls", "memo.frame_builds", "memo.frame_build_s",
    "catalyst.plan_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.action_s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_mb",
    "exec.shuffle_write_mb", "exec.spill_mb", "stage.misses", "stage.hits",
    "stage.fit_write_s", "stage.written_mb", "trace.unattributed_s",
)
PEAKS = ("exec.peak_task_mem_mb", "exec.task_skew")
SETUP_PARTS = ("session.start_s", "session.first_action_s", "sources.scan_s")
#: untimed cold cycles at the start of a run: JVM launch and JIT warm-up
WARMUP = 1
#: timed cold cycles per run at least, however short ``--seconds`` is
MIN_CYCLES = 3
#: warm replays after the last cold pass of a traced run
REPLAYS = 2
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "ratio": "ratio", "skew": "ratio"}


def unit(metric: str) -> str:
    for suffix, u in UNITS.items():
        if metric.endswith(suffix):
            return u
    return "count"


def ensure_gate() -> dict:
    """The cached gate result of this checkout; runs the gate if missing."""
    import gate

    path = gate.gate_path()
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.join(common.BENCH, "gate.py")],
            stdout=sys.stderr,
            timeout=840,
            check=False,
        )
        common.isolate()  # the gate staged into the run directory: empty it
    with open(path) as f:
        return json.load(f)


def setup():
    """Start a session, run the warm-up queries and scan the input tables.

    The second warm-up query starts the session's Python workers (and
    asserts where they import the package from), so the first workload
    query of a pass does not pay for them."""
    from portofolio_maximizer_spark.sources.catalog import TABLES, load_table

    cpu0 = cpu_times()
    t0 = time.perf_counter()
    spark = common.start_session("perfbench")
    t1 = time.perf_counter()
    spark.range(100_000).selectExpr("sum(id * 7 % 13)").collect()
    common.check_workers(spark)
    t2 = time.perf_counter()
    for table in TABLES:
        load_table(spark, common.SF_DIR, table).count()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "session.start_s": t1 - t0,
        "session.first_action_s": t2 - t1,
        "sources.scan_s": t3 - t2,
        "steal_share": stolen_share(cpu0, cpu_times()),
    }


def run_pass(spark, order, pass_no, reference, tracer) -> dict:
    from portofolio_maximizer_spark.plans import QUERIES

    records = []
    cpu0 = cpu_times()
    t_pass = time.perf_counter()
    for name in order:
        rec = {"query": name}
        mark = tracer.begin(f"perfbench:{pass_no}:{name}", name) if tracer else None
        t = {"start": time.perf_counter()}
        try:
            df = QUERIES[name](spark, common.SF_DIR)
            t["built"] = time.perf_counter()
            frame = common.digest(df)
            if tracer:
                tracer.built(mark)
                rec.update(tracer.plan(frame))
            t["planned"] = time.perf_counter()
            got = common.read_digest(frame)
            t["done"] = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            rec.update(wall_s=time.perf_counter() - t["start"], error=f"{type(e).__name__}: {e}"[:500])
            if tracer:
                tracer.sc.setLocalProperty("spark.jobGroup.id", None)
            records.append(rec)
            continue
        rec["wall_s"] = t["done"] - t["start"]
        rec["digest"] = got
        if got != reference.get(name):
            rec["error"] = f"digest {got} != gate {reference.get(name)}"
        if tracer:
            tracer.end(mark, name, pass_no, t, rec)
        records.append(rec)
    wall = time.perf_counter() - t_pass
    share = stolen_share(cpu0, cpu_times())
    return {
        "pass": pass_no,
        "wall_s": wall,
        "steal_share": share,
        "net_s": wall * (1 - share),
        "queries": records,
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def layer_metrics(cold, replays, setups) -> dict:
    recs = [r for p in (cold[-1], replays[0]) for r in p["queries"] if "error" not in r]
    m = {k: statistics.median(s[k] for s in setups) for k in SETUP_PARTS}
    for k in SUMMED:
        m[k] = sum(r[k] for r in recs)
    for k in PEAKS:
        m[k] = max((r[k] for r in recs), default=0)
    looked = m["stage.hits"] + m["stage.misses"]
    m["stage.hit_ratio"] = m["stage.hits"] / looked if looked else 0.0
    m["trace.wall_s"] = min(p["net_s"] for p in cold)
    m["replay.wall_s"] = replay_wall_s(replays)
    return m


def replay_wall_s(replays) -> float:
    """Sum over the queries of each one's median latency in the replays."""
    latencies: dict[str, list[float]] = {}
    for p in replays:
        for r in p["queries"]:
            if "error" not in r:
                latencies.setdefault(r["query"], []).append(r["wall_s"])
    return sum(statistics.median(v) for v in latencies.values())


def end_to_end_metrics(cold, setups) -> dict:
    return {
        "setup_s": statistics.median(s["setup_s"] * (1 - s["steal_share"]) for s in setups),
        "wall_s": min(p["net_s"] for p in cold),
    }


def cpu_times() -> list[int]:
    """This machine's aggregate CPU times from ``/proc/stat``, in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def stolen_share(start: list[int], end: list[int]) -> float:
    """Share of the busy CPU time between two ``cpu_times`` readings that
    the hypervisor gave to other guests (steal): time the run's threads
    were ready to run and could not."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(start[:8], end[:8])
    )
    busy = user + nice + system + irq + softirq + steal
    return steal / busy if busy else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(common.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()
    cpu_start = cpu_times()
    common.isolate()
    gate = ensure_gate()
    names = common.workload_queries(args.workload)
    missing = [n for n in names if n not in gate["digests"]]
    if missing:
        raise SystemExit(f"perfbench: the gate has no digest for {missing}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    spark, tracer = None, None
    rng = random.Random(args.seed)
    setups, passes = [], []

    def issue() -> None:
        order = names[:]
        rng.shuffle(order)
        passes.append(run_pass(spark, order, len(passes), gate["digests"], tracer))
        passes[-1]["order"] = order

    t_origin = t_timed = time.perf_counter()
    try:
        while True:
            if spark is not None:
                spark.stop()
            spark, sample = setup()
            setups.append(sample)
            if args.trace and tracer is None:
                import layers

                tracer = layers.Tracer(run_id, t_origin)
            if tracer:
                tracer.attach(spark)
            common.empty_stage()
            issue()
            timed = len(passes) - WARMUP
            if timed == 0:
                t_timed = time.perf_counter()
            elif timed >= MIN_CYCLES and time.perf_counter() - t_timed >= args.seconds:
                break
        n_cold = len(passes)
        for _ in range(REPLAYS if tracer else 0):
            issue()
        cold, replays = passes[WARMUP:n_cold], passes[n_cold:]
        if tracer:
            metrics = layer_metrics(cold, replays, setups[WARMUP:])
            metrics["driver.peak_rss_mb"] = peak_rss_mb(spark)
        else:
            metrics = end_to_end_metrics(cold, setups[WARMUP:])
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        if tracer:
            tracer.close()
        if spark is not None:
            common.stop(spark)

    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(1 for p in passes for r in p["queries"] if "error" in r)
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": common.nproc(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "steal_share": stolen_share(cpu_start, cpu_times()),
        "spark_conf": conf,
        "gate_failures": gate["failures"],
        "gate_unchecked": gate["unchecked"],
        "warmup_cycles": WARMUP,
        "cold_passes": n_cold,
        "setups": setups,
        "passes": passes,
        "metrics": metrics,
        "layer_map": LAYER_MAP,
        "spans": tracer.spans if tracer else [],
    }
    os.makedirs(os.path.join(common.STATE, "runs"), exist_ok=True)
    with open(os.path.join(common.STATE, "runs", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": failed == 0 and not gate["failures"],
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
