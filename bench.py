"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced with a cheap count() action (no driver-side collect of
result data beyond the aggregate). A warmup run of the flagship query
amortizes JVM/codegen startup out of the per-query numbers. Beside the
load averages, each pass records its hypervisor steal share (``/proc/stat``),
so a run slowed by a neighbour on a shared host reads as such.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from portofolio_maximizer_spark.session import get_spark


def cpu_times() -> list[int]:
    """This machine's aggregate CPU times from ``/proc/stat``, in ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def stolen_share(start: list[int], end: list[int]) -> float:
    """Share of the busy CPU time between two ``cpu_times`` readings that
    the hypervisor gave to other guests (steal): time the pass's threads
    were ready to run and could not. Copied from ``perfbench/run.py``,
    which imports its siblings as top-level modules and so cannot be
    imported from here."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(start[:8], end[:8])
    )
    busy = user + nice + system + irq + softirq + steal
    return steal / busy if busy else 0.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # Measurement fix (optimization round 13, round-12 verdict "What's
    # wrong #2"): the staged-artifact cache under spark-warehouse/
    # oracle_stage persists across PROCESSES by design (fingerprint =
    # code hash + data mtimes), so a second bench run on unchanged code
    # skipped ~150 s of in-run fits the first run paid — the round-12
    # low-core scaling run (BENCH_r12_c8.json, stage 32h/0m) read
    # nonsense sub-1 ratios because of exactly this. The bench now wipes
    # its own sf_dir's stage root at start unless SPARK_GRAFT_STAGE_KEEP=1,
    # so every timed run is cold by construction. Wall-neutral for the
    # driver's standard flow (any code edit already invalidated the
    # fingerprint — every recorded per-round bench ran 0h/Nm cold);
    # only same-code re-runs change, from invalid-warm to cold.
    if not os.environ.get("SPARK_GRAFT_STAGE_KEEP"):
        import shutil

        from portofolio_maximizer_spark.plans.queries import stage_root

        shutil.rmtree(stage_root(sf_dir), ignore_errors=True)
    load_start = os.getloadavg()
    spark = get_spark("bench")
    # OFF, not ERROR: Spark 4 structured logging writes JSON error lines to
    # stdout, which would corrupt this script's one-JSON-line contract.
    spark.sparkContext.setLogLevel("OFF")

    queries = entrymod.queries()
    # warmup: flagship query once to pay JVM/codegen startup
    queries["q1_pricing_summary"](spark, sf_dir).count()

    # Streaming placement (optimization round 12, guide §2.6 "overlap
    # independent jobs"): the 15 availableNow drains are independent
    # deterministic jobs that the family already runs concurrently on
    # daemon threads and memoizes (_prefetch_streaming_family). Kicking
    # that prefetch off at pack start and timing the streaming queries
    # LAST overlaps the drains' mostly-idle micro-batch floors with the
    # batch block instead of serializing ~70 s of them at the front
    # (every drain still computes from the parquet inputs inside this
    # same run; per-drain work remains attributed in stream_drains /
    # DRAIN_PROGRESS telemetry — input rows, batches, trigger wall).
    # The old EARLY slot existed so drain timings stayed attributable
    # before that telemetry existed (round-6 verdict What's wrong #3);
    # pack positions remain recorded so deltas stay interpretable.
    _heavy_stagers = [
        "adversarial_scenario_matrix",
        "rolling_cv_aggregate",
        "sarimax_hr_forecast",
        "arima_warmstart_forecast",
        "arima_hr_forecast",
        "ar_grid_best_aic_forecast",
        "gate_failure_decomposition",
        "ts_threshold_sweep",
        "vocab_growth_curve",
        "performance_chart_data",
        "platt_outcome_reconciliation",
        "barbell_promotion_decision",
        "nav_rebalance_plan",
        "samossa_forecast",
        "garch_price_forecast_ci",
        "embedding_classifier_eval",
        "signal_routing_decision",
        "embedding_ivf_ann",
        "ivfadc_scan_frontier",
        "incremental_dedup_census",
        "mvs_paper_window_report",
        "walkforward_refit_eval",
        "garch_grid_fit",
        "mssa_q_iteration",
        "min_variance_weights_shrunk",
        "ssa_reconstruction",
        "quality_classifier_calibration",
        "embedding_pq_ann",
        # family-first-payers: these queries' builds populate a shared
        # session_frame_cache helper (eager materializations included) —
        # building them on the background pool overlaps the one-time
        # family build with the batch block exactly like the artifact
        # fits above; the build wall stays attributed per helper in
        # frame_builds (BENCH_FULL.json)
        "unlinked_close_repair_plan",
        "ensemble_health_model_summary",
        "ensemble_ci_diagnostics",
        "directional_classifier_eval",
        "order_learner_health_check",
        "attribution_linkage_summary",
        "llm_system_health_report",
        "date_fallback_slo_gate",
        "zombie_open_retirement",
        # early-pack members of staged-artifact families (the batch-7
        # cold run showed them absorbing the fits their late-ordered
        # siblings no longer pay: walkforward_eval 11.4 s at position
        # 11, adversarial_suite_summary 8.9 s at 10, cv_fold_bounds
        # 6.2 s at 1)
        "cv_fold_bounds",
        "walkforward_eval",
        "adversarial_suite_summary",
        "adversarial_barbell_gate",
        "barbell_confidence_sizing",
        "decontamination_overlap",
    ]

    # Heavy-STAGING queries are also ordered late (optimization round 12,
    # same §2.6 rationale): their once-per-(code,data) artifact fits run
    # on the background prefetch pool, but a timed query that reaches its
    # artifact before the background fit lands blocks on the staging lock
    # and absorbs the whole fit (the r12 cold run charged 14.5 s of the
    # adversarial fits to pack position 1). With the stagers at the end
    # of the batch block the pool has the whole pack to land them; every
    # fit still computes from the parquet inputs inside this run and
    # stage_times still attributes each cold fit honestly.
    ordered = sorted(
        queries.items(),
        key=lambda kv: (
            2
            if kv[0].startswith("streaming_")
            else (1 if kv[0] in _heavy_stagers else 0),
        ),
    )

    def kickoff_stream_prefetch() -> None:
        import threading

        from portofolio_maximizer_spark.plans.queries_models import (
            _prefetch_streaming_family,
        )

        # max_concurrency=4 (batch 10): 15 simultaneous drain STARTUPS
        # (4-landing stagings, RocksDB bootstraps, pure-Python TWS
        # protocol shims) GIL-thrash the first timed pack positions;
        # bounded to 4 the family stretches to ~Sigma/4 of drain wall —
        # still finishing long before the streaming queries at pack end
        # — while the early batch block runs against a far quieter
        # driver. Scheduling-only: same drains, same inputs, results
        # identical (inline callers keep the all-at-once default).
        threading.Thread(
            target=_prefetch_streaming_family,
            args=(spark, sf_dir, 4),
            daemon=True,
        ).start()

    # Staging prefetch (same guide §2.6 overlap, applied to the staged
    # artifacts): the cold pack pays ~119 s of once-per-(code,data)
    # artifact fits (stage_times) serially inside whichever query
    # first touches each artifact. The fits are independent jobs behind
    # a per-artifact fcntl lock (_ensure_staged: a concurrent timed
    # query either sees the fresh marker or blocks on the lock until
    # the fit lands), so a small background pool builds them while the
    # pack runs the batch block — every fit still computes from the
    # parquet inputs inside this same run, and stage_events/stage_times
    # still record each artifact's cold fit honestly. The pool walks
    # the heavy stagers in pack order so artifacts tend to be staged
    # before their first timed toucher arrives; a timed query that
    # outruns the pool just stages synchronously as before.

    # background-pool failures, per pool and query ("Type: message"):
    # the timed owner re-raises, and BENCH_FULL.json keeps what the pool saw
    bg_errors: dict[str, dict[str, str]] = {"stage_prefetch": {}, "prebuild": {}}
    # timed-query failures, per pass and query, in the same shape: the
    # query's wall reads -1 and this keeps why
    query_errors: dict[str, dict[str, str]] = {"cold": {}, "warm": {}}

    def kickoff_stage_prefetch() -> None:
        import threading

        pos = {name: i for i, (name, _) in enumerate(ordered)}
        names = [n for n in _heavy_stagers if n in queries]
        names.sort(key=lambda n: pos.get(n, 10**6))
        it = iter(names)
        lock = threading.Lock()

        def run() -> None:
            while True:
                with lock:
                    n = next(it, None)
                if n is None:
                    return
                try:
                    queries[n](spark, sf_dir)
                except Exception as e:  # noqa: BLE001 — timed owner re-raises
                    bg_errors["stage_prefetch"][n] = f"{type(e).__name__}: {e}"[:500]

        for _ in range(3):
            threading.Thread(target=run, daemon=True).start()

    # DAG-construction pipelining (optimization round 12, guide §2.6):
    # the pack used to run strictly build -> action -> build -> action,
    # so every query's driver-side DAG construction (py4j expression
    # traffic, staging probes — a 0.3-1 s floor per query, ~3 min over
    # the pack) ran while the executors sat idle, and every action ran
    # while the driver sat idle. A small pool of background threads
    # walks the pack in order and pre-builds each query's DataFrame
    # (the same concurrent-build pattern the staging pool has exercised
    # since batch 3); the timed loop consumes the prebuilt frame when
    # ready and builds inline otherwise. Every frame is still built
    # inside this run from the parquet inputs, the timed action still
    # executes the full plan, and per-query prebuild walls are
    # published as prebuild_s in BENCH_FULL.json so the overlapped
    # driver work stays attributed per query (a query's headline number
    # is its BLOCKING wall; prebuild_s carries the construction cost
    # when overlapped).
    #
    # Pool width (batch 9): the batch-8 single-thread run measured
    # prebuild SIGMA 341 s vs 339 s wall — the build lane had become
    # the pack's critical path (the timed loop spent most of its wall
    # waiting for in-flight builds). DataFrame construction is
    # Python-side expression building (GIL-held) around py4j
    # round-trips (GIL-released), so the pool saturates fast: the
    # sf0.001 warm-stage ablation on one box measured 0 threads 569 s /
    # 1 thread 383 s / 2 threads 261 s / 3 threads 332 s / 4 threads
    # 353 s — past two workers GIL contention inflates every in-flight
    # build (and with it the timed loop's blocking waits). Width is 2,
    # dropping to 1 on the driver's lower-core scaling runs (<16
    # cores, i.e. the batch-8 behavior). Builds remain bounded to a fixed
    # look-ahead so eagerly-materialized frames don't stack far ahead
    # of the timed loop.
    _cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or 32)
    _pb_threads = 2 if _cpus >= 16 else 1
    _pb_lookahead = 64

    def run_pass(pass_name: str) -> tuple[dict[str, float], float, float, dict]:
        import threading

        t: dict[str, float] = {}
        cpu0 = cpu_times()
        t_all = time.time()
        # start the streaming drains + artifact fits in the background
        kickoff_stream_prefetch()
        kickoff_stage_prefetch()

        prebuilt: dict[str, object] = {}
        pb_times: dict[str, float] = {}
        claimed: set[str] = set()
        in_flight: set[str] = set()
        done: set[str] = set()
        next_ix: list[int] = [0]
        cv = threading.Condition()

        def prebuild() -> None:
            while True:
                with cv:
                    # bound the look-ahead: don't stack materialized
                    # frames far beyond where the timed loop is
                    while len(prebuilt) >= _pb_lookahead:
                        cv.wait()
                    while next_ix[0] < len(ordered):
                        name, fn = ordered[next_ix[0]]
                        next_ix[0] += 1
                        if (
                            name not in claimed
                            and name not in prebuilt
                            and name not in in_flight
                            and name not in done
                        ):
                            break
                    else:
                        return
                    in_flight.add(name)
                b0 = time.time()
                f = None
                try:
                    f = fn(spark, sf_dir)
                except Exception as e:  # noqa: BLE001 — timed owner rebuilds
                    bg_errors["prebuild"][name] = f"{type(e).__name__}: {e}"[:500]
                with cv:
                    in_flight.discard(name)
                    done.add(name)
                    if f is not None:
                        prebuilt[name] = f
                        pb_times[name] = round(time.time() - b0, 3)
                    cv.notify_all()

        for _ in range(_pb_threads):
            threading.Thread(target=prebuild, daemon=True).start()

        for name, fn in ordered:
            t0 = time.time()
            # never build the same query on two threads: if a
            # prebuilder is mid-build on THIS query, wait for it (the
            # wait is part of this query's wall — the build happens
            # exactly once either way). Builds with catalog side
            # effects (bucketed/analyzed tables) are additionally
            # serialized by _CATALOG_ENSURE_LOCK in the query pack.
            with cv:
                claimed.add(name)
                while name in in_flight:
                    cv.wait()
                df = prebuilt.pop(name, None)
                cv.notify_all()
            try:
                (df if df is not None else fn(spark, sf_dir)).count()
                t[name] = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001 — recorded in query_errors
                t[name] = -1.0
                query_errors[pass_name][name] = f"{type(e).__name__}: {e}"[:500]
        wall = round(time.time() - t_all, 3)
        return t, wall, round(stolen_share(cpu0, cpu_times()), 4), dict(pb_times)

    timings, total, steal, prebuild_times = run_pass("cold")
    # optional warm second pass (stage caches hot, codegen compiled):
    # SPARK_GRAFT_WARM_PASS=1 — off by default to keep the driver's
    # per-round bench single-pass
    warm: dict[str, float] | None = None
    warm_total = None
    warm_steal = None
    if os.environ.get("SPARK_GRAFT_WARM_PASS"):
        warm, warm_total, warm_steal, _ = run_pass("warm")

    # The driver captures only the tail of stdout (~4000 chars) and parses
    # the JSON line from it. Keep the line compact: total + the 20 slowest
    # queries at 2dp stays well under 2500 chars; the full per-query map
    # goes to a sidecar file next to this script.
    # self-describing profile (round-7 verdict What's wrong #3): which
    # staged artifacts were warm (hit) vs fit in-run (miss), and the
    # host's ambient load — so cross-round wall comparisons can separate
    # cold/warm staging and co-tenant noise mechanically.
    from portofolio_maximizer_spark.plans.queries import (
        FRAME_BUILDS,
        STAGE_EVENTS,
        STAGE_TIMES,
    )

    n_hit = sum(1 for v in STAGE_EVENTS.values() if v == "hit")
    n_miss = sum(1 for v in STAGE_EVENTS.values() if v == "miss")
    full = {
        "metric": "query_pack_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "pack_position": {name: i for i, (name, _) in enumerate(ordered)},
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": sum(1 for v in timings.values() if v < 0),
        "stage_hits": n_hit,
        "stage_misses": n_miss,
        "stage_events": dict(sorted(STAGE_EVENTS.items())),
        # per-artifact COLD build wall (fit + parquet write), empty when
        # every stage was warm — attributes stage_misses' cost to the
        # artifact instead of to whichever query touched it first
        "stage_times": dict(sorted(STAGE_TIMES.items())),
        # first-build wall per shared helper frame (memoized via
        # session_frame_cache) — attributes the family builds that the
        # background pool overlaps with the batch block
        "frame_builds": dict(sorted(FRAME_BUILDS.items())),
        # per-query DAG-construction wall when overlapped by the
        # prebuilder thread (absent -> the query built inline and its
        # headline number includes construction, as in prior rounds)
        "prebuild_s": dict(sorted(prebuild_times.items())),
        # queries whose background prefetch or prebuild raised; each was
        # built again by its timed owner, so a real failure also reads -1
        # in queries
        "background_errors": {k: dict(sorted(v.items())) for k, v in bg_errors.items()},
        "query_errors": {k: dict(sorted(v.items())) for k, v in query_errors.items()},
        "load_avg_start": list(load_start),
        "load_avg_end": list(os.getloadavg()),
        "steal_share": steal,
    }
    if warm is not None:
        full["warm_value"] = warm_total
        full["warm_queries"] = warm
        full["warm_steal_share"] = warm_steal
    # per-drain StreamingQueryProgress evidence (input rows, batches,
    # peak state rows, trigger wall): the streaming family's work runs
    # under the engine's own job group, so this registry — not stage
    # metrics — is the honest attribution of what the drains processed
    from portofolio_maximizer_spark.streaming.stream import DRAIN_PROGRESS

    # registry keys are (name, cache_key); a None cache_key must not
    # crash the sort and a same-name second key must not silently
    # overwrite the first. On collision EVERY colliding entry — the
    # first included — is re-keyed to "name|cache_key" so each drain in
    # BENCH_FULL.json says which cache key (sf_dir) it belongs to.
    by_name: dict[str, list] = {}
    for k, v in sorted(
        DRAIN_PROGRESS.items(), key=lambda kv: (kv[0][0], str(kv[0][1]))
    ):
        by_name.setdefault(k[0], []).append((k, v))
    drains: dict[str, dict] = {}
    for name, entries in by_name.items():
        if len(entries) == 1:
            drains[name] = entries[0][1]
        else:
            for k, v in entries:
                drains[f"{name}|{k[1]}"] = v
    full["stream_drains"] = drains
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(sidecar, "w") as f:
        json.dump(full, f, indent=1)

    top = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    line = json.dumps(
        {
            "metric": "query_pack_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in top.items()},
            "sf": sf,
            "n_queries": len(timings),
            "n_errors": full["n_errors"],
            "stage": f"{n_hit}h/{n_miss}m",
            "load1": round(load_start[0], 1),
            "steal_share": steal,
            "full": "BENCH_FULL.json",
            **({"warm_value": warm_total} if warm is not None else {}),
        },
        separators=(",", ":"),
    )
    print(line)


if __name__ == "__main__":
    main()
