"""Per-layer tracing for the benchmark's traced run.

Everything here observes the engine from outside; nothing in the package
changes:

- the py4j client's ``send_command`` is wrapped to count driver-to-JVM
  calls made while a query builds its DataFrame;
- the engine's telemetry registries (``plans.queries.STAGE_EVENTS``,
  ``STAGE_TIMES`` and ``FRAME_BUILDS``) are swapped for dict subclasses that behave the same and also log every
  write with its time, so each write is attributed to the query in flight
  (one client thread makes this unambiguous);
- Catalyst phase times come from the ``QueryPlanningTracker`` of the frame
  the action runs, after forcing ``executedPlan()`` on it;
- job, stage and task metrics come from the JVM status store, scoped to the
  job group the query ran under, read right after the query's action and
  outside its wall.

A query's wall is split into parts that do not overlap: ``plans.build_s``
(the query call minus the staging and frame builds inside it),
``stage.fit_write_s``, ``memo.frame_build_s``, ``catalyst.plan_s`` (forcing
the physical plan of the digest frame), ``exec.action_s`` and
``trace.unattributed_s``, the rest: building the digest frame and reading
the planning tracker. Where a frame build and a staging write
overlap, the overlap counts as staging.

``Tracer.close`` restores the original registries and client.
"""

from __future__ import annotations

import os
import time

PHASES = ("analysis", "optimization", "planning")


class _Recorder(dict):
    """A registry dict that also appends every write to a shared log."""

    def __init__(self, registry: str, log: list, initial: dict):
        super().__init__(initial)
        self._registry = registry
        self._log = log

    def __setitem__(self, key, value):
        self._log.append((time.perf_counter(), self._registry, key, value))
        super().__setitem__(key, value)

    def setdefault(self, key, value=None):
        self._log.append((time.perf_counter(), self._registry, key, value))
        return super().setdefault(key, value)


def _union(spans: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for s, e in sorted(spans):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _length(spans: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in spans)


def _minus(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of the merged intervals ``a`` that the merged ``b`` does not cover."""
    out = []
    for s, e in a:
        for bs, be in b:
            if be <= s or bs >= e:
                continue
            if bs > s:
                out.append((s, bs))
            s = max(s, be)
        if s < e:
            out.append((s, e))
    return out


def _clip(spans, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in spans if e > lo and s < hi]


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class Tracer:
    """Collects one layer record and a span list per query."""

    def __init__(self, run_id: str, t_origin: float):
        from pyspark import SparkContext

        from portofolio_maximizer_spark.plans import queries as Q

        self.run_id = run_id
        self.t_origin = t_origin
        self.log: list = []
        self.spans: list[dict] = []
        self._stage_root = Q.stage_root
        self._modules = [
            (Q, "STAGE_EVENTS"),
            (Q, "STAGE_TIMES"),
            (Q, "FRAME_BUILDS"),
        ]
        self._originals = [getattr(m, a) for m, a in self._modules]
        for (m, a), orig in zip(self._modules, self._originals):
            setattr(m, a, _Recorder(a, self.log, orig))
        # the py4j gateway outlives every session of the process
        self._client = SparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self.calls = 0

        def counting_send(*args, **kwargs):
            self.calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counting_send

    def attach(self, spark) -> None:
        """Read job and stage metrics from this session's status store."""
        self.sc = spark.sparkContext
        store = self.sc._jsc.sc().statusStore()
        self._store = store
        self._bus = self.sc._jsc.sc().listenerBus()
        # Scala default arguments surface as $default$N accessors in py4j
        self._stage_defaults = [
            getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)
        ]
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def close(self) -> None:
        for (m, a), orig in zip(self._modules, self._originals):
            orig.update(getattr(m, a))
            setattr(m, a, orig)
        self._client.send_command = self._send

    # -- per query -----------------------------------------------------

    def begin(self, group: str, name: str) -> dict:
        """Open the query's job group; mark the log and the call count."""
        self.sc.setJobGroup(group, name)
        return {"group": group, "log_start": len(self.log), "calls_start": self.calls}

    def built(self, mark: dict) -> None:
        mark["calls"] = self.calls - mark.pop("calls_start")

    def plan(self, frame) -> dict:
        """Force the physical plan of the frame the action will run and
        read its Catalyst phase times."""
        qe = frame._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.executedPlan()
        out = {"catalyst.plan_s": time.perf_counter() - t0}
        phases = qe.tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            out[f"catalyst.{p}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
        return out

    def end(self, mark: dict, name: str, pass_no: int, t: dict, rec: dict) -> None:
        """Close the query: attribute its registry writes and read the
        status store for its job group. ``t`` holds the perf_counter
        marks ``start``, ``built``, ``planned`` and ``done``; ``rec``
        already holds what ``plan`` returned."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(self._registry_writes(mark["log_start"], len(self.log), t["start"], t["built"]))
        build_wall = t["built"] - t["start"]
        rec["plans.build_s"] = build_wall - rec["stage.fit_write_s"] - rec["memo.frame_build_s"]
        rec["plans.py4j_calls"] = mark["calls"]
        rec["exec.action_s"] = t["done"] - t["planned"]
        wall = t["done"] - t["start"]
        rec["trace.unattributed_s"] = wall - sum(
            rec[k]
            for k in (
                "plans.build_s",
                "stage.fit_write_s",
                "memo.frame_build_s",
                "catalyst.plan_s",
                "exec.action_s",
            )
        )
        # the listener bus delivers task events asynchronously; drain it
        # before reading, outside the query's wall
        self._bus.waitUntilEmpty()
        rec.update(self._exec_metrics(mark["group"]))
        rec["stage.written_mb"] = sum(
            _dir_mb(os.path.join(self._stage_root(key.rsplit("/", 1)[0]), key.rsplit("/", 1)[1]))
            for key in rec.pop("staged")
        )
        for part, s, e in (
            ("build", t["start"], t["built"]),
            ("digest_and_plan", t["built"], t["planned"]),
            ("action", t["planned"], t["done"]),
        ):
            self._span(name, pass_no, part, None, s, e)
        for part, key, s, e in rec.pop("spans"):
            self._span(name, pass_no, part, key, s, e)
        self._span(name, pass_no, "query", None, t["start"], t["done"])

    def _span(self, query: str, pass_no: int, part: str, key, s, e) -> None:
        self.spans.append(
            {
                "run": self.run_id,
                "query": query,
                "pass": pass_no,
                "span": part,
                "key": None if key is None else str(key),
                "start_s": None if s is None else round(s - self.t_origin, 6),
                "end_s": round(e - self.t_origin, 6),
            }
        )

    def _registry_writes(self, start: int, stop: int, lo: float, hi: float) -> dict:
        """Sum the registry writes logged while one query was in flight."""
        rec = {
            "stage.misses": 0,
            "stage.hits": 0,
            "memo.frame_builds": 0,
            "staged": [],
            "spans": [],
        }
        stages, frames = [], []
        for t, reg, key, value in self.log[start:stop]:
            if reg == "STAGE_EVENTS":
                rec["stage.misses" if value == "miss" else "stage.hits"] += 1
            elif reg == "STAGE_TIMES":
                stages.append((t - value, t))
                rec["staged"].append(key)
                rec["spans"].append(("stage", key, t - value, t))
            elif reg == "FRAME_BUILDS":
                rec["memo.frame_builds"] += 1
                frames.append((t - value, t))
                rec["spans"].append(("frame_build", key, t - value, t))
        # registry times are rounded wall-clock durations: clip them to the
        # query call, and count time covered by both kinds once, as staging
        stage_iv = _clip(_union(stages), lo, hi)
        frame_iv = _minus(_clip(_union(frames), lo, hi), stage_iv)
        rec["stage.fit_write_s"] = _length(stage_iv)
        rec["memo.frame_build_s"] = _length(frame_iv)
        return rec

    def _exec_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group) or []
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise RuntimeError(f"job {jid} of {group} left the status store")
            stage_ids.update(info.stageIds)
        m = {
            "exec.jobs": len(jobs),
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.run_s": 0.0,
            "exec.cpu_s": 0.0,
            "exec.gc_s": 0.0,
            "exec.shuffle_read_mb": 0.0,
            "exec.shuffle_write_mb": 0.0,
            "exec.spill_mb": 0.0,
            "exec.peak_task_mem_mb": 0.0,
            "exec.task_skew": 1.0,
        }
        for sid in sorted(stage_ids):
            seq = self._store.stageData(sid, *self._stage_defaults)
            for i in range(seq.size()):
                att = seq.apply(i)
                if str(att.status()) == "SKIPPED":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += att.numCompleteTasks()
                m["exec.run_s"] += att.executorRunTime() / 1e3
                m["exec.cpu_s"] += att.executorCpuTime() / 1e9
                m["exec.gc_s"] += att.jvmGcTime() / 1e3
                m["exec.shuffle_read_mb"] += att.shuffleReadBytes() / 1e6
                m["exec.shuffle_write_mb"] += att.shuffleWriteBytes() / 1e6
                m["exec.spill_mb"] += (att.memoryBytesSpilled() + att.diskBytesSpilled()) / 1e6
                dist = self._store.taskSummary(sid, att.attemptId(), self._quantiles)
                if dist.isDefined():
                    d = dist.get()
                    m["exec.peak_task_mem_mb"] = max(
                        m["exec.peak_task_mem_mb"], d.peakExecutionMemory().apply(1) / 1e6
                    )
                    med, top = d.executorRunTime().apply(0), d.executorRunTime().apply(1)
                    if att.numCompleteTasks() > 1 and med > 0:
                        m["exec.task_skew"] = max(m["exec.task_skew"], top / med)
        return m
