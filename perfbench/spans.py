"""Spans around the benchmark's calls into each layer, and their Spark cost.

A span records name, start, end and parent. With tracing on, entering a
span also sets the Spark job group to the span's id, so every job the layer
submits is tagged; after the session stops, the event log's job and task
records are attributed to spans by job group (``attribute``). The
``plans.iterate`` probe (``install_iterate_probe``) wraps the iteration
driver and the step/stop callbacks it receives, from the benchmark's side,
and is installed in traced runs only.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import statistics
import time
from contextlib import contextmanager

OUTSIDE = "perfbench-outside-spans"


class Tracer:
    """In-memory span recorder. ``sc`` is set only when tracing is on."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "traced": self.enabled, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setJobGroup(OUTSIDE, OUTSIDE)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    def subtree(self, sid: int) -> set[int]:
        """The span and all its descendants."""
        out = {sid}
        for rec in self.spans[sid + 1:]:
            if rec["parent"] in out:
                out.add(rec["id"])
        return out


def install_iterate_probe(tracer: Tracer) -> None:
    """Wrap ``plans.iterate.iterate`` (and the name the PageRank module
    imported) in a ``plans.iterate`` span that records, per round, its
    start and the time spent inside the step and stop callbacks."""
    import webgraph_spark.algos.pagerank as pagerank_mod
    import webgraph_spark.plans.iterate as iterate_mod

    original = iterate_mod.iterate

    def iterate(spark, state0, step, max_iter, checkpoint_dir=None, run_id="run", stop=None):
        if not tracer.enabled:
            return original(spark, state0, step, max_iter,
                            checkpoint_dir=checkpoint_dir, run_id=run_id, stop=stop)
        rounds: list[dict] = []

        def step_probe(state, k):
            rec = {"start": time.time(), "step_s": 0.0, "stop_s": 0.0}
            rounds.append(rec)
            t = time.perf_counter()
            try:
                return step(state, k)
            finally:
                rec["step_s"] = time.perf_counter() - t

        def timed_stop(*args):
            t = time.perf_counter()
            try:
                return stop(*args)
            finally:
                rounds[-1]["stop_s"] = time.perf_counter() - t

        stop_probe = None
        if stop is not None:
            # iterate() dispatches on the callback's arity, so keep it
            if len(inspect.signature(stop).parameters) >= 3:
                def stop_probe(obs_metrics, k, state):
                    return timed_stop(obs_metrics, k, state)
            else:
                def stop_probe(obs_metrics, k):
                    return timed_stop(obs_metrics, k)

        with tracer.span("plans.iterate", rounds=rounds) as rec:
            out = original(spark, state0, step_probe, max_iter,
                           checkpoint_dir=checkpoint_dir, run_id=run_id, stop=stop_probe)
        ends = [r["start"] for r in rounds[1:]] + [rec["end"]]
        for r, end in zip(rounds, ends):
            r["round_s"] = end - r["start"]
        return out

    iterate_mod.iterate = iterate
    pagerank_mod.iterate = iterate


# ------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Jobs ``{id: {group, start, end, ok}}`` and task records
    from the single application log under ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1e3, "end": None, "ok": False}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs[ev["Job ID"]]
                job["end"] = ev["Completion Time"] / 1e3
                job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                    "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                    "exec_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / 2**20,
                })
    return jobs, tasks


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(tracer: Tracer, jobs: dict, tasks: list[dict]) -> None:
    """Add Spark cost to every span, inclusive of its child spans:
    ``jobs``, ``tasks``, ``failed_tasks``, summed task ``exec_cpu_s``
    (JVM only), ``gc_s``, ``fetch_wait_s``, ``shuffle_write_mb``, ``spill_mb``;
    ``driver_s`` = span wall minus the union of its job intervals; and
    ``task_skew`` = max / median task time in its heaviest stage."""
    by_group: dict[str, list[int]] = {}
    for jid, job in jobs.items():
        by_group.setdefault(job["group"], []).append(jid)
    tasks_by_job: dict[int, list[dict]] = {}
    for t in tasks:
        tasks_by_job.setdefault(t["job"], []).append(t)

    for rec in tracer.spans:
        jids = [j for sid in tracer.subtree(rec["id"]) for j in by_group.get(f"span-{sid}", [])]
        ts = [t for j in jids for t in tasks_by_job.get(j, [])]
        wall = rec["end"] - rec["start"]
        busy = _union_s([
            (max(jobs[j]["start"], rec["start"]), min(jobs[j]["end"] or rec["end"], rec["end"]))
            for j in jids
        ])
        stages: dict = {}
        for t in ts:
            stages.setdefault(t["stage"], []).append(t["dur_s"])
        heaviest = max(stages.values(), key=sum, default=[])
        rec["spark"] = {
            "jobs": len(jids),
            "failed_jobs": sum(not jobs[j]["ok"] for j in jids),
            "tasks": len(ts),
            "failed_tasks": sum(t["failed"] for t in ts),
            "wall_s": wall,
            "driver_s": max(0.0, wall - busy),
            **{k: sum(t[k] for t in ts) for k in
               ("exec_cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_mb", "spill_mb")},
            "task_skew": (max(heaviest) / statistics.median(heaviest)
                          if heaviest and statistics.median(heaviest) > 0 else 1.0),
        }
