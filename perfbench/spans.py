"""Spans and Spark stage metrics for the traced run.

Spans wrap public calls of the program from the benchmark's own code:
the benchmark's call sites, and — for calls the program makes to itself
(``apply_batch`` → ``LakeTable.merge`` → ``commitlog.commit_snapshot``)
— wrappers installed on the module or class attribute for the length of
the traced run. Each span runs its Spark jobs under its own job group,
so the stage metrics read back per group are that span's own work (a
child span's jobs land in the child's group). Spans live in memory and
are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"

STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.cost_s = 0.0  # time spent in span bookkeeping, all threads

    @contextmanager
    def span(self, name: str, batch: str | None = None):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": parent["id"] if parent else None,
                "batch": batch if batch is not None else (parent or {}).get("batch"),
                "group": f"perfbench-span-{sid}",
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        stack.append(rec)
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            rec["end"] = time.perf_counter()
            with self._lock:
                self.cost_s += (t_body - t_in) + (rec["end"] - t_out)

    def wrap(self, owner, attr: str, name: str, batch_arg: str | None = None,
             on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``uninstall``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            batch = _bound_arg(fn, batch_arg, args, kwargs) if batch_arg else None
            with self.span(name, batch) as rec:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    rec["error"] = type(e).__name__
                    raise
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def collect_stage_metrics(self) -> None:
        """Attach each span's own Spark job/stage totals (its job group)."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tot = stage_totals(self.sc, stages)
            tot["spark_jobs"] = len(jobs)
            rec["stages"] = tot

    def self_ms(self, rec: dict) -> float:
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return (rec["end"] - rec["start"] - kids) * 1000.0


def stage_totals(sc, stage_ids) -> dict:
    """Sum of the last attempt's metrics over ``stage_ids`` (stages that
    never ran, e.g. skipped by shuffle reuse, count as zero)."""
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    tot["stages"] = 0
    tot["map_run_ms"] = 0  # stages that end in a shuffle write
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(int(sid))
        except Exception:  # noqa: BLE001 — py4j NoSuchElement for unrun stages
            continue
        tot["stages"] += 1
        vals = {k: int(getattr(sd, jname)()) for k, jname in STAGE_FIELDS.items()}
        for k, v in vals.items():
            tot[k] += v
        if vals["shuffle_write_bytes"]:
            tot["map_run_ms"] += vals["executor_run_ms"]
    return tot


def all_stage_ids(sc) -> set[int]:
    """Ids of every stage of every job the status store holds."""
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    ids = set()
    for i in range(jobs.size()):
        stages = jobs.apply(i).stageIds()
        ids.update(int(stages.apply(k)) for k in range(stages.size()))
    return ids


def _bound_arg(fn, name: str, args, kwargs):
    """Value of parameter ``name`` in a call of ``fn``, positional or not."""
    try:
        return inspect.signature(fn).bind_partial(*args, **kwargs).arguments.get(name)
    except TypeError:
        return kwargs.get(name)
