"""Benchmark-side tracing: spans around calls into the program's modules.

Installed only for ``--trace 1`` runs. :meth:`Tracer.patch` replaces a
public function (or method) with a wrapper that opens a span; every
span puts its own Spark job group around the call, so the jobs, stages,
tasks, executor time, shuffle bytes and spill a call causes are
attributed to the innermost span that was open when Spark ran them.

Spans stay in memory (name, start, end, parent, attributes, job ids)
and are written out when the run ends. Each thread keeps its own stack
of open spans, and every span restores the job group that was current
on its thread when it opened. A span opened on a thread that PySpark
started with ``InheritableThread`` (the stream sink computes its
signatures on one) takes as parent the span whose job group the thread
inherited, so its jobs still count inside the operation. Stage counters are read from
the status store by :meth:`Tracer.resolve`, which the workloads call
between operations, outside any timed region.

Attribution is by call, not by work: DataFrames are lazy, so a call
that runs an action also pays for every upstream transformation built
before it. In the stream sink, for example, the ``pairs`` upsert
executes the whole candidate and verification plan built earlier in the
batch, so its time is the verification's time.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

_STAGE_FIELDS = (
    ("tasks", "numCompleteTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spill_mb", "diskBytesSpilled", 1 / 2**20),
)
COUNTERS = ("jobs", "stages") + tuple(f for f, _, _ in _STAGE_FIELDS)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._seq = 0
        self._seen_stages: set[int] = set()
        # wall time spent in span bookkeeping (entering and leaving
        # spans, job-group switches) — the part of tracing that lands
        # inside timed regions
        self.overhead_s = 0.0

    # ---- spans ----
    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        self._seq += 1
        stack = self._stack()
        # job groups are thread-local Spark properties; a thread that
        # PySpark started with ``InheritableThread`` inherits its
        # parent's group, which names the span it was started under
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        if stack:
            parent = stack[-1]["id"]
        elif prev_group and prev_group.startswith("perfbench-"):
            parent = int(prev_group.removeprefix("perfbench-"))
        else:
            parent = None
        rec = {"id": self._seq, "name": name, "parent": parent, "thread": threading.get_ident(), **attrs}
        group = f"perfbench-{rec['id']}"
        stack.append(rec)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec["start"], rec["end"] = t0, t1
            rec["job_ids"] = [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group)]
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def patch(self, owner, attr: str, name: str, attrs=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``; ``attrs(args,
        kwargs)`` may add attributes such as the table name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs(args, kwargs) if attrs else {})):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    # ---- counters ----
    def resolve(self) -> None:
        """Attach job/stage counters to every span closed since the last
        call. Each stage counts once, in the first job that ran it;
        skipped stages (reused shuffle output) count nowhere."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            c = dict.fromkeys(COUNTERS, 0.0)
            c["jobs"] = len(rec["job_ids"])
            for jid in rec["job_ids"]:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    c["stages"] += 1
                    for key, getter, scale in _STAGE_FIELDS:
                        c[key] += getattr(sd, getter)() * scale
            rec.update(c)

    # ---- span-tree queries ----
    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["parent"], []).append(rec)
        return out

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict, kids: dict) -> float:
        """Span duration minus the part its child spans on the same
        thread cover. Spans of one thread nest strictly, so those
        children never overlap; a child on another thread overlaps the
        parent in time and is not subtracted."""
        return self.duration(rec) - sum(
            self.duration(k) for k in kids.get(rec["id"], ()) if k["thread"] == rec["thread"]
        )

    def inclusive(self, rec: dict, key: str, kids: dict) -> float:
        """A counter summed over the span and all its descendants, on
        any thread: each job runs in exactly one span's group, so the
        sum counts every job once."""
        return rec.get(key, 0.0) + sum(self.inclusive(k, key, kids) for k in kids.get(rec["id"], ()))

    def ancestors(self, rec: dict, same_thread: bool = False) -> list[dict]:
        by_id = {r["id"]: r for r in self.spans}
        out, p = [], rec["parent"]
        while p is not None and p in by_id:
            if same_thread and by_id[p]["thread"] != rec["thread"]:
                break
            out.append(by_id[p])
            p = by_id[p]["parent"]
        return out

    def dump(self) -> list[dict]:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        return [
            {**r, "start": round(r["start"] - t0, 6), "end": round(r["end"] - t0, 6)}
            for r in sorted(self.spans, key=lambda r: r["id"])
        ]
