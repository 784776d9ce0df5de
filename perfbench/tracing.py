"""Layer spans around the engine's entry points, plus Spark's counters.

The traced run wraps module attributes of the package at run time (the
package source is never edited) and opens a span around every call into a
layer: name, start, end, parent span, operation id, thread.  Spans stay in
memory.  At the end of the run the Spark status store is dumped once (every
job with its submission time and stages, every stage with its run time,
shuffle and spill counters) and each job is charged to the innermost
span open when it was submitted, so a layer's jobs are its own and not its
children's.

The untraced run uses ``Tracer(enabled=False)``: ``span`` returns a shared
no-op context and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

_NOOP = contextlib.nullcontext()


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: int
    phase: str
    attrs: dict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "warm"  # the workload sets "measure" when timing starts
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def _open(self, name: str, op: str | None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(next(self._ids), name, time.time(), 0.0, parent.id if parent else None,
                  op if op is not None else (parent.op if parent else None),
                  threading.get_ident(), self.phase, {})
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.spans.append(sp)

    def span(self, name: str, op: str):
        """Context manager around one call into a layer (no-op untraced)."""
        return self._open(name, op) if self.enabled else _NOOP

    def wrap(self, module, attr: str, name: str, observe=None) -> None:
        """Replace ``module.attr`` with a spanned twin for the rest of the
        run.  ``observe(args, kwargs)`` runs before the call and returns a
        function that gets the closed span, to record what the call did."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            done = observe(args, kwargs) if observe is not None else None
            with self._open(name, None) as sp:
                out = fn(*args, **kwargs)
            if done is not None:
                done(sp)
            return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()


def dir_bytes(root: str) -> int:
    return sum(_files(root).values())


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def observe_upsert(args, kwargs):
    """Before/after listing of an ``upsert_parquet`` table: which bucket
    directories got new files and how many rows those files hold."""
    import pyarrow.parquet as pq

    path = kwargs.get("path", args[2] if len(args) > 2 else None)
    before = _files(path)

    def done(sp: Span) -> None:
        new = _files(path).keys() - before.keys()
        sp.attrs["buckets_touched"] = len({os.path.dirname(p) for p in new})
        sp.attrs["rows_written"] = sum(pq.read_metadata(p).num_rows for p in new)

    return done


def spark_status(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the status store still holds, as JSON (two
    gateway calls, so the dump costs the same for 10 jobs or 10,000)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$"))
    d = lambda i: getattr(store, f"stageList$default${i}")()  # noqa: E731
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, d(2), d(3), d(4), d(5))))
    return jobs, {s["stageId"]: s for s in stages if s["attemptId"] == 0}


STATUS_CONF = {
    # keep every job and stage of a run in the status store for the dump
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def charge_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """Map span id → jobs submitted while it was the innermost open span."""
    out: dict[int, list[dict]] = {}
    by_start = sorted(spans, key=lambda s: s.start)
    for job in jobs:
        t = job["submissionTime"] / 1000.0 if job.get("submissionTime") else None
        if t is None:
            continue
        inner = None
        for sp in by_start:
            if sp.start > t:
                break
            if sp.end >= t:
                inner = sp  # later start ⇒ deeper (spans nest per thread)
        if inner is not None:
            out.setdefault(inner.id, []).append(job)
    return out


@dataclass
class Layer:
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


def layers(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> dict[str, Layer]:
    """Per span name, over the measured phase: calls, inclusive wall, self
    time (wall minus the part its child spans cover) and the Spark counters
    of its own jobs."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    charged = charge_jobs(spans, jobs)
    out: dict[str, Layer] = {}
    for sp in spans:
        if sp.phase != "measure":
            continue
        lay = out.setdefault(sp.name, Layer())
        lay.calls += 1
        wall = sp.end - sp.start
        lay.wall_s += wall
        lay.self_s += wall - sum(c.end - c.start for c in children.get(sp.id, []))
        for job in charged.get(sp.id, []):
            lay.jobs += 1
            for sid in job["stageIds"]:
                st = stages.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                lay.stages += 1
                lay.tasks += st["numTasks"]
                lay.run_ms += st["executorRunTime"]
                lay.shuffle_write_bytes += st["shuffleWriteBytes"]
                lay.shuffle_read_bytes += st["shuffleReadBytes"]
                lay.spill_bytes += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


def dump(path: str, spans: list[Span], jobs: list[dict], stages: dict[int, dict], extra: dict) -> None:
    """Write spans, jobs, stage counters and the per-layer rollup."""
    keep = ("stageId", "numTasks", "executorRunTime", "shuffleWriteBytes", "shuffleReadBytes",
            "memoryBytesSpilled", "diskBytesSpilled", "status")
    doc = {
        "spans": [asdict(s) for s in spans],
        "jobs": [{k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime", "completionTime", "stageIds")} for j in jobs],
        "stages": [{k: s.get(k) for k in keep} for s in stages.values()],
        "layers": {k: asdict(v) for k, v in layers(spans, jobs, stages).items()},
        **extra,
    }
    with open(path, "w") as f:
        json.dump(doc, f, default=str)
