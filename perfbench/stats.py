"""Small, Spark-free helpers the workloads share (and the self-tests cover)."""

from __future__ import annotations

import ast
import os
import statistics

TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, sample_count)``: the sample at 0-based rank
    ``n - TAIL_BEYOND - 1`` of the sorted values, which is the
    ``100·(n-TAIL_BEYOND)/n`` percentile.  Needs more than ``TAIL_BEYOND``
    samples."""
    n, k = len(values), TAIL_BEYOND
    if n <= k:
        raise ValueError(f"a tail with {k} samples beyond needs more than {k} samples, got {n}")
    return float(sorted(values)[n - k - 1]), 100.0 * (n - k) / n, n


def offsets(progress_offsets) -> dict[str, int]:
    """A progress ``startOffset``/``endOffset`` as ``{"topic,partition": n}``.
    Spark reports a Python source's offset as the ``repr`` of its dict (a
    JSON object for JVM sources); ``None`` before the first batch."""
    if progress_offsets is None:
        return {}
    if isinstance(progress_offsets, str):
        progress_offsets = ast.literal_eval(progress_offsets)
    return {k: int(v) for k, v in progress_offsets.items()}


def commit_times(progress: list[dict]) -> list[tuple[float, dict[str, int], dict[str, int]]]:
    """Per micro-batch that admitted records: ``(commit_epoch_s, start, end)``
    where commit = progress ``timestamp`` + ``durationMs.triggerExecution``."""
    from datetime import datetime

    out = []
    for p in progress:
        src = p["sources"][0]
        start, end = offsets(src.get("startOffset")), offsets(src.get("endOffset"))
        if end == start:
            continue
        t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append((t0 + p["durationMs"]["triggerExecution"] / 1000.0, start, end))
    return out


def freshness(
    sends: dict[tuple[str, int], list[tuple[int, float]]],
    batches: list[tuple[float, dict[str, int], dict[str, int]]],
) -> tuple[list[float], int]:
    """Event freshness from committed micro-batches.

    ``sends`` maps ``(topic, partition)`` to ``[(offset, due_epoch_s)]``;
    an event lands with the first batch whose end offset for its partition
    is past its offset, and its freshness is that batch's commit time minus
    the time the event was due to be sent.  Returns the freshness samples
    and the number of events that never landed."""
    ordered = sorted(batches, key=lambda b: b[0])
    out: list[float] = []
    missing = 0
    for (topic, part), evs in sends.items():
        tp = f"{topic},{part}"
        for off, due in evs:
            commit = next((c for c, _s, e in ordered if e.get(tp, 0) > off), None)
            if commit is None:
                missing += 1
            else:
                out.append(commit - due)
    return out, missing


def lww_mismatches(model: dict[str, dict], landed: dict[str, dict], fields: list[str]) -> int:
    """Keys whose landed row differs from the last-write-wins model on any
    of ``fields`` (a key missing on either side counts once)."""
    bad = sum(1 for k in model.keys() ^ landed.keys())
    for k in model.keys() & landed.keys():
        want, got = model[k], landed[k]
        if any(want.get(f) != got.get(f) for f in fields):
            bad += 1
    return bad


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of process
    ``root`` and every live descendant: the driver, its JVM and the JVM's
    Python workers.  Time the host's hypervisor steals is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listdir and open
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")
