"""cdc_stream — the reference's streaming CDC path, open loop.

One generator thread appends seeded Mongo-style change events to a topic of
the file-backed Kafka twin (``sources.kafkalog``) at a fixed rate; the engine
consumes them through ``cdc.kafka_log_stream`` + ``cdc.start_cdc``
(processingTime trigger, fixed ``maxOffsetsPerTrigger``), normalizing each
topic and LWW-upserting it into bucketed parquet.

``WARM_BATCHES`` warm batches run first, untimed: the first batch after a
start is admitted uncapped, and the JVM compiles the batch path through
the first two.  Then the load phase sends
``RATE × --seconds`` events on schedule, the benchmark waits until every
offset is committed, and stops the query.  Freshness of an event runs from
its scheduled send time to the commit of the micro-batch holding its offset
(progress ``timestamp`` + ``durationMs.triggerExecution``).  Checks, untimed:
every event landed, each topic's table (``read_upserted``) equals the
generator's last-write-wins model, and the dead-letter rows equal the
poison messages sent.

One topic, not several: each topic costs a full pass of the per-topic
routing loop per micro-batch (about 4 s on a 4-core host), and a run must
stay near a minute.
"""

from __future__ import annotations

import glob
import math
import os
import threading
import time

import pyarrow.parquet as pq

import gen
import tracing
from stats import commit_times, freshness, lww_mismatches, median, offsets, tail, tree_cpu_s

TOPICS = ["orders"]
PARTITIONS = 2
RATE = 30.0              # events/s: about half of MAX_OFFSETS per batch wall at the parent
MAX_OFFSETS = 300        # maxOffsetsPerTrigger
TRIGGER_S = 1
WARM_EVENTS = 20         # per warm batch
WARM_BATCHES = 2
DRAIN_TIMEOUT_S = 60.0
CHECK_FIELDS = ["seq", "amount", "status", "tier"]


class Generator(threading.Thread):
    """Open-loop producer: sends each event at its due time, however far the
    engine lags, and records (partition, offset, due time) per event."""

    def __init__(self, producer, events: list[gen.Event], t0: float):
        """Event ``ev`` is due at ``t0 + ev.due_s`` (epoch seconds)."""
        super().__init__(daemon=True)
        self.producer, self.events, self.t0 = producer, events, t0
        self.sends: dict[tuple[str, int], list[tuple[int, float]]] = {}
        self.late_max_s = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for ev in self.events:
                due = self.t0 + ev.due_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late_max_s = max(self.late_max_s, time.time() - due)
                part, off = self.producer.send(ev.topic, ev.value, key=ev.key)
                self.sends.setdefault((ev.topic, part), []).append((off, due))
        except BaseException as e:  # surfaced by the main thread after join
            self.error = e


def _committed(query) -> dict[str, int]:
    p = query.lastProgress
    return offsets(p["sources"][0].get("endOffset")) if p else {}


def _wait_committed(query, end: dict[str, int], timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        done = _committed(query)
        if all(done.get(tp, 0) >= n for tp, n in end.items()):
            return True
        time.sleep(0.1)
    return False


def instrument(tr) -> None:
    """Spans around the stream's calls into normalizer and upsert."""
    from oltp_to_data_warehouse_pipeline_spark.streaming import cdc, normalizer

    tr.wrap(cdc, "process_microbatch", "cdc.batch")
    tr.wrap(cdc, "upsert_parquet", "upsert", observe=tracing.observe_upsert)
    tr.wrap(normalizer, "infer_schema", "normalizer.infer")
    tr.wrap(normalizer, "normalize", "normalizer.normalize")


def run(ctx) -> dict:
    from oltp_to_data_warehouse_pipeline_spark.sources.kafkalog import LogProducer, _end_offsets
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted
    from oltp_to_data_warehouse_pipeline_spark.streaming import cdc

    spark = ctx.spark
    log_dir, out_dir = os.path.join(ctx.work, "log"), os.path.join(ctx.work, "cdc")
    n = int(RATE * ctx.seconds)
    n_warm = WARM_BATCHES * WARM_EVENTS
    events = gen.cdc_events(ctx.seed, TOPICS, n_warm + n, RATE)
    load = events[n_warm:]
    producer = LogProducer(log_dir, PARTITIONS)
    query = None
    try:
        for b in range(WARM_BATCHES):
            for ev in events[b * WARM_EVENTS:(b + 1) * WARM_EVENTS]:
                producer.send(ev.topic, ev.value, key=ev.key)
            if query is None:
                stream = cdc.kafka_log_stream(spark, log_dir, TOPICS, max_offsets_per_trigger=MAX_OFFSETS)
                query = cdc.start_cdc(spark, stream, out_dir, os.path.join(ctx.work, "checkpoint"),
                                      trigger_seconds=TRIGGER_S)
            if not _wait_committed(query, _end_offsets(log_dir, TOPICS), DRAIN_TIMEOUT_S):
                raise RuntimeError(f"warm batch {b} did not commit")
            ctx.log(f"warm batch {b} committed")
        ctx.tracer.phase = "measure"
        warm_batches = len(query.recentProgress)
        # the processingTime trigger fires on whole seconds: start the load
        # half a second past one, so every run meets the trigger in the
        # same phase
        t0 = math.floor(time.time()) + 1.5
        g = Generator(producer, load, t0 - load[0].due_s)
        c0 = tree_cpu_s(os.getpid())
        g.start()
        g.join()
        if g.error is not None:
            raise g.error
        end = _end_offsets(log_dir, TOPICS)
        done = _committed(query)
        backlog = sum(end[tp] - done.get(tp, 0) for tp in end)
        drained = _wait_committed(query, end, DRAIN_TIMEOUT_S)
        cpu = tree_cpu_s(os.getpid()) - c0
        ctx.log(f"load phase sent {n} events, drained={drained}")
        progress = query.recentProgress[warm_batches:]
    finally:
        if query is not None:
            cdc.shutdown(query, drain=False)

    batches = commit_times(progress)
    fresh, missing = freshness(g.sends, batches)
    ctx.count(len(load), missing, f"{missing} events never landed")

    model = gen.lww_model(events)
    for topic in TOPICS:
        rows = read_upserted(spark, os.path.join(out_dir, topic)).select("kafka_primary_key", *CHECK_FIELDS).collect()
        landed = {r["kafka_primary_key"]: {f: r[f] for f in CHECK_FIELDS} for r in rows}
        want = {k: {f: v.get(f) for f in CHECK_FIELDS} for k, v in model[topic].items()}
        bad = lww_mismatches(want, landed, CHECK_FIELDS)
        ctx.check(bad == 0, f"{topic}: {bad} keys differ from the last-write-wins model")
    poison = sum(ev.key is None for ev in events)
    dead = sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{out_dir}/_dead_letter/*/*.parquet"))
    ctx.check(dead == poison, f"{dead} dead-letter rows, {poison} poison messages sent")

    admitted = [sum(e.get(tp, 0) - s.get(tp, 0) for tp in e) for _c, s, e in batches]
    walls = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress if p["numInputRows"]]
    ctx.note(
        batches=len(batches), batch_walls=walls, rows_per_batch=sum(admitted) / max(len(admitted), 1),
        add_batch_frac=sum(p["durationMs"].get("addBatch", 0) for p in progress)
        / max(sum(p["durationMs"]["triggerExecution"] for p in progress), 1),
        source_reads_per_row=sum(p["numInputRows"] for p in progress) / max(sum(admitted), 1),
        backlog_end=backlog, dead_letter_rows=dead, late_max_s=g.late_max_s,
        incoming_rows=sum(admitted) - sum(ev.key is None for ev in load),
    )
    tail_v, tail_p, n_fresh = tail(fresh)
    ctx.note(op_p50_s=median(fresh), op_tail_s=tail_v, op_tail_percentile=tail_p, op_samples=n_fresh)
    return {"op_s": median(fresh), "cycle_s": median(walls),
            "op_cpu_s": cpu / len(load), "cycle_cpu_s": cpu / max(len(batches), 1)}


def layer_metrics(ctx, spans: list, lay: dict) -> dict:
    nb = max(ctx.notes["batches"], 1)
    return {
        "cdc.batches": ctx.notes["batches"],
        "cdc.batch_s": median(ctx.notes["batch_walls"]),
        "cdc.add_batch_frac": ctx.notes["add_batch_frac"],
        "cdc.rows_per_batch": ctx.notes["rows_per_batch"],
        "cdc.jobs_per_batch": sum(lay[k].jobs for k in lay if k.startswith(("cdc.", "upsert", "normalizer."))) / nb,
        "cdc.source_reads_per_row": ctx.notes["source_reads_per_row"],
        "cdc.backlog_end": ctx.notes["backlog_end"],
        "cdc.dead_letter_rows": ctx.notes["dead_letter_rows"],
        "gen.late_max_s": ctx.notes["late_max_s"],
    }
