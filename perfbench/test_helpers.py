"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pytest

import gen
from stats import commit_times, freshness, lww_mismatches, offsets, tail


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = tail(values)
    assert n == 40
    assert value == 30.0  # 31..40 are the ten beyond it
    assert pct == 75.0
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order_and_needs_enough_samples():
    assert tail([5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0])[0] == 1.0
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_offsets_reads_python_source_repr_and_json():
    assert offsets("{'a,0': 3, 'b,1': 7}") == {"a,0": 3, "b,1": 7}
    assert offsets({"a,0": "4"}) == {"a,0": 4}
    assert offsets(None) == {}


def _progress(ts: str, trigger_ms: int, start, end) -> dict:
    return {"timestamp": ts, "durationMs": {"triggerExecution": trigger_ms},
            "sources": [{"startOffset": start, "endOffset": end}]}


def test_freshness_maps_each_offset_to_the_batch_that_committed_it():
    progress = [
        _progress("2026-01-01T00:00:10.000Z", 2000, None, "{'t,0': 2}"),
        _progress("2026-01-01T00:00:13.000Z", 1000, "{'t,0': 2}", "{'t,0': 2}"),  # empty batch
        _progress("2026-01-01T00:00:20.000Z", 4000, "{'t,0': 2}", "{'t,0': 5}"),
    ]
    batches = commit_times(progress)
    assert len(batches) == 2  # the batch that admitted nothing is no commit
    base = batches[0][0] - 12.0  # epoch of 00:00:00
    sends = {("t", 0): [(0, base + 1.0), (1, base + 2.0), (2, base + 11.0), (4, base + 20.0), (5, base + 21.0)]}
    fresh, missing = freshness(sends, batches)
    assert fresh == pytest.approx([11.0, 10.0, 13.0, 4.0])  # commits at 12 s and 24 s
    assert missing == 1  # offset 5 is past every committed end offset


def test_lww_model_keeps_the_last_write_per_key_and_skips_poison():
    events = gen.cdc_events(seed=3, topics=["a", "b"], n=400, rate=100.0)
    model = gen.lww_model(events)
    for topic, rows in model.items():
        for key, doc in rows.items():
            last = [e for e in events if e.topic == topic and e.key == key][-1]
            assert doc == json.loads(last.value)
    assert sum(len(r) for r in model.values()) < 400 - sum(e.key is None for e in events)
    assert sum(e.key is None for e in events) == 400 // gen.POISON_EVERY
    assert any("tier" in json.loads(e.value) for e in events if e.key) and not json.loads(
        next(e.value for e in events if e.key)).get("tier")


def test_lww_mismatches_counts_missing_extra_and_changed_keys():
    model = {"k1": {"seq": 1}, "k2": {"seq": 2}, "k3": {"seq": 3}}
    assert lww_mismatches(model, dict(model), ["seq"]) == 0
    landed = {"k1": {"seq": 1}, "k2": {"seq": 9}, "k4": {"seq": 4}}
    assert lww_mismatches(model, landed, ["seq"]) == 3  # k2 changed, k3 missing, k4 extra


def test_generators_are_deterministic_per_seed(tmp_path):
    a = gen.loan_delta(7, 1, 500, str(tmp_path / "a.parquet"))
    b = gen.loan_delta(7, 1, 500, str(tmp_path / "b.parquet"))
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert a == b < 500  # the NULL member ids the cleaning drops
    assert [e.value for e in gen.cdc_events(5, ["t"], 50, 10.0)] == [e.value for e in gen.cdc_events(5, ["t"], 50, 10.0)]
