"""Seeded input generators for the benchmark.

Everything the engine reads is produced here and written to files; the
engine never sees the seed.  Three families:

- ``write_base_tables``: the TPC-H-ish tables the dashboard's queries and
  the warehouse build read, plus ``events`` (the shapes TESTDATA.md
  describes), vectorised with NumPy so a scale-0.01 set takes under a
  second.
- ``loan_delta``: one day's OLTP delta of loan applications with the
  FIXTURES.md §B1 dirtiness mix; a share of each day's rows re-sends an
  earlier key with new values.
- ``cdc_events``: Mongo-style change events over a few topics with
  Zipf-skewed keys, one field that appears mid-stream and ~1% poison
  messages, plus ``lww_model`` — the last-write-wins table state the CDC
  sink must converge to.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
BASE_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _ts(days_from_epoch_base: np.ndarray, base: str) -> pa.Array:
    """Microsecond timestamps ``base + offset`` (offset in fractional days)."""
    base_us = np.datetime64(base, "us").astype(np.int64)
    us = base_us + (days_from_epoch_base * 86_400_000_000).astype(np.int64)
    return pa.array(us.astype("datetime64[us]"))


def write_base_tables(out_dir: str, sf: float) -> None:
    """``BASE_TABLES`` at scale factor ``sf`` (row counts follow
    TESTDATA.md: lineitem ≈ 6M × sf)."""
    rng = np.random.default_rng(BASE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    segments = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_orders).astype(np.float64), "1995-01-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
    })
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li).astype(np.float64), "1995-01-01"),
    })
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.sort(rng.uniform(0.0, 30.0, n_events)), "2024-01-01"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


# -- warehouse_daily: loan-application OLTP deltas (FIXTURES.md §B1) -----------

STATUSES = np.array(["Employed"] * 69 + ["Self-Employed"] * 21 + ["Unemployed"] * 10)
EMP_LENGTHS = ["10+ years", "< 1 year", "2 years", "5 years", "8 years", None]
VERIFICATION = ["Verified", "Source Verified", None]
UPDATE_SHARE = 0.2  # share of a day's rows that re-send an earlier key


def _dates(rng: np.random.Generator, n: int) -> list[str]:
    y = 2021 + rng.integers(0, 3, n)
    m = 1 + rng.integers(0, 12, n)
    d = 1 + rng.integers(0, 28, n)
    return [f"{a:04d}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]


def loan_delta(seed: int, day: int, n: int, out: str) -> int:
    """``n`` loan applications for ``day``.  Keys are ``APP<n>``, unique
    within a day; from day 1 on, ``UPDATE_SHARE`` of the rows re-send an
    application from an earlier day (an OLTP update).
    Dirtiness (§B1): ~2% NULL member_id, ~3% NULL income, ~1% ``n/a``
    income, ~1% unparseable amount.  Returns the rows the cleaning keeps
    (those with a member id)."""
    rng = np.random.default_rng([seed, day, 1])
    first_new = day * n
    n_upd = int(n * UPDATE_SHARE) if day else 0
    ids = np.concatenate([
        rng.choice(first_new, n_upd, replace=False),
        np.arange(first_new, first_new + n - n_upd),
    ])
    member_null = rng.random(n) < 0.02
    income = np.round(rng.uniform(490, 99_963, n), 2).astype(str).astype(object)
    income[rng.random(n) < 0.03] = None
    income[rng.random(n) < 0.01] = "n/a"
    amount = np.round(rng.uniform(5000, 51_000, n), 2).astype(str).astype(object)
    amount[rng.random(n) < 0.01] = "junk"
    delinq = rng.integers(0, 5, n).astype(str).astype(object)
    delinq[rng.random(n) < 0.05] = None
    row0 = day * n
    cols = {
        "row_id": np.arange(row0, row0 + n, dtype=np.int64),
        "Application_ID": [f"APP{i:07d}" for i in ids],
        "Customer_ID": [f"CUST{i % 5000:05d}" for i in ids],
        "member_id": [None if z else f"M{i:07d}" for i, z in zip(ids, member_null)],
        "Credit_Score": rng.integers(300, 850, n).astype(np.int64),
        "Employment_Status": STATUSES[rng.integers(0, len(STATUSES), n)],
        "emp_length": [EMP_LENGTHS[k] for k in rng.integers(0, len(EMP_LENGTHS), n)],
        "Annual_Income": pa.array(income, type=pa.string()),
        "Loan_Amount": pa.array(amount, type=pa.string()),
        "term": np.array([" 36 months", " 60 months"])[rng.integers(0, 2, n)],
        "verification_status": [VERIFICATION[k] for k in rng.integers(0, 3, n)],
        "delinq_2yrs": pa.array(delinq, type=pa.string()),
        "Loan_Application_Date": _dates(rng, n),
    }
    _write(out, cols)
    return n - int(member_null.sum())


# -- cdc_stream: Mongo-style change events -----------------------------------


@dataclass(frozen=True)
class Event:
    due_s: float          # scheduled send time, seconds after the load phase starts
    topic: str
    key: str | None       # None for poison messages
    value: str


N_KEYS = 2000        # keys per topic
ZIPF_A = 1.3         # key skew
POISON_EVERY = 100   # one message in this many is poison
DRIFT_AT = 0.5       # share of the stream after which documents carry ``tier``


def cdc_events(seed: int, topics: list[str], n: int, rate: float) -> list[Event]:
    """``n`` events at ``rate`` per second.  Keys are Zipf-skewed over
    ``N_KEYS`` per topic, so most events update an existing document.  From
    ``DRIFT_AT`` of the stream on, documents carry a new ``tier`` field
    (additive schema drift).  Every ``POISON_EVERY``-th message is poison:
    no extractable primary key (alternately corrupt JSON and a pk-less
    document)."""
    rng = np.random.default_rng([seed, 3])
    ranks = np.minimum(rng.zipf(ZIPF_A, n), N_KEYS) - 1
    perm = rng.permutation(N_KEYS)
    topic_ix = rng.integers(0, len(topics), n)
    every = POISON_EVERY
    poison = np.arange(n) % every == every // 2  # evenly spread, so every run has some
    out: list[Event] = []
    for i in range(n):
        topic = topics[int(topic_ix[i])]
        if poison[i]:
            bad = '{"_id": "oops", ' if i % 2 else json.dumps({"note": f"no key {i}"})
            out.append(Event(i / rate, topic, None, bad))
            continue
        key = f"{topic[:1]}{int(perm[ranks[i]]):05d}"
        doc = {
            "_id": key,
            "seq": i,
            "status": ["new", "active", "closed"][int(rng.integers(0, 3))],
            "amount": round(float(rng.uniform(1, 1000)), 2),
            "owner": {"name": f"user{int(rng.integers(0, 500))}", "score": int(rng.integers(0, 100))},
            "tags": ["a", "b"][: int(rng.integers(0, 3))],
        }
        if i >= DRIFT_AT * n:
            doc["tier"] = ["gold", "silver"][int(rng.integers(0, 2))]
        out.append(Event(i / rate, topic, key, json.dumps(doc)))
    return out


def lww_model(events: list[Event]) -> dict[str, dict[str, dict]]:
    """Expected final table per topic: for each key, the last event sent
    (log order is send order, so the last write wins)."""
    model: dict[str, dict[str, dict]] = {}
    for ev in events:
        if ev.key is not None:
            model.setdefault(ev.topic, {})[ev.key] = json.loads(ev.value)
    return model
