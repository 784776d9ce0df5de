"""Path parity for the bottom-k sketch family: the prefiltered build
(threshold → survivors → audit → kept/rescued → bottom-k) must return
exactly the plain rank-everything relation the oracle replays, for both
``kmv_sketch`` and ``qsample_sketch``, on the inputs where a threshold
or an equi-join is most likely to slip: a NULL group key, empty input,
one group, a group of exactly SAFETY·k rows (threshold inactive) and of
SAFETY·k + 1 rows (threshold active), and Zipf-skewed groups."""

from __future__ import annotations

import pytest

from oltp_to_data_warehouse_pipeline_spark.operators import kmv, qsketch

K = 4
EDGE = kmv._SAFETY * K  # largest group the threshold admits whole

OPS = {
    "kmv_sketch": lambda df, prefilter: kmv.kmv_sketch(
        df, "key", ["g"], k=K, prefilter=prefilter
    ),
    "qsample_sketch": lambda df, prefilter: qsketch.qsample_sketch(
        df, "key", "val", ["g"], k=K, prefilter=prefilter
    ),
}


def _group(g, n):
    # unique key per row (the qsample contract); few distinct values, so
    # (h, v) order and the value ties both matter
    return [(g, i, float(i % 7)) for i in range(n)]


INPUTS = {
    "null_group": _group(None, 500) + _group("a", 2000) + _group("b", 20),
    "empty": [],
    "single_group": _group("a", 1000),
    "at_threshold": _group("a", EDGE),
    "threshold_plus_one": _group("a", EDGE + 1),
    "zipf": [r for i in range(20) for r in _group(f"g{i}", int(3000 / (i + 1) ** 1.2))],
}


def _nrows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, 0 if x is None else x) for x in t),
    )


@pytest.mark.parametrize("case", sorted(INPUTS))
@pytest.mark.parametrize("op", sorted(OPS))
def test_prefilter_equals_plain(spark, op, case):
    df = spark.createDataFrame(INPUTS[case], "g string, key bigint, val double")
    build = OPS[op]
    assert _nrows(build(df, True)) == _nrows(build(df, False))


@pytest.mark.parametrize("op", sorted(OPS))
def test_group_joins_broadcast(spark, op):
    """The one-row-per-group relations are checkpoint-derived (no size
    estimate); without the broadcast hints of ``_bottom_k_sketch`` the planner
    sort-merges them."""
    df = spark.createDataFrame(INPUTS["null_group"], "g string, key bigint, val double")
    plan = OPS[op](df, True)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
