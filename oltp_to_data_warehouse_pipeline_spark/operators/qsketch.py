"""Mergeable quantile sketch via deterministic bottom-k row sampling —
order statistics for stored rollups, the quantile sibling of
:mod:`operators.kmv`.

Exact per-window percentiles have the same problem exact distincts do:
every window re-shuffles every raw value it covers (`status_price_median`
et al. are fine per-query; a rollup serving arbitrary windows is not).
Spark's ``approx_percentile`` solves the single-pass case but its
summary is opaque — it cannot be STORED as a relation, MERGED in plain
SQL, or replayed by another engine, so a differential harness can never
certify it.  This module uses the classic sample-based alternative:
bottom-k rows by a uniform hash = a fixed-size simple random sample
without replacement, deterministic given the data.

1. **Sketch** — hash each row's unique key with the engine-portable
   48-bit md5 fold (seed ``"qs|"``) and keep the ``k`` rows with the
   smallest ``(hash, value)`` per group, carrying the VALUE column: ≤ k
   rows per group, uniform over the group's rows because the hash order
   is independent of the values (the value tiebreak only fires on 48-bit
   fold collisions and exists to pin the pick deterministically on both
   engines — at that point the colliding rows are exchangeable for
   sampling purposes up to their values, and the bias of preferring the
   smaller value on a ~n²/2⁴⁹ event is unmeasurable).
2. **Merge** — the k smallest of a union under a total order are a
   subset of the union of each part's k smallest (the KMV merge theorem
   over ROWS; disjoint groups never share rows), so re-ranking unioned
   part-sketches IS the union's bottom-k: month sketches roll up to
   quarters without touching raw data, k rows per part in, k rows out.
3. **Estimate** — the p-quantile of the sample: the element at rank
   ``1 + floor(p·(m−1))`` of the m sample values ordered by
   ``(value, hash)`` — quantile "type 1" on a deterministic sample, the
   identical pick on both engines.

Merge-then-estimate equals estimate-over-raw-bottom-k by the subset
property, which is exactly what the differential oracle exercises: it
replays the sketch from raw rows while the Spark plan merges stored
part-sketches — a hash mismatch catches a broken fold, a broken merge,
or a broken rank pick.

Sample-quantile error is ±O(1/√k) in RANK space (Dvoretzky–Kiefer–
Wolfowitz: P(sup|F̂−F| > ε) ≤ 2e^(−2kε²)); tests/test_qsketch.py asserts
it statistically against a planted distribution — the cross-engine gate
proves agreement, not validity (the round-6 bootstrap lesson).

Scale path: the same coarse-then-exact build as ``kmv_sketch``
(:func:`operators.kmv._bottom_k_sketch`), with an EXACT sizer since row
counts, unlike distinct counts, aggregate map-side: per-group counts
size a hash admission threshold ``t = 4k/n · 2^48`` applied SCAN-SIDE,
so the rank exchange carries an expected 4k rows per group instead of
the group's full row set; groups whose active threshold admitted fewer
than k rows are rescued with their unfiltered row set (Binomial(n, 4k/n)
< k has cryptographically small odds, but the rescue makes equality with
the plain formulation structural, not probabilistic).  Nothing is ever
data-sized per partition: the only windows partition by group.  There
is no driver path: in a control-gated A/B at sf0.1 a driver-side
build + merge + rank-pick twin did not beat this plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators.kmv import (
    _bottom_k,
    _bottom_k_sketch,
)
from oltp_to_data_warehouse_pipeline_spark.util import md5_fold48


def qs_hash(key: Column | str) -> Column:
    """The sample hash: seeded engine-portable 48-bit md5 fold."""
    return md5_fold48(key, "qs|")


def qsample_sketch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    group_cols: list[str],
    k: int = 256,
    prefilter: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Build per-group bottom-k row samples: ``group_cols + (h, v)``,
    ≤ k rows per group.  ``key_col`` must uniquely identify a row within
    its group (it seeds the sample hash; a duplicated key would make its
    rows rise or fall together — still a valid sample of distinct keys,
    not of rows).  NULL values are excluded (order statistics over NULL
    are undefined on both engines).  ``group_cols`` must span a bounded
    domain (days, months, quarters): the prefilter broadcasts
    one-row-per-group relations.

    ``prefilter=True`` is the scale path (exact-count-sized hash
    threshold + under-k rescue, module docstring); ``False`` is the
    plain formulation the oracle replays.  Same relation either way by
    construction.  ``pin`` materializes the two bounded intermediates
    exactly as ``kmv_sketch`` does; set False only to build the plan
    without running jobs.

    NULL keys are excluded alongside NULL values (kmv_sketch's guard): a
    NULL key hashes to h = NULL, which ascending-sorts FIRST in Spark but
    is dropped by the prefilter's ``h < t`` — admitting it would break
    the prefilter/plain structural equality AND diverge from the oracle's
    NULLS-LAST ordering.
    """
    return _bottom_k_sketch(
        df.where(F.col(key_col).isNotNull() & F.col(value_col).isNotNull()),
        group_cols,
        [qs_hash(key_col).alias("h"), F.col(value_col).alias("v")],
        F.count(F.lit(1)),
        k,
        distinct=False,
        prefilter=prefilter,
        pin=pin,
    )


def qsample_merge(
    sketch: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Re-group part-sketches to coarser groups (e.g. month → quarter):
    re-rank the unioned samples by ``(h, v)``, keep k.  Valid because
    disjoint parts never share rows (module docstring, point 2).  Input
    is ≤ k rows per fine group, so the rank shuffle is sketch-sized."""
    return _bottom_k(
        sketch.select(*group_cols, "h", "v"), group_cols, ["h", "v"], k
    )


def qsample_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    probs: dict[str, float],
) -> DataFrame:
    """Per-group sample quantiles: for each ``name → p`` emit the sample
    value at rank ``1 + floor(p·(m−1))`` ordered by ``(v, h)`` — one
    output row per group with ``m`` (sample size) and one column per
    quantile.  The hash tiebreak pins the pick under duplicate values so
    the selection is deterministic and engine-portable.  The window
    partitions by group (sketch-sized partitions, ≤ k rows each)."""
    wr = Window.partitionBy(*group_cols).orderBy("v", "h")
    wm = Window.partitionBy(*group_cols)
    ranked = sketch.select(
        *group_cols,
        "v",
        F.row_number().over(wr).alias("__rk"),
        F.count(F.lit(1)).over(wm).alias("__m"),
    )
    aggs = [F.max("__m").cast("bigint").alias("m")]
    for name, p in probs.items():
        target = F.floor(F.lit(p) * (F.col("__m") - 1)).cast("bigint") + 1
        aggs.append(
            F.max(F.when(F.col("__rk") == target, F.col("v"))).alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)
