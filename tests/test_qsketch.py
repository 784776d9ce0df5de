"""Quantile sketch: merge theorem over rows, prefilter structural
equality, DKW rank-error validity, NULL exclusion, and the exhaustive
degenerate case."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators import qsketch


def _fixture(spark, n=8000, groups=8):
    """Deterministic skewed fixture: value = (key² mod p) gives a
    scrambled but reproducible spread; month/quarter grouping."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("key"),
            (F.col("id") % groups).alias("mth"),
            ((F.col("id") % groups) / 2).cast("int").alias("qtr"),
            ((F.col("id") * F.col("id")) % 99991).cast("double").alias("val"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_equals_direct_build(spark):
    """Month sketches merged to quarters == quarter sketches built from
    raw — the bottom-k merge theorem over rows."""
    d = _fixture(spark)
    fine = qsketch.qsample_sketch(d, "key", "val", ["qtr", "mth"], k=128)
    merged = qsketch.qsample_merge(fine, ["qtr"], k=128)
    direct = qsketch.qsample_sketch(d, "key", "val", ["qtr"], k=128)
    assert _rows(merged) == _rows(direct)
    assert merged.count() == 4 * 128  # real sampling, not exhaustive


def test_prefilter_equals_plain(spark):
    d = _fixture(spark)
    fast = qsketch.qsample_sketch(
        d, "key", "val", ["mth"], k=64, prefilter=True
    )
    plain = qsketch.qsample_sketch(
        d, "key", "val", ["mth"], k=64, prefilter=False
    )
    assert _rows(fast) == _rows(plain)


def test_quantiles_dkw_rank_error(spark):
    """Planted uniform 0..n-1 values: the sample p-quantile's TRUE rank
    must sit within the DKW band around p (k=512 → 3/√k ≈ 0.13 allows a
    ~1-in-10⁷ flake; values ARE ranks here so the check is direct)."""
    n, k = 20000, 512
    d = spark.range(n).select(
        F.col("id").alias("key"),
        F.lit(0).alias("g"),
        F.col("id").cast("double").alias("val"),
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=k)
    q = qsketch.qsample_quantiles(
        sk, ["g"], {"q10": 0.1, "q50": 0.5, "q90": 0.9}
    ).collect()[0]
    assert q["m"] == k
    eps = 3.0 / (k**0.5)
    for name, p in (("q10", 0.1), ("q50", 0.5), ("q90", 0.9)):
        true_rank = q[name] / (n - 1)
        assert abs(true_rank - p) < eps, (name, q[name], true_rank)


def test_exhaustive_sample_is_exact(spark):
    """k ≥ group size → the sketch is the whole group and the type-1
    quantile is the exact order statistic."""
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    d = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate(vals)], "key long, g int, val double"
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=100)
    q = qsketch.qsample_quantiles(sk, ["g"], {"q50": 0.5, "q0": 0.0, "q100": 1.0}).collect()[0]
    assert q["m"] == 5
    assert q["q0"] == 10.0
    assert q["q50"] == 30.0  # rank 1 + floor(0.5*4) = 3
    assert q["q100"] == 50.0


def test_null_values_excluded(spark):
    d = spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, None), (3, 0, 7.0)],
        "key long, g int, val double",
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=10)
    assert sk.count() == 2
    q = qsketch.qsample_quantiles(sk, ["g"], {"q100": 1.0}).collect()[0]
    assert q["m"] == 2 and q["q100"] == 7.0


def test_null_keys_excluded_prefilter_parity(spark):
    """A NULL key hashes to h=NULL (sorts FIRST in Spark, dropped by the
    prefilter's h < t) — both modes must exclude it or they diverge
    (review finding)."""
    rows = [(i, 0, float(i)) for i in range(300)] + [(None, 0, 999.0)]
    d = spark.createDataFrame(rows, "key long, g int, val double")
    fast = qsketch.qsample_sketch(d, "key", "val", ["g"], k=8, prefilter=True)
    plain = qsketch.qsample_sketch(d, "key", "val", ["g"], k=8, prefilter=False)
    assert _rows(fast) == _rows(plain)
    assert all(r["v"] != 999.0 for r in plain.collect())
