"""Tests for distribution drift: the per-group PSI/KS operator must agree
group-by-group with the oracle-proven global operator."""

from pyspark.sql import functions as F, types as T

from goskema_spark.drift import psi_ks_between, psi_ks_by_group

_SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), False),
    T.StructField("v", T.IntegerType(), True),
])


def _data(spark):
    rows = []
    for i in range(400):
        rows.append(("a", i % 50))            # uniform-ish
        rows.append(("b", (i * i) % 50))      # skewed
    return spark.createDataFrame(rows, _SCHEMA)


def _shifted(spark):
    rows = []
    for i in range(400):
        rows.append(("a", (i + 7) % 50))      # same shape, shifted
        rows.append(("b", i % 25))            # genuinely different
    return spark.createDataFrame(rows, _SCHEMA)


def test_by_group_matches_global_per_group(spark):
    cur, ref = _data(spark), _shifted(spark)
    grouped = {r["g"]: (r["psi"], r["ks"])
               for r in psi_ks_by_group(cur, ref, "v", "g", 0, 50, 10).collect()}
    assert set(grouped) == {"a", "b"}
    for g in ("a", "b"):
        row = psi_ks_between(cur.filter(F.col("g") == g),
                             ref.filter(F.col("g") == g),
                             "v", 0, 50, 10).collect()[0]
        assert grouped[g] == (row["psi"], row["ks"]), g
    # b's distribution actually changed; a's barely did
    assert grouped["b"][0] > grouped["a"][0]


def test_by_group_omits_one_sided_groups(spark):
    cur = _data(spark)
    ref = _shifted(spark).filter(F.col("g") == "a")
    got = {r["g"] for r in
           psi_ks_by_group(cur, ref, "v", "g", 0, 50, 10).collect()}
    assert got == {"a"}      # "b" has no reference side -> omitted


def test_by_group_ignores_nulls_in_column(spark):
    cur = _data(spark).withColumn(
        "v", F.when(F.col("v") % 17 == 0, None).otherwise(F.col("v")))
    out = psi_ks_by_group(cur, _shifted(spark), "v", "g", 0, 50, 10)
    assert out.count() == 2  # still one row per group, no NaN poisoning
    for r in out.collect():
        assert r["psi"] is not None and r["ks"] is not None


def test_degenerate_bounds_raise_before_any_job(spark):
    """lo == hi (or lo > hi, a non-finite bound, buckets < 1) puts every
    value in width_bucket's NULL bucket, and two samples of one range
    would score as total drift: every drift entry point refuses such
    bounds before it starts a Spark job."""
    import pytest

    from goskema_spark.drift import (drift_check, grouped_histogram, histogram,
                                     windowed_drift)

    df = spark.createDataFrame([("a", i, "2024-01-01 00:00:00") for i in range(10)],
                               "g string, v int, ts string")
    ref = histogram(df, "v", 0, 10, 2)
    entries = {
        "histogram": lambda lo, hi, b: histogram(df, "v", lo, hi, b),
        "grouped_histogram": lambda lo, hi, b: grouped_histogram(df, "v", "g", lo, hi, b),
        "psi_ks_by_group": lambda lo, hi, b: psi_ks_by_group(df, df, "v", "g", lo, hi, b),
        "psi_ks_between": lambda lo, hi, b: psi_ks_between(df, df, "v", lo, hi, b),
        "windowed_drift": lambda lo, hi, b: windowed_drift(df, "v", df, lo, hi, b),
        "drift_check": lambda lo, hi, b: drift_check(df, "v", ref, lo, hi, b),
    }
    bad = [(5, 5, 4), (6, 5, 4), (float("nan"), 5, 4), (0, float("inf"), 4),
           (float("-inf"), 5, 4), (0, 5, 0), (0, 5, -1)]
    sc = spark.sparkContext
    sc.setJobGroup("gsk_bad_bounds", "degenerate drift bounds")
    try:
        for name, entry in entries.items():
            for lo, hi, b in bad:
                with pytest.raises(ValueError):
                    entry(lo, hi, b)
                    pytest.fail(f"{name} accepted lo={lo} hi={hi} buckets={b}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("gsk_bad_bounds")) == []
    # sane bounds still score: the same sample against itself is no drift
    assert drift_check(df, "v", ref, 0, 10, 2)["psi"] == 0.0


def test_psi_ks_between_empty_sides(spark):
    """psi_ks_between keeps a row where psi_ks_by_group drops the group:
    one empty side reports total drift, two empty sides one all-NULL
    row."""
    full = spark.createDataFrame([("a", i % 50) for i in range(100)], _SCHEMA)
    empty = full.limit(0)
    # one side empty: 20 rows in each of 5 buckets against eps shares
    for a, b in ((full, empty), (empty, full)):
        rows = psi_ks_between(a, b, "v", 0, 50, 5).collect()
        assert [(r["psi"], r["ks"]) for r in rows] == [(12.206012, 1.0)]
    rows = psi_ks_between(empty, empty, "v", 0, 50, 5).collect()
    assert [(r["psi"], r["ks"]) for r in rows] == [(None, None)]
    for a, b in ((full, empty), (empty, full), (empty, empty)):
        assert psi_ks_by_group(a, b, "v", "g", 0, 50, 5).count() == 0
