"""The stats and drift plans built as SQL text: the per-group drift
scorer agrees with the histogram-level and global operators, awkward
column names survive quoting, literals stay double, quantiles come from
one sketch, the per-group plan has no join and no window, and building
each plan costs a bounded number of py4j round trips."""

import gc

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F, types as T

from goskema_spark import sqltext
from goskema_spark.drift import (grouped_histogram, histogram, psi_ks_between,
                                 psi_ks_by_group, score_grouped_histograms)
from goskema_spark.stats import numeric_quantiles, profile

_SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), True),
    T.StructField("v", T.DoubleType(), True),
])


def _sides(spark):
    a, b = [], []
    for i in range(300):
        a += [("a", float(i % 40)), ("b", float((i * i) % 40)), (None, float(i % 7))]
        b += [("a", float((i + 5) % 40)), ("b", float(i % 20)), (None, float(i % 3))]
        a.append(("only_a", float(i % 11)))
    a += [("a", None), ("b", float("nan"))]
    return spark.createDataFrame(a, _SCHEMA), spark.createDataFrame(b, _SCHEMA)


def _rows(df, key):
    return {r[key]: (r["psi"], r["ks"]) for r in df.collect()}


def test_by_group_equals_histogram_scoring_and_global(spark):
    a, b = _sides(spark)
    got = _rows(psi_ks_by_group(a, b, "v", "g", 0, 40, 8), "g")
    # the NULL group (present on both sides) and the one-sided group drop
    assert set(got) == {"a", "b"}
    ha = grouped_histogram(a, "v", "g", 0, 40, 8, "cnt_a", "g")
    hb = grouped_histogram(b, "v", "g", 0, 40, 8, "cnt_b", "g")
    assert _rows(score_grouped_histograms(ha, hb, "g"), "g") == got
    for g in ("a", "b"):
        row = psi_ks_between(a.filter(F.col("g") == g), b.filter(F.col("g") == g),
                             "v", 0, 40, 8).collect()[0]
        assert got[g] == (row["psi"], row["ks"]), g


def test_awkward_names_are_quoted(spark):
    col, grp = "n `t.o'k \\x", "s `r.c'e"
    a, b = _sides(spark)
    a, b = (d.toDF(grp, col) for d in (a, b))

    prof = profile(a, [col], exact_distinct=True, by=grp).collect()
    assert {r["col"] for r in prof} == {col}
    assert sorted(r[grp] for r in prof if r[grp] is not None) == ["a", "b", "only_a"]

    assert histogram(a, col, 0, 40, 8).collect() == histogram(
        a.toDF("g", "v"), "v", 0, 40, 8).collect()

    got = _rows(psi_ks_by_group(a, b, col, grp, 0, 40, 8), grp)
    assert got == _rows(psi_ks_by_group(a.toDF("g", "v"), b.toDF("g", "v"),
                                        "v", "g", 0, 40, 8), "g")


def test_histogram_bounds_are_double_arithmetic(spark):
    df = spark.createDataFrame([(i / 37 - 0.5,) for i in range(80)], "v double")
    rows = histogram(df, "v", 0, 1, 10).collect()
    assert {r["bucket"] for r in rows} == set(range(12))
    width = (1 - 0) / 10
    for r in rows:
        assert r["bucket_lo"] == 0 + (r["bucket"] - 1) * width, r
        assert r["bucket_hi"] == 0 + r["bucket"] * width, r
    # 0.1 as a bare SQL literal is DECIMAL: 3 * 0.1 would read 0.3
    assert sqltext.double(0.1) == "0.1D"
    assert next(r for r in rows if r["bucket"] == 4)["bucket_lo"] == 3 * 0.1 != 0.3


def test_sqltext_quoting(spark):
    assert sqltext.ident("a`b.c") == "`a``b.c`"
    assert sqltext.string("it's a \\ path") == "'it\\'s a \\\\ path'"
    row = spark.range(1).selectExpr(
        f"{sqltext.string(chr(92) + 'x' + chr(39))} AS s",
        f"{sqltext.double(-0.0)} AS z", f"{sqltext.double(float('-inf'))} AS ni",
        f"{sqltext.double(1e-06)} AS e").collect()[0]
    assert row["s"] == "\\x'"
    assert str(row["z"]) == "-0.0" and row["ni"] == float("-inf") and row["e"] == 1e-06


def test_one_sketch_quantiles_equal_per_prob_sketches(spark):
    base = spark.createDataFrame(
        [("s" + str(i % 3), None if i % 13 == 0 else (i * 7919) % 1009) for i in range(3000)],
        "source string, x int")
    probs = (0.005, 0.25, 0.5, 0.9, 0.999)
    for parts in (1, 5):
        df = base.repartition(parts)
        got = sorted(numeric_quantiles(df, "x", probs, by="source").collect())
        want = sorted(df.groupBy("source").agg(
            F.count("x").alias("cnt"),
            F.min("x").cast("double").alias("min_v"),
            F.max("x").cast("double").alias("max_v"),
            F.avg("x").cast("double").alias("avg_v"),
            *[F.percentile_approx("x", p, 10000).cast("double").alias(lab)
              for p, lab in zip(probs, ("p0_5", "p25", "p50", "p90", "p99_9"))]).collect())
        assert got == want, parts


def test_by_group_plan_has_no_join_or_window(spark):
    a, b = _sides(spark)
    sc = spark.sparkContext
    out = psi_ks_by_group(a, b, "v", "g", 0, 40, 8)
    sc.setJobGroup("gsk_psi_ks", "by group")
    try:
        out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan, plan
    assert len(sc.statusTracker().getJobIdsForGroup("gsk_psi_ks")) <= 3


def test_plan_builds_stay_within_py4j_budget(spark, monkeypatch):
    cur, ref = _sides(spark)
    cur = cur.withColumn("w", F.col("v") * 2)
    calls = []
    orig = ClientServerConnection.send_command

    def send_command(self, command, *args, **kwargs):
        # py4j's deletes of garbage-collected objects are not plan work
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return orig(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", send_command)
    builds = {
        "profile": lambda: profile(cur, ["v", "w", "g"], by="g"),
        "numeric_quantiles": lambda: numeric_quantiles(cur, "v", by="g"),
        "histogram": lambda: histogram(cur, "v", 0, 40),
        "psi_ks_by_group": lambda: psi_ks_by_group(cur, ref, "v", "g", 0, 40),
    }
    counts = {}
    for name, build in builds.items():
        gc.collect()
        calls.clear()
        build()
        counts[name] = len(calls)
    assert all(0 < n <= 100 for n in counts.values()), counts
