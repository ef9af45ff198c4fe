"""Distribution-drift detection on n_tok histograms (north rule):
fixed-width histogram via width_bucket (built-in, single hash aggregate),
then PSI (population stability index) and a two-sample KS statistic,
either ON THE DRIVER from the two (tiny) collected histograms
(drift_check) or in Spark per group (psi_ks_by_group, windowed_drift,
the streaming drift operator).

The scale story: the only distributed work over the input is one
groupBy over the bucket id — partial+final hash agg, k buckets out
regardless of input size. Per-group scoring adds one aggregate that
packs each group's buckets into one map per side, and one projection
that scores the maps: no join and no window.

The plans are built as SQL text (goskema_spark.sqltext), not as chains
of PySpark Column methods: each Column method call costs a dozen py4j
round trips, and on histograms this small building the plan cost as
much driver CPU as running it.

Semantics anchor: this is the aggregate analog of goskema's
`aggregate_violation` code (reference errors.go:31) — a dataset-level
rule violation rather than a per-row one.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from goskema_spark.issues import Codes
from goskema_spark.sqltext import double, ident, string

DEFAULT_BUCKETS = 16


def _bucketing(column: str, lo: float, hi: float, buckets: int) -> tuple:
    """(keep, bucket): SQL text of the row filter and of the width_bucket
    expression every histogram builder shares. The value is try_cast to
    double: a non-numeric string must drop here, not crash the job
    (ANSI) or survive as a NULL-bucket row that inflates the totals
    (non-ANSI, where isnan(NULL) is false).

    Raises ValueError unless lo and hi are finite with lo < hi and
    buckets >= 1: width_bucket answers NULL for every value under such
    bounds, and two samples of one range would score as total drift."""
    if not (math.isfinite(lo) and math.isfinite(hi) and lo < hi):
        raise ValueError(f"drift bounds need finite lo < hi, got lo={lo!r} hi={hi!r}")
    if int(buckets) != buckets or buckets < 1:
        raise ValueError(f"drift needs buckets >= 1, got {buckets!r}")
    cd = f"try_cast({ident(column)} AS DOUBLE)"
    return (f"{cd} IS NOT NULL AND NOT isnan({cd})",
            f"width_bucket({cd}, {double(lo)}, {double(hi)}, {int(buckets)})")


def histogram(df: DataFrame, column: str, lo: float, hi: float,
              buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Equal-width histogram: (bucket, bucket_lo, bucket_hi, cnt).
    Bucket 0 catches < lo, bucket `buckets+1` catches >= hi
    (width_bucket semantics); null AND NaN values are dropped — NaN
    width_buckets to NULL, and a NULL bucket pairs with no bucket of the
    other side in PSI/KS, so keeping it would distort both sides'
    distributions (each side's NaN row would count in the total but in
    no bucket). bucket_lo / bucket_hi are double arithmetic, equal to
    Python's lo + (bucket - 1) * width."""
    keep, bucket = _bucketing(column, lo, hi, buckets)
    lo_, width = double(lo), double((hi - lo) / buckets)
    return (
        df.filter(keep)
        .groupBy(F.expr(f"{bucket} AS bucket"))
        .agg(F.expr("count(1) AS cnt"))
        .selectExpr("bucket",
                    f"CAST({lo_} + (bucket - 1) * {width} AS DOUBLE) AS bucket_lo",
                    f"CAST({lo_} + bucket * {width} AS DOUBLE) AS bucket_hi",
                    "cnt")
    )


def _normalize(hist: dict, buckets: int, eps: float = 1e-6) -> list:
    total = sum(hist.values()) or 1
    # buckets 0..buckets+1 (underflow/overflow included)
    return [max(hist.get(i, 0) / total, eps) for i in range(0, buckets + 2)]


def psi(cur_hist: dict, ref_hist: dict, buckets: int = DEFAULT_BUCKETS) -> float:
    """Population Stability Index: sum((p - q) * ln(p / q)). Rule of thumb:
    < 0.1 stable, 0.1-0.25 moderate, > 0.25 drifted."""
    p = _normalize(cur_hist, buckets)
    q = _normalize(ref_hist, buckets)
    return float(sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q)))


def ks_statistic(cur_hist: dict, ref_hist: dict, buckets: int = DEFAULT_BUCKETS) -> float:
    """Two-sample KS statistic on binned data: max |CDF_p - CDF_q|."""
    p = _normalize(cur_hist, buckets)
    q = _normalize(ref_hist, buckets)
    sp = sq = 0.0
    tp, tq = sum(p), sum(q)
    d = 0.0
    for pi, qi in zip(p, q):
        sp += pi / tp
        sq += qi / tq
        d = max(d, abs(sp - sq))
    return float(d)


def psi_ks_between(df_a: DataFrame, df_b: DataFrame, column: str,
                   lo: float, hi: float, buckets: int = DEFAULT_BUCKETS,
                   eps: float = 1e-6) -> DataFrame:
    """Fully-distributed PSI + KS between two datasets' histograms of
    `column` — one row out. Unlike drift_check (driver-side arithmetic on
    a collected histogram), this stays in Spark end-to-end, so it can run
    inside a larger pipeline and be oracle-checked.

    Buckets absent from both sides contribute 0 to both statistics, so
    only the union of observed buckets is materialized.

    Empty sides, unlike psi_ks_by_group (which drops a group with an
    empty side): with ONE side empty the row reports total drift (that
    side's shares read eps, its CDF 0, so ks is 1.0); with BOTH sides
    empty there is no bucket and the row is all NULL. That contract is
    why this keeps its own plan instead of wrapping _score.
    """
    ha = histogram(df_a, column, lo, hi, buckets).select("bucket", F.col("cnt").alias("cnt_a"))
    hb = histogram(df_b, column, lo, hi, buckets).select("bucket", F.col("cnt").alias("cnt_b"))
    joined = ha.join(hb, "bucket", "full").select(
        "bucket",
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    )
    tot = joined.agg(F.sum("cnt_a").alias("ta"), F.sum("cnt_b").alias("tb"))
    j = joined.crossJoin(F.broadcast(tot))
    # zero-total guard (where _score drops the group instead): an empty
    # side's shares degrade to 0 -> eps, reporting total drift, instead
    # of DIVIDE_BY_ZERO under ANSI or an all-NULL ks that masks the
    # drift entirely under non-ANSI
    share = lambda c, t: F.when(F.col(t) > 0,  # noqa: E731
                                F.col(c) / F.col(t)).otherwise(F.lit(0.0))
    p = F.greatest(share("cnt_a", "ta"), F.lit(eps))
    q = F.greatest(share("cnt_b", "tb"), F.lit(eps))
    from pyspark.sql import Window
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = lambda c, t: F.when(F.col(t) > 0,  # noqa: E731
                              F.sum(F.col(c)).over(w) / F.col(t)) \
        .otherwise(F.lit(0.0))
    scored = j.select(
        "bucket",
        ((p - q) * F.log(p / q)).alias("psi_term"),
        (cdf("cnt_a", "ta") - cdf("cnt_b", "tb")).alias("cdf_diff"),
    )
    return scored.agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.round(F.max(F.abs(F.col("cdf_diff"))), 6).alias("ks"),
    )


def _score(recs: DataFrame, group_col: str, eps: float) -> DataFrame:
    """PSI + KS per group from histogram records
    (group_col, _side, bucket, _n), side 0 the current distribution and
    side 1 the reference -> (group_col, psi, ks), one row per group with
    rows on BOTH sides. The one scorer behind psi_ks_by_group,
    score_grouped_histograms, windowed_drift and the streaming drift
    operator.

    1. The NULL group drops: it has no counterpart to pair with.
    2. One aggregate sums _n per (group, side, bucket).
    3. One aggregate per group packs each side into a map<bucket, cnt>
       and totals it; a group with an empty side drops.
    4. One projection scores the maps over the union of their buckets in
       ascending order: PSI sums (p - q) * ln(p / q) with
       p = greatest(cnt_a / ta, eps), and KS is the max of
       |cumsum_a / ta - cumsum_b / tb| over long cumulative sums. Both
       are rounded to 6 digits.

    A NULL bucket (width_bucket's answer for degenerate bounds) pairs
    with nothing on the other side: it is keyed -1 (current) or -2
    (reference), below every width_bucket id."""
    g = ident(group_col)
    counts = (recs.filter(f"{g} IS NOT NULL")
              .groupBy(F.expr(g), F.expr("_side"), F.expr("bucket"))
              .agg(F.expr("sum(_n) AS cnt")))

    def packed(s: int) -> list:
        return [F.expr(f"map_from_entries(collect_list(IF(_side = {s}, "
                       f"struct(coalesce(bucket, -1 - _side), cnt), NULL))) AS _m{s}"),
                F.expr(f"sum(IF(_side = {s}, cnt, 0)) AS _t{s}")]

    sides = (counts.groupBy(F.expr(g)).agg(*packed(0), *packed(1))
             .filter("_t0 > 0 AND _t1 > 0"))
    keys = "array_sort(array_union(map_keys(_m0), map_keys(_m1)))"
    a, b = "coalesce(_m0[k], 0)", "coalesce(_m1[k], 0)"
    p, q = f"greatest({a} / _t0, {double(eps)})", f"greatest({b} / _t1, {double(eps)})"
    psi_ = f"aggregate({keys}, 0D, (acc, k) -> acc + ({p} - {q}) * ln({p} / {q}))"
    ks = (f"aggregate({keys}, named_struct('a', 0L, 'b', 0L, 'd', 0D), "
          f"(acc, k) -> named_struct('a', acc.a + {a}, 'b', acc.b + {b}, "
          f"'d', greatest(acc.d, abs((acc.a + {a}) / _t0 - (acc.b + {b}) / _t1))), "
          f"acc -> acc.d)")
    # the group column is declared nullable, like every other drift
    # output column, so the result schema does not depend on whether
    # the inputs declare theirs non-null
    return sides.selectExpr(f"IF({g} IS NULL, NULL, {g}) AS {g}",
                            f"round({psi_}, 6) AS psi", f"round({ks}, 6) AS ks")


def score_grouped_histograms(ha: DataFrame, hb: DataFrame,
                             group_col: str = "g",
                             eps: float = 1e-6) -> DataFrame:
    """PSI + KS per group from two PREBUILT histograms:
    ha(group_col, bucket, cnt_a) vs hb(group_col, bucket, cnt_b) ->
    (group_col, psi, ks). One row per group present with rows on BOTH
    sides; a group with no reference (or no current) distribution has
    nothing to compare against and is omitted rather than reported as a
    fake zero. Shared scoring tail of windowed_drift and the streaming
    drift operator — the math is oracle-proven once and reused.

    Scale story: inputs are G x (buckets+2) rows regardless of corpus
    size. Their union feeds _score: one aggregate per (group, side,
    bucket), one per group, and a projection over <= buckets+2 map
    entries per group. No join, no window, nothing collected.
    """
    g = ident(group_col)
    recs = ha.selectExpr(g, "0 AS _side", "bucket", "cnt_a AS _n").union(
        hb.selectExpr(g, "1 AS _side", "bucket", "cnt_b AS _n"))
    return _score(recs, group_col, eps)


def grouped_histogram(df: DataFrame, column: str, group_expr,
                      lo: float, hi: float,
                      buckets: int = DEFAULT_BUCKETS,
                      cnt_name: str = "cnt_a",
                      group_name: str = "g") -> DataFrame:
    """(group, bucket, cnt) histogram — the per-group analog of
    histogram(). `group_expr` may be a column name or a Column (e.g. a
    window start). Null/NaN values dropped as in histogram()."""
    keep, bucket = _bucketing(column, lo, hi, buckets)
    ge = (F.expr(f"{ident(group_expr)} AS {ident(group_name)}")
          if isinstance(group_expr, str) else group_expr.alias(group_name))
    return (df.filter(keep)
            .groupBy(ge, F.expr(f"{bucket} AS bucket"))
            .agg(F.expr(f"count(1) AS {ident(cnt_name)}")))


def psi_ks_by_group(df_a: DataFrame, df_b: DataFrame, column: str,
                    group_col: str, lo: float, hi: float,
                    buckets: int = DEFAULT_BUCKETS,
                    eps: float = 1e-6) -> DataFrame:
    """Per-group PSI + KS — the per-partition-lineage form of the drift
    check (north rule: drift per source, not just globally). One row per
    group present in BOTH sides; the NULL group is omitted.

    Plan: the rows of both sides, tagged with their side, feed _score
    directly: one (group, side, bucket) count aggregate, one per-group
    aggregate and one scoring projection. Two shuffles and three Spark
    jobs; no join, no window."""
    keep, bucket = _bucketing(column, lo, hi, buckets)
    g = ident(group_col)

    def side(df: DataFrame, s: int) -> DataFrame:
        return df.filter(keep).selectExpr(g, f"{s} AS _side", f"{bucket} AS bucket",
                                          "1L AS _n")

    return _score(side(df_a, 0).union(side(df_b, 1)), group_col, eps)


def windowed_drift(df: DataFrame, column: str, ref: DataFrame,
                   lo: float, hi: float, buckets: int = DEFAULT_BUCKETS,
                   ts_col: str = "ts", window: str = "1 hour",
                   eps: float = 1e-6) -> DataFrame:
    """Per-time-window PSI + KS of `column` against a FIXED reference
    snapshot: (window_start, psi, ks), one row per tumbling window that
    has any in-range rows. The batch twin of the streaming drift
    operator (streaming.drift_stream) — both score the same grouped
    histograms, so the stream can be cross-validated against this.

    Scale story: one (window, bucket) hash aggregate over the corpus
    (W x (buckets+2) rows out), one bucket aggregate over the reference,
    reference histogram broadcast-crossed to the observed windows (tiny
    x tiny), then score_grouped_histograms. Nothing is collected.
    """
    ws = F.expr(f"window(CAST({ident(ts_col)} AS TIMESTAMP), {string(window)}).start")
    ha = grouped_histogram(df, column, ws, lo, hi, buckets,
                           "cnt_a", "window_start")
    ref_hist = histogram(ref, column, lo, hi, buckets).selectExpr("bucket", "cnt AS cnt_b")
    wins = ha.selectExpr("window_start").distinct()
    hb = wins.crossJoin(F.broadcast(ref_hist))
    return score_grouped_histograms(ha, hb, "window_start", eps)


def drift_check(df: DataFrame, column: str, ref: DataFrame, lo: float, hi: float,
                buckets: int = DEFAULT_BUCKETS, psi_threshold: float = 0.25,
                ks_threshold: float = 0.30) -> dict:
    """Compare df[column]'s histogram against a reference snapshot
    (schema: bucket|bucket_lo, cnt). Returns a verdict dict; `code`
    is `aggregate_violation` when drifted (FIXTURES.md F3 contract).
    Both histograms come back in one Spark action."""
    by_bucket = "bucket" in ref.columns
    rows = histogram(df, column, lo, hi, buckets).selectExpr(
        "0 AS _side", "bucket", "CAST(NULL AS DOUBLE) AS bucket_lo", "cnt").union(
        ref.selectExpr("1 AS _side",
                       "bucket" if by_bucket else "CAST(NULL AS BIGINT) AS bucket",
                       "CAST(NULL AS DOUBLE) AS bucket_lo" if by_bucket else "bucket_lo",
                       "cnt")).collect()
    cur = {r["bucket"]: r["cnt"] for r in rows if r["_side"] == 0}
    ref_rows = [r for r in rows if r["_side"] == 1]
    if by_bucket:
        refh = {r["bucket"]: r["cnt"] for r in ref_rows}
    else:  # FIXTURES F3 shape: bucket_lo/bucket_hi/cnt
        width = (hi - lo) / buckets
        refh = {int(round((r["bucket_lo"] - lo) / width)) + 1: r["cnt"] for r in ref_rows}
    p = psi(cur, refh, buckets)
    k = ks_statistic(cur, refh, buckets)
    drifted = p > psi_threshold or k > ks_threshold
    return {
        "check": f"drift_{column}",
        "psi": p,
        "ks": k,
        "psi_threshold": psi_threshold,
        "ks_threshold": ks_threshold,
        "verdict": "fail" if drifted else "pass",
        "code": Codes.AGGREGATE_VIOLATION if drifted else None,
    }
