"""Per-column statistics profile (north-rule stats surface).

The reference is schema-level only; the north_star adds table-scale
profiling: count / null-count / min / max, distinct sketches
(HyperLogLog++ via approx_count_distinct) and quantile sketches
(percentile_approx — Spark's GK/KLL-style sketch). All of these are
single-pass partial+final hash aggregates: one job, no joins, map-side
combine, output is one row per profiled column.

At 100 TB this is the right shape: every statistic here is an algebraic
or sketchable aggregate — no sort, no global shuffle beyond the final
single-reducer combine of per-partition sketch states. Quantiles take
one sketch per column (group), whatever the number of probs.

The aggregates are written as SQL text (goskema_spark.sqltext quotes
the names): a PySpark Column method call costs a dozen py4j round trips
and about a millisecond of driver CPU, so a per-column chain of them
cost as much driver time as the aggregate itself on small inputs. The
text form is a fixed few round trips per plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from goskema_spark.sqltext import double, ident, string


def _grouped(df: DataFrame, by: str = None):
    return df.groupBy(F.expr(ident(by))) if by else df


def profile(df: DataFrame, columns=None, exact_distinct: bool = False,
            rsd: float = 0.05, by: str = None) -> DataFrame:
    """One row per column: col, cnt, nulls, n_distinct, min_v, max_v (strings).

    exact_distinct=True uses count(distinct) — for golden tests / oracle
    parity; default is the HLL sketch for scale. rsd defaults to 0.05,
    Spark's own approx_count_distinct default: HLL register count (and
    per-row update cost) scales 1/rsd^2, and the r5 default of 0.02 made
    the sketch 65% of the whole profile aggregate (r6 measured at 12.8M
    rows: the doc_id sketch alone 1.13s at rsd=0.02 vs 0.24s at 0.05 —
    a +-5%% distinct estimate is the standard profiling contract).

    by='source' groups the profile: one row per (group, column). Still a
    SINGLE hash aggregate — every statistic is algebraic or a mergeable
    sketch, so the grouped variant costs one shuffle on the group key
    (partial combine map-side), not one job per group. The north rule's
    per-partition lineage view at 100 TB is exactly this shape.

    The aggregate is one `array(named_struct(...), ...)` expression in SQL
    text, unpacked by `inline`: a fixed handful of py4j round trips
    however many columns are profiled.
    """
    columns = columns or [c for c in df.columns if c != by]
    types = dict(df.dtypes)
    per_col = []
    for c in sorted(columns):
        q = ident(c)
        if types[c].startswith(("array", "map", "struct")):
            distinct = "CAST(NULL AS BIGINT)"
            minv = maxv = "CAST(NULL AS STRING)"
        else:
            distinct = (f"count(DISTINCT {q})" if exact_distinct
                        else f"approx_count_distinct({q}, {double(rsd)})")
            minv, maxv = f"CAST(min({q}) AS STRING)", f"CAST(max({q}) AS STRING)"
        per_col.append(
            f"named_struct('col', {string(c)}, 'cnt', count(1), "
            f"'nulls', sum(CAST({q} IS NULL AS BIGINT)), "
            f"'n_distinct', CAST({distinct} AS BIGINT), "
            f"'min_v', {minv}, 'max_v', {maxv})")
    stats = F.expr(f"array({', '.join(per_col)}) AS stats")
    keys = [ident(by)] if by else []
    return _grouped(df, by).agg(stats).selectExpr(*keys, "inline(stats)")


def numeric_quantiles(df: DataFrame, column: str,
                      probs=(0.5, 0.9, 0.99), exact: bool = False,
                      by: str = None) -> DataFrame:
    """Quantiles of a numeric column: exact `percentile` for goldens,
    `percentile_approx` (sketch, mergeable) for scale.

    Every prob is read from ONE sketch per column (group): the array
    form of `percentile_approx` / `percentile` builds the summary once
    and answers each prob from it, with the same values as one sketch
    per prob.

    by='source' groups: one row per group, same single-aggregate plan
    (percentile_approx states merge; exact percentile still groups in
    one pass)."""
    def label(p: float) -> str:
        # int(p*100) aliased 0.99 AND 0.999 both to 'p99' (duplicate
        # column names) and 0.005 to 'p0' — keep pNN for whole
        # percentiles, encode finer probs losslessly (0.999 -> p99_9)
        v = p * 100
        return f"p{int(v)}" if float(v).is_integer() else \
            "p" + f"{v:g}".replace(".", "_")

    labels = [label(p) for p in probs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantile probs {probs} produce duplicate labels")
    q = ident(column)
    ps = f"array({', '.join(double(p) for p in probs)})"
    sketch = f"percentile({q}, {ps})" if exact else f"percentile_approx({q}, {ps}, 10000)"
    out = [ident(by)] if by else []
    out += ["cnt", "min_v", "max_v", "avg_v"]
    out += [f"CAST(`__gsk_q`[{i}] AS DOUBLE) AS {ident(lab)}"
            for i, lab in enumerate(labels)]
    return _grouped(df, by).agg(
        F.expr(f"count({q}) AS cnt"),
        F.expr(f"CAST(min({q}) AS DOUBLE) AS min_v"),
        F.expr(f"CAST(max({q}) AS DOUBLE) AS max_v"),
        F.expr(f"CAST(avg({q}) AS DOUBLE) AS avg_v"),
        F.expr(f"{sketch} AS `__gsk_q`"),
    ).selectExpr(*out)


def distinct_sketches(df: DataFrame, columns, by: str = None,
                      lg_k: int = 12) -> DataFrame:
    """Mergeable DataSketches HLL sketch binaries per column (optionally
    per `by` group) — the INCREMENTAL distinct-count path for 100 TB:
    profile each shard/partition/day as it lands, store the (tiny,
    <= 2^lg_k registers) sketch rows, and combine later with
    merged_distinct() WITHOUT rescanning old data. Sketch union is
    exactly associative at a fixed lg_k (test-asserted: merging
    per-source sketches reproduces the whole-table estimate
    bit-for-bit), unlike approx_count_distinct whose state is opaque
    to the DataFrame API."""
    if by is not None and by in columns:
        raise ValueError(f"group column {by!r} cannot also be sketched; "
                         "its distinct values are the group rows themselves")
    aggs = [F.expr(f"hll_sketch_agg({ident(c)}, {int(lg_k)}) AS {ident(c)}")
            for c in sorted(columns)]
    return _grouped(df, by).agg(*aggs)


def merged_distinct(sketches: DataFrame, columns) -> DataFrame:
    """Union previously-saved sketch rows (any grouping) into one global
    estimate per column: one row, n_distinct estimates as bigint."""
    return sketches.agg(*[
        F.expr(f"CAST(hll_sketch_estimate(hll_union_agg({ident(c)}, true)) AS BIGINT)"
               f" AS {ident(c)}") for c in sorted(columns)])
