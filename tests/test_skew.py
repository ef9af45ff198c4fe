"""F7 skew fixture (FIXTURES.md): uniqueness aggregate under hot keys.
100k rows, 30% share source='web', 1% of doc_ids are the single value
'HOT' (~1000 duplicates). Asserts the aggregate returns exactly
dup_count(HOT) - 1 violations and completes with AQE enabled."""

import pytest
from pyspark.sql import functions as F

from goskema_spark.uniqueness import uniqueness_violations

N = 100_000


@pytest.fixture(scope="module")
def skew_df(spark):
    df = spark.range(N).select(
        F.when(F.col("id") % 100 == 0, F.lit("HOT"))
         .otherwise(F.concat(F.lit("d"), F.col("id").cast("string"))).alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("web"))
         .otherwise(F.concat(F.lit("src"), (F.col("id") % 7).cast("string"))).alias("source"),
        F.col("id").alias("_ord"),
    )
    return df.repartition(8, "source")  # skewed physical layout


def test_hot_key_violations(spark, skew_df):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    rid = F.col("doc_id")
    v = uniqueness_violations(skew_df, "doc_id", "_ord", rid)
    rows = v.collect()
    assert len(rows) == N // 100 - 1  # every non-first occurrence
    firsts = {r["params"]["first"] for r in rows}
    assert firsts == {"0"}  # ordinal 0 is the first HOT occurrence
    assert all(r["code"] == "uniqueness" for r in rows)


def test_high_duplicate_rate_fallback(spark):
    """Pathological duplicate rate (50% of keys duplicated): broadcast=False
    must leave the join unhinted and still produce exact results; the
    forced hint must be present only for broadcast=True."""
    n = 20_000
    df = spark.range(n).select(
        # ids 0..n/2-1 appear twice (id and id+n/2 share a key)
        F.concat(F.lit("k"), (F.col("id") % (n // 2)).cast("string")).alias("doc_id"),
        F.col("id").alias("_ord"),
    )
    rid = F.col("doc_id")
    expected = n // 2  # one non-first occurrence per duplicated key

    aqe = uniqueness_violations(df, "doc_id", "_ord", rid, broadcast=False)
    # the dup-key join must NOT carry a forced broadcast hint (AQE may
    # still pick broadcast from runtime sizes — the point is no forced
    # 10^8-key build side)
    assert "strategy=broadcast" not in aqe._jdf.queryExecution().analyzed().toString()
    assert aqe.count() == expected

    forced = uniqueness_violations(df, "doc_id", "_ord", rid, broadcast=True)
    assert "strategy=broadcast" in forced._jdf.queryExecution().analyzed().toString()
    assert forced.count() == expected


def test_broadcast_rejects_non_bool(spark, skew_df):
    """The setting is a plain truth test, so a non-bool must be refused
    rather than read: a leftover "auto" is truthy and would silently
    force the broadcast its caller meant to avoid."""
    for value in ("auto", "Auto", 1, None):
        with pytest.raises(TypeError):
            uniqueness_violations(skew_df, "doc_id", "_ord", F.col("doc_id"),
                                  broadcast=value)


def test_validate_leaves_no_cached_relations(spark, tmp_path):
    """Neither the uniqueness check nor a validate() run may leave a
    persisted relation behind: not a direct call, not a lazy validate,
    not a report-path validate."""
    from goskema_spark.corpus import (
        corpus_from_documents, corpus_schema, dim_source_df, row_id_col,
    )
    from goskema_spark.runner import validate

    import time

    def rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
                   .strip("[]").replace(" ", "").split(",")) - {""}

    # track NEW ids relative to the baseline SET (not a count delta):
    # caches leaked by earlier tests in the shared session may be
    # context-cleaned mid-test, which made a count-based delta go
    # negative (order-dependent failure when run after test_streaming)
    base = rdd_ids()

    def assert_no_new_caches():
        # a context-cleaned cache is released asynchronously — poll briefly
        for _ in range(50):
            if not (rdd_ids() - base):
                return
            time.sleep(0.1)
        assert rdd_ids() - base == set()

    corpus = corpus_from_documents(spark, "/root/testdata/sf0.001")
    dims = {"dim_source": dim_source_df(spark)}
    assert_no_new_caches()

    # direct call, AQE-decided join
    v = uniqueness_violations(corpus, "doc_id", "_ord", row_id_col(),
                              broadcast=False)
    v.count()
    assert_no_new_caches()

    # lazy validate
    res = validate(corpus, corpus_schema(), row_id_col(), dims=dims)
    res.violations.count()
    assert_no_new_caches()

    # report-path validate
    res2 = validate(corpus, corpus_schema(), row_id_col(), dims=dims,
                    report_path=str(tmp_path / "report"))
    assert_no_new_caches()
    assert res2.violations.count() > 0
