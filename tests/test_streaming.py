"""Structured Streaming tests: micro-batch validation via foreachBatch,
watermarked windowed aggregation, streaming dedup."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from goskema_spark.corpus import (
    corpus_from_documents,
    corpus_schema,
    dim_source_df,
    row_id_col,
)

SF = "/root/testdata/sf0.001"


def test_stream_validation_matches_batch(spark):
    from goskema_spark.streaming import validate_stream

    tmp = tempfile.mkdtemp()
    try:
        corpus = corpus_from_documents(spark, SF)
        corpus.coalesce(2).write.mode("overwrite").parquet(f"{tmp}/in")

        stream = (spark.readStream.schema(corpus.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(f"{tmp}/in"))
        writer = validate_stream(
            stream, corpus_schema(), row_id_col(),
            dims={"dim_source": dim_source_df(spark)},
            violations_sink=f"{tmp}/viols",
            checkpoint=f"{tmp}/ckpt",
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(300)

        got = spark.read.parquet(f"{tmp}/viols")
        # batch reference
        from goskema_spark.runner import validate
        ref = validate(corpus, corpus_schema(), row_id_col(),
                       dims={"dim_source": dim_source_df(spark)})
        # micro-batch uniqueness is per-batch; compare the per-row checks
        batch_rowlevel = ref.violations.filter(F.col("code") != "uniqueness")
        stream_rowlevel = got.filter(F.col("code") != "uniqueness")
        a = {(r["row_id"], r["path"], r["code"]) for r in batch_rowlevel.collect()}
        b = {(r["row_id"], r["path"], r["code"]) for r in stream_rowlevel.collect()}
        assert a == b
        ref.violations.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_counts_with_watermark(spark):
    from goskema_spark.streaming import windowed_counts

    tmp = tempfile.mkdtemp()
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.write.mode("overwrite").parquet(f"{tmp}/ev")
        stream = spark.readStream.schema(ev.schema).parquet(f"{tmp}/ev")
        agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
        q = (agg.writeStream.format("memory").queryName("win_agg")
             .outputMode("append")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = {(r["window_start"], r["event_type"]): r["n"]
               for r in spark.sql("select * from win_agg").collect()}
        # batch reference (watermark only drops data in later triggers;
        # availableNow over one dataset emits finalized windows)
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        ref = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("w.start").alias("ws"), "event_type", "n"))
        expected = {(r["ws"], r["event_type"]): r["n"] for r in ref.collect()}
        # every emitted window matches the batch result
        assert got and all(expected.get(k) == v for k, v in got.items())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_stream(spark):
    from goskema_spark.streaming import dedup_stream

    tmp = tempfile.mkdtemp()
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            F.col("event_id").cast("string").alias("doc_id"), "ts")
        # inject exact duplicates AND same-key/different-timestamp
        # duplicates: key-level dedup must drop both kinds
        shifted = ev.limit(30).withColumn(
            "ts", (F.col("ts").cast("timestamp") + F.expr("INTERVAL 1 MINUTE"))
            .cast(dict(ev.dtypes)["ts"]))
        dup = ev.unionByName(ev.limit(50)).unionByName(shifted)
        dup.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = spark.readStream.schema(dup.schema).parquet(f"{tmp}/in")
        q = (dedup_stream(stream, "doc_id", "ts").writeStream
             .format("memory").queryName("dedup_out").outputMode("append")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        n = spark.sql("select count(distinct doc_id) c, count(*) n from dedup_out").collect()[0]
        assert n["c"] == n["n"] == ev.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_sink_idempotent_under_batch_replay(spark):
    """foreachBatch is at-least-once: replaying a micro-batch with the
    same batch_id must REPLACE its violation rows, not append duplicates
    (dynamic overwrite of the batch_id partition)."""
    from goskema_spark.runner import validate
    from goskema_spark.streaming import validate_stream

    tmp = tempfile.mkdtemp()
    try:
        corpus = corpus_from_documents(spark, SF)
        corpus.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (spark.readStream.schema(corpus.schema)
                  .parquet(f"{tmp}/in"))
        writer = validate_stream(
            stream, corpus_schema(), row_id_col(),
            dims={"dim_source": dim_source_df(spark)},
            violations_sink=f"{tmp}/viols",
            checkpoint=f"{tmp}/ckpt",
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(300)
        first = spark.read.parquet(f"{tmp}/viols").count()
        assert first > 0

        # simulate the retry: run the SAME data as the same batch_id by
        # wiping the checkpoint (Spark restarts numbering at 0) — the
        # sink must hold exactly one copy afterwards
        shutil.rmtree(f"{tmp}/ckpt", ignore_errors=True)
        writer2 = validate_stream(
            spark.readStream.schema(corpus.schema).parquet(f"{tmp}/in"),
            corpus_schema(), row_id_col(),
            dims={"dim_source": dim_source_df(spark)},
            violations_sink=f"{tmp}/viols",
            checkpoint=f"{tmp}/ckpt",
        )
        q2 = writer2.trigger(availableNow=True).start()
        q2.awaitTermination(300)
        again = spark.read.parquet(f"{tmp}/viols")
        assert again.count() == first
        # and the rows are the row-level reference set, exactly once each
        ref = validate(corpus, corpus_schema(), row_id_col(),
                       dims={"dim_source": dim_source_df(spark)})
        a = sorted((r["row_id"], r["path"], r["code"])
                   for r in ref.violations.filter(F.col("code") != "uniqueness").collect())
        b = sorted((r["row_id"], r["path"], r["code"])
                   for r in again.filter(F.col("code") != "uniqueness").collect())
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_sink_replay_without_violations_empties_batch(spark):
    """A replayed batch replaces its whole batch_id=<n>/ directory: a
    replay that finds no violations leaves no stale rows behind."""
    from goskema_spark.schema import TableSchema
    from goskema_spark.streaming import validate_stream

    tmp = tempfile.mkdtemp()
    try:
        corpus = corpus_from_documents(spark, SF)
        corpus.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")

        def run(schema):
            shutil.rmtree(f"{tmp}/ckpt", ignore_errors=True)
            writer = validate_stream(
                spark.readStream.schema(corpus.schema).parquet(f"{tmp}/in"),
                schema, row_id_col(),
                dims={"dim_source": dim_source_df(spark)},
                violations_sink=f"{tmp}/viols",
                checkpoint=f"{tmp}/ckpt",
            )
            writer.trigger(availableNow=True).start().awaitTermination(300)
            return spark.read.parquet(f"{tmp}/viols").filter("batch_id = 0").count()

        assert run(corpus_schema()) > 0
        # the same batch 0 again, under a schema with no checks
        assert run(TableSchema(fields=[], unknown="strip")) == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_unique_violations_cross_batch(spark):
    """applyInPandasWithState stateful operator: duplicates that SPAN
    micro-batches are flagged with the first-occurrence ordinal from an
    EARLIER batch — the case per-batch validate() cannot see. With
    ordinals arriving in order, the flagged set equals the batch
    uniqueness result."""
    from pyspark.sql import types as T
    from goskema_spark.streaming import streaming_unique_violations
    from goskema_spark.uniqueness import uniqueness_violations

    tmp = tempfile.mkdtemp()
    try:
        schema_t = T.StructType([T.StructField("doc_id", T.StringType()),
                                 T.StructField("_ord", T.LongType())])
        batch1 = [("a", 0), ("b", 1), ("DUP", 2), ("c", 3), ("DUP", 4)]
        batch2 = [("d", 10), ("DUP", 11), ("b", 12), ("e", 13)]
        spark.createDataFrame(batch1, schema_t).coalesce(1) \
            .write.parquet(f"{tmp}/in/b1")
        spark.createDataFrame(batch2, schema_t).coalesce(1) \
            .write.parquet(f"{tmp}/in/b2")

        stream = (spark.readStream.schema(schema_t)
                  .option("maxFilesPerTrigger", "1")
                  .option("recursiveFileLookup", "true")
                  .parquet(f"{tmp}/in"))
        q = (streaming_unique_violations(stream)
             .writeStream.format("memory").queryName("uniq_state")
             .outputMode("update")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = {(r["doc_id"], r["dup_ord"], r["first_ord"])
               for r in spark.sql("select * from uniq_state").collect()}
        # cross-batch: DUP@11 attributes to first_ord=2 (batch 1);
        # b@12 attributes to b@1 — neither visible to per-batch checks
        assert ("DUP", 11, 2) in got and ("b", 12, 1) in got

        # equals the batch uniqueness result on the full data
        full = spark.createDataFrame(batch1 + batch2, schema_t)
        ref = {(r["params"]["key"], int(r["params"]["dup"]),
                int(r["params"]["first"]))
               for r in uniqueness_violations(
                   full, "doc_id", "_ord", F.col("doc_id")).collect()}
        assert got == ref
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_unique_state_ttl_evicts_and_readmits(spark):
    """state_ttl bounds the stateful-uniqueness memory: a key whose
    event time falls TTL behind the watermark is evicted (state row
    gone) and re-admits later as a NEW first occurrence with no
    violation, while a key whose state is still live keeps flagging
    duplicates against the original first ordinal."""
    import datetime as dt
    from pyspark.sql import types as T
    from goskema_spark.streaming import streaming_unique_violations

    def t(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    tmp = tempfile.mkdtemp()
    try:
        schema_t = T.StructType([T.StructField("doc_id", T.StringType()),
                                 T.StructField("_ord", T.LongType()),
                                 T.StructField("ts", T.TimestampType())])
        batches = [
            [("X", 0, t(10)), ("a", 1, t(10))],
            [("b", 11, t(13))],          # watermark -> 09:00 (X, a live)
            [("c", 20, t(13, 10))],      # watermark -> 12:00: X,a evicted
            [("X", 30, t(13, 20)),       # re-admits: NO violation
             ("b", 31, t(13, 20))],      # still-live state: flagged vs 11
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema_t).coalesce(1)                 .write.parquet(f"{tmp}/in/b{i + 1}")
        stream = (spark.readStream.schema(schema_t)
                  .option("maxFilesPerTrigger", "1")
                  .option("recursiveFileLookup", "true")
                  .parquet(f"{tmp}/in"))
        q = (streaming_unique_violations(stream, ts_col="ts",
                                         state_ttl="1 hour")
             .writeStream.format("memory").queryName("uniq_ttl")
             .outputMode("update")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = {(r["doc_id"], r["dup_ord"], r["first_ord"])
               for r in spark.sql("select * from uniq_ttl").collect()}
        assert got == {("b", 31, 11)}  # X@30 re-admitted silently
        # state stays bounded: the last progress reports fewer state
        # rows than distinct keys ever seen (a evicted, X re-added)
        state_rows = [p["stateOperators"][0]["numRowsTotal"]
                      for p in (q.recentProgress or [])
                      if p.get("stateOperators")]
        assert state_rows and state_rows[-1] <= 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_unique_ttl_late_batch_keeps_deadline(spark):
    """A batch of LATE (in-watermark) rows must not SHRINK a key's
    eviction deadline: the state carries the running max event time, so
    the timeout stays (max seen) + TTL. Without it, K first-seen at
    10:00 then receiving a late 09:00 row would re-arm its timeout an
    hour early and a true duplicate at 10:25 would be silently
    re-admitted as a new first."""
    import datetime as dt
    from pyspark.sql import types as T
    from goskema_spark.streaming import streaming_unique_violations

    def t(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    tmp = tempfile.mkdtemp()
    try:
        schema_t = T.StructType([T.StructField("doc_id", T.StringType()),
                                 T.StructField("_ord", T.LongType()),
                                 T.StructField("ts", T.TimestampType())])
        batches = [
            [("K", 0, t(10))],            # deadline -> 11:00
            [("K", 1, t(9))],             # LATE row: deadline must stay 11:00
            [("z", 10, t(11, 20))],       # advances watermark to 10:20
            [("K", 2, t(10, 25))],        # wm 10:20 < 11:00: K still live
        ]
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema_t).coalesce(1) \
                .write.parquet(f"{tmp}/in/b{i + 1}")
        stream = (spark.readStream.schema(schema_t)
                  .option("maxFilesPerTrigger", "1")
                  .option("recursiveFileLookup", "true")
                  .parquet(f"{tmp}/in"))
        q = (streaming_unique_violations(stream, ts_col="ts",
                                         state_ttl="1 hour")
             .writeStream.format("memory").queryName("uniq_ttl_late")
             .outputMode("update")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = {(r["doc_id"], r["dup_ord"], r["first_ord"])
               for r in spark.sql("select * from uniq_ttl_late").collect()}
        # the late row itself is flagged, AND the post-deadline-shrink
        # duplicate is STILL flagged against the original first
        assert ("K", 1, 0) in got
        assert ("K", 2, 0) in got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_drift_stream_matches_batch_twin(spark):
    """Every window the stream scores must equal drift.windowed_drift on
    the same data — identical grouped-histogram scoring on both paths."""
    from goskema_spark.drift import windowed_drift
    from goskema_spark.streaming import drift_stream

    tmp = tempfile.mkdtemp()
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.coalesce(2).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(f"{tmp}/in"))
        writer = drift_stream(
            stream, "value", ev, 0, 480, buckets=8,
            ts_col="ts", window="1 day", watermark="1 hour",
            sink=f"{tmp}/out", checkpoint=f"{tmp}/ckpt")
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(300)

        got = spark.read.parquet(f"{tmp}/out").collect()
        assert got  # closed windows were emitted and scored
        batch = windowed_drift(ev, "value", ev, 0, 480, 8,
                               ts_col="ts", window="1 day")
        expected = {r["window_start"]: (r["psi"], r["ks"])
                    for r in batch.collect()}
        for r in got:
            assert expected[r["window_start"]] == (r["psi"], r["ks"])
            assert r["drifted"] == (r["psi"] > 0.25 or r["ks"] > 0.30)
        # append mode: each closed window scored exactly once
        ws = [r["window_start"] for r in got]
        assert len(ws) == len(set(ws))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_session_window_counts_streaming_matches_batch(spark):
    """ops/sessionize.session_window_counts is the STREAMING path for
    sessionization: the same call runs on a watermarked stream, state
    evicted per watermark. availableNow over a bounded dataset emits
    every finalized session; each must equal the batch result (which
    itself is cross-validated against the lag+cumsum derivation)."""
    from goskema_spark.ops.sessionize import session_window_counts

    tmp = tempfile.mkdtemp()
    try:
        ev = (spark.read.parquet(f"{SF}/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
        ev.write.mode("overwrite").parquet(f"{tmp}/ev")
        stream = (spark.readStream.schema(ev.schema).parquet(f"{tmp}/ev")
                  .withWatermark("ts", "2 hours"))
        agg = session_window_counts(stream, gap="30 minutes")
        q = (agg.writeStream.format("memory").queryName("sess_stream")
             .outputMode("append")
             .option("checkpointLocation", f"{tmp}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = {(r["user_id"], r["session_start"]):
               (r["session_end"], r["n_events"], r["sum_value"])
               for r in spark.sql("select * from sess_stream").collect()}
        ref = session_window_counts(ev, gap="30 minutes")
        expected = {(r["user_id"], r["session_start"]):
                    (r["session_end"], r["n_events"], r["sum_value"])
                    for r in ref.collect()}
        assert got and all(expected.get(k) == v for k, v in got.items())
        # bounded-stream caveat: sessions still open at end-of-input
        # never finalize; everything emitted must be correct and most
        # sessions (old data, watermark long past) must have emitted
        assert len(got) >= 0.9 * len(expected)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_duration_parser_spark_surface(spark):
    """_duration_ms accepts only what withWatermark accepts: full unit
    names, weeks, compound forms. Abbreviations, fractional and negative
    counts raise ValueError, as withWatermark rejects them too."""
    from pyspark.errors import PySparkException

    from goskema_spark.streaming import _duration_ms
    assert _duration_ms("30 seconds") == 30_000
    assert _duration_ms("1 week") == 604_800_000
    assert _duration_ms("1 hour 30 minutes") == 5_400_000
    with pytest.raises(ValueError):
        _duration_ms("3 parsecs")
    with pytest.raises(ValueError):
        _duration_ms("soon")
    df = spark.range(1).selectExpr("CAST(id AS TIMESTAMP) AS ts")
    for s in ("30 seconds", "1 week", "1 hour 30 minutes"):
        df.withWatermark("ts", s)
    for s in ("90 min", "10 ms", "10 us", "5 sec", "5 s", "5 m", "1h", "2 d",
              "1 w", "1.5 hours", "-1 hour"):
        with pytest.raises(ValueError):
            _duration_ms(s)
        with pytest.raises(PySparkException):
            df.withWatermark("ts", s)
