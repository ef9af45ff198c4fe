"""Structured Streaming surface.

goskema's "streaming" is incremental token parsing of one document
(reference README.md:281-308, dsl/object_stream.go) — NOT event-time
stream processing. The distributed analog the north star asks for is:
validate micro-batches of an unbounded corpus stream and maintain
event-time windowed aggregates with late-data handling.

Two pieces:

  validate_stream  readStream -> foreachBatch(batch validator) — the
                   whole batch check set (row pass + referential) runs
                   per micro-batch; each batch's violation report
                   lands in its own sink directory. Uniqueness within
                   a micro-batch is exact; global streaming uniqueness
                   would need state (dropDuplicates withWatermark) and
                   is exposed via `dedup_stream`.
  windowed_counts  watermarked tumbling-window aggregation (late rows
                   beyond the watermark are dropped by Spark's state
                   eviction — the streaming analog of the drift
                   histogram).
  dedup_stream     watermarked streaming dropDuplicates on doc_id —
                   streaming uniqueness enforcement.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

from goskema_spark.runner import validate
from goskema_spark.schema import TableSchema


def validate_stream(
    stream_df: DataFrame,
    schema: TableSchema,
    row_id,
    dims: Optional[dict] = None,
    on_batch: Optional[Callable] = None,
    violations_sink: Optional[str] = None,
    checkpoint: Optional[str] = None,
):
    """Attach the batch validator to a streaming DataFrame via
    foreachBatch. Returns the DataStreamWriter (caller starts it with
    .trigger(...).start() or availableNow).

    violations_sink: a parquet directory; each micro-batch's violation
    report (runner.write_violations: `params` as JSON text) lands in its
    own batch_id=<n>/ directory, so reading the sink discovers batch_id
    as a partition column."""

    def process(batch_df: DataFrame, batch_id: int):
        # exactly-once under micro-batch REPLAY: foreachBatch is
        # at-least-once, so a retried batch re-runs process() with the
        # same batch_id — the report write REPLACES that batch's whole
        # batch_id=<n>/ directory instead of appending duplicates (and
        # a replay with no violations leaves it empty)
        path = f"{violations_sink}/batch_id={batch_id}" if violations_sink else None
        res = validate(batch_df, schema, row_id, dims=dims, report_path=path)
        if on_batch is not None:
            on_batch(res, batch_id)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def windowed_counts(stream_df: DataFrame, ts_col: str = "ts",
                    key_col: str = "event_type", window: str = "1 hour",
                    watermark: str = "2 hours",
                    value_col: Optional[str] = "value") -> DataFrame:
    """Watermarked tumbling-window aggregation — late data beyond
    `watermark` is dropped, state is evicted (bounded memory at scale).
    value_col: numeric column to sum per window (None -> counts only;
    the default 'value' matches the events table)."""
    # watermarks need TIMESTAMP (with tz); parquet TIMESTAMP_NTZ is cast
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    aggs = [F.count(F.lit(1)).alias("n")]
    out_cols = [F.col("w.start").alias("window_start"), key_col, "n"]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
        out_cols.append(f"sum_{value_col}")
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(*out_cols)
    )


def _duration_ms(s: str) -> int:
    """Milliseconds of a duration string in the forms withWatermark
    accepts: whole non-negative counts of full unit names, singular or
    plural, compound forms included ('1 hour 30 minutes'). Spark's
    interval parser rejects abbreviations ('90 min', '10 ms'), fractional
    and negative counts, so they raise ValueError here instead of at
    query start."""
    units = {"microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
             "minute": 60_000_000, "hour": 3_600_000_000,
             "day": 86_400_000_000, "week": 604_800_000_000}
    toks = s.strip().lower().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"cannot parse duration {s!r}")
    total_us = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        if not re.fullmatch("[0-9]+", n):
            raise ValueError(f"cannot parse duration {s!r}")
        unit = unit.removesuffix("s")  # 'minutes' -> 'minute'
        if unit not in units:
            raise ValueError(f"unsupported duration unit in {s!r}")
        total_us += int(n) * units[unit]
    return total_us // 1000


def streaming_unique_violations(stream_df: DataFrame, key_col: str = "doc_id",
                                ordinal_col: str = "_ord",
                                ts_col: Optional[str] = None,
                                state_ttl: Optional[str] = None) -> DataFrame:
    """CROSS-micro-batch uniqueness with first-occurrence attribution —
    the custom stateful operator (applyInPandasWithState) extending
    rules.UniqueBy (reference rules/rules.go:104-137) to unbounded
    streams. Per-batch validate() only sees duplicates WITHIN one
    micro-batch and dedup_stream silently drops rows; this keeps the
    first-seen ordinal (one long) per key and EMITS a `uniqueness`
    violation row for every non-first occurrence, whichever micro-batch
    it arrives in.

    Attribution semantics: `first` is the FIRST-SEEN ordinal (the
    minimum of the key's first micro-batch; never lowered afterwards) —
    identical to the batch result when ordinals arrive non-decreasing
    (the normal append-log case). A late-arriving smaller ordinal is
    itself flagged against the stored first (deterministic, documented
    divergence from a global batch sort — exact late handling would
    need per-key ordinal retention, unbounded state).

    State: ONE long per distinct key (first ordinal); with a TTL, two
    (plus the key's max event time, so late batches cannot shrink the
    eviction deadline). Without a TTL state is bounded only by the
    DISTINCT-key cardinality — fine for a replayed bounded corpus,
    unbounded on a true unbounded key stream. For the latter pass
    `ts_col` + `state_ttl` (e.g. '1 hour'): the stream is watermarked on
    ts_col by the TTL and each key's state carries an event-time timeout
    of (max event time seen for the key) + TTL — once the watermark
    passes it, the state row is evicted, mirroring `dedup_stream`'s
    bounded-memory story. An evicted key that reappears later re-admits
    as a NEW first occurrence (no violation) — the deliberate
    bounded-memory trade, identical to dropDuplicatesWithinWatermark.

    Edge: a duplicate arriving with an ordinal EQUAL to the stored first
    is treated as a replay of the first occurrence and passes silently —
    exact only when ordinals are unique per arrival (the append-log
    offset case); with non-unique ordinals a same-ordinal duplicate is
    not flagged.

    Output mode 'update' (violations append-only per trigger)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_t = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("dup_ord", T.LongType()),
        T.StructField("first_ord", T.LongType()),
        T.StructField("code", T.StringType()),
    ])
    ttl_ms = _duration_ms(state_ttl) if state_ttl else None
    if ttl_ms is not None and ts_col is None:
        raise ValueError("state_ttl requires ts_col (event-time column)")
    # with a TTL the state also keeps the key's max event time seen so
    # far: the timeout must never shrink when a batch of LATE (but
    # in-watermark) rows arrives, or the key is evicted before the
    # documented (max event time) + TTL deadline
    fields = [T.StructField("first", T.LongType())]
    if ttl_ms is not None:
        fields.append(T.StructField("max_ts", T.LongType()))
    state_t = T.StructType(fields)
    empty_cols = [key_col, "dup_ord", "first_ord", "code"]

    def track(key, pdfs, state):
        import pandas as pd

        if ttl_ms is not None and state.hasTimedOut:
            # watermark passed this key's timeout: evict and emit nothing
            state.remove()
            yield pd.DataFrame([], columns=empty_cols)
            return
        ords = []
        max_ts_ms = None
        for pdf in pdfs:
            ords.extend(int(o) for o in pdf[ordinal_col].dropna())
            if ttl_ms is not None:
                mx = pdf[ts_col].max()
                if not pd.isna(mx):
                    ms = int(pd.Timestamp(mx).value // 1_000_000)
                    max_ts_ms = ms if max_ts_ms is None else max(max_ts_ms, ms)
        ords.sort()
        prior = state.get if state.exists else None
        first = prior[0] if prior is not None else None
        prev_max = (prior[1] if prior is not None and len(prior) > 1
                    else None)
        rows = []
        for o in ords:
            if first is None:
                first = o
            elif o != first:
                rows.append((key[0], o, first, "uniqueness"))
        if first is not None:  # all-null ordinals: nothing to remember
            if ttl_ms is None:
                state.update((first,))
            else:
                # carry the running max event time: a late-row batch must
                # never LOWER the eviction deadline below the already-
                # promised (max seen so far) + TTL
                seen = [x for x in (prev_max, max_ts_ms) if x is not None]
                keep_max = max(seen) if seen else None
                state.update((first, keep_max))
                # timeout fires once the watermark (ts_col max - TTL)
                # passes (key's max event time + TTL); must stay
                # strictly above the current watermark or Spark rejects it
                wm = state.getCurrentWatermarkMs()
                base = keep_max if keep_max is not None else wm
                state.setTimeoutTimestamp(max(base + ttl_ms, wm + 1))
        yield pd.DataFrame(rows, columns=empty_cols)

    cols = [F.col(key_col).cast("string").alias(key_col), F.col(ordinal_col)]
    src = stream_df
    if ttl_ms is not None:
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp")) \
                 .withWatermark(ts_col, state_ttl)
        cols.append(F.col(ts_col))
    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (src.select(*cols)
            .filter(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .applyInPandasWithState(track, out_t, state_t, "update", timeout))


def drift_stream(stream_df: DataFrame, column: str, ref: DataFrame,
                 lo: float, hi: float, buckets: int = 16,
                 ts_col: str = "ts", window: str = "1 hour",
                 watermark: str = "2 hours",
                 psi_threshold: float = 0.25, ks_threshold: float = 0.30,
                 sink: Optional[str] = None,
                 on_batch: Optional[Callable] = None,
                 checkpoint: Optional[str] = None):
    """STREAMING distribution-drift detection: per closed event-time
    window, PSI + KS of `column` against a fixed reference snapshot —
    the streaming analog of the north rule's drift check (and of
    drift.windowed_drift, its batch twin scoring identical grouped
    histograms via drift.score_grouped_histograms).

    Plan: a watermarked tumbling-window (window, bucket) count aggregate
    runs in APPEND mode, so a window's finalized histogram is emitted
    exactly once — in the trigger where the watermark passes its end
    (late rows beyond the watermark are dropped by state eviction, and
    windows still open when a bounded stream ends never emit). Each
    emitted histogram batch is scored in foreachBatch against the
    reference histogram, which is finalized ONCE at writer construction
    (<= buckets+2 rows, rebuilt per batch as a broadcast literal — no
    repeated scans of `ref`).

    State: (#open windows x (buckets+2)) count rows — bounded by the
    watermark regardless of stream length. Scoring per trigger touches
    only the just-closed windows' histograms.

    Output rows: (window_start, psi, ks, drifted, batch_id), appended to
    `sink` (parquet, partitioned by batch_id with dynamic overwrite —
    idempotent under micro-batch replay) and/or passed to
    `on_batch(scored_df, batch_id)`. Returns the DataStreamWriter."""
    from goskema_spark.drift import histogram, score_grouped_histograms

    ref_rows = [(int(r["bucket"]), int(r["cnt"]))
                for r in histogram(ref, column, lo, hi, buckets)
                .select("bucket", "cnt").collect()]

    src = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    cd = F.col(column).try_cast("double")
    hist_stream = (
        # try_cast + isNotNull on the CAST value: a non-numeric string
        # must drop here, not survive as a NULL width_bucket row that
        # inflates the window total and distorts PSI (isnan(NULL) is
        # false, so the raw isNotNull filter alone would pass it) — and
        # under ANSI a plain cast would kill the stream instead
        src.filter(cd.isNotNull() & ~F.isnan(cd))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"),
                 F.width_bucket(cd, F.lit(float(lo)), F.lit(float(hi)),
                                F.lit(buckets)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
        .select(F.col("w.start").alias("window_start"), "bucket", "cnt_a")
    )

    def process(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ref_df = spark.createDataFrame(
            ref_rows, "bucket bigint, cnt_b bigint")
        wins = batch_df.select("window_start").distinct()
        hb = wins.crossJoin(F.broadcast(ref_df))
        scored = (
            score_grouped_histograms(
                batch_df.select("window_start",
                                F.col("bucket").cast("bigint").alias("bucket"),
                                "cnt_a"),
                hb, "window_start")
            .select("window_start", "psi", "ks",
                    ((F.col("psi") > psi_threshold)
                     | (F.col("ks") > ks_threshold)).alias("drifted"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        if sink:
            (scored.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(sink))
        if on_batch is not None:
            on_batch(scored, batch_id)

    writer = (hist_stream.writeStream.outputMode("append")
              .foreachBatch(process))
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def dedup_stream(stream_df: DataFrame, key: str = "doc_id",
                 ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming uniqueness: exactly-once KEYS within the watermark
    horizon — dropDuplicatesWithinWatermark dedups on the key alone
    (state evicted past the watermark, so memory stays bounded), unlike
    dropDuplicates([key, ts]) which would pass the same doc_id through
    whenever the timestamp differs."""
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    wm = stream_df.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark([key])
