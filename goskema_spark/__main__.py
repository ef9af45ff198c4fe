"""spark-submit entrypoint (north rule: packaged for
`spark-submit --py-files goskema_spark.zip`).

    spark-submit --py-files goskema_spark.zip -m goskema_spark \
        --input  s3://corpus/table_or_parquet_dir \
        --dim-source s3://dims/sources.parquet \
        --ledger s3://runs/ledger --violations s3://runs/violations \
        --run-id 2026-08-16-a --max-len 64 --max-ntok 64 --vocab 1000 \
        --repartition 4096

Reads the corpus (parquet dir or Iceberg table name when the catalog is
configured), runs the full check set with ledger/resume, prints the
verdict summary as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="goskema_spark")
    p.add_argument("--input", required=True,
                   help="parquet path or Iceberg table of (doc_id, tokens, n_tok, source)")
    p.add_argument("--dim-source", default=None,
                   help="parquet path of the source dimension (referential check)")
    p.add_argument("--ledger", required=True, help="ledger table/path (resume state)")
    p.add_argument("--violations", default=None, help="violations sink path")
    p.add_argument("--run-id", required=True)
    p.add_argument("--max-len", type=int, default=64)
    p.add_argument("--max-ntok", type=int, default=64)
    p.add_argument("--vocab", type=int, default=1000)
    p.add_argument("--repartition", type=int, default=0,
                   help="explicit repartition(N, source, xxhash64(doc_id)) before the pass")
    p.add_argument("--fail-fast", action="store_true")
    p.add_argument("--unique-broadcast", choices=["auto", "force"],
                   default="auto",
                   help="dup-key join strategy for the uniqueness check: "
                        "'auto' (default) lets AQE promote to broadcast "
                        "from runtime stats — safe when the input may be "
                        "pathologically duplicated (e.g. a full corpus "
                        "re-ingest makes the dup-key set the WHOLE key "
                        "set, which a forced broadcast would push through "
                        "the driver); 'force' hints the broadcast for "
                        "near-unique-by-contract keys (faster: no "
                        "corpus-side exchange)")
    return p


def load_input(spark: SparkSession, path: str):
    if "/" in path or path.endswith(".parquet"):
        return spark.read.parquet(path)
    return spark.read.table(path)  # Iceberg table via configured catalog


def with_synthesized_ordinal(df):
    """Attach a deterministic `_ord` when the input carries none.

    Preferred: xxhash64(_metadata.file_path, _metadata.row_index) —
    unique per physical row (so byte-identical duplicate rows still get
    DISTINCT ordinals and uniqueness attribution stays exact), stable
    across re-planning/cluster size, and deterministic (filter pushdown
    for ledger resume still works). Falls back to a content hash for
    non-file sources, where identical duplicate rows tie on ordinal and
    first/dup attribution degrades — persist a real ordinal column to
    avoid that corner.
    """
    try:
        out = df.withColumn("_ord", F.xxhash64(
            F.col("_metadata.file_path"), F.col("_metadata.row_index")))
        out.schema  # force analysis so a missing _metadata fails HERE
        return out
    except Exception:
        # loud, not silent: on this path byte-identical duplicate rows
        # share an ordinal and uniqueness reports ZERO violations for
        # them — the operator must know the check is degraded
        import sys
        print("goskema: warning: input has no _metadata (non-file "
              "source) and no _ord column; falling back to a content-"
              "hash ordinal. Byte-identical duplicate rows will NOT be "
              "reported by the uniqueness check — persist a real "
              "ordinal column for exact attribution.", file=sys.stderr)
        return df.withColumn("_ord", F.xxhash64(F.struct(*df.columns)))


def main(argv=None) -> int:
    from goskema_spark.corpus import corpus_schema
    from goskema_spark.ledger import read_ledger, run_with_ledger

    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName(f"goskema-{args.run_id}").getOrCreate()

    df = load_input(spark, args.input)
    if "_ord" not in df.columns:
        # NOT monotonically_increasing_id: nondeterministic, so (a)
        # Catalyst refuses to push the ledger's resume partition-prune
        # filter past the projection — a crash-resume rescanned the
        # whole corpus — and (b) a resume under a different file layout
        # re-numbers every row, flipping which duplicate is "first"
        # versus the uninterrupted run. NOT a bare content hash either:
        # byte-identical duplicate ROWS — the most common real
        # duplicate (re-ingested files) — would share an ordinal, and
        # uniqueness_violations keeps only rows with ordinal != first,
        # silently reporting ZERO violations for exactly the duplicates
        # the check exists to catch (ADVICE r5, high).
        df = with_synthesized_ordinal(df)
    if args.repartition:
        df = df.repartition(args.repartition, F.col("source"), F.xxhash64("doc_id"))

    schema = corpus_schema(args.max_len, args.max_ntok, args.vocab)
    schema.fail_fast = args.fail_fast
    # the CLI faces arbitrary user inputs, where "the dup set is tiny"
    # is NOT a safe contract (a doubled re-ingested corpus — exactly
    # what the synthesized ordinal exists to catch — makes every key a
    # duplicate); default to the AQE-decided join, opt into the forced
    # broadcast only when the caller vouches for the key
    for uk in schema.unique_keys:
        uk.broadcast = args.unique_broadcast == "force"
    dims = {}
    if args.dim_source:
        dims["dim_source"] = spark.read.parquet(args.dim_source)
    else:
        schema.foreign_keys = []

    # the ONE row-id contract (corpus.row_id_col, F5) — not a local copy
    # that could drift from the library and its DuckDB oracle twin
    from goskema_spark.corpus import row_id_col
    run_with_ledger(spark, df, schema, row_id_col(), run_id=args.run_id,
                    ledger_path=args.ledger, violations_path=args.violations,
                    dims=dims)
    led = read_ledger(spark, args.ledger, args.run_id)
    agg = led.agg(F.count(F.lit(1)).alias("partitions"),
                  F.sum("rows").alias("rows"),
                  F.sum("violations").alias("violations"),
                  F.sum(F.when(F.col("verdict") == "fail", 1).otherwise(0)).alias("failed"),
                  ).collect()[0]
    print(json.dumps({
        "run_id": args.run_id,
        "partitions": agg["partitions"],
        "rows": int(agg["rows"] or 0),
        "violations": int(agg["violations"] or 0),
        "failed_partitions": int(agg["failed"] or 0),
        "verdict": "fail" if (agg["failed"] or 0) > 0 else "pass",
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
