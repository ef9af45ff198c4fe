"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship validation on sf0.001.
`queries()` / `oracle_sql()` expose each implemented operator with a
DuckDB-checkable oracle over the same parquet tables.

All validation queries run over the canonical tokenized corpus
(north-rule shape: doc_id string, tokens array<int32>, n_tok int32,
source string) derived deterministically from the `documents` table —
the derivation is implemented twice, in Spark (goskema_spark.corpus.
corpus_from_documents) and ANSI SQL (corpus_cte_sql), and verified
identical row-for-row in tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from goskema_spark.corpus import (
    MAX_LEN,
    MAX_NTOK,
    ROW_ID_SQL,
    VOCAB,
    corpus_cte_sql,
    corpus_from_documents,
    corpus_schema,
    dim_source_df,
    row_id_col,
)
from goskema_spark.drift import histogram
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.runner import validate
from goskema_spark.stats import numeric_quantiles, profile
from goskema_spark.uniqueness import uniqueness_violations

DIM_IN = "(" + ",".join(f"'src{i}'" for i in range(20)) + ")"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_from_documents(spark, sf_dir)


# --------------------------------------------------------------------------
# shared oracle SQL fragments (DuckDB dialect, over the `documents` view)
# --------------------------------------------------------------------------

def _rowpass_viols_sql() -> str:
    """Row-pass violations as (row_id, path, code, rule, source, _ord)."""
    return f"""
  SELECT {ROW_ID_SQL} AS row_id, '/doc_id' AS path, 'required' AS code,
         'required' AS rule, source, _ord FROM corpus WHERE doc_id IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/tokens', 'required', 'required', source, _ord
  FROM corpus WHERE tokens IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/n_tok', 'required', 'required', source, _ord
  FROM corpus WHERE n_tok IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/source', 'required', 'required', source, _ord
  FROM corpus WHERE source IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/tokens', 'too_short', 'array_min', source, _ord
  FROM corpus WHERE tokens IS NOT NULL AND len(tokens) < 1
  UNION ALL
  SELECT {ROW_ID_SQL}, '/tokens', 'too_long', 'array_max', source, _ord
  FROM corpus WHERE tokens IS NOT NULL AND len(tokens) > {MAX_LEN}
  UNION ALL
  SELECT {ROW_ID_SQL}, '/n_tok', 'too_small', 'min', source, _ord
  FROM corpus WHERE n_tok IS NOT NULL AND n_tok < 1
  UNION ALL
  SELECT {ROW_ID_SQL}, '/n_tok', 'too_big', 'max', source, _ord
  FROM corpus WHERE n_tok IS NOT NULL AND n_tok > {MAX_NTOK}
  UNION ALL
  SELECT {ROW_ID_SQL}, '/n_tok', 'business_rule', 'n_tok_matches_tokens', source, _ord
  FROM corpus WHERE n_tok IS NOT NULL AND tokens IS NOT NULL AND n_tok <> len(tokens)
  UNION ALL
  SELECT {ROW_ID_SQL}, '/tokens/' || CAST(u.i - 1 AS VARCHAR), 'domain_range',
         'elem_domain', source, _ord
  FROM corpus c CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, len(c.tokens))) AS i) u
  WHERE c.tokens[u.i] < 0 OR c.tokens[u.i] >= {VOCAB}
"""


def _uniq_viols_sql() -> str:
    return f"""
  SELECT {ROW_ID_SQL.replace('doc_id', 'c.doc_id').replace('_ord', 'c._ord')} AS row_id,
         '/doc_id' AS path, 'uniqueness' AS code, 'unique_by' AS rule,
         d.first AS first_ord, c._ord AS dup_ord, c.doc_id AS key_val,
         c.source AS source, c._ord AS _ord
  FROM corpus c JOIN (
    SELECT doc_id, MIN(_ord) AS first FROM corpus
    WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING COUNT(*) > 1
  ) d ON c.doc_id = d.doc_id
  WHERE c._ord <> d.first
"""


def _ref_viols_sql() -> str:
    return f"""
  SELECT {ROW_ID_SQL} AS row_id, '/source' AS path, 'invalid_enum' AS code,
         'ref_source' AS rule, source AS got, source, _ord
  FROM corpus WHERE source IS NOT NULL AND source NOT IN {DIM_IN}
"""


def _with_corpus(body: str) -> str:
    return f"WITH corpus AS ({corpus_cte_sql()})\n{body}"


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation run (row pass + uniqueness + referential +
    verdicts) on sf0.001; returns the violations DataFrame."""
    corpus = _corpus(spark, "/root/testdata/sf0.001")
    res = validate(corpus, corpus_schema(), row_id_col(),
                   dims={"dim_source": dim_source_df(spark)})
    return res.violations.select("row_id", "path", "code", "message", "rule")


def _q_rowpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    _, viols, _ = validate_rows(corpus, corpus_schema(), row_id_col())
    return viols.select("row_id", "path", "code", "rule")


def _q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    v = uniqueness_violations(corpus, "doc_id", "_ord", row_id_col())
    return v.select(
        "row_id", "path", "code", "rule",
        F.col("params")["first"].cast("bigint").alias("first_ord"),
        F.col("params")["dup"].cast("bigint").alias("dup_ord"),
        F.col("params")["key"].alias("key_val"),
    )


def _q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    v = referential_violations(corpus, "source", dim_source_df(spark), "source", row_id_col())
    return v.select("row_id", "path", "code", "rule",
                    F.col("params")["got"].alias("got"))


def _q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    return profile(corpus, ["doc_id", "n_tok", "source"], exact_distinct=True)


def _q_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped stats profile: one row per (source, column) — the north
    rule's per-partition lineage view as a single grouped aggregate."""
    corpus = _corpus(spark, sf_dir)
    return profile(corpus, ["doc_id", "n_tok"], exact_distinct=True,
                   by="source")


def _q_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    q = numeric_quantiles(corpus, "n_tok", (0.5, 0.9), exact=True,
                          by="source")
    return q.select(
        "source",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("min_v"), F.col("max_v"),
        F.round("avg_v", 4).alias("avg_v"),
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
    )


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    h = histogram(corpus, "n_tok", 0, MAX_NTOK, 16)
    return h.select(F.col("bucket").cast("bigint").alias("bucket"),
                    F.col("bucket_lo").cast("double").alias("bucket_lo"),
                    F.col("bucket_hi").cast("double").alias("bucket_hi"),
                    F.col("cnt").cast("bigint").alias("cnt"))


def _q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    q = numeric_quantiles(corpus, "n_tok", (0.5, 0.9, 0.99), exact=True)
    return q.select(
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("min_v"), F.col("max_v"),
        F.round("avg_v", 4).alias("avg_v"),
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
        F.round("p99", 4).alias("p99"),
    )


def _q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PSI/KS between src0's n_tok distribution and the whole
    corpus — the drift check as an oracle-checked relational computation."""
    from goskema_spark.drift import psi_ks_between
    corpus = _corpus(spark, sf_dir)
    return psi_ks_between(corpus.filter(F.col("source") == "src0"), corpus,
                          "n_tok", 0, MAX_NTOK, 16)


def _q_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    res = validate(corpus, corpus_schema(), row_id_col(),
                   dims={"dim_source": dim_source_df(spark)})
    return res.verdicts.select(
        "source",
        F.col("rows").cast("bigint").alias("rows"),
        F.col("violations").cast("bigint").alias("violations"),
        "verdict",
    )


def _q_clean_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-array equality invariant surfaced as an oracle query: clean
    rows grouped by source with the sum of all token values — if the
    engine mutated any token array, the checksum diverges."""
    corpus = _corpus(spark, sf_dir)
    _, _, clean = validate_rows(corpus, corpus_schema(), row_id_col())
    return (
        clean.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.aggregate("tokens", F.lit(0).cast("bigint"),
                              lambda acc, t: acc + t)).cast("bigint").alias("tok_sum"),
            F.sum("n_tok").cast("bigint").alias("ntok_sum"),
        )
    )


def _q_listset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k8s list-type: set semantics over the first 8 tokens — within-row
    duplicate elements are duplicate_item at /tok8/<i> (reference
    kubeopenapi/list.go:20-40), compiled as pure column expressions."""
    from goskema_spark import schema as S
    corpus = _corpus(spark, sf_dir)
    toks = corpus.select("doc_id", "_ord", F.slice("tokens", 1, 8).alias("tok8"))
    sch = S.table(
        S.field("doc_id", "string"),
        S.field("tok8", S.ArraySpec(elem="int32", list_set=True,
                                    elem_nullable=True)),
        unknown="strip",
    )
    _, viols, _ = validate_rows(toks, sch, row_id_col())
    return viols.select("row_id", "path", "code", "rule")


def _q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discriminated union with full sub-schema variants: even ordinals
    are 'text' docs (n_tok capped at 32), odd are 'code' docs (n_tok at
    least 2, doc_id required) — each variant's whole check set dispatches
    on the tag (reference dsl/union.go:17-52)."""
    from goskema_spark import schema as S
    corpus = _corpus(spark, sf_dir).withColumn(
        "kind", F.when(F.col("_ord") % 2 == 0, "text").otherwise("code"))
    text_v = S.table(S.field("n_tok", "int32", max=32), unknown="strip")
    code_v = S.table(S.field("n_tok", "int32", min=2),
                     S.field("doc_id", "string", required=True), unknown="strip")
    sch = S.table(
        S.field("doc_id", "string"), S.field("n_tok", "int32"),
        S.field("kind", "string"), unknown="strip",
    ).discriminate("kind", {"text": text_v, "code": code_v})
    _, viols, _ = validate_rows(corpus, sch, row_id_col())
    return viols.select("row_id", "path", "code", "rule")


def _q_map_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-value validation: pack (src, ntoks) into a map<string,string>
    and validate every value against a full elem Field spec (required +
    pattern), issues at /attrs/<key> (reference dsl/map_core.go:48-119)."""
    from goskema_spark import schema as S
    corpus = _corpus(spark, sf_dir)
    mapped = corpus.select(
        "doc_id", "_ord",
        F.create_map(F.lit("src"), F.col("source"),
                     F.lit("ntoks"), F.col("n_tok").cast("string")).alias("attrs"),
    )
    sch = S.table(
        S.field("doc_id", "string"),
        S.field("attrs", S.map_of("string", elem_field=S.field(
            "v", "string", required=True, pattern="^(src[0-9]+|[0-9]+)$"))),
        unknown="strip",
    )
    _, viols, _ = validate_rows(mapped, sch, row_id_col())
    return viols.select("row_id", "path", "code", "rule")


def _q_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-object validation: pack (n_tok, source) into a struct and
    validate it through a nested TableSchema — child issues rebased at
    /meta/<field> (reference dsl/object_core.go:60-76)."""
    from goskema_spark import schema as S
    corpus = _corpus(spark, sf_dir)
    nested = corpus.select(
        "doc_id", "_ord",
        F.when(F.col("source").isNotNull(),
               F.struct(F.col("n_tok").alias("n_tok"),
                        F.col("source").alias("src"))).alias("meta"),
    )
    meta = S.table(
        S.field("n_tok", "int32", required=True, min=1, max=MAX_NTOK),
        S.field("src", "string", required=True, pattern="^src[0-9]+$"),
    )
    sch = S.table(
        S.field("doc_id", "string", required=True),
        S.field("meta", meta, required=True),
        unknown="strict",
    )
    _, viols, _ = validate_rows(nested, sch, row_id_col())
    return viols.select("row_id", "path", "code", "rule")


# --------------------------------------------------------------------------
# training-data ops queries (documents / embeddings / events tables)
# --------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goskema_spark.ops.textops import text_profile
    prof = text_profile(_docs(spark, sf_dir))
    return prof.select(
        "doc_id",
        F.col("n_tok_ws").cast("bigint").alias("n_tok_ws"),
        F.col("n_tok_re").cast("bigint").alias("n_tok_re"),
        "lang_pred",
        F.col("stopword_ratio").cast("double").alias("stopword_ratio"),
        F.col("quality").cast("double").alias("quality"),
        F.col("fp_norm"),
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a prefix fingerprint (first 3 words) — boilerplate-
    prefix dedup; gives non-trivial groups on synthetic data."""
    from goskema_spark.ops.dedup import exact_duplicates
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias("text"),
    )
    d = exact_duplicates(docs)
    return d.select("fp", F.col("cnt").cast("bigint").alias("cnt"),
                    F.col("keep_id").cast("bigint").alias("keep_id"))


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C style 8-gram overlap):
    the benchmark set is the deterministic doc_id % 25 == 0 slice of the
    same table (no external data) — its distinct grams broadcast, the
    corpus side probes map-side."""
    from goskema_spark.ops.decontam import contamination_hits
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    return (contamination_hits(docs, bench, n=8)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("n_hits")))


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repeated-3-gram ratio per document — a pure scan
    projection (no shuffle). r6: the gram ARRAY is materialized once
    behind its own projection boundary — inlining ngram_array into both
    output columns re-built the (interpreted, HOF) gram construction
    several times per row; same values, measured 3.6s -> 2.7s at sf0.1."""
    from goskema_spark.ops.textops import ngram_array, repetition_from_grams
    t = F.col("text")
    return (_docs(spark, sf_dir)
            .select(F.col("doc_id"), ngram_array(t, 3).alias("_g"))
            .select(
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.round(repetition_from_grams(F.col("_g")), 6).alias("rep3"),
                F.size("_g").cast("bigint").alias("n_gram3")))


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goskema_spark.ops.dedup import minhash_candidate_pairs
    p = minhash_candidate_pairs(_docs(spark, sf_dir))
    return p.select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"))


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production composition: LSH candidates first, exact Jaccard only
    on the candidate subset (never the unguarded all-pairs join)."""
    from goskema_spark.ops.dedup import jaccard_pairs, minhash_candidate_pairs
    docs = _docs(spark, sf_dir)
    cands = minhash_candidate_pairs(docs)
    p = jaccard_pairs(docs, threshold=0.5, candidates=cands)
    return p.select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
                    F.col("inter").cast("bigint"), F.col("n_a").cast("bigint"),
                    F.col("n_b").cast("bigint"), F.col("jaccard").cast("double"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goskema_spark.ops.dedup import simhash_signatures
    return simhash_signatures(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "simhash")


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goskema_spark.ops.similarity import brute_force_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    t = brute_force_topk(emb, queries_df, k=5)
    return t.select(F.col("q_id").cast("bigint"), F.col("neighbor_id").cast("bigint"),
                    F.col("rank").cast("bigint"), F.col("cos").cast("double"))


def _q_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column integrity profile (NULL/ragged/NaN/zero/norms)
    per label — the validation engine's per-column stats extended to
    vector payloads (ops/similarity.embedding_profile)."""
    from goskema_spark.ops.similarity import embedding_profile
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    prof = embedding_profile(emb, vec_col="embedding", by="label",
                             expected_dim=64)
    return prof.select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_dims").cast("bigint").alias("n_dims"),
        F.col("n_dim_mismatch").cast("bigint").alias("n_dim_mismatch"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.col("n_zero").cast("bigint").alias("n_zero"),
        "min_norm", "max_norm", "avg_norm")


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (the batch
    twin of the Structured Streaming pipeline in goskema_spark.streaming)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


# --------------------------------------------------------------------------
# relational coverage (TPC-H-style, built-in operators end-to-end)
# --------------------------------------------------------------------------

def _q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "l_linestatus",
                F.round("sum_qty", 2).alias("sum_qty"), "revenue",
                F.col("n").cast("bigint").alias("n"))
    )


def _q_tpch_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


def _q_tpch_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(F.col("o_custkey").cast("bigint"), F.col("o_orderkey").cast("bigint"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.col("rk").cast("bigint").alias("rk"))
    )


def _q_anyof_ambiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenAPI anyOf ambiguity rule (reference kubeopenapi/plan.go:178-211,
    union_ambiguity.go:47-72): a present value fully matching more than
    one branch of anyOf [integer, boolean, string] under the 'error'
    strategy is ambiguous_match — numeric strings match integer AND
    string, 'true' matches boolean AND string."""
    from goskema_spark.kubeopenapi import import_openapi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    val = (F.when(d % 3 == 0, d.cast("string"))
           .when(d % 3 == 1,
                 F.when(d % 5 == 0, F.lit("true"))
                 .otherwise(F.concat(F.lit("w"), d.cast("string"))))
           .otherwise(F.lit(None).cast("string")))
    df = docs.select(d.cast("long").alias("_ord"), val.alias("target"))
    sch, _ = import_openapi({
        "type": "object",
        "properties": {
            "target": {"anyOf": [{"type": "integer"},
                                 {"type": "boolean"},
                                 {"type": "string"}]},
        },
    })
    sch.unknown = "strip"
    _, viols, _ = validate_rows(df, sch, F.col("_ord").cast("string"))
    return (viols.filter(F.col("code") == "ambiguous_match")
            .select(F.col("row_id").cast("bigint").alias("row_id"),
                    "path", "code"))


def _q_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumberDecimal mode: declared decimal(9,2) over a string wire
    column — unparseable -> invalid_type, extra fractional digits ->
    overflow/decimal_scale (the cast would silently round), integral
    width >= 10^7 -> overflow/decimal_range."""
    from goskema_spark import schema as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    amt = (F.when(d % 4 == 0, F.concat(d.cast("string"), F.lit(".25")))
           .when(d % 4 == 1, (d * 100000).cast("string"))
           .when(d % 4 == 2, F.concat(d.cast("string"), F.lit(".125")))
           .otherwise(F.concat(F.lit("x"), d.cast("string"))))
    df = docs.select(d.cast("long").alias("_ord"), amt.alias("amt"))
    sch = S.table(S.field("_ord", "int64"), S.field("amt", "decimal(9,2)"),
                  unknown="strip")
    _, viols, _ = validate_rows(df, sch, F.col("_ord").cast("string"))
    return viols.select(F.col("row_id").cast("bigint").alias("row_id"),
                        "path", "code", "rule")


def _q_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenAPI contains/minContains/maxContains import (reference
    kubeopenapi/contains.go:16-127): per-document word structs where
    `name` is set only for words of length >= 5; the imported contains
    rule {type: object, required: [name]} counts those matches —
    too_short below minContains=2, too_long above maxContains=40."""
    from goskema_spark.kubeopenapi import import_openapi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    items = F.transform(
        F.split(F.col("text"), " "),
        lambda w: F.struct(F.when(F.length(w) >= 5, w).alias("name"),
                           F.length(w).cast("long").alias("x")))
    df = docs.select(d.cast("long").alias("_ord"), items.alias("items"))
    sch, _ = import_openapi({
        "type": "object",
        "properties": {
            "items": {"type": "array",
                      "items": {"type": "object",
                                "properties": {"name": {"type": "string"},
                                               "x": {"type": "integer"}}},
                      "contains": {"type": "object", "required": ["name"]},
                      "minContains": 2, "maxContains": 40},
        },
    })
    sch.unknown = "strip"
    _, viols, _ = validate_rows(df, sch, F.col("_ord").cast("string"))
    return (viols.filter(F.col("rule").isin("contains_min", "contains_max"))
            .select(F.col("row_id").cast("bigint").alias("row_id"),
                    "path", "code",
                    F.col("params")["got"].cast("int").alias("matched")))


def _q_pattern_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """patternProperties import (reference kubeopenapi/patterns.go:155-210,
    plan.go:54-155): keys matching ^app- must carry integer-castable
    values, keys matching ^sys- strings; unmatched keys fall back to the
    additionalProperties boolean schema — invalid_type at /attrs/<key>."""
    from goskema_spark.kubeopenapi import import_openapi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    attrs = F.create_map(
        F.lit("app-n"),
        F.when(d % 3 == 0, F.concat(F.lit("x"), d.cast("string")))
         .otherwise(d.cast("string")),
        F.lit("sys-tag"), F.concat(F.lit("t"), d.cast("string")),
        F.lit("other"),
        F.when(d % 5 == 0, F.lit("true"))
         .otherwise(F.concat(F.lit("v"), d.cast("string"))),
    )
    df = docs.select(d.cast("long").alias("_ord"), attrs.alias("attrs"))
    sch, _ = import_openapi({
        "type": "object",
        "properties": {
            "attrs": {"type": "object",
                      "patternProperties": {"^app-": {"type": "integer"},
                                            "^sys-": {"type": "string"}},
                      "additionalProperties": {"type": "boolean"}},
        },
    })
    sch.unknown = "strip"
    _, viols, _ = validate_rows(df, sch, F.col("_ord").cast("string"))
    return viols.select(F.col("row_id").cast("bigint").alias("row_id"),
                        "path", "code", "rule")


def _q_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-kubernetes-embedded-resource presence checks (reference
    kubeopenapi/embedded.go:19-75): apiVersion/kind required on the
    embedded object — nulled by fixed moduli on doc_id."""
    from goskema_spark.kubeopenapi import import_openapi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    res = F.struct(
        F.when(d % 7 != 0, F.lit("v1")).alias("apiVersion"),
        F.when(d % 11 != 0, F.lit("Doc")).alias("kind"),
        F.create_map(F.lit("name"), F.concat(F.lit("doc-"), d.cast("string")))
         .alias("metadata"),
    )
    df = docs.select(d.cast("long").alias("_ord"), res.alias("res"))
    sch, _ = import_openapi({
        "type": "object",
        "properties": {
            "res": {"type": "object",
                    "properties": {"apiVersion": {"type": "string"},
                                   "kind": {"type": "string"},
                                   "metadata": {"type": "object",
                                                "additionalProperties":
                                                    {"type": "string"}}},
                    "x-kubernetes-embedded-resource": True},
        },
    })
    sch.unknown = "strip"
    _, viols, _ = validate_rows(df, sch, F.col("_ord").cast("string"))
    return (viols.filter(F.col("rule") == "embedded_resource")
            .select(F.col("row_id").cast("bigint").alias("row_id"),
                    "path", "code"))


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data curation:
    downweight boilerplate-heavy sources): md5(seed|doc_id) hex compared
    against a per-source threshold — reproducible across runs, engines,
    and cluster sizes; a pure narrow filter (no shuffle)."""
    from goskema_spark.ops.sample import stratified_sample

    docs = _docs(spark, sf_dir)
    out = stratified_sample(docs, {"src0": 0.5, "src1": 0.1},
                            strata_col="source", key_col="doc_id",
                            default_rate=0.02)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"), "source")


def _q_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: top-2 documents per source by n_chars
    (deterministic tie-break on doc_id) — the per-group quota operator
    with an exact two-phase salted variant for hot groups."""
    from goskema_spark.ops.sample import top_k_per_group

    docs = _docs(spark, sf_dir)
    out = top_k_per_group(docs, "source", "n_chars", 2, "doc_id")
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "source",
                      F.col("n_chars").cast("bigint").alias("n_chars"),
                      F.col("rk").cast("int").alias("rk"))


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (30-min gap):
    lag + running-sum session assignment on integer microseconds,
    aggregated per session. Cross-validated in tests against Spark's
    native session_window (the streaming path)."""
    from goskema_spark.ops.sessionize import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, user_col="user_id", ts_col="ts", gap_seconds=1800)
    return out.select(F.col("user_id").cast("bigint").alias("user_id"),
                      F.col("session_seq").cast("int").alias("session_seq"),
                      "session_start", "session_end", "n_events", "sum_value")


# deterministic PII injection for the pii_profile oracle pair: the
# synthetic corpus contains no PII, so both engines append the SAME
# snippets to the SAME doc_id slices before detecting/redacting
_PII_SNIPPETS = [
    (11, " mail user7@corp.example.com now"),
    (13, " from 10.1.2.3 host"),
    (17, " call 555-123-4567 today"),
]


def _q_pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (pure regexp projection) over the documents
    table with deterministic injected identifiers."""
    from goskema_spark.ops.pii import pii_profile
    inj = F.lit("")
    for mod, snippet in reversed(_PII_SNIPPETS):
        inj = F.when(F.col("doc_id") % mod == 0, F.lit(snippet)).otherwise(inj)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), inj).alias("text"))
    prof = pii_profile(docs)
    return prof.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_email", "n_ipv4", "n_ssn", "n_phone", "has_pii", "text_redacted")


def _q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: min-label-propagation connected
    components over the minhash LSH candidate pairs."""
    from goskema_spark.ops.cluster import dedup_groups
    from goskema_spark.ops.dedup import minhash_candidate_pairs
    pairs = minhash_candidate_pairs(_docs(spark, sf_dir))
    return dedup_groups(pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("group_id").cast("bigint").alias("group_id"),
        "keep")


def _q_chunk_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk token offsets (two-phase distributed prefix sum)
    with a 64-token context window."""
    from goskema_spark.ops.pack import chunk_assignments
    out = chunk_assignments(_docs(spark, sf_dir), chunk_tokens=64)
    return out.select(
        "source", F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("tok_offset").cast("bigint").alias("tok_offset"),
        F.col("first_chunk").cast("bigint").alias("first_chunk"),
        F.col("last_chunk").cast("bigint").alias("last_chunk"))


def _q_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI/KS drift (north rule's per-partition lineage form):
    odd _ord rows vs even _ord rows of the same corpus, one (psi, ks)
    row per source. NULL sources are excluded — a join key of NULL never
    matches itself, so a NULL group would mis-pair the two sides."""
    from goskema_spark.drift import psi_ks_by_group
    corpus = _corpus(spark, sf_dir).filter(F.col("source").isNotNull())
    cur = corpus.filter(F.col("_ord") % 2 == 1)
    ref = corpus.filter(F.col("_ord") % 2 == 0)
    return psi_ks_by_group(cur, ref, "n_tok", "source", 0, MAX_NTOK, 16)


def _q_drift_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PSI/KS of events.value against the full-table reference
    snapshot — the batch twin of streaming.drift_stream (identical
    grouped-histogram scoring). `value` is quantized to FLOOR(value)
    BIGINT so the bucket arithmetic is exact integer math on both
    engines (width 30 over [0, 480), under/overflow buckets 0/17)."""
    from goskema_spark.drift import windowed_drift
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("value").isNotNull() & ~F.isnan("value"))
          .withColumn("iv", F.floor("value")))
    return windowed_drift(ev, "iv", ev, 0, 480, 16,
                          ts_col="ts", window="1 day")


# mixture constants shared by the Spark query and its oracle builder:
# rate math must be bit-identical, so both sides derive targets as
# token_budget * w / wsum in this exact order
_MIX_WEIGHTS = {"src0": 5.0, "src1": 2.0, "src2": 1.0}
_MIX_BUDGET = 4000


def _q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture build (GPT-3/Pile/LLaMA data mixing): rates
    from actual per-source token totals vs target weights; upsampled
    sources get epoch-labelled full copies + a hash-sampled fractional
    epoch."""
    from goskema_spark.ops.mix import build_mixture
    from goskema_spark.ops.textops import token_count_ws

    docs = _docs(spark, sf_dir).select(
        "source", "doc_id",
        F.coalesce(token_count_ws(F.col("text")), F.lit(0))
        .cast("long").alias("n_tok"))
    out, _rates = build_mixture(docs, _MIX_WEIGHTS, _MIX_BUDGET,
                                upsample=True)
    return out.select(
        "source", F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.col("epoch").cast("bigint").alias("epoch"))


def _q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: each click event gets the latest
    purchase of the same user at-or-before its timestamp — the
    feature-lookup / training-label join Spark has no native operator
    for. One sort-shuffle union + running struct-max (ops/asof.py);
    oracle = DuckDB's native ASOF LEFT JOIN."""
    from goskema_spark.ops.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    # pre-dedup the right side to one row per (user, ts): DuckDB's ASOF
    # leaves the pick among equal-ts rows unspecified, ours is the
    # struct-max — collapsing ties makes both engines unambiguous
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("ref_value")))
    out = asof_join(clicks, purchases, on=["user_id"],
                    payload=["ref_value"], right_ts_out="purchase_ts")
    return out.select(F.col("event_id").cast("bigint").alias("event_id"),
                      F.col("user_id").cast("bigint").alias("user_id"),
                      "ts", "purchase_ts",
                      F.round("ref_value", 6).alias("ref_value"))


def _q_range_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events of the same user within 30 minutes AFTER each
    error event (incident blast-radius counting). Bucketed equi-join,
    never an inequality/cartesian plan (ops/asof.range_join_count)."""
    from goskema_spark.ops.asof import range_join_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("event_id", "user_id", "ts"))
    out = range_join_count(errors, ev.select("user_id", "ts"),
                           on=["user_id"], lo_us=0,
                           hi_us=30 * 60 * 1_000_000,
                           count_col="n_next_30m")
    return out.select(F.col("event_id").cast("bigint").alias("event_id"),
                      F.col("user_id").cast("bigint").alias("user_id"),
                      "ts", F.col("n_next_30m").cast("bigint")
                      .alias("n_next_30m"))


def _q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel as ONE lazy plan: quality gate
    (codegen'd heuristic >= 0.5) EXCEPT near-duplicate drop-list (LSH
    candidates -> connected components, keep=false) EXCEPT benchmark-
    contaminated ids (8-gram overlap with the doc_id%25 bench slice),
    joined back for (doc_id, source). Set ops are EXCEPT DISTINCT
    (DataFrame.subtract); the three branch subplans are independent, so
    Catalyst fuses the quality filter into its scan and the scheduler
    runs the branches concurrently — the composed pipeline costs what
    its stages cost, with no materialization between them."""
    from goskema_spark.ops.cluster import dedup_groups
    from goskema_spark.ops.decontam import contamination_hits
    from goskema_spark.ops.dedup import minhash_candidate_pairs
    from goskema_spark.ops.textops import quality_score

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("bigint").alias("doc_id")
    quality_ids = (docs.filter(quality_score(F.col("text")) >= 0.5)
                   .select(did))
    drop_dups = (dedup_groups(minhash_candidate_pairs(docs))
                 .filter(~F.col("keep")).select(did))
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    contam_ids = contamination_hits(docs, bench, n=8).select(did)
    kept = quality_ids.subtract(drop_dups).subtract(contam_ids)
    return (kept.join(docs.select(did, "source"), "doc_id")
            .select("doc_id", "source"))


def _q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-proportional (PPS) systematic sample: keep documents whose
    interval in the corpus-wide token stream covers a multiple of 997.
    Deterministic, RNG-free, integer-exact; offsets via the distributed
    prefix sum (ops/pack), oracle via a window sum."""
    from goskema_spark.ops.sample import pps_systematic

    docs = _docs(spark, sf_dir)
    out = pps_systematic(docs, 997)
    return out.select("source", F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.col("n_tok").cast("bigint").alias("n_tok"),
                      F.col("tok_offset").cast("bigint").alias("tok_offset"))


def _q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram document-frequency statistics: top-20 word
    trigrams by #docs containing them (boilerplate discovery / corpus
    fingerprinting). distinct-per-doc shingles -> hash-agg count ->
    TakeOrdered(20) — the orderBy+limit plans as a per-partition top-k
    + single 20-row merge, never a global sort. Total tie-break
    (df DESC, gram ASC) makes the cut deterministic."""
    from goskema_spark.ops.dedup import shingles

    docs = _docs(spark, sf_dir)
    grams = docs.select(F.explode(shingles(F.col("text"), 3)).alias("gram"))
    return (grams.groupBy("gram")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
            .orderBy(F.col("df").desc(), F.col("gram").asc())
            .limit(20))


def _q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregate over lineitem: per (returnflag,
    linestatus), per returnflag subtotal, and grand total in ONE pass —
    Spark expands grouping sets inside a single hash-aggregate stage
    (no per-level rescan). gid = grouping_id() disambiguates levels."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.grouping_id().cast("int").alias("gid")))


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts spread across the five event types
    as columns. The explicit value list keeps it a single aggregate
    (no distinct-values pre-scan) — the 100 TB form of pivot."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (ev.groupBy("user_id").pivot("event_type", types).count())
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
          for t in types])


def _mixture_sql() -> str:
    """DuckDB twin of _q_mixture. Targets are inlined as repr() doubles
    computed with the same expression order as ops/mix.mixture_rates, so
    rate = target / total is the same IEEE double in both engines; the
    fractional-epoch threshold reproduces sample._hex_threshold via
    printf('%08x', floor(frac * 16^8))."""
    wsum = float(sum(_MIX_WEIGHTS.values()))
    vals = ", ".join(f"('{s}', {_MIX_BUDGET * w / wsum!r})"
                     for s, w in sorted(_MIX_WEIGHTS.items()))
    return f"""
WITH t AS (SELECT source, doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
tot AS (SELECT source, SUM(n_tok) AS tot FROM t GROUP BY source),
w(source, target) AS (VALUES {vals}),
r AS (SELECT w.source, w.target / tot.tot AS rate
      FROM w JOIN tot USING (source) WHERE tot.tot > 0),
b AS (SELECT t.source, t.doc_id, t.n_tok,
        CAST(FLOOR(r.rate) AS INT)
          + CASE WHEN substr(md5('gsk|' || CAST(t.doc_id AS VARCHAR)), 1, 8)
                      < CASE WHEN r.rate - FLOOR(r.rate) >= 1.0 THEN 'g'
                             ELSE printf('%08x', CAST(FLOOR(
                                 (r.rate - FLOOR(r.rate)) * 4294967296.0)
                                 AS BIGINT)) END
                 THEN 1 ELSE 0 END AS n
      FROM t JOIN r USING (source))
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_tok,
       CAST(u.epoch AS BIGINT) AS epoch
FROM b, UNNEST(range(0, b.n)) AS u(epoch)"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rowpass_violations": _q_rowpass,
        "uniqueness_violations": _q_uniqueness,
        "referential_violations": _q_referential,
        "stats_profile": _q_stats,
        "stats_by_source": _q_stats_by_source,
        "ntok_histogram": _q_histogram,
        "ntok_quantiles": _q_quantiles,
        "ntok_quantiles_by_source": _q_quantiles_by_source,
        "verdicts_by_source": _q_verdicts,
        "nested_struct_violations": _q_nested,
        "union_variant_violations": _q_union,
        "map_value_violations": _q_map_values,
        "listset_duplicate_items": _q_listset,
        "clean_token_checksum": _q_clean_checksum,
        "drift_psi_ks": _q_drift_psi,
        "text_profile": _q_text_profile,
        "contamination_hits": _q_contamination,
        "repetition_profile": _q_repetition,
        "dedup_exact_prefix": _q_dedup_exact,
        "minhash_candidates": _q_minhash,
        "ngram_jaccard_pairs": _q_jaccard,
        "simhash_signatures": _q_simhash,
        "embedding_cosine_topk": _q_embedding_topk,
        "embedding_profile": _q_embedding_profile,
        "events_hourly_window": _q_events_window,
        "tpch_pricing_summary": _q_tpch_pricing,
        "tpch_segment_revenue": _q_tpch_segment_revenue,
        "tpch_top_orders_per_customer": _q_tpch_top_orders,
        "anyof_ambiguity": _q_anyof_ambiguity,
        "decimal_violations": _q_decimal,
        "contains_violations": _q_contains,
        "pattern_props_violations": _q_pattern_props,
        "embedded_resource_violations": _q_embedded,
        "stratified_sample_docs": _q_stratified_sample,
        "quota_top2_per_source": _q_quota_topk,
        "sessionize_events": _q_sessions,
        "pii_profile": _q_pii_profile,
        "dedup_groups": _q_dedup_groups,
        "chunk_assignments": _q_chunk_assignments,
        "mixture_by_source": _q_mixture,
        "drift_by_source": _q_drift_by_source,
        "drift_events_daily": _q_drift_events_daily,
        "asof_click_purchase": _q_asof_click_purchase,
        "range_error_context": _q_range_error_context,
        "corpus_top_ngrams": _q_top_ngrams,
        "pps_token_sample": _q_pps_sample,
        "curation_funnel": _q_curation_funnel,
        "tpch_rollup_qty": _q_tpch_rollup,
        "events_pivot_by_type": _q_events_pivot,
    }


_SHINGLES_CTE = """
wrd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ws) >= 3
         THEN list_transform(range(0, len(ws) - 3 + 1),
                             i -> array_to_string(ws[i+1:i+3], ' '))
         ELSE CAST([] AS VARCHAR[]) END)) AS s
  FROM wrd)
"""

_STOP_IN = "('the','a','of','and','to','in','is','it','for','on')"


def _simhash_sql() -> str:
    # md5(w) computed once per word (CTE `wd`), all 16 bits derived from
    # substrings of that single hash — lockstep with the Spark side
    sums = ", ".join(
        "SUM(CASE WHEN substring(h, {k}, 1) IN "
        "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{k}".format(k=k)
        for k in range(1, 17))
    bits = " || ".join(f"CASE WHEN s{k} >= 0 THEN '1' ELSE '0' END" for k in range(1, 17))
    return f"""
WITH wd AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
b AS (SELECT doc_id, {sums} FROM wd GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {bits} AS simhash FROM b"""


def _minhash_ctes() -> str:
    sig_cols = ", ".join(f"MIN(md5('{j}|' || s)) AS sig_{j}" for j in range(8))
    bands = "\nUNION ALL\n".join(
        f"SELECT {b} AS band, md5(sig_{2*b} || '|' || sig_{2*b+1}) AS bucket, doc_id FROM sigs"
        for b in range(4))
    return f"""{_SHINGLES_CTE},
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
buckets AS ({bands}),
okb AS (SELECT band, bucket FROM buckets GROUP BY band, bucket
        HAVING COUNT(*) > 1 AND COUNT(*) <= 1000)"""


_MINHASH_PAIRS = """
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
JOIN okb ON okb.band = a.band AND okb.bucket = a.bucket"""


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()}\n{_MINHASH_PAIRS}"


_TEXT_PROFILE_SQL = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws,
    len(list_filter(string_split(text, ' '), x -> lower(x) IN {_STOP_IN}))
      / greatest(len(string_split(text, ' ')), 1) AS swr,
    length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
      / greatest(length(text), 1) AS pr
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(len(ws) AS BIGINT) AS n_tok_ws,
  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tok_re,
  CASE WHEN swr >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred,
  ROUND(swr, 6) AS stopword_ratio,
  ROUND((least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0)
       + least(swr * 5.0, 1.0)
       + (1.0 - least(pr * 10.0, 1.0))) / 3.0, 6) AS quality,
  md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp_norm
FROM t"""


_COS_SQL = """ROUND(
  list_sum(list_transform(list_zip(q.q_vec, e.embedding),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)"""


def _stratified_sample_sql() -> str:
    """DuckDB twin of _q_stratified_sample — thresholds come from the
    SAME _hex_threshold helper, so the hex compare is bit-identical."""
    from goskema_spark.ops.sample import _hex_threshold

    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM documents
WHERE substr(md5('gsk|' || CAST(doc_id AS VARCHAR)), 1, 8) <
  CASE WHEN source = 'src0' THEN '{_hex_threshold(0.5)}'
       WHEN source = 'src1' THEN '{_hex_threshold(0.1)}'
       ELSE '{_hex_threshold(0.02)}' END"""


def _pii_sql() -> str:
    """DuckDB twin of _q_pii_profile: patterns come verbatim from
    PII_PATTERNS (RE2-safe by construction) so both engines match the
    SAME regexes; the oracle redacts unconditionally, which equals the
    Spark side's when(has_pii, ...) because regexp_replace with no
    matches is the identity."""
    from goskema_spark.ops.pii import PII_PATTERNS
    case = " ".join(f"WHEN doc_id % {m} = 0 THEN '{s}'"
                    for m, s in _PII_SNIPPETS)
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in PII_PATTERNS)
    red = "text"
    for k, p in PII_PATTERNS:
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    return f"""
WITH t AS (
  SELECT doc_id, text || CASE {case} ELSE '' END AS text FROM documents),
c AS (SELECT doc_id, text, {counts} FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_email, n_ipv4, n_ssn, n_phone,
  (n_email + n_ipv4 + n_ssn + n_phone) > 0 AS has_pii,
  {red} AS text_redacted
FROM c"""


def oracle_sql() -> dict[str, str]:
    rowpass = _rowpass_viols_sql()
    uniq = _uniq_viols_sql()
    ref = _ref_viols_sql()
    bucket_expr = (f"CASE WHEN n_tok < 0 THEN 0 WHEN n_tok >= {MAX_NTOK} THEN 17 "
                   f"ELSE CAST(FLOOR(n_tok / {MAX_NTOK / 16.0}) AS BIGINT) + 1 END")
    drift_sql = _with_corpus(f"""
, ha AS (SELECT {bucket_expr} AS bucket, COUNT(*) AS cnt_a
         FROM corpus WHERE n_tok IS NOT NULL AND source = 'src0' GROUP BY 1),
hb AS (SELECT {bucket_expr} AS bucket, COUNT(*) AS cnt_b
       FROM corpus WHERE n_tok IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM ha FULL JOIN hb ON ha.bucket = hb.bucket),
tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j),
s AS (SELECT (GREATEST(cnt_a / ta, 1e-6) - GREATEST(cnt_b / tb, 1e-6))
             * LN(GREATEST(cnt_a / ta, 1e-6) / GREATEST(cnt_b / tb, 1e-6)) AS psi_term,
             SUM(cnt_a) OVER (ORDER BY bucket) / ta
             - SUM(cnt_b) OVER (ORDER BY bucket) / tb AS cdf_diff
      FROM j, tot)
SELECT ROUND(SUM(psi_term), 6) AS psi, ROUND(MAX(ABS(cdf_diff)), 6) AS ks FROM s""")
    drift_by_source_sql = _with_corpus(f"""
, ha AS (SELECT source AS g, {bucket_expr} AS bucket, COUNT(*) AS cnt_a
         FROM corpus WHERE n_tok IS NOT NULL AND source IS NOT NULL
           AND _ord % 2 = 1 GROUP BY 1, 2),
hb AS (SELECT source AS g, {bucket_expr} AS bucket, COUNT(*) AS cnt_b
       FROM corpus WHERE n_tok IS NOT NULL AND source IS NOT NULL
         AND _ord % 2 = 0 GROUP BY 1, 2),
j AS (SELECT COALESCE(ha.g, hb.g) AS g,
             COALESCE(ha.bucket, hb.bucket) AS bucket,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM ha FULL JOIN hb ON ha.g = hb.g AND ha.bucket = hb.bucket),
tot AS (SELECT g, SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j GROUP BY 1
        HAVING SUM(cnt_a) > 0 AND SUM(cnt_b) > 0),
s AS (SELECT j.g,
        (GREATEST(cnt_a / ta, 1e-6) - GREATEST(cnt_b / tb, 1e-6))
        * LN(GREATEST(cnt_a / ta, 1e-6) / GREATEST(cnt_b / tb, 1e-6)) AS psi_term,
        SUM(cnt_a) OVER (PARTITION BY j.g ORDER BY bucket) / ta
        - SUM(cnt_b) OVER (PARTITION BY j.g ORDER BY bucket) / tb AS cdf_diff
      FROM j JOIN tot ON j.g = tot.g)
SELECT g AS source, ROUND(SUM(psi_term), 6) AS psi,
       ROUND(MAX(ABS(cdf_diff)), 6) AS ks
FROM s GROUP BY 1""")
    ev_bucket = ("CASE WHEN iv < 0 THEN 0 WHEN iv >= 480 THEN 17 "
                 "ELSE CAST(FLOOR(iv / 30.0) AS BIGINT) + 1 END")
    drift_events_daily_sql = f"""
WITH e AS (SELECT time_bucket(INTERVAL '1 day', ts) AS g,
                  CAST(FLOOR(value) AS BIGINT) AS iv
           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
ha AS (SELECT g, {ev_bucket} AS bucket, COUNT(*) AS cnt_a
       FROM e GROUP BY 1, 2),
hb0 AS (SELECT {ev_bucket} AS bucket, COUNT(*) AS cnt_b FROM e GROUP BY 1),
hb AS (SELECT w.g, hb0.bucket, hb0.cnt_b
       FROM (SELECT DISTINCT g FROM ha) w CROSS JOIN hb0),
j AS (SELECT COALESCE(ha.g, hb.g) AS g,
             COALESCE(ha.bucket, hb.bucket) AS bucket,
             COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM ha FULL JOIN hb ON ha.g = hb.g AND ha.bucket = hb.bucket),
tot AS (SELECT g, SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j GROUP BY 1
        HAVING SUM(cnt_a) > 0 AND SUM(cnt_b) > 0),
s AS (SELECT j.g,
        (GREATEST(cnt_a / ta, 1e-6) - GREATEST(cnt_b / tb, 1e-6))
        * LN(GREATEST(cnt_a / ta, 1e-6) / GREATEST(cnt_b / tb, 1e-6)) AS psi_term,
        SUM(cnt_a) OVER (PARTITION BY j.g ORDER BY bucket) / ta
        - SUM(cnt_b) OVER (PARTITION BY j.g ORDER BY bucket) / tb AS cdf_diff
      FROM j JOIN tot ON j.g = tot.g)
SELECT g AS window_start, ROUND(SUM(psi_term), 6) AS psi,
       ROUND(MAX(ABS(cdf_diff)), 6) AS ks
FROM s GROUP BY 1"""
    return {
        "drift_psi_ks": drift_sql,
        "drift_by_source": drift_by_source_sql,
        "drift_events_daily": drift_events_daily_sql,
        "asof_click_purchase": """
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       CAST(l.user_id AS BIGINT) AS user_id,
       l.ts AS ts, r.ts AS purchase_ts,
       ROUND(r.value, 6) AS ref_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS value FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts) r
  ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "range_error_context": """
SELECT CAST(l.event_id AS BIGINT) AS event_id,
       CAST(l.user_id AS BIGINT) AS user_id, l.ts AS ts,
       CAST(COUNT(r.ts) AS BIGINT) AS n_next_30m
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'error') l
LEFT JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
GROUP BY l.event_id, l.user_id, l.ts""",
        "curation_funnel": f"""
WITH RECURSIVE {_minhash_ctes()},
cand AS ({_MINHASH_PAIRS}),
edges AS (SELECT id_a AS src, id_b AS dst FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
),
drop_dups AS (SELECT node AS doc_id FROM reach GROUP BY node
              HAVING node <> LEAST(node, MIN(r))),
w8 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
          FROM w8, UNNEST(range(1, len(w) - 6)) AS t(i)),
contam AS (SELECT DISTINCT grams.doc_id FROM grams
           JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0) b
             USING (g)),
tq AS (SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> lower(x) IN {_STOP_IN}))
           / greatest(len(string_split(text, ' ')), 1) AS swr,
         length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
           / greatest(length(text), 1) AS pr,
         len(string_split(text, ' ')) AS ntok
       FROM documents),
q AS (SELECT doc_id FROM tq
      WHERE ROUND((least(CAST(ntok AS DOUBLE) / 100.0, 1.0)
             + least(swr * 5.0, 1.0)
             + (1.0 - least(pr * 10.0, 1.0))) / 3.0, 6) >= 0.5),
kept AS (
  -- EXCEPT spelled as NOT IN: DuckDB rejects set ops inside a WITH
  -- RECURSIVE block; ids are unique + non-null so they are equivalent
  SELECT q.doc_id FROM q
  WHERE q.doc_id NOT IN (SELECT doc_id FROM drop_dups)
    AND q.doc_id NOT IN (SELECT doc_id FROM contam))
SELECT CAST(k.doc_id AS BIGINT) AS doc_id, d.source
FROM kept k JOIN documents d ON k.doc_id = d.doc_id""",
        "pps_token_sample": """
WITH t AS (SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
o AS (SELECT source, doc_id, n_tok,
        COALESCE(SUM(n_tok) OVER (ORDER BY source, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_tok,
       CAST(off AS BIGINT) AS tok_offset
FROM o
WHERE n_tok > 0
  AND (off % 997 = 0 OR (off % 997) + n_tok - 1 >= 997)""",
        "corpus_top_ngrams": f"""
WITH {_SHINGLES_CTE}
SELECT s AS gram, CAST(COUNT(*) AS BIGINT) AS df
FROM sh GROUP BY s
ORDER BY df DESC, gram ASC
LIMIT 20""",
        "tpch_rollup_qty": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "events_pivot_by_type": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events GROUP BY user_id""",
        "text_profile": _TEXT_PROFILE_SQL,
        "contamination_hits": """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
  FROM w, UNNEST(range(1, len(w) - 6)) AS t(i)
)
SELECT CAST(grams.doc_id AS BIGINT) AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_hits
FROM grams
JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 25 = 0) b USING (g)
GROUP BY grams.doc_id""",
        "repetition_profile": """
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM w, UNNEST(range(1, len(w) - 1)) AS t(i)),
agg AS (SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT g) AS dist
        FROM g GROUP BY 1)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
  ROUND(COALESCE(1.0 - CAST(dist AS DOUBLE) / total, 0.0), 6) AS rep3,
  CAST(COALESCE(total, 0) AS BIGINT) AS n_gram3
FROM w LEFT JOIN agg USING (doc_id)""",
        "dedup_exact_prefix": """
WITH p AS (SELECT doc_id,
  md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp FROM documents)
SELECT fp, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(MIN(doc_id) AS BIGINT) AS keep_id
FROM p GROUP BY fp HAVING COUNT(*) > 1""",
        "minhash_candidates": _minhash_sql(),
        "ngram_jaccard_pairs": f"""
WITH {_minhash_ctes()},
cand AS ({_MINHASH_PAIRS}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT CAST(inter.id_a AS BIGINT) AS id_a, CAST(inter.id_b AS BIGINT) AS id_b,
  CAST(inter.inter AS BIGINT) AS inter, CAST(sa.n_sh AS BIGINT) AS n_a,
  CAST(sb.n_sh AS BIGINT) AS n_b,
  ROUND(inter.inter / (sa.n_sh + sb.n_sh - inter.inter), 6) AS jaccard
FROM inter
JOIN cand ON cand.id_a = inter.id_a AND cand.id_b = inter.id_b
JOIN sizes sa ON sa.doc_id = inter.id_a
JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE ROUND(inter.inter / (sa.n_sh + sb.n_sh - inter.inter), 6) >= 0.5""",
        "simhash_signatures": _simhash_sql(),
        "embedding_cosine_topk": f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.q_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS BIGINT) AS rank, cos
FROM ranked WHERE rank <= 5""",
        "embedding_profile": """
WITH per AS (
  SELECT label,
         (embedding IS NULL) AS is_null,
         CASE WHEN embedding IS NOT NULL THEN len(embedding) END AS dim,
         CASE WHEN embedding IS NOT NULL THEN
              len(list_filter(embedding,
                  x -> x IS NULL OR isnan(x) OR isinf(x))) > 0 END AS bad,
         embedding
  FROM embeddings),
pn AS (
  SELECT label, is_null, dim, bad,
         CASE WHEN is_null OR bad THEN NULL
              -- COALESCE: list_sum of an EMPTY list is NULL in DuckDB,
              -- while Spark's fold returns its 0.0 init — align on 0
              ELSE ROUND(sqrt(COALESCE(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0)), 6) END AS nrm
  FROM per)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT dim) AS BIGINT) AS n_dims,
       CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_mismatch,
       CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
       ROUND(AVG(nrm), 4) AS avg_norm
FROM pn GROUP BY label""",
        "events_hourly_window": """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1, 2""",
        "tpch_pricing_summary": """
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2""",
        "tpch_segment_revenue": """
SELECT c_mktsegment, ROUND(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
        "tpch_top_orders_per_customer": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice, CAST(rk AS BIGINT) AS rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders) WHERE rk <= 2""",
        "anyof_ambiguity": """
WITH v AS (
  SELECT CAST(doc_id AS BIGINT) AS _ord,
    CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
         WHEN doc_id % 3 = 1 THEN
           CASE WHEN doc_id % 5 = 0 THEN 'true'
                ELSE 'w' || CAST(doc_id AS VARCHAR) END
         ELSE NULL END AS target
  FROM documents)
SELECT _ord AS row_id, '/target' AS path, 'ambiguous_match' AS code
FROM v
WHERE target IS NOT NULL
  AND (CASE WHEN TRY_CAST(target AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN lower(target) IN ('true','false') THEN 1 ELSE 0 END)
    + 1 <> 1""",
        "stratified_sample_docs": _stratified_sample_sql(),
        "quota_top2_per_source": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars, CAST(rk AS INTEGER) AS rk
FROM (SELECT doc_id, source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents)
WHERE rk <= 2""",
        "sessionize_events": """
WITH m AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts)
               OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events),
s AS (
  SELECT user_id, ts, value,
    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) - 1 AS session_seq
  FROM m)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_seq AS INTEGER) AS session_seq,
       MIN(ts) AS session_start,
       make_timestamp(epoch_us(MAX(ts)) + 1800000000) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, session_seq""",
        "embedded_resource_violations": """
SELECT CAST(doc_id AS BIGINT) AS row_id, '/res/apiVersion' AS path,
       'required' AS code
FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT CAST(doc_id AS BIGINT), '/res/kind', 'required'
FROM documents WHERE doc_id % 11 = 0""",
        "pattern_props_violations": """
SELECT CAST(doc_id AS BIGINT) AS row_id, '/attrs/app-n' AS path,
       'invalid_type' AS code, 'pattern_value_type' AS rule
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(doc_id AS BIGINT), '/attrs/other',
       'invalid_type', 'additional_value_type'
FROM documents WHERE doc_id % 5 <> 0""",
        "contains_violations": """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS row_id,
         len(list_filter(string_split(text, ' '),
                         w -> length(w) >= 5)) AS matched
  FROM documents)
SELECT row_id, '/items' AS path,
       CASE WHEN matched < 2 THEN 'too_short' ELSE 'too_long' END AS code,
       CAST(matched AS INTEGER) AS matched
FROM c WHERE matched < 2 OR matched > 40""",
        "decimal_violations": """
WITH v AS (
  SELECT CAST(doc_id AS BIGINT) AS _ord,
    CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id AS VARCHAR) || '.25'
         WHEN doc_id % 4 = 1 THEN CAST(doc_id * 100000 AS VARCHAR)
         WHEN doc_id % 4 = 2 THEN CAST(doc_id AS VARCHAR) || '.125'
         ELSE 'x' || CAST(doc_id AS VARCHAR) END AS amt
  FROM documents),
n AS (SELECT _ord, amt, TRY_CAST(amt AS DOUBLE) AS num,
             TRY_CAST(amt AS DECIMAL(9,2)) AS casted FROM v)
SELECT _ord AS row_id, '/amt' AS path, 'invalid_type' AS code,
       'type_decimal' AS rule
FROM n WHERE amt IS NOT NULL AND num IS NULL
UNION ALL
SELECT _ord, '/amt', 'overflow', 'decimal_scale'
FROM n WHERE num IS NOT NULL AND casted IS NOT NULL
  AND CAST(casted AS DOUBLE) <> num
UNION ALL
SELECT _ord, '/amt', 'overflow', 'decimal_range'
FROM n WHERE num IS NOT NULL AND casted IS NULL""",
        "rowpass_violations": _with_corpus(
            f"SELECT row_id, path, code, rule FROM ({rowpass})"),
        "nested_struct_violations": _with_corpus(f"""
  SELECT {ROW_ID_SQL} AS row_id, '/doc_id' AS path, 'required' AS code,
         'required' AS rule FROM corpus WHERE doc_id IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/meta', 'required', 'required'
  FROM corpus WHERE source IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/meta/n_tok', 'required', 'required'
  FROM corpus WHERE source IS NOT NULL AND n_tok IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/meta/n_tok', 'too_small', 'min'
  FROM corpus WHERE source IS NOT NULL AND n_tok IS NOT NULL AND n_tok < 1
  UNION ALL
  SELECT {ROW_ID_SQL}, '/meta/n_tok', 'too_big', 'max'
  FROM corpus WHERE source IS NOT NULL AND n_tok IS NOT NULL AND n_tok > {MAX_NTOK}
  UNION ALL
  SELECT {ROW_ID_SQL}, '/meta/src', 'pattern', 'pattern'
  FROM corpus WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')"""),
        "union_variant_violations": _with_corpus(f"""
  SELECT {ROW_ID_SQL} AS row_id, '/n_tok' AS path, 'too_big' AS code, 'max' AS rule
  FROM corpus WHERE _ord % 2 = 0 AND n_tok IS NOT NULL AND n_tok > 32
  UNION ALL
  SELECT {ROW_ID_SQL}, '/n_tok', 'too_small', 'min'
  FROM corpus WHERE _ord % 2 = 1 AND n_tok IS NOT NULL AND n_tok < 2
  UNION ALL
  SELECT {ROW_ID_SQL}, '/doc_id', 'required', 'required'
  FROM corpus WHERE _ord % 2 = 1 AND doc_id IS NULL"""),
        "map_value_violations": _with_corpus(f"""
  SELECT {ROW_ID_SQL} AS row_id, '/attrs/src' AS path, 'required' AS code,
         'map_value_required' AS rule FROM corpus WHERE source IS NULL
  UNION ALL
  SELECT {ROW_ID_SQL}, '/attrs/src', 'pattern', 'pattern'
  FROM corpus
  WHERE source IS NOT NULL AND NOT regexp_matches(source, '^(src[0-9]+|[0-9]+)$')
  UNION ALL
  SELECT {ROW_ID_SQL}, '/attrs/ntoks', 'required', 'map_value_required'
  FROM corpus WHERE n_tok IS NULL"""),
        "listset_duplicate_items": _with_corpus(f"""
SELECT {ROW_ID_SQL.replace('doc_id', 'c.doc_id').replace('_ord', 'c._ord')} AS row_id,
       '/tok8/' || CAST(u.i - 1 AS VARCHAR) AS path,
       'duplicate_item' AS code, 'list_set_unique' AS rule
FROM (SELECT doc_id, _ord, tokens[1:8] AS tok8 FROM corpus
      WHERE tokens IS NOT NULL) c
CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(c.tok8))) AS i) u
WHERE list_position(c.tok8, c.tok8[u.i]) <> u.i"""),
        "uniqueness_violations": _with_corpus(
            f"SELECT row_id, path, code, rule, first_ord, dup_ord, key_val FROM ({uniq})"),
        "referential_violations": _with_corpus(
            f"SELECT row_id, path, code, rule, got FROM ({ref})"),
        "stats_profile": _with_corpus(f"""
SELECT * FROM (
  SELECT 'doc_id' AS col, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v
  FROM corpus
  UNION ALL
  SELECT 'n_tok', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT n_tok) AS BIGINT),
         CAST(MIN(n_tok) AS VARCHAR), CAST(MAX(n_tok) AS VARCHAR)
  FROM corpus
  UNION ALL
  SELECT 'source', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT source) AS BIGINT),
         CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
  FROM corpus
)"""),
        "stats_by_source": _with_corpus("""
SELECT * FROM (
  SELECT source, 'doc_id' AS col, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v
  FROM corpus GROUP BY source
  UNION ALL
  SELECT source, 'n_tok', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(DISTINCT n_tok) AS BIGINT),
         CAST(MIN(n_tok) AS VARCHAR), CAST(MAX(n_tok) AS VARCHAR)
  FROM corpus GROUP BY source
)"""),
        "ntok_quantiles_by_source": _with_corpus("""
SELECT source, CAST(COUNT(n_tok) AS BIGINT) AS cnt,
       CAST(MIN(n_tok) AS DOUBLE) AS min_v,
       CAST(MAX(n_tok) AS DOUBLE) AS max_v,
       ROUND(AVG(n_tok), 4) AS avg_v,
       ROUND(quantile_cont(n_tok, 0.5), 4) AS p50,
       ROUND(quantile_cont(n_tok, 0.9), 4) AS p90
FROM corpus GROUP BY source"""),
        "ntok_histogram": _with_corpus(f"""
SELECT CAST(CASE WHEN n_tok < 0 THEN 0
            WHEN n_tok >= {MAX_NTOK} THEN 17
            ELSE CAST(FLOOR(n_tok / {MAX_NTOK / 16.0}) AS BIGINT) + 1 END AS BIGINT) AS bucket,
       CAST(0 + (CASE WHEN n_tok < 0 THEN 0
            WHEN n_tok >= {MAX_NTOK} THEN 17
            ELSE CAST(FLOOR(n_tok / {MAX_NTOK / 16.0}) AS BIGINT) + 1 END - 1) * {MAX_NTOK / 16.0} AS DOUBLE) AS bucket_lo,
       CAST(0 + (CASE WHEN n_tok < 0 THEN 0
            WHEN n_tok >= {MAX_NTOK} THEN 17
            ELSE CAST(FLOOR(n_tok / {MAX_NTOK / 16.0}) AS BIGINT) + 1 END) * {MAX_NTOK / 16.0} AS DOUBLE) AS bucket_hi,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM corpus WHERE n_tok IS NOT NULL
GROUP BY 1, 2, 3"""),
        "ntok_quantiles": _with_corpus("""
SELECT CAST(COUNT(n_tok) AS BIGINT) AS cnt,
       CAST(MIN(n_tok) AS DOUBLE) AS min_v,
       CAST(MAX(n_tok) AS DOUBLE) AS max_v,
       ROUND(AVG(n_tok), 4) AS avg_v,
       ROUND(quantile_cont(n_tok, 0.5), 4) AS p50,
       ROUND(quantile_cont(n_tok, 0.9), 4) AS p90,
       ROUND(quantile_cont(n_tok, 0.99), 4) AS p99
FROM corpus"""),
        "verdicts_by_source": _with_corpus(f"""
, allv AS (
  SELECT source, _ord FROM ({rowpass})
  UNION ALL SELECT source, _ord FROM ({uniq})
  UNION ALL SELECT source, _ord FROM ({ref})
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS rows,
       CAST(COALESCE(v.nviol, 0) AS BIGINT) AS violations,
       CASE WHEN COALESCE(v.nviol, 0) > 0 THEN 'fail' ELSE 'pass' END AS verdict
FROM corpus c
LEFT JOIN (SELECT source, COUNT(*) AS nviol FROM allv GROUP BY source) v
  ON c.source IS NOT DISTINCT FROM v.source
GROUP BY c.source, v.nviol"""),
        "clean_token_checksum": _with_corpus(f"""
, bad AS (SELECT DISTINCT _ord FROM ({rowpass}))
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(list_sum(c.tokens)) AS BIGINT) AS tok_sum,
       CAST(SUM(c.n_tok) AS BIGINT) AS ntok_sum
FROM corpus c ANTI JOIN bad b ON c._ord = b._ord
GROUP BY c.source"""),
        "pii_profile": _pii_sql(),
        "dedup_groups": f"""
WITH RECURSIVE {_minhash_ctes()},
cand AS ({_MINHASH_PAIRS}),
edges AS (SELECT id_a AS src, id_b AS dst FROM cand
          UNION SELECT id_b, id_a FROM cand),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(LEAST(node, MIN(r)) AS BIGINT) AS group_id,
       node = LEAST(node, MIN(r)) AS keep
FROM reach GROUP BY node""",
        "chunk_assignments": """
WITH t AS (SELECT source, doc_id,
           len(string_split(text, ' ')) AS n_tok FROM documents),
o AS (SELECT source, doc_id, n_tok,
  COALESCE(SUM(n_tok) OVER (ORDER BY source, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tok AS BIGINT) AS n_tok, CAST(off AS BIGINT) AS tok_offset,
  CAST(FLOOR(off / 64.0) AS BIGINT) AS first_chunk,
  CAST(FLOOR((off + GREATEST(n_tok - 1, 0)) / 64.0) AS BIGINT) AS last_chunk
FROM o""",
        "mixture_by_source": _mixture_sql(),
    }
