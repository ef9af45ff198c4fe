"""Canonical tokenized-corpus table (the north-rule input shape,
BASELINE.json input_hint: doc_id string, tokens array<int32>, n_tok int32,
source string) and its constraint schema.

Two deterministic constructions:

1. `golden_corpus(spark)` — the 64-row F1 fixture from FIXTURES.md
   (rows 0-49 valid, rows 50-62 each injecting a specific violation).

2. `corpus_from_documents(spark, sf_dir)` + `corpus_cte_sql()` — the SAME
   derivation of a corpus from the driver's `documents` parquet table,
   written once in Spark expressions and once in ANSI SQL that DuckDB
   runs for the correctness oracle. Corruption is keyed on the integer
   doc_id with fixed prime moduli so both engines inject identical
   violations. Tokens are a pure function of the text
   (token = length(word) * 7 % VOCAB), so the per-row token-array
   equality invariant is checkable against the derivation itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from goskema_spark import schema as S

# corpus config used by both fixture tests and oracle queries
VOCAB = 1000
MAX_LEN = 64
MAX_NTOK = 64
GOLDEN_VOCAB = 1000
GOLDEN_MAX_LEN = 32
GOLDEN_MAX_NTOK = 32

DIM_SOURCES = [f"src{i}" for i in range(20)]  # documents.source domain
GOLDEN_SOURCES = ["web", "books", "code", "wiki"]

CORPUS_TYPE = T.StructType([
    T.StructField("doc_id", T.StringType(), True),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("_ord", T.LongType(), False),
])


def corpus_schema(max_len: int = MAX_LEN, max_ntok: int = MAX_NTOK,
                  vocab: int = VOCAB, sources=None) -> S.TableSchema:
    """Constraint set per FIXTURES.md F1 (semantics anchored to the
    reference; see the citations in each operator's compiler)."""
    sch = S.table(
        S.field("doc_id", "string", required=True),
        S.field("tokens", S.array("int32", min_len=1, max_len=max_len,
                                  elem_min=0, elem_max=vocab), required=True),
        S.field("n_tok", "int32", required=True, min=1, max=max_ntok),
        S.field("source", "string", required=True),
        unknown="strict",
    )
    # n_tok == size(tokens): cross-field refine
    # (reference dsl/object_typed_builder.go:44-54), as SQL text
    sch.refine(
        "n_tok_matches_tokens",
        violates="n_tok != size(tokens)",
        path="/n_tok",
        code="business_rule",
        params={"expected": "size(tokens)", "got": "n_tok"},
        when="n_tok IS NOT NULL AND tokens IS NOT NULL",
    )
    # broadcast=True: hint-forced broadcast of the dup-key relation.
    # doc_id is the corpus' document identity — by data contract it is
    # near-unique, so the duplicate-KEY set is tiny (duplicates are the
    # anomaly being detected, not boilerplate), and the forced hint
    # keeps the whole check one job with zero corpus-side shuffle.
    # A corpus whose key may be pathologically duplicated (10^8+ dup
    # keys would stress the driver) should declare broadcast=False:
    # no hint, AQE promotes to broadcast only when the runtime size
    # fits (measured +1.4s on the 12.8M-row bench — the corpus-side
    # exchange AQE plans for is not free, which is why the contract-
    # backed forced hint is the default here, not the cautious mode).
    sch.unique("doc_id", ordinal="_ord", broadcast=True)
    sch.foreign_key("source", "dim_source", "source")
    return sch


def row_id_col() -> F.Column:
    """F5 contract: doc_id when present, else synthetic offset id (SQL
    text: one parse, where the Column calls cost ~60 py4j round trips)."""
    return F.expr("coalesce(doc_id, concat('row-', CAST(_ord AS STRING)))")


ROW_ID_SQL = "coalesce(doc_id, 'row-' || CAST(_ord AS VARCHAR))"


# --------------------------------------------------------------------------
# 1. Golden 64-row fixture (FIXTURES.md F1)
# --------------------------------------------------------------------------

def golden_rows():
    rows = []
    for i in range(50):
        toks = [(i * 7 + j) % GOLDEN_VOCAB for j in range(1 + i % 16)]
        rows.append((f"d{i:04d}", toks, len(toks), GOLDEN_SOURCES[i % 4], i))

    def tok(i, n):
        return [(i * 7 + j) % GOLDEN_VOCAB for j in range(n)]

    rows += [
        ("d0007", tok(50, 5), 5, "web", 50),          # duplicate doc_id (vs row 7)
        ("d0051", None, None, "books", 51),           # null tokens -> required
        ("d0052", [], 0, "code", 52),                 # empty -> too_short (+ n_tok too_small)
        ("d0053", [1, -1, 3], 3, "wiki", 53),         # token -1 -> domain_range /tokens/1
        ("d0054", [1, 2_000_000, 3], 3, "web", 54),   # token > vocab -> domain_range /tokens/1
        ("d0055", tok(55, 4), 5, "books", 55),        # n_tok mismatch -> business_rule
        ("d0056", tok(56, 3), 0, "code", 56),         # n_tok=0 -> too_small (+ mismatch)
        ("d0057", tok(57, 5), 33, "wiki", 57),        # n_tok=max+1 -> too_big (+ mismatch)
        ("d0058", tok(58, 2), 2, "parachute", 58),    # unknown source -> invalid_enum
        ("d0059", tok(59, 2), 2, None, 59),           # null source -> required
        ("d0060", tok(60, 33), 33, "web", 60),        # len 33 -> too_long (+ n_tok too_big)
        (None, tok(61, 2), 2, "books", 61),           # null doc_id -> required
        (None, tok(62, 2), 2, "code", 62),            # null doc_id -> required
        ("d0063", tok(63, 2), 2, "wiki", 63),         # valid
    ]
    return rows


def golden_corpus(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(golden_rows(), CORPUS_TYPE)


def golden_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s, True) for s in GOLDEN_SOURCES],
        T.StructType([
            T.StructField("source", T.StringType(), False),
            T.StructField("license_ok", T.BooleanType(), False),
        ]),
    )


def golden_schema() -> S.TableSchema:
    return corpus_schema(GOLDEN_MAX_LEN, GOLDEN_MAX_NTOK, GOLDEN_VOCAB, GOLDEN_SOURCES)


# --------------------------------------------------------------------------
# 2. Corpus derived from the documents table (oracle-parity derivation)
# --------------------------------------------------------------------------
# Corruption moduli (on the original integer doc_id `d`):
#   d % 101 == 1  -> doc_id NULL            (required /doc_id)
#   d % 103 == 2  -> doc_id 'DUP'           (uniqueness)
#   d % 107 == 3  -> tokens NULL            (required /tokens)
#   d % 109 == 4  -> tokens []              (too_short /tokens)
#   d % 113 == 5  -> append -1              (domain_range /tokens/<i>)
#   d % 127 == 6  -> append 1500            (domain_range /tokens/<i>)
#   d % 131 == 7  -> 65 filler tokens       (too_long /tokens)
#   d % 137 == 8  -> n_tok = size + 1       (business_rule /n_tok)
#   d % 139 == 9  -> n_tok = 0              (too_small + business_rule /n_tok)
#   d % 149 == 10 -> source 'parachute'     (invalid_enum /source)
#   d % 151 == 11 -> source NULL            (required /source)
# doc_id corruptions chain in listed order; independent fields compose.

def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    base = F.slice(
        F.transform(F.split(F.col("text"), " "), lambda w: ((F.length(w) * 7) % VOCAB).cast("int")),
        1, 60,
    )
    tokens = (
        F.when(d % 107 == 3, F.lit(None).cast("array<int>"))
        .when(d % 109 == 4, F.array().cast("array<int>"))
        .when(d % 113 == 5, F.concat(base, F.array(F.lit(-1).cast("int"))))
        .when(d % 127 == 6, F.concat(base, F.array(F.lit(1500).cast("int"))))
        .when(d % 131 == 7, F.array_repeat(F.lit(7).cast("int"), 65))
        .otherwise(base)
    )
    out = docs.select(
        F.when(d % 101 == 1, F.lit(None).cast("string"))
        .when(d % 103 == 2, F.lit("DUP"))
        .otherwise(F.concat(F.lit("d"), d.cast("string"))).alias("doc_id"),
        tokens.alias("tokens"),
        F.col("source").alias("_orig_source"),
        d.cast("long").alias("_ord"),
    )
    n_tok = (
        F.when(F.col("_ord") % 137 == 8, F.size("tokens") + 1)
        .when(F.col("_ord") % 139 == 9, F.lit(0))
        .otherwise(F.size("tokens"))
    ).cast("int")
    source = (
        F.when(F.col("_ord") % 149 == 10, F.lit("parachute"))
        .when(F.col("_ord") % 151 == 11, F.lit(None).cast("string"))
        .otherwise(F.col("_orig_source"))
    )
    return out.select("doc_id", "tokens", n_tok.alias("n_tok"), source.alias("source"), "_ord")


def corpus_cte_sql() -> str:
    """The SAME derivation as `corpus_from_documents`, in DuckDB SQL.
    Used as a WITH-clause body by every oracle query."""
    return f"""
  SELECT
    CASE WHEN doc_id % 101 = 1 THEN NULL
         WHEN doc_id % 103 = 2 THEN 'DUP'
         ELSE 'd' || CAST(doc_id AS VARCHAR) END AS doc_id,
    tokens,
    CAST(CASE WHEN doc_id % 137 = 8 THEN len(tokens) + 1
              WHEN doc_id % 139 = 9 THEN 0
              ELSE len(tokens) END AS INTEGER) AS n_tok,
    CASE WHEN doc_id % 149 = 10 THEN 'parachute'
         WHEN doc_id % 151 = 11 THEN NULL
         ELSE source END AS source,
    CAST(doc_id AS BIGINT) AS _ord
  FROM (
    SELECT doc_id, source,
      CASE WHEN doc_id % 107 = 3 THEN NULL
           WHEN doc_id % 109 = 4 THEN CAST([] AS INTEGER[])
           WHEN doc_id % 113 = 5 THEN base || [CAST(-1 AS INTEGER)]
           WHEN doc_id % 127 = 6 THEN base || [CAST(1500 AS INTEGER)]
           WHEN doc_id % 131 = 7 THEN CAST(list_transform(range(65), x -> 7) AS INTEGER[])
           ELSE base END AS tokens
    FROM (
      SELECT doc_id, source,
        CAST(list_transform(string_split(text, ' '),
             w -> length(w) * 7 % {VOCAB}) AS INTEGER[])[1:60] AS base
      FROM documents
    )
  )
"""


def dim_source_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(s,) for s in DIM_SOURCES],
        T.StructType([T.StructField("source", T.StringType(), False)]),
    )


DIM_SOURCE_SQL = "SELECT 'src' || CAST(x AS VARCHAR) AS source FROM (SELECT unnest(range(20)) AS x)"


def scaled_corpus(spark: SparkSession, sf_dir: str, replicate: int = 1,
                  partitions: int = 0) -> DataFrame:
    """Replicate the documents-derived corpus `replicate`× with distinct
    doc_ids/ordinals — the bench input generator. Deterministic; mirrors
    running the same derivation over a bigger snapshot."""
    base = corpus_from_documents(spark, sf_dir)
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("_rep"))
        base = base.crossJoin(F.broadcast(reps)).select(
            F.when(F.col("doc_id").isNotNull() & (F.col("doc_id") != "DUP"),
                   F.concat(F.col("doc_id"), F.lit("_r"), F.col("_rep").cast("string")))
            .otherwise(F.col("doc_id")).alias("doc_id"),
            "tokens", "n_tok", "source",
            (F.col("_ord") * replicate + F.col("_rep")).alias("_ord"),
        )
    if partitions:
        # north rule: explicit repartitioning by (source, hash(doc_id))
        base = base.repartition(partitions, F.col("source"), F.xxhash64("doc_id"))
    return base
