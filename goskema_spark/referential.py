"""Referential checks against dimension tables — the distributed analog of
goskema's context rules (reference dsl/object_typed_builder.go:57-83,
example examples/context_order_inventory): a field value must exist in an
external reference set; a job-level failure to load the dimension maps to
`dependency_unavailable` (reference errors.go:35).

Scale design: dimensions (source registries, license tables, vocab sets)
are small; the check never shuffles the fact side. Two physical shapes,
picked by the dimension's actual size:

- SMALL dims (<= MAX_INLINE_VALUES rows): collect the domain once (one
  tiny early-terminating job) and compile the check into a plain
  `NOT isin` filter. Spark turns the literal list into an InSet hash
  probe inside whole-stage codegen — no join operator, no broadcast
  build, no per-run re-evaluation of the dimension plan. r6 measured
  the difference at 12.8M rows: 1.59s for the broadcast anti-join
  (whose per-run cost then included re-evaluating a Python-RDD-backed
  dim, a distinct exchange and the broadcast build) vs 0.15s for the
  compiled filter.
- LARGER dims: LEFT ANTI broadcast join of the dim's key column as it
  is — no shuffle of the fact side, and no distinct exchange on the dim
  side: an anti join's output does not depend on repeated build keys,
  and a NULL build key matches nothing either way. Each task streams its
  partition against the broadcast hash relation. The trade-off: the
  relation carries the dim's raw rows, so a dim that repeats its keys
  broadcasts more than its domain (measured 8.65 MB for a keyed
  6000-value column, 12.6 MB with every value repeated 20x). Dims are
  keyed tables by contract (`_inline_domain`), so this is not guarded.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, functions as F

from goskema_spark.issues import Codes, pointer
from goskema_spark.rowpass import violation_cols, violation_rows
from goskema_spark.sqltext import ident, in_list, string

# dims up to this many rows are compiled into an InSet
# filter; the literal list lives in the plan, so keep it well under
# plan-size pain (4096 short strings ~ tens of KB)
MAX_INLINE_VALUES = 4096

# domain memo per dim DataFrame OBJECT (weak keys: dropping the dim
# drops the memo). Same category as rowpass' compiled-check memo: a
# driver-side compile artifact — callers that validate many batches
# against one dim registry pay the tiny domain-collect job once, not
# per validate() call (measured 0.35-0.44s/call on a Python-backed
# 20-row dim: the collect itself is trivial, the latency is the
# Python-RDD evaluation plus distinct-exchange stage scheduling).
#
# Two deliberate consequences callers should know:
# - the probe makes check CONSTRUCTION eager (one bounded
#   limit(n+1).collect() job at plan-build time, before any output is
#   actioned).
# - the domain is frozen per dim DataFrame OBJECT: if the dim's
#   underlying storage changes, a held dim object keeps validating
#   against the old domain (the join path would re-scan per action).
#   Re-read the dim, which gives a fresh object, to track a mutable
#   dimension, e.g. across long-lived streaming runs.
_domain_memo: "weakref.WeakKeyDictionary[DataFrame, dict]" = \
    weakref.WeakKeyDictionary()


def _inline_domain(dim: DataFrame, dim_column: str):
    """The dim's distinct non-null values when the dim is small enough,
    else None. The probe is a RAW `limit(n+1).collect()` — a limit on a
    bare scan early-terminates, so a 10^8-row dim pays a few partitions
    of reading to learn it is too big, whereas probing through
    `distinct()` would execute the dim's full scan + shuffle as a
    blocking job before the main query (the same serialized-pre-probe
    antipattern r6 removed from the uniqueness check). Trade-off,
    deliberate: a huge dim with few distinct values falls back to the
    anti-join even though its domain would have fit — dims are keyed
    tables in practice, and the join path is correct either way.
    Dedup happens in Python; NULL domain values are dropped: a NULL
    never equality-matches in the anti-join either, so it whitelists
    nothing — and a NULL inside a NOT IN list would turn every verdict
    NULL (three-valued logic), silently suppressing all violations."""
    per_dim = _domain_memo.setdefault(dim, {})
    if dim_column in per_dim:
        return per_dim[dim_column]
    head = (dim.select(F.col(dim_column))
            .limit(MAX_INLINE_VALUES + 1).collect())
    if len(head) > MAX_INLINE_VALUES:
        domain = None
    else:
        domain = sorted({r[0] for r in head if r[0] is not None})
    per_dim[dim_column] = domain
    return domain


def referential_violations(df: DataFrame, column: str, dim: DataFrame,
                           dim_column: str, row_id: Column,
                           code: str = Codes.INVALID_ENUM, carry=()) -> DataFrame:
    """Rows whose `column` value is absent from dim[dim_column] ->
    violation rows at /<column> with params {"got": value}.

    Null values are NOT referential misses (they are `required` issues,
    handled by the row pass), mirroring the reference where context rules
    run only on present values (presence gating, domain_types.go:25-34).
    """
    domain = _inline_domain(dim, dim_column)
    c = ident(column)
    if domain is not None:
        misses = df.filter(f"({c} IS NOT NULL) AND NOT {in_list(c, domain)}")
    else:
        keys = dim.selectExpr(f"{ident(dim_column)} AS {c}")
        misses = (
            df.filter(f"{c} IS NOT NULL")
            .join(F.broadcast(keys), column, "left_anti")
        )
    viol = violation_cols(string(pointer(column)), code, rule=f"ref_{column}",
                          params={"got": f"CAST({c} AS STRING)"})
    return violation_rows(misses, row_id, viol, carry)
