"""Cross-row key uniqueness — the distributed analog of rules.UniqueBy
(reference rules/rules.go:104-137): code `uniqueness`, message
"duplicate value" (rules.go:126), params {"first": <ordinal of first
occurrence>, "dup": <ordinal of this occurrence>, "key": <value>}.

Scale design (north rule: a hash aggregate with skew mitigation):

  stage 1  groupBy(xxhash64(key)) partial counts     -- map-side combine
           means hot keys are pre-reduced per-partition before
           shuffling (a key hot in every partition still sends at most
           one partial row per map task to its reducer, so no explicit
           salting is needed), and the shuffled record is 8 bytes of
           hash, not the raw key.
  stage 2  filter count > 1                          -- duplicate keys only,
           a tiny relation at any realistic duplicate rate.
  stage 3  join the dup-hash set back to the corpus; recover first/dup
           ordinals with a map-side-combinable MIN aggregate over that
           subset + join — NOT a window: a window partitioned by key
           serializes each hot key into one reducer task (a serial tail
           at any cluster size), while the partial aggregate reduces
           the hot key on every core first.

The join strategy: broadcast=True (default) hint-forces broadcast —
right at any realistic duplicate rate. broadcast=False drops the hint
and lets AQE pick from the aggregate's RUNTIME size.

The expensive global sort-shuffle over 10^12 rows is avoided entirely:
only `rows-with-duplicated-keys` are touched in stage 3. At a 0.1%
duplicate rate on 10^12 rows that is 10^9 rows spread over the
cluster — fine; the common path is hash aggregates with AQE handling
residual skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from goskema_spark.issues import Codes, MSG_DUPLICATE_VALUE, pointer
from goskema_spark.rowpass import violation_cols, violation_rows
from goskema_spark.sqltext import ident, string


def uniqueness_violations(df: DataFrame, key: str, ordinal: str,
                          row_id: Column, carry=(),
                          broadcast: bool = True) -> DataFrame:
    """Violation rows for every non-first occurrence of a duplicated key.

    `ordinal` must be a stable, deterministic ordering column (e.g. the
    source ordinal of the row) so first/dup params are reproducible —
    goskema's input-order indices (rules.go:117-131) mapped to a
    distributed setting.

    broadcast: True (default) forces the broadcast hint on the dup-key
    join — right at any realistic duplicate rate, and keeps the whole
    check a single job. False drops the hint and lets AQE pick the join
    from the aggregate's RUNTIME output size (the safe choice when the
    duplicate rate may be pathological — a boilerplate-heavy corpus can
    have 10^8+ duplicated keys, which would blow the driver if
    broadcast; AQE still promotes to broadcast whenever the dup-key
    relation lands under spark.sql.autoBroadcastJoinThreshold). Only a
    bool is accepted: the setting is a plain truth test, so a leftover
    string such as "auto" would be truthy and force the hint.
    """
    if not isinstance(broadcast, bool):
        raise TypeError(
            f"broadcast must be a bool, got {type(broadcast).__name__}: {broadcast!r}")
    # Dup detection shuffles xxhash64(key) — 8 bytes/key instead of the
    # raw (often long) key strings, roughly halving shuffle volume on a
    # mostly-unique corpus (the common case: partial aggregation cannot
    # reduce unique keys, so the full key set crosses the wire), and a
    # LONG-keyed hash aggregate is markedly faster than a string-keyed
    # one (r6 measured: grouping the raw key with a fused min(ordinal)
    # was 1.8x SLOWER at 12.8M rows than this hash-keyed detection plus
    # the tiny second aggregate — the second aggregate only touches
    # rows-with-duplicated-keys, and AQE reuses the detection exchange
    # between the two plan references, so "one aggregate" bought
    # nothing and paid string hashing on every row). A hash collision
    # only adds a unique-keyed row to the joined subset, where the
    # first-occurrence aggregate over the TRUE key yields
    # first==ordinal and the row is filtered — correctness unaffected.
    kc, ordc = ident(key), ident(ordinal)
    dups = (df.filter(f"{kc} IS NOT NULL")
            .groupBy(F.expr(f"xxhash64({kc}) AS _kh"))
            .agg(F.expr("count(1) AS _cnt"))
            .filter("_cnt > 1")
            .select("_kh"))
    if broadcast:
        dups = F.broadcast(dups)
    # semi-join the dup-hash set; resolve first-occurrence ordinals with
    # a map-side-combinable MIN aggregate + broadcast join instead of a
    # window: a window partitioned by key sorts, and a pathological hot
    # key (every 'DUP' row) lands in ONE reducer task no matter how many
    # executors exist — a serial tail that caps scaling. The aggregate
    # partial-combines the hot key on every core before the (tiny,
    # dup-keys-sized) shuffle.
    sub = df.join(dups, F.expr(f"xxhash64({kc}) = _kh"), "inner").drop("_kh")
    firsts = (sub.groupBy(F.expr(f"{kc} AS _fk"))
              .agg(F.expr(f"min({ordc}) AS _first")))
    if broadcast:
        firsts = F.broadcast(firsts)
    sub = (sub.join(firsts, F.expr(f"{kc} = _fk"), "inner").drop("_fk")
           .filter(f"{ordc} != _first"))
    viol = violation_cols(
        string(pointer(key)),
        Codes.UNIQUENESS,
        rule="unique_by",
        params={"first": "CAST(_first AS STRING)", "dup": f"CAST({ordc} AS STRING)",
                "key": f"CAST({kc} AS STRING)"},
        message=MSG_DUPLICATE_VALUE,
    )
    return violation_rows(sub, row_id, viol, carry)
