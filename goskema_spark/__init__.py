"""goskema_spark — a from-scratch PySpark-native schema + constraint
validation engine with the semantics of reoring/goskema.

Not a port: the reference (Go) is a per-document, token-streaming JSON
validator; this engine is columnar and distributed. What carries over is
the *semantic contract*: the issue-code vocabulary and JSON-Pointer error
paths (reference errors.go:10-36, ref_pathref.go:51-69), required/default/
unknown-key/presence semantics, DoS guards, fail-fast vs collect, and
deterministic violation ordering.

Layout:
  issues        — issue codes, violation row schema, message catalog
  schema        — declarative table schema + constraint builder DSL
  rowpass       — compile schema -> vectorized per-row check pass
  uniqueness    — cross-row key uniqueness (two-stage hash aggregate)
  referential   — broadcast anti-join referential checks
  stats         — per-column profiling (count/null/min/max/sketches)
  drift         — histogram drift detection (PSI / KS)
  ledger        — run ledger + checkpoint/resume
  runner        — Validator orchestrating the full validation run
  corpus        — canonical tokenized-corpus derivation + golden fixtures
  ingest        — raw-JSON ingest path (presence / duplicate keys)
  ops           — training-data operators (dedup, similarity, text, multimodal)
"""

from goskema_spark.issues import Codes, VIOLATION_SCHEMA, message_for
from goskema_spark.schema import TableSchema, field, table

__all__ = [
    "Codes",
    "VIOLATION_SCHEMA",
    "message_for",
    "TableSchema",
    "field",
    "table",
]

__version__ = "0.1.0"
