"""The check compiler writes Spark SQL text: the compiled gate and body
of corpus_schema() and golden_schema() are pinned here verbatim, so any
edit to the compiler shows as a diff of this file; and building the
row pass or a whole validate() plan costs a bounded number of py4j
round trips."""

import gc

from py4j.clientserver import ClientServerConnection

from goskema_spark.corpus import (corpus_schema, golden_corpus, golden_dim, golden_schema,
                                  row_id_col)
from goskema_spark.rowpass import compile_checks, validate_rows
from goskema_spark.runner import validate

CORPUS_GATE = (
    '(((((((((`doc_id` IS NULL) OR (`n_tok` IS NULL)) OR ((`n_tok` IS NOT NULL) AND '
    '(`n_tok` < 1))) OR ((`n_tok` IS NOT NULL) AND (`n_tok` > 64))) OR (`source` IS '
    'NULL)) OR (`tokens` IS NULL)) OR ((`tokens` IS NOT NULL) AND (size(`tokens`) < '
    '1))) OR ((`tokens` IS NOT NULL) AND (size(`tokens`) > 64))) OR ((n_tok IS NOT '
    'NULL AND tokens IS NOT NULL) AND (n_tok != size(tokens)))) OR '
    '(((array_min(`tokens`) < 0) OR (array_max(`tokens`) >= 1000)) OR '
    '((size(`tokens`) > 0) AND (array_contains(`tokens`, CASE WHEN '
    'array_max(`tokens`) <= 999 THEN array_max(`tokens`) + 1 ELSE 0 END) IS NULL)))')


CORPUS_BODY = (
    "filter(concat(array(CASE WHEN `doc_id` IS NULL THEN named_struct('path', "
    "'/doc_id', 'code', 'required', 'message', 'required property missing', 'rule', "
    "'required', 'params', CAST(NULL AS MAP<STRING, STRING>)) END, CASE WHEN `n_tok` "
    "IS NULL THEN named_struct('path', '/n_tok', 'code', 'required', 'message', "
    "'required property missing', 'rule', 'required', 'params', CAST(NULL AS "
    'MAP<STRING, STRING>)) END, CASE WHEN (`n_tok` IS NOT NULL) AND (`n_tok` < 1) '
    "THEN named_struct('path', '/n_tok', 'code', 'too_small', 'message', "
    "'too_small', 'rule', 'min', 'params', map('got', CAST(`n_tok` AS STRING), "
    "'min', CAST(1 AS STRING))) END, CASE WHEN (`n_tok` IS NOT NULL) AND (`n_tok` > "
    "64) THEN named_struct('path', '/n_tok', 'code', 'too_big', 'message', "
    "'too_big', 'rule', 'max', 'params', map('got', CAST(`n_tok` AS STRING), 'max', "
    "CAST(64 AS STRING))) END, CASE WHEN `source` IS NULL THEN named_struct('path', "
    "'/source', 'code', 'required', 'message', 'required property missing', 'rule', "
    "'required', 'params', CAST(NULL AS MAP<STRING, STRING>)) END, CASE WHEN "
    "`tokens` IS NULL THEN named_struct('path', '/tokens', 'code', 'required', "
    "'message', 'required property missing', 'rule', 'required', 'params', CAST(NULL "
    'AS MAP<STRING, STRING>)) END, CASE WHEN (`tokens` IS NOT NULL) AND '
    "(size(`tokens`) < 1) THEN named_struct('path', '/tokens', 'code', 'too_short', "
    "'message', 'too short', 'rule', 'array_min', 'params', map('got', "
    "CAST(size(`tokens`) AS STRING), 'min', CAST(1 AS STRING))) END, CASE WHEN "
    "(`tokens` IS NOT NULL) AND (size(`tokens`) > 64) THEN named_struct('path', "
    "'/tokens', 'code', 'too_long', 'message', 'too long', 'rule', 'array_max', "
    "'params', map('got', CAST(size(`tokens`) AS STRING), 'max', CAST(64 AS "
    'STRING))) END, CASE WHEN (n_tok IS NOT NULL AND tokens IS NOT NULL) AND (n_tok '
    "!= size(tokens)) THEN named_struct('path', '/n_tok', 'code', 'business_rule', "
    "'message', 'business_rule', 'rule', 'n_tok_matches_tokens', 'params', "
    "map('expected', CAST(size(tokens) AS STRING), 'got', CAST(n_tok AS STRING))) "
    'END), coalesce(CASE WHEN exists(`tokens`, __gsk_e -> ((__gsk_e IS NULL) OR '
    '(__gsk_e < 0)) OR (__gsk_e >= 1000)) THEN filter(transform(`tokens`, (__gsk_e, '
    "__gsk_i) -> CASE WHEN __gsk_e IS NULL THEN named_struct('path', "
    "concat('/tokens', '/', CAST(__gsk_i AS STRING)), 'code', 'invalid_type', "
    "'message', 'invalid type', 'rule', 'elem_type', 'params', CAST(NULL AS "
    'MAP<STRING, STRING>)) ELSE CASE WHEN (__gsk_e IS NOT NULL) AND (__gsk_e < 0) '
    "THEN named_struct('path', concat('/tokens', '/', CAST(__gsk_i AS STRING)), "
    "'code', 'domain_range', 'message', 'domain_range', 'rule', 'elem_domain', "
    "'params', map('got', CAST(__gsk_e AS STRING), 'max', CAST(1000 AS STRING), "
    "'min', CAST(0 AS STRING))) ELSE CASE WHEN (__gsk_e IS NOT NULL) AND (__gsk_e >= "
    "1000) THEN named_struct('path', concat('/tokens', '/', CAST(__gsk_i AS "
    "STRING)), 'code', 'domain_range', 'message', 'domain_range', 'rule', "
    "'elem_domain', 'params', map('got', CAST(__gsk_e AS STRING), 'max', CAST(1000 "
    "AS STRING), 'min', CAST(0 AS STRING))) ELSE CAST(NULL AS "
    'struct<path:string,code:string,message:string,rule:string,params:map<string,string>>) '
    'END END END), __gsk_v -> __gsk_v IS NOT NULL) ELSE CAST(array() AS '
    'array<struct<path:string,code:string,message:string,rule:string,params:map<string,string>>>) '
    'END, CAST(array() AS '
    'array<struct<path:string,code:string,message:string,rule:string,params:map<string,string>>>))), '
    '__gsk_v -> __gsk_v IS NOT NULL)')


GOLDEN_GATE = (
    '(((((((((`doc_id` IS NULL) OR (`n_tok` IS NULL)) OR ((`n_tok` IS NOT NULL) AND '
    '(`n_tok` < 1))) OR ((`n_tok` IS NOT NULL) AND (`n_tok` > 32))) OR (`source` IS '
    'NULL)) OR (`tokens` IS NULL)) OR ((`tokens` IS NOT NULL) AND (size(`tokens`) < '
    '1))) OR ((`tokens` IS NOT NULL) AND (size(`tokens`) > 32))) OR ((n_tok IS NOT '
    'NULL AND tokens IS NOT NULL) AND (n_tok != size(tokens)))) OR '
    '(((array_min(`tokens`) < 0) OR (array_max(`tokens`) >= 1000)) OR '
    '((size(`tokens`) > 0) AND (array_contains(`tokens`, CASE WHEN '
    'array_max(`tokens`) <= 999 THEN array_max(`tokens`) + 1 ELSE 0 END) IS NULL)))')


GOLDEN_BODY = (
    "filter(concat(array(CASE WHEN `doc_id` IS NULL THEN named_struct('path', "
    "'/doc_id', 'code', 'required', 'message', 'required property missing', 'rule', "
    "'required', 'params', CAST(NULL AS MAP<STRING, STRING>)) END, CASE WHEN `n_tok` "
    "IS NULL THEN named_struct('path', '/n_tok', 'code', 'required', 'message', "
    "'required property missing', 'rule', 'required', 'params', CAST(NULL AS "
    'MAP<STRING, STRING>)) END, CASE WHEN (`n_tok` IS NOT NULL) AND (`n_tok` < 1) '
    "THEN named_struct('path', '/n_tok', 'code', 'too_small', 'message', "
    "'too_small', 'rule', 'min', 'params', map('got', CAST(`n_tok` AS STRING), "
    "'min', CAST(1 AS STRING))) END, CASE WHEN (`n_tok` IS NOT NULL) AND (`n_tok` > "
    "32) THEN named_struct('path', '/n_tok', 'code', 'too_big', 'message', "
    "'too_big', 'rule', 'max', 'params', map('got', CAST(`n_tok` AS STRING), 'max', "
    "CAST(32 AS STRING))) END, CASE WHEN `source` IS NULL THEN named_struct('path', "
    "'/source', 'code', 'required', 'message', 'required property missing', 'rule', "
    "'required', 'params', CAST(NULL AS MAP<STRING, STRING>)) END, CASE WHEN "
    "`tokens` IS NULL THEN named_struct('path', '/tokens', 'code', 'required', "
    "'message', 'required property missing', 'rule', 'required', 'params', CAST(NULL "
    'AS MAP<STRING, STRING>)) END, CASE WHEN (`tokens` IS NOT NULL) AND '
    "(size(`tokens`) < 1) THEN named_struct('path', '/tokens', 'code', 'too_short', "
    "'message', 'too short', 'rule', 'array_min', 'params', map('got', "
    "CAST(size(`tokens`) AS STRING), 'min', CAST(1 AS STRING))) END, CASE WHEN "
    "(`tokens` IS NOT NULL) AND (size(`tokens`) > 32) THEN named_struct('path', "
    "'/tokens', 'code', 'too_long', 'message', 'too long', 'rule', 'array_max', "
    "'params', map('got', CAST(size(`tokens`) AS STRING), 'max', CAST(32 AS "
    'STRING))) END, CASE WHEN (n_tok IS NOT NULL AND tokens IS NOT NULL) AND (n_tok '
    "!= size(tokens)) THEN named_struct('path', '/n_tok', 'code', 'business_rule', "
    "'message', 'business_rule', 'rule', 'n_tok_matches_tokens', 'params', "
    "map('expected', CAST(size(tokens) AS STRING), 'got', CAST(n_tok AS STRING))) "
    'END), coalesce(CASE WHEN exists(`tokens`, __gsk_e -> ((__gsk_e IS NULL) OR '
    '(__gsk_e < 0)) OR (__gsk_e >= 1000)) THEN filter(transform(`tokens`, (__gsk_e, '
    "__gsk_i) -> CASE WHEN __gsk_e IS NULL THEN named_struct('path', "
    "concat('/tokens', '/', CAST(__gsk_i AS STRING)), 'code', 'invalid_type', "
    "'message', 'invalid type', 'rule', 'elem_type', 'params', CAST(NULL AS "
    'MAP<STRING, STRING>)) ELSE CASE WHEN (__gsk_e IS NOT NULL) AND (__gsk_e < 0) '
    "THEN named_struct('path', concat('/tokens', '/', CAST(__gsk_i AS STRING)), "
    "'code', 'domain_range', 'message', 'domain_range', 'rule', 'elem_domain', "
    "'params', map('got', CAST(__gsk_e AS STRING), 'max', CAST(1000 AS STRING), "
    "'min', CAST(0 AS STRING))) ELSE CASE WHEN (__gsk_e IS NOT NULL) AND (__gsk_e >= "
    "1000) THEN named_struct('path', concat('/tokens', '/', CAST(__gsk_i AS "
    "STRING)), 'code', 'domain_range', 'message', 'domain_range', 'rule', "
    "'elem_domain', 'params', map('got', CAST(__gsk_e AS STRING), 'max', CAST(1000 "
    "AS STRING), 'min', CAST(0 AS STRING))) ELSE CAST(NULL AS "
    'struct<path:string,code:string,message:string,rule:string,params:map<string,string>>) '
    'END END END), __gsk_v -> __gsk_v IS NOT NULL) ELSE CAST(array() AS '
    'array<struct<path:string,code:string,message:string,rule:string,params:map<string,string>>>) '
    'END, CAST(array() AS '
    'array<struct<path:string,code:string,message:string,rule:string,params:map<string,string>>>))), '
    '__gsk_v -> __gsk_v IS NOT NULL)')


def test_corpus_schemas_compile_to_pinned_sql(spark):
    df = golden_corpus(spark)
    for sch, gate, body in ((corpus_schema(), CORPUS_GATE, CORPUS_BODY),
                            (golden_schema(), GOLDEN_GATE, GOLDEN_BODY)):
        checks = compile_checks(sch, df)
        assert checks.gate_sql() == gate
        assert checks.body_sql() == body
        assert checks.gate_is_exact()


def _round_trips(monkeypatch):
    """The py4j commands sent from here on, less the deletes of
    garbage-collected objects (not plan work)."""
    calls = []
    orig = ClientServerConnection.send_command

    def send_command(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return orig(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", send_command)
    return calls


def test_validate_build_stays_within_py4j_budget(spark, monkeypatch):
    df = golden_corpus(spark)
    dims = {"dim_source": golden_dim(spark)}
    # the referential domain probe (one small job, memoized per dim
    # frame) is not plan building
    validate(df, corpus_schema(), row_id_col(), dims=dims)
    calls = _round_trips(monkeypatch)
    counts = {}
    for name, build in (
            ("validate", lambda: validate(df, corpus_schema(), row_id_col(), dims=dims)),
            ("validate_rows", lambda: validate_rows(df, corpus_schema(), row_id_col()))):
        gc.collect()
        calls.clear()
        build()  # a fresh schema object: no compiled-check memo hit
        counts[name] = len(calls)
    assert 0 < counts["validate"] <= 300, counts
    assert 0 < counts["validate_rows"] <= 150, counts
