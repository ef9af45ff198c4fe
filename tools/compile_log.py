"""pytest plugin: log a hash of every compiled check set.

Wraps goskema_spark.rowpass.compile_checks and appends, per call, the
sha1 of (gate_sql(), body_sql(), gate_is_exact(), combined_sql()) as
one line to the file named by CC_LOG. Run the same test modules on two
trees and diff the logs: an empty diff means a compiler change kept
every compiled SQL text byte-identical, so plans and outputs cannot
move.

    CC_LOG=/tmp/cc.log PYTHONPATH=tools python -m pytest -p compile_log -q \\
        tests/test_schema_ops.py tests/test_kubeopenapi.py \\
        tests/test_rowpass_golden.py tests/test_rowpass_sql.py \\
        tests/test_codecs.py tests/test_ingest.py tests/test_api.py \\
        tests/test_plans.py tests/test_gate_property.py

Without CC_LOG the plugin does nothing.
"""

import hashlib
import os


def pytest_configure(config):
    path = os.environ.get("CC_LOG")
    if not path:
        return
    from goskema_spark import rowpass

    compile_checks = rowpass.compile_checks
    open(path, "w").close()

    def logged(schema, df):
        out = compile_checks(schema, df)
        text = repr((out.gate_sql(), out.body_sql(), out.gate_is_exact(),
                     out.combined_sql()))
        with open(path, "a") as fh:
            fh.write(hashlib.sha1(text.encode()).hexdigest() + "\n")
        return out

    # patched before collection, so test modules importing the name
    # (and codecs' lazy import) bind the logging wrapper
    rowpass.compile_checks = logged
