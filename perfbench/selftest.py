"""Self-test of the benchmark at sf0.001 size (500 input rows).

    python3 perfbench/selftest.py

Run from the root of a checkout. It checks two things:

1. Every workload of BENCHMARK.json, untraced and traced, prints a last line whose metrics
   are exactly BENCHMARK.json's end-to-end (--trace 0) or per-layer
   (--trace 1) metrics, with their units, and reports no failed check.
2. The output check catches a lost violation: one row is deleted from a
   real run's violations sink, and the check of that run must fail.

Exits 0 when both hold.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = 500


def run_all(spec: dict) -> list:
    fails = []
    for name in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace),
                 "--rows", str(ROWS)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{name} --trace {trace}"
            try:
                out = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                fails.append(f"{tag}: no result line (exit {p.returncode}): {p.stderr[-1500:]}")
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if want != got:
                fails.append(f"{tag}: metrics differ from BENCHMARK.json: missing "
                             f"{sorted(set(want) - set(got))}, unexpected "
                             f"{sorted(set(got) - set(want))}, units "
                             f"{[k for k in want if k in got and want[k] != got[k]]}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                fails.append(f"{tag}: correct={out['correct']} failed={out['failed']}")
            print(f"selftest: {tag}: {len(got)} metrics, "
                  f"{out['attempted']} iterations checked", flush=True)
    return fails


def dropped_row_is_caught() -> list:
    """One dirty_resume iteration passes its check; the next one, with a
    violation row deleted from its sink, must not."""
    import run
    from workloads import DirtyResume

    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    spark = run.start_session(work, trace=False)
    try:
        wl = DirtyResume(spark, f"{work}/wl", 7, ROWS)
        wl.generate()
        fails = [f"uninterrupted run: {f}" for f in wl.prepare()]
        fails += [f"unmodified run: {f}" for f in wl.check(wl.iterate(0)[1])]
        out = wl.iterate(1)[1]
        part = sorted(glob.glob(f"{out[0]}/violations/**/*.parquet", recursive=True))[0]
        table = pq.read_table(part, partitioning=None)
        pq.write_table(table.slice(1), part)
        if not wl.check(out):
            fails.append("a violations sink missing one row passed the check")
        return fails
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    fails = run_all(spec) + dropped_row_is_caught()
    for f in fails:
        print(f"selftest FAILED: {f}", file=sys.stderr)
    print("selftest: ok" if not fails else f"selftest: {len(fails)} failures")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
