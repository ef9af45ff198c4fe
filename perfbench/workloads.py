"""The workloads. Each drives the engine only through its public
functions, the way `python -m goskema_spark` does: every iteration reads
the corpus and the dimension from parquet and builds a fresh
`corpus_schema()`, so it pays the same per-invocation driver work as one
CLI run (check compile and the referential domain probe).

A workload generates its inputs (`generate`), stores the state its
resume step reads (`prepare`), runs one iteration (`iterate` -> timings,
outputs), checks those outputs (`check`), and, in a traced run, calls
every layer once under spans (`sweep`). `warm_iters` untimed iterations
follow `prepare` in an untraced run; at least `min_iters` are timed."""

from __future__ import annotations

import functools
import glob
import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from goskema_spark.corpus import DIM_SOURCES, corpus_schema, row_id_col
from goskema_spark.drift import drift_check, histogram, psi_ks_by_group
from goskema_spark.ledger import completed_partitions, run_with_ledger
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.runner import validate
from goskema_spark.stats import distinct_sketches, merged_distinct, numeric_quantiles, profile
from goskema_spark.uniqueness import uniqueness_violations

import check
import gen

RUN_ID = "bench"
PROFILE_COLS = ["doc_id", "n_tok", "_ord"]
SKETCH_COLS = ["doc_id", "n_tok"]
RESCORES = 3  # profile_drift re-scores against the stored histogram per iteration


def _ticks(stat_path: str, fields: slice = slice(11, 13)) -> int:
    """Clock ticks from a /proc stat file: user + system by default."""
    with open(stat_path) as f:
        return sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[fields])


def cpu_seconds(spark) -> float:
    """User + system CPU time of this Python process and of the Spark
    driver JVM (with its reaped children: the launcher), less the JVM's
    JIT compiler threads. Their work depends on how far compilation has
    got, not on what the engine was asked to do, and it was the largest
    and noisiest share of an iteration's CPU time. The session runs a
    fixed set of compiler threads, so none exits with its time."""
    pid = spark.sparkContext._gateway.proc.pid
    ticks = _ticks(f"/proc/{pid}/stat", slice(11, 15))
    for task in glob.glob(f"/proc/{pid}/task/*"):
        try:
            with open(f"{task}/comm") as f:
                if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    ticks -= _ticks(f"{task}/stat")
        except FileNotFoundError:  # a thread that has just exited
            pass
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_size(path: str) -> tuple:
    files = total = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(d, n))
    return files, total


def clean_checksum(results) -> tuple:
    """(rows, tokens, sum of token * (index + 1)) over the row-pass clean
    outputs of one or more ValidationResults, in one job."""
    clean = functools.reduce(lambda a, b: a.unionByName(b), (r.clean for r in results))
    weighted = F.aggregate(
        F.transform("tokens", lambda t, i: t.cast("long") * (i + 1)),
        F.lit(0).cast("long"), lambda a, b: a + b)
    r = clean.agg(F.count(F.lit(1)), F.sum(F.size("tokens")), F.sum(weighted)).collect()[0]
    return tuple(v or 0 for v in r)


class Workload:
    name = ""
    warm_iters = 0
    min_iters = 3  # timed iterations, even when --seconds has run out

    def __init__(self, spark, work: str, seed: int, rows: int):
        self.spark, self.work, self.seed, self.n = spark, work, seed, rows
        os.makedirs(work, exist_ok=True)

    def clock(self) -> tuple:
        """(wall, CPU) seconds now."""
        return time.perf_counter(), cpu_seconds(self.spark)

    # inputs ---------------------------------------------------------------
    def load(self):
        return self.spark.read.parquet(self.corpus_path)

    def dims(self) -> dict:
        return {"dim_source": self.spark.read.parquet(self.dim_path)}

    def drift_ref(self):
        """Reference snapshot for the drift layer in the traced sweep."""
        return self.load()

    # one full validation run through the ledger --------------------------
    def _ledger_run(self, d: str, **kw):
        return run_with_ledger(self.spark, self.load(), corpus_schema(), row_id_col(),
                               run_id=RUN_ID, ledger_path=f"{d}/ledger",
                               violations_path=f"{d}/violations", dims=self.dims(), **kw)

    def _ledger_outputs(self, d: str):
        """Violation counts per (code, path) and per source in the sink, and
        the ledger rows, read with pyarrow: no Spark job, and a reader
        independent of the engine's."""
        only_run = [("run_id", "=", RUN_ID)]
        sink = pq.read_table(f"{d}/violations", columns=["code", "path", "source"],
                             partitioning="hive", filters=only_run)
        counts, by_src = Counter(), Counter()
        for r in sink.group_by(["code", "path", "source"]).aggregate([([], "count_all")]).to_pylist():
            counts[(r["code"], r["path"])] += r["count_all"]
            by_src[r["source"]] += r["count_all"]
        ledger = {check.ledger_key(r) for r in
                  pq.read_table(f"{d}/ledger", filters=only_run).to_pylist()}
        return counts, by_src, ledger

    # traced sweep: every layer once, under spans --------------------------
    def sweep(self, tr) -> dict:
        """Returns the per-layer counts the spans cannot carry."""
        spark, d = self.spark, f"{self.work}/sweep"
        df, rid = self.load(), row_id_col()
        counts = {"rows": self.n}

        with tr.span("rowpass"):
            with tr.span("rowpass.build"):
                _, viols, clean = validate_rows(df, corpus_schema(), rid, carry=["source"])
            with tr.span("rowpass.viols"):
                _noop(viols)
            with tr.span("rowpass.clean"):
                _noop(clean)
        counts["rowpass.viol_rows"] = viols.count()
        counts["rowpass.dirty_ratio"] = 1 - clean.count() / self.n

        with tr.span("uniqueness"):
            uv = uniqueness_violations(df, "doc_id", "_ord", rid, carry=["source"])
            _noop(uv)
        counts["uniqueness.viol_rows"] = uv.count()

        with tr.span("referential"):
            with tr.span("referential.build"):
                rv = referential_violations(df, "source", self.dims()["dim_source"],
                                            "source", rid, carry=["source"])
            with tr.span("referential.run"):
                _noop(rv)
        counts["referential.miss_rows"] = rv.count()

        with tr.span("runner"):
            with tr.span("runner.build"):
                validate(self.load(), corpus_schema(), rid, dims=self.dims())
            with tr.span("runner.validate"):
                res = validate(self.load(), corpus_schema(), rid, dims=self.dims(),
                               report_path=f"{d}/report")
            with tr.span("runner.viols_read"):
                _noop(res.violations)
            with tr.span("runner.verdicts"):
                res.verdicts.collect()
        counts["runner.report_files"], counts["runner.report_bytes"] = _tree_size(f"{d}/report")

        # one run, interrupted after half the sources and resumed
        with tr.span("ledger"):
            with tr.span("ledger.partial"):
                self._ledger_run(f"{d}/ledger", fail_partition_limit=self.half_sources())
            with tr.span("ledger.completed"):
                completed_partitions(spark, f"{d}/ledger/ledger", RUN_ID)
            with tr.span("ledger.resume"):
                self._ledger_run(f"{d}/ledger")
        counts["ledger.sink_files"], counts["ledger.sink_bytes"] = \
            _tree_size(f"{d}/ledger/violations")

        ref = self.drift_ref()
        with tr.span("stats"):
            with tr.span("stats.profile"):
                profile(df, PROFILE_COLS, by="source").collect()
            with tr.span("stats.quantiles"):
                numeric_quantiles(df, "n_tok", by="source").collect()
            with tr.span("stats.sketches"):
                merged_distinct(distinct_sketches(df, SKETCH_COLS, by="source"),
                                SKETCH_COLS).collect()
        with tr.span("drift"):
            with tr.span("drift.psi_ks"):
                psi_ks_by_group(df, ref, "n_tok", "source", check.HIST_LO,
                                check.HIST_HI).collect()
            with tr.span("drift.check"):
                drift_check(df, "n_tok", histogram(ref, "n_tok", check.HIST_LO, check.HIST_HI),
                            check.HIST_LO, check.HIST_HI)
        shutil.rmtree(d, ignore_errors=True)
        return counts

    def prepare(self) -> list:
        """One-off set-up work after `generate`: the stored state the
        workload's resume step reads. Returns check failures."""
        return []

    def half_sources(self) -> int:
        return max(1, len([s for s in self.sources if s is not None]) // 2)


class DirtyResume(Workload):
    """Half-dirty corpus with element-level violations, a spread of
    duplicated keys and a >4096-value source dimension: run_with_ledger
    stops after half the sources, then resumes under the same run_id."""
    name = "dirty_resume"
    warm_iters = 0  # prepare() is the warm-up

    def generate(self) -> None:
        self.corpus_path = f"{self.work}/corpus"
        self.dim_path = f"{self.work}/dim_source.parquet"
        rows, dim = gen.dirty_rows(self.seed, self.n)
        gen.write_rows(rows, self.corpus_path)
        gen.write_dim(dim, f"{self.work}/dim_source")
        self.truth = gen.truth_of(rows, set(dim))
        self.sources = sorted({s for s in rows.source}, key=repr)

    def prepare(self) -> list:
        """One uninterrupted run, checked; its ledger is the reference
        the resumed ledgers must equal."""
        d = f"{self.work}/uninterrupted"
        res = self._ledger_run(d)
        counts, by_src, self.reference = self._ledger_outputs(d)
        fails = check.ledger_failures(self.truth, counts, by_src, self.reference,
                                      clean_checksum([res]))
        shutil.rmtree(d, ignore_errors=True)
        return fails

    def iterate(self, it: int):
        d = f"{self.work}/it{it}"
        w0, c0 = self.clock()
        first = self._ledger_run(d, fail_partition_limit=self.half_sources())
        w1, c1 = self.clock()
        rest = self._ledger_run(d)
        w2, c2 = self.clock()
        return ({"iter_s": w2 - w0, "iter_cpu_s": c2 - c0,
                 "resume_s": w2 - w1, "resume_cpu_s": c2 - c1}, (d, first, rest))

    def check(self, out) -> list:
        d, first, rest = out
        if first is None or rest is None:
            shutil.rmtree(d, ignore_errors=True)
            return ["interrupted or resumed invocation validated nothing"]
        counts, by_src, ledger = self._ledger_outputs(d)
        fails = check.ledger_failures(self.truth, counts, by_src, ledger,
                                      clean_checksum([first, rest]), self.reference)
        shutil.rmtree(d, ignore_errors=True)
        return fails


class ProfileDrift(Workload):
    """Aggregate and sketch layers only: per-source profile, quantiles,
    mergeable distinct sketches, and per-source drift against a reference
    snapshot whose n_tok distribution is shifted. The resume step re-scores
    drift against the reference histogram stored at set-up."""
    name = "profile_drift"
    warm_iters = 2
    min_iters = 5

    def generate(self) -> None:
        self.corpus_path = f"{self.work}/corpus"
        self.ref_path = f"{self.work}/ref/corpus"
        self.dim_path = f"{self.work}/dim_source.parquet"
        rows = gen.write_std(self.seed, self.n, self.work)
        ref = gen.write_std(self.seed + gen.REF_SEED_OFFSET, self.n, f"{self.work}/ref",
                            shift=gen.REF_SHIFT)
        gen.write_dim(DIM_SOURCES, f"{self.work}/dim_source")
        self.truth = gen.profile_truth(rows)
        self.ref_truth = gen.profile_truth(ref)
        self.sources = sorted({s for s in rows.source}, key=repr)

    def prepare(self) -> list:
        """Stores the reference histogram the resume step re-scores against."""
        self.hist_path = f"{self.work}/ref_hist"
        histogram(self.drift_ref(), "n_tok", check.HIST_LO, check.HIST_HI) \
            .write.mode("overwrite").parquet(self.hist_path)
        return []

    def drift_ref(self):
        return self.spark.read.parquet(self.ref_path)

    def iterate(self, it: int):
        cur, ref = self.load(), self.drift_ref()
        lo, hi = check.HIST_LO, check.HIST_HI
        w0, c0 = self.clock()
        prof = profile(cur, PROFILE_COLS, by="source").collect()
        quant = numeric_quantiles(cur, "n_tok", by="source").collect()
        merged = merged_distinct(distinct_sketches(cur, SKETCH_COLS, by="source"),
                                 SKETCH_COLS).collect()[0].asDict()
        by_group = psi_ks_by_group(cur, ref, "n_tok", "source", lo, hi).collect()
        verdict = drift_check(cur, "n_tok", histogram(ref, "n_tok", lo, hi), lo, hi)
        w1, c1 = self.clock()
        stored = [drift_check(self.load(), "n_tok", self.spark.read.parquet(self.hist_path),
                              lo, hi) for _ in range(RESCORES)]
        w2, c2 = self.clock()
        return ({"iter_s": w1 - w0, "iter_cpu_s": c1 - c0,
                 "resume_s": (w2 - w1) / RESCORES, "resume_cpu_s": (c2 - c1) / RESCORES},
                (prof, quant, merged, by_group, verdict, stored))

    def check(self, out) -> list:
        prof, quant, merged, by_group, verdict, stored = out
        fails = check.profile_failures(self.truth, self.ref_truth, prof, quant,
                                       merged, by_group, verdict)
        if any((s["psi"], s["ks"]) != (verdict["psi"], verdict["ks"]) for s in stored):
            fails.append("drift against the stored reference histogram differs")
        return fails


WORKLOADS = {w.name: w for w in (DirtyResume, ProfileDrift)}
