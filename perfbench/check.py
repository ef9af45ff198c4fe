"""Output checks: compare what the engine wrote or returned against the
generator's ground truth. Every function returns a list of failure
messages; an empty list means the outputs are correct."""

from __future__ import annotations

from collections import Counter

import numpy as np

from goskema_spark import drift

# drift histogram used by profile_drift: n_tok over [0, 64) in 16 buckets
HIST_LO, HIST_HI, HIST_BUCKETS = 0, 64, drift.DEFAULT_BUCKETS
PROFILE_RSD = 0.05          # stats.profile default HLL rsd
SKETCH_LG_K = 12            # stats.distinct_sketches default
QUANTILE_ACCURACY = 10000   # stats.numeric_quantiles percentile_approx accuracy


def _diff(name: str, want, got, out: list) -> None:
    if want == got:
        return
    if isinstance(want, (dict, Counter)):
        keys = sorted(set(want) | set(got), key=repr)
        bad = [(k, want.get(k, 0), got.get(k, 0)) for k in keys
               if want.get(k, 0) != got.get(k, 0)]
        out.append(f"{name}: {len(bad)} keys differ (key, want, got): {bad[:4]}")
    elif isinstance(want, set):
        out.append(f"{name}: missing {sorted(want - got, key=repr)[:3]} "
                   f"unexpected {sorted(got - want, key=repr)[:3]}")
    else:
        out.append(f"{name}: want {want} got {got}")


def ledger_key(row: dict) -> tuple:
    """A ledger row (as pyarrow reads it: the checks map is a list of
    pairs) in the ground truth's (source, rows, violations, verdict,
    checks) form."""
    return (row["source"], row["rows"], row["violations"], row["verdict"],
            tuple(sorted(row["checks"])))


def ledger_failures(truth, sink_counts: Counter, sink_by_source: Counter,
                    ledger: set, clean: tuple, reference_ledger=None) -> list:
    """dirty_resume: violation counts per (code, path) and
    per source, ledger rows, the row-pass clean checksum, and (after a
    resume) equality with an uninterrupted run's ledger."""
    out: list = []
    _diff("violations per (code, path)", truth.counts, sink_counts, out)
    _diff("violations per source",
          Counter({s: v for s, _, v, _, _ in truth.ledger if v}), sink_by_source, out)
    _diff("ledger rows", truth.ledger, ledger, out)
    _diff("clean rows (rows, tokens, weighted token sum)", truth.clean, clean, out)
    if reference_ledger is not None:
        _diff("resumed ledger vs uninterrupted ledger", reference_ledger, ledger, out)
    return out


# ---------------------------------------------------------------------------
# profile_drift
# ---------------------------------------------------------------------------

def histogram(values: np.ndarray) -> dict:
    """width_bucket(v, lo, hi, buckets) counts, as drift.histogram."""
    width = (HIST_HI - HIST_LO) / HIST_BUCKETS
    b = np.where(values < HIST_LO, 0,
                 np.where(values >= HIST_HI, HIST_BUCKETS + 1,
                          np.floor((values - HIST_LO) / width).astype(np.int64) + 1))
    idx, cnt = np.unique(b, return_counts=True)
    return dict(zip(idx.tolist(), cnt.tolist()))


def _within_rsd(est: int, exact: int, rsd: float) -> bool:
    # three standard errors: a fixed input either passes or fails every
    # time, so the bound has to hold for nearly every seed
    return abs(est - exact) <= 3 * rsd * exact + 1


def _quantile_ok(values: np.ndarray, p: float, v: float) -> bool:
    """v is a valid p-quantile up to percentile_approx's rank error."""
    n = len(values)
    eps = n / QUANTILE_ACCURACY + 1
    below = np.searchsorted(values, v, "left")
    upto = np.searchsorted(values, v, "right")
    return below <= p * n + eps and upto >= p * n - eps


def profile_failures(truth: dict, ref_truth: dict, prof: list, quant: list,
                     merged: dict, by_group: list, check: dict) -> list:
    out: list = []
    # stats.profile: exact cnt / nulls / min / max, HLL within its rsd
    seen = set()
    for r in prof:
        want = truth.get(r["source"], {}).get(r["col"])
        seen.add((r["source"], r["col"]))
        if want is None:
            out.append(f"profile: unexpected group {r['source']!r}/{r['col']}")
            continue
        cnt, nulls, distinct, lo, hi = want
        got = (r["cnt"], r["nulls"], r["min_v"], r["max_v"])
        if got != (cnt, nulls, lo, hi):
            out.append(f"profile {r['source']}/{r['col']}: want "
                       f"{(cnt, nulls, lo, hi)} got {got}")
        if not _within_rsd(r["n_distinct"], distinct, PROFILE_RSD):
            out.append(f"profile {r['source']}/{r['col']}: n_distinct "
                       f"{r['n_distinct']} vs exact {distinct}")
    _diff("profile groups", {(s, c) for s, t in truth.items()
                             for c in ("doc_id", "n_tok", "_ord")}, seen, out)

    # stats.numeric_quantiles: exact count / min / max / avg, quantiles
    # within the sketch's rank error
    for r in quant:
        vals = truth[r["source"]]["n_tok_values"]
        if r["cnt"] != len(vals):
            out.append(f"quantiles {r['source']}: cnt {r['cnt']} vs {len(vals)}")
            continue
        if not len(vals):
            continue
        if (r["min_v"], r["max_v"]) != (float(vals[0]), float(vals[-1])) \
                or abs(r["avg_v"] - float(vals.mean())) > 1e-9 * max(1.0, abs(vals.mean())):
            out.append(f"quantiles {r['source']}: min/max/avg differ")
        for p, lab in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            if not _quantile_ok(vals, p, r[lab]):
                out.append(f"quantiles {r['source']}: {lab}={r[lab]} out of rank bounds")
    _diff("quantile groups", set(truth), {r["source"] for r in quant}, out)

    # merged HLL sketches: within the lg_k sketch's rsd of the exact count
    rsd = 1.04 / (2 ** SKETCH_LG_K) ** 0.5
    for col in ("doc_id", "n_tok"):
        exact = len(set().union(*(t["distinct_" + col] for t in truth.values())))
        if not _within_rsd(merged[col], exact, rsd):
            out.append(f"merged_distinct {col}: {merged[col]} vs exact {exact}")

    # drift: PSI / KS equal drift.psi / drift.ks_statistic on the
    # histograms computed here. psi_ks_by_group rounds to 6 digits and
    # clamps empty buckets slightly differently, hence the tolerance.
    want = {}
    for s in truth:
        a, b = truth[s]["n_tok_values"], ref_truth.get(s, {}).get("n_tok_values")
        if s is None or b is None or not len(a) or not len(b):
            continue
        ha, hb = histogram(a), histogram(b)
        want[s] = (drift.psi(ha, hb, HIST_BUCKETS), drift.ks_statistic(ha, hb, HIST_BUCKETS))
    _diff("drift groups", set(want), {r["source"] for r in by_group}, out)
    for r in by_group:
        if r["source"] in want:
            wp, wk = want[r["source"]]
            if abs(r["psi"] - wp) > 1e-4 or abs(r["ks"] - wk) > 1e-4:
                out.append(f"psi_ks {r['source']}: want {(wp, wk)} got {(r['psi'], r['ks'])}")
    cur = histogram(np.concatenate([t["n_tok_values"] for t in truth.values()]))
    ref = histogram(np.concatenate([t["n_tok_values"] for t in ref_truth.values()]))
    wp, wk = drift.psi(cur, ref, HIST_BUCKETS), drift.ks_statistic(cur, ref, HIST_BUCKETS)
    if abs(check["psi"] - wp) > 1e-9 or abs(check["ks"] - wk) > 1e-9:
        out.append(f"drift_check: want {(wp, wk)} got {(check['psi'], check['ks'])}")
    return out
