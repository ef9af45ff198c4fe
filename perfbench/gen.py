"""Seeded inputs for the benchmark workloads, and their ground truth.

Every input is a pure function of the seed. The engine only ever sees the
parquet files written here; the ground truth stays in this process, and
the output checks in `check.py` compare the engine's outputs against it.

The ground truth is computed with numpy from the generated rows, by a
restatement of the corpus constraint set (`corpus_schema()`), not by the
engine:

    /doc_id    required; uniqueness (every non-first occurrence by _ord)
    /tokens    required; too_short (< 1); too_long (> MAX_LEN)
    /tokens/i  domain_range (element outside [0, VOCAB))
    /n_tok     required; too_small (< 1); too_big (> MAX_NTOK);
               business_rule (n_tok != size(tokens), both present)
    /source    required; invalid_enum (not in the source dimension)
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from goskema_spark.corpus import DIM_SOURCES, MAX_LEN, MAX_NTOK, VOCAB

# files per written table: enough row groups for every local core to scan
FILES = 8

# the shifted reference snapshot of profile_drift draws its documents
# from this seed offset, with SHIFT more words per document
REF_SEED_OFFSET = 1_000_003
REF_SHIFT = 8

# dirty_resume: sources in and out of a >4096-value dimension
DIRTY_DIM_VALUES = 6000
DIRTY_SOURCES = 8
DIRTY_ORPHANS = ["x_orphan0", "x_orphan1"]


@dataclass
class Rows:
    """A generated corpus in columnar numpy form (the engine input's
    twin). tokens: flat values + offsets; NULL arrays have no elements."""
    doc_id: np.ndarray        # object: str | None
    tok_flat: np.ndarray      # int64
    tok_off: np.ndarray       # int64, len n+1
    tok_null: np.ndarray      # bool
    n_tok: np.ndarray         # int64 (value ignored where n_tok_null)
    n_tok_null: np.ndarray    # bool
    source: np.ndarray        # object: str | None
    ord: np.ndarray           # int64

    @property
    def n(self) -> int:
        return len(self.ord)


@dataclass
class Truth:
    """Expected outputs of one full validation of a corpus."""
    rows: int
    counts: Counter                 # (code, path) -> violation rows
    ledger: set                     # (source, rows, violations, verdict, checks)
    clean: tuple                    # (rows, token count, weighted token sum)
    dirty_rows: int                 # rows with >= 1 violation of any check
    dup_keys: int                   # keys occurring more than once
    orphan_sources: list            # non-NULL sources outside the dim


# ---------------------------------------------------------------------------
# ground truth
# ---------------------------------------------------------------------------

NULL_KEY = "<NULL>"  # stands for the NULL source when grouping


def _source_keys(source: np.ndarray) -> np.ndarray:
    return np.array([NULL_KEY if s is None else s for s in source])


def _is_none(a: np.ndarray) -> np.ndarray:
    return np.fromiter((v is None for v in a), bool, len(a))


def truth_of(r: Rows, dim: set) -> Truth:
    n = r.n
    sizes = np.diff(r.tok_off)
    counts: Counter = Counter()

    def tally(mask, code, path):
        k = int(mask.sum())
        if k:
            counts[(code, path)] += k
        return mask.astype(np.int64)

    doc_null = _is_none(r.doc_id)
    src_null = _is_none(r.source)
    tok = ~r.tok_null
    nt = ~r.n_tok_null

    rowpass = tally(doc_null, "required", "/doc_id")
    rowpass += tally(r.tok_null, "required", "/tokens")
    rowpass += tally(tok & (sizes < 1), "too_short", "/tokens")
    rowpass += tally(tok & (sizes > MAX_LEN), "too_long", "/tokens")
    rowpass += tally(r.n_tok_null, "required", "/n_tok")
    rowpass += tally(nt & (r.n_tok < 1), "too_small", "/n_tok")
    rowpass += tally(nt & (r.n_tok > MAX_NTOK), "too_big", "/n_tok")
    rowpass += tally(nt & tok & (r.n_tok != sizes), "business_rule", "/n_tok")
    rowpass += tally(src_null, "required", "/source")

    # per-element domain checks, one violation per bad element
    elem_row = np.repeat(np.arange(n), sizes)
    elem_idx = np.arange(len(r.tok_flat)) - r.tok_off[elem_row]
    bad = (r.tok_flat < 0) | (r.tok_flat >= VOCAB)
    idx, cnt = np.unique(elem_idx[bad], return_counts=True)
    for i, c in zip(idx.tolist(), cnt.tolist()):
        counts[("domain_range", f"/tokens/{i}")] += c
    rowpass += np.bincount(elem_row[bad], minlength=n)

    ref = ~src_null & np.fromiter(
        (s is not None and s not in dim for s in r.source), bool, n)
    ref = tally(ref, "invalid_enum", "/source")

    # uniqueness: every occurrence of a non-NULL key except its first
    uniq = np.zeros(n, np.int64)
    keyed = np.nonzero(~doc_null)[0]
    keys, inv = np.unique(r.doc_id[keyed].astype(str), return_inverse=True)
    first = np.full(len(keys), np.iinfo(np.int64).max)
    np.minimum.at(first, inv, r.ord[keyed])
    uniq[keyed] = r.ord[keyed] != first[inv]
    tally(uniq.astype(bool), "uniqueness", "/doc_id")
    dup_keys = int((np.bincount(inv) > 1).sum()) if len(keyed) else 0

    viol = rowpass + ref + uniq

    # row-pass clean rows keep their token arrays: checksum them
    clean = rowpass == 0
    ce = clean[elem_row]
    clean_sum = (int(clean.sum()), int(sizes[clean].sum()),
                 int((r.tok_flat[ce] * (elem_idx[ce] + 1)).sum()))

    ledger = set()
    src_keys = _source_keys(r.source)
    for s in np.unique(src_keys):
        m = src_keys == s
        v = int(viol[m].sum())
        checks = (("ref_source", "fail" if ref[m].any() else "pass"),
                  ("rowpass", "fail" if rowpass[m].any() else "pass"),
                  ("unique_doc_id", "fail" if uniq[m].any() else "pass"))
        ledger.add((None if s == NULL_KEY else str(s), int(m.sum()), v,
                    "fail" if v else "pass", checks))

    orphans = sorted({s for s in r.source if s is not None and s not in dim})
    return Truth(rows=n, counts=counts, ledger=ledger, clean=clean_sum,
                 dirty_rows=int((viol > 0).sum()), dup_keys=dup_keys,
                 orphan_sources=orphans)


# ---------------------------------------------------------------------------
# std corpus: documents table + the canonical corpus_from_documents twin
# ---------------------------------------------------------------------------

def documents(seed: int, n: int, shift: int = 0):
    """The seeded documents table behind the canonical corpus, as arrays:
    `n` distinct doc_ids, 1+shift..40+shift words of 1-12 letters each,
    one of 20 sources. Returns (doc_ids, words per doc, word lengths,
    source indexes)."""
    rng = np.random.default_rng(seed)
    doc_id = rng.choice(np.int64(n) * 20, size=n, replace=False).astype(np.int64)
    nw = rng.integers(1 + shift, 41 + shift, n)
    wl = rng.integers(1, 13, int(nw.sum()))
    src = rng.integers(0, len(DIM_SOURCES), n)
    return doc_id, nw, wl, src


def std_rows(doc_id, nw, wl, src) -> Rows:
    """numpy twin of `corpus_from_documents` (the corruption moduli in
    goskema_spark/corpus.py, applied to the integer doc_id d)."""
    d = doc_id
    n = len(d)
    base_val = (wl * 7) % VOCAB
    k_null = d % 107 == 3
    k_empty = ~k_null & (d % 109 == 4)
    k_neg = ~k_null & ~k_empty & (d % 113 == 5)
    k_big = ~k_null & ~k_empty & ~k_neg & (d % 127 == 6)
    k_fill = ~k_null & ~k_empty & ~k_neg & ~k_big & (d % 131 == 7)
    keep = ~(k_null | k_empty | k_fill)

    # (row, position, value) triples, then ordered by (row, position)
    rows_b = np.repeat(np.arange(n), nw)
    pos_b = np.arange(len(wl)) - np.repeat(np.cumsum(nw) - nw, nw)
    mb = keep[rows_b]
    app = k_neg | k_big
    rows_a = np.nonzero(app)[0]
    fill = np.nonzero(k_fill)[0]
    rows_f = np.repeat(fill, 65)
    r_all = np.concatenate([rows_b[mb], rows_a, rows_f])
    p_all = np.concatenate([pos_b[mb], nw[rows_a], np.tile(np.arange(65), len(fill))])
    v_all = np.concatenate([base_val[mb], np.where(k_neg[rows_a], -1, 1500),
                            np.full(len(rows_f), 7)])
    order = np.lexsort((p_all, r_all))
    sizes = np.bincount(r_all, minlength=n)
    tok_off = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)

    n_tok = np.where(d % 137 == 8, sizes + 1, np.where(d % 139 == 9, 0, sizes))
    # size(NULL) is NULL, so n_tok is NULL on NULL tokens unless forced to 0
    n_tok_null = k_null & ~((d % 137 != 8) & (d % 139 == 9))

    doc = np.array([None if a % 101 == 1 else "DUP" if a % 103 == 2 else f"d{a}"
                    for a in d.tolist()], dtype=object)
    srcs = np.array(DIM_SOURCES, dtype=object)[src]
    srcs[d % 149 == 10] = "parachute"
    srcs[(d % 149 != 10) & (d % 151 == 11)] = None
    return Rows(doc_id=doc, tok_flat=v_all[order].astype(np.int64),
                tok_off=tok_off, tok_null=k_null, n_tok=n_tok.astype(np.int64),
                n_tok_null=n_tok_null, source=srcs, ord=d.copy())


def _write_files(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def write_std(seed: int, n: int, out: str, shift: int = 0) -> Rows:
    """Write the canonical corpus of a seeded documents table to
    `out`/corpus and return it: what `corpus_from_documents` derives from
    that table, computed by its numpy twin, with no Spark job."""
    rows = std_rows(*documents(seed, n, shift))
    write_rows(rows, f"{out}/corpus")
    return rows


def write_dim(values, path: str) -> None:
    pq.write_table(pa.table({"source": pa.array(list(values), pa.string())}),
                   f"{path}.parquet")


# ---------------------------------------------------------------------------
# dirty_resume corpus: ~50% dirty rows, element-level violations
# ---------------------------------------------------------------------------

def dirty_rows(seed: int, n: int):
    """~50% of rows carry 2-4 out-of-domain tokens (a tenth of those
    also a wrong n_tok); ~3% of rows repeat the previous row's key (every
    duplicated key occurs exactly twice); ~2% of rows name a source
    outside the dimension and ~0.5% have none. Returns (Rows, dim)."""
    rng = np.random.default_rng(seed)
    dim = [f"s{i:05d}" for i in range(DIRTY_DIM_VALUES)]
    in_dim = sorted(rng.choice(DIRTY_DIM_VALUES, DIRTY_SOURCES, replace=False).tolist())
    names = np.array([dim[i] for i in in_dim] + DIRTY_ORPHANS + [None], dtype=object)
    p = np.full(len(names), 0.975 / DIRTY_SOURCES)
    p[DIRTY_SOURCES:DIRTY_SOURCES + len(DIRTY_ORPHANS)] = 0.02 / len(DIRTY_ORPHANS)
    p[-1] = 0.005
    source = names[rng.choice(len(names), n, p=p / p.sum())]

    keys = rng.choice(np.int64(n) * 20, size=n, replace=False)
    dup = np.zeros(n, bool)
    dup[1::2] = rng.random(n // 2) < 0.06
    keys[dup] = keys[np.nonzero(dup)[0] - 1]
    doc_id = np.array([f"k{k}" for k in keys.tolist()], dtype=object)

    sizes = rng.integers(8, 49, n)
    off = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)
    flat = rng.integers(0, VOCAB, int(off[-1]))
    dirty = rng.random(n) < 0.5
    nbad = np.where(dirty, rng.integers(2, 5, n), 0)
    # nbad distinct positions per dirty row: a random start, then steps
    # of size // nbad around the row (size >= 8 > nbad)
    start = rng.integers(0, sizes)
    step = sizes // np.maximum(nbad, 1)
    for j in range(4):
        rows = np.nonzero(nbad > j)[0]
        pos = off[rows] + (start[rows] + j * step[rows]) % sizes[rows]
        k = len(rows)
        flat[pos] = np.where(rng.random(k) < 0.5, -rng.integers(1, 100, k),
                             VOCAB + rng.integers(0, 1000, k))
    n_tok = sizes + (dirty & (rng.random(n) < 0.1))
    rows = Rows(doc_id=doc_id, tok_flat=flat.astype(np.int64), tok_off=off,
                tok_null=np.zeros(n, bool), n_tok=n_tok.astype(np.int64),
                n_tok_null=np.zeros(n, bool), source=source,
                ord=np.arange(n, dtype=np.int64))
    return rows, dim


def write_rows(rows: Rows, path: str) -> None:
    """The corpus table (doc_id, tokens, n_tok, source, _ord) as parquet."""
    tokens = pa.ListArray.from_arrays(
        pa.array(rows.tok_off.astype(np.int32)),
        pa.array(rows.tok_flat.astype(np.int32)),
        mask=pa.array(rows.tok_null))
    table = pa.table({
        "doc_id": pa.array(rows.doc_id, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(rows.n_tok.astype(np.int32), mask=rows.n_tok_null),
        "source": pa.array(rows.source, pa.string()),
        "_ord": pa.array(rows.ord),
    })
    _write_files(table, path)


# ---------------------------------------------------------------------------
# profile_drift ground truth: exact per-source statistics
# ---------------------------------------------------------------------------

def profile_truth(r: Rows) -> dict:
    """source -> {"doc_id"|"n_tok"|"_ord": (cnt, nulls, distinct, min, max),
    "n_tok_values": sorted non-NULL n_tok, "distinct_doc_id" /
    "distinct_n_tok": value sets}; min/max rendered as strings like the
    profile's min_v/max_v."""
    out = {}
    src_keys = _source_keys(r.source)
    for s in np.unique(src_keys):
        m = src_keys == s
        doc = [v for v in r.doc_id[m] if v is not None]
        nt = np.sort(r.n_tok[m & ~r.n_tok_null])
        od = r.ord[m]
        cnt = int(m.sum())

        def stat(vals, nulls):
            return (cnt, nulls, len(set(vals)),
                    str(min(vals)) if len(vals) else None,
                    str(max(vals)) if len(vals) else None)
        out[None if s == NULL_KEY else str(s)] = {
            "doc_id": stat(doc, cnt - len(doc)),
            "n_tok": stat(nt.tolist(), cnt - len(nt)),
            "_ord": stat(od.tolist(), 0),
            "n_tok_values": nt,
            "distinct_doc_id": set(doc),
            "distinct_n_tok": set(nt.tolist()),
        }
    return out
