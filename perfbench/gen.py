"""Seeded input generators for the benchmark, with planted-truth manifests.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed writes byte-identical parquet files and the same manifest.
Only numpy/pyarrow are used, so generation never starts a JVM.

Compare pairs are lineitem-shaped (the TPC-H ``lineitem`` columns of the
repository's test data) plus a unique BIGINT ``row_id``. The source is written in
``row_id`` order and the target in a seed-shuffled order, so nothing can
lean on physical row order.

Drift is sparse and clustered. Each cluster sits inside one
``bucket_rows`` chunk and adds as many rows as it removes, so ordered
chunk boundaries outside the cluster do not move and the clean chunks
stay clean. The dirty chunk ids in the manifest are not assumed from
that layout: they are computed from the written rows.

Curation corpora follow the test data's ``documents`` schema (doc_id, text,
lang, source, n_chars) and its measured shape (vocabulary, word
frequencies, lengths, near-duplicate and exact-copy rates), with planted
overlaps with the pseudo eval set (``doc_id % 101 == 7``, the eval split
text_decontaminate uses).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_COLS = [
    "row_id",
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_EPOCH_1992_US = 694224000 * 1_000_000
_DAY_US = 86400 * 1_000_000


def _lineitem(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` lineitem-shaped rows (row_id not included)."""
    orderkey = np.cumsum(rng.integers(0, 2, n)) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": _STATUS[rng.integers(0, 2, n)],
        "l_shipdate": _EPOCH_1992_US + rng.integers(0, 2400, n) * _DAY_US,
    }


def _to_table(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = []
    for name in LINEITEM_COLS:
        v = cols[name]
        if name == "l_shipdate":
            arrays.append(pa.array(v, type=pa.timestamp("us")))
        else:
            arrays.append(pa.array(v))
    return pa.Table.from_arrays(arrays, names=LINEITEM_COLS)


def _take(cols: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in cols.items()}


def _row_hashes(cols: dict[str, np.ndarray]) -> np.ndarray:
    """One 64-bit content hash per row over every column (numpy only)."""
    h = np.zeros(len(cols["row_id"]), dtype=np.uint64)
    for name in LINEITEM_COLS:
        v = cols[name]
        if v.dtype.kind == "U":
            # code points of the (short) flag strings, folded per row
            cps = v.view(np.uint32).reshape(len(v), -1).astype(np.uint64)
            v = np.zeros(len(v), dtype=np.uint64)
            for j in range(cps.shape[1]):
                v = v * np.uint64(1_114_112) + cps[:, j]
        else:
            v = v.view(np.uint64) if v.dtype.itemsize == 8 else v.astype(np.uint64)
        h = (h * np.uint64(0x100000001B3)) ^ (v * np.uint64(0x9E3779B97F4A7C15))
    return h


def _chunk_multisets(cols: dict[str, np.ndarray], bucket_rows: int) -> dict[int, list]:
    """chunk id -> sorted content hashes, chunks cut by row_id rank."""
    order = np.argsort(cols["row_id"], kind="stable")
    hashes = _row_hashes(cols)[order]
    chunk = np.arange(len(order)) // bucket_rows
    out: dict[int, list] = {}
    for c in np.unique(chunk):
        out[int(c)] = sorted(int(x) for x in hashes[chunk == c])
    return out


def write_compare_pair(
    out_dir: str,
    seed: int,
    rows: int,
    *,
    drift: bool,
    bucket_rows: int,
    clusters: int = 3,
) -> dict:
    """Write ``src.parquet``/``tgt.parquet`` under ``out_dir`` and return
    the manifest (also written as ``manifest.json``).

    Source row_ids are the even numbers ``0, 2, ..., 2*(rows-1)``; rows
    the drift adds take odd ids inside their cluster, so they are new
    keys that sort into the cluster's chunk."""
    rng = np.random.default_rng([seed, 1])
    base = _lineitem(rng, rows)
    base["row_id"] = np.arange(rows, dtype=np.int64) * 2
    tgt = {k: v.copy() for k, v in base.items()}
    diffs: dict[int, dict] = {}
    diff_rows = 0
    if drift:
        n_chunks = -(-rows // bucket_rows)
        picked = rng.choice(n_chunks - 1, size=min(clusters, n_chunks - 1), replace=False)
        removed_idx: list[int] = []
        added: list[dict[str, np.ndarray]] = []
        for ci, c in enumerate(sorted(int(x) for x in picked)):
            # a 60-row window in the middle half of chunk c holds one
            # changed, one removed and one added key
            lo = c * bucket_rows + bucket_rows // 4 + int(rng.integers(0, bucket_rows // 2 - 60))
            window = np.arange(lo, lo + 60)
            pick = rng.choice(window, size=2, replace=False)
            i, gone = int(pick[0]), int(pick[1])
            cls = ci % 3  # 0: quantity, 1: returnflag, 2: both
            cols = []
            if cls in (0, 2):
                tgt["l_quantity"][i] = tgt["l_quantity"][i] + 1.0
                cols.append("l_quantity")
            if cls in (1, 2):
                old = tgt["l_returnflag"][i]
                tgt["l_returnflag"][i] = _FLAGS[(list(_FLAGS).index(old) + 1) % 3]
                cols.append("l_returnflag")
            diffs[int(base["row_id"][i])] = {"change": "changed", "cols": ",".join(cols)}
            diff_rows += 2
            removed_idx.append(gone)
            diffs[int(base["row_id"][gone])] = {"change": "removed", "cols": ""}
            diff_rows += 1
            # as many new rows as removed ones; the first cluster's new
            # row repeats an existing row's payload under a fresh key
            free = sorted(set(window.tolist()) - set(pick.tolist()))
            fresh = _lineitem(rng, 1)
            fresh["row_id"] = base["row_id"][[int(rng.choice(free))]] + 1
            if ci == 0:
                src_i = int(rng.choice(free))
                for k in fresh:
                    if k != "row_id":
                        fresh[k][0] = base[k][src_i]
            added.append(fresh)
            diffs[int(fresh["row_id"][0])] = {"change": "added", "cols": ""}
            diff_rows += 1
        keep = np.ones(rows, dtype=bool)
        keep[removed_idx] = False
        tgt = _take(tgt, np.nonzero(keep)[0])
        for a in added:
            tgt = {k: np.concatenate([tgt[k], a[k]]) for k in tgt}
    # the target lands in a seed-shuffled physical order
    tgt = _take(tgt, rng.permutation(len(tgt["row_id"])))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_to_table(base), os.path.join(out_dir, "src.parquet"))
    pq.write_table(_to_table(tgt), os.path.join(out_dir, "tgt.parquet"))

    s_chunks = _chunk_multisets(base, bucket_rows)
    t_chunks = _chunk_multisets(tgt, bucket_rows)
    dirty = sorted(
        c for c in set(s_chunks) | set(t_chunks) if s_chunks.get(c) != t_chunks.get(c)
    )
    manifest = {
        "seed": seed,
        "rows_src": rows,
        "rows_tgt": int(len(tgt["row_id"])),
        "bucket_rows": bucket_rows,
        "n_chunks": max(len(s_chunks), len(t_chunks)),
        "diff_count": diff_rows,
        "diffs": {str(k): v for k, v in sorted(diffs.items())},
        "dirty_chunks": dirty,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# -- curation corpora --------------------------------------------------------
#
# Shape constants measured on the sf0.1 ``documents`` table of the
# repository's test data with ``corpus_stats.py`` (README has the figures):
# 5000 docs over 30 words drawn uniformly (each word 8.8k-9.2k times),
# 10-99 words per doc, uniform; no punctuation, newlines or shared
# boilerplate. 250 docs (5 %) are another doc's text with the marker word
# " dup" appended; four of them copy a doc that already carries the marker.
# Two such edits of one base give identical text: 8 exact pairs (0.16 %)
# arise that way. No train doc shares a span with the eval split.

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_MARK = "dup"
MIN_WORDS, MAX_WORDS = 10, 99
#: docs that carry the marker, the exact copies among them
EDITED_SHARE = 0.05
EXACT_COPY_SHARE = 0.0016
#: the measured corpus has no eval overlap; one planted overlap per 250
#: docs keeps text_decontaminate's flagging path busy
EVAL_OVERLAP_SHARE = 0.004
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.412, 0.151, 0.149, 0.148, 0.140])
EVAL_MOD, EVAL_REM = 101, 7


def write_corpus(out_dir: str, seed: int, docs: int) -> dict:
    """Write ``documents.parquet`` under ``out_dir`` and return the
    planted-truth manifest (also written as ``manifest.json``).

    Edits are applied in a seeded order, each to a distinct train doc:
    near duplicates (another doc's text plus the marker; no base is used
    twice, and a base edited earlier gives a chain), exact copies (a
    second edit of an already-used base) and eval overlaps (an eval
    doc's text plus the marker). Counts are the measured shares, at
    least one each."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts: list[list[str]] = [
        list(vocab[rng.integers(0, len(vocab), int(rng.integers(MIN_WORDS, MAX_WORDS + 1)))])
        for _ in range(docs)
    ]
    evals = [i for i in range(docs) if i % EVAL_MOD == EVAL_REM]
    train = [i for i in range(docs) if i % EVAL_MOD != EVAL_REM]
    n_edit, n_exact, n_eval = (
        max(1, round(docs * s)) for s in (EDITED_SHARE, EXACT_COPY_SHARE, EVAL_OVERLAP_SHARE)
    )
    n_near = max(1, n_edit - n_exact)
    targets = [int(t) for t in rng.choice(train, size=n_near + n_exact + n_eval, replace=False)]
    near: list[list[int]] = []
    exact: list[list[int]] = []
    eval_overlap: list[list[int]] = []
    used: set[int] = set()
    for t in targets[:n_near]:
        j = int(rng.choice([i for i in train if i != t and i not in used]))
        used.add(j)
        texts[t] = texts[j] + [DUP_MARK]
        near.append([j, t])
    for t in targets[n_near : n_near + n_exact]:
        j = near[int(rng.integers(0, len(near)))][1]
        texts[t] = list(texts[j])
        exact.append([j, t])
    eval_bases = rng.choice(evals, size=n_eval, replace=n_eval > len(evals))
    for t, e in zip(targets[n_near + n_exact :], eval_bases):
        e = int(e)
        texts[t] = texts[e] + [DUP_MARK]
        eval_overlap.append([e, t])
    text = [" ".join(t) for t in texts]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), size=docs, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(docs)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    manifest = {
        "seed": seed,
        "docs": docs,
        "near_duplicates": near,
        "exact_copies": exact,
        "eval_overlaps": eval_overlap,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
