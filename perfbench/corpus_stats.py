"""Shape figures of a ``documents`` parquet table.

    python3 perfbench/corpus_stats.py PATH/documents.parquet [--json]

Prints the figures ``gen.write_corpus`` takes its constants from: the
vocabulary and word frequencies, words per doc, near-duplicate and
exact-copy rates, eval-split overlap and language shares. Run it on the
test data's ``documents`` table to re-derive the constants, and on a
generated corpus to compare the two.
"""

from __future__ import annotations

import argparse
import collections
import json

import numpy as np
import pyarrow.parquet as pq

from gen import DUP_MARK, EVAL_MOD, EVAL_REM

SPAN = 8  # text_decontaminate's span length


def stats(path: str) -> dict:
    d = pq.read_table(path, columns=["doc_id", "text", "lang"]).to_pydict()
    texts, ids = d["text"], d["doc_id"]
    words = [t.split(" ") for t in texts]
    n = len(texts)
    lens = np.array([len(w) for w in words])
    freq = collections.Counter(x for w in words for x in w)
    plain = sorted((c for x, c in freq.items() if x != DUP_MARK), reverse=True)
    slope = float(np.polyfit(np.log(np.arange(1, len(plain) + 1)), np.log(plain), 1)[0])
    by_text = collections.Counter(texts)
    suffix = " " + DUP_MARK
    near = [t for t in texts if t.endswith(suffix) and t[: -len(suffix)] in by_text]

    def spans(w: list[str]) -> set[tuple[str, ...]]:
        return {tuple(w[i : i + SPAN]) for i in range(len(w) - SPAN + 1)}

    is_eval = [i % EVAL_MOD == EVAL_REM for i in ids]
    eval_spans = set().union(*(spans(w) for w, e in zip(words, is_eval) if e))
    overlap = sum(1 for w, e in zip(words, is_eval) if not e and spans(w) & eval_spans)
    return {
        "docs": n,
        "vocabulary": len(freq),
        "word_count_range_without_marker": [plain[-1], plain[0]],
        "rank_frequency_slope_without_marker": round(slope, 3),
        "words_per_doc_min_p25_median_p75_max": [
            int(lens.min()),
            *(float(x) for x in np.percentile(lens, [25, 50, 75])),
            int(lens.max()),
        ],
        "docs_with_marker": sum(1 for w in words if DUP_MARK in w),
        "near_duplicates_share": round(len(near) / n, 4),
        "exact_extra_copies_share": round(sum(c - 1 for c in by_text.values()) / n, 4),
        "train_docs_sharing_an_eval_span": overlap,
        "docs_with_newline_or_punctuation": sum(1 for t in texts if any(c in t for c in "\n.,;:!?")),
        "lang_shares": {k: round(v / n, 3) for k, v in collections.Counter(d["lang"]).most_common()},
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("path")
    p.add_argument("--json", action="store_true")
    a = p.parse_args()
    s = stats(a.path)
    if a.json:
        print(json.dumps(s))
    else:
        for k, v in s.items():
            print(f"{k:>40} {v}")


if __name__ == "__main__":
    main()
