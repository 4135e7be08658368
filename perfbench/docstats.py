"""Shape of a documents table: the figures the benchmark's documents
generator (corpus.documents_table) is derived from.

    python3 -m perfbench.docstats path/to/documents.parquet

prints one JSON object: row count, word-count distribution, vocabulary,
near-duplicate rows (a row equal to another row plus one word), exact
copies and the lang shares.
"""

from __future__ import annotations

import collections
import json
import statistics
import sys


def doc_stats(texts: list[str], langs: list[str]) -> dict:
    words = [t.split() for t in texts]
    n = len(texts)
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    # (origin, row) for every row that is another row's text plus one word
    near = [
        (j, i, w[p])
        for i, w in enumerate(words)
        for p in {len(w) - 1, *range(len(w) - 1)}
        for j in by_text.get(" ".join(w[:p] + w[p + 1:]), [])
    ]
    near_rows = {i for _, i, _ in near}
    origins = collections.Counter(j for j, _, _ in near)
    vocab = collections.Counter(x for w in words for x in w)
    originals = [len(w) for i, w in enumerate(words) if i not in near_rows]
    return {
        "rows": n,
        "words_min": min(originals),
        "words_max": max(originals),
        "words_deciles": statistics.quantiles(originals, n=10),
        "vocab_size": len(vocab),
        "vocab_top": vocab.most_common(3),
        "vocab_tail": vocab.most_common()[-3:],
        "near_dup_rows": len(near_rows),
        "near_dup_frac": len(near_rows) / n,
        "near_dup_added_words": dict(collections.Counter(x for _, _, x in near)),
        "near_dup_origin_earlier_frac": sum(j < i for j, i, _ in near) / max(1, len(near)),
        "near_dup_of_near_dup": sum(j in near_rows for j, _, _ in near),
        "origins_by_fanout": dict(collections.Counter(origins.values())),
        "exact_copy_pairs": sum(len(v) * (len(v) - 1) // 2 for v in by_text.values()),
        "lang_frac": {k: round(v / n, 4) for k, v in collections.Counter(langs).most_common()},
    }


def main(path: str) -> None:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["text", "lang"])
    print(json.dumps(doc_stats(t.column("text").to_pylist(), t.column("lang").to_pylist())))


if __name__ == "__main__":
    main(sys.argv[1])
