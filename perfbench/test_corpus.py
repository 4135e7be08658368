"""The documents generator against the figures measured on the shipped
sf0.1 table, and the groups check against hand-made results. Fast, no
Spark:

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import pytest

from perfbench import checks, corpus
from perfbench.docstats import doc_stats

# python3 -m perfbench.docstats on the shipped sf0.1 documents.parquet
SHIPPED_SF01 = {
    "rows": 5000,
    "words_min": 10,
    "words_max": 99,
    "words_deciles": [19.0, 28.0, 37.0, 45.0, 54.0, 63.0, 72.0, 80.0, 90.0],
    "vocab_size": 31,
    "near_dup_rows": 243,
    "near_dup_origin_earlier_frac": 0.532,
    "exact_copy_pairs": 8,
    "lang_frac": {"en": 0.4118, "zh": 0.1506, "es": 0.1488, "fr": 0.1484, "de": 0.1404},
}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_documents_table_has_the_shipped_shape(seed):
    t = corpus.documents_table(5000, seed)
    got = doc_stats(t.column("text").to_pylist(), t.column("lang").to_pylist())
    want = SHIPPED_SF01
    for key in ("rows", "words_min", "words_max", "vocab_size"):
        assert got[key] == want[key], key
    assert all(abs(a - b) <= 3 for a, b in zip(got["words_deciles"], want["words_deciles"]))
    assert abs(got["near_dup_rows"] - want["near_dup_rows"]) <= 15
    assert got["near_dup_added_words"].keys() == {"dup"}
    assert abs(got["near_dup_origin_earlier_frac"] - want["near_dup_origin_earlier_frac"]) < 0.1
    assert 1 <= got["exact_copy_pairs"] <= 20
    for lang, frac in want["lang_frac"].items():
        assert abs(got["lang_frac"][lang] - frac) < 0.03, lang
    assert t.column("source").to_pylist()[:21] == [f"src{i % 20}" for i in range(21)]
    assert t.column("n_chars").to_pylist() == [len(x) for x in t.column("text").to_pylist()]


def test_near_dup_groups():
    texts = ["a b", "a b dup", "c", "a b dup dup", "c", "d dup"]
    assert checks.near_dup_groups(texts) == [[0, 1, 3], [2, 4]]


COLS = ["doc_id", "cluster_rep"]
GROUPS = [[1, 5, 7], [2, 3]]
GOOD = [(1, 1), (5, 1), (7, 1), (2, 2), (3, 2)]


SPLIT = [(1, 1), (5, 1), (7, 7), (2, 2), (3, 2)]


@pytest.mark.parametrize(
    "rows, complete, ok",
    [
        (GOOD, True, True),
        (GOOD, False, True),
        (GOOD + [(9, 9)], True, False),  # a one-doc cluster
        (GOOD + [(9, 9)], False, True),  # a kept singleton
        (GOOD + [(9, 1)], True, True),  # more found
        (GOOD + [(9, 1)], False, False),  # a cluster reaching outside its group
        (SPLIT, True, False),
        (SPLIT, False, True),  # one of two groups found whole
        ([(d, d) for d, _ in GOOD], False, False),  # no group found whole
        ([(1, 1), (5, 1), (2, 2), (3, 2)], True, False),  # a group doc missing
        ([(1, 1), (5, 1), (2, 2), (3, 2)], False, True),
        ([(1, 5), (5, 5), (7, 5), (2, 2), (3, 2)], False, False),  # label not the min
        (GOOD + [(5, 1)], True, False),  # a doc twice
        ([], True, False),
    ],
)
def test_check_groups(rows, complete, ok):
    assert checks.check_groups(COLS, rows, GROUPS, complete) is ok


def test_check_groups_is_keeper():
    cols = ["doc_id", "norm_url", "cluster_rep", "is_keeper"]
    rows = [(d, "u", c, d == c) for d, c in GOOD]
    assert checks.check_groups(cols, rows, GROUPS, False)
    rows[1] = (5, "u", 1, True)
    assert not checks.check_groups(cols, rows, GROUPS, False)
