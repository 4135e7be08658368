"""Seeded benchmark inputs, written once per run as parquet tables.

Every table is a pure function of ``seed`` (and of the program's own
fixture generators), so the same seed gives byte-identical inputs.
The program only ever sees the written parquet files.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(rows: list[dict], path: str) -> int:
    """Write pages rows (url, warc_ts, html, text, lang) as one parquet
    file; returns the html bytes written."""
    table = pa.table(
        {name: [r[name] for r in rows] for name in PAGES_SCHEMA.names},
        schema=PAGES_SCHEMA,
    )
    pq.write_table(table, path)
    return sum(len(r["html"]) for r in rows)


def mixed_rows(n_pages: int, seed: int) -> list[dict]:
    """The 19-family pages corpus: Zipf hosts, every 17th url crawled
    twice, every 12th row with an empty lang (filtered by the plan)."""
    from readability_py_spark.sources.fixtures import generate_pages_rows

    return generate_pages_rows(n_pages, seed=seed)


# -- documents table (dedup family) -----------------------------------------

# Measured on the sf0.1 `documents` table the program's relational
# queries are tested and benchmarked on (5,000 rows; ``python3 -m
# perfbench.docstats <documents.parquet>`` prints these figures for any
# documents table, README.md records both tables' output):
#   - every original text is 10..99 words (uniform: 40-62 rows for each
#     of the 90 lengths) drawn uniformly from a 30-word vocabulary;
#   - 5.0% of the rows (250) are near-duplicates: another row's text
#     plus the word "dup", the other row drawn from the whole table,
#     near-duplicates included (4 rows end in "dup dup" or more);
#   - exact copies arise only from two near-duplicates of one row
#     (8 pairs);
#   - lang is en/zh/es/fr/de at 41/15/15/15/14%; source is
#     src<doc_id mod 20>; n_chars is the text's length.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_WORDS = (10, 99)
DOC_NEAR_DUP = 0.05
DOC_LANGS = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3


def documents_table(n_docs: int, seed: int, near_dup: float = DOC_NEAR_DUP) -> pa.Table:
    """A documents table (doc_id, text, lang, source, n_chars) made by
    the process measured on the sf0.1 table above, at ``n_docs`` rows
    with a ``near_dup`` share of near-duplicates."""
    rng = random.Random(f"documents:{n_docs}:{seed}")
    texts = [
        " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(*DOC_WORDS)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), round(near_dup * n_docs)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(DOC_LANGS) for _ in texts], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(table: pa.Table, sf_dir: str) -> int:
    """Write a documents table as ``<sf_dir>/documents.parquet``; returns
    the file's size."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)
