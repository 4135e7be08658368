"""Correctness checks run inside every benchmark run.

Each check returns (attempted, failed) counts; ``failed_frac`` is
failed / attempted over all checks of a run.
"""

from __future__ import annotations

import base64
import decimal
import functools
import glob
import hashlib
import json
import math
import os


def doc_digest(title, article_html, article_text, footnotes) -> str:
    """Digest of the golden-compared outputs of one document."""
    notes = [[h, t] for h, t in footnotes]
    blob = json.dumps([title, article_html, article_text, notes], ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def row_digest(row: dict) -> str:
    """doc_digest of one output row of the extraction UDF."""
    notes = [(f["href"], f["text"]) for f in row["footnotes"] or []]
    return doc_digest(row["title"], row["article_html"], row["article_text"], notes)


# -- stored goldens through extraction_plan ---------------------------------


GOLDENS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "goldens.jsonl",
)


def load_goldens() -> list[dict]:
    with open(GOLDENS) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _golden_digest(case: dict) -> str:
    def b(key):
        return base64.b64decode(case[key]).decode("utf-8")

    notes = [
        (base64.b64decode(h).decode("utf-8"), base64.b64decode(t).decode("utf-8"))
        for h, t in case["footnotes"]
    ]
    return doc_digest(b("title_b64"), b("body_b64"), b("text_b64"), notes)


def check_goldens(spark, goldens: list[dict], num_partitions: int) -> tuple[int, int]:
    """Push every golden through extraction_plan, one plan per settings
    dict, all in one job; require byte-identical title, article_html,
    article_text and footnotes, and parse_ok."""
    from pyspark.sql import functions as F

    from readability_py_spark.plans.extract_job import extraction_plan

    groups: dict[str, list[dict]] = {}
    for case in goldens:
        groups.setdefault(json.dumps(case["settings"], sort_keys=True), []).append(case)
    plans = []
    for key, cases in groups.items():
        data = [(c["url"], base64.b64decode(c["html_b64"]), "en") for c in cases]
        pages = spark.createDataFrame(
            data, "url string, html binary, lang string"
        ).withColumn("warc_ts", F.lit("2026-01-01").cast("timestamp"))
        plans.append(
            extraction_plan(pages, num_partitions=num_partitions,
                            settings=json.loads(key) or None)
        )
    # one job for all settings groups
    out = functools.reduce(lambda a, b: a.unionAll(b), plans).collect()
    got: dict[str, str | None] = {}
    for r in out:
        d = r.asDict(recursive=True)
        ok = d["metrics"]["parse_ok"] and d["url"] not in got
        got[d["url"]] = row_digest(d) if ok else None
    return len(goldens), sum(got.get(c["url"]) != _golden_digest(c) for c in goldens)


# -- whole output of an extraction pass --------------------------------------


def read_extracted(catalog_dir: str):
    """All rows the pass committed to the catalog's `extracted` table."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(catalog_dir, "extracted", "data", "*", "*.parquet"))
    return pq.ParquetDataset(files).read(columns=["url", "metrics"]) if files else None


def check_pass_output(catalog_dir: str, expected_urls: set[str]) -> tuple[int, int]:
    """Every expected url exactly once, each with parse_ok, and nothing
    else. A doc fails if it is missing, duplicated or not parse_ok;
    unexpected rows count as failures too."""
    table = read_extracted(catalog_dir)
    urls = table.column("url").to_pylist() if table is not None else []
    parse_ok = (
        [m["parse_ok"] for m in table.column("metrics").to_pylist()]
        if table is not None
        else []
    )
    seen: dict[str, int] = {}
    bad: set[str] = set()
    for url, ok in zip(urls, parse_ok):
        seen[url] = seen.get(url, 0) + 1
        if not ok:
            bad.add(url)
    failed = sum(1 for u in expected_urls if seen.get(u) != 1 or u in bad)
    failed += sum(1 for u in seen if u not in expected_urls)
    return len(expected_urls), failed


def check_sample_digests(catalog_dir: str, expected: dict[str, str]) -> tuple[int, int]:
    """Per-url digests of a pass's output against serial extract_document."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(catalog_dir, "extracted", "data", "*", "*.parquet"))
    table = pq.ParquetDataset(files).read(
        columns=["url", "title", "article_html", "article_text", "footnotes"]
    )
    got = {}
    for row in table.to_pylist():
        if row["url"] in expected:
            got[row["url"]] = row_digest(row)
    return len(expected), sum(got.get(u) != d for u, d in expected.items())


# -- dedup family against DuckDB ---------------------------------------------


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(int(v)) if v == v.to_integral_value() else str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def canon_rows(cols: list[str], rows: list) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    return tbl.schema.names, list(zip(*[c.to_pylist() for c in tbl.columns]))


def same_rows(cols: list[str], rows: list, ref_cols: list[str], ref_rows: list) -> bool:
    """Order-insensitive equality of two results, columns matched by name."""
    if sorted(cols) != sorted(ref_cols):
        return False
    return canon_rows(cols, rows) == canon_rows(list(ref_cols), ref_rows)


def check_oracle(cols: list[str], rows: list, sf_dir: str, sql: str) -> bool:
    """Order-insensitive equality of a Spark result and its DuckDB oracle."""
    return same_rows(cols, rows, *oracle_rows(sf_dir, sql))


def components_oracle(sf_dir: str, edge_sqls: list[str]) -> tuple[list[str], list[tuple]]:
    """dedup_groups' oracle: (doc_id, cluster_rep) for every doc of the
    union of the (a_id, b_id) edges the DuckDB queries ``edge_sqls``
    return (its `mh` and `sp` oracles), cluster_rep the smallest doc_id
    of the doc's connected component. The components are found here by
    union-find rather than by the oracle's recursive reachability, which
    DuckDB evaluates by recomputing the edge queries on every step (6 s
    at 30 documents)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for sql in edge_sqls:
        cols, rows = oracle_rows(sf_dir, sql)
        ia, ib = cols.index("a_id"), cols.index("b_id")
        for r in rows:
            ra, rb = find(r[ia]), find(r[ib])
            parent[max(ra, rb)] = min(ra, rb)
    return ["doc_id", "cluster_rep"], [(d, find(d)) for d in parent]


# -- groups queries against the generator's near-duplicates ------------------


def near_dup_groups(texts: list[str]) -> list[list[int]]:
    """The near-duplicate groups of a generated documents table
    (corpus.documents_table): doc_ids whose texts are one text plus
    zero or more " dup" words, for every such text shared by two or
    more docs."""
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        root = t
        while root.endswith(" dup"):
            root = root[:-4]
        groups.setdefault(root, []).append(i)
    return [ids for ids in groups.values() if len(ids) > 1]


def check_groups(cols: list[str], rows: list, groups: list[list[int]], complete: bool) -> bool:
    """A groups query's (doc_id, cluster_rep[, is_keeper]) rows against
    the generator's near-duplicate ``groups``: one row per doc, each
    cluster labelled with its smallest doc_id, is_keeper where the doc
    is its own label. With ``complete`` every doc of every group is in
    the output, each group in one cluster; more or larger clusters may
    be found, but no cluster of one doc. Without it (a MinHash with few bands, which can
    miss a pair) every cluster of two or more docs lies inside one
    group, and at least half of the groups are found whole."""
    if "doc_id" not in cols or "cluster_rep" not in cols:
        return False
    recs = [dict(zip(cols, r)) for r in rows]
    rep = {r["doc_id"]: r["cluster_rep"] for r in recs}
    if len(rep) != len(recs) or not rep:
        return False
    if "is_keeper" in cols and any(r["is_keeper"] != (r["cluster_rep"] == r["doc_id"]) for r in recs):
        return False
    members: dict[int, list[int]] = {}
    for d, c in rep.items():
        members.setdefault(c, []).append(d)
    if any(rep.get(c) != c or c != min(ds) for c, ds in members.items()):
        return False
    inside = [g for g in ([d for d in ids if d in rep] for ids in groups) if len(g) > 1]
    whole = sum(len({rep[d] for d in g}) == 1 for g in inside)
    if complete:
        return (all(d in rep for ids in groups for d in ids) and whole == len(inside)
                and all(len(ds) > 1 for ds in members.values()))
    group_of = {d: k for k, ids in enumerate(groups) for d in ids}
    return 2 * whole >= len(inside) and all(
        len({group_of.get(d, -1 - d) for d in ds}) == 1 for ds in members.values()
    )
