"""Per-document work timed from outside, through the program's public
functions: the serial library path (``extract_document``), its phases
(parse, template, process, render) and the UDF body (``extract_batch``).
"""

from __future__ import annotations

import time

from .checks import doc_digest


def serial_latency(
    pages: list[tuple[str, bytes]], warmup: int = 0
) -> list[tuple[str, float, str | None]]:
    """(url, ms, digest) per page for ``extract_document`` called one
    page at a time in this process; digest is None when extraction
    raised. The first ``warmup`` pages are extracted once, untimed,
    before the timed loop."""
    from readability_py_spark.core.arc90 import extract_document

    for url, html in pages[:warmup]:
        extract_document(html, url=url)
    return [_timed(extract_document, url, html) for url, html in pages]


def _timed(extract_document, url: str, html: bytes) -> tuple[str, float, str | None]:
    t0 = time.perf_counter()
    try:
        res = extract_document(html, url=url)
    except Exception:  # a raising page is a failed doc, not a crash
        return url, (time.perf_counter() - t0) * 1000.0, None
    ms = (time.perf_counter() - t0) * 1000.0
    digest = doc_digest(
        res["title"], res["article_html"], res["article_text"], res["footnotes"]
    )
    return url, ms, digest


def phase_profile(pages: list[tuple[str, bytes]]) -> dict[str, float]:
    """Per-phase time of one document's extraction, page by page:
    parse (SoupParser(html).root), template (constructor minus parse),
    process_document, article render and the full-page render."""
    from readability_py_spark.core.arc90 import Arc90Document
    from readability_py_spark.core.parser import SoupParser

    parse, template, process, article, full = [], [], [], [], []
    retries = candidates = 0
    for url, html in pages:
        t0 = time.perf_counter()
        SoupParser(html).root
        t1 = time.perf_counter()
        doc = Arc90Document(html, url=url)
        t2 = time.perf_counter()
        doc.process_document()
        t3 = time.perf_counter()
        doc.get_title(), doc.get_article_body(), doc.get_article_text()
        doc.get_article_footnotes()
        t4 = time.perf_counter()
        doc.get_html()
        t5 = time.perf_counter()
        parse.append(t1 - t0)
        template.append((t2 - t1) - (t1 - t0))
        process.append(t3 - t2)
        article.append(t4 - t3)
        full.append(t5 - t4)
        retries += doc.metrics["retries"]
        candidates += doc.metrics["candidate_count"]
    n = len(pages)

    def per_doc_ms(xs):
        return 1000.0 * sum(xs) / n

    return {
        "parser.parse_ms_per_doc": per_doc_ms(parse),
        "parser.parse_ms_max": 1000.0 * max(parse),
        "arc90.template_ms_per_doc": per_doc_ms(template),
        "arc90.process_ms_per_doc": per_doc_ms(process),
        "arc90.process_ms_max": 1000.0 * max(process),
        "arc90.article_render_ms_per_doc": per_doc_ms(article),
        "arc90.full_render_ms_per_doc": per_doc_ms(full),
        "arc90.retries_per_doc": retries / n,
        "arc90.candidates_per_doc": candidates / n,
    }


def batch_ms_per_doc(pages: list[tuple[str, bytes]], batch_rows: int) -> float:
    """The UDF body (extract_batch) called in-process on pandas batches
    of the session's Arrow batch size; no Spark, no Arrow transfer."""
    import pandas as pd

    from readability_py_spark.plans.extract_job import extract_batch

    batches = [
        pd.DataFrame(
            {"url": [p[0] for p in pages[i:i + batch_rows]],
             "html": [p[1] for p in pages[i:i + batch_rows]]}
        )
        for i in range(0, len(pages), batch_rows)
    ]
    t0 = time.perf_counter()
    rows = sum(len(out) for out in extract_batch(iter(batches)))
    return 1000.0 * (time.perf_counter() - t0) / rows
