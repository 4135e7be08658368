"""The workloads: inputs from a seed, warm-up, one timed pass, checks.

A pass is timed from the plan call to the sink commit and parses the
input parquet inside the pass.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time

from . import checks, corpus

DEDUP_QUERIES = (
    "dedup_exact",
    "dedup_incremental",
    "dedup_groups",
    "pipeline_dedup_groups",
    "winnow_dup_candidates",
)
# the groups queries checked against the generator's near-duplicates,
# with checks.check_groups' ``complete``: dedup_groups' 16-band MinHash
# plus SimHash finds every group (and more: SimHash also pairs
# unrelated texts of the 30-word vocabulary); the pipeline's 4-band
# MinHash can miss a pair (about 0.5% at Jaccard 0.9), but its Jaccard
# verify admits nothing outside a group
GROUPS_QUERIES = {"dedup_groups": True, "pipeline_dedup_groups": False}


class Workload:
    """What run.py drives. ``make_inputs`` sets ``rows`` (input rows per
    pass) and, where ``latency`` is set, ``sample`` (the serial-latency
    pages)."""

    name: str
    warm_passes = 1
    traced_passes = 2
    latency = False  # time ``sample`` serially through extract_document
    profile_size = 200

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    @functools.cached_property
    def profile_pages(self) -> list[tuple[str, bytes]]:
        """The traced run's per-phase profile pages: a seed-fixed subset
        of ``profile_source()``."""
        pages = self.profile_source()
        rng = random.Random(f"profile:{self.seed}")
        return rng.sample(pages, min(self.profile_size, len(pages)))

    def profile_source(self) -> list[tuple[str, bytes]]:
        return self.sample

    def warm_up(self) -> dict:
        """Set-up work after the inputs; returns its timings."""
        times = []
        for w in range(self.warm_passes):
            times.append(self.run_pass(-1 - w))
            self.drop_pass(-1 - w)
        return {"warm_pass_s": times}

    def check_pass(self, i: int) -> tuple[int, int]:
        return 0, 0

    def drop_pass(self, i: int) -> None:
        pass

    def check_results(self) -> tuple[int, int]:
        return 0, 0


class ExtractMixed(Workload):
    """Timed pass: ``run_extract_job`` over the pages parquet into a
    fresh catalog directory (extracted snapshot + done manifest + stats)."""

    name = "extract_mixed"
    n_pages = 4000
    warm_passes = 3
    sample_size = 1000  # serial-latency sample: >= 10 pages beyond p99
    latency = True

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.pages_path = os.path.join(work, "pages.parquet")

    def make_inputs(self) -> dict:
        rows = corpus.mixed_rows(self.n_pages, self.seed)
        html_bytes = corpus.write_pages(rows, self.pages_path)
        latest: dict[str, dict] = {}
        for r in rows:
            if r["lang"] != "" and r["html"] and (
                r["url"] not in latest or r["warc_ts"] > latest[r["url"]]["warc_ts"]
            ):
                latest[r["url"]] = r
        self.expected_urls = set(latest)
        self.sample = [(u, latest[u]["html"]) for u in self._sample(sorted(latest))]
        self.rows = len(rows)
        return {"input_rows": len(rows), "input_bytes": html_bytes,
                "parquet_bytes": os.path.getsize(self.pages_path),
                "expected_docs": len(latest)}

    def _sample(self, urls: list[str]) -> list[str]:
        """Seeded sample with the same number of pages from each page
        family (the url's first path segment), so the tail percentiles
        do not move with the family mix a seed happens to draw."""
        rng = random.Random(f"sample:{self.seed}")
        families: dict[str, list[str]] = {}
        for u in urls:
            families.setdefault(u.split("/")[3], []).append(u)
        per = -(-self.sample_size // len(families))
        return [u for fam in sorted(families) for u in rng.sample(families[fam], per)]

    def catalog_dir(self, i: int) -> str:
        return os.path.join(self.work, f"catalog-{i}")

    def run_pass(self, i: int) -> float:
        from readability_py_spark.plans.extract_job import run_extract_job

        t0 = time.perf_counter()
        run_extract_job(self.spark, self.spark.read.parquet(self.pages_path), self.catalog_dir(i))
        return time.perf_counter() - t0

    def warm_up(self) -> dict:
        """The goldens check first: it is the cold pass that starts the
        Python workers; then the warm-up passes."""
        t0 = time.perf_counter()
        self.goldens = checks.check_goldens(
            self.spark, checks.load_goldens(), self.spark.sparkContext.defaultParallelism
        )
        return {"goldens_s": time.perf_counter() - t0, **super().warm_up()}

    def check_pass(self, i: int) -> tuple[int, int]:
        return checks.check_pass_output(self.catalog_dir(i), self.expected_urls)

    def check_results(self) -> tuple[int, int]:
        return self.goldens

    def drop_pass(self, i: int) -> None:
        shutil.rmtree(self.catalog_dir(i), ignore_errors=True)

    def check_sample(self, i: int, latencies) -> tuple[int, int]:
        """Digests of the sampled urls in pass ``i``'s output against the
        serial extract_document run of the same pages."""
        expected = {u: d for u, _, d in latencies}
        return checks.check_sample_digests(self.catalog_dir(i), expected)


class DedupFamily(Workload):
    """Timed pass: the five dedup-family queries over the documents
    table, each forced with a noop sink; caches released after each
    query as bench.py does.

    Two untimed passes come first and collect the queries' results,
    which are checked after the timed passes: one on a small check
    table, compared with every query's DuckDB oracle (dedup_groups'
    last step done in Python, checks.components_oracle), and one on the
    timed table itself. DuckDB needs tens of seconds for the groups
    queries' oracles at the timed table's size, so there the groups
    results are checked against the near-duplicates the generator made
    (checks.check_groups) and the other three against their oracles."""

    name = "dedup_family"
    n_docs = 1000
    n_check_docs = 30
    check_near_dup = 0.3  # enriched, so every query finds groups in 30 rows
    traced_passes = 1

    def make_inputs(self) -> dict:
        from readability_py_spark.operators import groups, merged_queries

        self.sf_dir = os.path.join(self.work, "sf")
        self.check_dir = os.path.join(self.work, "sf_check")
        table = corpus.documents_table(self.n_docs, self.seed)
        nbytes = corpus.write_documents(table, self.sf_dir)
        corpus.write_documents(
            corpus.documents_table(self.n_check_docs, self.seed, self.check_near_dup),
            self.check_dir,
        )
        self.dup_groups = checks.near_dup_groups(table.column("text").to_pylist())
        queries, oracles = merged_queries()
        self.queries = {q: queries[q] for q in DEDUP_QUERIES}
        self.oracles = {q: oracles[q] for q in DEDUP_QUERIES}
        # the `mh` and `sp` edge oracles dedup_groups' oracle is built from
        self.groups_edges = [groups.ORACLE_MINHASH_LSH_CAPPED, groups.ORACLE_SIMHASH_PAIRS_CAPPED]
        self.rows = self.n_docs
        return {"input_rows": self.n_docs, "input_bytes": nbytes,
                "check_docs": self.n_check_docs, "near_dup_groups": len(self.dup_groups)}

    def profile_source(self) -> list[tuple[str, bytes]]:
        """The documents wrapped in the program's own extraction page
        template (the extract_articles pages)."""
        from readability_py_spark.plans.extract_job import pages_from_documents

        pages = pages_from_documents(self.spark, self.sf_dir).select("url", "html").collect()
        return [(r["url"], bytes(r["html"])) for r in pages]

    def warm_up(self) -> dict:
        """The cold pass on the check table, then one pass on the timed
        table; both collect their results."""
        self.results = {}
        return {"check_pass_s": self.run_pass(-1, collect=self.check_dir),
                "warm_pass_s": [self.run_pass(-2, collect=self.sf_dir)]}

    def run_pass(self, i: int, collect: str | None = None) -> float:
        """Runs the five queries on the timed table into the noop sink;
        keeps (builder s, query s) per query in ``last_query_s``. With
        ``collect`` (a table directory) it runs them on that table and
        keeps their results in ``results[collect]``."""
        from readability_py_spark.operators.dedup import release_caches

        self.last_query_s = {}
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            q0 = time.perf_counter()
            df = fn(self.spark, collect or self.sf_dir)
            built = time.perf_counter()
            if collect:
                got = (df.columns, [tuple(r) for r in df.collect()])
                self.results.setdefault(collect, {})[name] = got
            else:
                df.write.format("noop").mode("overwrite").save()
            release_caches()
            self.last_query_s[name] = (built - q0, time.perf_counter() - q0)
        return time.perf_counter() - t0

    def check_results(self) -> tuple[int, int]:
        failed = 0
        for sf_dir in (self.check_dir, self.sf_dir):
            results = self.results.get(sf_dir, {})
            for name in DEDUP_QUERIES:
                if name not in results:
                    failed += 1
                elif sf_dir == self.sf_dir and name in GROUPS_QUERIES:
                    failed += not checks.check_groups(
                        *results[name], self.dup_groups, complete=GROUPS_QUERIES[name])
                elif name == "dedup_groups":
                    failed += not checks.same_rows(
                        *results[name], *checks.components_oracle(sf_dir, self.groups_edges))
                else:
                    failed += not checks.check_oracle(*results[name], sf_dir, self.oracles[name])
        return 2 * len(DEDUP_QUERIES), failed


WORKLOADS = {w.name: w for w in (ExtractMixed, DedupFamily)}
