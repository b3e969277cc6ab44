"""The workloads. Each runs whole units until ``seconds`` of timed work
have been measured (at least one unit), checks the outputs, and returns
a WorkloadResult with the end-to-end metrics and, when traced, the
per-layer metrics.

extract_slice  one operation = one page; a unit = one pass over the
               pages table (scan -> with_clean_text -> canonicalize ->
               per-host manifest).
drain_crawl    one operation = one round; a unit = bootstrap of a small
               seed set, then CrawlEngine.run() with discover_links,
               dedup_index and revisit until nothing fetchable is left.
bulk_round     one operation = one round; a unit = bootstrap of a large
               frontier, then rounds 0 and 1 with link discovery and
               hot-host salting. Runnable, but not in BENCHMARK.json: a
               run takes ~70 s, which the time budget of a full set of
               benchmark runs cannot hold next to the other two (see
               README.md).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

from . import checks as C
from . import inputs as I
from . import trace as TR
from .store import Store

SLICE_PAGES = 20_000
SLICE_UNIVERSE = 1_000_000
SLICE_SAMPLE = 200
BULK_SEEDS = 12_000
BULK_BUDGET = 200
BULK_HOT = 1_000
BULK_SALTS = 8
DRAIN_BUDGET = 32
KERNEL_SAMPLE = 1_000
WARMUP_IDS = list(range(100, 120))   # crawled in a store of their own


@dataclass
class WorkloadResult:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)   # end-to-end
    layers: dict = field(default_factory=dict)    # per-layer (traced)
    ops: list = field(default_factory=list)       # op windows for tracing
    evidence: list = field(default_factory=list)  # (kind, data) checked
    timed_s: float = 0.0
    note: dict = field(default_factory=dict)      # printed to stderr


def _du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def _spark_pages(spark, ids: list[int]):
    """A pages DataFrame for the given ids, generated in the Python
    workers by the corpus's page_record."""
    from python_web_scraper_cleaner_spark.sources.pages import (
        PAGES_SCHEMA, page_record)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [page_record(int(i)) for i in pdf["id"]])

    n_parts = 2 * spark.sparkContext.defaultParallelism
    idf = spark.createDataFrame(pd.DataFrame({"id": ids}),
                                "id long").repartition(n_parts)
    return idf.mapInPandas(gen, schema=PAGES_SCHEMA)


def _seeds(spark, ids: list[int]):
    from python_web_scraper_cleaner_spark.sources.pages import page_url
    return spark.createDataFrame(
        pd.DataFrame({"url": [page_url(i) for i in ids],
                      "priority": [i % 10 for i in ids],
                      "discovered_ts": [I.SEED_TS] * len(ids)}),
        "url string, priority int, discovered_ts timestamp")


def _robots(spark):
    from python_web_scraper_cleaner_spark.plans.crawl import ROBOTS_SCHEMA
    return spark.createDataFrame(I.robots_rows(), ROBOTS_SCHEMA)


def _kernel_pages(urls: list[str], seed: int) -> list[tuple[str, bytes]]:
    from python_web_scraper_cleaner_spark.sources.pages import page_record
    pick = sorted(u for u in urls if I.doc_id(u) is not None)
    if len(pick) > KERNEL_SAMPLE:
        pick = random.Random(seed).sample(pick, KERNEL_SAMPLE)
    return [(u, page_record(I.doc_id(u))["html"]) for u in pick]


def _snapshot_before(io, table: str, round_id: int):
    """The table as committed before round_id started, as a Spark
    DataFrame, or None."""
    snap = Store(io.root).before(table, round_id)
    return None if snap is None else io.read_at(table, snap["snapshot"])


# -- extract_slice ---------------------------------------------------------------

def extract_slice(spark, work, seed, seconds, tracer, t_process) -> WorkloadResult:
    from pyspark.sql import functions as F

    from python_web_scraper_cleaner_spark.functions.udfs import with_clean_text
    from python_web_scraper_cleaner_spark.plans.queries import _canonicalize
    from python_web_scraper_cleaner_spark.sources.pages import page_record, page_url

    res = WorkloadResult()
    ids = I.sample_ids(seed, SLICE_PAGES, SLICE_UNIVERSE)
    urls = [page_url(i) for i in ids]
    path = os.path.join(work, "pages")
    t0 = time.time()
    _spark_pages(spark, ids).write.mode("overwrite").parquet(path)
    bootstrap_s = time.time() - t0

    def one_pass():
        pages = spark.read.parquet(path)
        canon = _canonicalize(with_clean_text(pages, output_format="txt"))
        return (canon.groupBy("host")
                .agg(F.count("*").alias("n_pages"),
                     F.sum(F.col("ok").cast("int")).alias("n_ok"),
                     F.countDistinct("canonical_url").alias("n_unique"),
                     F.sum("extracted_chars").alias("chars"))
                .collect())

    one_pass()                       # untimed: codegen and page-in
    setup_s = time.time() - t_process
    walls, rows = [], []
    t_timed = time.time()
    while not walls or time.time() - t_timed < seconds:
        with tracer.span("slice.pass") as sp:
            t = time.time()
            rows = one_pass()
            walls.append(time.time() - t)
        if sp:
            res.ops.append(sp)
        res.attempted += len(ids)
    res.timed_s = time.time() - t_timed
    tracer.uninstall()

    # checks (untimed)
    sample = sorted(random.Random(seed + 1).sample(urls, SLICE_SAMPLE))
    got = (with_clean_text(spark.read.parquet(path)
                           .filter(F.col("url").isin(sample)),
                           output_format="txt")
           .select("url", "ok", "text").collect())
    spark_out = {r["url"]: (r["ok"], r["text"]) for r in got}
    ev = {"urls": urls, "manifest": {r["host"]: r["n_pages"] for r in rows},
          "sample": spark_out,
          "html": {u: page_record(I.doc_id(u))["html"] for u in sample}}
    res.evidence.append(("slice", ev))
    res.errors += C.check_slice(ev)
    res.failed = min(len(res.errors), res.attempted)

    p50 = statistics.median(walls)
    res.note["pass_walls"] = walls
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "urls_per_s": (len(ids) / p50, "urls/s"),
        "round_p50_s": (p50, "s"),
        "bootstrap_s": (bootstrap_s, "s"),
        "store_kb_per_url": (_du(path) / 1024.0 / len(ids), "KiB/url"),
    }
    if tracer.enabled:
        res.layers.update(TR.kernel_metrics(_kernel_pages(urls, seed)))
    return res


# -- crawl workloads ----------------------------------------------------------------

def _round_spans(tracer, since: float) -> list[dict]:
    """The traced run_round spans of the timed part (not the warm-up)."""
    return [s for s in getattr(tracer, "spans", [])
            if s["name"] == "crawl.run_round" and s["start"] >= since]


class _RoundClock:
    """Times each run_round call of one engine (instance attribute, so
    the untraced run needs no other hook)."""

    def __init__(self, eng) -> None:
        self.walls: list[float] = []
        inner = eng.run_round

        def timed(round_id):
            t = time.time()
            try:
                return inner(round_id)
            finally:
                self.walls.append(time.time() - t)

        eng.run_round = timed


def _crawl_layers(spark, eng, rounds: list[int], res: WorkloadResult,
                  stats: list[dict]) -> None:
    """Frontier, bloom and dedup per-layer metrics, recomputed after the
    run from the snapshots each round started from (untraced)."""
    from pyspark.sql import functions as F

    from python_web_scraper_cleaner_spark.operators import bloom as B
    from python_web_scraper_cleaner_spark.operators import frontier as FR

    io = eng.io
    robots = io.read("robots")
    acc = {k: [] for k in ("pending", "allowed", "batch", "blocked",
                           "select_s", "maybe", "exact")}
    for r in rounds:
        pending = _snapshot_before(io, "frontier", r)
        n_pending = pending.count()
        t = time.time()
        allowed = FR.apply_robots(pending, robots)
        batch = FR.select_round_batch(
            allowed, per_host_budget=eng.per_host_budget,
            hot_host_threshold=eng.hot_host_threshold, n_salts=eng.n_salts)
        (FR.politeness_schedule(batch, trust_existing_slot=True)
         .write.format("noop").mode("overwrite").save())
        acc["select_s"].append(time.time() - t)
        n_allowed = allowed.count()
        acc["pending"].append(n_pending)
        acc["allowed"].append(n_allowed)
        acc["blocked"].append(n_pending - n_allowed)
        acc["batch"].append(batch.count())
        bloom = _snapshot_before(io, "bloom", r)
        seen = _snapshot_before(io, "url_seen", r)
        if bloom is None or seen is None:
            acc["maybe"].append(0)
            acc["exact"].append(0)
            continue
        probed = B.bloom_probe(pending, bloom, n_buckets=eng.n_bloom_buckets)
        acc["maybe"].append(probed.filter("maybe_seen").count())
        acc["exact"].append(pending.join(seen.select("url_hash"),
                                         "url_hash", "left_semi").count())
    mean = lambda k: statistics.fmean(acc[k]) if acc[k] else 0.0  # noqa: E731
    maybe, exact = sum(acc["maybe"]), sum(acc["exact"])
    filter_bytes = (io.read("bloom").agg(F.sum(F.octet_length("bitmap")))
                    .first()[0] or 0) if io.exists("bloom") else 0
    res.layers.update({
        "frontier.pending_rows": (mean("pending"), "rows"),
        "frontier.allowed_rows": (mean("allowed"), "rows"),
        "frontier.batch_rows": (mean("batch"), "rows"),
        "frontier.robots_blocked_rows": (mean("blocked"), "rows"),
        "frontier.select_s": (statistics.median(acc["select_s"])
                              if acc["select_s"] else 0.0, "s"),
        "bloom.filter_mb": (filter_bytes / TR.MIB, "MiB"),
        "bloom.maybe_seen_rows": (mean("maybe"), "rows"),
        "bloom.exact_seen_rows": (mean("exact"), "rows"),
        "bloom.useful_ratio": (exact / maybe if maybe else 0.0, "ratio"),
        "dedup.sig_index_rows": (float(io.read("sig_index").count())
                                 if io.exists("sig_index") else 0.0, "rows"),
        "dedup.near_dups": (float(sum(s.get("n_near_dup", 0)
                                      for s in stats)), "rows"),
    })
    files, size = TR.store_files(io.root)
    n = max(len(rounds), 1)
    res.layers["tableio.files_per_round"] = (files / n, "count")
    res.layers["tableio.bytes_per_round"] = (size / n, "B")


PAGE_COLS = ["round", "canonical_url", "host", "priority", "warc_ts",
             "fetch_slot", "scheduled_offset_ms"]


def _round_evidence(st: Store, pages: pd.DataFrame, r: int, budget: int,
                    hot: int | None) -> dict:
    """One committed round and the snapshots it started from (read
    without Spark)."""
    return {"before": st.frame("frontier", st.before("frontier", r),
                               ["canonical_url", "host", "priority",
                                "warc_ts"]),
            "seen": st.urls("url_seen", st.before("url_seen", r)),
            "got": pages[pages["round"] == r],
            "after": st.urls("frontier", st.at("frontier", r)),
            "budget": budget, "hot": hot}


def _check_rounds(res: WorkloadResult, st: Store, pages: pd.DataFrame,
                  stats: list[dict], budget: int, hot: int | None) -> int:
    """Checks every round; returns the number of rounds that failed."""
    failed = 0
    for s in stats:
        ev = _round_evidence(st, pages, s["round"], budget, hot)
        res.evidence.append(("round", ev))
        errs = C.check_round(ev)
        res.errors += [f"round {s['round']}: {e}" for e in errs]
        failed += bool(errs)
    return failed


def _crawl(spark, work, seed, seconds, tracer, t_process, *, ids,
           engine_kw, crawl, check) -> WorkloadResult:
    """Shared driver of the crawl workloads: a unit is bootstrap plus
    ``crawl(eng) -> round stats``, repeated on fresh stores until
    ``seconds`` of timed work are measured; ``check(store, stats)``
    records evidence and errors in the result and returns the number of
    failed rounds of a unit."""
    from python_web_scraper_cleaner_spark.plans.crawl import CrawlEngine

    res = WorkloadResult()
    seeds, robots = _seeds(spark, ids), _robots(spark)
    # untimed warm-up on a throwaway store: a first round and one with a
    # non-empty url_seen compile every plan shape and JIT the driver
    # paths; measured cold, those rounds moved with the box's load far
    # more than warm ones did
    warm = CrawlEngine(spark, os.path.join(work, "warmup"), **engine_kw)
    warm.bootstrap(_seeds(spark, WARMUP_IDS), robots)
    warm.run_round(0)
    warm.run_round(1)
    setup_s = time.time() - t_process
    boot, walls, crawl_s, units = [], [], [], []
    t_timed = time.time()
    while not units or time.time() - t_timed < seconds:
        eng = CrawlEngine(spark, os.path.join(work, f"store{len(units)}"),
                          **engine_kw)
        t = time.time()
        eng.bootstrap(seeds, robots)
        boot.append(time.time() - t)
        clock = _RoundClock(eng)
        t = time.time()
        stats = crawl(eng)
        crawl_s.append(time.time() - t)
        walls += clock.walls
        res.attempted += len(stats)
        units.append((eng, stats))
    res.timed_s = time.time() - t_timed
    tracer.uninstall()
    res.ops = _round_spans(tracer, t_timed)

    for eng, stats in units:      # checks (untimed)
        res.failed += check(res, Store(eng.io.root), stats)

    fetched = sum(s["n_fetched"] for _, stats in units for s in stats)
    eng, stats = units[-1]
    res.note.update(rounds=stats, round_walls=walls, bootstrap_walls=boot,
                    crawl_walls=crawl_s)
    res.metrics = {
        "setup_s": (setup_s, "s"),
        "urls_per_s": (fetched / sum(crawl_s), "urls/s"),
        "round_p50_s": (statistics.median(walls), "s"),
        "bootstrap_s": (statistics.median(boot), "s"),
        "store_kb_per_url": (
            _du(eng.io.root) / 1024.0
            / max(sum(s["n_fetched"] for s in stats), 1), "KiB/url"),
    }
    if tracer.enabled:
        urls = Store(eng.io.root).frame(
            "pages", Store(eng.io.root).latest("pages"),
            ["canonical_url"])["canonical_url"]
        res.layers.update(TR.kernel_metrics(_kernel_pages(list(urls), seed)))
        _crawl_layers(spark, eng, [s["round"] for s in stats], res, stats)
    return res


def bulk_round(spark, work, seed, seconds, tracer, t_process) -> WorkloadResult:
    """Bootstrap a large frontier, then rounds 0 and 1 with link
    discovery and hot-host salting. Not in BENCHMARK.json (see README)."""
    def check(res, st: Store, stats):
        pages = st.frame("pages", st.latest("pages"), PAGE_COLS)
        return _check_rounds(res, st, pages, stats, BULK_BUDGET, BULK_HOT)

    return _crawl(spark, work, seed, seconds, tracer, t_process,
                  ids=I.sample_ids(seed, BULK_SEEDS, 10 * BULK_SEEDS),
                  engine_kw=dict(per_host_budget=BULK_BUDGET,
                                 hot_host_threshold=BULK_HOT,
                                 n_salts=BULK_SALTS, discover_links=True),
                  crawl=lambda eng: [eng.run_round(0), eng.run_round(1)],
                  check=check)


def drain_crawl(spark, work, seed, seconds, tracer, t_process) -> WorkloadResult:
    """Bootstrap a small seed set, then CrawlEngine.run() until nothing
    fetchable is left."""
    from python_web_scraper_cleaner_spark.sources.pages import page_url

    ids = I.drain_seed_ids(seed)
    seed_urls = {I.canonical(page_url(i)) for i in ids}

    def check(res, st: Store, stats):
        pages = st.frame("pages", st.latest("pages"), PAGE_COLS)
        failed = _check_rounds(res, st, pages, stats, DRAIN_BUDGET, None)
        ev = {"seeds": seed_urls, "fetched": list(pages["canonical_url"]),
              "url_seen": st.urls("url_seen", st.latest("url_seen")),
              "frontier": st.urls("frontier", st.latest("frontier"))}
        res.evidence.append(("drain", ev))
        errs = C.check_drain(ev)
        res.errors += errs
        return len(stats) if errs else failed

    return _crawl(spark, work, seed, seconds, tracer, t_process, ids=ids,
                  engine_kw=dict(per_host_budget=DRAIN_BUDGET,
                                 discover_links=True, dedup_index=True,
                                 revisit=True),
                  crawl=lambda eng: eng.run(max_rounds=60),
                  check=check)


WORKLOADS = {"extract_slice": extract_slice, "bulk_round": bulk_round,
             "drain_crawl": drain_crawl}
