"""CrawlEngine — deterministic batch micro-rounds over the frontier.

The Spark-first rebuild of the reference's crawl loop (seed discovery →
URL dedup → polite sequential fetch → extract → write, /root/reference/
scripts/news.py + scripts/trafilatura_scraper.py + scraper_cleaner/
html_cleaner_core.py:run_batch), re-expressed as north_rule demands:

  round r:
    pending frontier ──exact anti-join vs url_seen (J1)
      ──robots broadcast filter (J3)──► dynamic priority (optional,
      priority_mode='pagerank'|'opic'|'trustrank': committed link graph
      → the chosen centrality × revisit due-ness, the frontier_priority
      composition; trustrank teleports to the committed seed_set)
      ──per-host top-k window (O4, salted)──politeness schedule──►
      fetch stage (groupBy(host).applyInPandas — per-host pacing
      serialized within a task, S3)
      ──vectorized extraction (F3, byte-identical kernel)──►
      C4 line-quality verdict (optional, c4_filter=True: pages failing
      the Raffel et al. line recipe are flagged `c4_kept=false` and
      excluded from the corpus view / signature index, audit rows kept)
      ──► near-dup probe vs the persisted MinHash signature index (optional,
      dedup_index=True: batch band-probes sig_index, near-dups flagged,
      only kept docs' bands appended — corpus never re-shingled)
    transactional commits (TableIO.commit_round: the tables' data
      writes run at once, then their snapshots publish one by one in
      ROUND_COMMITS order, the order a crash leaves a prefix of): pages+r,
      warc_segments+r (optional, archive=True: WARC capture + WET
      extracted-text twins — the pair of files Common Crawl ships;
      archive_dedup=True additionally maintains archive_digests+r and
      writes ISO 28500 revisit stubs instead of already-archived payload
      bytes), sig_index+r, links+r, url_seen+r, retries,
      fetch_history+r, frontier−batch, crawl_log+r (the resume marker)

The round is one fixed skeleton (run_round / _fetch_round) over a
RoundContext; CrawlEngine._stages, the one place a policy flag is read,
plugs each enabled policy's stages in by name: gate (_trap_cap), J1 seen
anti-join, unseen (_retry_gate), J3 robots, allowed (_adaptive_delay),
select (_select, or _ranked_select in a rank mode), politeness schedule,
fetch (simulated_fetch), fetched (_transient_failures, _directives,
_harvest_links), _extract (text + lang), extracted (_c4, _near_dups), then
the commit builders (_round_outputs plus _retries, _link_graph,
_sig_index, _archive / _deduped_archive, _fetch_history).

Every table commit is one TableIO snapshot per round, so a killed job
resumes at the last committed round and — because every ordering derives
from explicit sort keys — replays the exact same crawl order and URL-seen
set (north_rule checkpoint/resume; tests/test_crawl_engine.py proves it).
No commit builder reads a table its own round commits, which is what lets
the writes overlap without changing a committed byte.

In this sandbox the fetch stage regenerates the deterministic synthetic
HTML (sources/pages.page_record) instead of hitting the network — the
politeness scheduling, grouping, and pacing bookkeeping are the real
thing (SURVEY S3: "fetch is simulated by reading html from the synthetic
pages table").
"""

from __future__ import annotations

import dataclasses
import functools
import re as _re
import time
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udfs import extract_links_udf, lang_id_udf, with_clean_text
from ..operators import dedup as D, frontier as FR, graph as G
from ..sources.pages import page_record
from ..sources.tableio import TableIO

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), nullable=False),
    T.StructField("canonical_url", T.StringType(), nullable=False),
    T.StructField("url_hash", T.LongType(), nullable=False),
    T.StructField("host", T.StringType(), nullable=False),
    T.StructField("priority", T.IntegerType(), nullable=False),
    T.StructField("warc_ts", T.TimestampType(), nullable=False),
])

SEEN_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType(), nullable=False),
    T.StructField("canonical_url", T.StringType(), nullable=False),
    T.StructField("first_seen_round", T.IntegerType(), nullable=False),
])

# transient-failure retry state (retry_failed=True): attempt = fetches
# already consumed; due_round = earliest round the next attempt may run
RETRY_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType(), nullable=False),
    T.StructField("attempt", T.IntegerType(), nullable=False),
    T.StructField("due_round", T.IntegerType(), nullable=False),
])

ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType(), nullable=False),
    T.StructField("crawl_delay_ms", T.LongType(), nullable=False),
    T.StructField("disallow_prefixes", T.ArrayType(T.StringType()),
                  nullable=False),
])

_FETCH_EXTRA = [
    T.StructField("fetch_slot", T.IntegerType(), nullable=False),
    T.StructField("scheduled_offset_ms", T.LongType(), nullable=False),
    T.StructField("html", T.BinaryType()),
    T.StructField("fetch_ok", T.BooleanType(), nullable=False),
]

_DOCID_RE = _re.compile(r"/(\d+)\.html$")

# pages' columns: every round's, then the optional ones the fetched
# stages add (each present only when its stage ran), in this order
PAGE_COLS = ("url", "canonical_url", "url_hash", "host", "priority",
             "warc_ts", "round", "partition_id", "fetch_slot",
             "scheduled_offset_ms", "fetch_ok", "text", "lang", "ok",
             "extracted_chars", "error")
STAGE_PAGE_COLS = ("noindex", "nofollow", "links", "attempt")

# Fixed policy values, constants rather than options.
DISCOVERY_PRIORITY = 9     # discovered links crawl after every seed
PAGERANK_ITERS = 3         # fixed-point iterations of every rank mode
DEDUP_THRESHOLD = 0.7      # MinHash Jaccard estimate flagging a near-dup
C4_MIN_WORDS = 5           # C4 words-per-line floor
MAX_ATTEMPTS = 3           # fetches a url gets in retry mode
RETRY_BACKOFF_ROUNDS = 1   # retry due = round + backoff·2^attempt

# Tables bootstrap() writes (frontier is rewritten every round too).
BOOTSTRAP_TABLES = ("frontier", "robots", "seed_set")

# A round's commit set, in commit order: (table, mode). The one replay
# guard: an "append" is skipped when the table already carries the round
# (appending again would duplicate rows); an "overwrite" always re-runs,
# being a pure function of committed state and the round's pages.
# pages commits FIRST — it is the round's write-ahead record, so a crash
# anywhere later replays from it. crawl_log is the RESUME MARKER
# (last_round() keys on it), so it commits LAST: every earlier crash
# window leaves crawl_log behind and run() re-enters the round's replay
# path. Were the marker committed before the frontier advance, a crash in
# between would be unreplayable — resume would skip past the round,
# losing its discovered links and leaving its fetched urls in the
# frontier forever.
ROUND_COMMITS = (
    ("pages", "append"),
    ("warc_segments", "append"),
    ("archive_digests", "append"),
    ("sig_index", "append"),
    ("links", "append"),
    ("url_seen", "append"),
    ("retries", "overwrite"),
    ("fetch_history", "append"),
    ("frontier", "overwrite"),
    ("crawl_log", "append"),
)


def synthesize_seeds(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic seed list matching sources/pages.page_record's URL
    scheme, built with pure expressions (no Python loop — the 100k+ seed
    path for benchmarks). Same Zipf-ish host skew: host0 ≈ 30% of URLs."""
    ids = spark.range(n)
    r = (F.col("id") * 2654435761) % 100
    hostidx = (F.when(r < 30, 0).when(r < 42, 1).when(r < 54, 2)
               .otherwise(3 + (r - 54) % 45))
    section = F.when(F.col("id") % 20 == 19, F.lit("private")).otherwise(
        F.element_at(F.array(F.lit("news"), F.lit("tech"), F.lit("sports")),
                     (F.col("id") % 3 + 1).cast("int")))
    url = F.concat(F.lit("https://host"), hostidx.cast("string"),
                   F.lit(".example/"), section, F.lit("/"),
                   F.col("id").cast("string"), F.lit(".html"))
    return ids.select(url.alias("url"),
                      (F.col("id") % 10).cast("int").alias("priority"),
                      F.to_timestamp(F.lit("2026-01-01"))
                      .alias("discovered_ts"))


def default_robots(spark: SparkSession, n_hosts: int = 48) -> DataFrame:
    """Deterministic per-host rules for the synthetic hosts: staggered
    crawl delays, '/private' disallowed everywhere."""
    rows = [(f"host{h}.example", (h * 250) % 1000, ["/private"])
            for h in range(n_hosts)]
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def canonicalize_seeds(seeds: DataFrame) -> DataFrame:
    """seeds(url, priority, discovered_ts) → FRONTIER_SCHEMA rows, one per
    canonical url (min priority / earliest ts win — deterministic)."""
    from .queries import _canonicalize
    canon = _canonicalize(seeds)
    return (canon
            .groupBy("canonical_url", "host")
            .agg(F.min("url").alias("url"),
                 F.min("priority").cast("int").alias("priority"),
                 F.min("discovered_ts").alias("warc_ts"))
            .withColumn("url_hash", F.xxhash64("canonical_url"))
            .select(*[f.name for f in FRONTIER_SCHEMA]))


def _capture(url: str) -> bytes | None:
    """The simulated capture of ``url``: the deterministic corpus page its
    trailing doc id names (sources/pages.page_record), or None when it
    names none. The one seam the fetch stage and the archive builders
    share; a real deployment captures the bytes inside the fetch task."""
    m = _DOCID_RE.search(url)
    return page_record(int(m.group(1)))["html"] if m else None


def simulated_fetch(batch: DataFrame) -> DataFrame:
    """Fetch stage: groupBy(host).applyInPandas so one task owns one host and
    its pacing (SURVEY O4/S3). Rows are processed in fetch_slot order —
    exactly the committed politeness schedule. HTML comes from the
    deterministic corpus generator; a missing doc_id models a fetch error
    (the reference's download-failure row, trafilatura_scraper.py:48-54)."""
    out_schema = T.StructType(
        [f for f in batch.schema.fields
         if f.name not in ("fetch_slot", "scheduled_offset_ms")]
        + _FETCH_EXTRA)
    cols = [f.name for f in out_schema.fields]

    def fetch_host(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("fetch_slot").reset_index(drop=True)
        htmls = [_capture(url) for url in pdf["url"]]
        pdf["html"] = htmls
        pdf["fetch_ok"] = pd.array([h is not None for h in htmls],
                                   dtype=bool)
        return pdf[cols]

    return batch.groupBy("host").applyInPandas(fetch_host, schema=out_schema)


@F.pandas_udf(T.StringType())
def _capture_md5(urls: pd.Series) -> pd.Series:
    """md5 hex of the CAPTURE payload per url — the archival-dedup key.
    In this sandbox the capture regenerates from the url (_capture); a
    real deployment hashes the fetched bytes inside the fetch task and
    commits the digest into pages. Arrow-batched, never per-row udf()."""
    import hashlib

    return pd.Series([hashlib.md5(_capture(url) or b"").hexdigest()
                      for url in urls])


def _observed_latency_ms(url_hash_col, host_col):
    """The fetch clock's simulated stand-in: per-fetch latency as a pure
    function of (host, url_hash) — hosts get distinct base latencies
    (their "server speed"), urls jitter around it. A REAL deployment
    replaces this one expression with the elapsed-ms the fetch stage
    measured (the fetcher owns the clock and writes it into pages);
    everything downstream (estimate_crawl_delays, budgets, pacing) is
    already wired for that column. Purity is the point in simulation:
    adaptive delays derive from committed pages alone, so crash replay
    and kill/resume reproduce byte-identical schedules (north_rule)."""
    base = F.pmod(F.xxhash64(host_col), F.lit(900))
    jitter = F.pmod(F.xxhash64(url_hash_col), F.lit(400))
    return (base + jitter).cast("long")


def _chain(stages, df: DataFrame, *args) -> DataFrame:
    """Run frame stages in order: ``df = stage(*args, df)`` for each."""
    for stage in stages:
        df = stage(*args, df)
    return df


class RoundContext:
    """What one round's stages share: its id, the pending frontier (as
    the gate stages leave it), whether the round replays its committed
    pages, the committed url_seen and retry state (each read once, on
    first use), and the signature-index gap repair the near-dup stage
    computes for the sig_index commit."""

    def __init__(self, io: TableIO, round_id: int, pending: DataFrame,
                 replay: bool) -> None:
        self.io, self.id, self.pending, self.replay = (
            io, round_id, pending, replay)
        self.sig_repair: DataFrame | None = None

    @functools.cached_property
    def seen(self) -> DataFrame:
        return self.io.read_or_empty("url_seen", SEEN_SCHEMA)

    @functools.cached_property
    def retries(self) -> DataFrame:
        return self.io.read_or_empty("retries", RETRY_SCHEMA)


_stage_list = functools.partial(dataclasses.field, default_factory=list)


@dataclasses.dataclass
class RoundStages:
    """A round's policy stages, by the point of the fixed round skeleton
    they join (CrawlEngine._stages fills it). Frame stages take
    ``(rnd, df)`` and return the new frame; each list runs in order."""
    select: Callable                  # allowed urls → the round's batch
    gate: list = _stage_list()        # (rnd) → (stat, thunk); edit pending
    unseen: list = _stage_list()      # after the seen anti-join
    allowed: list = _stage_list()     # after the robots filter
    fetched: dict = dataclasses.field(default_factory=dict)  # after fetch
    extracted: list = _stage_list()   # after extract and lang
    stats: list = _stage_list()       # count columns over the round frame
    done: list = _stage_list()        # pages → the urls the round finished
    grow: list = _stage_list()        # (rnd, pages, done, rem) → frontier
    commits: list = _stage_list()     # (rnd, pages, out) → {table: builder}


class CrawlEngine:
    """Round-driven crawl over TableIO tables: frontier, url_seen, robots,
    pages, crawl_log."""

    def __init__(self, spark: SparkSession, root: str, *,
                 per_host_budget: int = 5,
                 hot_host_threshold: int | None = None,
                 n_salts: int = 8,
                 discover_links: bool = False,
                 priority_mode: str = "static",
                 rank_refresh_every: int = 1,
                 dedup_index: bool = False,
                 archive: bool = False,
                 archive_pages_per_segment: int = 50,
                 archive_dedup: bool = False,
                 revisit: bool = False,
                 trap_variant_cap: int | None = None,
                 adaptive_delay: bool = False,
                 round_ms: int | None = None,
                 retry_failed: bool = False,
                 url_filter: bool = False,
                 strip_tracking: bool = False,
                 c4_filter: bool = False,
                 c4_min_sentences: int = 3,
                 honor_directives: bool = False) -> None:
        # every count option is >= 1 (None: off). A budget or salt count
        # of 0 would select nothing (or take pmod by 0 in the salt hash):
        # run() would stop after one empty round, frontier still pending
        for name, value in (
                ("per_host_budget", per_host_budget), ("n_salts", n_salts),
                ("rank_refresh_every", rank_refresh_every),
                ("archive_pages_per_segment", archive_pages_per_segment),
                ("trap_variant_cap", trap_variant_cap),
                ("round_ms", round_ms)):
            if value is not None and value < 1:
                raise ValueError(f"{name} must be >= 1")
        self.spark = spark
        self.io = TableIO(spark, root)
        self.per_host_budget = per_host_budget
        self.hot_host_threshold = hot_host_threshold
        self.n_salts = n_salts
        # URL discovery: harvest <a href> from fetched pages and grow the
        # frontier (the reference only discovers via its external seed
        # source, scripts/news.py:1-9 — in-page discovery is what makes
        # this a crawler rather than a fetch queue). Discovered URLs get
        # the lowest priority so seeds always crawl first — deterministic.
        self.discover_links = discover_links
        # Dynamic frontier priority (VERDICT r4 #1): the rank modes
        # replace the static seed `priority` ordering with the composed
        # frontier_priority decision (plans/queries.q_frontier_priority,
        # proven oracle-green as a registry entry) inside the production
        # round loop: link centrality over the DISCOVERED graph (a
        # `links` table appended every round) × revisit due-ness (an
        # optional `fetch_history` table), never-fetched pages first.
        # Three interchangeable centralities share the seam (all bigint
        # fixed-point over the committed graph — operators/graph.py):
        #   'pagerank'  — damped global importance (the default choice);
        #   'opic'      — Abiteboul's OPIC cash+history estimator, the
        #                 crawl-native importance that needs no global
        #                 convergence (rank = hist_fp + cash_fp);
        #   'trustrank' — teleport restricted to the BOOTSTRAP SEED SET
        #                 (committed as `seed_set` at bootstrap): trust
        #                 flows out of the operator-vetted seeds, so
        #                 link-farm neighborhoods unreachable from them
        #                 rank exactly 0 — spam demotion in the fetch
        #                 order itself.
        # Everything derives from committed tables, so kill/resume still
        # replays the identical order (north_rule invariant).
        # PAGERANK_ITERS is the iteration count for ALL rank modes.
        if priority_mode not in ("static", "pagerank", "opic", "trustrank"):
            raise ValueError(f"unknown priority_mode {priority_mode!r}")
        self.priority_mode = priority_mode
        # Rank refresh cadence: round r ranks over the links committed
        # BEFORE basis = r - (r % K). At 10^10 urls re-ranking the whole
        # accumulated graph every round is the dominant scheduler cost;
        # K>1 freezes the basis for K rounds so the rank frame is
        # computed once per window (cached in-process, persisted) and
        # each round pays only the 8-byte-key join. Resume-deterministic
        # at any K: the basis is a pure function of the round id and the
        # committed links table (rows are round-stamped).
        self.rank_refresh_every = rank_refresh_every
        self._rank_cache: tuple | None = None  # (basis, persisted ranks)
        # Per-round near-dup dedup against a PERSISTED MinHash signature
        # index (VERDICT r4 #2): each round probes the new batch against
        # the `sig_index` table (operators/dedup.minhash_lsh_probe_index),
        # flags near-dups in the pages sink, and appends only the KEPT
        # docs' bands — the corpus is never re-shingled. Fixed signature
        # geometry per store.
        self.dedup_index = dedup_index
        self._sig_k, self._sig_hashes, self._sig_band = 3, 16, 4
        # Archival sink: commit each round's captures as WARC segments
        # plus their WET (extracted-text conversion) twins — the exact
        # pair of files Common Crawl ships — in the same transactional
        # commit set as the round's tables (sources/warc.py writers,
        # gzip-member framing, the real CC layout).
        self.archive = archive
        self.archive_pages_per_segment = archive_pages_per_segment
        # Archival payload dedup (ISO 28500 §6.7.2, what Common Crawl
        # does at write time): maintain an `archive_digests` table of
        # every payload digest ever archived; a re-capture whose digest
        # is already committed is written as a `revisit` stub pointing
        # at the first archived copy instead of the bytes again
        # (sources/warc.revisit_dedup_plan semantics, inside the engine's
        # transactional round commit set). Matters most with revisit=True
        # — unchanged re-crawls stop paying payload storage.
        if archive_dedup and not archive:
            raise ValueError("archive_dedup=True requires archive=True")
        self.archive_dedup = archive_dedup
        # Re-crawl loop: revisit=True makes the engine MAINTAIN the
        # fetch_history table (per-fetch content-change observations —
        # the substrate _apply_priority's due-ness ordering and
        # schedule_revisits' Cho–G-M backoff consume). The engine's time
        # axis is the round id: 1 round == 1 "hour" of the backoff
        # schedule.
        self.revisit = revisit
        # Crawler-trap guard: at most N pending urls per (host, path)
        # enter a round; the overflow is DROPPED from the frontier (the
        # enforcement half of operators/frontier.url_trap_signals /
        # cap_trap_variants — a crawler abandons a calendar, it doesn't
        # queue it forever)
        self.trap_variant_cap = trap_variant_cap
        # Adaptive politeness: adaptive_delay=True raises each host's
        # effective crawl delay to max(robots Crawl-delay, 1.5 × observed
        # p95 fetch latency) before budgets and pacing are computed
        # (operators/frontier.estimate_crawl_delays over the COMMITTED
        # pages — a pure function of committed state, so crash replay and
        # kill/resume stay byte-identical; see _observed_latency_ms for
        # the simulated-clock seam). round_ms additionally makes per-host
        # budgets delay-aware (select_round_batch round_ms semantics: a
        # host that asks for d ms absorbs at most round_ms/d fetches).
        self.adaptive_delay = adaptive_delay
        self.round_ms = round_ms
        # Transient-failure retry: retry_failed=True stops treating a
        # failed fetch as permanent. Failed urls stay OUT of url_seen and
        # IN the frontier while attempts remain; a `retries` table
        # (url_hash, attempt, due_round) gates re-selection with
        # exponential backoff (due = round + RETRY_BACKOFF_ROUNDS·
        # 2^attempt); urls that exhaust MAX_ATTEMPTS enter url_seen as
        # permanent failures.
        # All transitions are pure functions of committed tables, so WAL
        # replay and kill/resume stay byte-identical. The simulated fetch
        # seam models transience as a pure function of (url_hash,
        # attempt) — a REAL fetcher just reports fetch_ok and everything
        # downstream is already wired.
        self.retry_failed = retry_failed
        # URL pre-fetch filter (operators/frontier.url_prefilter): gate
        # BOTH frontier-ingestion points — bootstrap seeds and per-round
        # discovered links — so a blocklisted/spam-shaped url never
        # occupies frontier state or a fetch slot. A pure stateless
        # projection over the candidate set, so replay/resume stay
        # byte-identical; at web scale this is the cheapest drop point
        # there is (the byte never downloaded).
        self.url_filter = url_filter
        # Aggressive URL canonicalization (operators/frontier.
        # url_tracking_canonical): strip tracking/session params + sort
        # survivors on RAW candidate urls BEFORE the lossless
        # canonicalization, so tracking variants of one page collapse to
        # a single frontier row and a single fetch. A pure projection of
        # the candidate url — replay/resume stay byte-identical. Off by
        # default: parameter dropping is a per-crawl policy choice and
        # changes crawl ordering vs the reference contract.
        self.strip_tracking = strip_tracking
        # C4 line-level quality gate (operators/textstats.c4_kept_col —
        # the Raffel et al. 2020 recipe, kernel.c4_clean twin): each
        # round stamps extracted pages with a `c4_kept` verdict; failed
        # pages stay in the sink for audit but are excluded from the
        # corpus view the signature index and near-dup probe consume
        # (same flag-don't-delete contract as near_dup). A pure
        # projection of the extracted text, so replay/resume stay
        # byte-identical.
        self.c4_filter = c4_filter
        self.c4_min_sentences = c4_min_sentences
        # Per-page crawl directives (operators/frontier.meta_robots_flags
        # — the extract_directives expressions): each round stamps
        # extracted pages with `noindex`/`nofollow` from the robots meta
        # tag. noindex pages stay in the sink for audit but are excluded
        # from the corpus view and the signature index (the c4_kept
        # flag-don't-delete contract); nofollow suppresses THIS page's
        # out-link harvest, so its targets never enter the frontier via
        # it (they remain discoverable through other pages — per-page
        # directive semantics, not a url blocklist). Pure projections of
        # the fetched html, so replay/resume stay byte-identical.
        self.honor_directives = honor_directives

    def _ingest(self, raw: DataFrame) -> DataFrame:
        """Candidate urls (url, priority, discovered_ts) → FRONTIER_SCHEMA
        rows — the one way a url enters the frontier (bootstrap seeds,
        discovered links): the tracking-param strip (strip_tracking), the
        lossless canonicalization, then the url pre-fetch filter
        (url_filter). The filter runs on canonical_url — post-
        normalization, so an uppercased blockword or a default-port
        variant cannot sneak past the lexical gate."""
        if self.strip_tracking:
            raw = (FR.url_tracking_canonical(raw, url_col="url")
                   .withColumn("url", F.col("canon_url"))
                   .select(*raw.columns))
        frontier = canonicalize_seeds(raw)
        if not self.url_filter:
            return frontier
        return (FR.url_prefilter(frontier, url_col="canonical_url")
                .filter(F.col("keep")).select(*frontier.columns))

    # -- lifecycle ------------------------------------------------------------
    def bootstrap(self, seeds: DataFrame | None = None,
                  robots: DataFrame | None = None,
                  *, robots_txt: DataFrame | None = None,
                  sitemap_docs: DataFrame | None = None,
                  sitemap_priority: int = 9,
                  feed_docs: DataFrame | None = None,
                  feed_priority: int = 8) -> None:
        """Seed the frontier and robots tables. ``robots`` is a pre-parsed
        rules table (host, crawl_delay_ms, disallow_prefixes[,
        allow_prefixes]); alternatively pass ``robots_txt`` as raw
        (host, robots_txt) rows and the RFC-9309-subset parser builds the
        rules (operators/frontier.parse_robots_table).

        ``sitemap_docs`` seeds the frontier from fetched sitemap-protocol
        urlset documents (rows with a ``sitemap_xml`` column — the output
        of fetching what robots_sitemap_urls / parse_sitemap_index
        discovered): each listed URL becomes a seed at
        ``sitemap_priority`` with ``discovered_ts`` taken from the
        optional <lastmod> (epoch when absent — 'age unknown' sorts
        oldest, so explicit seeds and dated entries outrank it). Explicit
        ``seeds`` and sitemap entries landing on the same canonical URL
        collapse in canonicalize_seeds (min priority / earliest ts win —
        an explicit priority-0 seed beats its sitemap twin
        deterministically).

        ``feed_docs`` seeds the same way from fetched RSS/Atom feed
        documents (rows with a ``feed_xml`` column — see
        operators/frontier.parse_feeds): entry URLs enter at
        ``feed_priority`` (default 8 — BELOW sitemap's 9 because a feed
        lists what the site just published, the freshness channel) with
        ``discovered_ts`` from the optional pubDate/updated via the same
        try_to_timestamp degrade-to-epoch seam (RFC-822 pubDates a real
        feed may carry parse as NULL → epoch, never an ANSI abort). All
        three channels merge by canonical key in canonicalize_seeds."""
        if robots is None:
            if robots_txt is None:
                raise ValueError("pass robots or robots_txt")
            robots = FR.parse_robots_table(robots_txt)
        if seeds is None and sitemap_docs is None and feed_docs is None:
            raise ValueError("pass seeds and/or sitemap_docs/feed_docs")
        for docs, parse, prio, ts_col in (
                (sitemap_docs, FR.parse_sitemaps, sitemap_priority,
                 "lastmod"),
                (feed_docs, FR.parse_feeds, feed_priority, "published")):
            if docs is None:
                continue
            doc_seeds = parse(docs).select(
                "url",
                F.lit(int(prio)).alias("priority"),
                F.coalesce(
                    # try_: a malformed date in one wild document must
                    # degrade to the epoch default, not ANSI-abort the job
                    F.try_to_timestamp(F.when(F.col(ts_col) != "",
                                              F.col(ts_col))),
                    F.to_timestamp(F.lit("1970-01-01")),
                ).alias("discovered_ts"))
            seeds = (doc_seeds if seeds is None
                     else seeds.select("url", "priority", "discovered_ts")
                     .unionByName(doc_seeds))
        frontier = self._ingest(seeds)
        self.io.commit_round(-1, [
            ("frontier", "overwrite", lambda: frontier),
            ("robots", "overwrite", lambda: robots),
            # the vetted seed identity, durable: trustrank teleports to
            # this set (committed unconditionally — tiny, and it lets any
            # store switch into trustrank mode later without
            # re-bootstrapping)
            ("seed_set", "overwrite",
             lambda: frontier.select("url_hash").distinct())])

    def last_round(self) -> int:
        r = self.io.latest_round("crawl_log")
        return -1 if r is None else r

    def _ranks_at_basis(self, basis: int):
        """Centrality frame (id, rank_fp) over the links committed BEFORE
        ``basis``, or None when that graph is empty. A pure function of
        (committed links table [+ committed seed_set for trustrank],
        basis) — which is what makes kill/resume reproduce the ordering
        at any refresh cadence. Cached in-process per basis (persisted,
        nodes-sized): with rank_refresh_every=K the graph is ranked once
        per K-round window and the other K−1 rounds pay only the join.

        The centrality is the priority_mode: pagerank (damped global),
        opic (hist+cash — the crawl-native estimator), or trustrank
        (teleport restricted to the bootstrap seed_set; seeds that never
        appeared in the harvested graph contribute no reachable mass and
        are skipped via a semi-join — conservative, deterministic). All
        three share the two-shuffles-per-iteration integer profile
        (operators/graph.py)."""
        from ..caching import bounded_persist

        if self._rank_cache is not None and self._rank_cache[0] == basis:
            return self._rank_cache[1]
        ranks = None
        if self.io.exists("links") and basis > 0:
            edges = (self.io.read("links")
                     .filter(F.col("round") < basis)
                     .select(F.col("src_hash").alias("src"),
                             F.col("dst_hash").alias("dst")))
            # rank nodes = edge endpoints only: never-linked frontier
            # entries take rank 0 via the join coalesce, so the rank
            # frame does not depend on the (round-varying) pending set
            # and one frame serves the whole refresh window
            nodes = (edges.select(F.col("src").alias("id"))
                     .unionByName(edges.select(F.col("dst").alias("id")))
                     .distinct())
            n = nodes.count()
            if n > 0:
                ranks = bounded_persist(
                    self._centrality(G, edges, nodes, n), tag="crawl_rank")
        self._rank_cache = (basis, ranks)
        return ranks

    def _centrality(self, G, edges, nodes, n):
        """Dispatch the priority_mode's centrality to (id, rank_fp)."""
        if self.priority_mode == "opic":
            st = G.opic_cash(edges, nodes, n_nodes=n,
                             rounds=PAGERANK_ITERS)
            # the OPIC importance estimate: accumulated history plus the
            # cash not yet credited (Abiteboul's h+c estimator)
            return st.select(
                "id", (F.col("hist_fp") + F.col("cash_fp"))
                .alias("rank_fp"))
        if self.priority_mode == "trustrank":
            if not self.io.exists("seed_set"):
                raise RuntimeError(
                    "priority_mode='trustrank' needs the committed "
                    "seed_set table — re-run bootstrap() (this engine "
                    "version commits it) before resuming in this mode")
            seeds = (self.io.read("seed_set")
                     .select(F.col("url_hash").alias("id"))
                     .join(nodes, "id", "left_semi"))
            ns = seeds.count()
            if ns == 0:
                return nodes.select(
                    "id", F.lit(0).cast("long").alias("rank_fp"))
            return (G.trustrank_fixed_point(
                edges, seeds, nodes, n_seeds=ns,
                iters=PAGERANK_ITERS)
                .select("id", F.col("trust_fp").alias("rank_fp")))
        return G.pagerank_fixed_point(edges, nodes, n_nodes=n,
                                      iters=PAGERANK_ITERS)

    @staticmethod
    def _corpus_view(df: DataFrame) -> DataFrame:
        """THE corpus-membership filter — the single definition of which
        pages rows are "the corpus": extraction ok, not a near-dup, C4
        gate passed, not publisher-noindexed. Column-presence-tolerant
        so it applies both to this round's in-flight batch (which may
        not carry every flag yet) and to committed stores written before
        a flag existed. The signature-index state, the probe set, and
        the per-round band append all call this one implementation —
        adding the next exclusion flag happens HERE, nowhere else, so
        the three views can never silently disagree."""
        out = df.filter(F.col("ok"))
        for flag, keep in (("near_dup", False), ("c4_kept", True),
                           ("noindex", False)):
            if flag in df.columns:
                out = out.filter(F.col(flag) if keep else ~F.col(flag))
        return out

    def _sig_state(self):
        """(index_bands | None, repair_bands | None) for this round's
        near-dup probe. The committed ``sig_index`` table is the fast
        path; a round-id gap vs ``pages`` (crash between the two commits,
        or dedup_index newly enabled on an existing store) is repaired by
        banding ONLY the gap rounds' kept docs — bounded re-shingling,
        never the whole corpus. The repair bands join this round's
        append so the store heals."""
        io = self.io
        if not io.exists("pages"):
            return None, None
        committed = io.read("pages")
        kept = self._corpus_view(committed)
        sig_r = io.latest_round("sig_index")
        index = io.read("sig_index") if sig_r is not None else None
        if sig_r == io.latest_round("pages"):
            return index, None
        gap = kept.filter(F.col("round") > (-1 if sig_r is None else sig_r))
        par = self.spark.sparkContext.defaultParallelism
        repair = D.banded_signatures(
            gap.select("url_hash", "text")
            .repartition(par, F.col("url_hash")), "url_hash", "text",
            k=self._sig_k, n_hashes=self._sig_hashes,
            band_size=self._sig_band).localCheckpoint(eager=True)
        index = repair if index is None else index.unionByName(repair)
        return index, repair

    ARCHIVE_SCHEMA = T.StructType([
        T.StructField("round", T.IntegerType(), nullable=False),
        T.StructField("host", T.StringType(), nullable=False),
        T.StructField("seg_block", T.IntegerType(), nullable=False),
        T.StructField("n_warc", T.IntegerType(), nullable=False),
        T.StructField("n_wet", T.IntegerType(), nullable=False),
        T.StructField("n_revisit", T.IntegerType(), nullable=False),
        T.StructField("warc", T.BinaryType(), nullable=False),
        T.StructField("wet", T.BinaryType(), nullable=False),
    ])

    def _archive_plan(self, pages: DataFrame,
                      round_id: int) -> tuple:
        """(per-url record plan, new digest rows) for archive_dedup=True —
        a PURE FUNCTION of (this round's pages rows, archive_digests
        rounds < round_id), so a crash anywhere in the commit set replays
        to the identical plan. A capture whose digest is already
        committed becomes a revisit stub pointing at the FIRST archived
        copy (min(struct(ts, url)) — never arrival order); among digests
        new THIS round the same election picks the one response, and the
        rest of the round's copies refer to it. Only the winners' rows
        enter archive_digests.

        Scale shape: digests are md5 inside the Arrow fetch-seam UDF and
        only (url, ts, 32-byte digest) rows reach the two digest-keyed
        aggregates + join-backs; the archive_digests probe side carries
        three narrow columns per UNIQUE payload ever archived, and the
        payload bytes themselves never enter the plan at all."""
        from ..sources.warc import elect_archive_winners
        fetched = (pages.filter("fetch_ok")
                   .select("url",
                           F.date_format("warc_ts",
                                         "yyyy-MM-dd'T'HH:mm:ss'Z'")
                           .alias("ts"))
                   .withColumn("digest", _capture_md5(F.col("url"))))
        prior = None
        if self.io.exists("archive_digests"):
            prior = (self.io.read("archive_digests")
                     .filter(F.col("round") < round_id)
                     .groupBy("digest")
                     .agg(F.min(F.struct("ts", "url")).alias("_p"))
                     .select("digest", F.col("_p.url").alias("url"),
                             F.col("_p.ts").alias("ts")))
        # shared election (sources/warc.elect_archive_winners) — the
        # ONE implementation of the §6.7.2 winner semantics, so the
        # engine sink and the standalone revisit_dedup_plan operator
        # cannot drift apart
        j2 = elect_archive_winners(fetched, prior=prior)
        is_resp = F.col("_is_resp")
        plan = j2.select(
            "url", "digest",
            F.when(is_resp, F.lit("response")).otherwise(F.lit("revisit"))
            .alias("record_type"),
            F.when(is_resp, F.lit(None).cast("string"))
            .otherwise(F.col("_ref_url")).alias("refers_to_url"),
            F.when(is_resp, F.lit(None).cast("string"))
            .otherwise(F.col("_ref_ts")).alias("refers_to_ts"))
        new_digests = (j2.filter(is_resp)
                       .select("digest", "url", "ts",
                               F.lit(round_id).cast("int").alias("round")))
        return plan, new_digests

    def _build_segments(self, pages: DataFrame, round_id: int,
                        plan: DataFrame | None = None) -> DataFrame:
        """The round's archival output: one WARC segment (response records,
        raw capture) + its WET twin (conversion records, the committed
        extracted text — failed extractions absent, real WET semantics)
        per (host, fetch_slot-block) group, in crawl order within each
        segment. Everything is a PURE FUNCTION of the committed pages rows
        — which is what makes the commit replay-safe: a crash between the
        pages and warc_segments commits heals to byte-identical segments
        (gzip members are mtime-0 deterministic).

        Scale shape: segment grouping is (host, fetch_slot // N) — dense
        per-host slots bound every segment at N records with NO global
        window or extra shuffle beyond the one groupBy; blobs are built
        and stay inside the Arrow stage. In this sandbox html regenerates
        from the url via the simulated-capture seam (_capture — the one
        simulated_fetch uses); in a real deployment the capture is taken
        inside the fetch task and this builder consumes the fetch cache
        instead."""
        from ..sources.warc import (build_revisit_record, build_warc_record,
                                    build_warcinfo, build_wet_record,
                                    gzip_member)

        pps = self.archive_pages_per_segment
        src = (pages.filter("fetch_ok")
               .withColumn("seg_block",
                           (F.col("fetch_slot") / pps).cast("int"))
               .select("host", "seg_block", "fetch_slot", "url",
                       F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
                       .alias("ts"), "ok", "text"))
        if plan is not None:
            # archive_dedup: per-url record plan (response vs revisit
            # stub) joined on the round-unique url key
            src = src.join(plan, "url", "left")
        else:
            src = src.withColumn("record_type", F.lit("response"))
            for c in ("digest", "refers_to_url", "refers_to_ts"):
                src = src.withColumn(c, F.lit(None).cast("string"))

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("fetch_slot").reset_index(drop=True)
            host, block = pdf["host"][0], int(pdf["seg_block"][0])
            warc_parts = [gzip_member(build_warcinfo(block))]
            wet_parts = [gzip_member(build_warcinfo(block))]
            n_warc = n_wet = n_revisit = 0
            for row in pdf.itertuples():
                if row.record_type == "revisit":
                    warc_parts.append(gzip_member(build_revisit_record(
                        row.url, row.ts, row.refers_to_url,
                        row.refers_to_ts, row.digest)))
                    n_revisit += 1
                else:
                    warc_parts.append(gzip_member(build_warc_record(
                        row.url, row.ts, _capture(row.url))))
                    n_warc += 1
                if row.ok:
                    wet_parts.append(gzip_member(
                        build_wet_record(row.url, row.ts, row.text)))
                    n_wet += 1
            return pd.DataFrame(
                [(round_id, host, block, n_warc, n_wet, n_revisit,
                  b"".join(warc_parts), b"".join(wet_parts))],
                columns=["round", "host", "seg_block", "n_warc", "n_wet",
                         "n_revisit", "warc", "wet"])

        return (src.groupBy("host", "seg_block")
                .applyInPandas(build, schema=self.ARCHIVE_SCHEMA))

    def _build_fetch_history(self, pages: DataFrame,
                             round_id: int) -> DataFrame:
        """The round's content-change observations (revisit=True): one row
        per successful fetch with page_id=url_hash, ts=round (the engine's
        time axis), a text digest, and ``changed`` = the digest differs
        from the LAST committed digest for that page (first-ever fetch
        counts as a change — it starts the backoff clock at base). Fetch
        failures don't advance the change clock (no row). A pure function
        of (this round's committed pages rows, fetch_history rounds < r),
        so replay after a crash between the pages and fetch_history
        commits re-derives identical rows.

        Scale shape: one per-page max_by aggregate over history < r plus
        an 8-byte-keyed left join; digests are xxhash64 inside codegen;
        text never shuffles (digest is computed before the join)."""
        fetched = (pages.filter("fetch_ok")
                   .select(F.col("url_hash").alias("page_id"),
                           F.lit(round_id).cast("int").alias("ts"),
                           F.col("url_hash").alias("fetch_id"),
                           F.xxhash64(F.coalesce(F.col("text"), F.lit("")))
                           .alias("digest")))
        if self.io.exists("fetch_history"):
            prev = (self.io.read("fetch_history")
                    .filter(F.col("ts") < round_id)
                    .groupBy("page_id")
                    .agg(F.max_by("digest", F.struct("ts", "fetch_id"))
                         .alias("_prev")))
            fetched = fetched.join(prev, "page_id", "left")
        else:
            fetched = fetched.withColumn("_prev",
                                         F.lit(None).cast("long"))
        return (fetched
                .withColumn("changed",
                            F.col("_prev").isNull()
                            | (F.col("_prev") != F.col("digest")))
                .select("page_id", "ts", "fetch_id", "changed", "digest"))

    def schedule_revisits(self, round_id: int) -> int:
        """The re-crawl transition: pages DUE under the Cho–G-M backoff
        (last fetch ts + next_interval_hours ≤ round_id, intervals from
        operators/frontier.revisit_schedule over the committed
        fetch_history) re-enter the frontier and leave url_seen — both
        committed at ``round_id`` (the transition owns a round id so
        last_round()/resume see it). Returns the number of due pages.

        IDEMPOTENT BY CONSTRUCTION, which is the crash-healing story:
        the due set is a pure function of (fetch_history, pages,
        round_id) — tables this transition never writes — and each
        commit is a set operation that re-applies to the same result
        (frontier ∪ due deduped on the canonical key; url_seen − due
        twice is url_seen − due; crawl_log guard). A crash
        between any two commits heals by re-running the whole
        transition (run() detects frontier round > last_round and does
        exactly that), landing byte-identical to an uninterrupted one.

        Scale shape: everything is keyed on the 8-byte url_hash; the
        due set is typically a small fraction of the corpus, so the
        frontier/url_seen updates are anti/semi joins with a small
        build side.

        With dedup_index=True a refetched page probes an index that
        already contains its own bands: the probe drops self-pairs
        (same url_hash) structurally, so an unchanged refetch is NOT
        self-flagged; its bands append again (demo-acceptable index
        growth — production would merge bands per url_hash on append).
        """
        io = self.io
        if round_id <= self.last_round():
            raise ValueError("schedule_revisits round_id must be beyond "
                             "the last committed round")
        if not io.exists("fetch_history"):
            return 0
        fh = io.read("fetch_history")
        rev = FR.revisit_schedule(fh)
        last = fh.groupBy("page_id").agg(F.max("ts").alias("_last_ts"))
        due = (rev.join(last, "page_id")
               .filter(F.col("_last_ts") + F.col("next_interval_hours")
                       <= F.lit(round_id))
               .select(F.col("page_id").alias("url_hash"))
               .localCheckpoint(eager=True))
        n_due = due.count()
        if n_due == 0:
            return 0
        cols = ["url", "canonical_url", "host", "priority", "warc_ts"]
        latest = (io.read("pages").groupBy("url_hash")
                  .agg(F.max_by(F.struct(*cols), F.col("round"))
                       .alias("_p"))
                  .select("url_hash", "_p.*"))
        due_rows = (latest.join(due, "url_hash", "left_semi")
                    .select(*[f.name for f in FRONTIER_SCHEMA]))
        merged = (io.read("frontier").unionByName(due_rows)
                  .groupBy("canonical_url", "host")
                  .agg(F.min("url").alias("url"),
                       F.min("priority").cast("int").alias("priority"),
                       F.min("warc_ts").alias("warc_ts"),
                       F.min("url_hash").alias("url_hash"))
                  .select(*[f.name for f in FRONTIER_SCHEMA]))
        # every frame reads its table before the commit below (TableIO.
        # read pins the snapshot's dirs), so the lineage stays on the
        # pre-transition versions
        compacted = io.read("url_seen").join(due, "url_hash", "left_anti")
        writes = [("frontier", "overwrite", lambda: merged),
                  ("url_seen", "overwrite", lambda: compacted)]
        if not self._committed("crawl_log", round_id):
            # partition_id = -1 marks the revisit-transition row; it
            # advances last_round() so resume lands after the transition
            marker = self.spark.range(1).select(
                F.lit(round_id).cast("int").alias("round"),
                F.lit(-1).cast("int").alias("partition_id"),
                F.lit(0).cast("long").alias("n_urls"),
                F.lit(0).cast("long").alias("n_ok"),
                F.lit(0).cast("long").alias("n_err"),
                F.lit(0).cast("long").alias("extracted_chars"),
                F.lit(time.time()).cast("double").alias("wall_ts"))
            writes.append(("crawl_log", "append", lambda: marker))
        io.commit_round(round_id, writes)
        return n_due

    def _committed(self, name: str, round_id: int) -> bool:
        """True when ``name`` already carries this round's commit (replay
        must skip it — an append-again would duplicate rows). >= not ==:
        a table can be AHEAD of a replayed round in rolled-back stores."""
        r = self.io.latest_round(name)
        return r is not None and r >= round_id

    # -- one round -------------------------------------------------------------
    def _stages(self) -> RoundStages:
        """The round's policy stages — the one place a round-policy flag is
        read. run_round's skeleton is fixed; each enabled policy plugs its
        stages in at the points named here, in the order added. No stage
        body reads another policy's flag."""
        st = RoundStages(select=self._select)
        if self.trap_variant_cap is not None:
            st.gate.append(self._trap_cap)
        if self.retry_failed:
            st.unseen.append(self._retry_gate)
            st.fetched["transient"] = self._transient_failures
            st.done.append(self._retry_done)
            st.commits.append(self._retries)
        if self.adaptive_delay:
            st.allowed.append(self._adaptive_delay)
        nofollow = F.lit(False)
        if self.honor_directives:
            st.fetched["directives"] = self._directives
            st.stats += [F.count_if("noindex").alias("n_noindex"),
                         F.count_if("nofollow").alias("n_nofollow")]
            nofollow = F.col("nofollow")
        # the rank modes and discovery share the one links stage
        harvest = functools.partial(self._harvest_links, nofollow=nofollow)
        if self.priority_mode != "static":
            st.select = self._ranked_select
            st.fetched["links"] = harvest
            st.commits.append(self._link_graph)
        if self.discover_links:
            st.fetched["links"] = harvest
            st.grow.append(self._discovered)
        if self.c4_filter:
            st.extracted.append(self._c4)
            st.stats.append(F.count_if(F.col("ok") & ~F.col("c4_kept"))
                            .alias("n_c4_dropped"))
        if self.dedup_index:
            st.extracted.append(self._near_dups)
            st.stats.append(F.count_if("near_dup").alias("n_near_dup"))
            st.commits.append(self._sig_index)
        if self.archive_dedup:     # __init__ checks it implies archive
            st.commits.append(self._deduped_archive)
        elif self.archive:
            st.commits.append(self._archive)
        if self.revisit:
            st.commits.append(self._fetch_history)
        return st

    def run_round(self, round_id: int) -> dict:
        """One round: gate the committed frontier, fetch the batch (or
        replay it from committed pages), then commit ROUND_COMMITS.
        Returns the round's stats."""
        io, st = self.io, self._stages()
        rnd = RoundContext(io, round_id, io.read("frontier"),
                           self._committed("pages", round_id))
        deferred = dict(gate(rnd) for gate in st.gate)
        # WAL-style replay: pages is the round's write-ahead record — it
        # commits FIRST. If a crash interrupted the rest of the commit
        # set (crawl_log not yet at round_id, so run() re-enters this
        # round), the batch must NOT be re-selected: with url_seen still
        # pre-round the same urls would be re-fetched and APPENDED TWICE.
        # Rebuild the round frame from the committed rows (they carry
        # every derived column — flags, links, slots) and re-derive only
        # the outstanding commits under ROUND_COMMITS' guard. All
        # re-derivations are pure functions of committed state, so the
        # healed store is byte-identical to an uninterrupted run
        # (north_rule; tests/test_crawl_engine.py crash-window tests).
        pages = (io.read("pages").filter(F.col("round") == round_id)
                 if rnd.replay else self._fetch_round(rnd, st))
        # one shuffle-free pass feeds the commits: cache the round result,
        # which every commit builder reads, the builders all at once
        # (TableIO.commit_round). persist (NOT localCheckpoint) is
        # deliberate here: each builder re-plans the round lineage, but
        # with the static plan that analysis is cheap, while a
        # checkpointed RDD loses the columnar cache + codegen scan and
        # freezes the AQE-coalesced partitioning — measured 4.4 s → 9.1 s
        # on the 26k-url round. The near-dup stage checkpoints instead
        # because its probe re-enters a much deeper plan (see _near_dups).
        pages.persist()
        try:
            # every per-page count in one aggregate — the first action,
            # which also fills the cache the commits read
            counts = pages.agg(F.count("*").alias("n_fetched"),
                               *st.stats).first().asDict()
            outputs = self._round_outputs(rnd, pages, st)
            io.commit_round(round_id, [
                (name, mode, outputs[name]) for name, mode in ROUND_COMMITS
                if name in outputs and not (
                    mode == "append" and self._committed(name, round_id))])
            # count the COMMITTED frontier (parquet metadata read) instead
            # of re-running the anti-join lineage a second time
            stats = {"round": round_id, "n_fetched": counts.pop("n_fetched"),
                     "n_remaining": io.read("frontier").count(), **counts}
            stats.update((k, count()) for k, count in deferred.items())
        finally:
            pages.unpersist()
        return stats

    def _fetch_round(self, rnd, st):
        """The new-round path, pending → the round's pages frame: seen
        anti-join (J1), [unseen], robots (J3), [allowed], select, schedule,
        fetch (S3), [fetched], extract and lang (F3), [extracted]."""
        # J1: one exact left_anti join of the pending frontier against
        # url_seen — the only seen-url check, so it covers every way a
        # url enters the frontier (discovery, re-seeding, revisit)
        fresh = rnd.pending.join(rnd.seen.select("url_hash"), "url_hash",
                                 "left_anti")
        allowed = FR.apply_robots(_chain(st.unseen, fresh, rnd),
                                  self.io.read("robots"))
        batch = st.select(rnd, _chain(st.allowed, allowed, rnd))
        # batch comes straight from select_round_batch — its
        # fetch_slot IS the politeness rank, so the second window
        # shuffle is skipped
        sched = FR.politeness_schedule(batch, trust_existing_slot=True)
        fetched = _chain(st.fetched.values(), simulated_fetch(sched), rnd)
        return _chain(st.extracted, self._extract(rnd, fetched), rnd)

    # -- stages, in dataflow order ------------------------------------------
    def _trap_cap(self, rnd):
        """gate (trap_variant_cap): at most N pending urls per (host, path)
        enter a round; the overflow is dropped from the frontier. Applied
        to the COMMITTED frontier before any other stage, so the new-round
        and replay paths see the same capped pending set (the drop is a
        pure function of the committed frontier). Returns its stat."""
        rnd.pending, dropped = FR.cap_trap_variants(
            rnd.pending, max_variants=self.trap_variant_cap)
        # stat-only action, run after the commits: replays the cap
        # pipeline once more (frontier scan + count agg + window over hot
        # rows only). Inherent to lazy eval without persisting round
        # state; the hot-row window input is trap paths only, so the
        # recompute is bounded by the frontier scan itself.
        return "n_trap_dropped", dropped.count

    def _retry_gate(self, rnd, fresh):
        """unseen (retry_failed): join per-url attempt state; urls whose
        backoff window is still open sit this round out (they stay in the
        frontier — only selection skips them). 8-byte-key left join with
        a small build side."""
        return (fresh.join(rnd.retries, "url_hash", "left")
                .withColumn("attempt",
                            F.coalesce(F.col("attempt"), F.lit(0)))
                .filter(F.col("due_round").isNull()
                        | (F.col("due_round") <= F.lit(rnd.id)))
                .drop("due_round"))

    def _adaptive_delay(self, rnd, allowed):
        """allowed (adaptive_delay): observed-latency backoff — raise each
        host's effective delay to max(robots, 1.5 × p95 observed), derived
        from committed pages only (prior rounds) via the pure latency
        function, so it is replay-safe with no new table. The estimate is
        host-cardinality → broadcast."""
        if not self.io.exists("pages"):
            return allowed
        hist = (self.io.read("pages")
                .select("host", _observed_latency_ms(
                    F.col("url_hash"), F.col("host")).alias("latency_ms")))
        est = FR.estimate_crawl_delays(hist).select(
            "host", F.col("delay_ms").alias("_obs_delay_ms"))
        delay = F.greatest(*(F.coalesce(F.col(c), F.lit(0)).cast("long")
                             for c in ("crawl_delay_ms", "_obs_delay_ms")))
        return (allowed.join(F.broadcast(est), "host", "left")
                .withColumn("crawl_delay_ms", delay).drop("_obs_delay_ms"))

    def _select(self, rnd, allowed, order=None):
        """select (O4): the per-host top-k batch under the politeness
        budget, ordered by ``order`` (FRONTIER_ORDER when None)."""
        return FR.select_round_batch(
            allowed, per_host_budget=self.per_host_budget,
            hot_host_threshold=self.hot_host_threshold,
            n_salts=self.n_salts, order_cols=order, round_ms=self.round_ms)

    def _ranked_select(self, rnd, allowed):
        """priority + select (rank modes): compose the round's dynamic
        fetch ordering — never-fetched first (revisit due-ness from an
        optional ``fetch_history`` table second), then link-centrality
        rank — pagerank / opic / trustrank per priority_mode — over the
        committed ``links`` graph as of the refresh basis (see
        _ranks_at_basis), then the static FRONTIER_ORDER as the
        deterministic tiebreak — the exact composition proven
        oracle-green by the `frontier_priority` registry entry
        (plans/queries.py:q_frontier_priority; the trustrank/opic
        centralities by `link_trustrank` / `frontier_opic`). The rank
        columns exist only for the selection and are dropped after it.
        Every input is a committed table, so a resumed engine recomputes
        the identical ordering (north_rule).

        Scale shape: every centrality is 2 shuffles/iteration on 8-byte
        keys (operators/graph.py), amortized over rank_refresh_every
        rounds; the rank and due-ness joins are id-keyed; nothing
        touches html/text."""
        io = self.io
        ranks = self._ranks_at_basis(
            rnd.id - (rnd.id % self.rank_refresh_every))
        if ranks is not None:
            allowed = (allowed.join(
                ranks.select(F.col("id").alias("url_hash"), "rank_fp"),
                "url_hash", "left")
                .withColumn("rank_fp", F.coalesce(
                    F.col("rank_fp"), F.lit(0).cast("long"))))
        else:
            allowed = allowed.withColumn("rank_fp", F.lit(0).cast("long"))
        if io.exists("fetch_history"):
            # SAME backoff clock as schedule_revisits, or the fetch order
            # diverges from the schedule it claims to compose
            rev = FR.revisit_schedule(io.read("fetch_history"))
            allowed = allowed.join(
                rev.select(F.col("page_id").alias("url_hash"),
                           F.col("next_interval_hours").alias("_due_h")),
                "url_hash", "left")
        else:
            allowed = allowed.withColumn("_due_h",
                                         F.lit(None).cast("long"))
        allowed = (allowed
                   .withColumn("never_fetched", F.col("_due_h").isNull())
                   .withColumn("due_h", F.coalesce(
                       F.col("_due_h"), F.lit(0).cast("long")))
                   .drop("_due_h"))
        order = [F.desc("never_fetched"), F.asc("due_h"),
                 F.desc("rank_fp")] + FR.order_exprs(None)
        return (self._select(rnd, allowed, order)
                .drop("never_fetched", "due_h", "rank_fp"))

    def _transient_failures(self, rnd, fetched):
        """fetched (retry_failed): the transient-failure seam, a pure
        function of (url_hash, attempt), so attempt n and attempt n+1 are
        independent deterministic draws (~12.5% fail) and replay/repeat
        runs reproduce the identical outcome. A failed fetch carries no
        html into the later stages. A real fetcher deletes this stage and
        reports actual fetch_ok."""
        transient = F.pmod(F.xxhash64("url_hash", "attempt"), F.lit(8)) == 0
        return (fetched.withColumn("fetch_ok", F.col("fetch_ok") & ~transient)
                .withColumn("html", F.when(F.col("fetch_ok"), F.col("html"))))

    def _directives(self, rnd, fetched):
        """fetched (honor_directives): the page's robots meta tag as
        ``noindex`` / ``nofollow`` columns."""
        noindex, nofollow = FR.meta_robots_flags(F.col("html").cast("string"))
        return (fetched.withColumn("noindex", noindex)
                .withColumn("nofollow", nofollow))

    def _harvest_links(self, rnd, fetched, *, nofollow):
        """fetched (discovery and the rank modes): out-links harvested from
        html before extraction drops the binary column (links travel as a
        small array column, never the blob). A page where ``nofollow``
        holds contributes no links."""
        return fetched.withColumn(
            "links", F.when(nofollow, F.array().cast("array<string>"))
            .otherwise(extract_links_udf(F.col("html"), F.col("url"))))

    def _extract(self, rnd, fetched):
        """extract and lang: vectorized extraction + deterministic language
        tagging (failed extractions tag 'und'), projected to the pages
        columns — the fixed ones, then those the fetched stages added."""
        cleaned = with_clean_text(fetched, output_format="txt")
        return (cleaned
                .withColumn("lang", F.when(F.col("ok"),
                                           lang_id_udf(F.col("text")))
                            .otherwise(F.lit("und")))
                .withColumn("round", F.lit(rnd.id))
                .withColumn("partition_id", F.spark_partition_id())
                .select(*PAGE_COLS,
                        *[c for c in STAGE_PAGE_COLS if c in cleaned.columns]))

    def _c4(self, rnd, pages):
        """extracted (c4_filter): the C4 line-quality verdict ``c4_kept``."""
        from ..operators.textstats import c4_kept_col
        return pages.withColumn(
            "c4_kept", F.col("ok") & c4_kept_col(
                F.col("text"), min_words_per_line=C4_MIN_WORDS,
                min_sentences=self.c4_min_sentences))

    def _near_dups(self, rnd, pages):
        """extracted (dedup_index): probe this round's batch against the
        signature index and flag near-dups (kept in the pages sink for
        audit; excluded from the index and from the corpus view). Probe
        cost scales with the batch — the index text is consulted only for
        candidate docs (minhash_lsh_probe_index's left_semi verify). The
        index's gap repair is kept on ``rnd`` for the sig_index commit."""
        # localCheckpoint, not persist: the probe + flag + every commit
        # re-enter this frame, and a plain persist caches the DATA but not
        # the analyzed plan — each consumer would re-analyze the whole
        # round lineage (seen anti-join + rank join + windows + Arrow
        # stages; measured ~+10 s/round of pure driver time at a 2.6k-url
        # demo round). The frame is batch-sized and html is already
        # dropped, so truncating it to an RDD scan is cheap and every
        # consumer plans in O(1) of the round plan. (Same medicine as the
        # round-4 minhash_lsh_probe_index fix — see BASELINE.md.)
        pages = pages.localCheckpoint(eager=True)
        index_bands, rnd.sig_repair = self._sig_state()
        if index_bands is None:
            return pages.withColumn("near_dup", F.lit(False))
        # corpus-excluded pages (c4-dropped, noindexed) never enter the
        # corpus — skip their probe; the in-flight batch has no near_dup
        # column yet, which _corpus_view tolerates
        new_docs = self._corpus_view(pages).select("url_hash", "text")
        index_docs = self._corpus_view(self.io.read("pages"))
        pairs = D.minhash_lsh_probe_index(
            index_bands, index_docs.select("url_hash", "text"), new_docs,
            id_col="url_hash", text_col="text", k=self._sig_k,
            n_hashes=self._sig_hashes, band_size=self._sig_band,
            threshold=DEDUP_THRESHOLD)
        dup_ids = (pairs.select(F.col("id_b").alias("url_hash"))
                   .distinct().withColumn("_nd", F.lit(True)))
        return (pages.join(dup_ids, "url_hash", "left")
                .withColumn("near_dup",
                            F.coalesce(F.col("_nd"), F.lit(False)))
                .drop("_nd"))

    # -- commits ----------------------------------------------------------------
    def _round_outputs(self, rnd, pages, st) -> dict:
        """The round's commit set as {table: zero-argument builder}: pages,
        url_seen, frontier and crawl_log, plus each commit stage's tables.
        TableIO.commit_round runs the builders at once, so no builder may
        read a table this round commits: each reads the round's frames
        and the snapshots the round started from. A guarded-off table's
        builder never runs and costs nothing."""
        # `done` is the membership set url_seen and the frontier advance
        # key on: every fetched url, unless a done stage keeps some back
        done = _chain(st.done, pages, rnd)

        @functools.cache
        def frontier():
            # frontier advance: only DONE urls leave the pending set, then
            # the grow stages add to it
            rem = rnd.pending.join(done.select("canonical_url"),
                                   "canonical_url", "left_anti")
            return _chain(st.grow, rem, rnd, pages, done)

        out = {
            "pages": lambda: pages,
            "url_seen": lambda: done.select(
                "url_hash", "canonical_url",
                F.lit(rnd.id).cast("int").alias("first_seen_round")),
            "frontier": frontier,
            # K3: per-partition lineage/metrics (manifest analog) — the
            # resume marker
            "crawl_log": lambda: (
                pages.groupBy("round", "partition_id")
                .agg(F.count("*").alias("n_urls"),
                     F.sum(F.col("ok").cast("int")).alias("n_ok"),
                     F.sum((~F.col("ok")).cast("int")).alias("n_err"),
                     F.sum("extracted_chars").alias("extracted_chars"))
                .withColumn("wall_ts", F.lit(time.time()).cast("double"))),
        }
        for stage in st.commits:
            out.update(stage(rnd, pages, out))
        return out

    def _retry_done(self, rnd, pages):
        """done (retry_failed): a transiently-failed url with attempts left
        is NOT done — it stays out of url_seen (and in the frontier) until
        it succeeds or exhausts MAX_ATTEMPTS."""
        return pages.filter(F.col("fetch_ok")
                            | (F.col("attempt") + 1 >= F.lit(MAX_ATTEMPTS)))

    def _discovered(self, rnd, pages, done, rem):
        """grow (discover_links): harvested links − (already seen ∪ already
        pending). Deterministic: fixed discovery priority, discovered_ts =
        this round's id as seconds — same inputs always yield the same
        frontier state."""
        discovered = (pages
                      .select(F.explode("links").alias("url"))
                      .distinct()
                      .withColumn("priority",
                                  F.lit(DISCOVERY_PRIORITY).cast("int"))
                      .withColumn(
                          "discovered_ts",
                          F.to_timestamp(F.lit("2026-06-01"))
                          + F.make_interval(secs=F.lit(rnd.id))))
        fresh = self._ingest(discovered)
        # seen = the url_seen snapshot the round read ∪ this round's done
        # urls, never this round's url_seen commit (the frontier builds
        # while url_seen is written). A replayed round may read url_seen
        # before or after its round commit; with done added the set is
        # the same either way
        known_seen = (rnd.seen.select("canonical_url")
                      .unionByName(done.select("canonical_url")))
        fresh = (fresh
                 .join(known_seen, "canonical_url", "left_anti")
                 .join(rem.select("canonical_url"),
                       "canonical_url", "left_anti"))
        return rem.unionByName(fresh)

    def _retries(self, rnd, pages, out):
        """commit (retry_failed): retries' = (old − urls fetched this
        round) ∪ next attempts, kept ONLY for urls still in the frontier.
        Idempotent on replay: next ⊆ this round's urls, so re-deriving
        from the post-crash table lands on the same rows. Backoff is
        exponential in attempts consumed: due = round +
        backoff·2^attempt. The frontier semi-join purges orphans — a
        retryable url later dropped from the frontier (trap-variant cap)
        would otherwise hold a retries row forever and pin run()'s
        idle-forward loop at max_rounds."""
        def merged():
            nxt = (pages.filter(~F.col("fetch_ok"))
                   .filter(F.col("attempt") + 1 < F.lit(MAX_ATTEMPTS))
                   .select(
                       "url_hash",
                       (F.col("attempt") + 1).cast("int").alias("attempt"),
                       (F.lit(rnd.id)
                        + F.lit(RETRY_BACKOFF_ROUNDS)
                        * F.expr("shiftleft(1, attempt)"))
                       .cast("int").alias("due_round")))
            return (rnd.retries
                    .join(pages.select("url_hash"), "url_hash", "left_anti")
                    .unionByName(nxt)
                    .join(out["frontier"]().select("url_hash"),
                          "url_hash", "left_semi"))
        return {"retries": merged}

    def _link_graph(self, rnd, pages, out):
        """commit (rank modes): grow the committed link graph — (fetching
        page → link target) as 8-byte hash edges, distinct per round. The
        NEXT round's _ranked_select ranks over it."""
        def edges():
            from .queries import _canonicalize
            harvested = (pages.filter("fetch_ok")
                         .select(F.col("url_hash").alias("src_hash"),
                                 F.explode("links").alias("url")))
            return (_canonicalize(harvested)
                    .select("src_hash",
                            F.xxhash64("canonical_url").alias("dst_hash"))
                    .distinct()
                    .withColumn("round", F.lit(rnd.id).cast("int")))
        return {"links": edges}

    def _sig_index(self, rnd, pages, out):
        """commit (dedup_index): band ONLY this round's kept docs and
        APPEND (operators/dedup.append_to_signature_index semantics —
        near-dups never enter the index, the corpus is never
        re-shingled); committed AFTER pages with the same round id so a
        crash between the two commits is detected as a round-id gap and
        repaired by _sig_state."""
        def bands():
            if rnd.replay:
                # _sig_state's gap repair already covers this (committed)
                # round's kept docs — banding them again here would
                # duplicate index rows
                return self._sig_state()[1]
                # fan the batch out before shingling: AQE coalesces the small
            # round frame to ~1 partition (the checkpointed RDD inherits
            # it), and the minhash CPU would run on one core otherwise —
            # measured 33 s → ~3 s on the 7k-url demo round (same fix as
            # q_dedup_incremental's index build, plans/queries.py)
            par = self.spark.sparkContext.defaultParallelism
            kept_new = (self._corpus_view(pages).select("url_hash", "text")
                        .repartition(par, F.col("url_hash")))
            new = D.banded_signatures(
                kept_new, "url_hash", "text", k=self._sig_k,
                n_hashes=self._sig_hashes, band_size=self._sig_band)
            return (new if rnd.sig_repair is None
                    else rnd.sig_repair.unionByName(new))
        return {"sig_index": bands}

    def _archive(self, rnd, pages, out, plan=None):
        """commit (archive): the round's WARC + WET segment blobs (see
        _build_segments)."""
        return {"warc_segments": lambda: self._build_segments(
            pages, rnd.id, plan)}

    def _deduped_archive(self, rnd, pages, out):
        """commit (archive_dedup): the segments with revisit stubs, plus
        the digests this round elects. Both derive from archive_digests
        rounds < round_id, so BOTH commits replay identically no matter
        where a crash landed between them."""
        plan, new_digests = self._archive_plan(pages, rnd.id)
        return {**self._archive(rnd, pages, out, plan),
                "archive_digests": lambda: new_digests}

    def _fetch_history(self, rnd, pages, out):
        """commit (revisit): the round's per-fetch change observations."""
        return {"fetch_history": lambda: self._build_fetch_history(
            pages, rnd.id)}

    def run(self, *, max_rounds: int = 100,
            refresh_cycles: int = 0) -> list[dict]:
        """Run rounds until the frontier drains (resumable: starts after the
        last committed round). With revisit=True and refresh_cycles=K,
        each drain triggers schedule_revisits (the Cho–G-M re-crawl
        transition) up to K times — the full crawl → age → re-crawl loop
        in one call, still deterministic and resumable: the transition
        owns a round id, and an interrupted one is detected here
        (frontier committed past last_round) and idempotently re-run."""
        stats = []
        r = self.last_round() + 1
        if self.revisit and self.io.exists("frontier"):
            fr = self.io.latest_round("frontier")
            if fr is not None and fr >= r \
                    and not self._committed("pages", fr):
                # crash landed inside a revisit transition (its crawl_log
                # marker — the last commit — is missing): complete it.
                # The pages guard disambiguates from a run_round crash in
                # the frontier→crawl_log window: a crawl round commits
                # pages FIRST, a transition never writes pages — so
                # pages@fr present means "replay round fr", absent means
                # "finish the transition".
                self.schedule_revisits(fr)
                r = self.last_round() + 1
        round_id, end, cycles = r, r + max_rounds, refresh_cycles
        while round_id < end:
            s = self.run_round(round_id)
            stats.append(s)
            if s["n_fetched"] == 0:
                if (self.retry_failed
                        and self.io.exists("retries")
                        and self.io.read("retries").limit(1).count() > 0):
                    # outstanding retries whose backoff window is still
                    # open: idle forward to their due round (bounded —
                    # every entry's due_round is ≤ backoff·2^MAX_ATTEMPTS
                    # ahead, and max_rounds still caps the loop)
                    round_id += 1
                    continue
                if not (self.revisit and cycles > 0):
                    break
                cycles -= 1
                if self.schedule_revisits(round_id + 1) == 0:
                    break
                round_id += 2      # the transition consumed round_id+1
                continue
            round_id += 1
        return stats

    def vacuum(self, *, keep_last: int = 2) -> dict:
        """Expire old table snapshots (TableIO.vacuum per engine table).
        A long crawl overwrites frontier EVERY round, so without
        maintenance its superseded data dirs accumulate one per round —
        at 10^10 urls that is real storage. keep_last=2 preserves one
        rollback step; resume semantics are untouched because resume only
        ever reads LATEST."""
        out = {}
        names = BOOTSTRAP_TABLES + tuple(t for t, _ in ROUND_COMMITS)
        for name in dict.fromkeys(names):
            if self.io.exists(name):
                out[name] = self.io.vacuum(name, keep_last=keep_last)
        return out

    # -- audit ------------------------------------------------------------------
    def crawl_order(self) -> list[tuple]:
        """The committed crawl order: (round, host, fetch_slot, url) — the
        engine's deterministic analog of the reference's sequential log."""
        pages = self.io.read("pages")
        rows = (pages.select("round", "host", "fetch_slot", "canonical_url")
                .orderBy("round", "host", "fetch_slot", "canonical_url")
                .collect())
        return [(r["round"], r["host"], r["fetch_slot"], r["canonical_url"])
                for r in rows]

    def seen_set(self) -> set:
        return {r["canonical_url"]
                for r in self.io.read("url_seen").collect()}
