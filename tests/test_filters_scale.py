"""Scale-path regression tests for the URL-seen filter tiers and the
salted politeness scheduler.

These pin the three 100×-scale fixes:
- bloom/cuckoo probe: the filter table must NOT be force-broadcast — above
  the byte budget the join switches to a bucket-co-partitioned shuffle and
  the dedup result is unchanged (still equals the exact anti-join).
- cuckoo row choice must be decorrelated from the partition bucket: keys
  sharing ``h mod n_buckets`` (exactly what pmod-bucketing produces) used
  to confine first-choice rows to m/n_buckets slots → ~10% insert failures
  at nominal load and silent probe misses for bare build+probe callers.
- salted per-host budget must select exactly min(budget, pending) per
  host, including budget % n_salts != 0 (ceil rounding used to overshoot),
  and exactly the urls, in the fetch order, that the unsalted path picks.
"""

import numpy as np
from pyspark.sql import functions as F

from python_web_scraper_cleaner_spark.operators import bloom as BL
from python_web_scraper_cleaner_spark.operators import cuckoo as CK
from python_web_scraper_cleaner_spark.operators.frontier import \
    select_round_batch


def _urls(spark, n=3000):
    urls = (spark.range(n)
            .select(F.concat(F.lit("https://h"),
                             (F.col("id") % 9).cast("string"),
                             F.lit("/p/"), F.col("id").cast("string"))
                    .alias("canonical_url")))
    cand = urls.withColumn("url_hash", F.xxhash64("canonical_url"))
    seen = cand.filter(F.col("url_hash") % 3 == 0)
    return cand, seen


def test_bloom_dedup_shuffle_path_equals_exact(spark):
    """broadcast_bytes=1 forces the bucket-co-partitioned shuffle join; the
    result must still equal the exact anti-join (and the default broadcast
    path)."""
    cand, seen = _urls(spark)
    bloom = BL.build_bloom(seen.select("url_hash"), n_buckets=8,
                           expected_per_bucket=256)
    expect = {r.canonical_url for r in
              cand.join(seen.select("url_hash"), "url_hash",
                        "left_anti").collect()}
    shuffled = {r.canonical_url for r in
                BL.bloom_dedup(cand, seen, bloom, n_buckets=8,
                               broadcast_bytes=1).collect()}
    assert shuffled == expect
    broadcasted = {r.canonical_url for r in
                   BL.bloom_dedup(cand, seen, bloom, n_buckets=8).collect()}
    assert broadcasted == expect


def test_cuckoo_dedup_shuffle_path_equals_exact(spark):
    cand, seen = _urls(spark)
    ck = CK.build_cuckoo(seen.select("url_hash"), n_buckets=4,
                         expected_per_bucket=512)
    expect = {r.canonical_url for r in
              cand.join(seen.select("url_hash"), "url_hash",
                        "left_anti").collect()}
    # one probed frame, filtered twice (a probe pass per side would split
    # the maybe/not-maybe classification across two evaluations)
    probed = CK.cuckoo_probe(cand, ck, n_buckets=4,
                             broadcast_bytes=1).persist()
    got = {r.canonical_url for r in
           probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
           .unionByName(
               probed.filter(F.col("maybe_seen"))
               .drop("maybe_seen", "bucket")
               .join(seen.select("url_hash"), "url_hash", "left_anti"))
           .collect()}
    probed.unpersist()
    assert got == expect


def test_cuckoo_row_choice_decorrelated_from_bucket():
    """Keys congruent mod n_buckets (the pmod partitioning residue class)
    must fill a nominal-load table without insert failures and probe back
    with zero false negatives. With i1 = h mod m this failed ~10% of
    inserts at load 0.76 (n_buckets=64, m=32768) because every key's first
    choice was confined to m/64 rows."""
    n_buckets, n = 64, 100_000
    # all keys in partition-bucket 5 (h % 64 == 5) with otherwise-random
    # bits — what pmod(xxhash64(url), 64) bucketing actually delivers
    rng = np.random.default_rng(17)
    h = np.unique(
        (rng.integers(0, 2**57, size=n + 2048, dtype=np.int64) * n_buckets)
        + 5)[:n]
    need = max(8, int(n / (CK.SLOTS * 0.84)))
    m = 1 << (need - 1).bit_length()
    t = np.zeros((m, CK.SLOTS), dtype=np.uint16)
    failed = CK._insert_all(t, h, m, rng_seed=5)
    load = n / (m * CK.SLOTS)
    assert 0.5 < load < 0.95          # the test is at a realistic fill
    assert failed == 0
    assert CK._probe_table(t, h, m).all()


def _skewed_frontier(spark):
    rows = []
    for host, n_pending in (("hot.example", 400), ("mid.example", 7),
                            ("cold.example", 2)):
        for i in range(n_pending):
            rows.append((host, i % 10, f"https://{host}/{i:05d}"))
    return spark.createDataFrame(
        rows, "host string, priority int, canonical_url string") \
        .withColumn("warc_ts", F.to_timestamp(F.lit("2026-01-01")))


def test_salted_budget_selects_exactly_min_budget_pending(spark):
    """Hot-host selection = min(budget, pending) per host, for budgets that
    do and do not divide n_salts."""
    frontier = _skewed_frontier(spark)
    for budget in (5, 8, 16):          # 5 % 8 != 0 is the overshoot case
        batch = select_round_batch(frontier, per_host_budget=budget,
                                   hot_host_threshold=100, n_salts=8)
        counts = {r["host"]: r["n"] for r in
                  batch.groupBy("host").agg(F.count("*").alias("n"))
                  .collect()}
        assert counts["hot.example"] == budget
        assert counts["mid.example"] == min(budget, 7)
        assert counts["cold.example"] == 2


def test_salted_batch_equals_unsalted_batch(spark):
    """Salting only spreads the selection shuffle: the salted batch is the
    host's top ``budget`` by the round order, row for row and fetch_slot
    for fetch_slot, exactly what the unsalted path selects."""
    frontier = _skewed_frontier(spark)
    cols = ["host", "fetch_slot", "canonical_url", "priority"]
    for budget in (5, 8, 16):
        plain = select_round_batch(frontier, per_host_budget=budget)
        salted = select_round_batch(frontier, per_host_budget=budget,
                                    hot_host_threshold=100, n_salts=8)
        want = sorted(map(tuple, plain.select(*cols).collect()))
        got = sorted(map(tuple, salted.select(*cols).collect()))
        assert got == want, budget
