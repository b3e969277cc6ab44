"""Partitioned bloom filter for URL-seen membership at 10^10-URL scale.

Reference analog: the URL-seen set rebuilt from disk each run
(/root/reference/scripts/news.py:17-28) — a Python set() that cannot hold
10^10 entries. This operator (the ``j1_bloom_prefilter`` registry entry)
replaces it with B bucketed numpy bitmaps built by ``mapInPandas``
(vectorized, per BASELINE.json: pandas/Arrow UDFs only):

- build: url_hash = xxhash64(canonical_url) (JVM built-in); bucket =
  pmod(url_hash, B); per bucket one bitmap of m bits with k probe positions
  derived from the 64-bit hash (h1 + i*h2 double hashing).
- probe: candidates join their bucket's bitmap (bucket-partitioned join) and
  run the same vectorized probe; ``maybe_seen`` = all k bits set.

Bloom is strictly a pre-filter: false positives would DROP never-seen URLs,
so survivors of the "maybe seen" class are confirmed by the exact
``left_anti`` join (SURVEY §7 risk 3). False-negative rate is zero by
construction, so "definitely new" rows skip the exact join entirely — at
scale that removes ~99% of the anti-join's probe side. CrawlEngine keeps
no filter: its frontier holds only urls that discovery already anti-joined
against url_seen, so a filter would save no exact lookups there while
costing a whole-table rewrite per round; it runs the exact join alone.

Sizing: m_bits per bucket for n items at p FPR: m = -n ln p / (ln 2)^2.
With B buckets the build is embarrassingly parallel and each bitmap stays
small enough to ship to executors (e.g. 10^10 URLs, B=16384, p=1%:
~58 MB/bucket... choose B per deployment; here B defaults tiny for tests).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType(), nullable=False),
    T.StructField("n_buckets", T.IntegerType(), nullable=False),
    T.StructField("m_bits", T.LongType(), nullable=False),
    T.StructField("n_hashes", T.IntegerType(), nullable=False),
    T.StructField("n_items", T.LongType(), nullable=False),
    T.StructField("bitmap", T.BinaryType(), nullable=False),
])


def optimal_m_bits(n_items: int, fpr: float = 0.01) -> int:
    if n_items <= 0:
        return 64
    m = -n_items * math.log(fpr) / (math.log(2) ** 2)
    return max(64, int(m))


def optimal_k(m_bits: int, n_items: int) -> int:
    if n_items <= 0:
        return 1
    return max(1, min(16, round(m_bits / n_items * math.log(2))))


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """k probe positions per hash via double hashing on the 64-bit value:
    h1 = high 32 bits, h2 = low 32 bits | 1 (odd), pos_i = (h1+i*h2) % m."""
    h = hashes.astype(np.uint64)
    h1 = (h >> np.uint64(32)).astype(np.uint64)
    h2 = ((h & np.uint64(0xFFFFFFFF)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m_bits))


def with_bucket(df: DataFrame, hash_col: str = "url_hash",
                n_buckets: int = 64) -> DataFrame:
    return df.withColumn("bucket",
                         F.pmod(F.col(hash_col), F.lit(n_buckets))
                         .cast("int"))


def build_bloom(df: DataFrame, hash_col: str = "url_hash", *,
                n_buckets: int = 64, m_bits: int | None = None,
                n_hashes: int | None = None,
                expected_per_bucket: int = 100_000,
                fpr: float = 0.01) -> DataFrame:
    """Build per-bucket bitmaps: repartition by bucket → one mapInPandas pass
    that ORs bit positions into a numpy bitmap. Returns the BLOOM_SCHEMA
    table (one row per non-empty bucket)."""
    m = m_bits or optimal_m_bits(expected_per_bucket, fpr)
    k = n_hashes or optimal_k(m, expected_per_bucket)

    bucketed = (with_bucket(df.select(hash_col), hash_col, n_buckets)
                .repartition(n_buckets, "bucket"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmaps: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            for bucket, grp in pdf.groupby("bucket"):
                bm = bitmaps.get(bucket)
                if bm is None:
                    bm = np.zeros((m + 7) // 8, dtype=np.uint8)
                    bitmaps[bucket] = bm
                    counts[bucket] = 0
                hashes = grp[hash_col].to_numpy(dtype=np.int64)
                pos = _positions(hashes, m, k).ravel()
                np.bitwise_or.at(bm, (pos >> np.uint64(3)).astype(np.int64),
                                 np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
                counts[bucket] += len(grp)
        if bitmaps:
            yield pd.DataFrame({
                "bucket": np.fromiter(bitmaps, dtype=np.int32,
                                      count=len(bitmaps)),
                "n_buckets": np.full(len(bitmaps), n_buckets, dtype=np.int32),
                "m_bits": np.full(len(bitmaps), m, dtype=np.int64),
                "n_hashes": np.full(len(bitmaps), k, dtype=np.int32),
                "n_items": np.fromiter((counts[b] for b in bitmaps),
                                       dtype=np.int64, count=len(bitmaps)),
                "bitmap": [bm.tobytes() for bm in bitmaps.values()],
            })

    return bucketed.mapInPandas(build, schema=BLOOM_SCHEMA)


def bloom_geometry(bloom: DataFrame) -> tuple[int, int, int] | None:
    """(n_buckets, m_bits, n_hashes) stamped on a BLOOM_SCHEMA table
    (one build_bloom call stamps every row the same), or None for an
    empty table. One first() over parquet metadata-sized rows;
    bloom_probe buckets its candidates with it, because probing with a
    different n_buckets remaps hashes to the wrong bucket and yields
    silent FALSE NEGATIVES."""
    if not {"n_buckets", "m_bits", "n_hashes"}.issubset(bloom.columns):
        return None      # pre-stamp table: geometry unknowable
    row = bloom.select("n_buckets", "m_bits", "n_hashes").first()
    if row is None:
        return None
    return (int(row["n_buckets"]), int(row["m_bits"]), int(row["n_hashes"]))


def bloom_probe(candidates: DataFrame, bloom: DataFrame,
                hash_col: str = "url_hash", *,
                n_buckets: int = 64,
                broadcast_bytes: int = 64 << 20) -> DataFrame:
    """Tag candidates with ``maybe_seen``. Rows in buckets with no bitmap are
    definitely new.

    Join strategy is size-gated: the filter table is broadcast only while
    its total bitmap bytes fit ``broadcast_bytes``; beyond that (the 10^10-
    URL design point puts the full set of bitmaps at ~1 TB — far past any
    broadcast budget) both sides are co-partitioned on ``bucket`` and the
    join shuffles only the candidate rows, never ships every bitmap to
    every executor. The filter is persisted (bounded) so the size probe
    does not recompute the build.

    Candidate bucketing uses the geometry STAMPED ON THE FILTER, not the
    caller's ``n_buckets`` (which is only the fallback for an empty
    filter): probing with a different bucket count would look up each
    hash in a bucket whose bitmap never saw it — silent false negatives,
    i.e. already-seen URLs re-crawled as new."""
    from ..caching import bounded_persist

    bloom = bounded_persist(bloom, tag="bloom_filter")
    geo = bloom_geometry(bloom)
    if geo is not None:
        n_buckets = geo[0]
    cand = with_bucket(candidates, hash_col, n_buckets)
    total_bytes = bloom.agg(
        F.sum(F.octet_length("bitmap"))).first()[0] or 0
    if total_bytes <= broadcast_bytes:
        joined = cand.join(F.broadcast(bloom), "bucket", "left")
    else:
        joined = (cand.repartition(n_buckets, "bucket")
                  .join(bloom.repartition(n_buckets, "bucket"),
                        "bucket", "left"))

    out_schema = T.StructType(cand.schema.fields
                              + [T.StructField("maybe_seen", T.BooleanType(),
                                               nullable=False)])
    cand_cols = [f.name for f in cand.schema.fields]

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            maybe = np.zeros(n, dtype=bool)
            with_bm = pdf[pdf["bitmap"].notna()]
            # one bitmap (and one m, k) per bucket
            for bucket, grp in with_bm.groupby("bucket"):
                bm = np.frombuffer(grp["bitmap"].iloc[0], dtype=np.uint8)
                m = int(grp["m_bits"].iloc[0])
                k = int(grp["n_hashes"].iloc[0])
                hashes = grp[hash_col].to_numpy(dtype=np.int64)
                pos = _positions(hashes, m, k)
                bits = (bm[(pos >> np.uint64(3)).astype(np.int64)]
                        >> (pos & np.uint64(7)).astype(np.uint8)) & 1
                maybe[grp.index.to_numpy()] = bits.all(axis=0)
            out = pdf[cand_cols].copy()
            out["maybe_seen"] = maybe
            yield out

    return joined.mapInPandas(probe, schema=out_schema)


def bloom_dedup(candidates: DataFrame, seen: DataFrame, bloom: DataFrame,
                hash_col: str = "url_hash", *,
                n_buckets: int = 64,
                broadcast_bytes: int = 64 << 20) -> DataFrame:
    """Full J1 pipeline: bloom pre-filter then exact anti-join confirm.

    definitely-new rows (maybe_seen = false) pass straight through; only the
    maybe-seen minority pays the exact left_anti join against the seen
    table."""
    from ..caching import bounded_persist

    # persist: definitely_new and suspects are two filters over this
    # frame — without the cache the bucket join + vectorized bitmap
    # probe over every candidate row would execute twice
    probed = bounded_persist(
        bloom_probe(candidates, bloom, hash_col, n_buckets=n_buckets,
                    broadcast_bytes=broadcast_bytes),
        tag="bloom_probed")
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen",
                                                              "bucket")
    suspects = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "bucket")
    confirmed_new = suspects.join(seen.select(hash_col), hash_col,
                                  "left_anti")
    return definitely_new.unionByName(confirmed_new)
