"""Continuous-mode crawl rounds: Structured Streaming over the pages table.

The reference repo has no streaming (scripts/news.py is a manually re-run
poll — SURVEY §2.8); the engine's primary incremental mode is deterministic
batch micro-rounds (plans/crawl.py). This module is the *continuous*
alternative: a file-source stream over the ``pages`` table directory,
watermarked event-time windows for the crawl-log rollup, and a stateful
URL-seen dedup via ``applyInPandasWithState`` — the streaming twin of the
exact anti-join path (plans/queries.py J1).

Scale notes (100 TB): the file source scales by listing only new files per
micro-batch (Iceberg/Delta streaming sources replace it on a real
deployment); state for URL-seen shards by ``url_hash % n_buckets`` so each
state row holds one bounded numpy-backed hash set, and the shuffle key is
the bucket id — hot hosts cannot skew state because bucketing is uniform
in the hash domain.

Checkpoint migration: the URL-seen state schema is
``seen array<long>, n_buckets int``. A checkpoint written before the
``n_buckets`` field existed must be discarded (delete the checkpoint dir and
re-run from the source): Spark's state-schema compatibility check rejects
it when the query starts, before the dedup function's geometry error can
fire.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.pages import PAGES_SCHEMA

URL_EVENTS_SCHEMA = "url string, url_hash long, warc_ts timestamp"

N_STATE_BUCKETS = 64

# State sizing contract: one state row holds one bucket's seen-set as an
# int64 array, fully rewritten at each micro-batch that touches it. Both
# the row's memory and the rewrite cost are therefore bounded by the
# per-bucket hash count, which uniform xxhash64 bucketing makes
# ≈ total_urls / n_buckets. Target ≤ 2^16 hashes (512 KB) per bucket:
#   n_buckets = ceil(expected_urls / 2^16)
# e.g. 10^10 URLs → ~153 k buckets (~80 GB state across the cluster,
# ~512 KB per row/rewrite). The hard cap (4× target by default) fails the
# query loudly when n_buckets was undersized for the observed volume —
# an explicit capacity error beats a silent state-store OOM at 10^10.
TARGET_HASHES_PER_BUCKET = 1 << 16


def n_buckets_for(expected_urls: int,
                  target: int = TARGET_HASHES_PER_BUCKET) -> int:
    """Bucket count sized from expected URL volume (see sizing contract
    above); never below N_STATE_BUCKETS so small streams keep shuffle
    parallelism."""
    return max(N_STATE_BUCKETS, -(-int(expected_urls) // target))


def read_pages_stream(spark: SparkSession, input_dir: str, *,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a pages parquet directory (one file ≈ one
    crawl round's output). Schema is declared — streaming sources cannot
    infer — and matches BASELINE.json input_hint."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def windowed_crawl_log(pages: DataFrame, *, window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window crawl-log rollup (K3 as a stream):
    per (window, lang) page counts + byte volume. Late rows beyond the
    watermark are dropped exactly like a production crawl-log would."""
    return (pages
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), "lang")
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("html_bytes"))
            .select(F.col("win.start").alias("window_start"),
                    "lang", "n_pages", "html_bytes"))


def _make_dedup_state_fn(max_hashes_per_bucket: int, n_buckets: int):
    """Build the per-bucket stateful dedup function: state holds the
    sorted array of url hashes seen so far in this bucket PLUS the
    bucketing geometry that built it; emit only first-seen rows.
    Vectorized membership via numpy searchsorted — no per-row Python
    sets. Enforces the state sizing contract: exceeding
    ``max_hashes_per_bucket`` raises a capacity error naming the fix.

    The geometry stamp guards a resumed checkpoint: resuming it with a
    different n_buckets silently remaps every url_hash to a different
    state bucket whose seen-set doesn't contain it — previously-emitted
    urls re-emit as first-seen. A stamped bucket whose n_buckets differs
    from the running query's raises loudly instead of silently
    duplicating."""

    def _dedup_state_fn(
            key: Tuple[int], pdfs: Iterator["Any"], state: GroupState
    ) -> Iterator["Any"]:
        import numpy as np
        import pandas as pd

        if state.exists:
            stored = state.get
            if len(stored) > 1 and stored[1] is not None \
                    and stored[1] != n_buckets:
                raise RuntimeError(
                    f"url-seen checkpoint was built with n_buckets="
                    f"{stored[1]} but this query runs n_buckets="
                    f"{n_buckets}: hashes would map to different state "
                    f"buckets and seen urls would re-emit as first-seen. "
                    f"Resize ONLY with a fresh checkpoint directory.")
            seen = np.array(stored[0], dtype="int64")
        else:
            seen = np.empty(0, dtype="int64")
        out = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            # dedup within the batch first (keep earliest by warc_ts, url)
            pdf = (pdf.sort_values(["warc_ts", "url"])
                   .drop_duplicates("url_hash", keep="first"))
            h = pdf["url_hash"].to_numpy(dtype="int64")
            idx = np.searchsorted(seen, h)
            idx_clip = np.clip(idx, 0, max(len(seen) - 1, 0))
            is_seen = (len(seen) > 0) & (seen[idx_clip] == h) if len(seen) \
                else np.zeros(len(h), dtype=bool)
            fresh = pdf[~is_seen]
            if not fresh.empty:
                seen = np.unique(np.concatenate(
                    [seen, fresh["url_hash"].to_numpy(dtype="int64")]))
                out.append(fresh[["url", "url_hash", "warc_ts"]])
        if len(seen) > max_hashes_per_bucket:
            raise RuntimeError(
                f"url-seen state bucket {key[0]} holds {len(seen)} hashes "
                f"> cap {max_hashes_per_bucket}; n_buckets is undersized "
                f"for the observed URL volume — re-run with n_buckets="
                f"n_buckets_for(expected_urls) (streaming/rounds.py) AND "
                f"a FRESH checkpoint directory (regeometry remaps hashes "
                f"to different buckets; existing state cannot be reused)")
        state.update((seen.tolist(), n_buckets))
        if out:
            yield pd.concat(out)

    return _dedup_state_fn


def streaming_url_seen_dedup(urls: DataFrame, *,
                             n_buckets: int = N_STATE_BUCKETS,
                             max_hashes_per_bucket: int | None = None
                             ) -> DataFrame:
    """First-seen URL stream: the streaming twin of the J1 anti-join.

    Input: streaming DataFrame with (url, warc_ts). Output: rows the
    engine has never seen across all micro-batches, with state persisted
    in the checkpoint (kill/restart keeps the seen-set — north_rule
    resume semantics).

    ``n_buckets`` is the state sizing knob — derive it from expected
    volume with :func:`n_buckets_for` (see the sizing contract above);
    per-row state is then bounded at ~TARGET_HASHES_PER_BUCKET hashes.
    ``max_hashes_per_bucket`` (default 4× the implied per-bucket target)
    is the hard cap at which the query fails loudly instead of letting
    one state row grow without bound."""
    if max_hashes_per_bucket is None:
        max_hashes_per_bucket = 4 * TARGET_HASHES_PER_BUCKET
    hashed = urls.select(
        "url", F.xxhash64("url").alias("url_hash"), "warc_ts")
    bucket = (F.pmod(F.col("url_hash"), F.lit(n_buckets))
              .alias("bucket"))
    return (hashed.select(bucket, "url", "url_hash", "warc_ts")
            .groupBy("bucket")
            .applyInPandasWithState(
                _make_dedup_state_fn(max_hashes_per_bucket, n_buckets),
                outputStructType=URL_EVENTS_SCHEMA,
                stateStructType="seen array<long>, n_buckets int",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def run_stream_to_table(stream_df: DataFrame, checkpoint_dir: str,
                        out_path: str, *, output_mode: str = "append",
                        available_now: bool = True):
    """Drain the stream with an availableNow trigger into a parquet sink
    via foreachBatch (the TableIO-compatible append pattern). Returns the
    finished StreamingQuery.

    In ``complete`` output mode each micro-batch carries the FULL result,
    so the sink overwrites instead of appending — the final write is the
    whole aggregate (append mode would duplicate every batch)."""
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_path)

    writer = (stream_df.writeStream
              .outputMode(output_mode)
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(sink))
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    return q


def sliding_host_rate(pages: DataFrame, *, window: str = "1 hour",
                      slide: str = "30 minutes",
                      watermark: str = "2 hours") -> DataFrame:
    """Watermarked SLIDING-window per-host fetch rate — the politeness
    monitoring view (is any host being hit too fast right now?). Each
    event lands in window/slide overlapping windows — the semantics
    tumbling windows (windowed_crawl_log) cannot express. Host is derived
    from the url inside the stream (parse_url is stream-safe), so the
    operator works straight off the input_hint schema."""
    return (pages
            .withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window, slide).alias("win"),
                     "host")
            .agg(F.count("*").alias("n_fetches"))
            .select(F.col("win.start").alias("window_start"), "host",
                    F.col("n_fetches").cast("long").alias("n_fetches")))
