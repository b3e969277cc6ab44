"""Guards from the round-5 similarity/graph/search/bloom/cuckoo review:
zero-norm cosine, dim-mismatch bucketing, redirect hop budgets, bloom/
cuckoo geometry stamps, and empty-probe decontamination contracts.
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# cosine zero-norm guard
# ---------------------------------------------------------------------------


def test_zero_vector_scores_zero_not_nan(spark):
    from python_web_scraper_cleaner_spark.operators.similarity import (
        brute_force_topk)
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1])],
        "id long, vec array<double>")
    q = spark.createDataFrame([(10, [1.0, 0.0])],
                              "id long, vec array<double>")
    out = {r.neighbor_id: r.cos_sim for r in
           brute_force_topk(q, corpus, k=3).collect()}
    # NaN would rank the zero vector FIRST; the guard scores it 0.0 last
    assert out[2] == 0.0
    top = brute_force_topk(q, corpus, k=1).collect()[0]
    assert top.neighbor_id == 1


def test_zero_vector_is_not_a_near_duplicate(spark):
    from python_web_scraper_cleaner_spark.operators.similarity import (
        semantic_decontaminate)
    corpus = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0])],
        "id long, vec array<double>")
    probes = spark.createDataFrame([(9, [0.0, 1.0, 0.0, 0.0])],
                                   "id long, vec array<double>")
    out = {r.id: r.contaminated for r in
           semantic_decontaminate(corpus, probes,
                                  threshold=0.9).collect()}
    assert out[1] is False    # NaN >= threshold would flag it


# ---------------------------------------------------------------------------
# projection bucket dim guard
# ---------------------------------------------------------------------------


def test_projection_bucket_raises_on_dim_mismatch(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from python_web_scraper_cleaner_spark.operators.similarity import (
        projection_bucket)
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0]), (2, None)],
                               "id long, vec array<double>")
    good = {r.id: r.b for r in df.select(
        "id", projection_bucket(F.col("vec"), dims=3).alias("b")).collect()}
    assert 0 <= good[1] < 16
    assert good[2] is None      # a missing embedding has no bucket
    bad = df.select(projection_bucket(F.col("vec"), dims=64).alias("b"))
    with pytest.raises(SparkRuntimeException):
        bad.collect()   # loud, not silently bucket 0


# ---------------------------------------------------------------------------
# decontamination empty-probe contract
# ---------------------------------------------------------------------------


def test_decontaminate_empty_probe_set_keeps_every_doc(spark):
    from python_web_scraper_cleaner_spark.operators.similarity import (
        semantic_decontaminate)
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "id long, vec array<double>")
    probes = spark.createDataFrame([], "id long, vec array<double>")
    out = semantic_decontaminate(corpus, probes).collect()
    assert len(out) == 5                       # one row PER corpus doc
    assert all(not r.contaminated for r in out)
    assert all(r.nearest_probe is None for r in out)


# ---------------------------------------------------------------------------
# redirect chain hop budget
# ---------------------------------------------------------------------------


def test_redirect_chain_enforces_exact_max_hops(spark):
    from python_web_scraper_cleaner_spark.operators.graph import (
        resolve_redirect_chains)
    # chain of 25 hops: u0 -> u1 -> ... -> u25 (terminal)
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(25)], "src string, dst string")
    out = {r.src: (r.unresolved, r.hops) for r in
           resolve_redirect_chains(edges, max_hops=20).collect()}
    # u0 needs 25 hops > budget 20: must be unresolved even though the
    # doubling rounds cover 32
    assert out["u0"] == (True, None)
    # u10 needs 15 hops <= 20: resolved
    assert out["u10"] == (False, 15)


# ---------------------------------------------------------------------------
# bloom/cuckoo geometry stamps drive the probe
# ---------------------------------------------------------------------------


def _hashes(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "url_hash long")


def test_bloom_probe_uses_stamped_geometry(spark):
    from python_web_scraper_cleaner_spark.operators.bloom import (
        bloom_probe, build_bloom)
    seen = list(range(1, 400, 3))
    filt = build_bloom(_hashes(spark, seen), n_buckets=128)
    # caller passes the WRONG n_buckets: the stamp must win — every seen
    # hash still probes maybe_seen=true (zero false negatives)
    probed = bloom_probe(_hashes(spark, seen), filt, n_buckets=64)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_probe_uses_stamped_geometry(spark):
    from python_web_scraper_cleaner_spark.operators.cuckoo import (
        build_cuckoo, cuckoo_probe)
    seen = list(range(1, 400, 3))
    filt = build_cuckoo(_hashes(spark, seen), n_buckets=16)
    probed = cuckoo_probe(_hashes(spark, seen), filt, n_buckets=64)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


# ---------------------------------------------------------------------------
# focused_priority topic case-insensitivity
# ---------------------------------------------------------------------------


def test_focused_priority_matches_uppercase_topic(spark):
    from python_web_scraper_cleaner_spark.operators.graph import (
        focused_priority)
    anchors = spark.createDataFrame(
        [("s1", "t1", "Medicare enrollment info"),
         ("s1", "t2", "cat pictures")],
        "src string, target string, anchor string")
    scores = spark.createDataFrame([("s1", 100)],
                                   "src string, score_bp long")
    out = {r.target: r.anchor_hits for r in
           focused_priority(anchors, scores,
                            topic=("Medicare",)).collect()}
    assert out["t1"] == 1 and out["t2"] == 0
