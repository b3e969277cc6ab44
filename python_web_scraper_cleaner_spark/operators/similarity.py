"""Approximate-nearest-neighbor / similarity search over embedding columns.

Engine extension ops for training-data pipelines (no direct reference
analog; the reference's closest op is the argmax best-article scorer,
/root/reference/mcp_server/news_server.py:103-117 — same top-k-by-score
shape over a corpus).

Scale design:
- brute-force: broadcast the (small) query set, JVM-side dot products via
  ``zip_with``/``aggregate`` — one pass over the corpus, no shuffle until
  the per-query top-k (TakeOrdered-style window).
- LSH-bucketed: deterministic sign-random-projection buckets; queries only
  join their own bucket → corpus scan shrinks by ~2^n_planes. The plane
  weights are ±1 derived from integer arithmetic on (plane, dim), so the
  same bucketing is reproducible in ANSI SQL (DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-norm guard: a zero vector scores
    0.0, NOT NaN — Spark sorts NaN as the LARGEST double, so an
    unguarded 0/0 would rank a zero-norm row FIRST for every query and
    pass every >= threshold filter (near-dup, decontamination)."""
    den = _norm(a) * _norm(b)
    return F.when(den > 0, _dot(a, b) / den).otherwise(F.lit(0.0))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 3,
                     round_digits: int | None = 4) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries``/(``corpus``): (id, vec array<float|double>). The query side
    is broadcast (it is small by construction); similarity math runs in
    double. Ties and float noise are tamed by rounding before ranking, with
    corpus id as the final tiebreak — fully deterministic output
    (query_id, neighbor_id, cos_sim, rank).
    """
    q = queries.select(F.col("id").alias("query_id"),
                       F.col("vec").cast("array<double>").alias("qv"))
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = (corpus.repartition(par, F.col("id"))
         .select(F.col("id").alias("neighbor_id"),
                 F.col("vec").cast("array<double>").alias("cv")))
    sim = (c.join(F.broadcast(q))
           .select("query_id", "neighbor_id",
                   cosine(F.col("qv"), F.col("cv")).alias("_cos")))
    if round_digits is not None:
        sim = sim.withColumn("cos_sim", F.round(F.col("_cos"), round_digits))
    else:
        sim = sim.withColumn("cos_sim", F.col("_cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def projection_bucket(vec: Column, *, n_planes: int = 4, dims: int = 64) -> Column:
    """Deterministic sign-random-projection bucket id in [0, 2^n_planes).

    Plane p weight for dim d (1-based) = +1 if
    (d*2654435761 + (p+1)*40503) % 97 < 48 else -1 — integer arithmetic
    reproducible in any SQL engine (and non-degenerate, unlike parity).

    Vectors whose length differs from ``dims`` fail LOUDLY: zip_with
    would null-pad, every projection would aggregate to NULL, and every
    row would silently land in bucket 0 — turning the bucketed join
    into an unbucketed quadratic scan (and collapsing recall to ~zero
    for mixed-width query/corpus pairs) with no error raised. A NULL
    vector (a missing embedding) has no bucket: it yields NULL."""
    checked = F.when(
        vec.isNull() | (F.size(vec) == dims), vec).otherwise(
        F.raise_error(F.concat(
            F.lit("projection_bucket: vector length "),
            F.size(vec).cast("string"),
            F.lit(f" != dims={dims} — pass dims= matching the "
                  f"embedding width"))))
    bucket = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                checked.cast("array<double>"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(dims)),
                    lambda d: (((d.cast("long") * 2654435761
                                 + (p + 1) * 40503) % 97 < 48)
                               .cast("int") * 2 - 1)),
                lambda x, w: x * w.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj >= 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return F.when(vec.isNotNull(), bucket)


def lsh_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 3,
             n_planes: int = 4, dims: int = 64,
             round_digits: int | None = 4,
             multiprobe: bool = False) -> DataFrame:
    """ANN top-k restricted to the query's projection bucket — the scale
    path: each query scans ~1/2^n_planes of the corpus. Recall is traded
    for throughput; raise n_planes for bigger corpora, or set
    ``multiprobe`` to also probe every Hamming-1 bucket (flip one plane):
    the standard recall fix for vectors near a hyperplane, at
    ~(n_planes+1)/2^n_planes of a full scan. Only the small broadcast
    query side replicates; corpus rows stay single-bucketed, so probe
    buckets are distinct and no (query, neighbor) pair repeats."""
    q = queries.select(F.col("id").alias("query_id"),
                       F.col("vec").cast("array<double>").alias("qv"),
                       projection_bucket(F.col("vec"), n_planes=n_planes,
                                         dims=dims).alias("bucket"))
    if multiprobe:
        probes = F.array(F.col("bucket"), *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(n_planes)])
        q = (q.select("query_id", "qv", F.explode(probes).alias("bucket")))
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = (corpus.repartition(par, F.col("id"))
         .select(F.col("id").alias("neighbor_id"),
                 F.col("vec").cast("array<double>").alias("cv"),
                 projection_bucket(F.col("vec"), n_planes=n_planes,
                                   dims=dims).alias("bucket")))
    sim = (c.join(F.broadcast(q), "bucket")
           .select("query_id", "neighbor_id",
                   cosine(F.col("qv"), F.col("cv")).alias("_cos")))
    if round_digits is not None:
        sim = sim.withColumn("cos_sim", F.round(F.col("_cos"), round_digits))
    else:
        sim = sim.withColumn("cos_sim", F.col("_cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def lsh_multiprobe_topk(queries: DataFrame, corpus: DataFrame, *,
                        k: int = 3, n_planes: int = 4, dims: int = 64,
                        round_digits: int | None = 4) -> DataFrame:
    """Multi-probe LSH ANN — lsh_topk with ``multiprobe=True``."""
    return lsh_topk(queries, corpus, k=k, n_planes=n_planes, dims=dims,
                    round_digits=round_digits, multiprobe=True)


def embedding_near_duplicates(df: DataFrame, *, threshold: float = 0.95,
                              n_planes: int = 4, dims: int = 64,
                              broadcast_limit: int | None = None,
                              broadcast_bytes: int = 128 << 20) -> DataFrame:
    """Embedding-cosine near-dup pairs via bucketed self-join (id_a < id_b).

    The LSH bucket bounds the self-join; exact cosine verifies. At corpus
    scale add multi-probe or repeated plane sets for recall.

    Join shape: bucket has only 2^n_planes distinct values, so a plain
    shuffle join caps parallelism at 2^n_planes reduce tasks. For corpora
    that fit the broadcast budget the fix is broadcasting one side —
    parallelism stays at input partitions. The budget is gated on
    *estimated bytes* (rows × dims × 8 + array overhead), not a row count:
    2M rows of 64-dim doubles is >1 GB serialized, an executor-OOM risk a
    row threshold would wave through. Beyond the budget the join is salted
    instead: side a gets salt = xxhash64(id) % S, side b is replicated S
    ways, join key = (bucket, salt) → parallelism = 2^n_planes × S with
    bounded memory. ``broadcast_limit`` (rows) remains as an additional
    cap for callers that want to force the salted path in tests. The
    bucketed frame is persisted (bounded — see caching.bounded_persist) so
    projection_bucket runs once, not once per join side."""
    from ..caching import bounded_persist

    par = df.sparkSession.sparkContext.defaultParallelism
    v = bounded_persist(
        df.repartition(par, F.col("id"))
        .select(F.col("id"), F.col("vec").cast("array<double>").alias("v"),
                projection_bucket(F.col("vec"), n_planes=n_planes,
                                  dims=dims).alias("bucket")),
        tag="emb_near_dup")
    n_rows = v.count()
    est_bytes = n_rows * (dims * 8 + 32)
    fits = est_bytes <= broadcast_bytes and (
        broadcast_limit is None or n_rows <= broadcast_limit)
    if fits:
        a, b = v.alias("a"), v.alias("b")
        joined = a.join(F.broadcast(b), "bucket")
    else:
        n_salts = max(par, 32)
        a = (v.withColumn("salt",
                          F.pmod(F.xxhash64("id"), F.lit(n_salts))
                          .cast("int"))
             .alias("a"))
        b = (v.withColumn("salt",
                          F.explode(F.sequence(F.lit(0),
                                               F.lit(n_salts - 1))))
             .alias("b"))
        joined = a.join(b, ["bucket", "salt"])
    return (joined
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.round(cosine(F.col("a.v"), F.col("b.v")), 4)
                    .alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .distinct())


def _fixed_vec(vec: Column, scale: int) -> Column:
    """array<long> fixed-point image of a double vector (x → ⌊x·scale+0.5⌋).
    Makes every downstream sum/mean EXACT integer math — bit-identical in
    any engine, which is what lets the k-means oracle match without
    float-summation-order luck."""
    return F.transform(vec.cast("array<double>"),
                       lambda x: F.floor(x * scale + 0.5).cast("long"))


def _dot_long(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine_fixed(a: Column, b: Column) -> Column:
    """Cosine over fixed-point vectors: integer dot/norms (exact, <2^53 for
    64 dims at scale 10^6) + one division and two sqrts — all correctly-
    rounded single IEEE ops, so the value is deterministic across engines
    with no rounding crutch."""
    return (_dot_long(a, b).cast("double")
            / (F.sqrt(_dot_long(a, a).cast("double"))
               * F.sqrt(_dot_long(b, b).cast("double"))))


def kmeans_centroids(corpus: DataFrame, *, k: int = 16, iters: int = 2,
                     scale: int = 1_000_000,
                     id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """Deterministic spherical k-means (Lloyd) as pure DataFrame ops:
    (cid int, cv array<long>) in fixed-point.

    - init: the k lowest-id vectors (TakeOrderedAndProject — no global
      sort), cid = that vector's id.
    - assign: argmax cosine_fixed per vector, ties to the lower cid.
    - update: per-dimension EXACT integer mean (sum of longs / count,
      rounded back to a long) — no float summation order anywhere, so the
      same arithmetic unrolled in SQL yields byte-identical centroids.
    - a cluster that loses all members disappears (not re-seeded) — the
      oracle mirrors this.

    Scale shape: centroids are k rows (broadcast); assignment is a
    broadcast product over the corpus; the update shuffles |corpus|×dims
    (cid, pos, value) rows into a hash agg — at 10^9 vectors use a sample
    for training, the join shape is unchanged."""
    fx = corpus.select(F.col(id_col).alias("id"),
                       _fixed_vec(F.col(vec_col), scale).alias("fv"))
    # cid keeps the id's own type (long): a cast("int") would overflow
    # under ANSI for 64-bit hash ids (url_hash — this repo's standard
    # doc id), or silently collide two centroids with ANSI off
    cent = (fx.orderBy("id").limit(k)
            .select(F.col("id").alias("cid"),
                    F.col("fv").alias("cv")))
    for _ in range(iters):
        sim = (fx.crossJoin(F.broadcast(cent))
               .withColumn("_s", cosine_fixed(F.col("fv"), F.col("cv"))))
        # argmax via max_by over an orderable struct (max _s, ties → min
        # cid): partial+final hash agg with map-side combine — NOT a
        # row_number window, which would shuffle the full corpus×k rows
        # into per-id sort groups
        assigned = (sim.groupBy("id")
                    .agg(F.max_by(F.struct("cid", "fv"),
                                  F.struct(F.col("_s"), -F.col("cid")))
                         .alias("_b"))
                    .select("id", F.col("_b.fv").alias("fv"),
                            F.col("_b.cid").alias("cid")))
        sums = (assigned.select("cid", F.posexplode("fv").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n")))
        m = F.floor(F.col("s") / F.col("n") + F.lit(0.5)).cast("long")
        cent = (sums.select("cid", "pos", m.alias("m"))
                .groupBy("cid")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda st: st["m"]).alias("cv")))
    return cent


def ivf_kmeans_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 3,
                    n_centroids: int = 16, iters: int = 2,
                    scale: int = 1_000_000,
                    round_digits: int = 4) -> DataFrame:
    """IVF ANN with a real (trained) k-means codebook, nprobe=1: centroids
    from kmeans_centroids over the corpus; queries and corpus assign to
    their nearest centroid by cosine_fixed; final ranking is exact cosine
    on the original double vectors within the probed inverted list."""
    from ..caching import bounded_persist

    cent = bounded_persist(
        kmeans_centroids(corpus, k=n_centroids, iters=iters, scale=scale),
        tag="ivf_kmeans_cent")

    def assign(df, id_alias, vec_alias):
        fx = df.select(F.col("id").alias(id_alias),
                       F.col("vec").cast("array<double>").alias(vec_alias),
                       _fixed_vec(F.col("vec"), scale).alias("_fv"))
        sim = (fx.crossJoin(F.broadcast(cent))
               .withColumn("_s", cosine_fixed(F.col("_fv"), F.col("cv"))))
        # max_by argmax (see kmeans_centroids): map-side partial agg
        # instead of a per-id row_number window exchange
        return (sim.groupBy(id_alias)
                .agg(F.max_by(F.struct("cid", vec_alias),
                              F.struct(F.col("_s"), -F.col("cid")))
                     .alias("_b"))
                .select(id_alias,
                        F.col(f"_b.{vec_alias}").alias(vec_alias),
                        F.col("_b.cid").alias("cid")))

    c = assign(corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, F.col("id")),
        "neighbor_id", "cv_full")
    q = assign(queries, "query_id", "qv")
    sim = (c.join(F.broadcast(q), "cid")
           .withColumn("cos_sim",
                       F.round(cosine(F.col("qv"), F.col("cv_full")),
                               round_digits)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def ivf_assign(df: DataFrame, centroids: DataFrame, *,
               id_col: str = "id", vec_col: str = "v") -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (rounded to 4
    decimals for cross-engine argmax determinism, centroid id as tiebreak).
    Centroids broadcast; argmax via max_by (partial+final hash agg with
    map-side combine — no per-id window exchange)."""
    joined = (df.crossJoin(F.broadcast(
        centroids.select(F.col("cid"), F.col("cvec"))))
        .withColumn("_sim", F.round(cosine(F.col(vec_col), F.col("cvec")), 4)))
    other = [c for c in df.columns if c != id_col]
    return (joined.groupBy(id_col)
            .agg(F.max_by(F.struct(*other, "cid"),
                          F.struct(F.col("_sim"), -F.col("cid")))
                 .alias("_b"))
            .select(id_col, *[F.col(f"_b.{c}").alias(c) for c in other],
                    F.col("_b.cid").alias("cid")))


def ivf_topk(queries: DataFrame, corpus: DataFrame, *, k: int = 3,
             centroid_mod: int = 25,
             round_digits: int = 4) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer (centroids = corpus
    vectors whose id % centroid_mod == 0 — the reproducible stand-in for a
    k-means codebook), nprobe=1. Queries only scan their own centroid's
    inverted list, so the per-query work drops by ~n_centroids× — the
    IVF scale path next to the LSH one (lsh_topk).

    At production scale: replace the centroid rule with trained k-means
    centroids, raise nprobe for recall; the join shape is unchanged."""
    cent = corpus.select(F.col("id").alias("cid"),
                         F.col("vec").cast("array<double>").alias("cvec")) \
                 .filter(F.col("cid") % centroid_mod == 0)
    c = (corpus.repartition(
            corpus.sparkSession.sparkContext.defaultParallelism, F.col("id"))
         .select(F.col("id").alias("neighbor_id"),
                 F.col("vec").cast("array<double>").alias("cv")))
    c_assigned = ivf_assign(c, cent, id_col="neighbor_id", vec_col="cv")
    q = queries.select(F.col("id").alias("query_id"),
                       F.col("vec").cast("array<double>").alias("qv"))
    q_assigned = ivf_assign(q, cent, id_col="query_id", vec_col="qv")
    sim = (c_assigned.join(F.broadcast(q_assigned), "cid")
           .withColumn("cos_sim",
                       F.round(cosine(F.col("qv"), F.col("cv")),
                               round_digits)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (sim.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))


def semantic_decontaminate(corpus: DataFrame, probes: DataFrame, *,
                           threshold: float = 0.99,
                           round_digits: int = 4,
                           id_col: str = "id",
                           vec_col: str = "vec") -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus docs whose
    max cosine against any held-out benchmark probe clears the
    threshold. dedup.contamination_check catches VERBATIM 8-gram overlap;
    this tier catches the paraphrased/reformatted contamination n-gram
    methods structurally miss (the training-data-hygiene companion every
    modern corpus pipeline runs beside exact decontamination).

    Output per corpus doc: max_cos (rounded for cross-engine argmax
    determinism), nearest_probe (argmax id, ties to the lower id),
    contaminated.

    Scale shape (100 TB corpus): the probe side is benchmark-sized and
    BROADCASTS; the corpus scans once through a codegen projection of
    |probes| dot products and collapses per doc via map-side max_by —
    no corpus shuffle at all (the aggregate's partial runs in the scan
    stage; only (id, max) rows reach the final agg). For probe sets too
    large to broadcast, bucket both sides with projection_bucket (the
    lsh_topk shape) first."""
    c = corpus.select(F.col(id_col).alias("_cid"),
                      F.col(vec_col).alias("_cv"))
    p = probes.select(F.col(id_col).alias("_pid"),
                      F.col(vec_col).alias("_pv"))
    if p.isEmpty():
        # the contract is one row PER CORPUS DOC; an empty probe set
        # (wrong path, over-filtered benchmark) must yield "nothing
        # contaminated", not an empty frame a keep-filter would read as
        # "drop the whole corpus". One cheap limit-1 action; the normal
        # path's plan is untouched.
        pid_type = p.schema["_pid"].dataType
        return (c.select(F.col("_cid").alias(id_col),
                         F.lit(0.0).alias("max_cos"),
                         F.lit(None).cast(pid_type).alias("nearest_probe"),
                         F.lit(False).alias("contaminated")))
    sim = (c.crossJoin(F.broadcast(p))
           .withColumn("_cos", F.round(cosine(F.col("_cv"), F.col("_pv")),
                                       round_digits)))
    # min(struct(-cos, pid)) = highest similarity, ties to the LOWEST
    # probe id — and unlike negating the id column, this works for ANY
    # orderable id type (urls/string ids would cast-to-double under a
    # unary minus: ANSI abort or silent NULL)
    agg = (sim.groupBy("_cid")
           .agg(F.min(F.struct((-F.col("_cos")).alias("neg"),
                               F.col("_pid").alias("pid")))
                .alias("_b")))
    return (agg.select(F.col("_cid").alias(id_col),
                       (-F.col("_b.neg")).alias("max_cos"),
                       F.col("_b.pid").alias("nearest_probe"))
            .withColumn("contaminated", F.col("max_cos") >= threshold))
