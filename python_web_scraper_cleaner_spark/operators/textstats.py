"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Engine extensions over the reference's word-count / fingerprint analogs
(/root/reference/scripts/trafilatura_scraper.py:387 word count,
:110 trafilatura fingerprint field). Everything here is JVM-side
expressions (whole-stage codegen); the byte-parity UDF twins for unicode
corpora live in functions/udfs.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.kernel import LANG_MARKERS, STOP_WORDS
from .dedup import tokens as D_tokens

# ASCII punctuation (string.punctuation), regex-escaped as a class.
PUNCT_CLASS = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def ws_tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count_col(text: Column) -> Column:
    """Whitespace token count (ref word-count analog)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(ws_tokens(text))).cast("long")


def total_token_len_col(text: Column) -> Column:
    """Sum of whitespace-token lengths (shared by quality_features and
    gopher_quality — one tokenization/zero-guard convention, mirrored by
    both DuckDB oracles)."""
    return F.aggregate(ws_tokens(text), F.lit(0).cast("long"),
                       lambda acc, x: acc + F.length(x))


def mean_token_len_col(text: Column, n_tokens: Column) -> Column:
    return F.round(
        F.when(n_tokens > 0, total_token_len_col(text) / n_tokens)
        .otherwise(0.0), 4)


def bpe_ish_count_col(text: Column) -> Column:
    """BPE-ish token estimate: alpha runs + digit runs + single symbols
    (kernel.bpe_ish_token_count parity)."""
    return F.coalesce(
        F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")),
        F.lit(0)).cast("long")


def lang_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word hit counts per language (kernel.LANG_MARKERS), computed
    as array intersections — one pass, no shuffle until the caller groups.
    Input is repartitioned to full width: the per-row higher-order-function
    work dominates and a small parquet scan arrives with few partitions."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = ws_tokens(F.col(text_col))
    out = (df.repartition(par, F.col(id_col))
           .select(F.col(id_col).alias("id"), toks.alias("toks")))
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in sorted(LANG_MARKERS[lang])])
        out = out.withColumn(
            f"score_{lang}",
            F.size(F.filter(F.col("toks"), lambda t: F.array_contains(markers, t)))
            .cast("long"))
    return out.drop("toks")


def lang_id_col(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic language ID: argmax marker count, alphabetical
    tiebreak, zero hits → 'und' (kernel.lang_id parity)."""
    scored = lang_scores(df, id_col, text_col)
    langs = sorted(LANG_MARKERS)
    pred, best = F.lit("und"), F.lit(0).cast("long")
    # iterate in alphabetical order with strict > — first (alphabetical) wins ties
    for lang in langs:
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return scored.select("id", pred.alias("pred_lang"), best.alias("best_score"))


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic quality features (kernel.quality_score semantics):
    n_chars, n_tokens, mean_token_len, punct_ratio, stopword_ratio."""
    t = F.col(text_col)
    toks = ws_tokens(t)
    n_chars = F.length(t).cast("long")
    n_tokens = token_count_col(t)
    n_punct = (F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_token_len_col(t, n_tokens).alias("mean_token_len"),
        F.round(F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0), 4)
        .alias("punct_ratio"),
        F.round(F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0), 4)
        .alias("stopword_ratio"),
    )


def gopher_quality(df: DataFrame, id_col: str, text_col: str, *,
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   max_bullet_frac: float = 0.9,
                   max_dup_line_frac: float = 0.3,
                   keep: tuple = ()) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021 §A1.1, the
    published web-corpus filtering recipe): word-count bounds, mean word
    length bounds, symbol-to-word ratio (# and … marks), bullet-line
    fraction, duplicate-line fraction. Entirely JVM expressions — the
    mass-filtering hot path over 100 TB must never leave codegen."""
    t = F.col(text_col)
    n_words = token_count_col(t)
    mean_wl = mean_token_len_col(t, n_words)
    n_symbols = (F.coalesce(F.regexp_count(t, F.lit(r"#|\.\.\.")), F.lit(0))
                 .cast("long"))
    symbol_ratio = F.round(F.when(n_words > 0, n_symbols / n_words)
                           .otherwise(0.0), 4)
    # explicit unary lambda: passing F.trim directly would resolve the
    # deprecated two-parameter trim(col, trimStr) with the element INDEX
    # as trimStr — silently trimming digits off line edges
    lines = F.filter(F.transform(F.split(t, r"\n"), lambda x: F.trim(x)),
                     lambda x: x != "")
    n_lines = F.size(lines).cast("long")
    n_bullets = F.size(F.filter(
        lines, lambda x: x.startswith("-") | x.startswith("*")
        | x.startswith("•"))).cast("long")
    bullet_frac = F.round(F.when(n_lines > 0, n_bullets / n_lines)
                          .otherwise(0.0), 4)
    dup_line_frac = F.round(
        F.when(n_lines > 0,
               (n_lines - F.size(F.array_distinct(lines)).cast("long"))
               / n_lines).otherwise(0.0), 4)
    passes = ((n_words >= min_words) & (n_words <= max_words)
              & (mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl)
              & (symbol_ratio <= max_symbol_ratio)
              & (bullet_frac <= max_bullet_frac)
              & (dup_line_frac <= max_dup_line_frac))
    return df.select(
        F.col(id_col).alias("id"), n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"), symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        dup_line_frac.alias("dup_line_frac"),
        passes.alias("passes_gopher"),
        # pass-through columns so composed operators can gate + group in
        # the SAME projection instead of re-joining the corpus by id
        *[F.col(c) for c in keep])


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{9,}"


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Training-data PII scrub: emails and long digit runs (phone/account
    numbers) replaced by typed placeholder tokens, with per-doc counts for
    the scrub audit log. Patterns stay in the common regex subset that
    Java regex and RE2 interpret identically, so the op is oracle-exact."""
    t = F.col(text_col)
    n_emails = F.coalesce(F.regexp_count(t, F.lit(PII_EMAIL_RE)),
                          F.lit(0)).cast("long")
    scrub1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_nums = F.coalesce(F.regexp_count(scrub1, F.lit(PII_LONGNUM_RE)),
                        F.lit(0)).cast("long")
    scrubbed = F.regexp_replace(scrub1, PII_LONGNUM_RE, "<NUM>")
    return df.select(F.col(id_col).alias("id"),
                     n_emails.alias("n_emails"), n_nums.alias("n_longnums"),
                     F.md5(scrubbed).alias("scrubbed_md5"),
                     F.length(scrubbed).cast("long").alias("n_chars"))


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint over the normalized token stream: md5 of the
    single-space-joined lowercased tokens — whitespace-insensitive like
    kernel.fingerprint64, engine-portable (md5 everywhere)."""
    return F.md5(F.concat_ws(" ", ws_tokens(text)))


def ngram_repetition(df: DataFrame, id_col: str, text_col: str, *,
                     top_n: int = 2, dup_n: int = 3) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 §A1.1, the half not in
    gopher_quality): per-doc character mass of the most common ``top_n``-
    gram and of all duplicated ``dup_n``-grams, as fractions of trimmed
    doc length. High values mean boilerplate/spam repetition.

    Everything is per-document array arithmetic — zero shuffles: sort the
    gram list, then one linear run-length ``F.aggregate`` pass computes
    both the max run mass and the duplicated-run mass (O(m log m) per
    doc; a naive per-distinct-gram recount is O(m²) and measured 50×
    slower on ~10^3-token docs). The alternative (explode +
    groupBy(id, gram)) shuffles every gram occurrence of 100 TB for a
    per-doc statistic.

    top_frac ties break toward the larger char mass (count × gram length
    maximized directly), making the scalar deterministic without a
    string-order tiebreak."""
    t = F.col(text_col)

    def grams_of(n: int):
        toks = D_tokens(t)
        sz = F.size(toks)
        return F.when(sz <= n, F.array(F.concat_ws(" ", toks))).otherwise(
            F.transform(F.sequence(F.lit(1), sz - n + 1),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n))))

    def masses(n: int):
        s = F.array_sort(grams_of(n))
        init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                        F.lit(0).alias("top"), F.lit(0).alias("dup"))

        def _close(acc):
            # mass of the run that just ended at acc.prev
            mass = acc["run"] * F.length(acc["prev"])
            return (F.greatest(acc["top"], mass),
                    acc["dup"] + F.when(acc["run"] >= 2, mass).otherwise(0))

        def step(acc, x):
            same = x == acc["prev"]
            top, dup = _close(acc)
            return F.struct(
                x.alias("prev"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.when(same, acc["top"]).otherwise(top).alias("top"),
                F.when(same, acc["dup"]).otherwise(dup).alias("dup"))

        def finish(acc):
            top, dup = _close(acc)
            return F.struct(top.alias("top"), dup.alias("dup"))

        r = F.aggregate(s, init, step, finish)
        return r["top"], r["dup"]

    top_mass, _ = masses(top_n)
    _, dup_mass = masses(dup_n)
    n_chars = F.length(F.trim(t)).cast("long")
    frac = (lambda m: F.round(
        F.when(n_chars > 0, m.cast("double") / n_chars).otherwise(0.0), 4))
    return df.select(
        F.col(id_col).alias("id"),
        frac(top_mass).alias(f"top{top_n}gram_char_frac"),
        frac(dup_mass).alias(f"dup{dup_n}gram_char_frac"))


# ---------------------------------------------------------------------------
# Character-trigram LM familiarity (CCNet-style quality tier, bit-exact)
# ---------------------------------------------------------------------------

LM_SCALE = 10_000_000  # fixed-point scale for familiarity scores


def char_trigrams(text: Column) -> Column:
    """Array of character trigrams over lower(trim(text)) — expressed so
    the DuckDB twin (list_transform(range(1, length-1), i -> substr(s,i,3)))
    produces the identical list. Texts shorter than 3 chars → empty."""
    s = F.lower(F.trim(text))
    return F.when(
        F.length(s) < 3, F.array().cast("array<string>")
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(s) - 2),
                    lambda i: F.substring(s, i, F.lit(3))))


def trigram_lm_train(ref: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(trigram, n): character-trigram counts over a REFERENCE corpus —
    the 'LM' of the CCNet quality tier, reduced to what stays bit-exact
    across engines (raw counts, no smoothing, no floats).

    Scale shape: the explode is wide but collapses map-side — the model
    vocabulary is bounded by |charset|³, so partial aggregation shrinks
    each task's output to ≤ vocab rows before the one hash exchange. The
    trained model is vocab-sized (MBs), i.e. broadcastable by design.
    """
    return (ref.select(F.explode(char_trigrams(F.col(text_col)))
                       .alias("trigram"))
            .groupBy("trigram").agg(F.count("*").alias("n")))


def lm_familiarity(docs: DataFrame, model: DataFrame, *,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_trigrams, familiarity_fp): mean reference-corpus frequency
    of the doc's trigrams, in LM_SCALE fixed point — the rank-preserving,
    log-free stand-in for CCNet's LM-perplexity quality score (docs whose
    character distribution matches the reference score high; gibberish,
    boilerplate soup, and wrong-language text score low). Integer-only:
    floor(LM_SCALE · Σ_t n_ref(t) / (N_ref · n_trigrams_doc)), so Spark
    and any SQL engine agree bit-for-bit.

    Scale shape: the model (vocab-bounded, MBs) is BROADCAST onto the
    exploded doc-trigram stream; the left join keeps out-of-vocab
    trigrams as zeros (they must drag the mean down, not vanish); one
    per-doc sum is the only exchange of doc-keyed data. The total-count
    aggregate is 1 row. Corpus text never shuffles.
    """
    total = model.agg(F.sum("n").alias("n_total"))
    tri = (docs.select(F.col(id_col).alias("id"),
                       F.explode_outer(char_trigrams(F.col(text_col)))
                       .alias("trigram")))
    scored = (tri.join(F.broadcast(model), "trigram", "left")
              .groupBy("id")
              .agg(F.count(F.col("trigram")).alias("n_trigrams"),
                   F.sum(F.coalesce(F.col("n"), F.lit(0)))
                   .alias("hit_mass")))
    # integer `div`, not `/`: float division is only exact below 2^53 and
    # LM_SCALE·hit_mass crosses that at web-corpus counts
    return (scored.crossJoin(F.broadcast(total))
            .select("id",
                    F.col("n_trigrams").cast("long").alias("n_trigrams"),
                    F.when(F.col("n_trigrams") == 0,
                           F.lit(0).cast("long"))
                    .otherwise(
                        F.expr(f"(cast({LM_SCALE} as bigint) * hit_mass) "
                               "div (n_total * n_trigrams)"))
                    .cast("long").alias("familiarity_fp")))


def host_reputation(df: DataFrame, *, id_col: str = "doc_id",
                    host_col: str = "source", text_col: str = "text",
                    min_pass_bp: int = 5000,
                    max_dup_bp: int = 3000,
                    reuse_rows: bool = False) -> DataFrame:
    """Domain-level reputation rollup (the RefinedWeb/Dolma-style
    host-level filtering step): aggregate per-document quality and
    duplication signals to one verdict row per host, which downstream
    corpus filters consume as a BROADCAST side.

    Signals per host: n_docs, n_pass (gopher_quality gates), n_dup (docs
    whose exact text occurs >= 2 times anywhere in the corpus — spam/
    mirror farms), plus integer-basis-point rates and the verdict
    reputation_ok = pass_bp >= min_pass_bp AND dup_bp <= max_dup_bp.
    Rates use integer `div` so the verdict is bit-deterministic.

    Reference analog: the per-source manifest rollup
    (/root/reference/scripts/news.py manifest counts; SURVEY A7)
    upgraded from bookkeeping to a filtering signal.

    Scale shape (100 TB): gopher gate + md5 digest + host all live in
    ONE projection over the scan (gopher_quality's keep= passthrough) —
    no corpus-by-id join anywhere. Duplication is the operator's one
    self-join: the digest-count side aggregates with map-side combine
    (one digest-key shuffle of per-partition partials), and the
    surviving dup digests — a tiny fraction at real dup rates — come
    back as the probe join's build side (AQE broadcasts them, so the
    corpus rows are NOT re-shuffled by digest; at pathological dup
    rates AQE falls back to a skew-handled shuffle join). The host
    rollup is ONE host-key shuffle of (1, pass, dup) triples,
    map-side-combined — hosts number millions against billions of
    docs, so the result is a tiny table the next stage broadcasts
    (left_semi on ok hosts / left_anti on bad) instead of ever
    re-shuffling the corpus by host.

    reuse_rows=True localCheckpoints the per-doc projection so the
    digest-count branch and the probe branch share one materialization
    instead of re-deriving the scan per branch (same trade as
    substring_dup_spans.reuse_windows; on a real cluster persist the
    per-doc frame to storage instead)."""
    per_doc = (gopher_quality(df, id_col, text_col,
                              keep=(host_col, text_col))
               .select(F.col(host_col).alias("host"),
                       F.col("passes_gopher").cast("int").alias("p"),
                       F.md5(F.col(text_col)).alias("d")))
    if reuse_rows:
        per_doc = per_doc.localCheckpoint(eager=False)
    dup_d = (per_doc.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") >= 2)
             .select("d", F.lit(1).alias("dup_mark")))
    roll = (per_doc.join(dup_d, "d", "left")
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("p").cast("long").alias("n_pass"),
                 F.sum(F.coalesce(F.col("dup_mark"), F.lit(0)))
                 .cast("long").alias("n_dup")))
    return (roll.select(
        "host", "n_docs", "n_pass", "n_dup",
        F.expr("(10000 * n_pass) div n_docs").alias("pass_bp"),
        F.expr("(10000 * n_dup) div n_docs").alias("dup_bp"))
        .withColumn("reputation_ok",
                    (F.col("pass_bp") >= min_pass_bp)
                    & (F.col("dup_bp") <= max_dup_bp)))


def strip_boilerplate_lines(docs: DataFrame, id_col: str = "id",
                            host_col: str = "host",
                            text_col: str = "text", *,
                            min_doc_frac: float = 0.5,
                            min_docs: int = 2) -> DataFrame:
    """Per-host template/boilerplate line removal (the CCNet/fineweb
    cleaning tier between raw extraction and dedup): a LINE is
    boilerplate on host H when it occurs in ≥ ``min_docs`` documents AND
    in ≥ ``min_doc_frac`` of H's documents — nav bars, cookie banners,
    footers that per-page extraction can't see because they ARE the
    page-level common mode. Output: one row per doc with ``clean_text``
    (surviving lines re-joined in original order), ``n_lines``, and
    ``n_boiler_lines``. Empty lines are never counted as boilerplate
    (they carry paragraph structure) and always survive.

    The reference cleans each page in isolation
    (/root/reference/scraper_cleaner/html_cleaner_core.py) — cross-page
    common-mode removal needs corpus-level aggregation, which is exactly
    what a distributed engine adds.

    Scale shape: three shuffles total (audited, PLANS_AUDIT.md). Line
    doc-frequency takes two — the (host, line_hash, id) distinct (its
    map-side partial collapses within-doc repeats early) and the
    (host, line_hash) count — and only 8-byte line HASHES cross them,
    never line text; per-host doc counts ride a broadcast join
    (hosts ≪ docs). The third regroups surviving lines by doc id
    (sort_array over (pos, line) structs inside the aggregate —
    no window). Boilerplate verdicts join back as a broadcast-able
    (host, line_hash) build side sized by the DISTINCT frequent lines,
    not the corpus. Hash collisions: xxhash64 over 10^9 distinct lines
    gives ~3·10^-2 birthday odds of ONE collision pair — acceptable for
    a cleaning filter; use the line text itself as the key if not.
    """
    d = docs.select(F.col(id_col).alias("id"),
                    F.col(host_col).alias("host"),
                    F.col(text_col).alias("text"))
    lines = (d.select(
        "id", "host",
        F.posexplode(F.split(F.col("text"), "\n", -1))
        .alias("pos", "line"))
        .withColumn("line_hash", F.xxhash64("line")))
    host_docs = d.groupBy("host").agg(
        F.countDistinct("id").alias("_n_docs"))
    df_per_line = (lines.filter(F.col("line") != "")
                   .select("host", "line_hash", "id").distinct()
                   .groupBy("host", "line_hash")
                   .agg(F.count("*").alias("_df")))
    boiler = (df_per_line
              .join(F.broadcast(host_docs), "host")
              .filter((F.col("_df") >= F.lit(min_docs))
                      & (F.col("_df") * F.lit(1.0)
                         >= F.lit(min_doc_frac) * F.col("_n_docs")))
              .select("host", "line_hash",
                      F.lit(True).alias("_boiler")))
    flagged = (lines.join(boiler, ["host", "line_hash"], "left")
               .withColumn("_boiler",
                           F.coalesce(F.col("_boiler"), F.lit(False))))
    return (flagged.groupBy("id")
            .agg(F.count("*").alias("n_lines"),
                 F.sum(F.col("_boiler").cast("int")).cast("long")
                 .alias("n_boiler_lines"),
                 F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.when(~F.col("_boiler"),
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]), "\n").alias("clean_text"))
            .select("id", "clean_text",
                    F.col("n_lines").cast("long").alias("n_lines"),
                    "n_boiler_lines"))


def dsir_weights(docs: DataFrame, target_model: DataFrame,
                 background_model: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """DSIR-style importance resampling weights (Data Selection via
    Importance Resampling, Xie et al. 2023, arXiv:2302.03169), reduced
    to the engine's bit-exact integer fixed point: per doc the weight is
    the ratio of its mean trigram frequency under a TARGET reference
    model (what we want more of — wiki/books analog) to its mean
    frequency under the BACKGROUND model (the raw corpus itself), and
    the keep decision samples proportional to the weight, capped at
    certainty:

        fam_t, fam_b  = LM_SCALE * hit_mass / (N_model * n_trigrams)
        weight_fp     = (LM_SCALE * fam_t) div (fam_b + 1)   # +1: no div0
        keep_bp       = least(10000, (10000 * weight_fp) div LM_SCALE)
        sampled       = md5_bp(id) < keep_bp

    All integer `div` (fam <= LM_SCALE, so LM_SCALE*fam_t <= 1e14 — no
    bigint overflow at any corpus size); md5 basis points make the draw
    a pure function of the id, so re-runs and different cluster sizes
    keep the SAME rows (same contract as stratified_sample).

    Scale shape (100 TB): ONE exploded trigram stream serves BOTH
    models — each model is vocab-bounded (MBs) and broadcast, joined
    left so out-of-vocab trigrams count as zero mass; the single
    doc-keyed exchange aggregates both hit masses together (vs 2x
    lm_familiarity, which would pay the explode + exchange twice). The
    two model totals are scalar subqueries over the models (no nested
    loop join). The keep decision never shuffles — it is a filter of the
    output."""
    from .sampling import _hash_bp
    nt_total = target_model.agg(F.sum("n").cast("long")).scalar()
    nb_total = background_model.agg(F.sum("n").cast("long")).scalar()
    tri = docs.select(F.col(id_col).alias("id"),
                      F.explode_outer(char_trigrams(F.col(text_col)))
                      .alias("trigram"))
    scored = (tri
              .join(F.broadcast(target_model
                                .withColumnRenamed("n", "_n_t")),
                    "trigram", "left")
              .join(F.broadcast(background_model
                                .withColumnRenamed("n", "_n_b")),
                    "trigram", "left")
              .groupBy("id")
              .agg(F.count(F.col("trigram")).alias("n_trigrams"),
                   F.sum(F.coalesce(F.col("_n_t"), F.lit(0)))
                   .cast("long").alias("mass_t"),
                   F.sum(F.coalesce(F.col("_n_b"), F.lit(0)))
                   .cast("long").alias("mass_b")))
    fam = (scored.withColumn("nt_total", nt_total)
           .withColumn("nb_total", nb_total)
           .withColumn(
               "fam_target_fp",
               F.when(F.col("n_trigrams") == 0, F.lit(0).cast("long"))
               .otherwise(F.expr(
                   f"(cast({LM_SCALE} as bigint) * mass_t) "
                   "div (nt_total * n_trigrams)")))
           .withColumn(
               "fam_background_fp",
               F.when(F.col("n_trigrams") == 0, F.lit(0).cast("long"))
               .otherwise(F.expr(
                   f"(cast({LM_SCALE} as bigint) * mass_b) "
                   "div (nb_total * n_trigrams)"))))
    weighted = fam.withColumn(
        "weight_fp",
        F.expr(f"(cast({LM_SCALE} as bigint) * fam_target_fp) "
               "div (fam_background_fp + 1)"))
    return (weighted
            .withColumn("keep_bp",
                        F.least(F.lit(10000).cast("long"),
                                F.expr(f"(10000 * weight_fp) "
                                       f"div {LM_SCALE}")))
            .withColumn("sampled", _hash_bp(F.col("id")) < F.col("keep_bp"))
            .select("id", F.col("n_trigrams").cast("long").alias("n_trigrams"),
                    "fam_target_fp", "fam_background_fp", "weight_fp",
                    "keep_bp", "sampled"))


def ccnet_lang_buckets(scored: DataFrame, *, id_col: str = "id",
                       lang_col: str = "lang", score_col: str = "score",
                       q1_bp: int = 3334, q2_bp: int = 6667) -> DataFrame:
    """CCNet head/middle/tail partitioning (Wenzek et al.,
    arXiv:1911.00359 §4.4): within EACH language, split documents into
    quality terciles of the LM score — CCNet keeps 'head' (best third)
    for training and discards or down-weights the tail. Input: any
    (id, lang, score) frame — in this engine, lang_id_col ×
    lm_familiarity (higher familiarity = better, so head is the TOP
    tercile; CCNet's perplexity is the same split with the sign
    flipped). Output: (id, lang, score, cut1, cut2, bucket) with bucket
    ∈ {tail, middle, head}.

    Cuts are EXACT nearest-rank quantiles (smallest score whose
    cumulative count ≥ ceil(q·n)), not percentile_approx — approx
    sketches differ across engines and would break oracle parity.

    Scale shape (same bounded-histogram trick as
    frontier.estimate_crawl_delays): documents collapse map-side to a
    (lang, score) histogram — score is LM_SCALE fixed point, so
    distinct values per language are bounded by the score domain, NOT
    the corpus size. The cumulative walk's window partitions see only
    histogram rows (a language with 10^9 docs costs the same window
    state as one with 10^3 — the shape WindowExec-can't-skew-split
    demands), the per-language cut table is tiny and BROADCAST back,
    and the bucket label is a pure projection. Two exchanges total
    beyond the score computation: the histogram hash shuffle and the
    window sort; corpus text never moves.
    """
    from pyspark.sql.window import Window

    s = scored.select(F.col(id_col).alias("id"),
                      F.col(lang_col).alias("lang"),
                      F.col(score_col).cast("long").alias("score"))
    hist = s.groupBy("lang", "score").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy("score")
    wt = Window.partitionBy("lang")
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wt)))
    t1 = F.expr(f"(n * {q1_bp} + 9999) div 10000")
    t2 = F.expr(f"(n * {q2_bp} + 9999) div 10000")
    # cum rises with score, so min(score | cum >= target) IS nearest-rank
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") >= t1, F.col("score"))).alias("cut1"),
        F.min(F.when(F.col("cum") >= t2, F.col("score"))).alias("cut2"))
    return (s.join(F.broadcast(cuts), "lang")
            .select("id", "lang", "score", "cut1", "cut2",
                    F.when(F.col("score") <= F.col("cut1"), F.lit("tail"))
                    .when(F.col("score") <= F.col("cut2"), F.lit("middle"))
                    .otherwise(F.lit("head")).alias("bucket")))


# ---------------------------------------------------------------------------
# C4-style line-level page cleaning (Raffel et al. 2020 §2.2) — JVM twin of
# functions/kernel.c4_clean. Pure higher-order array expressions over the
# split lines: zero shuffles, zero Python, whole-stage codegen end to end.
# ---------------------------------------------------------------------------

def _c4_strip(line: Column) -> Column:
    # edge class == the word-split class below (kernel._C4_EDGE_WS twin)
    return F.regexp_replace(line, r"^[ \t\x0B\f\r]+|[ \t\x0B\f\r]+$", "")


def _c4_candidate(line: Column, min_words: int) -> Column:
    """Structural gates, kernel order: non-empty, terminal mark, not an
    ellipsis line, >= min_words words (Java \\s-minus-\\n split)."""
    return ((line != "")
            & F.substring(line, -1, 1).isin(".", "!", "?", '"')
            & ~line.endswith("...")
            & (F.size(F.split(line, r"[ \t\x0B\f\r]+", -1)) >= min_words))


def _c4_parts(text: Column, min_words_per_line: int):
    """(lines, cand, page_drop, kept_arr, clean, n_sent) shared by the
    stats operator and the engine's scalar keep column."""
    lines = F.split(text, "\n", -1)
    stripped = F.transform(lines, _c4_strip)
    cand = F.filter(stripped,
                    lambda l: _c4_candidate(l, min_words_per_line))
    page_drop = (
        F.exists(cand, lambda l: F.lower(l).contains("lorem ipsum"))
        | F.exists(cand, lambda l: l.contains("{")
                   & ~F.lower(l).contains("javascript")))

    from ..functions.kernel import C4_POLICY_SUBSTRINGS

    def keep_line(l: Column) -> Column:
        low = F.lower(l)
        bad = low.contains("javascript")
        for p in C4_POLICY_SUBSTRINGS:
            bad = bad | low.contains(p)
        return ~bad

    kept_arr = F.filter(cand, keep_line)
    clean = F.array_join(kept_arr, "\n")
    n_sent = F.regexp_count(clean, F.lit(r"[.!?]"))
    return lines, cand, page_drop, kept_arr, clean, n_sent


def c4_kept_col(text: Column, *, min_words_per_line: int = 5,
                min_sentences: int = 3) -> Column:
    """Scalar C4 keep decision (kernel.c4_clean['kept'] twin) — a pure
    boolean row function, null text → false, so it composes into any
    filter or projection without changing the plan shape."""
    _, _, page_drop, _, _, n_sent = _c4_parts(text, min_words_per_line)
    return F.coalesce(~page_drop & (n_sent >= min_sentences),
                      F.lit(False))


def c4_quality_filter(docs: DataFrame, *, id_col: str = "id",
                      text_col: str = "text",
                      min_words_per_line: int = 5,
                      min_sentences: int = 3,
                      keep_text: bool = False) -> DataFrame:
    """Per-page C4 cleaning stats + keep decision (kernel.c4_clean twin).

    Rule order matches the kernel exactly (see its docstring for the
    c4_utils provenance): structural candidate gates first; then over the
    candidates — "lorem ipsum" drops the page, "javascript" drops the
    line, "{" drops the page (the exists-form `brace AND NOT javascript`
    is equivalent to the kernel's sequential early-return: a lorem page
    is dropped either way, and a brace on a javascript line never
    reaches the brace check), policy substrings drop the line; finally
    the kept text needs >= min_sentences [.!?] marks.

    100-TB shape: one projection, no exchange — the keep decision is a
    pure function of the row, so the filter composes into any scan and
    pushes as far as the extraction stage allows. Returns (id, n_lines,
    n_cand, n_kept, n_sentences, kept:0/1[, clean_text])."""
    lines, cand, page_drop, kept_arr, clean, n_sent = _c4_parts(
        F.col(text_col), min_words_per_line)
    out = docs.select(
        F.col(id_col).alias("id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(cand).cast("long").alias("n_cand"),
        F.when(page_drop, F.lit(0)).otherwise(F.size(kept_arr))
        .cast("long").alias("n_kept"),
        F.when(page_drop, F.lit(0)).otherwise(n_sent)
        .cast("long").alias("n_sentences"),
        (~page_drop & (n_sent >= min_sentences)).cast("long").alias("kept"),
        *([F.when(~page_drop & (n_sent >= min_sentences), clean)
           .otherwise(F.lit("")).alias("clean_text")] if keep_text else []))
    return out


# soft-404 phrase list: lowercase substrings whose presence marks an error
# page served with HTTP 200. Kept tiny and literal so the DuckDB oracle
# mirrors it verbatim (SQL twin in plans/queries.py).
SOFT404_PHRASES = (
    "page not found",
    "404",
    "does not exist",
    "no longer available",
    "an error occurred",
)


def soft404_signals(docs: DataFrame, *, id_col: str = "id",
                    title_col: str = "title", text_col: str = "text",
                    status_col: str = "http_status",
                    max_words: int = 80) -> DataFrame:
    """Soft-404 detection: error pages served with HTTP 200 — the classic
    crawl-corpus poison (the server says OK, the body says "not found"),
    invisible to the status-code filter and to robots handling. Standard
    crawler countermeasure (Bar-Yossef et al., "Sic transit gloria telae:
    towards an understanding of the web's decay", WWW'04): classify on
    content signals, not status. Reference analog: the extraction
    ok/error gate (/root/reference/scraper_cleaner/html_cleaner_core.py)
    catches EMPTY extractions; this catches extractions that succeeded
    but yielded an error page.

    Signals per doc: n_words (whitespace tokens), phrase_hits (how many
    of SOFT404_PHRASES occur in the lowercased body), title_error (title
    matches 404/not-found/error). Verdict: is_soft404 = served 200 AND
    at least one body phrase AND (short body OR error title) — a real
    404/410 response is a HARD error handled upstream, so status != 200
    never flags here.

    Scale shape (100 TB): five `contains` probes + one regexp over text
    in a single whole-stage-codegen projection; zero shuffles, zero UDFs,
    no text column in the output.
    """
    lowered = F.lower(F.col(text_col))
    hits = None
    for p in SOFT404_PHRASES:
        h = F.contains(lowered, F.lit(p)).cast("long")
        hits = h if hits is None else hits + h
    n_words = token_count_col(F.col(text_col))
    title_error = F.lower(F.col(title_col)).rlike(
        r"(404|not found|error)")
    verdict = ((F.col(status_col) == 200) & (hits >= 1)
               & ((n_words < max_words) | title_error))
    return docs.select(
        F.col(id_col).alias("id"),
        F.col(status_col).cast("long").alias("http_status"),
        n_words.alias("n_words"),
        hits.cast("long").alias("phrase_hits"),
        title_error.alias("title_error"),
        verdict.alias("is_soft404"))


def linear_quality_score(docs: DataFrame, weights: dict, *,
                         id_col: str = "id", text_col: str = "text",
                         bias_bp: int = 0,
                         threshold_bp: int = 0) -> DataFrame:
    """Linear bag-of-words quality classifier — the model-based filter
    tier (the GPT-3/LLaMA "wiki-ref" logistic-classifier family, and the
    supervised counterpart of the heuristic gopher_quality /
    lm_familiarity tiers): per document,
    ``margin_bp = bias_bp + sum(weights[token])`` over lowercased
    whitespace tokens (non-alphanumerics stripped per token), and
    ``keep = margin_bp >= threshold_bp``. Weights are integer BASIS
    POINTS, so the margin is bit-deterministic — no float dot product, no
    sigmoid (monotone in the margin, so thresholding the margin IS
    thresholding the probability).

    The reference has no model-based quality gate (its only quality
    signal is extraction success, scraper_cleaner/html_cleaner_core.py);
    this is the corpus-scale filter a training-data build inserts after
    the heuristic gates.

    Scale shape (100 TB): the weight table folds into a LITERAL
    ``create_map`` inside the projection — no broadcast join, no
    shuffle, ZERO exchanges end-to-end; two ``F.aggregate`` passes over
    the token array stay in whole-stage codegen. A learned vocabulary of
    ~10^5 terms would switch to a broadcast map; the per-row plan is
    unchanged.
    """
    pairs = []
    for term in sorted(weights):
        pairs += [F.lit(term), F.lit(int(weights[term]))]
    wmap = F.create_map(*pairs)
    norm = lambda t: F.regexp_replace(t, r"[^a-z0-9]", "")  # noqa: E731
    toks = ws_tokens(F.col(text_col))
    margin = F.aggregate(
        toks, F.lit(int(bias_bp)).cast("long"),
        lambda acc, t: acc + F.coalesce(
            F.try_element_at(wmap, norm(t)).cast("long"), F.lit(0)))
    n_hits = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.when(
            F.try_element_at(wmap, norm(t)).isNotNull(),
            F.lit(1)).otherwise(F.lit(0)).cast("long"))
    return docs.select(
        F.col(id_col).alias("id"),
        margin.alias("margin_bp"),
        n_hits.alias("n_weighted_tokens"),
        (margin >= F.lit(int(threshold_bp))).alias("keep"))


def vocab_coverage(docs: DataFrame, *, text_col: str = "text",
                   top_k: int = 50, persist: bool = True) -> DataFrame:
    """Corpus vocabulary head: top-``top_k`` tokens by frequency with
    cumulative mass coverage in basis points — the first number a
    tokenizer-training run asks of a corpus (how much of the token mass
    do the K most frequent types cover / how big must the vocab be for
    X% coverage), and a cheap corpus-drift tripwire between crawl
    snapshots (a head dominated by boilerplate tokens is a template
    infestation; cf. the reference's per-document word counts,
    /root/reference/scraper_cleaner/html_cleaner_core.py:60-66, which
    never aggregate corpus-wide). Whitespace tokenization via the shared
    ``ws_tokens`` convention (lower + trim + \\s+ split, empties
    dropped), so counts reconcile with token_count_col totals.

    Returns (rank, token, n, cum_bp): rank by (n desc, token) —
    bit-deterministic ties — and cum_bp = 10000·(running token mass) //
    (total corpus token mass).

    Scale shape: the explode leaves the scan as bare token strings; the
    frequency count is ONE map-side-combined aggregate (duplicate
    tokens collapse inside each task before the shuffle — Zipf means
    the hot head collapses hardest); the top-k is TakeOrderedAndProject
    (never a full sort); the 1-row total broadcasts. The ONLY window
    runs over the top_k rows already on the driver-adjacent single
    partition — top_k is a constant (≤ a few thousand), so the
    single-partition window is size-bounded by construction, never
    corpus-driven. For full-vocab coverage curves (millions of types)
    use pack_shards' distributed prefix-sum shape instead of this
    head-only operator.

    The counts frame feeds TWO consumers (the top-k head and the 1-row
    total), so ``persist`` (default on, bounded) materializes it once —
    without it each branch re-pays the corpus scan + count, the exact
    double-scan host_link_rollup's pair table avoids the same way."""
    from pyspark.sql import Window

    toks = (docs.select(F.explode(ws_tokens(F.col(text_col)))
                        .alias("token"))
            .filter(F.col("token") != ""))
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    if persist:
        from ..caching import bounded_persist
        counts = bounded_persist(counts, tag="vocab_coverage")
    total = counts.agg(F.sum("n").cast("long").alias("_tot"))
    top = counts.orderBy(F.desc("n"), "token").limit(top_k)
    w = (Window.orderBy(F.desc("n"), "token")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (top.crossJoin(F.broadcast(total))
            .select(F.row_number().over(w).cast("long").alias("rank"),
                    "token", "n",
                    F.expr("10000 * sum(n) over (order by n desc, token "
                           "rows between unbounded preceding and current "
                           "row) div _tot").cast("long").alias("cum_bp")))


# Word-boundary toxicity/NSFW lexicon for document-level filtering — a
# deliberately small deterministic stand-in for the UT1/LDNOOBW lists the
# real pipelines ship (the operator takes any list; tests and fixtures
# use this one). Lowercase entries, matched as whole words.
TOXIC_LEXICON = ("slur0", "slur1", "gore", "explicit", "nsfw",
                 "hateword", "obscenity")


def toxicity_score(docs: DataFrame, *, id_col: str = "id",
                   text_col: str = "text",
                   lexicon: tuple = TOXIC_LEXICON,
                   max_hits_bp: int = 50) -> DataFrame:
    """Document-level toxicity gating (the C4/RefinedWeb "bad words"
    stage): count word-boundary lexicon hits per document, normalize by
    token count into basis points, and emit keep/flag verdicts —
    ``flagged`` (any hit) and ``dropped`` (hit density above
    max_hits_bp, the curated-list-but-keep-medical-text compromise C4
    famously got wrong by hard-dropping; both signals are emitted so the
    mixer chooses). Complements url_prefilter (URL-lexical, pre-fetch)
    and quality_linear (generic quality): this is the content-policy
    axis, post-extraction.

    Scale shape (100 TB corpus): hits come from ONE compiled alternation
    regex evaluated inside whole-stage codegen (regexp_count, no UDF, no
    explode — the token array is never materialized); token counts reuse
    token_count_col. Zero shuffles: the operator is a pure projection,
    so it fuses into whatever scan or filter surrounds it and Parquet
    row-group pruning above it still applies.
    """
    alt = "|".join(lexicon)
    pat = rf"(?i)\b({alt})\b"
    t = F.col(text_col)
    n_tokens = token_count_col(t)
    hits = F.coalesce(F.regexp_count(F.lower(t), F.lit(pat)),
                      F.lit(0)).cast("long")
    hits_bp = F.expr("(10000 * _hits) div greatest(_nt, 1)")
    staged = docs.select(
        F.col(id_col), n_tokens.alias("_nt"), hits.alias("_hits"))
    return (staged
            .withColumn("hits_bp", hits_bp.cast("long"))
            .select(F.col(id_col),
                    F.col("_nt").alias("n_tokens"),
                    F.col("_hits").alias("n_hits"),
                    "hits_bp",
                    (F.col("_hits") > 0).alias("flagged"),
                    (F.col("hits_bp") > max_hits_bp).alias("dropped")))


def polyglot_segments(docs: DataFrame, *, id_col: str = "id",
                      text_col: str = "text", window_tokens: int = 40,
                      dominant_bp: int = 7000) -> DataFrame:
    """Per-segment language consistency (the CCNet move of scoring
    PARAGRAPHS, not documents): split each doc into fixed token windows,
    language-ID every window with the marker heuristic, and roll up a
    per-doc verdict — boilerplate-sandwiched translations, comment
    sections in a second language, and template chrome around foreign
    content all look monolingual to doc-level lang_id and show up here
    as a low dominant-language share. ``mixed`` docs are what a
    monolingual corpus filter should route to segment-level extraction
    instead of dropping whole.

    Output per doc: n_segments (all windows), n_langs (distinct
    identified languages — 'und' excluded), dom_lang (most frequent
    IDENTIFIED window language, ties to the alphabetically-first;
    'und' when no window identifies), dom_bp (dominant share in basis
    points of the identified windows — marker-free windows don't
    dilute the verdict), mixed (identified windows exist and dom_bp <
    dominant_bp).

    Scale shape (100 TB corpus): window slicing + per-window marker
    intersection is ONE codegen projection over a posexploded sequence
    (segments leave the stage as narrow (id, lang) rows — text never
    survives the projection); the rollup is two map-side-combined
    aggregates ((id, lang) counts, then per-id min_by election). No
    window functions, no joins except the final doc-keyed agg."""
    toks = ws_tokens(F.col(text_col))
    w = window_tokens
    # token_count_col's zero-guard convention: NULL/empty/whitespace
    # text is ZERO tokens (split('') yields [''], which would otherwise
    # count a phantom 'und' segment)
    n_tok = F.when(F.coalesce(F.trim(F.col(text_col)), F.lit("")) == "",
                   F.lit(0)).otherwise(F.size(toks))
    staged = docs.select(F.col(id_col).alias("id"), toks.alias("_t"),
                         n_tok.alias("_n"))
    segs = (staged.filter(F.col("_n") > 0)
            .select("id", "_t",
                    F.explode(F.sequence(
                        F.lit(0),
                        F.expr(f"(_n - 1) div {w}"))).alias("_g"))
            .select("id", F.slice(F.col("_t"),
                                  F.col("_g") * w + 1, w).alias("_st")))
    langs = sorted(LANG_MARKERS)
    pred, best = F.lit("und"), F.lit(0).cast("long")
    for lang in langs:
        markers = F.array(*[F.lit(x) for x in sorted(LANG_MARKERS[lang])])
        s = (F.size(F.filter(F.col("_st"),
                             lambda t: F.array_contains(markers, t)))
             .cast("long"))
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    seg_lang = segs.select("id", pred.alias("seg_lang"))
    per_lang = (seg_lang.groupBy("id", "seg_lang")
                .agg(F.count(F.lit(1)).cast("long").alias("n")))
    ident = F.col("seg_lang") != "und"
    agg = (per_lang.groupBy("id")
           .agg(F.sum("n").cast("long").alias("n_segments"),
                F.sum(F.when(ident, 1).otherwise(0)).cast("long")
                .alias("n_langs"),
                F.sum(F.when(ident, F.col("n")).otherwise(0)).cast("long")
                .alias("_ni"),
                # min over (−count, lang) among identified rows only —
                # `when` yields null on 'und' rows and min skips nulls
                F.min(F.when(ident,
                             F.struct((-F.col("n")).alias("neg"),
                                      F.col("seg_lang").alias("lang"))))
                .alias("_d")))
    dom_bp = F.when(F.col("_ni") > 0,
                    F.expr("(10000 * -(_d.neg)) div _ni")).otherwise(0)
    verdicts = (agg.withColumn("dom_lang",
                               F.coalesce(F.col("_d.lang"), F.lit("und")))
                .withColumn("dom_bp", dom_bp.cast("long"))
                .withColumn("mixed", (F.col("_ni") > 0)
                            & (F.col("dom_bp") < dominant_bp))
                .select("id", "n_segments", "n_langs", "dom_lang",
                        "dom_bp", "mixed"))
    # contract is ONE verdict per input doc: NULL/empty-text docs have
    # no windows (the _n > 0 filter above) but must not VANISH from the
    # rollup — join the full id set back with the empty-doc verdict
    return (staged.select("id").join(verdicts, "id", "left")
            .select("id",
                    F.coalesce("n_segments", F.lit(0)).cast("long")
                    .alias("n_segments"),
                    F.coalesce("n_langs", F.lit(0)).cast("long")
                    .alias("n_langs"),
                    F.coalesce("dom_lang", F.lit("und")).alias("dom_lang"),
                    F.coalesce("dom_bp", F.lit(0)).cast("long")
                    .alias("dom_bp"),
                    F.coalesce("mixed", F.lit(False)).alias("mixed")))


# ---------------------------------------------------------------------------
# Count-min sketch (heavy-hitter token counts in fixed memory) and Zipf fit
# (token-distribution health) — corpus-statistics sketches that bound state
# the way a 10^10-document scan requires.
# ---------------------------------------------------------------------------

CMS_D = 4       # hash rows
CMS_W = 1024    # buckets per row


def _cms_bucket(row: int, token: Column) -> Column:
    """Row-salted md5-derived bucket — the engine-portable hash family
    (one independent function per sketch row via the row-index salt)."""
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(str(row)), F.lit("#"), token)), 1, 8),
        16, 10).cast("long") % CMS_W)


def cms_build(refs: DataFrame, *, token_col: str = "token") -> DataFrame:
    """Count-min sketch cells (row, bucket, n) over a token stream.

    The sketch is d×w = 4×1024 integer cells TOTAL — fixed memory for
    any stream size. Each occurrence increments one cell per row; the
    groupBy combines map-side, so the exchange carries at most d·w
    rows per partition no matter how many tokens flowed. This is the
    frequency analogue of the HLL register frame, with the same
    distributed-merge property: cells from independent scans ADD
    (proved by the build-vs-union test)."""
    cells = [F.struct(F.lit(i).alias("row"),
                      _cms_bucket(i, F.col(token_col)).alias("bucket"))
             for i in range(CMS_D)]
    return (refs.select(F.explode(F.array(*cells)).alias("c"))
            .groupBy(F.col("c.row").alias("row"),
                     F.col("c.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def cms_probe(cells: DataFrame, probes: DataFrame, *,
              token_col: str = "token") -> DataFrame:
    """Point-estimate probe-token frequencies from a sketch: est(t) =
    min over rows of cell(row, bucket_row(t)) — never an undercount
    (every cell holds the true count plus non-negative collision mass;
    the classic ε = e/w, δ = e^−d guarantee caps the overcount at εN
    with probability 1−δ). Probe side is tiny and broadcast; the
    sketch side is ≤ d·w rows — the join moves no corpus data."""
    keyed = probes.select(
        F.col(token_col).alias("token"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row"),
                     _cms_bucket(i, F.col(token_col)).alias("bucket"))
            for i in range(CMS_D)])).alias("c")) \
        .select("token", "c.row", "c.bucket")
    return (keyed.join(cells, ["row", "bucket"], "left")
            .groupBy("token")
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                 .cast("long").alias("n_est")))


def zipf_fit(counts: DataFrame, *, group_col: str, count_col: str = "n",
             token_col: str = "token", top_ranks: int = 300) -> DataFrame:
    """Per-group Zipf exponent: least-squares slope of ln(freq) on
    ln(rank) over the top ``top_ranks`` tokens (rank by count desc,
    ``token_col`` asc — fully deterministic). Natural text sits near −1;
    a corpus segment drifting far off (template spam, keyword stuffing,
    machine-generated filler) shows up immediately, which is why
    corpus-health dashboards track this per source/language slice.

    Output per group: n_ranks, slope (4dp), r2 (4dp). The closed-form
    fit runs over top_ranks-cardinality rows per group — the only wide
    work is the token-count aggregate the caller already produced."""
    from pyspark.sql import Window
    w = Window.partitionBy(group_col).orderBy(
        F.col(count_col).desc(), F.col(token_col).asc())
    ranked = (counts.withColumn("_r", F.row_number().over(w))
              .filter(F.col("_r") <= top_ranks)
              .select(group_col,
                      F.log(F.col("_r").cast("double")).alias("x"),
                      F.log(F.col(count_col).cast("double")).alias("y")))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # degenerate groups (a single rank ⇒ denx = 0; all-equal counts ⇒
    # deny = 0) get NULL rather than an engine-dependent div-by-zero
    return agg.select(
        group_col, F.col("n").cast("long").alias("n_ranks"),
        F.when(denx > 0, F.round(num / denx, 4)).alias("slope"),
        F.when((denx > 0) & (deny > 0),
               F.round((num * num) / (denx * deny), 4)).alias("r2"))
