"""Training-data curation operators over the ``documents`` corpus —
round-3 additions to the LLM-pipeline family (preference-pair mining,
stratified corpus QA, PMI collocations, entity stats, sequence-length
planning, loss masking, curriculum ordering).

Like ``functions.text``, everything here is built-in JVM expressions
(no Python UDFs) with engine-portable hashing and math, so every
operator is DuckDB-oracle-checkable. Scale notes are per-function; the
common pattern is: per-doc work is a scan-side projection, corpus-level
constants travel as one-row broadcasts, and vocabulary-scale tables
(token stats) get df-bounded before any self-join so no hub token can
quadratically blow up a pair table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.ranking import ranked_topk, top_k_per_group
from .fitting import dec9, md5_prefix
from .text import STOPWORDS_EN, _doc_sums, count_in_lexicon, tokens_col


def dpo_pair_mining(
    ratings: DataFrame,
    col_user: str = "user",
    col_item: str = "item",
    col_rating: str = "rating",
    min_margin: float = 1.0,
) -> DataFrame:
    """Preference pairs for DPO/RLHF-style training: per user, the
    top-rated item becomes ``chosen`` and the bottom-rated ``rejected``
    (deterministic tie-breaks: chosen prefers the smaller item id,
    rejected the larger), kept when the rating margin is at least
    ``min_margin``. Multiplicity is collapsed to a per-(user,item) mean
    rating first, so repeat purchases don't bias the extremes.

    Scale: two grouped aggregates, no window sorts (round-12): both
    per-user extremes are min/max over ONE struct (−r, item) — the
    min is (max rating, tie → smaller id) = chosen, the max is
    (min rating, tie → larger id) = rejected — bit-identical to the
    earlier two-row_number-window formulation (the tie table is
    pinned by test_dpo_pair_mining_tiebreaks_and_margin and the
    declared query's oracle, which was NOT changed; IEEE negation is
    exact, so margin = max.nr − min.nr equals r_chosen − r_rejected
    bit-for-bit), but with partial (map-side) aggregation instead of
    two per-user sorts — within-probe A/B at sf0.1 in SCALE.md.
    Output is user-scale."""
    per_item = ratings.groupBy(col_user, col_item).agg(
        F.avg(col_rating).alias("r")
    )
    s = F.struct((-F.col("r")).alias("nr"), F.col(col_item).alias("it"))
    pairs = (
        per_item.groupBy(F.col(col_user).alias("user"))
        .agg(F.min(s).alias("mt"), F.max(s).alias("mb"))
        .select(
            "user",
            F.col("mt.it").alias("chosen_item"),
            F.col("mb.it").alias("rejected_item"),
            F.round(F.col("mb.nr") - F.col("mt.nr"), 6).alias("margin"),
        )
        .filter(F.col("chosen_item") != F.col("rejected_item"))
    )
    return pairs.filter(F.col("margin") >= min_margin)


def stratified_metrics(
    df: DataFrame, col_text: str = "text", col_stratum: str = "lang"
) -> DataFrame:
    """Per-stratum corpus QA: doc count, mean chars/tokens, and the
    stratum's z-score of mean doc length against the across-strata
    distribution — the table a curation run eyeballs for outlier
    languages/sources before mixing.

    Scale: one grouped aggregate (stratum-scale) + one one-row
    aggregate over IT, broadcast back — the corpus is scanned once."""
    t = f"split({col_text}, ' ')"
    per = df.groupBy(col_stratum).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.length(col_text)), 6).alias("avg_chars"),
        F.round(F.avg(F.expr(f"size({t})")), 6).alias("avg_tokens"),
    )
    stats = per.agg(
        F.avg("avg_chars").alias("mu"),
        F.stddev_samp("avg_chars").alias("sigma"),
    )
    return (
        per.crossJoin(F.broadcast(stats))
        .select(
            col_stratum,
            "n_docs",
            "avg_chars",
            "avg_tokens",
            # try_divide: strata with identical mean lengths have
            # sigma 0 (and a single stratum has sigma NULL) — the
            # z-score is undefined there, not an ANSI crash
            F.round(
                F.try_divide(
                    F.col("avg_chars") - F.col("mu"), F.col("sigma")
                ),
                6,
            ).alias("len_zscore"),
        )
        .orderBy(col_stratum)
    )


def doc_cooccurrence_pmi(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    min_df: int = 5,
    max_df_ratio: float = 0.5,
    min_pair_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k token collocations by document-level PMI:
    ln(P(a,b) / (P(a)·P(b))) over distinct token-document incidence.

    Scale guard rails (what makes PMI survivable at corpus scale): the
    self-join runs ONLY over tokens with df in [min_df, max_df_ratio·N]
    — the low cut kills the long tail (most of the vocabulary), the
    high cut removes stopword-like hub tokens whose inverted lists
    would otherwise pair quadratically (the same hot-shingle skew rule
    as the Jaccard family). The join is an inverted-index equi-join on
    doc_id, so only co-occurring pairs materialize."""
    toks = df.select(
        F.col(col_id).alias("doc"),
        F.explode(F.array_distinct(F.split(F.col(col_text), " "))).alias(
            "tok"
        ),
    )
    n_docs = df.select(
        F.countDistinct(col_id).cast("double").alias("n_docs")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    bounded = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") <= max_df_ratio * F.col("n_docs"))
        )
        .select("tok", "df")
    )
    kept = toks.join(F.broadcast(bounded), "tok")
    a = kept.select(
        F.col("doc"), F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    b = kept.select(
        F.col("doc"), F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    scored = pairs.crossJoin(F.broadcast(n_docs)).select(
        "tok_a",
        "tok_b",
        "n_ab",
        F.round(
            F.log(
                F.col("n_ab")
                * F.col("n_docs")
                / (F.col("df_a") * F.col("df_b"))
            ),
            6,
        ).alias("pmi"),
    )
    return ranked_topk(
        scored, [F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")], top_k
    ).select("rnk", "tok_a", "tok_b", "n_ab", "pmi")


def entity_extract_stats(
    df: DataFrame, col_text: str = "text", col_stratum: str = "lang"
) -> DataFrame:
    """Per-stratum surface-entity yield: counts of capitalized words,
    standalone numbers, and ALL-CAPS acronyms per document, aggregated
    by stratum — the cheap precursor to a real NER pass that tells a
    pipeline where entity-bearing text lives. RE2-safe patterns (the
    oracle runs them under DuckDB's RE2 engine verbatim).

    Scale: pure scan-side projection + one stratum-scale aggregate."""
    cap = F.size(
        F.expr(rf"regexp_extract_all({col_text}, '\\b[A-Z][a-z]+', 0)")
    ).cast("long")
    num = F.size(
        F.expr(rf"regexp_extract_all({col_text}, '\\b[0-9]+\\b', 0)")
    ).cast("long")
    acro = F.size(
        F.expr(rf"regexp_extract_all({col_text}, '\\b[A-Z]{{2,}}\\b', 0)")
    ).cast("long")
    per_doc = df.select(
        F.col(col_stratum),
        cap.alias("n_cap"),
        num.alias("n_num"),
        acro.alias("n_acro"),
    )
    return (
        per_doc.groupBy(col_stratum)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_cap").alias("capitalized_words"),
            F.sum("n_num").alias("numbers"),
            F.sum("n_acro").alias("acronyms"),
            F.round(F.avg("n_cap"), 6).alias("avg_cap_per_doc"),
        )
        .orderBy(col_stratum)
    )


def seqlen_histogram(
    df: DataFrame, col_text: str = "text"
) -> DataFrame:
    """Sequence-length planning table: documents bucketed by
    next-power-of-two token count, with doc/token counts and the
    cumulative token share per bucket — what you read before choosing
    a training context length and packing strategy.

    Scale: one scan + one bucket-scale aggregate; the cumulative
    window runs over ≤ ~40 bucket rows. The bucket is computed from the
    BINARY LENGTH of n-1 (1 << bits), not pow(2, ceil(log2 n)): libm
    log2 can differ by an ulp between engines and flip a bucket, while
    integer bit-length is exact everywhere."""
    n = f"size(split({col_text}, ' '))"
    n_tok = F.expr(n).cast("long")
    bucket = F.expr(
        f"CASE WHEN {n} <= 1 THEN 1L"
        f" ELSE shiftleft(1L, length(bin({n} - 1))) END"
    )
    per = (
        df.select(bucket.alias("len_bucket"), n_tok.alias("n_tok"))
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.orderBy("len_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per.agg(F.sum("n_tokens").alias("tot"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "len_bucket",
            "n_docs",
            "n_tokens",
            F.round(
                F.sum("n_tokens").over(w) / F.col("tot"), 6
            ).alias("cum_token_share"),
        )
        .orderBy("len_bucket")
    )


def tokenizer_fertility(
    df: DataFrame, col_text: str = "text", col_stratum: str = "lang"
) -> DataFrame:
    """Tokenizer fertility proxy per stratum: subword pieces per
    whitespace word, where pieces follow a crude BPE-ish segmentation
    (letter runs, single digits, single punctuation marks). High
    fertility strata cost more compute per word — the standard
    multilingual-budgeting diagnostic.

    Scale: scan-side regexp projection + stratum-scale aggregate."""
    pieces = F.size(
        F.expr(
            rf"regexp_extract_all({col_text},"
            rf" '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)"
        )
    ).cast("double")
    words = F.expr(f"size(split({col_text}, ' '))").cast("double")
    per_doc = df.select(
        F.col(col_stratum),
        pieces.alias("n_pieces"),
        words.alias("n_words"),
    )
    return (
        per_doc.groupBy(col_stratum)
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.round(F.sum("n_pieces") / F.sum("n_words"), 6).alias(
                "fertility"
            ),
        )
        .orderBy(col_stratum)
    )


def loss_mask_spans(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """SFT loss-mask accounting: tokens that are pure numbers or
    English stopwords are masked out of the loss (the structured /
    boilerplate proxy); returns per-doc token, masked and effective
    counts plus the mask ratio. The real masking decision is a config;
    the operator's job is the one-pass accounting shape.

    Scale: scan-side higher-order filter, zero shuffles."""
    t = f"split({col_text}, ' ')"
    n_tok = F.expr(f"size({t})").cast("long")
    n_num = F.expr(
        f"size(filter({t}, x -> x RLIKE '^[0-9]+$'))"
    ).cast("long")
    n_stop = count_in_lexicon(t, STOPWORDS_EN).cast("long")
    return df.select(
        F.col(col_id),
        n_tok.alias("n_tokens"),
        (n_num + n_stop).alias("n_masked"),
        (n_tok - n_num - n_stop).alias("n_loss_tokens"),
        F.round((n_num + n_stop) / n_tok.cast("double"), 6).alias(
            "mask_ratio"
        ),
    )


def curriculum_order(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    n_stages: int = 4,
) -> DataFrame:
    """Curriculum staging: rank documents by a difficulty composite
    (length + lexical rarity proxy = mean token length) into
    ``n_stages`` ntile stages; returns per-stage doc/token counts and
    difficulty bounds — the schedule table a curriculum loader joins
    against.

    Scale note: ntile is a GLOBAL window (single-reducer sort) — fine
    for the stage-table output here; :func:`curriculum_cuts` is the
    window-free 100 TB twin (percentile cut points broadcast over the
    scan), equally oracle-checked."""
    t = f"split({col_text}, ' ')"
    n_tok = F.expr(f"size({t})").cast("double")
    mean_len = (
        F.expr(
            f"aggregate(transform({t}, x -> length(x)), 0L, (a, x) -> a + x)"
        )
        / n_tok
    )
    scored = df.select(
        F.col(col_id),
        n_tok.alias("n_tok"),
        F.round(
            F.least(n_tok / 100.0, F.lit(1.0)) * 0.5 + mean_len / 10.0 * 0.5,
            6,
        ).alias("difficulty"),
    )
    w = Window.orderBy(F.asc("difficulty"), F.asc(col_id))
    staged = scored.withColumn(
        "stage", F.ntile(n_stages).over(w).cast("bigint")
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.min("difficulty"), 6).alias("min_difficulty"),
            F.round(F.max("difficulty"), 6).alias("max_difficulty"),
        )
        .orderBy("stage")
    )


def zipf_fit(
    df: DataFrame,
    col_text: str = "text",
    min_count: int = 5,
    top_k: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    ln(freq) on ln(rank) across the ``top_k`` most frequent tokens
    (natural text sits near −1; heavily duplicated or templated
    corpora flatten toward 0 — a one-number corpus-health signal).

    Slope is computed by the closed covariance form cov(x,y)/var(x)
    (identical algebra in the DuckDB oracle) rather than an engine
    regression primitive, so both engines round the same arithmetic.

    Scale: token counting is one vocabulary-scale shuffle; the rank
    window and the regression run over ≤ top_k rows (the df cut
    already shrank the vocabulary), and the final result is one row."""
    freqs = (
        df.select(
            F.explode(F.split(F.col(col_text), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    ranked = (
        ranked_topk(freqs, [F.desc("n"), F.asc("tok")], top_k)
        .select(
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    # try_divide: a degenerate fit table (a single qualifying token →
    # var(x) = 0) has no defined slope — NULL, not an ANSI crash
    slope = F.try_divide(F.covar_pop("x", "y"), F.var_pop("x"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            F.avg("y") - slope * F.avg("x"), 6
        ).alias("zipf_intercept"),
    )


def mad_outlier_docs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    cutoff: float = 3.5,
) -> DataFrame:
    """Robust length-outlier detection: the modified z-score
    0.6745·(x − median)/MAD of token counts (Iglewicz–Hoaglin), which
    unlike mean/stddev doesn't let the outliers themselves inflate the
    threshold. Returns flagged docs with their scores — the standard
    pre-filter before length-sensitive curation stages.

    MAD = 0 (≥ half the corpus shares the median length — boilerplate-
    heavy corpora, not just constant ones) falls back to the
    Iglewicz–Hoaglin alternative (x − median)/(1.2533·MeanAD), so a
    genuine extreme outlier among boilerplate is still flagged; only a
    fully constant corpus (MeanAD 0 too) yields no outliers.

    Scale: two exact-percentile aggregates (median of n, then median +
    mean of |n − median| in ONE reduction) — each a single one-row
    reduction broadcast back over the scan; no window, no sort of the
    corpus. At 100 TB swap `percentile` for `approx_percentile`
    (documented ε) with the same plan shape."""
    toks = df.select(
        F.col(col_id),
        F.expr(f"size(split({col_text}, ' '))").cast("double").alias("n"),
    )
    med = toks.agg(F.expr("percentile(n, 0.5)").alias("med"))
    dev = (
        toks.crossJoin(F.broadcast(med))
        .select(F.col(col_id), "n", "med", F.abs(F.col("n") - F.col("med")).alias("ad"))
    )
    mad = dev.agg(
        F.expr("percentile(ad, 0.5)").alias("mad"),
        F.avg("ad").alias("meanad"),
    )
    # MAD > 0: the standard modified z. MAD = 0: MeanAD fallback
    # (Iglewicz–Hoaglin) keeps real outliers visible in boilerplate-
    # heavy corpora; try_divide makes a fully constant corpus
    # (MeanAD 0 too) read NULL → "no outliers", never an ANSI crash
    mz = F.when(
        F.col("mad") > 0,
        F.round(0.6745 * (F.col("n") - F.col("med")) / F.col("mad"), 6),
    ).otherwise(
        F.round(
            F.try_divide(
                F.col("n") - F.col("med"), 1.2533 * F.col("meanad")
            ),
            6,
        )
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            F.col(col_id),
            F.col("n").cast("bigint").alias("n_tokens"),
            mz.alias("mod_zscore"),
        )
        .filter(F.abs(F.col("mod_zscore")) >= cutoff)
        .orderBy(F.desc(F.abs(F.col("mod_zscore"))), F.asc(col_id))
    )


def curriculum_cuts(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    n_stages: int = 4,
) -> DataFrame:
    """The 100 TB path promised by :func:`curriculum_order`'s docstring,
    as real tested code: stages assigned by exact difficulty-percentile
    CUTS instead of a global ntile window — one grouped-less aggregate
    produces the (n_stages−1) cut points, broadcast back over the scan,
    and stage = 1 + #cuts strictly below the row's difficulty. No
    global sort, no single-reducer window; stage populations are
    quantile-balanced up to ties at the cuts (ntile's exact equal
    counts are a presentation nicety, not a training requirement)."""
    t = f"split({col_text}, ' ')"
    n_tok = F.expr(f"size({t})").cast("double")
    mean_len = (
        F.expr(
            f"aggregate(transform({t}, x -> length(x)), 0L, (a, x) -> a + x)"
        )
        / n_tok
    )
    scored = df.select(
        F.col(col_id),
        n_tok.alias("n_tok"),
        F.round(
            F.least(n_tok / 100.0, F.lit(1.0)) * 0.5 + mean_len / 10.0 * 0.5,
            6,
        ).alias("difficulty"),
    )
    fracs = ", ".join(
        str(i / n_stages) for i in range(1, n_stages)
    )
    cuts = scored.agg(
        F.expr(f"percentile(difficulty, array({fracs}))").alias("cuts")
    )
    staged = scored.crossJoin(F.broadcast(cuts)).select(
        "n_tok",
        "difficulty",
        (
            F.lit(1)
            + F.expr("size(filter(cuts, c -> c < difficulty))")
        ).cast("bigint").alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.min("difficulty"), 6).alias("min_difficulty"),
            F.round(F.max("difficulty"), 6).alias("max_difficulty"),
        )
        .orderBy("stage")
    )


def rolling_origin_folds(
    df: DataFrame,
    col_ts: str,
    n_folds: int = 3,
    value_col: str | None = None,
) -> DataFrame:
    """Rolling-origin (forward-chaining) cross-validation folds — the
    time-series counterpart of k-fold: fold f trains on every slice
    BEFORE slice f and tests on slice f itself, so evaluation never
    sees the future. The fold audit a temporal model pipeline runs
    before trusting a backtest.

    The time range splits into ``n_folds + 1`` equal slices via one
    min/max aggregate broadcast over the scan (integer day arithmetic,
    engine-portable). Fold membership is a constant fan-out: every row
    explodes over the n_folds fold ids, keeps 'test' where fold ==
    slice and 'train' where fold > slice — never a per-fold self-scan
    or self-join, so the plan is one scan + one n_folds-way explode +
    one groupBy regardless of n_folds' value or data size. Output:
    per-(fold, split) row counts and optional value totals."""
    bounds = df.agg(
        F.min(F.col(col_ts)).alias("__t0"),
        F.max(F.col(col_ts)).alias("__t1"),
    )
    n_slices = n_folds + 1
    sliced = df.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(n_slices - 1),
            F.floor(
                F.datediff(F.col(col_ts), F.col("__t0"))
                * n_slices
                / (F.datediff(F.col("__t1"), F.col("__t0")) + 1)
            ),
        ).cast("int").alias("slice"),
        *([F.col(value_col).alias("__v")] if value_col else []),
    )
    folded = (
        sliced.select(
            "*",
            F.explode(F.sequence(F.lit(1), F.lit(n_folds))).alias("fold"),
        )
        .withColumn(
            "split",
            F.when(F.col("fold") == F.col("slice"), F.lit("test")).when(
                F.col("fold") > F.col("slice"), F.lit("train")
            ),
        )
        .filter(F.col("split").isNotNull())
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col:
        # big-group currency sum: DECIMAL accumulation is order-
        # independent across partitionings/engines (SCALE.md rule)
        aggs.append(
            F.round(
                F.sum(F.col("__v").cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_value")
        )
    return folded.groupBy("fold", "split").agg(*aggs)


def weighted_sample(
    df: DataFrame,
    n: int,
    col_id: str = "doc_id",
    col_weight: str = "n_chars",
    col_stratum: str | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis (2006) priority key: each row draws priority
    u^(1/w) for a uniform u, and the n largest priorities are an
    exact weight-proportional sample — the distributed analogue of a
    weighted reservoir, and the right way to downsample a corpus
    where inclusion probability must track a weight (doc length,
    quality, traffic).

    u is md5-derived from the id ((bucket+1)/2^32, never zero) — the
    engine-portable RNG-free uniform used across the sampling family,
    so the sample is stable under repartitioning and reproducible by
    the SQL oracle. Priorities are computed as exp(ln(u)/w)
    scan-side.

    Scale shape: with no stratum, the global top-n is
    ``ranking.ranked_topk`` (orderBy+limit → TakeOrderedAndProject:
    every task keeps n rows, no single-reducer sort). With
    ``col_stratum``, ``ranking.top_k_per_group`` selects n rows per
    group — bounded-group state."""
    u = (
        md5_prefix(F.md5(F.col(col_id).cast("string")), 8).cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    pri = F.exp(F.log(u) / F.col(col_weight).cast("double"))
    base = df.select(
        F.col(col_id),
        *([F.col(col_stratum)] if col_stratum else []),
        F.col(col_weight).alias("weight"),
        F.round(pri, 9).alias("priority"),
    )
    order = [F.desc("priority"), F.asc(col_id)]
    if col_stratum is None:
        return ranked_topk(base, order, n)
    return top_k_per_group(base, col_stratum, order, n)


def quantile_normalize(
    df: DataFrame,
    col_id: str = "doc_id",
    col_value: str = "n_chars",
    col_group: str = "source",
    n_bins: int = 10,
) -> DataFrame:
    """Per-group quantile binning — the score-calibration step that
    makes values comparable ACROSS groups (a length or quality score
    that is 'high' for one source may be median for another): each row
    gets the quantile bin (0..n_bins-1) of its value WITHIN its group.

    Plan: one exact-percentile aggregate per group produces the
    n_bins-1 interior cutoffs (a groups-scale table, broadcast), and
    binning is a scan-side array comparison — count of cutoffs below
    the value. NO per-group window sort (the balanced_sample lesson:
    a dominant group must never become one reducer's sort); at sizes
    where exact per-group percentile state is too heavy, swap in
    approx_percentile — same plan shape, documented sketch-twin rule."""
    from pyspark.sql.functions import broadcast

    qs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    cuts = df.groupBy(col_group).agg(
        F.expr(f"percentile({col_value}, array({qs}))").alias("cuts")
    )
    return df.join(broadcast(cuts), col_group).select(
        F.col(col_id),
        F.col(col_group),
        F.col(col_value),
        F.size(
            F.filter("cuts", lambda c: F.col(col_value) > c)
        ).cast("bigint").alias("qbin"),
    )


def dsir_importance(
    df: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 64,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_lang: str = "lang",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) with hashed unigram features: score every document by how
    much more likely its tokens are under the TARGET distribution
    (here: docs whose ``col_lang`` equals ``target_lang``) than under
    the raw corpus — the standard way to upweight target-domain-like
    data when composing a pretraining mixture.

    Feature = md5-hashed token bucket (engine-portable, no
    vocabulary); per-bucket log-ratio uses Laplace smoothing:

        lr(b) = log2((t_b + 1)/(T + B)) - log2((r_b + 1)/(R + B))

    and a document's score is the MEAN lr over its tokens. Per-bucket
    log-ratios are rounded to DECIMAL(18,9) so the per-doc sums are
    exact and partition-order independent.

    Scale shape: two bucket aggregates (each map-side combined down to
    ``n_buckets`` rows), broadcast back over the token stream; ONE
    corpus-scale shuffle (per-doc aggregation). Totals travel as
    one-row broadcast frames — nothing is collected to the driver."""
    toks = df.select(
        F.col(col_id),
        F.col(col_lang).alias("lang"),
        F.explode(F.split(F.col(col_text), " ")).alias("token"),
    ).withColumn("b", md5_prefix(F.md5("token"), 8) % n_buckets)
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("r_b"))
    tgt = (
        toks.filter(F.col("lang") == target_lang)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("t_b"))
    )
    totals = toks.agg(
        F.count(F.lit(1)).alias("r_total"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).alias("t_total"),
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            dec9(
                F.log2(
                    (F.coalesce("t_b", F.lit(0)) + 1).cast("double")
                    / (F.col("t_total") + n_buckets)
                )
                - F.log2(
                    (F.col("r_b") + 1).cast("double")
                    / (F.col("r_total") + n_buckets)
                )
            ).alias("lr"),
        )
    )
    per = _doc_sums(
        toks, F.broadcast(lr), "b", [col_id, "lang"], sum_lr="lr"
    )
    return per.select(
        col_id,
        "lang",
        "n_tokens",
        F.round(
            F.col("sum_lr").cast("double") / F.col("n_tokens"), 6
        ).alias("avg_log_ratio"),
    )


def split_leakage_audit(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    train_mod: int = 10,
    train_lt: int = 8,
) -> DataFrame:
    """Train/eval contamination check for a hash-based split: assign
    every document to train/eval by the md5(id) rule (u %% train_mod <
    train_lt → train, the grouped_split convention), then count
    CONTENT collisions across the boundary — exact duplicates whose
    copies land in different splits leak eval answers into training,
    the classic benchmark-contamination failure the dedup stage exists
    to prevent.

    Output is one row per split boundary status:
    ``(status, n_hashes, n_docs)`` where status ∈ {'train_only',
    'eval_only', 'leaked'} over distinct content hashes — 'leaked'
    must be driven to zero by deduplicating BEFORE splitting.

    Scale shape: one (content-hash, split) distinct projection (two
    scan-side md5s, no text shuffle beyond the hash), one hash-keyed
    aggregate, one status-scale rollup — the same single-shuffle
    cost as exact dedup itself."""
    u = md5_prefix(F.md5(F.col(col_id).cast("string")), 8)
    tagged = df.select(
        F.md5(F.col(col_text)).alias("content_hash"),
        F.when(u % train_mod < train_lt, "train")
        .otherwise("eval")
        .alias("split"),
    )
    per_hash = tagged.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        ),
        F.max(F.when(F.col("split") == "eval", 1).otherwise(0)).alias(
            "in_eval"
        ),
    )
    status = (
        F.when(
            (F.col("in_train") == 1) & (F.col("in_eval") == 1), "leaked"
        )
        .when(F.col("in_train") == 1, "train_only")
        .otherwise("eval_only")
    )
    return (
        per_hash.select(status.alias("status"), "n_docs")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("status")
    )


def source_divergence(
    df: DataFrame,
    col_text: str = "text",
    col_source: str = "source",
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between sources' unigram
    distributions (Laplace-smoothed over the joint vocabulary) — the
    mixture-balance diagnostic for a multi-source training corpus:
    which feeds speak the same language, which one is the outlier
    (complementing DSIR's per-document importance and log_odds'
    per-term contrasts with one number per source PAIR).

        JS(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M),  M = (P+Q)/2,
        P_s(t) = (n_st + 1) / (N_s + V)

    Bounded in [0, 1] bits; symmetric. Every per-token contribution is
    pre-rounded to DECIMAL(18,9) and summed exactly, and the smoothing
    means absent tokens carry real mass — the full source × vocabulary
    grid is materialized (sources are enumerable; the grid is
    |V|·|S| rows, vocabulary-scale).

    Scale shape: one token explode, one (source, token) aggregate, a
    vocabulary × sources grid via crossJoin against the source list
    (broadcast-scale), one token-keyed pair join (a.source <
    b.source), one pair-scale reduction."""
    toks = df.select(
        F.col(col_source).alias("src"),
        F.explode(F.split(F.col(col_text), " ")).alias("tok"),
    )
    counts = toks.groupBy("src", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = toks.groupBy("src").agg(F.count(F.lit(1)).alias("n_src"))
    vocab_n = counts.select("tok").distinct()
    v_size = vocab_n.agg(F.count(F.lit(1)).alias("v"))
    grid = (
        vocab_n.crossJoin(F.broadcast(totals))
        .join(counts, ["src", "tok"], "left")
        .crossJoin(F.broadcast(v_size))
        .select(
            "src",
            "tok",
            (
                (F.coalesce("n", F.lit(0)) + 1)
                / (F.col("n_src") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    a = grid.select(
        F.col("src").alias("source_a"), "tok", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("src").alias("source_b"), "tok", F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    m = (pa + pb) / 2
    contrib = dec9(0.5 * pa * F.log2(pa / m) + 0.5 * pb * F.log2(pb / m))
    return (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .select("source_a", "source_b", contrib.alias("c"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(F.sum("c").cast("double"), 6).alias("js_divergence")
        )
        .orderBy("source_a", "source_b")
    )


def token_budget_plan(
    df: DataFrame,
    total_budget_tokens: int,
    col_source: str = "source",
    col_text: str = "text",
) -> DataFrame:
    """Training-mixture allocator: given a total token budget and an
    equal-weight target mixture over sources, emit per source the
    observed inventory (docs, whitespace tokens), the allocated
    budget, the keep rate a sampler should apply, and the epoch
    (repeat) factor when the target EXCEEDS the inventory — the table
    a data-mixing stage reads before ``mixture_sample`` executes the
    rates (this planner decides; that operator applies).

    Determinism: inventories are exact BIGINT sums of
    ``size(split(text, ' '))`` (the repo-wide token convention);
    the per-source allocation is the exact integer
    ``floor(budget / n_sources)`` so every engine rounds identically;
    only the final rate/epoch divisions are doubles, rounded to 6, via
    try_divide (a source of empty texts has zero tokens → NULL rate,
    the "nothing to sample" signal).

    Scale shape: one scan-side token projection, one source-scale
    aggregate (sources are a handful), one one-row source-count
    aggregate broadcast back — no row-scale shuffle beyond the single
    groupBy, no driver action, output rows = number of sources."""
    n_tok = F.expr(f"size(split({col_text}, ' '))").cast("long")
    per = (
        df.select(F.col(col_source).alias("source"), n_tok.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("t").cast("bigint").alias("n_tokens"),
        )
    )
    nsrc = per.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))
    alloc = (
        F.expr(f"{int(total_budget_tokens)}L DIV n_sources")
        .cast("bigint")
        .alias("allocated_tokens")
    )
    return (
        per.crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.lit(1.0) / F.col("n_sources").cast("double"), 6
            ).alias("target_weight"),
            alloc,
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "target_weight",
            "allocated_tokens",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.try_divide(
                        F.col("allocated_tokens").cast("double"),
                        F.col("n_tokens").cast("double"),
                    ),
                ),
                6,
            ).alias("sample_rate"),
            F.round(
                F.try_divide(
                    F.col("allocated_tokens").cast("double"),
                    F.col("n_tokens").cast("double"),
                ),
                6,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


def temperature_mixture_plan(
    df: DataFrame,
    total_budget_tokens: int,
    temperature: float = 0.7,
    col_source: str = "source",
    col_text: str = "text",
) -> DataFrame:
    """Temperature-scaled training-mixture allocator — the GPT-3 /
    XLM-R data-mixing rule that ``token_budget_plan``'s equal-weight
    target cannot express: each source's natural share p_i =
    tokens_i / Σ tokens is flattened to w_i = p_i^T / Σ_j p_j^T, so
    T = 1 samples proportionally, T → 0 approaches uniform, and the
    canonical T = 0.7 upsamples the tail without letting a dominant
    crawl swamp the mixture. Emits per source the inventory, the
    natural share, the temperature weight, the allocated budget
    floor(budget · w_i), the sampler keep rate (capped at 1), and the
    epoch (repeat) factor when the allocation exceeds the inventory.

    Cross-engine determinism (the house transcendental rules): p_i is
    a BIGINT/BIGINT double division (IEEE-identical); the only libm
    term p_i^T is pre-rounded to 9 decimals and summed as exact
    DECIMAL(18,9) (order-independent), so the normalizing constant is
    bit-identical in any engine; w_i re-rounds the double division to
    9; floor(budget · w_i) multiplies an integer by an identical
    double — identical floor. Zero-token sources get weight 0 and a
    NULL keep rate via try_divide (T = 0 would resurrect them:
    pow(0, 0) = 1 in both engines — documented, not guarded).

    Scale shape: one scan-side token projection, one source-scale
    aggregate, one one-row normalizer broadcast back — output rows =
    number of sources, nothing corpus-scale crosses the wire."""
    t = float(temperature)
    n_tok = F.expr(f"size(split({col_text}, ' '))").cast("long")
    per = (
        df.select(F.col(col_source).alias("source"), n_tok.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("t").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("__tot")
    )
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "__p",
        F.col("n_tokens").cast("double")
        / F.col("__tot").cast("double"),
    )
    pt9 = dec9(F.pow(F.col("__p"), F.lit(t)))
    keyed = shared.withColumn("__pt", pt9)
    norm = keyed.agg(F.sum("__pt").alias("__z"))
    w = F.round(
        F.col("__pt").cast("double") / F.col("__z").cast("double"), 9
    )
    out = (
        keyed.crossJoin(F.broadcast(norm))
        .withColumn("weight", w)
        .withColumn(
            "allocated_tokens",
            F.floor(
                F.lit(int(total_budget_tokens)).cast("double")
                * F.col("weight")
            ).cast("bigint"),
        )
    )
    rate = F.try_divide(
        F.col("allocated_tokens").cast("double"),
        F.col("n_tokens").cast("double"),
    )
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("__p"), 6).alias("natural_share"),
        F.round(F.col("weight"), 6).alias("weight"),
        "allocated_tokens",
        F.round(F.least(F.lit(1.0), rate), 6).alias("sample_rate"),
        F.round(rate, 6).alias("epochs"),
    )


# Multi-part public suffixes the -lite registrable-domain rule knows
# (the high-traffic entries of the public-suffix list; a full PSL
# would arrive as a broadcast lookup table with the same CASE shape).
MULTIPART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "co.kr",
    "com.br", "com.mx", "com.cn", "com.tr",
    "co.in", "co.za", "com.ar", "com.sg", "com.hk",
)

# URL parsing is TWO steps on both engines: an unconditional scheme
# strip (regexp_replace), then a host/parts parse on the remainder.
# A single combined optional-scheme pattern backtracks on empty-host
# URLs ('https:///x'): the scheme arm is abandoned and the scheme WORD
# is captured as the host ('https'), a corrupt key — stripping the
# scheme first makes that unrepresentable. NO backslash escapes, so
# the identical pattern strings run verbatim in Java regex and RE2
# (DuckDB). Userinfo ([^/?#]*@, which may contain ':') is consumed
# BEFORE the host so credentialed URLs don't collapse to the username.
_SCHEME_STRIP_PATTERN = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
_HOST_PATTERN = "^(?:[^/?#]*@)?([^/:?#]+)"


def registrable_domain(col_url) -> "F.Column":
    """Registrable domain (eTLD+1) of a URL column, public-suffix-lite:
    lowercase host (scheme optional, userinfo/port/path/query
    stripped), then the last two labels — or last THREE when the
    trailing two form a known multi-part suffix (co.uk, com.au, …,
    ``MULTIPART_SUFFIXES``) — so ``news.bbc.co.uk`` → ``bbc.co.uk``
    and ``a.b.example.com`` → ``example.com``. This is THE provenance
    grain web-corpus curation caps and mixes by (per-domain caps are
    the CommonCrawl-style dedup axis ``source`` is too coarse for).

    Trailing dots are stripped before splitting (a legal FQDN like
    ``example.com.`` must key with ``example.com``, not collapse every
    ``*.com.`` host into the degenerate ``com.`` — the empty last
    label would otherwise eat the real TLD).

    Limitations (documented, not guarded): bare IPv4 hosts reduce to
    their last two octets; bracketed IPv6 hosts (``https://[::1]/``)
    reduce to ``[``-prefixed junk keys — they contain no dots, so they
    land in the ``otherwise(host)`` arm as opaque-but-consistent
    grains rather than colliding with real domains; and suffixes
    outside the -lite list (e.g. city TLDs) keep two labels. Swap in
    the full public-suffix list as a broadcast join if those grains
    matter.

    Pure scan-side JVM expressions (one regexp pass + trailing-dot
    strip + split + CASE) — no shuffle, no Python, engine-portable to
    the DuckDB oracles."""
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(
                F.regexp_replace(col_url, _SCHEME_STRIP_PATTERN, ""),
                _HOST_PATTERN,
                1,
            )
        ),
        r"[.]+$",
        "",
    )
    labs = F.split(host, r"\.")
    n = F.size(labs)
    # try_element_at: ANSI element_at throws on out-of-bounds even
    # when a CASE condition would reject the row (conditions evaluate
    # eagerly); NULLs from short hosts are screened by the n guards
    last2 = F.concat_ws(
        ".", F.try_element_at(labs, F.lit(-2)),
        F.try_element_at(labs, F.lit(-1)),
    )
    return (
        F.when(
            (n >= 3) & last2.isin(*MULTIPART_SUFFIXES),
            F.concat_ws(
                ".", F.try_element_at(labs, F.lit(-3)), last2
            ),
        )
        .when(n >= 2, last2)
        .otherwise(host)
    )


def domain_mix_stats(
    df: DataFrame,
    col_url: str = "url",
    col_weight: str = "n_chars",
    top_k: int = 20,
) -> DataFrame:
    """Domain-mix report: the ``top_k`` registrable domains by document
    count — each with doc/weight counts, corpus shares, and cumulative
    doc share — plus one ``(other)`` residual row aggregating the full
    tail, so the report always sums to 1.0 (the standard corpus-
    composition table a pretraining data card leads with).

    Scale shape: one scan-side domain projection, ONE domain-grain
    aggregate shuffle, then a distributed TakeOrdered top-k (never a
    global sort over the domain table — at web scale that's ~1e8 rows)
    and a ≤ top_k+1-row window for ranks/cumulative shares. Corpus
    totals ride a one-row broadcast; the residual row is one-row
    arithmetic (tot − Σtop). Ties break by domain asc. The ``(other)``
    row lands at rank top_k+1 with cum_doc_share exactly 1.0 — a
    built-in self-check."""
    from ..operators.ranking import ranked_topk

    per = df.select(
        registrable_domain(F.col(col_url)).alias("domain"),
        F.col(col_weight).alias("w"),
    )
    agg = per.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("weight"),
    )
    tot = agg.agg(
        F.sum("n_docs").cast("bigint").alias("td"),
        F.sum("weight").cast("bigint").alias("tw"),
    )
    top = ranked_topk(
        agg, [F.desc("n_docs"), F.asc("domain")], top_k
    )
    topsum = top.agg(
        F.sum("n_docs").cast("bigint").alias("sd"),
        F.sum("weight").cast("bigint").alias("sw"),
    )
    other = (
        tot.crossJoin(F.broadcast(topsum))
        .select(
            F.lit("(other)").alias("domain"),
            (F.col("td") - F.col("sd")).cast("bigint").alias("n_docs"),
            (F.col("tw") - F.col("sw")).cast("bigint").alias("weight"),
            F.lit(top_k + 1).cast("bigint").alias("rnk"),
        )
        .filter(F.col("n_docs") > 0)
    )
    w_cum = Window.orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.select("domain", "n_docs", "weight", "rnk")
        .unionByName(other)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "doc_share",
            F.round(F.col("n_docs") / F.col("td").cast("double"), 6),
        )
        .withColumn(
            "weight_share",
            F.round(
                F.try_divide(
                    F.col("weight").cast("double"),
                    F.col("tw").cast("double"),
                ),
                6,
            ),
        )
        .withColumn(
            "cum_doc_share",
            F.round(
                F.sum("n_docs").over(w_cum) / F.col("td").cast("double"),
                6,
            ),
        )
        .select(
            "rnk", "domain", "n_docs", "weight",
            "doc_share", "weight_share", "cum_doc_share",
        )
        .orderBy("rnk")
    )


def domain_cap_sample(
    df: DataFrame,
    col_url: str = "url",
    col_id: str = "doc_id",
    max_per_domain: int = 10,
) -> DataFrame:
    """Per-domain document cap: keep at most ``max_per_domain`` docs
    per registrable domain, chosen by a deterministic md5 hash of
    (domain, id) — a uniform, reproducible pick that no crawl-order or
    file-layout bias can leak through (the CommonCrawl-style guard
    against one boilerplate-heavy domain dominating a training mix).
    Returns (domain, kept id, keep_rank 1..cap) — UNORDERED, like
    every selection operator here: a tail orderBy would add a global
    range-partition sort over the kept output (~1e9 rows at the
    stated scale), the exact global-sort trap this module documents
    avoiding; downstream consumers that need an order sort their own
    (smaller) derivative.

    Scale shape: one scan-side domain+hash projection and ONE shuffle
    on the domain key — the window's hash exchange is the only one in
    the plan. The hot-domain sort is NOT a skew trap: the
    ``row_number ≤ cap`` filter plans as WindowGroupLimit (Spark ≥3.5
    rank-limit pushdown), which truncates every map-side group to the
    cap BEFORE the exchange — a 1e9-doc domain ships cap×n_map_tasks
    rows to its reducer, not 1e9 (asserted in
    tests/test_domain_curation.py). Hash order ties (proper md5
    collisions) break by id asc."""
    per = df.select(
        registrable_domain(F.col(col_url)).alias("domain"),
        F.col(col_id).alias("id"),
    ).withColumn(
        "h",
        md5_prefix(
            F.md5(
                F.concat_ws(":", F.col("domain"), F.col("id").cast("string"))
            ),
            15,
        ),
    )
    return top_k_per_group(
        per, "domain", [F.asc("h"), F.asc("id")], max_per_domain, "keep_rank"
    ).select("domain", F.col("id").alias(col_id), "keep_rank")


# Full URL decomposition in ONE escape-free regex (verbatim-portable
# Java regex <-> RE2, same rule as _HOST_PATTERN): groups are
# 1 scheme, 2 host (userinfo consumed non-capturing), 3 port, 4 path,
# 5 query. A non-matching/empty URL yields '' for every group on both
# engines.
# Applied AFTER _SCHEME_STRIP_PATTERN removed the scheme (see the
# backtracking note above): groups are 1 host (MAY be empty — a
# 'https:///x' fetch keys with an empty host, not with the scheme
# word), 2 port, 3 path, 4 query.
_URL_PARTS_PATTERN = (
    "^(?:[^/?#]*@)?([^/:?#]*)(?::([0-9]+))?([^?#]*)(?:[?]([^#]*))?"
)
_URL_SCHEME_PATTERN = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"

# Query parameters that carry tracking provenance, not content
# identity — the standard CommonCrawl-style canonicalization drop
# list. (=|$) so bare flags ('utm_source') match too. (?i) because
# url_canonicalize lowercases only scheme and host — param names keep
# their case, and 'UTM_SOURCE=x' / 'Gclid=9' refetch variants must
# collapse too (same flag semantics in Java regex and DuckDB RE2).
TRACKING_PARAM_PATTERN = (
    "(?i)^(utm_[a-z0-9]+|gclid|fbclid|msclkid|mc_eid|igshid|ref"
    "|ref_src|spm)(=|$)"
)


def url_canonicalize(col_url) -> "F.Column":
    """Canonical URL for dedup keying: lowercase scheme (empty →
    ``https``) and host (trailing dots stripped, leading ``www.``
    dropped), userinfo and fragment removed, default ports elided
    (``:80`` for http, ``:443`` for https — judged against the
    canonical scheme), trailing path slashes trimmed, and the query
    string rebuilt as the ALPHABETICALLY SORTED parameters minus the
    tracking list (``TRACKING_PARAM_PATTERN``: utm_*, gclid, fbclid,
    …). Two fetches of the same page through different share links,
    ports, or param orders key identically — the URL-identity twin of
    ``registrable_domain``'s provenance grain, and the first pass a
    web-corpus dedup runs before any content hashing.

    Pure scan-side expressions: one regex decomposition pass plus a
    tiny per-row lambda over the split query params (param lists are
    short, so the interpreted higher-order filter/sort is noise).
    Engine-portable: the identical pattern strings and the same
    split/filter/sort/join steps run in the DuckDB oracles."""
    scheme_raw = F.lower(
        F.regexp_extract(col_url, _URL_SCHEME_PATTERN, 1)
    )
    scheme = F.when(scheme_raw == "", F.lit("https")).otherwise(
        scheme_raw
    )
    rest = F.regexp_replace(col_url, _SCHEME_STRIP_PATTERN, "")
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(rest, _URL_PARTS_PATTERN, 1)),
            "[.]+$",
            "",
        ),
        "^(www[.])+",
        "",
    )
    port = F.regexp_extract(rest, _URL_PARTS_PATTERN, 2)
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(rest, _URL_PARTS_PATTERN, 3), "/+$", ""
    )
    params = F.filter(
        F.split(F.regexp_extract(rest, _URL_PARTS_PATTERN, 4), "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_PATTERN),
    )
    q = F.array_join(F.array_sort(params), "&")
    q_part = F.when(q == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), q)
    )
    return F.concat(
        scheme, F.lit("://"), host, port_part, path, q_part
    )


def canonical_url_dups(
    df: DataFrame,
    col_id: str = "doc_id",
    col_url: str = "url",
    min_variants: int = 2,
) -> DataFrame:
    """URL-identity dedup table: canonicalize every URL and report each
    canonical key fetched under ≥ ``min_variants`` distinct raw URLs'
    documents — (canonical_url, n_variants, min_doc_id, max_doc_id),
    the crawl-frontier dedup pass that removes tracking-param /
    www / port / param-order refetches BEFORE any content hashing.

    Scale: one scan-side canonicalization projection + ONE
    canonical-grain aggregate shuffle; output is dup-group-scale.
    Unordered (the dup table is a join input, not a report — ordering
    1e8 canonical keys would be the global-sort trap)."""
    per = df.select(
        url_canonicalize(F.col(col_url)).alias("canonical_url"),
        F.col(col_id).alias("id"),
    )
    return (
        per.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("id").alias("min_doc_id"),
            F.max("id").alias("max_doc_id"),
        )
        .filter(F.col("n_variants") >= min_variants)
    )


def domain_neardup_rates(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_url: str = "url",
    threshold: float = 0.2,
) -> DataFrame:
    """Per-registrable-domain near-duplicate pressure: join the
    MinHash+LSH near-dup pairs (``operators.dedup.minhash_lsh_pairs``,
    shared defaults, so the session reuses its shingle and candidate
    builds: they key on the (id, text) plan, which the url column does
    not change) back to the domain grain and report, per domain,
    (n_docs, n_neardup_pairs, n_dup_docs, dup_doc_share) counting only
    WITHIN-domain pairs — the "which domains are template farms"
    readout that decides per-domain caps in a CommonCrawl-style
    pipeline (cross-domain near-dups are syndication, a different
    policy).

    Scale: pairs are LSH-output-scale; the two domain attachments are
    id-keyed joins against the scan-side domain projection (doc-scale,
    hash-partitioned — never broadcast: the domain map is corpus-
    sized); everything after is domain-grain. Unordered output
    (domain-grain at web scale is ~1e8 rows — no tail sort)."""
    from ..operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        df, col_id=col_id, col_text=col_text, threshold=threshold
    )
    doms = df.select(
        F.col(col_id).alias("did"),
        registrable_domain(F.col(col_url)).alias("domain"),
    )
    dsz = doms.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    within = (
        pairs.join(
            doms.select(
                F.col("did").alias("id_a"), F.col("domain").alias("dom_a")
            ),
            "id_a",
        )
        .join(
            doms.select(
                F.col("did").alias("id_b"), F.col("domain").alias("dom_b")
            ),
            "id_b",
        )
        .filter(F.col("dom_a") == F.col("dom_b"))
        .select(F.col("dom_a").alias("domain"), "id_a", "id_b")
    )
    per_pairs = within.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neardup_pairs")
    )
    dup_docs = (
        within.select("domain", F.col("id_a").alias("d"))
        .unionByName(within.select("domain", F.col("id_b").alias("d")))
        .distinct()
        .groupBy("domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_docs"))
    )
    return (
        dsz.join(per_pairs, "domain", "left")
        .join(dup_docs, "domain", "left")
        .select(
            "domain",
            "n_docs",
            F.coalesce("n_neardup_pairs", F.lit(0).cast("bigint")).alias(
                "n_neardup_pairs"
            ),
            F.coalesce("n_dup_docs", F.lit(0).cast("bigint")).alias(
                "n_dup_docs"
            ),
            F.round(
                F.coalesce("n_dup_docs", F.lit(0).cast("bigint"))
                / F.col("n_docs"),
                6,
            ).alias("dup_doc_share"),
        )
    )


def nb_quality_classifier(
    df: DataFrame,
    col_label: str,
    col_id: str = "doc_id",
    col_text: str = "text",
    alpha: int = 1,
) -> DataFrame:
    """Multinomial Naive Bayes quality classifier — the GPT-3-style
    curation filter (Brown et al. 2020 §A trained a classifier on
    WebText-positive vs CommonCrawl-negative and kept high-scoring CC
    documents; NB is its closed-form, fully aggregation-expressible
    cousin). Documents labeled ``col_label`` = true are the positive
    class, the rest negative; the model is :func:`nb_train`'s over the
    whole input, and every document is then scored by
    :func:`nb_score`'s scorer — its log-odds under the two
    class-conditional unigram models with Laplace ``alpha`` smoothing
    plus the class log-prior — with its label carried through:

    score(d) = ln(D_pos/D_neg)
             + Σ_{w∈d} [ ln((c_pos(w)+α)/(N_pos+αV))
                       − ln((c_neg(w)+α)/(N_neg+αV)) ]

    Every token of the scored corpus is in the model's vocabulary, so
    the out-of-vocabulary constant never applies here. Determinism,
    scale shape and the one-class NULL prior are nb_train's and
    nb_score's: each ln() is pre-rounded to DECIMAL(18,9) before the
    per-document sum; one token-grain shuffle trains, one doc-grain
    shuffle scores.

    Output: (id, is_labeled_pos, n_tokens, nb_log_odds,
    predicted_pos). NULL-text documents contribute no tokens to the
    model but are CONSERVED in the output with NULL n_tokens /
    nb_log_odds / predicted_pos (the module's loud-NULL rule).
    """
    docs = df.select(
        F.col(col_id),
        F.col(col_label).cast("int").alias("is_labeled_pos"),
        F.col(col_text),
    )
    model = nb_train(df, col_label, col_text, alpha)
    return _nb_scores(model, docs, [col_id, "is_labeled_pos"], col_text)


def nb_train(
    df: DataFrame,
    col_label: str,
    col_text: str = "text",
    alpha: int = 1,
) -> DataFrame:
    """Train the multinomial Naive Bayes model of
    :func:`nb_quality_classifier` and return it as ONE persistable
    DataFrame — the deployable artifact of the train-offline /
    score-online split: (w, llr9) per vocabulary token, plus the two
    corpus constants repeated on every row (prior9, and unseen_llr9 =
    the log-likelihood ratio every OUT-OF-VOCABULARY token receives
    at scoring time, ln((N_neg+αV)/(N_pos+αV)) under Laplace α).
    Write it to parquet and ship it to any scorer; vocabulary-scale.

    Cross-engine determinism: every ln() is rounded to 9 decimals
    into DECIMAL(18,9) at train time (``fitting.dec9``), so any
    scorer's sum is partition-order independent and engine-portable;
    the ln() operands are IEEE-exact integer-ratio divisions.

    Scale shape: ONE token-grain shuffle builds the per-class
    vocabulary counts (map-side combined — the key space is the
    vocabulary, not the corpus); class totals and the doc-count prior
    are one-row broadcasts. If either class has zero documents the
    prior is NULL (nullif-guarded, not ±inf), so every score is NULL —
    a loud signal, not a silent wrong answer.
    """
    lab = df.select(
        F.col(col_label).cast("int").alias("y"),
        F.col(col_text).alias("__text"),
    )
    toks = lab.select("y", F.explode(F.split("__text", " ")).alias("w"))
    stats = toks.groupBy("w").agg(
        F.sum("y").cast("bigint").alias("c_pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("c_neg"),
    )
    a = F.lit(alpha)
    totals = stats.agg(
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    prior = lab.agg(
        dec9(
            F.log(
                F.sum("y").cast("double")
                / F.nullif(
                    F.sum(1 - F.col("y")).cast("double"), F.lit(0.0)
                )
            )
        ).alias("prior9")
    )
    den_pos = (F.col("n_pos") + a * F.col("v")).cast("double")
    den_neg = (F.col("n_neg") + a * F.col("v")).cast("double")
    return (
        stats.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(prior))
        .select(
            "w",
            (
                dec9(F.log((F.col("c_pos") + a) / den_pos))
                - dec9(F.log((F.col("c_neg") + a) / den_neg))
            ).alias("llr9"),
            "prior9",
            (
                dec9(F.log(a.cast("bigint") / den_pos))
                - dec9(F.log(a.cast("bigint") / den_neg))
            ).alias("unseen_llr9"),
        )
    )


def nb_score(
    model: DataFrame,
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
) -> DataFrame:
    """Score documents against a trained :func:`nb_train` model —
    the online half of the split. Tokens LEFT-join the vocabulary
    (out-of-vocabulary tokens fall back to the model's constant
    unseen_llr9, the standard Laplace treatment), so held-out text
    with novel words scores correctly instead of silently dropping.

    On the training corpus itself this reproduces
    :func:`nb_quality_classifier` log-odds exactly (the classifier is
    this scorer over the model trained on its input).

    Scale shape: the model is vocabulary-scale and broadcastable
    (AQE) or hash-joinable; constants ride one one-row broadcast;
    ONE doc-grain shuffle sums the scores (the family's per-document
    scorer, ``text._doc_sums``). NULL-text documents are conserved
    with NULL n_tokens / nb_log_odds / predicted_pos (loud-NULL rule,
    scan-side union — explode over split(NULL) would silently drop
    them). In streaming, call this inside foreachBatch with the model
    read once — the model is static state, the batch is the only
    moving data."""
    return _nb_scores(model, df, [col_id], col_text)


def _nb_scores(
    model: DataFrame, docs: DataFrame, keys: list[str], col_text: str
) -> DataFrame:
    """nb_score's scorer over documents keyed by ``keys``: (*keys,
    n_tokens, nb_log_odds, predicted_pos), NULL-text rows conserved
    with NULL scores by a scan-side union."""
    consts = model.agg(
        F.first("prior9").alias("prior9"),
        F.first("unseen_llr9").alias("unseen_llr9"),
    )
    toks = docs.select(
        *keys, F.explode(tokens_col(col_text)).alias("w")
    ).crossJoin(F.broadcast(consts))
    # prior9 is one constant: grouping by it too carries it through
    per = _doc_sums(
        toks,
        model.select("w", "llr9"),
        "w",
        [*keys, "prior9"],
        how="left",
        s=F.coalesce("llr9", "unseen_llr9"),
    )
    score = (F.col("prior9") + F.col("s")).cast("double")
    scored = per.select(
        *keys,
        "n_tokens",
        F.round(score, 6).alias("nb_log_odds"),
        F.when(score > 0, 1)
        .when(score <= 0, 0)
        .cast("int")
        .alias("predicted_pos"),
    )
    null_text = docs.filter(F.col(col_text).isNull()).select(
        *keys,
        F.lit(None).cast("bigint").alias("n_tokens"),
        F.lit(None).cast("double").alias("nb_log_odds"),
        F.lit(None).cast("int").alias("predicted_pos"),
    )
    return scored.unionByName(null_text)


def ccnet_perplexity_buckets(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    cuts: tuple[float, float] = (0.33, 0.67),
    rates: tuple[float, float, float] = (1.0, 0.5, 0.1),
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): split the
    corpus into head/middle/tail by LM perplexity terciles — head
    (lowest bits, most fluent) keeps everything, middle samples,
    tail mostly drops — using the in-corpus bigram LM of
    :func:`recmetrics_pyspark_spark.functions.text.doc_perplexity`
    as the scorer. Keep decisions are the RNG-free md5-bucket rule
    of ``mixture_sample`` (keep iff u(id) < rate(bucket)), so the
    sample is reproducible at any scale and in plain SQL.

    Cutoffs are EXACT interpolated percentiles rounded to 6 decimals
    before the comparison (the q_quantiles_by_flag convention —
    round-6 absorbs interpolation ULP across engines); they travel
    as a one-row broadcast back over the doc-grain score table, so
    the only corpus-scale work is the perplexity scorer itself.

    Output: (id, avg_bits, bucket, keep_rate, keep)."""
    from .text import doc_perplexity

    px = doc_perplexity(df, col_id, col_text)
    cutoffs = px.agg(
        F.round(
            F.expr(f"percentile(avg_bits, {cuts[0]!r})"), 6
        ).alias("c1"),
        F.round(
            F.expr(f"percentile(avg_bits, {cuts[1]!r})"), 6
        ).alias("c2"),
    )
    u = (
        md5_prefix(F.md5(F.col(col_id).cast("string")), 3).cast("double")
        / 4096.0
    )
    bucket = (
        F.when(F.col("avg_bits") <= F.col("c1"), "head")
        .when(F.col("avg_bits") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(F.col("bucket") == "head", F.lit(rates[0]))
        .when(F.col("bucket") == "middle", F.lit(rates[1]))
        .otherwise(F.lit(rates[2]))
    )
    return (
        px.crossJoin(F.broadcast(cutoffs))
        .withColumn("bucket", bucket)
        .withColumn("keep_rate", rate)
        .select(
            col_id,
            "avg_bits",
            "bucket",
            "keep_rate",
            (u < F.col("keep_rate")).alias("keep"),
        )
    )
