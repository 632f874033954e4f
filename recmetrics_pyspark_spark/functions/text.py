"""Text-analysis functions for training-data pipelines over `documents`.

All expressions are built-in (JVM-side, whole-stage codegen) — no Python
UDFs anywhere. Each op is written against the portable SQL subset shared
with DuckDB so the driver's oracle can recompute it exactly:
tokenization is a literal single-space split (the testdata corpus is
single-space joined), character classes via regexp_replace, higher-order
array functions (transform/filter/aggregate) for per-token logic.

Shared lexicon constants are imported by ``__spark_entry__`` to generate
the matching oracle SQL from the same source of truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.ranking import ranked_topk, top_k_per_group
from .fitting import centered_ols_slope, dec9, md5_prefix

# Tiny stopword lexicons (lowercase). Kept deliberately small and
# hardcoded: they are part of the operator's deterministic contract.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
LEX_EN = ("the", "and", "of", "to", "is")
LEX_ES = ("el", "la", "de", "que", "y")
LEX_DE = ("der", "die", "und", "das", "ist")
# deliberately disjoint from the other lexicons ("la"/"de" are
# Spanish here; the argmax tie-break covers shared-word corpora)
LEX_FR = ("le", "et", "les", "des", "une")


def _sql_set(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def tokens_col(col_text: str) -> Column:
    return F.split(F.col(col_text), " ")


def count_in_lexicon(tokens_expr: str, lexicon: tuple[str, ...]) -> Column:
    """# tokens belonging to a lexicon, via a JVM higher-order filter."""
    return F.expr(
        f"size(filter({tokens_expr}, t -> t IN {_sql_set(lexicon)}))"
    )


def _bigrams(df: DataFrame, col_text: str, *keys: str) -> DataFrame:
    """The family's one bigram emitter: ``(*keys, w1, w2)`` for every
    adjacent token pair of every document, read scan-side (posexplode
    of the split array, paired with the array's next element), so no
    document-keyed exchange or per-document sort is needed. Documents
    with fewer than two tokens, and NULL text, emit nothing."""
    return (
        df.select(*keys, tokens_col(col_text).alias("__toks"))
        .select(*keys, "__toks", F.posexplode("__toks").alias("pos", "w1"))
        .select(
            *keys,
            "w1",
            F.expr("try_element_at(__toks, pos + 2)").alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )


def _bigram_counts(bigrams: DataFrame) -> DataFrame:
    """The corpus bigram LM table over emitted bigram rows:
    ``(w1, w2, c12, c1)``, c12 = c(w1,w2) and c1 = Σ c12 over the
    pair's w1 (the conditional denominator, over observed bigrams)."""
    from pyspark.sql.window import Window

    return (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn(
            "c1",
            F.sum("c12").over(Window.partitionBy("w1")).cast("bigint"),
        )
    )


def _doc_sums(
    toks: DataFrame,
    scores: DataFrame,
    on: str | list[str],
    keys: list[str],
    how: str = "inner",
    **sums,
) -> DataFrame:
    """The family's one per-document scorer: token rows joined
    (``how``) to a per-token score table on ``on``, grouped by the
    document ``keys``. Returns the keys, ``n_tokens`` (joined rows per
    document) and, per ``name=score`` keyword, the exact sum of that
    DECIMAL(18,9) column or expression (see ``fitting.dec9``), so the
    sum cannot move with partition order. Callers project their own
    means: the one doc-grain shuffle is here."""
    return (
        toks.join(scores, on, how)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            *(F.sum(c).alias(name) for name, c in sums.items()),
        )
    )


def text_stats(df: DataFrame, col_id: str = "doc_id", col_text: str = "text") -> DataFrame:
    """Per-document surface statistics: char/token counts, char-class
    ratios, stopword ratio, and a BPE-ish ~4-chars-per-token estimate."""
    t = f"split({col_text}, ' ')"
    return df.select(
        F.col(col_id),
        F.length(col_text).alias("n_chars"),
        F.expr(f"size({t})").cast("long").alias("n_tokens"),
        F.round(
            F.expr(
                f"aggregate(transform({t}, x -> length(x)), 0L, (a, x) -> a + x)"
            )
            / F.expr(f"size({t})").cast("double"),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace(F.col(col_text), "[^a-zA-Z]", ""))
            / F.length(col_text).cast("double"),
            6,
        ).alias("alpha_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col(col_text), "[^0-9]", ""))
            / F.length(col_text).cast("double"),
            6,
        ).alias("digit_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col(col_text), "[^ ]", ""))
            / F.length(col_text).cast("double"),
            6,
        ).alias("space_ratio"),
        F.round(
            count_in_lexicon(t, STOPWORDS_EN)
            / F.expr(f"size({t})").cast("double"),
            6,
        ).alias("stopword_ratio"),
        F.ceil(F.length(col_text) / F.lit(4.0)).cast("long").alias("token_est_char4"),
    )


def language_id(df: DataFrame, col_id: str = "doc_id", col_text: str = "text") -> DataFrame:
    """N-gram-free language heuristic: argmax of lexicon hit counts,
    deterministic tie-break en > es > de > fr.

    The four-lexicon set {en, es, de, fr} is DECLARED FINAL for this
    synthetic corpus (round 10): the test data's declared `lang`
    column only ever carries these plus the undetectable synthetic
    fillers, so a fifth lexicon has nothing to detect and would only
    reshuffle tie-breaks. Adding a real language later is mechanical
    — one stopword tuple, one `count_in_lexicon` column, one
    tie-break arm, and the langid_confusion / corpus_datacard /
    token_count_by_lang oracles gain the mirrored CASE arm (the
    round-9 French addition is the worked example, diff-visible in
    git)."""
    t = f"split({col_text}, ' ')"
    s_en = count_in_lexicon(t, LEX_EN)
    s_es = count_in_lexicon(t, LEX_ES)
    s_de = count_in_lexicon(t, LEX_DE)
    s_fr = count_in_lexicon(t, LEX_FR)
    return df.select(
        F.col(col_id),
        s_en.cast("long").alias("s_en"),
        s_es.cast("long").alias("s_es"),
        s_de.cast("long").alias("s_de"),
        s_fr.cast("long").alias("s_fr"),
    ).withColumn(
        "lang_pred",
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when(
            (F.col("s_es") >= F.col("s_de"))
            & (F.col("s_es") >= F.col("s_fr")),
            "es",
        )
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr"),
    )


def doc_fingerprint(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text", shingle_words: int = 3
) -> DataFrame:
    """Document fingerprints: full-content md5 plus a min-shingle-hash
    (the 1-permutation MinHash: min of md5 over word n-gram shingles —
    a rolling-hash fingerprint robust to local edits)."""
    t = f"split({col_text}, ' ')"
    k = shingle_words
    shingle_hashes = (
        f"transform(sequence(1, size({t}) - {k - 1}),"
        f" i -> md5(concat_ws(' ', slice({t}, i, {k}))))"
    )
    return df.select(
        F.col(col_id),
        F.md5(F.col(col_text)).alias("content_hash"),
        F.when(
            F.expr(f"size({t})") >= k, F.expr(f"array_min({shingle_hashes})")
        )
        .otherwise(F.md5(F.col(col_text)))
        .alias("shingle_fp"),
    )


def quality_score(df: DataFrame, col_id: str = "doc_id", col_text: str = "text") -> DataFrame:
    """Composite document quality heuristic in [0,1]:
    0.4·min(n_tokens/50, 1) + 0.4·alpha_ratio + 0.2·min(5·stopword_ratio, 1)."""
    t = f"split({col_text}, ' ')"
    n_tokens = F.expr(f"size({t})").cast("double")
    alpha = F.length(
        F.regexp_replace(F.col(col_text), "[^a-zA-Z]", "")
    ) / F.length(col_text).cast("double")
    stop = count_in_lexicon(t, STOPWORDS_EN) / n_tokens
    return df.select(
        F.col(col_id),
        F.round(
            F.least(n_tokens / 50.0, F.lit(1.0)) * 0.4
            + alpha * 0.4
            + F.least(stop * 5.0, F.lit(1.0)) * 0.2,
            6,
        ).alias("quality"),
    )


def tfidf_top_terms(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document, pure DataFrame (no HashingTF —
    exact term identities, fully oracle-checkable).

    idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth idf); score = tf·idf.
    Two vocabulary-scale aggregates + a broadcast join; ranking is
    per-document (``ranking.top_k_per_group``)."""
    from pyspark.sql.functions import broadcast

    toks = df.select(
        F.col(col_id), F.explode(F.split(col_text, " ")).alias("token")
    )
    tf = toks.groupBy(col_id, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    idf = dfreq.crossJoin(broadcast(n_docs)).select(
        "token",
        (
            F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1.0
        ).alias("idf"),
    )
    scored = tf.join(broadcast(idf), "token").select(
        col_id,
        "token",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    return top_k_per_group(
        scored, col_id, [F.desc("tfidf"), F.asc("token")], k
    )


def chunk_documents(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Fixed-size token chunking with overlap — the context-window prep
    op every LLM training pipeline runs. One row per chunk:
    (doc_id, chunk_idx, chunk_text, n_tokens). Stride =
    chunk_tokens − overlap; the final partial chunk is kept.

    Pure JVM: token positions come from `sequence`, chunks from
    `slice` — the explode multiplies rows by ~n_tokens/stride, which is
    the actual output size (no intermediate blow-up)."""
    stride = chunk_tokens - overlap
    t = f"split({col_text}, ' ')"
    starts = f"sequence(1, greatest(size({t}), 1), {stride})"
    return (
        df.select(
            F.col(col_id),
            F.col(col_text).alias("_text"),
            F.posexplode(F.expr(starts)).alias("chunk_idx", "start"),
            F.expr(f"size({t})").alias("_n"),
        )
        .filter(F.col("start") <= F.col("_n"))
        .select(
            col_id,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(
                f"concat_ws(' ', slice(split(_text, ' '), start, {chunk_tokens}))"
            ).alias("chunk_text"),
            F.least(
                F.col("_n") - F.col("start") + 1, F.lit(chunk_tokens)
            ).cast("long").alias("n_tokens"),
        )
    )


def dataset_split(
    df: DataFrame,
    col_id: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment: bucket
    = first 2 hex digits of md5(id) (0..255), split by percentage
    thresholds. Stable under any partitioning/ordering, reproducible in
    plain SQL — the property a 100 TB split must have (no RNG state,
    no global shuffle)."""
    bucket = md5_prefix(F.md5(F.col(col_id).cast("string")), 2)
    val_hi = 256 * val_pct // 100
    test_hi = val_hi + 256 * test_pct // 100
    return df.withColumn("_bucket", bucket).withColumn(
        "split",
        F.when(F.col("_bucket") < val_hi, "val")
        .when(F.col("_bucket") < test_hi, "test")
        .otherwise("train"),
    ).drop("_bucket")


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    shingle_words: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing at least one
    ``shingle_words``-gram with any benchmark document (the n-gram
    overlap check used to scrub eval sets out of training data).

    Inverted-index semi-join on the shingle: the benchmark side is
    tiny → broadcast; corpus shingles stream past it, and only matching
    doc ids survive. Returns (doc_id, n_shared_shingles,
    contaminated_by = sorted benchmark ids hit)."""
    from ..operators.dedup import word_shingles

    corpus_sh = word_shingles(df, col_id, col_text, k=shingle_words)
    bench_sh = word_shingles(
        benchmark.select(
            F.col(col_id).alias("bench_id"), F.col(col_text).alias(col_text)
        ),
        "bench_id",
        col_text,
        k=shingle_words,
    )
    hits = corpus_sh.join(
        F.broadcast(bench_sh), "shingle"
    ).filter(F.col(col_id) != F.col("bench_id"))
    return hits.groupBy(col_id).agg(
        F.count(F.lit(1)).alias("n_shared_shingles"),
        F.array_join(
            F.array_sort(F.collect_set("bench_id")), ","
        ).alias("contaminated_by"),
    )


def token_count_by_lang(
    df: DataFrame, col_lang: str = "lang", col_text: str = "text"
) -> DataFrame:
    """Corpus-level token accounting grouped by language label."""
    t = f"split({col_text}, ' ')"
    return (
        df.select(
            F.col(col_lang),
            F.expr(f"size({t})").cast("long").alias("n_tok"),
        )
        .groupBy(col_lang)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        )
    )


def repetition_stats(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Repetition-based quality signals per document — the classic
    LLM-data filters (duplicate-word fraction, most-common-word
    fraction, duplicate-bigram fraction; cf. the Gopher/MassiveText
    filtering recipe). Word-level set stats stay ARRAY-SIDE (size /
    array_distinct, zero shuffles); only the top-word count needs the
    explode + per-word aggregate."""
    t = f"split({col_text}, ' ')"
    bigrams = (
        f"transform(sequence(1, greatest(size({t}) - 1, 1)),"
        f" i -> concat_ws(' ', slice({t}, i, 2)))"
    )
    arr_stats = df.select(
        F.col(col_id),
        F.expr(f"size({t})").cast("long").alias("n_words"),
        F.expr(f"size(array_distinct({t}))").cast("long").alias("n_distinct"),
        F.expr(f"size({bigrams})").cast("long").alias("n_bigrams"),
        F.expr(f"size(array_distinct({bigrams}))").cast("long").alias(
            "n_distinct_bigrams"
        ),
    )
    top_word = (
        df.select(F.col(col_id), F.explode(F.expr(t)).alias("w"))
        .groupBy(col_id, "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(col_id)
        .agg(F.max("n").alias("top_word_n"))
    )
    return arr_stats.join(top_word, col_id).select(
        col_id,
        "n_words",
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_word_n") / F.col("n_words"), 6).alias(
            "top_word_frac"
        ),
        F.round(
            F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6
        ).alias("dup_bigram_frac"),
    )


# BM25 query terms are part of the deterministic operator contract,
# shared with the oracle builder.
BM25_TERMS = ("spark", "hash", "window")


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
    topn: int = 20,
    col_id: str = "doc_id",
    col_text: str = "text",
) -> DataFrame:
    """BM25 retrieval for a fixed term set: score every matching doc,
    return the global top-``topn``. Corpus statistics (N, avgdl, per-
    term document frequency) reduce to ONE row and broadcast back over
    the scan — the standard two-pass search plan, no shuffle of the
    corpus itself. idf uses the +1 form (always positive):
    ln(1 + (N - df + 0.5)/(df + 0.5))."""
    t = f"split({col_text}, ' ')"
    tf_cols = [
        F.expr(f"size(filter({t}, x -> x = '{term}'))")
        .cast("double")
        .alias(f"tf{i}")
        for i, term in enumerate(terms)
    ]
    base = df.select(
        F.col(col_id), F.expr(f"size({t})").cast("double").alias("dl"), *tf_cols
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        part = idf * (
            F.col(f"tf{i}")
            * (k1 + 1.0)
            / (
                F.col(f"tf{i}")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    return (
        scored.select(F.col(col_id), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc(col_id))
        .limit(topn)
    )


def doc_lm_score(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Unigram language-model surprisal per document: p(w) is the
    corpus unigram frequency; a doc's score is its mean -log2 p(w) —
    the cheap KenLM-style quality proxy (low = templated/common
    wording, high = rare vocabulary). The unigram table is
    vocabulary-scale and broadcasts; the corpus shuffles once to count
    it and once per-doc to average."""
    t = f"split({col_text}, ' ')"
    toks = df.select(F.col(col_id), F.explode(F.expr(t)).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    total = uni.agg(F.sum("wn").cast("double").alias("total"))
    freq = uni.crossJoin(F.broadcast(total)).select(
        "w", (-F.log2(F.col("wn") / F.col("total"))).alias("surprisal")
    )
    return (
        toks.join(F.broadcast(freq), "w")
        .groupBy(col_id)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
        )
    )


# Default source-mixture rates: even sources are majority domains kept
# at 90%, odd sources are downweighted to 40%. Part of the operator's
# deterministic contract, shared with the oracle builder.
MIXTURE_RATES = {"even": 0.9, "odd": 0.4}


def mixture_sample(
    df: DataFrame,
    col_id: str = "doc_id",
    col_source: str = "source",
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic domain-mixture sampling — the data-mixing step of
    an LLM training pipeline: each source keeps a configured fraction
    of its documents. Per-row uniform u = md5-bucket(id)/4096 (12 hex
    bits); keep iff u < rate(source). RNG-free and stable under any
    partitioning, so the mix is reproducible at any scale and in plain
    SQL — and the filter composes with pushdown (it's a scan-side
    predicate, no shuffle at all)."""
    r = rates or MIXTURE_RATES
    u = (
        md5_prefix(F.md5(F.col(col_id).cast("string")), 3).cast("double")
        / 4096.0
    )
    src_num = F.regexp_extract(F.col(col_source), r"(\d+)$", 1).cast("long")
    rate = F.when(src_num % 2 == 0, F.lit(r["even"])).otherwise(
        F.lit(r["odd"])
    )
    return (
        df.withColumn("_u", u)
        .withColumn("keep_rate", rate)
        .filter(F.col("_u") < F.col("keep_rate"))
        .select(col_id, col_source, "keep_rate")
    )


def pack_sequences(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Token-budget sequence packing — assign each document to a
    training-batch bin so every bin holds ~``budget`` tokens. Packing
    is SHARD-LOCAL: documents are first routed to ``n_shards``
    deterministic shards (id mod), then a running token sum within
    each shard (window, ordered by id) assigns bin =
    exclusive-prefix-sum div budget. A single global running sum would
    serialize on one partition; per-shard windows keep the cumsum
    distributed and the assignment reproducible under any physical
    partitioning — at 100 TB you'd raise ``n_shards`` to O(cores) and
    each shard's window stays partition-local after one shuffle."""
    from pyspark.sql.window import Window

    n_tok = F.size(tokens_col(col_text)).cast("bigint")
    base = df.select(
        F.col(col_id),
        (F.col(col_id) % n_shards).cast("bigint").alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(col_id)
    return base.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
    ).select(
        col_id,
        "shard",
        "n_tokens",
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {budget}").alias("bin_id"),
    )


def bigram_lm(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Corpus bigram language model: P(w2|w1) = c(w1,w2) / c(w1·),
    with the denominator summed over observed bigrams so the
    distribution is properly conditional. Adjacency comes from the
    family's one bigram emitter (:func:`_bigrams`): each token is
    paired with the next element of its document's split array in the
    scan, so there is no document-keyed exchange or per-document sort,
    and ``col_id`` is not read (a pair never crosses documents). The
    corpus shuffles once, map-side combined, to count the
    VOCABULARY²-bounded pair table; the c1 denominator is a window per
    w1 over that table. Output is the global top-``top_n`` bigrams by
    count via ``ranking.ranked_topk`` (orderBy + limit: every task
    keeps ``top_n`` rows, then the result is numbered)."""
    scored = _bigram_counts(_bigrams(df, col_text)).withColumn(
        "p_cond", F.round(F.col("c12").cast("double") / F.col("c1"), 6)
    )
    return ranked_topk(
        scored, [F.desc("c12"), F.asc("w1"), F.asc("w2")], top_n
    ).select("w1", "w2", "c12", "c1", "p_cond", "rnk")


def vocab_encode(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Dictionary-encode the corpus vocabulary: dense integer ids
    assigned by (frequency desc, token asc) — the id assignment every
    tokenizer/embedding pipeline needs before int-encoding documents.
    One explode+count shuffle (map-side combined to vocabulary scale);
    the ranking window is over the VOCABULARY aggregate only. The vocab
    table this returns is broadcast-joinable against the token stream
    to int-encode the corpus (ids are catalog-scale)."""
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens_col(col_text)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return counts.select(
        "token",
        F.row_number().over(w).cast("bigint").alias("token_id"),
        "freq",
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2-safe patterns (no backrefs/lookaround) so the identical regex runs
# in Spark (java.util.regex) and in the DuckDB oracle (RE2): emails,
# dotted-quad IPv4, and +CC-NNN-NNNN phone forms.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}-\d{3,4}-\d{3,4}"


def redact_pii(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers from a text column, keeping
    per-document match counts — the pre-training privacy scrub every
    corpus pipeline runs before tokenization.

    Pure JVM ``regexp_replace`` / ``regexp_count`` expressions in one
    codegen'd projection: zero shuffles, scan-side at any corpus size
    (the scrub is embarrassingly parallel, so 100 TB just means more
    input splits). Replacement order is fixed (email → ip → phone) and
    the patterns are RE2-safe, so the DuckDB oracle applies the
    byte-identical sequence."""
    counts = [
        F.regexp_count(F.col(col_text), F.lit(PII_EMAIL)).cast("bigint").alias(
            "n_emails"
        ),
        F.regexp_count(F.col(col_text), F.lit(PII_IPV4)).cast("bigint").alias(
            "n_ips"
        ),
        F.regexp_count(F.col(col_text), F.lit(PII_PHONE)).cast("bigint").alias(
            "n_phones"
        ),
    ]
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(col_text), PII_EMAIL, "[EMAIL]"),
            PII_IPV4,
            "[IP]",
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return df.select(F.col(col_id), redacted.alias("redacted"), *counts)


def shuffle_shards(
    df: DataFrame,
    col_id: str = "doc_id",
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    row gets a shard and a position within that shard, both derived
    from md5(id) — RNG-free, stable under repartitioning, and
    reproducible across engines (the oracle runs the same arithmetic).

    A true global ORDER BY md5 would funnel position assignment through
    one sorted range; instead the hash's top bits pick the shard and
    the within-shard window assigns positions — one shuffle by shard,
    each shard sorted independently (position is what data loaders
    consume: they read shard files in order). Shard sizes are
    hash-uniform, so the widest task is corpus/n_shards."""
    from pyspark.sql.window import Window

    h = F.md5(F.col(col_id).cast("string"))
    shard = (md5_prefix(h, 4) % n_shards).alias("shard")
    w = Window.partitionBy("shard").orderBy(F.col("h"), F.col(col_id))
    return (
        df.select(F.col(col_id), h.alias("h"), shard)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(col_id, "shard", "pos")
    )


def log_odds_terms(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_group: str = "source",
    k: int = 10,
    alpha0: float = 100.0,
) -> DataFrame:
    """Distinctive terms per group: log-odds ratio with an informative
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words")
    of each group's token usage vs the REST of the corpus, z-scored
    and ranked — the standard "what words characterize this source"
    audit, far more robust than raw TF-IDF contrast for frequent terms.

    Per (group s, word w), with corpus prior α_w = α0 · y_w / n:

        δ = ln((y_sw + α_w) / (n_s + α0 − y_sw − α_w))
          − ln((y_rw + α_w) / (n_r + α0 − y_rw − α_w))
        z = δ / sqrt(1/(y_sw + α_w) + 1/(y_rw + α_w))

    where r is the complement of s. Only words OBSERVED in the group
    are ranked (unobserved words score deeply negative and can never
    enter a top-k of distinctive terms).

    Scale shape: ONE corpus-scale shuffle (the (group, word) count);
    everything after is vocabulary-scale — corpus word totals arrive
    by a vocab-keyed join, group totals and n by one-row/`n_groups`-row
    broadcasts, and the ranking window partitions by group over vocab
    rows. No corpus-scale join, window, or second pass."""
    from pyspark.sql.functions import broadcast

    toks = df.select(
        F.col(col_group).alias("grp"),
        F.explode(F.split(col_text, " ")).alias("token"),
    )
    gw = toks.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("y_sw")
    )
    wtot = gw.groupBy("token").agg(F.sum("y_sw").alias("y_w"))
    gtot = gw.groupBy("grp").agg(F.sum("y_sw").alias("n_s"))
    ntot = wtot.agg(F.sum("y_w").cast("double").alias("n"))
    scored = (
        gw.join(wtot, "token")
        .join(broadcast(gtot), "grp")
        .crossJoin(broadcast(ntot))
        .select(
            "grp",
            "token",
            "y_sw",
            (F.lit(alpha0) * F.col("y_w") / F.col("n")).alias("a_w"),
            (F.col("y_w") - F.col("y_sw")).alias("y_rw"),
            (F.col("n") - F.col("n_s")).alias("n_r"),
            "n_s",
        )
        .select(
            "grp",
            "token",
            "y_sw",
            (
                (
                    F.log(
                        (F.col("y_sw") + F.col("a_w"))
                        / (
                            F.col("n_s")
                            + F.lit(alpha0)
                            - F.col("y_sw")
                            - F.col("a_w")
                        )
                    )
                    - F.log(
                        (F.col("y_rw") + F.col("a_w"))
                        / (
                            F.col("n_r")
                            + F.lit(alpha0)
                            - F.col("y_rw")
                            - F.col("a_w")
                        )
                    )
                )
                / F.sqrt(
                    1.0 / (F.col("y_sw") + F.col("a_w"))
                    + 1.0 / (F.col("y_rw") + F.col("a_w"))
                )
            ).alias("zraw"),
        )
    )
    return (
        top_k_per_group(scored, "grp", [F.desc("zraw"), F.asc("token")], k)
        .select(
            F.col("grp").alias(col_group),
            "token",
            F.col("y_sw").cast("bigint").alias("n_in_group"),
            F.round("zraw", 6).alias("log_odds_z"),
            "rnk",
        )
    )


def hashing_vectorize(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    n_dims: int = 64,
) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: signed token counts
    folded into ``n_dims`` buckets — the vocabulary-free text
    featurization (Weinberger et al. 2009) whose output feeds linear
    models or ANN without ever building or broadcasting a vocabulary.

    dim(w)  = first 8 md5 hex digits of the token, mod n_dims
    sign(w) = ± from the 9th hex digit's low bit

    md5-derived (not ``xxhash64``) so the DuckDB oracle reproduces the
    bucketing bit-for-bit — same engine-portable-hash rule as
    dataset_split and shuffle_shards.

    Scale shape: one explode + ONE (doc, dim) aggregate — map-side
    combine collapses each document's tokens to ≤ n_dims rows before
    the exchange, so the shuffle is docs × n_dims worst case. No
    joins, no windows, no driver state. Exact-zero cancellations are
    dropped (sparse output)."""
    h = F.md5(F.col("token"))
    dim = md5_prefix(h, 8) % n_dims
    sign = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        df.select(
            F.col(col_id), F.explode(F.split(col_text, " ")).alias("token")
        )
        .select(F.col(col_id), dim.alias("dim"), sign.alias("s"))
        .groupBy(col_id, "dim")
        .agg(F.sum("s").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def langid_confusion(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_lang: str = "lang",
) -> DataFrame:
    """Confusion matrix of the declared language label vs the
    language_id heuristic's prediction — the classifier audit every
    corpus pipeline runs before trusting a detector for routing or
    filtering: per (true, predicted) cell, doc count and recall
    (share within the true language).

    Scale shape: one scan (the lexicon scoring is a scan-side
    projection), one (true, pred) aggregate — the result is at most
    |langs|² rows, and the recall denominator comes from a window over
    those same rows, so nothing wider than the corpus scan exists."""
    from pyspark.sql.window import Window

    pred = language_id(df, col_id, col_text).select(col_id, "lang_pred")
    cells = (
        df.select(col_id, col_lang)
        .join(pred, col_id)
        .groupBy(F.col(col_lang).alias("lang_true"), "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    wt = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(wt).cast("double"), 6
        ).alias("recall"),
    )


def doc_perplexity(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Self-scored bigram cross-entropy per document: train the
    corpus bigram LM over the whole input, then score every document
    by its average -log2 P(w2|w1) — the in-corpus analogue of CCNet's
    perplexity filter (docs with high bits-per-bigram are the atypical
    ones: boilerplate, noise, wrong-language). Because the LM is
    trained on the same corpus, every scored bigram has c12 >= 1, so
    no smoothing term is needed and the score is exact.

    Output: (doc_id, n_bigrams, avg_bits, bits_bucket) — avg_bits is
    the mean bits-per-bigram, bits_bucket = floor(avg_bits) the
    integer filter grade. Per-bigram contributions are rounded to
    DECIMAL(18,9) and summed exactly, so the per-doc average is
    partition-order independent and engine-portable (the same rule as
    adamic_adar's DECIMAL-exact sums).

    Scale shape: bigrams come from the family's one emitter
    (:func:`_bigrams`, scan-side: no document-keyed exchange, no
    per-document sort, nothing persisted — the emitter is cheap to
    re-read, so the LM side and the scoring side each scan). The
    stream shuffles once to build the vocabulary²-bounded LM
    (map-side combined) and once more keyed on (w1,w2) to pick up its
    bits — the join's build side is the LM table (catalog-scale,
    broadcastable under AQE); the per-doc sum (:func:`_doc_sums`) is
    the only doc-grain shuffle. Single-token documents have no
    bigrams and drop out (both engines agree)."""
    big = _bigrams(df, col_text, col_id)
    bits = _bigram_counts(big).select(
        "w1",
        "w2",
        dec9(-F.log2(F.col("c12").cast("double") / F.col("c1"))).alias(
            "bits"
        ),
    )
    per = _doc_sums(big, bits, ["w1", "w2"], [col_id], sum_bits="bits")
    avg = F.col("sum_bits").cast("double") / F.col("n_tokens")
    return per.select(
        col_id,
        F.col("n_tokens").alias("n_bigrams"),
        F.round(avg, 6).alias("avg_bits"),
        F.floor(avg).cast("int").alias("bits_bucket"),
    )


def heaps_law_points(
    df: DataFrame,
    n_buckets: int = 10,
    col_id: str = "doc_id",
    col_text: str = "text",
) -> DataFrame:
    """Vocabulary growth curve + Heaps'-law fit: partition the corpus
    into ``n_buckets`` doc-id ranges (id order standing in for arrival
    order, as in ngram_novelty_by_source), and at each cutoff report
    cumulative token count N and cumulative distinct vocabulary V,
    plus the fitted Heaps exponent β from the log-log OLS
    V ≈ K·N^β over the observed points — the curve that predicts
    tokenizer vocabulary pressure as a corpus grows.

    The trick that keeps this ONE pass instead of n_buckets scans:
    V(cutoff) needs no per-cutoff distinct — each token's FIRST
    bucket is min(doc_id)'s bucket (one vocabulary-scale aggregate),
    and cumulative sums over the n_buckets-row frame give every
    cutoff's V and N at once. Bucket index is pure integer arithmetic
    (never a percentile); log10 points are pre-rounded to
    DECIMAL(18,9) so the OLS sums are exact, and β is one closed-form
    double division.

    Scale shape: one token explode (scan-side), one vocabulary-scale
    min aggregate, two n_buckets-row cumulative windows, a constant-
    size fit. Empty id-ranges emit no row (observed points only).

    ``col_id`` must be NUMERIC (the bucket bounds are ``hi - lo``
    range arithmetic) — validated up front with a clear error instead
    of a deep AnalysisException; string-keyed corpora should derive a
    numeric order column first (e.g. a dense_rank over the id)."""
    from pyspark.sql.types import NumericType
    from pyspark.sql.window import Window

    id_field = df.schema[col_id]
    if not isinstance(id_field.dataType, NumericType):
        raise TypeError(
            f"heaps_law_points: col_id {col_id!r} must be numeric "
            f"(bucket bounds use range arithmetic), got "
            f"{id_field.dataType.simpleString()}; derive a numeric "
            "order column (e.g. dense_rank over the id) first"
        )
    bounds = df.agg(
        F.min(col_id).alias("lo"), F.max(col_id).alias("hi")
    )
    step = F.expr(
        f"CAST(ceil((hi - lo + 1) / CAST({n_buckets} AS DOUBLE))"
        " AS BIGINT)"
    )
    toks = df.select(
        F.col(col_id).alias("id"),
        F.explode(F.split(F.col(col_text), " ")).alias("tok"),
    )

    def bucket_of(id_col):
        return F.least(
            F.floor((id_col - F.col("lo")) / F.col("stp")).cast("int")
            + 1,
            F.lit(n_buckets),
        )

    tok_b = (
        toks.crossJoin(F.broadcast(bounds.select("lo", step.alias("stp"))))
        .select(bucket_of(F.col("id")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_toks"))
    )
    first_b = (
        toks.groupBy("tok")
        .agg(F.min("id").alias("fd"))
        .crossJoin(F.broadcast(bounds.select("lo", step.alias("stp"))))
        .select(bucket_of(F.col("fd")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    points = (
        tok_b.join(first_b, "bucket", "left")
        .withColumn("cum_tokens", F.sum("n_toks").over(w_cum))
        .withColumn(
            "cum_vocab",
            F.sum(F.coalesce("n_new", F.lit(0))).over(w_cum),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
            F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        )
    )
    lx = dec9(F.log10(F.col("cum_tokens").cast("double")))
    ly = dec9(F.log10(F.col("cum_vocab").cast("double")))
    fit = centered_ols_slope(
        points.select(lx.alias("x"), ly.alias("y")), "heaps_beta"
    )
    return points.crossJoin(F.broadcast(fit)).orderBy("bucket")


def corpus_entropy_rates(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
) -> DataFrame:
    """Corpus-level Shannon entropy rates of the token stream — the
    information-density summary (how compressible / how repetitive the
    corpus is) that sits between per-doc perplexity (doc_perplexity)
    and the fitted rank law (zipf_fit):

    - ``h_unigram``  = H(X)   over the unigram distribution
    - ``h_bigram``   = H(X,Y) over adjacent-pair counts
    - ``h_cond``     = H(Y|X) = H(X,Y) − H(X), the bigram entropy rate

    all in bits. Every -p·log2(p) contribution is pre-rounded to
    DECIMAL(18,9) and summed exactly (the user_behavior_entropy rule),
    totals enter as one-row broadcasts — the three entropies cannot
    drift with partition order.

    Scale shape: one token explode, one vocabulary-scale unigram
    aggregate and one bigram-vocabulary aggregate (both with map-side
    partial combine), two one-row reductions. Nothing wider than the
    n-gram vocabularies shuffles."""
    uni = (
        df.select(F.explode(tokens_col(col_text)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bi = (
        _bigrams(df, col_text)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def _entropy(counts, label):
        tot = counts.agg(F.sum("n").alias("tot"))
        p = F.col("n") / F.col("tot").cast("double")
        contrib = dec9(-p * F.log2(p))
        return counts.crossJoin(F.broadcast(tot)).agg(
            F.max("tot").cast("bigint").alias(f"n_{label}_tokens"),
            F.count(F.lit(1)).cast("bigint").alias(f"n_{label}_types"),
            F.sum(contrib).alias(f"h_{label}_dec"),
        )

    hu = _entropy(uni, "uni")
    hb = _entropy(bi, "bi")
    return hu.crossJoin(F.broadcast(hb)).select(
        F.col("n_uni_tokens").alias("n_tokens"),
        F.col("n_uni_types").alias("n_unigrams"),
        F.col("n_bi_types").alias("n_bigrams"),
        F.round(F.col("h_uni_dec").cast("double"), 6).alias("h_unigram"),
        F.round(F.col("h_bi_dec").cast("double"), 6).alias("h_bigram"),
        F.round(
            (F.col("h_bi_dec") - F.col("h_uni_dec")).cast("double"), 6
        ).alias("h_cond"),
    )


# The Gopher-rules stopword witness set (Rae et al. 2021, table A1):
# a document passing the "natural language" bar must contain at least
# ``min_stopwords`` distinct members.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    max_dup_line_frac: float = 0.3,
    max_dup_para_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    max_dup_para_char_frac: float = 0.2,
    max_top_2gram_frac: float = 0.20,
    max_top_3gram_frac: float = 0.18,
    max_top_4gram_frac: float = 0.16,
    max_dup_5gram_frac: float = 0.15,
    max_dup_6gram_frac: float = 0.14,
    max_dup_7gram_frac: float = 0.13,
    max_dup_8gram_frac: float = 0.12,
    max_dup_9gram_frac: float = 0.11,
    max_dup_10gram_frac: float = 0.10,
) -> DataFrame:
    """The Gopher quality gate — the COMPLETE Rae et al. 2021 §A1.1
    rule table (the standard CommonCrawl pre-filter) as per-document
    rule FLAGS plus the composite ``keep`` decision.

    Quality axes: word-count bounds, mean-word-length bounds,
    symbol-to-word ratio ('#' chars and '...' runs), bullet / ellipsis
    line fractions, alphabetic-word fraction, and a distinct-stopword
    witness count.

    Repetition axes (the section's other half, every rule):
    duplicate-line and duplicate-paragraph fractions plus their
    CHARACTER-mass twins (occurrences beyond the first, over NON-EMPTY
    segments — blank separators are structure, not content; char
    fractions are over total document chars), the top word n-gram
    character fraction for n = 2, 3, 4 (chars of the most frequent
    n-gram × its count over total chars; ties break toward the higher
    count then the longer n-gram, which pins the statistic without
    pinning an arbitrary winner), and the duplicate n-gram character
    fraction for n = 5..10 (Σ over grams occurring more than once of
    (count − 1) × gram chars, over total chars — the declarative,
    order-independent form of the paper's duplicate-char measure: the
    sequential skip-ahead scan implementations use is
    evaluation-order-dependent and cannot be mirrored across engines).
    NOTE: because overlapping occurrences each contribute their full
    (count − 1) × chars mass, the dup-n-gram statistic counts a
    character once PER duplicated gram covering it and can exceed 1.0
    on highly repetitive text — it is strictly harsher than Rae et
    al.'s character-coverage measure that the verbatim 0.15..0.10
    thresholds were calibrated for, so kill rates on repetitive
    documents will exceed the paper's (tune the thresholds up if
    coverage-calibrated behavior is wanted; a data card over the
    flags makes the gap visible per corpus).
    Emitting every rule's boolean (not just the verdict) is what makes
    the gate tunable: a data card reports per-rule kill rates, and
    threshold changes re-filter from the flags without re-scanning
    the corpus.

    Words split on a whitespace CLASS ([ \\t\\n\\r]+), not a literal
    space — one-word-per-line prose must count every word (Gopher's
    rules are whitespace-split; ADVICE r7).

    Scale: the quality axes and all four duplicate-segment fractions
    are scan-side projections — one split per axis reused across rules
    via short per-row lambdas (documents are KB-scale; interpreted
    higher-order functions are noise next to the scan). The n-gram
    axes (top 2..4, dup 5..10) share ONE codegen'd position explode
    and ONE (doc, n, gram) count aggregate, reduced to the doc grain
    and joined back on the document key: token-scale rows, doc-grain
    shuffles, output row-per-doc — the same grain discipline as every
    text operator here. The (doc, n, gram) exchange carries the raw
    gram string — a measured reversal of the hashed-exchange idea:
    an 8-variant matrix at sf0.1 (SCALE.md round-9 bench note) put
    the raw shape at 3.9s warm against 6.1s for unconditional
    unhex(md5)+length and ~10s for every conditional form that also
    carries the length column the stats need (the conditional
    WITHOUT length reads 4.7s but cannot feed the char masses),
    while lz4 had already flattened the byte saving to
    −5% (md5 output is incompressible by construction). The
    statistics do need only counts and char masses, so on a corpus
    with adversarial URL-length "words" (unbounded row width) a
    hashed exchange becomes the right trade at 100 TB — re-measure
    there before paying the CPU here. Ratios are single divisions of
    exact integer counts, so the rule booleans are bit-identical in
    any IEEE engine;
    try_divide + coalesce(false) keep empty/whitespace documents as
    loud all-false rows instead of ANSI crashes (their n-gram
    fractions are 0 over a nonzero char count, so only zero-char
    documents null out). Mirrored step for step in the DuckDB
    oracle."""
    words = F.filter(
        F.split(F.col(col_text), "[ \\t\\n\\r]+"), lambda x: x != ""
    )
    lines = F.split(F.col(col_text), "\n")
    n_words = F.size(words).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    word_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    n_hash = (
        F.length(col_text)
        - F.length(F.replace(F.col(col_text), F.lit("#"), F.lit("")))
    ).cast("bigint")
    n_ellipsis = (
        (
            F.length(col_text)
            - F.length(
                F.replace(F.col(col_text), F.lit("..."), F.lit(""))
            )
        )
        / 3
    ).cast("bigint")
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-")
            | x.startswith("*")
            | x.startswith("•"),
        )
    ).cast("bigint")
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda x: x.endswith("..."))
    ).cast("bigint")
    n_alpha_words = F.size(
        F.filter(words, lambda x: x.rlike("[a-zA-Z]"))
    ).cast("bigint")
    n_stop = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("bigint")

    # repetition axes over NON-EMPTY segments: duplicates = occurrences
    # beyond the first, i.e. n - n_distinct (exact integers, one
    # division each)
    lines_ne = F.filter(lines, lambda x: x != "")
    paras_ne = F.filter(
        F.split(F.col(col_text), "\\n\\n+"), lambda x: x != ""
    )
    dup_line_frac = F.try_divide(
        (F.size(lines_ne) - F.size(F.array_distinct(lines_ne))).cast(
            "bigint"
        ),
        F.size(lines_ne).cast("bigint"),
    )
    dup_para_frac = F.try_divide(
        (F.size(paras_ne) - F.size(F.array_distinct(paras_ne))).cast(
            "bigint"
        ),
        F.size(paras_ne).cast("bigint"),
    )
    n_chars = F.length(col_text).cast("bigint")
    # duplicate-segment CHARACTER mass (chars of occurrences beyond
    # the first = total segment chars − distinct segment chars), over
    # total document chars

    def _seg_chars(arr):
        return F.aggregate(
            arr, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        )

    dup_line_char_frac = F.try_divide(
        _seg_chars(lines_ne) - _seg_chars(F.array_distinct(lines_ne)),
        n_chars,
    )
    dup_para_char_frac = F.try_divide(
        _seg_chars(paras_ne) - _seg_chars(F.array_distinct(paras_ne)),
        n_chars,
    )

    # word-n-gram repetition per document, n = 2..10 from ONE position
    # explode and ONE (doc, n, gram) count: top-gram char mass for
    # n = 2, 3, 4 (max by (count, gram chars) — the struct max IS the
    # tie rule: higher count, then longer gram; equal (count, length)
    # ties yield the same count*chars product, so the statistic is
    # deterministic without ranking gram strings) and duplicate-gram
    # char mass Σ (count−1)·chars for n = 5..10. Construction is the
    # word_shingles codegen pattern — posexplode over the 2-gram start
    # positions plus try_element_at lookups, each longer gram emitted
    # from the same position row behind a validity guard (concat_ws
    # skips NULLs, so the guard, not the concat, decides) — measured
    # ~2.5x faster cold than the equivalent interpreted nested
    # transform/slice lambdas at sf0.1.
    toks = df.select(F.col(col_id).alias("__gid"), words.alias("__w"))
    pos_df = toks.select(
        "__gid",
        "__w",
        F.posexplode(
            F.expr("if(size(__w) >= 2, sequence(1, size(__w) - 1), array())")
        ).alias("__i", "pos"),
    )

    def _lk(i: int):
        return F.expr(f"try_element_at(__w, pos + {i})")

    def _gram(n: int):
        g = F.concat_ws(" ", *[_lk(i) for i in range(n)])
        if n == 2:  # every emitted position is a valid 2-gram start
            return g
        return F.when(F.expr(f"pos + {n - 1} <= size(__w)"), g)

    top_ns = (2, 3, 4)
    dup_ns = (5, 6, 7, 8, 9, 10)
    grams = (
        pos_df.select(
            "__gid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("n"), _gram(n).alias("g")
                        )
                        for n in top_ns + dup_ns
                    ]
                )
            ).alias("x"),
        )
        .filter(F.col("x.g").isNotNull())
        # the exchange carries the RAW gram string — a deliberate,
        # twice-measured reversal of the hash-the-exchange idea
        # (round-9 prescription): an 8-variant noop-sink matrix at
        # sf0.1 (SCALE.md round-9 bench note) put the r8 raw shape
        # at 3.9s warm vs 6.1s for unconditional unhex(md5)+length
        # and ~10s for every conditional form that also carries the
        # length column these stats need (conditional WITHOUT
        # length: 4.7s — but the char masses require l) — while the
        # byte saving was -5% (lz4 already flattens gram text; md5
        # output is incompressible by construction). At 100 TB with
        # adversarial URL-length "words" the raw row width is
        # unbounded and re-introducing a hashed exchange is the
        # right trade — do it WITH the matrix in hand; here the
        # unconditional form was the cheapest width-bounded one.
        .select(
            "__gid", F.col("x.n").alias("n"), F.col("x.g").alias("g")
        )
    )
    # skip the map-side combine: gram keys are mostly unique (2.2M
    # rows / ~2M distinct (doc, n, gram) keys at sf0.1), so the
    # partial hash table is pure overhead — the explicit repartition
    # shuffles raw rows and aggregates once on the reduce side
    # (measured 2.7s vs 4.0s warm; the item_cooccurrence_pairs rule).
    # Round 13: repartition by __gid ALONE — HashPartitioning(gid)
    # satisfies the ClusteredDistribution of BOTH downstream
    # aggregates ((gid, n, g) and (gid, n)), so the whole stats
    # subtree runs off ONE exchange instead of two (the (gid, n)
    # re-aggregation previously paid its own partial pass + shuffle).
    # Same bytes over the wire, one less stage barrier — measured
    # cold 11.6-12.2 -> 7.3-9.4 s, warm 5.3-5.4 -> 3.6-4.7 s on the
    # stats subtree at sf0.1 (2 Exchange -> 1 in the plan). Trade-off:
    # a single adversarially huge document now lands its whole gram
    # stream in one partition (the (gid, n, g) spread was incidental,
    # and every doc-grain text shuffle here already accepts that
    # grain); values are key-determined, partitioning-independent.
    stats = (
        grams.repartition("__gid")
        .groupBy("__gid", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__gid", "n")
        .agg(
            F.max(
                F.struct(F.col("c"), F.length("g").cast("bigint").alias("l"))
            ).alias("m"),
            F.sum(
                (F.col("c") - 1) * F.length("g").cast("bigint")
            ).alias("dc"),
        )
    )
    rep = stats.groupBy("__gid").agg(
        *(
            [
                F.max(
                    F.when(F.col("n") == n, F.col("m.c") * F.col("m.l"))
                ).alias(f"__t{n}")
                for n in top_ns
            ]
            + [
                F.max(F.when(F.col("n") == n, F.col("dc"))).alias(
                    f"__d{n}"
                )
                for n in dup_ns
            ]
        )
    )
    base = df.join(rep, F.col(col_id) == F.col("__gid"), "left")

    def _frac(col_name: str):
        # 0 for documents with no n-grams; NULL only at zero chars
        return F.try_divide(
            F.coalesce(F.col(col_name), F.lit(0).cast("bigint")), n_chars
        )

    top2_frac, top3_frac, top4_frac = (_frac(f"__t{n}") for n in top_ns)
    dup_gram_fracs = {n: _frac(f"__d{n}") for n in dup_ns}

    mean_wl = F.try_divide(word_chars, n_words)
    symbol_ratio = F.try_divide(n_hash + n_ellipsis, n_words)
    bullet_frac = F.try_divide(n_bullet_lines, n_lines)
    ellipsis_frac = F.try_divide(n_ellipsis_lines, n_lines)
    alpha_frac = F.try_divide(n_alpha_words, n_words)

    def ok(cond):
        return F.coalesce(cond, F.lit(False))

    r_words = ok((n_words >= min_words) & (n_words <= max_words))
    r_wlen = ok(
        (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    )
    r_symbol = ok(symbol_ratio <= max_symbol_ratio)
    r_bullet = ok(bullet_frac <= max_bullet_frac)
    r_ellipsis = ok(ellipsis_frac <= max_ellipsis_frac)
    r_alpha = ok(alpha_frac >= min_alpha_frac)
    r_stop = ok(n_stop >= min_stopwords)
    r_dup_line = ok(dup_line_frac <= max_dup_line_frac)
    r_dup_para = ok(dup_para_frac <= max_dup_para_frac)
    r_dup_line_ch = ok(dup_line_char_frac <= max_dup_line_char_frac)
    r_dup_para_ch = ok(dup_para_char_frac <= max_dup_para_char_frac)
    r_top2 = ok(top2_frac <= max_top_2gram_frac)
    r_top3 = ok(top3_frac <= max_top_3gram_frac)
    r_top4 = ok(top4_frac <= max_top_4gram_frac)
    dup_limits = {
        5: max_dup_5gram_frac,
        6: max_dup_6gram_frac,
        7: max_dup_7gram_frac,
        8: max_dup_8gram_frac,
        9: max_dup_9gram_frac,
        10: max_dup_10gram_frac,
    }
    r_dup_gram = {
        n: ok(dup_gram_fracs[n] <= dup_limits[n]) for n in dup_ns
    }

    keep = (
        r_words & r_wlen & r_symbol & r_bullet & r_ellipsis
        & r_alpha & r_stop & r_dup_line & r_dup_para
        & r_dup_line_ch & r_dup_para_ch
        & r_top2 & r_top3 & r_top4
    )
    for n in dup_ns:
        keep = keep & r_dup_gram[n]

    return base.select(
        F.col(col_id),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.alias("n_stopwords_present"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(dup_para_frac, 6).alias("dup_para_frac"),
        F.round(dup_line_char_frac, 6).alias("dup_line_char_frac"),
        F.round(dup_para_char_frac, 6).alias("dup_para_char_frac"),
        F.round(top2_frac, 6).alias("top_2gram_char_frac"),
        F.round(top3_frac, 6).alias("top_3gram_char_frac"),
        F.round(top4_frac, 6).alias("top_4gram_char_frac"),
        *[
            F.round(dup_gram_fracs[n], 6).alias(
                f"dup_{n}gram_char_frac"
            )
            for n in dup_ns
        ],
        r_words.alias("ok_word_count"),
        r_wlen.alias("ok_mean_word_len"),
        r_symbol.alias("ok_symbol_ratio"),
        r_bullet.alias("ok_bullet_lines"),
        r_ellipsis.alias("ok_ellipsis_lines"),
        r_alpha.alias("ok_alpha_words"),
        r_stop.alias("ok_stopwords"),
        r_dup_line.alias("ok_dup_lines"),
        r_dup_para.alias("ok_dup_paras"),
        r_dup_line_ch.alias("ok_dup_line_chars"),
        r_dup_para_ch.alias("ok_dup_para_chars"),
        r_top2.alias("ok_top_2gram"),
        r_top3.alias("ok_top_3gram"),
        r_top4.alias("ok_top_4gram"),
        *[
            r_dup_gram[n].alias(f"ok_dup_{n}gram") for n in dup_ns
        ],
        keep.alias("keep"),
    )


def c4_clean(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 line-level cleaner (Raffel et al. 2020 §2.2 — the other
    canonical web-corpus filter next to the Gopher gate): per document,
    keep only lines that end in terminal punctuation (. ! ? or a
    closing double quote, after trailing-space trim) AND contain at
    least ``min_line_words`` words (the paper keeps lines of >= 5
    words); then judge the page on its CLEANED
    text — keep iff it has at least ``min_sentences`` sentences
    (terminal-punctuation marks in the kept lines; the paper keeps
    pages of >= 3 sentences) and the ORIGINAL
    page contains neither the string "lorem ipsum" (case-insensitive
    placeholder-text tell) nor a curly brace (code tell). The paper's
    bad-words list is deliberately NOT bundled (policy, not
    mechanics); compose with a blocklist filter upstream if needed.
    Output: (id, n_lines, n_kept_lines, n_sentences, has_lorem_ipsum,
    has_curly_brace, keep, clean_text) — both the audit counters and
    the cleaned text, so a pipeline filters AND rewrites in one pass.

    Scale: pure scan-side projection — one line split reused across
    rules via short per-row lambdas (documents are KB-scale), zero
    shuffles, output row-per-doc. All rule inputs are exact integer
    counts or substring tests, bit-identical in any engine; mirrored
    step for step in the DuckDB oracle."""
    lines = F.split(F.col(col_text), "\n")
    kept = F.filter(
        lines,
        lambda x: F.substring(F.rtrim(x), -1, 1).isin(
            ".", "!", "?", '"'
        )
        & (
            F.size(F.filter(F.split(x, " "), lambda w: w != ""))
            >= min_line_words
        ),
    )
    clean_text = F.array_join(kept, "\n")
    n_sentences = (
        F.length(clean_text)
        - F.length(F.translate(clean_text, ".!?", ""))
    ).cast("bigint")
    has_lorem = F.contains(F.lower(F.col(col_text)), F.lit("lorem ipsum"))
    has_brace = F.contains(F.col(col_text), F.lit("{"))
    return df.select(
        F.col(col_id),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_curly_brace"),
        (
            (n_sentences >= min_sentences) & ~has_lorem & ~has_brace
        ).alias("keep"),
        clean_text.alias("clean_text"),
    )


def corpus_datacard(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_source: str = "source",
) -> DataFrame:
    """Per-source corpus data card — the one-table summary every
    training-data release ships (doc/char/token volumes, mean document
    length, language mix, mean quality score, exact-duplicate
    pressure), composed from the same deterministic primitives the
    per-document operators use (single-space tokens, the language_id
    lexicon argmax, the quality_score formula, md5 content identity).
    One row per source, source-ordered (source grain is tiny — this is
    a report, not a join input).

    Determinism: count/char/token columns are exact integers; mean
    quality follows the house float rule — the per-doc score is
    pre-rounded to DECIMAL(18,9), summed exactly, divided once, cast
    double at 6 — so partial-aggregation order cannot move a digit.
    Zero-length documents contribute NULL quality and are excluded
    from the mean (loudly countable as total_chars = 0 contributions).

    Scale: one corpus scan computing all per-doc metrics → ONE
    source-grain aggregate; the duplicate axis adds one
    (source, content-hash)-grain aggregate collapsing to the source
    grain (the text itself never shuffles — only its md5). The two
    source-grain tables join broadcast-small."""
    t = f"split({col_text}, ' ')"
    n_tokens = F.expr(f"size({t})").cast("bigint")
    alpha = F.try_divide(
        F.length(
            F.regexp_replace(F.col(col_text), "[^a-zA-Z]", "")
        ).cast("bigint"),
        F.length(col_text).cast("bigint"),
    )
    stop_ratio = F.try_divide(
        count_in_lexicon(t, STOPWORDS_EN).cast("bigint"), n_tokens
    )
    q = dec9(
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.4
        + alpha * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
    )
    s_en = count_in_lexicon(t, LEX_EN)
    s_es = count_in_lexicon(t, LEX_ES)
    s_de = count_in_lexicon(t, LEX_DE)
    s_fr = count_in_lexicon(t, LEX_FR)
    lang = (
        F.when((s_en >= s_es) & (s_en >= s_de) & (s_en >= s_fr), "en")
        .when((s_es >= s_de) & (s_es >= s_fr), "es")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )
    per_doc = df.select(
        F.col(col_source).alias("source"),
        F.length(col_text).cast("bigint").alias("chars"),
        n_tokens.alias("toks"),
        lang.alias("lang"),
        q.alias("q"),
    )
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.round(
            F.try_divide(F.sum("toks"), F.count(F.lit(1))), 6
        ).alias("mean_doc_tokens"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_en"),
        F.sum(F.when(F.col("lang") == "es", 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_es"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_de"),
        F.sum(F.when(F.col("lang") == "fr", 1).otherwise(0))
        .cast("bigint")
        .alias("n_lang_fr"),
        # exact DECIMAL sum, ONE double division (cast before divide,
        # matching the oracle's CAST(sum AS DOUBLE) / count exactly)
        F.round(
            F.try_divide(
                F.sum("q").cast("double"), F.count("q").cast("double")
            ),
            6,
        ).alias("mean_quality"),
    )
    dups = (
        df.select(
            F.col(col_source).alias("source"),
            F.md5(F.col(col_text)).alias("h"),
        )
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.col("c") - 1).cast("bigint").alias("n_dup_docs")
        )
    )
    return (
        base.join(F.broadcast(dups), "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            "mean_doc_tokens",
            "n_lang_en",
            "n_lang_es",
            "n_lang_de",
            "n_lang_fr",
            "mean_quality",
            "n_dup_docs",
            F.round(
                F.try_divide(F.col("n_dup_docs"), F.col("n_docs")), 6
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


def excess_surprisal(
    df: DataFrame,
    ref_df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
) -> DataFrame:
    """Reference-model data selection signal (the RHO-loss /
    DoReMi-family heuristic at unigram grain): score every document
    of ``df`` under TWO Laplace-smoothed unigram models — its own
    corpus's and a reference corpus's — and report the per-token
    bit difference. High ``excess_bits`` marks text that is typical
    for the reference distribution but still surprising in-corpus
    (learnable and not yet learned); very negative marks in-corpus
    boilerplate absent from the reference. Both models smooth over
    the UNION vocabulary, so out-of-either-vocabulary tokens are
    well-defined on both sides.

    Determinism: per-token -log2 p is rounded to 9 decimals into
    DECIMAL(18,9) before each per-document sum (the doc_perplexity
    rule); the final means divide exact sums.

    Scale shape: TWO vocabulary-scale count tables (one per corpus,
    map-side combined), merged into one union-vocab bits table that
    broadcasts (or hash-joins under AQE) onto the scored corpus's
    token stream; ONE doc-grain shuffle. The reference corpus is
    touched once, for counts only.

    Output: (id, n_tokens, bits_self, bits_ref, excess_bits)."""
    toks = df.select(
        F.col(col_id), F.explode(tokens_col(col_text)).alias("w")
    )
    self_cnt = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_self")
    )
    ref_cnt = (
        ref_df.select(F.explode(tokens_col(col_text)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ref"))
    )
    vocab = self_cnt.join(ref_cnt, "w", "full").select(
        "w",
        F.coalesce("c_self", F.lit(0)).cast("bigint").alias("c_self"),
        F.coalesce("c_ref", F.lit(0)).cast("bigint").alias("c_ref"),
    )
    totals = vocab.agg(
        F.sum("c_self").cast("bigint").alias("n_self"),
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )

    def bits(c, n):  # Laplace-smoothed -log2 p over the union vocab
        return dec9(
            -F.log2((F.col(c) + 1) / (F.col(n) + F.col("v")).cast("double"))
        )

    table = vocab.crossJoin(F.broadcast(totals)).select(
        "w",
        bits("c_self", "n_self").alias("b_self9"),
        bits("c_ref", "n_ref").alias("b_ref9"),
    )
    per = _doc_sums(toks, table, "w", [col_id], ss="b_self9", sr="b_ref9")
    return per.select(
        col_id,
        "n_tokens",
        F.round(
            F.col("ss").cast("double") / F.col("n_tokens"), 6
        ).alias("bits_self"),
        F.round(
            F.col("sr").cast("double") / F.col("n_tokens"), 6
        ).alias("bits_ref"),
        F.round(
            (F.col("ss") - F.col("sr")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("excess_bits"),
    )
