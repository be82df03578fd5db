"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

These extend the reference's surface (SURVEY.md §2 C-block): everything
stays in built-in expressions (regexp_*, md5, length) so the hot path is
whole-stage codegen over the documents table — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword probes (lowercase, whole-word)
LANG_STOPWORDS = {
    "en": ("the", "and", "is", "of", "to", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "que"),
    "es": ("el", "la", "los", "las", "es", "una", "que", "para"),
}

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _word_hits(text_col: Column, words: tuple[str, ...]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(pattern), F.lit(0)))


def lang_id(df: DataFrame, text_col: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' (undetermined) when nothing matches."""
    text = F.col(text_col)
    hit_cols = {lang: _word_hits(text, words) for lang, words in LANG_STOPWORDS.items()}
    out = df
    for lang, col in hit_cols.items():
        out = out.withColumn(f"_hits_{lang}", col)
    best = F.greatest(*[F.col(f"_hits_{lang}") for lang in LANG_STOPWORDS])
    pred = F.lit("und")
    # deterministic tie-break: first language (dict order) with max hits wins
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when(
            (F.col(f"_hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred).drop(
        *[f"_hits_{lang}" for lang in LANG_STOPWORDS]
    )


def norm_words(col) -> "F.Column":
    """THE normalized-word tokenizer (lowercase, non-alnum -> space,
    whitespace split, empties dropped) — single source of truth for
    every word-level operator AND their DuckDB oracle twins
    (`list_filter(string_split_regex(lower(regexp_replace(text,
    '[^A-Za-z0-9\\s]', ' ', 'g')), '\\s+'), w -> w <> '')`).
    dedup.shingles and seven catalog queries tokenize through this one
    expression so a normalization change can never desynchronize the
    cross-query joins (containment, contamination, BM25 vocab)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(F.regexp_replace(c, r"[^A-Za-z0-9\s]", " ")), r"\s+"),
        lambda w: w != "",
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Length / punctuation / uppercase / stopword-density features plus a
    composite quality score in [0, 1]."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    n_upper = F.length(F.regexp_replace(text, r"[^A-Z]", ""))
    n_ws_tokens = F.size(F.split(F.trim(text), r"\s+"))
    n_stop = _word_hits(text, LANG_STOPWORDS["en"])

    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_alpha > 0, n_upper / n_alpha).otherwise(F.lit(0.0))
    stop_density = F.when(n_ws_tokens > 0, n_stop / n_ws_tokens).otherwise(F.lit(0.0))
    # simple monotone composite: alpha-heavy, lightly punctuated, mixed-case
    score = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * F.least(stop_density * 2, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(upper_ratio * 2, F.lit(1.0)))
        + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        df.withColumn("n_chars_calc", n_chars.cast("bigint"))
        .withColumn("ws_tokens", n_ws_tokens.cast("bigint"))
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("upper_ratio", upper_ratio)
        .withColumn("stop_density", stop_density)
        .withColumn("quality_score", score)
    )


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letters runs,
    digit runs, single punctuation — a public approximation of byte-pair
    pre-tokenization).

    CONVENTION: ``split('')`` yields one empty element, so an empty or
    whitespace-only document counts as ws_tokens=1 (regex_tokens stays
    0). The same split convention is mirrored verbatim in every DuckDB
    oracle that derives word counts, so changing it here alone would
    break the value-hash parity gate; quality gates drop such documents
    anyway, so the phantom token never influences shipped corpora."""
    text = F.col(text_col)
    return df.withColumn(
        "ws_tokens", F.size(F.split(F.trim(text), r"\s+")).cast("bigint")
    ).withColumn(
        "regex_tokens",
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0))).cast("bigint"),
    )


def fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Normalized-content fingerprint: lowercase, strip non-alphanumerics,
    md5 — the canonical exact-dedup key (whitespace/punct-insensitive)."""
    normalized = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]", "")
    return df.withColumn(out_col, F.md5(normalized))


# Scrub patterns chosen inside the Java-regex ∩ RE2 common subset so a
# SQL oracle can mirror them verbatim. The mechanic (global redaction +
# per-pattern hit counts + content fingerprint of the scrubbed text) is
# the PII-removal stage of a training-data pipeline.
SCRUB_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\+?\d[\d .-]{7,}\d\b",
}


def scrub(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Redact every pattern match and count hits per pattern — the PII /
    blocklist scrub stage. Patterns apply in dict order (order matters:
    an earlier redaction can destroy a later pattern's match). Pure
    column expressions; counts are taken on the ORIGINAL text."""
    patterns = SCRUB_PATTERNS if patterns is None else patterns
    text = F.col(text_col)
    out = df
    scrubbed = text
    for name, pat in patterns.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast("bigint"),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, "[REDACTED]")
    return out.withColumn("scrubbed", scrubbed)


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition / diversity signals for corpus quality
    filtering — the n-gram family of the Gopher rules (Rae et al. 2021,
    "Scaling Language Models", App. A: fraction of tokens in the most
    common n-gram, fraction in duplicated n-grams), plus the type-token
    ratio. Line-based siblings are omitted: this corpus is single-line.

    Two shuffles, both on high-cardinality keys ((doc, word) and
    (doc, gram)), each collapsing to per-doc rows — the canonical
    map-side-combine shape that survives any corpus size. The 2-gram
    array is built from two O(n) slices (zip_with), never a
    slice-per-element transform (O(n^2)).

    Returns (doc, n_words, distinct_word_ratio, top_word_frac,
    top_2gram_frac, dup_2gram_frac).
    """
    words = F.filter(
        F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", " ")), r"\s+"),
        lambda w: w != "",
    )
    base = df.select(F.col(id_col).alias("doc"), words.alias("_ws"))
    grams = F.zip_with(
        F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
        F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    wtok = base.select("doc", F.explode("_ws").alias("w"))
    gtok = base.select("doc", F.explode(grams).alias("g"))
    wstats = (
        wtok.groupBy("doc", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(
            F.sum("c").alias("_nw"),
            F.max("c").alias("_topw"),
            F.count(F.lit(1)).alias("_dw"),
        )
    )
    gstats = (
        gtok.groupBy("doc", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(
            F.sum("c").alias("_ng"),
            F.max("c").alias("_topg"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("_dupg"),
        )
    )
    out = wstats.join(gstats, "doc", "left")
    return out.select(
        "doc",
        F.col("_nw").cast("bigint").alias("n_words"),
        F.round(F.col("_dw") / F.col("_nw"), 6).alias("distinct_word_ratio"),
        F.round(F.col("_topw") / F.col("_nw"), 6).alias("top_word_frac"),
        F.round(F.col("_topg") / F.col("_ng"), 6).alias("top_2gram_frac"),
        F.round(F.col("_dupg") / F.col("_ng"), 6).alias("dup_2gram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Sliding-window token chunking: split each document into
    40-token chunks starting every 30 tokens (overlap = 10) — the
    context-window preparation step of a training
    or retrieval pipeline (chunk + overlap so no boundary sentence is
    lost to truncation).

    Whitespace tokens, original casing (chunks must reassemble the real
    text). Pure generate: sequence -> explode -> slice -> array_join,
    no shuffle at all — chunking parallelizes per input row, so the
    operator is embarrassingly parallel at any corpus size. The trailing
    chunk may be shorter than 40 tokens; every token index <= n starts a
    chunk, so short tails are emitted (standard sliding-window
    semantics).

    Returns (doc, chunk_index, start_token, n_tokens, chunk_fp) with
    chunk_fp = md5 of the chunk text — the dedup/lineage key downstream
    span-dedup and decontamination stages join on.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc"), toks.alias("_toks"), F.size(toks).alias("_n")
        )
        .filter(F.col("_n") > 0)
    )
    starts = F.sequence(F.lit(1), F.col("_n"), F.lit(30))
    chunk = F.slice(F.col("_toks"), F.col("_start"), 40)
    return (
        base.select("doc", "_toks", F.explode(starts).alias("_start"))
        .select(
            "doc",
            ((F.col("_start") - 1) / 30).cast("int").alias("chunk_index"),
            F.col("_start").cast("bigint").alias("start_token"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
        )
    )


def top_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Global top-20 word bigrams by total occurrence count — the
    vocabulary/boilerplate-mining pass of a corpus pipeline (frequent
    n-grams expose templates and junk worth filtering).

    Tokenization matches the shingle pipeline (lowercase, alnum words)
    so counts line up with the dedup operators. One explode + one
    groupBy(gram) with map-side partial aggregation; the top-k is
    orderBy+limit, which Spark plans as TakeOrdered (per-partition
    heap + driver merge of k rows) — no global sort. Doc frequency
    rides along via count(DISTINCT doc), a standard two-phase expand.
    Ties broken by gram text so the cut at rank k is deterministic.
    """
    words = F.filter(
        F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", " ")), r"\s+"),
        lambda w: w != "",
    )
    base = df.select(F.col(id_col).alias("doc"), words.alias("_w")).filter(
        F.size("_w") >= 2  # guard: sequence(1, 0) would DESCEND in Spark
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_w"), i + j) for j in range(2)]
        ),
    )
    tok = base.select("doc", F.explode(grams).alias("ngram"))
    counts = tok.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_count"),
        F.countDistinct("doc").cast("bigint").alias("doc_freq"),
    )
    return counts.orderBy(F.col("total_count").desc(), F.col("ngram").asc()).limit(20)


def tfidf_top_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Top-5 TF-IDF terms per group (source/domain) — the
    characteristic-vocabulary pass of corpus curation (what makes this
    domain's text distinctive; flat-IDF terms are boilerplate).

    Each group is one "document" for IDF purposes, so document
    frequency is countDistinct(group) per word — a bounded second
    aggregate, not a per-row window. The per-group top-k runs through
    ``ranks.grouped_topk`` (salted local top-k, then an exact global
    rank over the bounded candidate union) — one window shuffle over
    the vocabulary instead of the full bucketed-row-number machinery,
    whose stats/histogram/join-back branches re-ran the tf+df+join
    shuffle pipeline three times (the r8 tfidf sf1 cost).
    Score = tf * ln(n_groups / df), natural log on both engines.
    """
    from pygeoapi_ingestor_spark.functions import ranks

    # tokens = maximal [A-Za-z0-9] runs of the lowercased text. ONE
    # regex pass (split on the delimiter class) — equivalent to the
    # replace-then-split-on-whitespace formulation the oracle spells
    # out, at half the regex CPU (tokenization dominates this query:
    # the vocabulary after the tf shuffle is tiny).
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda w: w != "",
    )
    tok = df.select(F.col(group_col).alias("grp"), F.explode(words).alias("w"))
    tf = tok.groupBy("grp", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # document frequency as a window over the tf result, NOT a separate
    # groupBy branch: a branch re-runs the tokenize+tf pipeline for the
    # join's build side (2x the whole query's cost — the r8 sf1
    # regression). Partitions are per-word, bounded by n_groups rows.
    w_df = Window.partitionBy("w")
    # group count from a column-pruned scan of the source table —
    # deriving it from tf would branch the expensive lineage again
    ngroups = df.select(
        F.countDistinct(group_col).cast("bigint").alias("_ng")
    )
    scored = (
        tf.withColumn("_df", F.count(F.lit(1)).over(w_df).cast("bigint"))
        .crossJoin(F.broadcast(ngroups))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.log(F.col("_ng").cast("double") / F.col("_df").cast("double")),
        )
        .withColumn("_neg", -F.col("score"))
    )
    ranked = ranks.grouped_topk(
        scored, series_cols=["grp"], value_col="_neg",
        tiebreak_cols=["w"], k=5, out_col="_rn",
    )
    return ranked.select(
        F.col("grp").alias(group_col),
        F.col("_rn").cast("int").alias("rank"),
        F.col("w").alias("term"),
        "tf",
        F.round("score", 6).alias("score"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document character Shannon entropy (bits/char) — the cheap
    perplexity proxy of quality filtering: near-zero entropy is
    repeated filler, unusually high is binary junk/encoded blobs.

    Exact-count formulation: H = log2(n) - sum(c_i * log2(c_i)) / n over
    per-(doc, char) counts — two shuffles on high-cardinality keys, all
    integer until the final two log2/divide steps, so the value-hash
    twin reproduces it bit-for-bit. Returns (doc_id, n_chars, entropy_bits).
    """
    chars = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), "")).alias("c"),
    )
    counts = chars.groupBy("doc", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return (
        counts.groupBy("doc")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chars"),
            F.sum(F.col("cnt").cast("double") * F.log2(F.col("cnt").cast("double"))).alias("_clog"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_chars",
            F.round(
                F.log2(F.col("n_chars").cast("double"))
                - F.col("_clog") / F.col("n_chars").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
    )


def bigram_merge_counts(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Top-20 intra-word character-pair frequencies — the first merge
    step of BPE vocabulary induction (which adjacent symbol pair is most
    frequent across the corpus). Pure explode + one gram shuffle with
    map-side combine; top-k plans as TakeOrdered. Ties break on the pair
    text so the rank-k cut is deterministic."""
    words = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", " ")),
            r"\s+",
        ),
        lambda w: w != "",
    )
    # Zipf leverage: aggregate occurrences per DISTINCT word first, then
    # explode character pairs only once per distinct word, weighted by
    # its occurrence count — the pair explode shrinks by the corpus'
    # type/token ratio (~10-50x on natural text) while the result is
    # identical (pair counts are linear in word occurrences)
    w_rows = (
        df.select(F.explode(words).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w_count"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    exploded = w_rows.select(F.col("w_count"), F.explode(pairs).alias("pair"))
    counts = exploded.groupBy("pair").agg(
        F.sum("w_count").cast("bigint").alias("pair_count")
    )
    return counts.orderBy(
        F.col("pair_count").desc(), F.col("pair").asc()
    ).limit(20)
