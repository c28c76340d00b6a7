"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting — all pure native expressions
(regexp_count / split / md5), portable to an ANSI-SQL oracle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles (n-gram heuristic: function words are
# the highest-signal character sequences for language ID)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht"],
    "es": ["el", "la", "los", "las", "que", "de", "en", "es"],
    "fr": ["le", "la", "les", "des", "est", "que", "dans", "une"],
    "nl": ["de", "het", "een", "van", "en", "dat", "met", "niet"],
}


def _stopword_hits(col: Column, words: list[str]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pattern))


def detect_language(col: Column) -> Column:
    """argmax of stopword-hit counts; ties and zero-hit texts → 'und'
    (undetermined). Deterministic: tie goes to the alphabetically-first
    language among the maxima only when a single language attains the max."""
    scores = F.array(
        *[
            F.struct(
                _stopword_hits(col, ws).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang, ws in sorted(LANG_STOPWORDS.items())
        ]
    )
    best = F.array_max(scores)
    n_best = F.size(F.filter(scores, lambda s: s["hits"] == best["hits"]))
    return (
        F.when((best["hits"] > 0) & (n_best == 1), best["lang"])
        .otherwise(F.lit("und"))
    )


# THE whitespace class every word-count/split primitive uses, on both
# engines: Java's \s includes \x0b, RE2's does not, so \s+ silently
# diverges between Spark and a DuckDB oracle on vertical-tab text. One
# explicit class, shared by token_count_ws / word_ngrams / line_filter /
# bigram_lm_scores and mirrored by entry_queries.WORDS_SQL.
WS_SPLIT = "[ \\t\\n\\r\\f\\x0b]+"


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), WS_SPLIT))
    )


# NOTE: the whitespace exclusion is spelled out like WS_SPLIT — a bare \s
# here would silently diverge between Spark (Java \s ⊇ \x0b) and the DuckDB
# oracles this pattern is injected into verbatim (RE2 \s ∌ \x0b): DuckDB
# counts 3 tokens in 'a\x0bb' where Java-style \s counts 2 (round-4 advice).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0b]"


def token_count_bpe(col: Column) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single
    punctuation marks — the standard approximation of subword token counts."""
    return F.regexp_count(col, F.lit(BPE_ISH_PATTERN))


def alpha_ratio(col: Column) -> Column:
    """Share of ASCII letters in the text — THE 'alpha ratio' definition
    (single int/int IEEE division; empty text → 0.0). Used by both the
    quality score and the curation filter so the two can never drift."""
    n_chars = F.length(col)
    return F.when(
        n_chars > 0, F.regexp_count(col, F.lit("[A-Za-z]")) / n_chars
    ).otherwise(F.lit(0.0))


def quality_features(col: Column) -> dict[str, Column]:
    n_chars = F.length(col)
    n_tokens = token_count_ws(col)
    # same spelled-out class policy as BPE_ISH_PATTERN/WS_SPLIT: \w is
    # dialect-stable ([A-Za-z0-9_] in both Java and RE2) but \s is not
    n_punct = F.regexp_count(col, F.lit("[^A-Za-z0-9_ \\t\\n\\r\\f\\x0b]"))
    n_digit = F.regexp_count(col, F.lit("[0-9]"))
    n_stop = _stopword_hits(col, LANG_STOPWORDS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_token_len": F.when(
            n_tokens > 0, n_chars.cast("double") / n_tokens
        ).otherwise(F.lit(0.0)),
        "alpha_ratio": alpha_ratio(col),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0)),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards alpha-density, stopword
    presence, mid-range token length; penalizes punctuation/digit noise.
    Gopher/C4-style filter signal, deterministic."""
    f = quality_features(col)
    length_ok = F.when((f["n_tokens"] >= 10) & (f["n_tokens"] <= 100_000), 1.0).otherwise(0.3)
    wordlen_ok = F.when(
        (f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 12), 1.0
    ).otherwise(0.5)
    score = (
        0.3 * f["alpha_ratio"]
        + 0.2 * F.least(f["stopword_ratio"] * 5, F.lit(1.0))
        + 0.2 * (1 - F.least(f["punct_ratio"] * 4, F.lit(1.0)))
        + 0.15 * length_ok
        + 0.15 * wordlen_ok
    )
    return F.round(score, 6)


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    out = df
    for name, expr in quality_features(c).items():
        out = out.withColumn(name, expr)
    return (
        out.withColumn("token_count_bpe", token_count_bpe(c))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_detected", detect_language(c))
    )


# PII surface patterns — deliberately regex-dialect-portable (character
# classes + bounded/greedy quantifiers only; no lookaround/backrefs, which
# RE2-based engines reject): identical matches under Java regex (Spark) and
# RE2 (DuckDB/Go), so the counts are oracle-checkable.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# \s differs between dialects (Java includes \x0B vertical tab, RE2 does
# not), so spell out the whitespace class both engines agree on.
URL_PATTERN = "https?://[^ \\t\\n\\r\\f\\x0b]+"
PHONE_PATTERN = r"\+[0-9]{2}[0-9 -]{7,12}[0-9]"


def pii_features(col: Column) -> dict[str, Column]:
    """Per-document PII-surface counts (emails, urls, phone-shaped spans) —
    the filter signal a training-data pipeline uses to route documents to
    scrubbing. Pure regexp_count, no Python."""
    n_emails = F.regexp_count(col, F.lit(EMAIL_PATTERN))
    n_urls = F.regexp_count(col, F.lit(URL_PATTERN))
    n_phones = F.regexp_count(col, F.lit(PHONE_PATTERN))
    return {
        "n_emails": n_emails,
        "n_urls": n_urls,
        "n_phones": n_phones,
        "has_pii": ((n_emails + n_urls + n_phones) > 0).cast("int"),
    }


def add_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, expr in pii_features(F.col(text_col)).items():
        out = out.withColumn(name, expr)
    return out


def redact_pii(col: Column) -> Column:
    """Scrub PII surfaces with typed placeholders — the companion to
    ``pii_features``'s counting: emails → ``<EMAIL>``, then urls →
    ``<URL>``, then phone-shaped spans → ``<PHONE>``, in that fixed order
    (emails first so a mailto-ish span is typed as an email, not swallowed
    by the url rule). Pure chained regexp_replace — narrow, no shuffle,
    dialect-portable patterns shared with the counters, so the redacted
    text is oracle-checkable byte-for-byte."""
    out = F.regexp_replace(col, EMAIL_PATTERN, "<EMAIL>")
    out = F.regexp_replace(out, URL_PATTERN, "<URL>")
    return F.regexp_replace(out, PHONE_PATTERN, "<PHONE>")


def line_filter(
    col: Column, min_words: int = 5, require_terminal: bool = True
) -> Column:
    """C4-style line-level cleanup: keep only lines with ≥ ``min_words``
    whitespace words and (optionally) a terminal-punctuation ending
    (``. ! ? "`` plus trailing spaces/tabs/CRs) — the boilerplate/
    navigation filter every web-text curation pipeline runs between
    document-level quality scoring and packing. Returns the re-joined
    text (kept lines, ``\\n``-separated — CRLF input normalizes to LF on
    the way through; no surviving line → empty string). Native split +
    filter + array_join lambdas — stays in codegen, and the rules are
    engine-portable: explicit whitespace classes, and the terminal anchor
    consumes trailing CRs with an explicit ``[ \\t\\r]*`` so ``$`` sits
    at true end-of-string under BOTH Java (bare ``$`` also matches before
    a final line terminator) and RE2 (it does not)."""
    lines = F.split(col, "\\r*\\n")

    def keep(x: Column) -> Column:
        nonempty = F.length(F.trim(x)) > 0
        words = F.size(F.split(F.trim(x), WS_SPLIT))
        ok = nonempty & (words >= min_words)
        if require_terminal:
            ok = ok & x.rlike('[.!?"][ \\t\\r]*$')
        return ok

    return F.array_join(F.filter(lines, keep), "\n")


def line_stats(col: Column) -> dict[str, Column]:
    """Gopher-style repetition signals over a multi-line document: line
    count, distinct-line count, duplicate-line ratio. Native split +
    array_distinct; the ratio is a single int/int IEEE division (exact
    cross-engine)."""
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    return {
        "n_lines": n_lines,
        "n_distinct_lines": n_distinct,
        "dup_line_ratio": F.when(
            n_lines > 0, (n_lines - n_distinct) / n_lines
        ).otherwise(F.lit(0.0)),
    }


def add_line_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, expr in line_stats(F.col(text_col)).items():
        out = out.withColumn(name, expr)
    return out


def fingerprint(col: Column, shingle_words: int = 8) -> Column:
    """Winnowing-style document fingerprint: the MIN md5 over the document's
    word 8-shingles (a 1-permutation MinHash — robust to small edits at the
    boundaries, unlike whole-text md5)."""
    from capelinker_spark.operators.dedup import word_shingles

    return F.array_min(
        F.transform(word_shingles(col, shingle_words), lambda s: F.md5(s))
    )


def content_hash(col: Column) -> Column:
    return F.md5(col)


def top_ngram_stats(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style WITHIN-document repetition: the fraction of a document's
    word ``n``-grams taken by its single most frequent n-gram (high →
    templated/spammy text; the within-doc counterpart of
    ``dedup.duplicate_span_stats``'s cross-doc signal).

    Returns ``(id, n_ngrams, top_ngram_count, top_ngram_fraction)``. Plan:
    explode ALL n-grams (duplicates kept) → one combine-able
    (doc, gram) count → one per-doc max + sum re-aggregation. Both
    aggregations are map-side combinable; the fraction is one int/int
    IEEE division (exact cross-engine)."""
    from capelinker_spark.operators.dedup import word_ngrams

    grams = df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_ngrams"),
        F.max("_c").alias("top_ngram_count"),
    )
    return per_doc.select(
        id_col,
        "n_ngrams",
        "top_ngram_count",
        (F.col("top_ngram_count") / F.col("n_ngrams")).alias(
            "top_ngram_fraction"
        ),
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus bigram-LM quality scoring — the CCNet/KenLM-style perplexity
    filter re-expressed exactly: a Laplace-smoothed word-bigram model is
    fit on the corpus itself (two combine-able count aggregations + one
    1-row vocab count), then every document is scored by its mean bigram
    log-probability (higher = more typical of the corpus; gibberish and
    boilerplate score low).

    Exactness recipe (the module convention): each bigram term
    ``ln((c12+1)/(c1+V))`` is rounded to 6 decimals FIRST and accumulated
    as DECIMAL(18,6) — an order-independent exact sum, immune to float
    summation order across partitions — and the mean is ONE final IEEE
    division. Returns ``(id, n_bigrams, mean_logprob)``; single-word
    documents score NULL (no bigrams)."""
    from capelinker_spark.operators.dedup import word_ngrams

    words = F.split(F.trim(F.col(text_col)), WS_SPLIT)
    docs = df.select(id_col, F.col(text_col))
    bigrams = docs.where(F.size(words) >= 2).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), 2)).alias("_bg")
    )
    c12 = bigrams.groupBy("_bg").agg(F.count("*").alias("_c12"))
    unigrams = docs.select(
        F.explode(F.slice(words, 1, F.size(words) - 1)).alias("_w1")
    )
    c1 = unigrams.groupBy("_w1").agg(F.count("*").alias("_c1"))
    # vocab size as a LAZY 1-row broadcast (the oracle's scalar subquery):
    # an eager .distinct().count() here would launch a full corpus scan at
    # plan-construction time, once per call (review finding r4 pass 2)
    vocab = docs.select(F.explode(words).alias("_w")).agg(
        F.count_distinct("_w").alias("_v")
    )

    term = F.round(
        F.log((F.col("_c12") + 1) / (F.col("_c1") + F.col("_v"))), 6
    ).cast("decimal(18,6)")
    scored = (
        bigrams.join(c12, "_bg")
        .withColumn("_w1", F.split(F.col("_bg"), " ").getItem(0))
        .join(c1, "_w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(term).alias("_lp"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        (F.col("_lp").cast("double") / F.col("n_bigrams")).alias(
            "mean_logprob"
        ),
    )


def collapse_repeated_lines(col: Column) -> Column:
    """Collapse CONSECUTIVE duplicate lines to one occurrence — the
    line-level repetition CLEANER (the act-on-it tier of
    ``add_line_stats``'s dup-line signal; scraped pages repeat nav/menu
    lines back-to-back). Lines split on ``\\r*\\n`` (CRLF-safe, the
    engine-wide dialect convention) and rejoin with ``\\n`` — a
    line-ending-NORMALIZED reconstruction. Non-adjacent repeats are kept
    (legitimate refrains); NULL passes through. One native higher-order
    filter, no shuffle, no Python."""
    lines = F.split(col, "\r*\n")
    kept = F.filter(
        lines,
        lambda x, i: (i == 0) | (x != F.element_at(lines, i)),
    )
    return F.array_join(kept, "\n")
