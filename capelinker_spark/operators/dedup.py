"""Document deduplication family for web-scale corpora.

Beyond the reference's record-linkage scope: the dedup operators a training-
data pipeline needs over the page/document tables, each expressed in pure
native Spark SQL (portable to a DuckDB oracle):

* exact dedup — md5 hash → groupBy → keep min id;
* MinHash + LSH — shingle → k min-wise hashes (md5-string min, one hash agg)
  → banded bucket join → exact n-gram Jaccard verification;
* SimHash — per-hex-position majority over token md5s → banded hamming join;
* n-gram Jaccard — exact set similarity on character n-grams (native array
  intersect/union).

All hashes are md5-based so every step is reproducible in ANSI-ish SQL
(the DuckDB oracle runs the same algorithm); no JVM-specific hash functions
leak into results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams (shingles) of a string, native."""
    length = F.length(col)
    return F.array_distinct(
        F.when(
            length >= n,
            F.transform(
                F.sequence(F.lit(1), length - (n - 1)),
                lambda i: col.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array(col))
    )


def word_ngrams(col: Column, n: int = 3) -> Column:
    """ALL word n-grams in order (duplicates kept — the occurrence-counting
    primitive for repetition/LM signals). Texts shorter than ``n`` words
    yield the whole text as one element."""
    from capelinker_spark.operators.textstats import WS_SPLIT

    words = F.split(F.trim(col), WS_SPLIT)
    k = F.size(words)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, native (split on whitespace)."""
    return F.array_distinct(word_ngrams(col, n))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id, content_hash) for every row; canonical_id =
    min id sharing the same md5(text). Filter canonical_id != doc_id for the
    duplicate set; groupBy canonical for the survivor set."""
    h = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    canon = h.groupBy("content_hash").agg(F.min(id_col).alias("canonical_id"))
    return h.join(canon, "content_hash").select(id_col, "canonical_id", "content_hash")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (the min-id row)."""
    dups = exact_duplicates(df, text_col, id_col)
    keep = dups.where(F.col(id_col) == F.col("canonical_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def minhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_words: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """k min-wise hashes per document: min(hash(seed || shingle)) over the
    distinct word shingles.

    ``hash_fn``:

    * ``"md5"`` (default) — min over lowercase-hex md5 strings: engine-
      portable ordering, so the DuckDB oracle reproduces signatures exactly
      (the correctness tier).
    * ``"xxhash64"`` — min over signed-long xxhash64 values: JVM-native and
      ~10× cheaper than 16 md5s per shingle; same min-wise family
      guarantee, NOT cross-engine reproducible (no DuckDB twin) — the
      production tier for 100-TB corpora, equivalence-of-behaviour locked
      by pytest (same near-dup pairs on the fixture corpus).

    Long-form plan: explode shingles → one hash aggregation computing all k
    mins (each shingle row hashed k times, ONCE — not k recomputations of
    the shingle array), with the groupBy shuffle providing parallelism
    regardless of input file partitioning. Downstream banding
    (lsh_candidate_pairs) is agnostic to the signature type."""
    exploded = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("_sh"),
    )
    if hash_fn == "md5":
        cols = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh")))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    elif hash_fn == "xxhash64":
        cols = [
            F.min(F.xxhash64(F.col("_sh"), F.lit(i))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")
    return exploded.groupBy(id_col).agg(*cols)


def _cap_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` (None = keep all).

    A bucket of N members contributes N² join pairs — one pathological key
    (N byte-identical boilerplate docs that escaped exact dedup) turns the
    banded join quadratic. The cap is the documented SCALING.md drop rule:
    members of an oversized bucket simply aren't paired THROUGH that bucket
    (they usually still meet in their other bands)."""
    if max_bucket_size is None:
        return banded
    sizes = banded.groupBy(*key_cols).agg(F.count("*").alias("_bsz"))
    return (
        banded.join(sizes.where(F.col("_bsz") <= max_bucket_size), key_cols)
        .drop("_bsz")
    )


def band_rows(
    mh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Signature table → ``(id, band, key)`` LSH bucket rows; key =
    md5 of the band's signature rows: deterministic per document, so the
    same signatures land in the same buckets in every run and partitioning
    (identical keys ⇒ identical candidate sets)."""
    rows = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("key"),
            )
        )
    return mh.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(
    mh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join: pairs agreeing on ≥1 full band.
    Returns (id_a, id_b) with id_a < id_b. The band join is the classic LSH
    shuffle: key = (band_index, md5(concat of the band's rows)).

    Run ``dedup_exact`` FIRST: byte-identical documents share every band, so
    a cluster of N exact copies makes an N²-pair bucket the verify stage must
    then chew through. ``max_bucket_size`` additionally caps any residual
    mega-bucket (see _cap_buckets)."""
    banded = band_rows(mh, id_col, num_hashes, bands)
    banded = _cap_buckets(banded, ["band", "key"], max_bucket_size)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two shingle arrays, native."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → band join → exact
    Jaccard verify ≥ threshold. Returns (id_a, id_b, jaccard).

    At corpus scale, run ``dedup_exact`` first (one line) — exact copies
    otherwise inflate every shared band quadratically — set
    ``max_bucket_size`` as a belt-and-braces cap, and use
    ``hash_fn="xxhash64"`` (JVM-native signatures, ~10× cheaper than md5;
    see minhash_table)."""
    mh = minhash_table(df, text_col, id_col, num_hashes, shingle_words, hash_fn)
    cand = lsh_candidate_pairs(mh, id_col, num_hashes, bands, max_bucket_size)
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_words).alias("_sh")
    )
    return (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")), "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("_sa"), F.col("_sb")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash over word tokens: bit i = majority of tokens whose md5 hex
    digit i has its high bit set. Emitted as a '0'/'1' string of length
    ``bits`` (≤32, one md5 hex digit per bit) — engine-portable, no int
    conversion needed."""
    assert bits <= 32
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), "[ \\t\\n\\r\\f\\x0b]+")).alias("_tok"),
    ).withColumn("_h", F.md5(F.col("_tok")))
    bit_exprs = [
        F.when(
            F.avg(F.substring(F.col("_h"), i + 1, 1).isin(*_HEX_HIGH).cast("double"))
            > 0.5,
            F.lit("1"),
        )
        .otherwise(F.lit("0"))
        .alias(f"_b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_exprs)
    return agg.select(
        F.col(id_col), F.concat(*[F.col(f"_b{i}") for i in range(bits)]).alias("simhash")
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between equal-length bit strings, native."""
    return F.aggregate(
        F.zip_with(
            F.split(a, ""), F.split(b, ""), lambda x, y: (x != y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded hamming join: split the simhash into ``chunks`` substrings —
    any pair with hamming ≤ chunks-1 agrees on ≥1 chunk (pigeonhole) — then
    verify exact hamming ≤ max_hamming. Returns (id_a, id_b, hamming).

    Run ``dedup_exact`` upstream and/or set ``max_bucket_size`` at corpus
    scale (identical docs share every chunk → quadratic buckets)."""
    sh = simhash(df, text_col, id_col, bits)
    width = bits // chunks
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.substring(F.col("simhash"), c * width + 1, width).alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    banded = _cap_buckets(banded, ["chunk", "key"], max_bucket_size)
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"), "chunk", "key")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"), "chunk", "key")
    return (
        a.join(b, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming(F.col("_sa"), F.col("_sb")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def near_duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs → transitive clusters → canonical doc per cluster
    (min id, the same deterministic tie-break as exact_duplicates). Every
    input doc is retained: members of a near-dup component map to the
    component's min id, singletons map to themselves — the standard
    corpus-dedup shape (keep one representative per near-dup cluster,
    ``df.where(doc_id == canonical_id)`` downstream).

    Jaccard is a single IEEE division of exact intersection/union counts,
    so the ≥ threshold edge set is engine-reproducible unrounded."""
    from capelinker_spark.operators.cluster import connected_components

    pairs = minhash_near_duplicates(
        df, text_col, id_col, threshold, num_hashes, bands,
        shingle_words, max_bucket_size, hash_fn,
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        df.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
        )
    )


def flag_contaminated(
    docs: DataFrame,
    contamination: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    contam_text_col: str = "text",
    out: str = "contaminated",
) -> DataFrame:
    """Benchmark decontamination: mark every document sharing ANY word
    ``n``-gram with the ``contamination`` set (eval benchmarks, held-out
    test sets) — the standard pretraining hygiene step (n=8..13 in
    published recipes; overlap at that length is essentially never
    coincidence).

    Scale shape: the contamination set is tiny next to the corpus
    (benchmarks are MBs against TBs), so its distinct n-grams BROADCAST;
    the corpus side explodes shingles and probes the broadcast hash —
    a narrow map + broadcast semi-join, no corpus shuffle. The only
    shuffled data is the matched doc-id set (≈ the contaminated docs).
    Returns ``docs`` + boolean ``out``; filter ``~out`` for the clean
    corpus. Shingles are the same ``word_shingles`` the MinHash family
    uses, so the SQL oracle shares one shingle definition."""
    grams = (
        contamination.select(
            F.explode(word_shingles(F.col(contam_text_col), n)).alias("_g")
        )
        .distinct()
    )
    hits = (
        docs.select(id_col, F.explode(word_shingles(F.col(text_col), n)).alias("_g"))
        .join(F.broadcast(grams), "_g", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn(out, F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-span fraction — the suffix-array-free
    approximation of substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): for each document, the share of
    its distinct word ``n``-grams that also occur in at least one OTHER
    document. High ratio → boilerplate/templated/near-copied content that
    exact and MinHash dedup (whole-document granularity) both miss.

    Returns ``(id, n_grams, n_shared, dup_span_ratio)``. Plan shape: ONE
    shuffle of the exploded gram table (window over the gram key computes
    the min≠max ≥2-distinct-docs test in place — an agg+join-back
    formulation would shuffle the same big table twice more and recompute
    the explode), then one per-doc hash aggregation. Heavy-tail grams
    (the shared ones) carry only a min/max pair per partition, never a
    doc list. The ratio is one int/int IEEE division (exact
    cross-engine)."""
    from pyspark.sql import Window

    grams = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("_g")
    )
    # a gram is SHARED iff it appears in ≥2 distinct docs; min!=max over
    # the gram window is that test without an exact distinct count
    w = Window.partitionBy("_g")
    flagged = grams.withColumn(
        "_shared",
        (F.min(id_col).over(w) != F.max(id_col).over(w)).cast("long"),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum("_shared").alias("n_shared"),
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_shared",
        (F.col("n_shared") / F.col("n_grams")).alias("dup_span_ratio"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """The ACTION tier of ``duplicate_span_stats`` (round-4 verdict item 6):
    remove cross-document duplicated spans from the text, Lee-et-al
    substring-dedup semantics at word granularity. A word is REMOVED iff it
    is covered by at least one word ``n``-gram that also occurs in ≥2
    distinct documents (so every copy loses the shared span, including the
    first — boilerplate has no canonical owner). Documents shorter than
    ``n`` words are left whole (whole-document duplication is exact-dedup's
    job, `exact_duplicates`).

    Returns ``(id, clean_text, n_words, n_removed)``. ``clean_text`` is the
    kept words joined by single spaces — a whitespace-NORMALIZED
    reconstruction, byte-reproducible cross-engine (and by the DuckDB
    oracle), not a byte-slice of the original.

    Plan shape (mirrors dd8's choices): positional grams explode once and
    shuffle ONCE for the per-gram window (min≠max over the gram key is the
    ≥2-distinct-docs test — no per-gram doc lists, heavy-tail boilerplate
    grams carry two ids); shared-gram start offsets aggregate per doc
    (bounded by that doc's own length) and join back onto the narrow doc
    table; the rebuild is a native higher-order filter — zero Python. The
    per-word coverage test scans the doc's shared-start array (O(W·S)
    worst case within one row, JVM-side)."""
    base = _word_base(docs, text_col, id_col, passthrough)
    grams = _positional_grams(base, n, id_col)

    from pyspark.sql import Window

    w = Window.partitionBy("_g")
    shared_starts = (
        grams.withColumn(
            "_shared", F.min(id_col).over(w) != F.max(id_col).over(w)
        )
        .where("_shared")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_start")).alias("_starts"))
    )
    return _rebuild_minus_starts(base, shared_starts, n, id_col, passthrough)


def _word_base(
    docs: DataFrame, text_col: str, id_col: str, passthrough: tuple = ()
) -> DataFrame:
    """(id, _ws) word arrays; NULL text ≡ empty EXPLICITLY (without the
    isNull arm the length() predicate is NULL, the otherwise-branch splits
    NULL and clean_text goes NULL on Spark while the oracle coalesces to
    '' — round-5 review finding 4)."""
    from capelinker_spark.operators.textstats import WS_SPLIT

    text = F.col(text_col)
    words = F.when(
        text.isNull() | (F.length(F.trim(text)) == 0),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(text), WS_SPLIT))
    return docs.select(F.col(id_col), *passthrough, words.alias("_ws"))


def _positional_grams(base: DataFrame, n: int, id_col: str) -> DataFrame:
    """(id, _start, _g): every word n-gram with its 0-based start offset;
    docs shorter than n words yield none."""
    k = F.size("_ws")
    return base.select(
        F.col(id_col),
        F.explode(
            F.when(
                k >= n,
                F.transform(
                    F.sequence(F.lit(0), k - n),
                    lambda i: F.struct(
                        i.alias("_start"),
                        F.array_join(F.slice("_ws", i + 1, n), " ").alias("_g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<_start:int,_g:string>>"))
        ).alias("_u"),
    ).select(id_col, "_u._start", "_u._g")


def _rebuild_minus_starts(
    base: DataFrame, starts_per_doc: DataFrame, n: int, id_col: str,
    passthrough: tuple = (),
) -> DataFrame:
    """Drop every word covered by an n-gram starting at one of the doc's
    ``_starts`` offsets; rejoin with single spaces. The per-word coverage
    test scans the doc's start array (O(W·S) worst case within one row,
    JVM-side, native higher-order filter — zero Python). LONG counts: the
    DuckDB oracles' len() is BIGINT and the driver hash is dtype-strict."""
    rebuilt = base.join(starts_per_doc, id_col, "left").withColumn(
        "_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        "_ws",
        lambda x, i: ~F.exists(
            "_starts", lambda s: (s >= i - (n - 1)) & (s <= i)
        ),
    )
    return rebuilt.select(
        F.col(id_col),
        *passthrough,
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_ws").cast("long").alias("n_words"),
        (F.size("_ws") - F.size(kept)).cast("long").alias("n_removed"),
    )


def remove_contaminated_spans(
    docs: DataFrame,
    contamination: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    contam_text_col: str = "text",
    passthrough: tuple = (),
) -> DataFrame:
    """Span-level benchmark decontamination — the ACTION tier of
    ``flag_contaminated``: instead of DROPPING every document sharing an
    n-gram with the evaluation set (dd7's flag), remove ONLY the words
    covered by a contaminated n-gram and keep the rest of the document
    (the surgical variant used when eval snippets are quoted inside
    otherwise-good pages).

    Returns ``(id, clean_text, n_words, n_removed)`` with the same
    rebuild semantics as ``remove_duplicate_spans`` (whitespace-
    normalized, NULL ≡ empty, sub-``n``-word docs untouched).

    Plan shape: CHEAPER than dd9 — the contamination n-gram set is
    eval-benchmark-sized, so it BROADCASTS, and the corpus's positional
    gram table probes it with a broadcast semi-join: the corpus never
    shuffles on the gram key at all (dd7's plan property, kept); the only
    corpus-keyed exchange is the per-doc start aggregation."""
    base = _word_base(docs, text_col, id_col, passthrough)
    grams = _positional_grams(base, n, id_col)
    contam = (
        contamination.select(
            F.explode(
                word_shingles(F.col(contam_text_col), n)
            ).alias("_g")
        )
        .distinct()
    )
    starts = (
        grams.join(F.broadcast(contam), "_g", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_start")).alias("_starts"))
    )
    return _rebuild_minus_starts(base, starts, n, id_col, passthrough)


def remove_duplicate_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """Cross-document EXACT-paragraph dedup — the MassiveText/C4
    granularity between whole-document dedup (`exact_duplicates`) and
    n-gram span removal (`remove_duplicate_spans`): a paragraph
    (``\\n\\n``-separated block) that appears byte-identically in ≥2
    distinct documents is removed from EVERY copy (boilerplate headers,
    nav blocks, license footers have no canonical owner).

    Returns ``(id, clean_text, n_paras, n_removed)``. ``clean_text`` is
    the kept paragraphs rejoined with ``\\n\\n`` in original order;
    whitespace-only paragraphs are dropped in the rebuild (so runs of
    blank lines normalize away); NULL text ≡ empty. ``n_paras`` counts
    only non-whitespace paragraphs — ``n_removed`` is how many of those
    were shared.

    Plan shape: one shuffle of the exploded paragraph table (window over
    the paragraph value; the ≥2-distinct-docs test is min≠max — two id
    counters per paragraph even for the hottest boilerplate block, never
    a doc list), then one per-doc aggregation rebuilding the text from
    position-sorted kept paragraphs (bounded by each doc's own size).
    Zero Python."""
    from pyspark.sql import Window

    text = F.col(text_col)
    paras = F.when(
        text.isNull(), F.array().cast("array<string>")
    ).otherwise(F.split(text, "\n\n"))

    p = docs.select(F.col(id_col), F.posexplode(paras).alias("_pos", "_p"))
    p = p.where(F.length(F.trim("_p")) > 0)
    w = Window.partitionBy("_p")
    flagged = p.withColumn(
        "_shared", F.min(id_col).over(w) != F.max(id_col).over(w)
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.col("_shared").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_shared"),
                            F.struct(F.col("_pos"), F.col("_p")),
                        )
                    )
                ),
                lambda x: x["_p"],
            ),
            "\n\n",
        ).alias("clean_text"),
    )
    return (
        docs.select(id_col, *passthrough)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            *passthrough,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras", F.lit(0).cast("long")).alias("n_paras"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
        )
    )


def dedup_lines_global(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: tuple = (),
) -> DataFrame:
    """Corpus-global line dedup with KEEP-FIRST semantics — the C4
    recipe (Raffel et al.: any line occurring more than once in the
    corpus is removed "except for one"): every occurrence of a line is
    dropped EXCEPT the one at the minimal ``(doc id, position)``, so
    boilerplate keeps exactly one canonical copy. The remove-EVERY-copy
    counterpart at paragraph granularity is
    ``remove_duplicate_paragraphs``; repeated lines WITHIN one document
    also collapse to their first occurrence here (the within-doc-only
    variant is ``textstats.collapse_repeated_lines``).

    Returns ``(id, clean_text, n_lines, n_removed)`` for every input
    doc: ``clean_text`` rejoins the kept lines with ``\\n`` in original
    order; whitespace-only lines are dropped in the rebuild (runs of
    blank lines normalize away); NULL text ≡ empty. ``n_lines`` counts
    non-whitespace lines.

    Plan shape: the exploded line table shuffles ONCE (two stacked
    window aggregates over the SAME line-value partitioning — min doc
    id, then min position within that doc — so the second adds no
    exchange; no per-line doc lists, the hottest boilerplate line
    carries two accumulators), then one per-doc rebuild bounded by each
    doc's own size. Zero Python."""
    from pyspark.sql import Window

    text = F.col(text_col)
    lines = F.when(
        text.isNull(), F.array().cast("array<string>")
    ).otherwise(F.split(text, "\n"))

    p = docs.select(
        F.col(id_col), F.posexplode(lines).alias("_pos", "_l")
    ).where(F.length(F.trim("_l")) > 0)
    w = Window.partitionBy("_l")
    p1 = p.withColumn("_m1", F.min(id_col).over(w))
    # nested-window rule: _m1 must materialize before it can feed the
    # second aggregate; same partition key -> Catalyst stacks the two
    # WindowExecs on one Exchange
    p2 = p1.withColumn(
        "_mpos",
        F.min(F.when(F.col(id_col) == F.col("_m1"), F.col("_pos"))).over(w),
    )
    flagged = p2.withColumn(
        "_keep",
        (F.col(id_col) == F.col("_m1")) & (F.col("_pos") == F.col("_mpos")),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("_pos"), F.col("_l")),
                        )
                    )
                ),
                lambda x: x["_l"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        docs.select(id_col, *passthrough)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            *passthrough,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
        )
    )
