"""Blocking-key builders and skew tooling.

The reference's blocking is a dense all-pairs similarity matrix
(R/candidates.R:65-116) — impossible at web scale. Here blocking is a family
of derived equi-join keys + explicit skew handling:

* soundex key (blocktype "soundex", R/candidates.R:113-116) — native
  ``F.soundex``;
* first-letter key (the vignette's A–L subsetting trick,
  vignettes/example.rmd:119-121, generalized);
* sorted-neighborhood (the classic scale analog of the reference's
  "sort by blockvariable" labeling order, R/label.R:55);
* banded numeric key for the Gaussian-kernel blocktype (R/candidates.R:74-81);
* character-bigram explosion for the (idf-)bigram-cosine blocktypes
  (R/candidates.R:82-112), long-form ``(string, bigram, cnt)``;
* salting: deterministic salt columns to defuse mega-blocks (the BOTHA
  problem — ``namefreq`` max 1606 in the reference's stel data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def first_letter_key(col: Column) -> Column:
    return F.substring(col, 1, 1)


def numeric_band_key(col: Column, width: float) -> Column:
    """Bucket key for banded numeric blocking: floor(x / width)."""
    return F.floor(col / F.lit(float(width))).cast("long")


def explode_neighbor_bands(df: DataFrame, key_col: str, out: str = "_band") -> DataFrame:
    """Replicate each row into its bucket and the two neighbors, so a plain
    equi-join on ``out`` sees every pair within one band width. 3× one side
    instead of a range join — a shuffle Catalyst can hash-partition."""
    return df.withColumn(
        out, F.explode(F.array(F.col(key_col) - 1, F.col(key_col), F.col(key_col) + 1))
    )


def bigrams(col: Column, boundary: str = "#") -> Column:
    """Boundary-padded character bigrams as an array, replicating
    qlcMatrix::splitStrings(boundary=TRUE, '#') (R/candidates.R:83-87):
    '#jong#' → ['#j','jo','on','ng','g#']. NULL → NULL; '' → ['##']."""
    padded = F.concat(F.lit(boundary), col, F.lit(boundary))
    n = F.length(padded) - 1
    return F.transform(F.sequence(F.lit(1), n), lambda i: padded.substr(i, F.lit(2)))


def bigram_counts(df: DataFrame, str_col: str) -> DataFrame:
    """Long-form bigram count vectors over the DISTINCT strings of ``str_col``
    (dedup-before-expensive-op, R/util.R:146-148): (string, bigram, cnt, norm2).

    ``_cnt`` and ``_norm2`` (= Σ cnt², the squared L2 norm) are EXACT LONGS so
    every downstream cosine can be computed as ``dot / (sqrt(n2f)·sqrt(n2t))``
    from integer inputs — bit-identical across engines (IEEE sqrt/mul/div are
    correctly rounded), which is what keeps the driver's value-hash green.
    """
    distinct = df.select(F.col(str_col).alias("_s")).where(F.col("_s").isNotNull()).distinct()
    exploded = distinct.select("_s", F.explode(bigrams(F.col("_s"))).alias("_bg"))
    counts = exploded.groupBy("_s", "_bg").agg(F.count("*").alias("_cnt"))
    norms = counts.groupBy("_s").agg(F.sum(F.col("_cnt") * F.col("_cnt")).alias("_norm2"))
    return counts.join(norms, "_s")


def add_salt(df: DataFrame, id_col: str, n: int, out: str = "_salt") -> Column:
    """Deterministic salt in [0, n) from the row id (NOT rand(): resumable)."""
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)).cast("int"))


def explode_salt(df: DataFrame, n: int, out: str = "_salt") -> DataFrame:
    """Replicate each row once per salt value — the broadcast-free side of a
    salted equi-join (north rule: salted repartition-by-key)."""
    return df.withColumn(
        out, F.explode(F.sequence(F.lit(0), F.lit(n - 1)).cast("array<int>"))
    )


def auto_salt_count(
    lhs_keyed: DataFrame,
    rhs_keyed: DataFrame,
    key_col: str = "_k",
    target_pairs: int = 10_000_000,
    max_salt: int = 1024,
) -> int:
    """Derive the salt count from the OBSERVED key histogram instead of a
    fixed constant (SCALING.md "what changes on a real cluster" #4; north
    rule: salted repartition-by-key to defuse skew).

    The hottest reducer of an unsalted equi-join processes the block with
    the largest nf·nt pair product, so salt = ceil(max_k(nf·nt) /
    target_pairs), clamped to [1, max_salt]. Cost: two key-count aggs + a
    join on distinct keys + a 1-row collect — bounded driver-side, cheap
    relative to the pair generation it sizes."""
    import math

    nf = lhs_keyed.groupBy(key_col).agg(F.count("*").alias("_nf"))
    nt = rhs_keyed.groupBy(key_col).agg(F.count("*").alias("_nt"))
    row = (
        nf.join(nt, key_col)
        .agg(F.max(F.col("_nf") * F.col("_nt")).alias("_m"))
        .collect()[0]
    )
    m = row["_m"] or 0
    return max(1, min(max_salt, math.ceil(m / target_pairs)))


def sorted_neighborhood_pairs(
    df_from: DataFrame,
    df_to: DataFrame,
    key: str,
    id_from: str,
    id_to: str,
    window: int = 5,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Sorted-neighborhood blocking: global sort of both sides' keys merged,
    pair rows within ``window`` positions.

    Implemented as: union with side tags → global position by key via a
    RANGE-PARTITIONED sort + per-partition row_number + cumulative partition
    offsets (the classic distributed zipWithIndex) → bucket join on
    floor(pos/window) ±1 → exact |Δpos| ≤ window filter.

    A plain ``Window.orderBy`` with no partitionBy would funnel the whole
    table through ONE task (Exchange SinglePartition) — the round-1 plan
    audit's scale-killer. Here every step is parallel: the
    cross-partition offsets cumulate through a bounded triangular join
    over one count per partition (≤ shuffle-partitions rows), the
    per-partition window runs on already-sorted data, and the offset and
    position passes see identical range boundaries by sharing one
    checkpointed range exchange (``packing._range_offsets``, the same
    scaffold as ``assign_packed_sequences``). ``reliable_checkpoint=True``
    checkpoints to the reliable checkpoint dir instead of executor-local
    blocks. Returns (id_from, id_to).
    """
    from pyspark.sql import Window

    from capelinker_spark.operators.packing import _range_offsets

    a = df_from.select(F.col(id_from).alias("_id"), F.col(key).alias("_k")).withColumn(
        "_side", F.lit("f")
    )
    b = df_to.select(F.col(id_to).alias("_id"), F.col(key).alias("_k")).withColumn(
        "_side", F.lit("t")
    )
    u = a.unionByName(b).where(F.col("_k").isNotNull())
    # deterministic total order: key, then side, then id
    order = ["_k", "_side", "_id"]
    w = Window.partitionBy("_pid").orderBy(*order)
    pos = (
        _range_offsets(u, order, F.count("*"), reliable_checkpoint)
        .withColumn("_pos", F.col("_off") + F.row_number().over(w))
        .drop("_pid", "_off")
    )
    lhs = pos.where(F.col("_side") == "f").select(
        F.col("_id").alias("id_from"), F.col("_pos").alias("_pf")
    )
    rhs = pos.where(F.col("_side") == "t").select(
        F.col("_id").alias("id_to"), F.col("_pos").alias("_pt")
    )
    lhs = explode_neighbor_bands(
        lhs.withColumn("_bf", (F.col("_pf") / window).cast("long")), "_bf", "_band"
    )
    rhs = rhs.withColumn("_band", (F.col("_pt") / window).cast("long"))
    return (
        lhs.join(rhs, "_band")
        .where(F.abs(F.col("_pf") - F.col("_pt")) <= window)
        .select("id_from", "id_to")
        .distinct()
    )


def deletion_variants(col: Column) -> Column:
    """Array of the string itself plus every single-character-deletion
    variant (the SymSpell / FastSS key set): 'abc' → ['abc','bc','ac','ab'].
    Duplicate variants from repeated characters are removed ('aab' yields
    'ab' once). NULL → NULL; '' → ['']."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(col)),
            lambda i: F.when(i == F.lit(0), col).otherwise(
                F.concat(
                    col.substr(F.lit(1), i - 1),
                    col.substr(i + 1, F.length(col) - i),
                )
            ),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str = "id",
    max_dist: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` (currently 1)
    via deletion-neighborhood blocking (FastSS, Bocek et al. 2007 /
    SymSpell) — the scalable alternative to the reference's dense
    stringdist matrix (R/candidates.R:65-116) when the predicate is a
    small edit bound rather than a similarity threshold.

    Completeness: lev(a,b) ≤ 1 implies a and b share a member of
    {s} ∪ deletes₁(s) — equality shares the string itself, an
    insertion/deletion shares the shorter string, a substitution shares
    the common deletion at the edited position — so an equi-join on the
    variant key finds every true pair. The converse fails ('ab'/'ba'
    share a delete at distance 2), so every candidate is verified with
    the exact native ``F.levenshtein`` before it is emitted: the output
    is EXACT, the blocking only bounds the work.

    Plan shape: per-row fan-out is length+1 variant keys; keys travel as
    ``xxhash64`` LONGS so the candidate shuffle carries (id, 8-byte key)
    instead of near-duplicate strings (hash collisions are harmless —
    the verification filter sees the real strings). One equi-self-join
    on the key, one distinct on verified pairs. ``max_bucket_size``
    drops hotter variant keys first (mega-bucket cap, same contract as
    the LSH joins — output becomes approximate and the cap must be
    disclosed). Returns ``(id_from, id_to, dist)`` with id_from < id_to,
    dist the exact Levenshtein distance ≤ ``max_dist``.

    Why not distance k>1: deletion neighborhoods of order k fan out
    O(len^k) keys per row; at k=2 the right tool is the q-gram
    count-filter join — out of scope here, ``max_dist=1`` is asserted.
    """
    if max_dist != 1:
        raise ValueError("edit_distance_pairs supports max_dist=1 only")
    base = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s")
    ).where(F.col("_s").isNotNull())
    keyed = base.select(
        "_id",
        F.explode(deletion_variants(F.col("_s"))).alias("_v"),
    ).select("_id", F.xxhash64(F.col("_v")).alias("_k"))
    if max_bucket_size is not None:
        sizes = keyed.groupBy("_k").agg(F.count("*").alias("_bsz"))
        keyed = keyed.join(
            sizes.where(F.col("_bsz") <= max_bucket_size), "_k"
        ).drop("_bsz")
    l = keyed.select(F.col("_id").alias("id_from"), "_k")
    r = keyed.select(F.col("_id").alias("id_to"), "_k")
    cand = (
        l.join(r, "_k")
        .where(F.col("id_from") < F.col("id_to"))
        .select("id_from", "id_to")
        .distinct()
    )
    # strings re-attach AFTER the key shuffle + distinct, so the (len+1)-way
    # variant fan-out really does travel as (id, 8-byte key) rows — the
    # documented plan shape (carrying _s through the explode would shuffle
    # len+1 copies of every string)
    a = base.select(F.col("_id").alias("id_from"), F.col("_s").alias("_sf"))
    b = base.select(F.col("_id").alias("id_to"), F.col("_s").alias("_st"))
    return (
        cand.join(a, "id_from")
        .join(b, "id_to")
        .withColumn("dist", F.levenshtein(F.col("_sf"), F.col("_st")))
        .where(F.col("dist") <= max_dist)
        .select("id_from", "id_to", "dist")
    )


def _deletion_variants_depth(col: Column, k: int) -> Column:
    """All strings reachable from ``col`` by deleting ≤ k characters
    (depth-k deletion neighborhood, duplicates removed). Built by
    composing ``deletion_variants`` k times — each application already
    includes the string itself, so depth d covers every depth < d."""
    out = deletion_variants(col)
    for _ in range(k - 1):
        out = F.array_distinct(
            F.flatten(F.transform(out, lambda v: deletion_variants(v)))
        )
    return out


def qgram_edit_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str = "id",
    max_dist: int = 2,
    q: int = 2,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` via the
    positional q-gram count filter (Gravano et al., VLDB 2001) — the
    scale path ``edit_distance_pairs`` points to for edit bounds > 1,
    and the distributed replacement for the reference's dense
    stringdist matrix (R/candidates.R:65-116) under an edit-bound
    predicate.

    Two complete candidate tiers, both plain equi-joins:

    * **gram tier** — each string emits its positional q-grams
      ``(gram, pos)``; one self-equi-join on the gram (position offset
      ≤ k enforced as a post-join filter), then a per-pair match count.
      One edit destroys ≤ q grams, so ed(a,b) ≤ k implies the pair
      shares ≥ max(|a|,|b|) − q + 1 − k·q positional grams; pairs are
      kept when count ≥ max(that bound, 1). Join-match counts can only
      overcount a true 1-1 gram matching, so no true pair is lost.
    * **short tier** — for strings where the bound is vacuous
      (max(|a|,|b|) ≤ q − 1 + k·q, e.g. ≤ 5 chars at q=2,k=2) the gram
      filter cannot prune, so short strings instead join on their
      depth-k deletion neighborhood (ed(a,b) ≤ k ⟹ some common string
      is reachable by ≤ k deletions from each — FastSS, Bocek et al.
      2007). Fan-out is Σ_{i≤k} C(len,i) keys/row, bounded because the
      tier only ever sees short strings. A true pair with one long
      member always has max length over the bound and both members
      ≥ q chars, so the gram tier covers every pair the short tier
      does not.

    Every candidate from either tier is verified with the exact native
    ``F.levenshtein`` — the output is EXACT; blocking only bounds work.

    Skew: positional keys travel as ``xxhash64(gram)`` longs.
    ``max_gram_freq`` drops grams occurring in more rows than the cap
    (stop-grams — the classic hot keys like ``'th'``). Dropping grams
    weakens the count bound, so a non-None cap makes the result
    APPROXIMATE and must be disclosed, exactly like
    ``max_bucket_size`` on the LSH joins.

    Returns ``(id_from, id_to, dist)`` with id_from < id_to.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    k = max_dist
    short_bound = q - 1 + k * q
    base = df.select(
        F.col(id_col).alias("_id"), F.col(str_col).alias("_s")
    ).where(F.col("_s").isNotNull())

    # --- gram tier: strings of length >= q emit positional grams ------
    def _pos_grams(b):
        return b.where(F.length("_s") >= q).select(
            "_id",
            F.length("_s").alias("_len"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.length("_s") - (q - 1)),
                    lambda i: F.col("_s").substr(i, F.lit(q)),
                )
            ).alias("_pos", "_gram"),
        ).select("_id", "_len", "_pos", F.xxhash64("_gram").alias("_k"))

    g = _pos_grams(base)
    if max_gram_freq is not None:
        freq = g.groupBy("_k").agg(
            F.count_distinct("_id").alias("_rows")
        )
        g = g.join(freq.where(F.col("_rows") <= max_gram_freq), "_k").drop(
            "_rows"
        )
    gl = g.select(
        F.col("_id").alias("id_from"),
        F.col("_len").alias("_la"),
        F.col("_pos").alias("_pa"),
        "_k",
    )
    gr = g.select(
        F.col("_id").alias("id_to"),
        F.col("_len").alias("_lb"),
        F.col("_pos").alias("_pb"),
        "_k",
    )
    gram_cand = (
        gl.join(gr, "_k")
        .where(
            (F.col("id_from") < F.col("id_to"))
            & (F.abs(F.col("_pa") - F.col("_pb")) <= k)
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
        )
        .groupBy("id_from", "id_to", "_la", "_lb")
        .agg(F.count("*").alias("_matches"))
        .where(
            F.col("_matches")
            >= F.greatest(
                F.greatest("_la", "_lb") - F.lit(q - 1) - F.lit(k * q),
                F.lit(1),
            )
        )
        .select("id_from", "id_to")
    )

    # --- short tier: depth-k deletion neighborhood ---------------------
    short = base.where(F.length("_s") <= short_bound)
    sk = short.select(
        "_id",
        F.explode(_deletion_variants_depth(F.col("_s"), k)).alias("_v"),
    ).select("_id", F.xxhash64("_v").alias("_k"))
    short_cand = (
        sk.select(F.col("_id").alias("id_from"), "_k")
        .join(sk.select(F.col("_id").alias("id_to"), "_k"), "_k")
        .where(F.col("id_from") < F.col("id_to"))
        .select("id_from", "id_to")
        .distinct()
    )

    cand = gram_cand.unionByName(short_cand).distinct()
    a = base.select(F.col("_id").alias("id_from"), F.col("_s").alias("_sa"))
    b = base.select(F.col("_id").alias("id_to"), F.col("_s").alias("_sb"))
    return (
        cand.join(a, "id_from")
        .join(b, "id_to")
        .withColumn("dist", F.levenshtein(F.col("_sa"), F.col("_sb")))
        .where(F.col("dist") <= max_dist)
        .select("id_from", "id_to", "dist")
    )


def metablock_candidates(
    records: DataFrame,
    keys: Column,
    id_col: str = "id",
    max_block_size: int = None,
    top_r_blocks: int = None,
    weight: str = "cbs",
    prune: str = "wep",
) -> DataFrame:
    """Meta-blocking (Papadakis et al., TKDE 2013): turn a redundant
    multi-key blocking collection into a pruned candidate-pair graph.
    The webtext-ER scale path — dirty corpora produce mega-blocks
    (stopword tokens) and redundant pairs (entities co-occurring in many
    blocks); meta-blocking removes both WITHOUT comparing any records.

    Stages (each a narrow DataFrame op over the (id, key) table):

    1. **Block building**: ``keys`` is an array column of blocking keys
       per record (token / q-gram / derived keys) — exploded long.
    2. **Block purging**: drop blocks larger than ``max_block_size``
       (mega-block skew kill: a 10⁶-record block would emit 10¹² pairs)
       and singleton blocks (generate no pairs).
    3. **Block filtering**: each record keeps only its ``top_r_blocks``
       SMALLEST blocks (most selective; ties break on key for
       determinism) — the standard redundancy cut.
    4. **Edge weighting**: candidate pairs from the per-key self-join,
       weighted by CBS (count of common blocks) or JS (Jaccard of the
       two records' retained block sets).
    5. **Weight-edge pruning** (``prune='wep'``): keep pairs with weight
       ≥ the global mean weight (a lazy 1-row scalar — nothing
       collects); ``prune='none'`` keeps all weighted pairs.

    Returns ``(id_from, id_to, weight)`` with ``id_from < id_to``.

    Plan shape: shuffles are (a) the key-table window for filtering
    (partition by id), (b) the self-join on key — whose per-key fan-out
    is CAPPED by purging at max_block_size², and (c) the pair
    aggregation. No record payloads travel — ids and keys only."""
    from pyspark.sql import Window

    bt = records.select(F.col(id_col).alias("_id"), F.explode(keys).alias("_key"))
    sizes = bt.groupBy("_key").agg(F.count("*").alias("_bsz"))
    if max_block_size is not None:
        sizes = sizes.where(F.col("_bsz") <= max_block_size)
    sizes = sizes.where(F.col("_bsz") >= 2)
    bt = bt.join(sizes, "_key")
    if top_r_blocks is not None:
        w = Window.partitionBy("_id").orderBy(F.asc("_bsz"), F.asc("_key"))
        bt = (
            bt.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= top_r_blocks)
            .drop("_rn")
        )
    bt = bt.select("_id", "_key")

    l = bt.select(F.col("_id").alias("id_from"), "_key")
    r = bt.select(F.col("_id").alias("id_to"), "_key")
    pairs = (
        l.join(r, "_key")
        .where(F.col("id_from") < F.col("id_to"))
        .groupBy("id_from", "id_to")
        .agg(F.count("*").cast("long").alias("_cbs"))
    )
    if weight == "cbs":
        pairs = pairs.withColumn("weight", F.col("_cbs").cast("double"))
    elif weight == "js":
        nb = bt.groupBy("_id").agg(F.count("*").cast("long").alias("_nb"))
        pairs = (
            pairs.join(nb.withColumnRenamed("_id", "id_from"), "id_from")
            .withColumnRenamed("_nb", "_nbf")
            .join(nb.withColumnRenamed("_id", "id_to"), "id_to")
            .withColumnRenamed("_nb", "_nbt")
            .withColumn(
                "weight",
                F.round(
                    F.col("_cbs")
                    / (F.col("_nbf") + F.col("_nbt") - F.col("_cbs")).cast(
                        "double"
                    ),
                    6,
                ),
            )
            .drop("_nbf", "_nbt")
        )
    else:
        raise ValueError(f"unknown weight scheme {weight!r}")
    pairs = pairs.drop("_cbs")

    if prune == "wep":
        mean_w = F.broadcast(pairs.agg(F.avg("weight").alias("_mw")))
        pairs = pairs.crossJoin(mean_w).where(
            F.col("weight") >= F.col("_mw")
        ).drop("_mw")
    elif prune != "none":
        raise ValueError(f"unknown prune scheme {prune!r}")
    return pairs.select("id_from", "id_to", "weight")


def blocking_rule_coverage(
    records: DataFrame,
    rules: list[tuple[str, list[str]]],
    id_col: str = "id",
    max_pairs_enumerated: int | None = 50_000_000,
) -> DataFrame:
    """Splink-style blocking-rule audit: for each candidate rule (an
    ordered equi-key list), how many comparison pairs it generates and —
    the number that drives the real decision — how many pairs are NEW
    versus all earlier rules, plus the running distinct total. The
    workhorse for choosing a rule union before any records are compared
    (Splink `count_comparisons_from_blocking_rule` / cumulative
    comparisons chart).

    Two cost tiers in one plan, mirroring meta-blocking:
    * ``n_pairs`` is COMBINATORIAL — Σ s·(s−1)/2 over the rule's block
      sizes, one hash-aggregate per rule, no pair ever materialized, so
      it is safe to ask of a rule that would explode (the whole point of
      auditing it);
    * ``n_new_pairs`` / ``cum_pairs`` require pair IDENTITY, so pairs are
      enumerated (id<id equi-self-join) and anti-joined against the
      union of earlier rules' pairs. ``max_pairs_enumerated`` guards the
      enumeration: any rule whose combinatorial count exceeds it fails
      fast with the count in the message instead of launching the join.

    All counts are exact longs. NULL key components never pair (SQL
    equi-join semantics) — rows with any NULL key are dropped from BOTH
    tiers, so the combinatorial ``n_pairs`` agrees with the enumerated
    tier (a giant NULL group must not trip the guard or inflate
    ``n_pairs`` past its own ``cum_pairs``). With the guard active, ONE
    collected action checks every rule (the counts are unioned first —
    never one Spark job per rule) and the collected values are reused
    as literals; with ``max_pairs_enumerated=None`` everything stays
    lazy (J4 lazy-scalar discipline). Returns one row per rule:
    ``(rule, n_pairs, n_new_pairs, cum_pairs)``."""
    if len({n for n, _ in rules}) != len(rules):
        raise ValueError("duplicate rule names")

    filtered: dict[str, DataFrame] = {}
    counts: dict[str, DataFrame] = {}
    for name, keys in rules:
        recs = records.na.drop(subset=list(keys))
        filtered[name] = recs
        sizes = recs.groupBy(*keys).agg(F.count("*").alias("s"))
        counts[name] = sizes.agg(
            F.coalesce(F.sum(F.expr("(s * (s - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("n_pairs")
        )

    eager: dict[str, int] | None = None
    if max_pairs_enumerated is not None:
        allc: DataFrame | None = None
        for name, _ in rules:
            c = counts[name].select(F.lit(name).alias("rule"), "n_pairs")
            allc = c if allc is None else allc.unionByName(c)
        assert allc is not None, "rules must be non-empty"
        eager = {r["rule"]: r["n_pairs"] for r in allc.collect()}
        for name, _ in rules:
            if eager[name] > max_pairs_enumerated:
                raise ValueError(
                    f"rule {name!r} generates {eager[name]} pairs "
                    f"(> max_pairs_enumerated={max_pairs_enumerated}); "
                    "raise the guard or tighten the rule"
                )

    out: DataFrame | None = None
    prev: DataFrame | None = None  # distinct union of earlier rules' pairs
    for name, keys in rules:
        recs = filtered[name]
        l = recs.select(F.col(id_col).alias("_il"), *keys)
        r = recs.select(F.col(id_col).alias("_ir"), *keys)
        pairs = (
            l.join(r, list(keys))
            .where(F.col("_il") < F.col("_ir"))
            .select("_il", "_ir")
        )
        new = (
            pairs
            if prev is None
            else pairs.join(prev, ["_il", "_ir"], "left_anti")
        )
        cum = pairs if prev is None else prev.unionByName(pairs).distinct()
        n_new = new.distinct().agg(
            F.count("*").cast("long").alias("n_new_pairs")
        )
        n_cum = cum.distinct().agg(
            F.count("*").cast("long").alias("cum_pairs")
        )
        if eager is not None:
            row = n_new.crossJoin(n_cum).select(
                F.lit(name).alias("rule"),
                F.lit(eager[name]).cast("long").alias("n_pairs"),
                "n_new_pairs",
                "cum_pairs",
            )
        else:
            row = (
                counts[name]
                .crossJoin(n_new)
                .crossJoin(n_cum)
                .select(
                    F.lit(name).alias("rule"),
                    "n_pairs",
                    "n_new_pairs",
                    "cum_pairs",
                )
            )
        out = row if out is None else out.unionByName(row)
        prev = cum.distinct()
    assert out is not None, "rules must be non-empty"
    return out


def prefix_jaccard_pairs(
    df: DataFrame,
    str_col: str,
    id_col: str = "id",
    threshold: float = 0.6,
    max_token_freq: int | None = None,
) -> DataFrame:
    """All pairs with word-set Jaccard similarity ≥ ``threshold`` via
    prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et
    al. WWW'08) — the EXACT set-similarity join complementing the
    approximate MinHash-LSH tier (dedup.minhash_lsh): same question, no
    recall loss, the right tool when the contract is "every pair above
    t", e.g. final-pass verification or legal-grade dedup.

    Algorithm: tokens (WS_SPLIT words, deduplicated) are globally
    ordered by ascending document frequency (ties by token — a total
    order); a record with n tokens emits only its first
    n − ⌈t·n⌉ + 1 tokens (the *prefix*): two sets with Jaccard ≥ t must
    share at least one prefix token under ANY common total order, so
    one self-equi-join on prefix tokens generates a complete candidate
    set. Rare-token-first ordering makes prefixes collide as little as
    possible — the frequency sort IS the performance trick.

    Exactness: the threshold is quantized once to q = round(t·10⁶);
    every filter is INTEGER arithmetic against q — prefix length uses
    ⌈q·n / 10⁶⌉ via integer div, the length filter is
    q·max(|x|,|y|) ≤ 10⁶·min(|x|,|y|), and verification keeps
    10⁶·|x∩y| ≥ q·(|x|+|y|−|x∩y|). No float ever crosses an engine
    boundary; the output ``jaccard`` is ONE final IEEE division.

    Plan shape: one hash-aggregate (doc frequencies), one join of the
    tall token table to frequencies, one per-record sort_array
    (bounded by record token count), one self-equi-join on
    xxhash64(prefix token) with the integer length filter, distinct
    pairs, two joins back for verification with native
    array_intersect. No cartesian product, zero Python. Hash collisions
    only add candidates — verification is exact.

    Identical-set collapsing: Jaccard is a function of the token SET
    alone, so records are first grouped by their (lexicographically
    sorted) token set and the whole join machinery runs over the
    DISTINCT sets only, each weighted by its member count so document
    frequencies (the prefix order and the ``max_token_freq`` cap
    semantics) are still record-level. Verified set pairs expand back
    to record pairs through the per-set member lists, and members of
    the same set pair with each other directly at Jaccard 1.0
    (≥ any threshold ≤ 1). On corpora where token sets repeat — near
    duplicates being the whole point of the operator — the quadratic
    candidate volume shrinks by the square of the duplication factor;
    on all-unique corpora the grouping is one extra narrow
    aggregation.

    Positional filter (PPJoin, Xiao et al. WWW'08 §3.2): each prefix
    token carries its 0-based position in the record's sorted token
    list; a join row matching at positions (i, j) bounds the overlap by
    ``1 + min(|x| − i − 1, |y| − j − 1)`` (every common token sorts at
    or after the matched one), which must reach the minimum overlap
    α = ⌈t·(|x|+|y|)/(1+t)⌉ — checked in the same quantized integer
    arithmetic. Completeness: Jaccard ≥ t ⇒ overlap c ≥ t·|x| and
    c ≥ t·|y|, so the pair's FIRST common token sits inside both
    prefixes and its join row has zero prior overlap, making the bound
    tight enough to survive; pruned rows are only ever non-first
    co-occurrences or pairs whose true overlap is below α. The filter
    runs inside the candidate join, BEFORE the pair-distinct — on
    skew-heavy vocabularies it removes the bulk of the quadratic
    bucket fan-out that the prefix filter alone lets through.

    Skew: ``max_token_freq`` drops tokens whose document frequency
    exceeds the cap from PREFIXES only (verification is untouched).
    The exact loss: a pair of records with DIFFERENT token sets is
    dropped iff every token their two prefixes share exceeds the cap.
    Each record may still keep uncapped prefix tokens of its own (sets
    {a, b} and {b, c} at t = 0.3 with only b capped are lost). Members
    of one identical set always pair. The positional filter adds no
    loss: capped tokens sort after every uncapped one under (df, token),
    so when any shared prefix token survives, the pair's first common
    token is uncapped and its join row keeps the tight bound; positions
    are taken before the cap, so surviving rows keep their true
    positions. A non-None cap makes the result APPROXIMATE and must be
    disclosed — same contract as ``max_bucket_size`` on the LSH joins.

    Returns ``(id_from, id_to, n_common, jaccard)`` with
    id_from < id_to. Records with no tokens never pair (Jaccard
    undefined)."""
    from capelinker_spark.operators.textstats import WS_SPLIT

    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    q = round(threshold * 1_000_000)

    toks = F.array_distinct(
        F.filter(
            F.split(F.trim(F.col(str_col)), WS_SPLIT), lambda x: x != ""
        )
    )
    base = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
        .where(F.size("_t") > 0)
    )
    # identical-set collapsing: one group row per DISTINCT token set
    # (lexicographic sort = canonical form); the join below runs over
    # groups, weighted so doc frequencies stay record-level
    grp = base.groupBy(F.sort_array("_t").alias("_s")).agg(
        F.min("_id").alias("_gid"),
        F.collect_list("_id").alias("_members"),
    )
    tall = grp.select(
        "_gid",
        F.size("_members").alias("_w"),
        F.explode("_s").alias("_tok"),
    )
    freq = tall.groupBy("_tok").agg(F.sum("_w").cast("long").alias("_df"))
    # per-set tokens sorted rarest-first under the (df, token) total
    # order; sort_array makes the collect_list order irrelevant
    sorted_t = (
        tall.select("_gid", "_tok")
        .join(freq, "_tok")
        .groupBy("_gid")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_df", "_tok"))
                ),
                lambda s: s["_tok"],
            ).alias("_ts")
        )
        .select(
            "_gid",
            "_ts",
            F.size("_ts").alias("_n"),
            # ceil(t*n) in exact integer arithmetic
            (
                F.size("_ts")
                - ((F.size("_ts") * q + 999_999) / 1_000_000).cast("long")
                + 1
            ).alias("_p"),
        )
    )
    pref = sorted_t.select(
        "_gid",
        "_n",
        F.posexplode(F.slice("_ts", 1, F.col("_p"))).alias("_i", "_tok"),
    )
    if max_token_freq is not None:
        pref = pref.join(
            freq.where(F.col("_df") <= max_token_freq), "_tok"
        ).drop("_df")
    pk = pref.select(
        "_gid",
        "_n",
        # tokens remaining at/after the matched position: 1 + (n - i - 1)
        # upper-bounds the overlap through this co-occurrence (PPJoin
        # positional filter; _i is posexplode's 0-based position)
        (F.col("_n") - F.col("_i")).alias("_rem"),
        F.xxhash64("_tok").alias("_k"),
    )
    pl = pk.select(
        F.col("_gid").alias("_ga"),
        F.col("_n").alias("_na"),
        F.col("_rem").alias("_ra"),
        "_k",
    )
    pr = pk.select(
        F.col("_gid").alias("_gb"),
        F.col("_n").alias("_nb"),
        F.col("_rem").alias("_rb"),
        "_k",
    )
    # minimum overlap α = ⌈t·(na+nb)/(1+t)⌉: bound ≥ α in the quantized
    # integers ⟺ bound·(10⁶+q) ≥ q·(na+nb)
    cand = (
        pl.join(pr, "_k")
        .where(
            (F.col("_ga") < F.col("_gb"))
            & (
                F.greatest("_na", "_nb") * q
                <= F.least("_na", "_nb") * F.lit(1_000_000)
            )
            & (
                F.least("_ra", "_rb") * F.lit(1_000_000 + q)
                >= q * (F.col("_na") + F.col("_nb"))
            )
        )
        .select("_ga", "_gb")
        .distinct()
    )
    a = sorted_t.select(
        F.col("_gid").alias("_ga"),
        F.col("_ts").alias("_ta"),
        F.col("_n").alias("_la"),
    )
    b = sorted_t.select(
        F.col("_gid").alias("_gb"),
        F.col("_ts").alias("_tb"),
        F.col("_n").alias("_lb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.col("_la") + F.col("_lb") - F.col("n_common")
    # verified pairs of DISTINCT sets, similarity computed once per set
    # pair, then expanded to all cross member pairs
    set_pairs = (
        cand.join(a, "_ga")
        .join(b, "_gb")
        .withColumn("n_common", inter)
        .where(F.col("n_common") * 1_000_000 >= q * union)
        .select(
            "_ga",
            "_gb",
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common").cast("double") / union.cast("double")
            ).alias("jaccard"),
        )
    )
    ma = grp.select(F.col("_gid").alias("_ga"), F.col("_members").alias("_ma"))
    mb = grp.select(F.col("_gid").alias("_gb"), F.col("_members").alias("_mb"))
    cross = (
        set_pairs.join(ma, "_ga")
        .join(mb, "_gb")
        .select("n_common", "jaccard", F.explode("_ma").alias("_ia"), "_mb")
        .select("n_common", "jaccard", "_ia", F.explode("_mb").alias("_ib"))
        .select(
            F.least("_ia", "_ib").alias("id_from"),
            F.greatest("_ia", "_ib").alias("id_to"),
            "n_common",
            "jaccard",
        )
    )
    # members of the SAME set: Jaccard exactly 1.0 ≥ any threshold ≤ 1;
    # n_common = |set|, union = |set| — the same single IEEE division
    within = (
        grp.where(F.size("_members") >= 2)
        .select(
            F.size("_s").alias("_n"),
            F.col("_members").alias("_ma"),
            F.explode("_members").alias("_ia"),
        )
        .select("_n", "_ia", F.explode("_ma").alias("_ib"))
        .where(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_from"),
            F.col("_ib").alias("id_to"),
            F.col("_n").cast("long").alias("n_common"),
            (
                F.col("_n").cast("double") / F.col("_n").cast("double")
            ).alias("jaccard"),
        )
    )
    return cross.unionByName(within)
