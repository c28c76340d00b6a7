"""Entity clustering: ``expand_index`` semantics + transitive closure.

``expand_index`` (R/util.R:14-44) folds one wave of proposed links into an
existing entity index; iterated across waves it is connected components.
Here both are provided: the exact single-wave semantics as native window
expressions, and full connected components as iterative min-label
propagation (hash joins) with deterministic min-id tie-breaking. Every
iterative graph operator runs its rounds through :func:`iterate`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def checkpoint_truncated(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Checkpoint ``df`` (truncating lineage) AND reset its cost-model
    statistics to the size-estimate default.

    Spark's ``Dataset.localCheckpoint``/``checkpoint`` carry the child
    plan's computed ``sizeInBytes`` into the new ``LogicalRDD`` leaf
    (``originStats``). In an ITERATIVE operator that is a time bomb: every
    join MULTIPLIES its children's sizes, so a checkpoint leaf that starts
    at the ~6×-per-iteration product re-enters the next iteration's
    multiplications and the stat grows EXPONENTIALLY in digit count —
    measured here: 1,662 digits after one fold of a CC result into a
    running label table, and by the third chained fold the driver spent
    minutes single-threaded inside ``BigInteger.multiply`` under the
    optimizer's ``InjectRuntimeFilter`` size checks. Rebuilding the frame
    over the ALREADY-CHECKPOINTED physical RDD (no recompute) drops
    ``originStats``, so every iteration restarts from the small default
    estimate.

    Falls back to the plain checkpoint if the internal constructor drifts
    across Spark versions — correctness is unaffected either way."""
    ck = df.checkpoint(eager=True) if reliable else df.localCheckpoint(
        eager=True
    )
    try:
        jdf = ck._jdf
        fresh = jdf.sparkSession().internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, ck.sparkSession)
    except Exception:
        return ck


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    reliable: bool = False,
    changed: Column | None = None,
    name: str = "iterate",
) -> DataFrame:
    """The round loop of every iterative graph operator: ``state =
    step(state, i)`` for ``i < rounds``, each round's ``state`` columns
    checkpointed through :func:`checkpoint_truncated` (lineage cut per
    round, north rule). Without ``changed`` it runs all ``rounds``.
    ``changed`` is a boolean column of the stepped frame, counted by an
    ``Observation`` on the checkpoint job (no extra job): the loop stops
    after the first round counting none, and raises if the cap ``rounds``
    passes first — a still-moving state would be a silently wrong result."""
    cols = state.columns
    for i in range(rounds):
        nxt = step(state, i)
        obs = None
        if changed is not None:
            obs = Observation()
            nxt = nxt.observe(obs, F.count(F.when(changed, 1)).alias("n"))
        # looked up as a module global each round, so a rebinding of it
        # (a checkpoint counter) sees every round
        state = checkpoint_truncated(nxt.select(*cols), reliable=reliable)
        if obs is not None and obs.get["n"] == 0:
            return state
    if changed is not None:
        raise RuntimeError(
            f"{name} did not converge in {rounds} rounds — raise its cap "
            "(rows were still changing)"
        )
    return state


def expand_index(
    dat: DataFrame,
    index_col: str = "index",
    candidate_col: str = "index_candidate",
) -> DataFrame:
    """Exact R/util.R:14-44 semantics, per candidate group (NULL candidates
    untouched):

    * group entirely unindexed → adopt the candidate index (:17-21)
    * group fully indexed → no-op (:23-28)
    * group bridges exactly ONE existing index + NAs → fill the NAs (:30-37)
    * ≥2 distinct existing indexes → left as-is (no bridging across entities)

    NULL-candidate rows (typically most of the table) are split off BEFORE
    the window and unioned back untouched: partitionBy(candidate) would
    otherwise funnel every NULL row into one partition — semantically
    harmless but a single-task straggler at scale (round-1 audit item).
    """
    null_part = dat.where(F.col(candidate_col).isNull())
    cand_part = dat.where(F.col(candidate_col).isNotNull())
    w = Window.partitionBy(candidate_col)
    idx = F.col(index_col)
    nn_distinct = F.size(F.collect_set(idx).over(w))  # collect_set skips NULLs
    has_null = F.max(idx.isNull().cast("int")).over(w)
    the_idx = F.min(idx).over(w)
    new_index = (
        F.when(nn_distinct == 0, F.col(candidate_col))
        .when((has_null == 1) & (nn_distinct == 1) & idx.isNull(), the_idx)
        .otherwise(idx)
    )
    return cand_part.withColumn(index_col, new_index).unionByName(
        null_part.withColumn(index_col, idx)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    reliable_checkpoint: bool = False,
    jump_after: int = 2,
) -> DataFrame:
    """Min-label propagation + pointer jumping: returns (node, component)
    with component = min node id reachable — the deterministic min-id
    tie-break.

    Each iteration: (1) every node takes the min of its own label and its
    neighbors' labels (one shuffle join + one aggregation), then (2) a
    pointer-jump compresses label chains (label ← label[label]), doubling
    effective reach per round — so convergence is O(log diameter), not
    O(diameter): a 10^6-hop chain closes in ~20 rounds instead of blowing
    the iteration cap. Linkage components are near-cliques, 3-6 rounds in
    practice.

    Rounds run through :func:`iterate`, which truncates lineage per round
    via ``localCheckpoint`` (fast, executor-local) or, with
    ``reliable_checkpoint=True``, via reliable
    ``checkpoint()`` to ``spark.sparkContext.getCheckpointDir()`` — use the
    latter on real clusters, where an executor loss would kill
    locally-checkpointed lineage mid-loop (set the checkpoint dir first).

    Raises RuntimeError if the cap is hit while labels are still changing
    (silently-wrong components were a round-1 advice item).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = checkpoint_truncated(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct(),
        reliable=reliable_checkpoint,
    )
    # initial labels stay a LAZY view over the checkpointed sym (one
    # distinct): they are consumed only by iteration 0, whose two uses
    # share the distinct's exchange at runtime — an eager checkpoint here
    # would be one more whole-cluster materialization job for nothing
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def step(labels: DataFrame, it: int) -> DataFrame:
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the old label through as _old, so the round's changed
        # count is read off the stepped rows by iterate's observation
        propagated = labels.select(
            "node", F.col("component").alias("_old")
        ).join(neighbor_min, "node", "left").select(
            "node",
            "_old",
            F.least(
                F.col("_old"), F.coalesce(F.col("nbr_min"), F.col("_old"))
            ).alias("component"),
        )
        if it >= jump_after:
            # pointer jump: component ← label(component). Valid because
            # labels only ever hold REACHABLE node ids, so composition stays
            # reachable and monotonically non-increasing. Applied only once
            # plain propagation hasn't converged (iteration ≥ jump_after):
            # linkage graphs are near-cliques that close in 2-3 rounds, so
            # the extra compression join would be pure overhead there, while
            # long chains still get the O(log diameter) doubling.
            parent = propagated.select(
                F.col("node").alias("_p"), F.col("component").alias("_pc")
            )
            propagated = propagated.join(
                parent, propagated["component"] == parent["_p"], "left"
            ).select(
                "node",
                "_old",
                F.least(
                    F.col("component"), F.coalesce(F.col("_pc"), F.col("component"))
                ).alias("component"),
            )
        return propagated

    # labels only ever decrease, so "changed" ⇔ component < _old
    return iterate(
        labels, step, max_iterations, reliable_checkpoint,
        changed=F.col("component") < F.col("_old"), name="connected_components",
    )


def cluster_links(
    links: DataFrame,
    records: DataFrame,
    id_from: str = "persid_from",
    id_to: str = "persid_to",
    record_id: str = "persid",
    score_col: str = "predicted",
) -> DataFrame:
    """Accepted links → entity table (FIXTURES.md §5 contract):
    (persid, entity_id, confidence). Unlinked records become singleton
    entities (their own id). confidence = max accepted-link score touching
    the record (NULL for singletons)."""
    edges = links.select(F.col(id_from).alias("src"), F.col(id_to).alias("dst"))
    comp = connected_components(edges)
    conf = (
        links.select(F.col(id_from).alias("node"), F.col(score_col).alias("s"))
        .union(links.select(F.col(id_to).alias("node"), F.col(score_col).alias("s")))
        .groupBy("node")
        .agg(F.max("s").alias("confidence"))
    )
    out = (
        records.select(F.col(record_id).alias("persid"))
        .join(comp.withColumnRenamed("node", "persid"), "persid", "left")
        .join(conf.withColumnRenamed("node", "persid"), "persid", "left")
        .withColumn("entity_id", F.coalesce(F.col("component"), F.col("persid")))
        .drop("component")
    )
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**12,
    damping_num: int = 17,
    damping_den: int = 20,
    reliable_checkpoint: bool = False,
    seeds: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed link graph — the canonical
    web-corpus importance score (per-host/per-url rank is a standard
    curation quality signal alongside the cu3 model score).

    ``seeds``: personalized PageRank — teleport mass restarts ONLY at
    the seed nodes (initial rank ``scale`` at seeds, 0 elsewhere; the
    per-iteration jump term applies at seeds only), so rank measures
    link proximity TO the seed set: the entity-disambiguation /
    related-page signal (which candidate records sit close to this
    entity's neighbourhood). The seed list is a driver-side literal
    (bounded — the query's entity of interest), compiled into an
    ``isin`` predicate; everything else about the recurrence, its
    integer exactness, and the plan is unchanged.

    Exactness design (the repo-wide oracle contract): ranks are LONGs in
    units of ``1/scale`` and every update is integer arithmetic —
    per-edge contribution ``rank div outdeg``, damped in-sum via the
    overflow-free split identity

        floor(m·a/b) = (m div b)·a + ((m mod b)·a) div b

    (same identity as er7's B-cubed quantization, so ``m·a`` is never
    materialized and the update cannot overflow LONG at any graph size).
    The float ``rank`` column is ONE final IEEE division — bit-identical
    on any engine mirroring the integer recurrence, independent of
    aggregation order (LONG sums are exact).

    Semantics: edges are deduplicated (a simple graph — repeated links
    don't multiply influence; self-loops are kept and contribute to
    their own node); every distinct endpoint is a node with initial rank
    ``scale`` (the unnormalized sum-preserving convention, rank mass N);
    dangling nodes (no out-edges) leak their mass — the classic
    uniform-teleport correction needs a global scalar per iteration and
    is deliberately omitted so the recurrence stays one-shuffle-per-
    iteration (document the variant, don't hide a barrier in it).
    ``damping_num/damping_den`` is the rational damping factor (default
    17/20 = 0.85); the teleport term is ``scale·(den−num) div den``.

    Plan shape per iteration: ONE shuffle join of the (pre-checkpointed,
    outdeg-annotated) edge table against the rank table on ``src``, one
    hash aggregation on ``dst``, one left join onto the rank table; each
    iteration is one :func:`iterate` round (one checkpoint). At
    cluster scale pre-partition both tables by node id so AQE coalesces
    the per-iteration exchanges.

    Returns ``(node, rank_scaled: long, rank: double)``.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not (0 < damping_num < damping_den):
        raise ValueError("damping must satisfy 0 < num < den")
    if seeds is not None and not seeds:
        raise ValueError("seeds must be None (global) or non-empty")

    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    # outdeg rides on the edge table once, outside the loop
    e = checkpoint_truncated(e.join(outdeg, "_s"), reliable=reliable_checkpoint)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )

    jump = (scale * (damping_den - damping_num)) // damping_den
    if seeds is None:
        jump_col = F.lit(int(jump)).cast("long")
        init_col = F.lit(int(scale)).cast("long")
    else:
        is_seed = F.col("node").isin(list(seeds))
        jump_col = (
            F.when(is_seed, F.lit(int(jump)))
            .otherwise(F.lit(0))
            .cast("long")
        )
        init_col = (
            F.when(is_seed, F.lit(int(scale)))
            .otherwise(F.lit(0))
            .cast("long")
        )
    num, den = int(damping_num), int(damping_den)
    # integral `div` throughout — a double divide here would silently
    # mis-rank past 2^53 (the j10/er7 lesson); (m % den)·num is ≤
    # (den−1)·num so neither term can overflow LONG
    damped = F.expr(
        f"(_m div {den}L) * {num}L"
        f" + ((_m % {den}L) * {num}L) div {den}L"
    )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        in_sum = (
            e.join(
                ranks.select(
                    F.col("node").alias("_s"), F.col("rank_scaled")
                ),
                "_s",
            )
            .select(
                F.col("_d").alias("node"),
                F.expr("rank_scaled div _deg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_m"))
        )
        # the rank table is the node table: every node carries a rank
        return (
            ranks.select("node").join(in_sum, "node", "left").select(
                "node",
                F.coalesce(F.col("_m"), F.lit(0))
                .cast("long")
                .alias("_m"),
            )
            .select(
                "node",
                (jump_col + damped).alias("rank_scaled"),
            )
        )

    ranks = iterate(
        nodes.withColumn("rank_scaled", init_col), step, iterations, reliable_checkpoint
    )
    return ranks.select(
        "node",
        "rank_scaled",
        (F.col("rank_scaled") / F.lit(float(scale))).alias("rank"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    scale: int = 10**6,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed link
    graph — the complementary importance signal to :func:`pagerank`
    (a page can be a weak authority but a strong hub: link directories,
    seed lists; both are standard crawl-frontier / curation features).

    Exactness: scores are LONGs in units of ``1/scale``. Each half-step
    is (1) an exact LONG sum over in/out neighbours, then (2) max-
    normalization ``floor(raw·scale/mx)`` via the split identity
    ``(raw div mx)·scale + ((raw mod mx)·scale) div mx`` — and since
    ``mx`` is the maximum, ``raw div mx ∈ {0, 1}`` and
    ``(raw mod mx)·scale < mx·scale``, so with the default
    ``scale = 10^6`` nothing overflows LONG below ~9×10^6 nodes (drop
    ``scale`` for bigger graphs). Max-normalization (not L2) keeps the
    whole recurrence in integer arithmetic; the top hub/authority is
    exactly ``scale`` each iteration. The float columns are ONE final
    IEEE division each.

    Plan per half-step: one shuffle join (edge⋈score) + one hash agg +
    one 1-row max agg broadcast lazily (crossJoin of a 1-row frame — the
    ts9/j4 lazy-scalar shape, no eager collect); each half-step is one
    :func:`iterate` round over the (node, hub, auth) table. Returns
    ``(node, hub_scaled, auth_scaled, hub, authority)``."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")

    e = checkpoint_truncated(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct(),
        reliable=reliable_checkpoint,
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )

    def half_step(scores: DataFrame, i: int) -> DataFrame:
        # even rounds: authorities from hubs along s→d, odd rounds: hubs
        # from authorities along d→s; the other score rides along
        frm, to, by, out = ("_s", "_d", "hub_scaled", "auth_scaled")
        if i % 2:
            frm, to, by, out = to, frm, out, by
        raw = (
            e.join(scores.select(F.col("node").alias(frm), by), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(by).alias("_raw"))
        )
        mx = raw.agg(
            F.coalesce(F.max("_raw"), F.lit(0)).cast("long").alias("_mx")
        )
        return (
            scores.select("node", by)
            .join(raw, "node", "left")
            .withColumn("_raw", F.coalesce(F.col("_raw"), F.lit(0)).cast("long"))
            .crossJoin(F.broadcast(mx))
            .selectExpr(
                "node",
                by,
                # mx = 0 ⇔ the graph contributed nothing this half-step
                # (Spark's div would yield NULL, DuckDB would error)
                "CASE WHEN _mx = 0 THEN CAST(0 AS LONG) ELSE "
                f"(_raw div _mx) * {int(scale)}L"
                f" + ((_raw % _mx) * {int(scale)}L) div _mx END AS {out}",
            )
        )

    start = nodes.select(
        "node",
        F.lit(int(scale)).cast("long").alias("hub_scaled"),
        F.lit(0).cast("long").alias("auth_scaled"),  # round 0 overwrites it
    )
    scores = iterate(start, half_step, 2 * iterations, reliable_checkpoint)
    return scores.select(
        "node",
        "hub_scaled",
        "auth_scaled",
        (F.col("hub_scaled") / F.lit(float(scale))).alias("hub"),
        (F.col("auth_scaled") / F.lit(float(scale))).alias("authority"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA, Raghavan
    2007) over an undirected graph — the cheap community signal between
    connected components (which over-merge through any bridge) and
    k-truss (which needs triangle support): near-clique candidate
    blocks, link-farm clusters, template families.

    Determinism (the oracle contract): every node starts labeled with
    its own id; each round EVERY node simultaneously adopts the
    neighbour label with the highest frequency, ties broken by SMALLEST
    label — a total order, so the result is a pure function of the edge
    set, independent of partitioning. Fixed ``rounds`` (not
    to-convergence): synchronous LPA can 2-cycle on bipartite
    structures, so a fixpoint loop is not well-defined; callers pick
    the horizon (3 reaches most community structure). All counts are
    LONGs; no floats anywhere.

    Self-loops are dropped (a node's own label must not vote); the node
    set is the edge endpoints, so every node has ≥1 neighbour and each
    round relabels every node. Plan per round: one shuffle join of the
    symmetrized edge table against labels, one (node, label) hash
    count, one keyed argmax window on the SAME node partitioning; each
    round is one :func:`iterate` round. Returns
    ``(node, label)``."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a").isNotNull()
        & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    sym = checkpoint_truncated(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        reliable=reliable_checkpoint,
    )
    # initial labels stay lazy, as in connected_components
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("_c").desc(), F.col("label").asc()
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            sym.join(
                labels.select(F.col("node").alias("b"), "label"), "b"
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
        )

    return iterate(labels, step, rounds, reliable_checkpoint)
