"""Per-round benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints, as the FINAL stdout line, ONE compact
JSON object (guarded to fit the driver's 2000-char tail capture — the round-4
line outgrew it and the driver recorded parsed:null):

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "pairs_scored": N, "pairs_per_sec": X,
   "scaling": {"cores_lo": 2, "cores_hi": 8, "throughput_lo": ..,
               "throughput_hi": .., "efficiency": .., "quiet": bool}}

Every timed query row stays in the line. If it would pass 1990 chars, the
scaling block is left out (``"scaling_see_detail": true``; it is in
bench_detail.json) and the line is printed compactly with query seconds at
2 decimals (1 if that is still too long).

Full evidence (all samples, per-sample and per-query /proc/stat steal, the
sampling policy prose) goes to bench_detail.json next to this file AND to an
earlier "BENCH_DETAIL {...}" stdout line.

The scaling block is the sandbox evidence for the north rule's N→4N-executor
criterion: the SAME JW-scoring kernel (bit-identical synthesized input) runs
at local[2] and local[8] in fresh JVM subprocesses; efficiency =
(thr_hi/thr_lo) / (cores_hi/cores_lo) on candidate-pairs-scored/sec. Each
level keeps sampling until a steal-quiet sample lands (bounded attempts);
scaling.quiet says whether the kept samples were steal-quiet.

Set SPARK_GRAFT_BENCH_SCALING=0 to skip the scaling subprocesses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
# fixture corpus size scales with sf: sf0.1 → 10k entities ≈ 17k pages
N_ENTITIES = max(300, int(100_000 * SF))
N_ENTITIES_SCALING = max(300, N_ENTITIES // 3)


def make_session(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"capelinker-bench-{cores}")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # the StateStore maintenance thread races session shutdown and dumps
        # a (cosmetic) stack trace into the bench log after the streaming
        # query (st1) finishes; with no long-lived streams in a bench run,
        # maintenance can simply never fire
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop any still-active streaming queries BEFORE the session, so the
    bench output never ends in a StateStore shutdown trace (round-2 verdict
    item 7)."""
    for q in spark.streams.active:
        try:
            q.stop()
            q.awaitTermination(30)
        except Exception:
            pass
    spark.stop()


def write_corpus(n_entities: int, data_dir: str) -> None:
    """Generate the synthetic corpus ONCE and persist it, so every timed run
    (and both scaling runs) reads identical parquet input."""
    from capelinker_spark.fixtures import make_corpus, pages_df, truth_df

    spark = make_session(4)
    corpus = make_corpus(n_entities=n_entities, seed=42)
    pages_df(spark, corpus["pages"]).repartition(64).write.mode("overwrite").parquet(
        f"{data_dir}/pages"
    )
    truth_df(spark, corpus["truth"]).repartition(8).write.mode("overwrite").parquet(
        f"{data_dir}/truth"
    )
    spark.stop()


def run_linkage(spark, data_dir: str) -> dict:
    """The headline job: full linkage pipeline on the persisted page corpus.
    Returns {'seconds', 'pairs_scored', 'pairs_per_sec', 'links'}."""
    from capelinker_spark.pipeline import LinkagePipeline, PipelineConfig

    pages = spark.read.parquet(f"{data_dir}/pages")
    truth = spark.read.parquet(f"{data_dir}/truth")
    workdir = tempfile.mkdtemp(prefix="capelinker_bench_wd_")
    try:
        t0 = time.time()
        pipe = LinkagePipeline(spark, workdir, PipelineConfig(salt=8))
        res = pipe.run(pages, truth, resume=False)
        n_pairs = res["features"].count()
        n_links = res["links"].count()
        dt = time.time() - t0
        return {
            "seconds": dt,
            "pairs_scored": n_pairs,
            "pairs_per_sec": n_pairs / dt,
            "links": n_links,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


KERNEL_PAIRS = max(300_000, int(20_000_000 * SF))
SCALING_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
# a sample whose host-wide steal delta exceeds max(25, 8*seconds) jiffies is
# contended (quiet r04 rows read 0-7 jiffies over multi-second queries; the
# contended dm3/dd3 rows read 61/51): such samples are retried, bounded below
SCALING_MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "4"))


def steal_contended(steal_delta: int, seconds: float) -> bool:
    return steal_delta > max(25.0, 8.0 * seconds)


def run_scoring_kernel(spark, n_rows: int = KERNEL_PAIRS) -> dict:
    """The scaling kernel: Jaro-Winkler scoring of UNIQUE candidate pairs —
    the north-rule candidate-pairs-scored/sec metric in its compute-bound
    form (unique strings defeat the worker cache, so measured time is the
    Arrow+Python hot path, not shuffle or cache hits).

    Name pairs are synthesized natively from row-id hashes (cheap codegen,
    no shuffle — ``spark.range(n, numPartitions=256)`` keeps 256-way task
    parallelism without an AQE-coalescible exchange), so the input is
    bit-identical at any parallelism level. 3 JW columns per row, forced
    through an aggregate."""
    from pyspark.sql import functions as F

    from capelinker_spark.functions.strdist import make_jw_udf
    from capelinker_spark.util import ensure_workers_importable

    ensure_workers_importable(spark)

    def name(salt: int):
        ln = (F.pmod(F.xxhash64("id", F.lit(salt + 1)), F.lit(9)) + 5).cast("int")
        return F.upper(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(str(salt)))).substr(
                F.lit(1), ln
            )
        )

    def plan(n: int):
        pairs = spark.range(0, n, 1, 256).select(
            name(1).alias("a"), name(2).alias("b"), name(3).alias("c")
        )
        jw = make_jw_udf(0.1)
        return pairs.select(
            jw("a", "b").alias("d1"),
            jw("a", "c").alias("d2"),
            jw("b", "c").alias("d3"),
        ).agg(F.sum("d1"), F.sum("d2"), F.sum("d3"))

    # untimed warmup: spawns+imports the Python workers, JITs the codegen —
    # otherwise cold-start lands disproportionately on the faster run
    plan(max(n_rows // 10, 50_000)).collect()

    s0, t0 = read_steal(), time.time()
    plan(n_rows).collect()
    dt = time.time() - t0
    n_scored = 3 * n_rows
    return {
        "seconds": dt,
        "pairs_scored": n_scored,
        "pairs_per_sec": n_scored / dt,
        # steal across the TIMED window only — the parent's own around-the-
        # subprocess delta would also count JVM startup + warmup (~20s) and
        # read permanently contended under mild background steal
        "steal": read_steal() - s0,
    }


HEADLINE_QUERIES = [
    "q1_flagship_agg",
    "j5_soundex_blocking_join",
    "j1_jw_similarity_join",
    "m2_dual_rank_select",
    "dd1_exact_dedup",
    "dd3_minhash_lsh_neardup",
    "dd4_simhash",
    "ts1_lang_id",
    "ts2_token_counts",
    "ann1_brute_force_topk",
    "c1_connected_components",
    "st1_streaming_window_agg",
    "ev1_sessionize_stats",
    "dd6_near_dedup_canonical",
    "dm2_sequence_packing",
    "cu1_curation_pipeline",
    "ts5_pii_counts",
    # round 4
    "dm3_bpe_packing",
    "dm4_temperature_mix",
    "dd7_decontaminate",
    "dd8_dup_span_stats",
    "ts7_pii_redact",
    "cu2_line_filter",
    "cu3_model_quality_score",
    "cu4_full_curation",
    "u11_url_normalize",
    "ts8_top_ngram_fraction",
    "ts9_bigram_lm_score",
    # round 5
    "dd9_remove_dup_spans",
    "cu5_domain_policy_curation",
    "tok1_word_counts",
    "dd10_paragraph_dedup",
    "dd11_remove_contaminated_spans",
    "cu6_token_budget_mix",
    "ts10_collapse_repeated_lines",
    # round 6
    "ir1_bm25_topk",
    "dd12_line_dedup_keep_first",
    "er6_metablocking",
    "er7_bcubed",
    "m7_greedy_match",
    "tm1_asof_join",
    "lr1_cascade_link",
    "f16_monge_elkan",
    "j9_edit_distance_pairs",
    "m8_mutual_best_match",
    "er12_nmi",
    "j11_prefix_jaccard_join",
    "tm3_interval_join",
    "tm4_scd2_intervals",
    "pr1_pagerank",
    "tm5_point_in_time_join",
    "pr2_hits",
    "cu8_domain_rollup",
    "er15_label_propagation",
    "er16_adamic_adar",
    "ir2_rrf_fusion",
    "m9_pr_sweep",
    "tm6_scd2_merge",
    "ts11_html_extract",
    "wt2_extract_links",
    "wt3_host_pagerank",
    "wt4_anchor_agg",
    "dd13_url_dedup_keep_latest",
    "wt6_robots_allowed",
    "f17_soft_tfidf",
    "ir3_bm25f_anchor_topk",
    "dm5_weighted_sample",
]


# the harness reading this output keeps the last 2000 chars of stdout,
# the final newline included
HEADLINE_MAX = 1990


def headline_line(result: dict) -> str:
    """The final stdout line: ``result`` as JSON, fitted to the 2000-char
    tail capture of the harness reading it without dropping a timed query
    row (popping the fastest rows once hid a timed row's regression). Over
    ``HEADLINE_MAX`` chars, the scaling block goes first (bench_detail.json
    keeps it), then the line is printed compactly with query seconds at 2
    decimals, then at 1."""
    line = json.dumps(result)
    if len(line) > HEADLINE_MAX and "scaling" in result:
        result = {k: v for k, v in result.items() if k != "scaling"}
        result["scaling_see_detail"] = True
        line = json.dumps(result)
    for digits in (2, 1):
        if len(line) <= HEADLINE_MAX:
            break
        queries = {k: round(v, digits) for k, v in result["queries"].items()}
        line = json.dumps({**result, "queries": queries}, separators=(",", ":"))
    return line


def read_steal() -> int:
    """Host-wide steal jiffies from /proc/stat (column 9 of the cpu line).
    The DELTA across exactly one timed run attributes slow samples to
    co-tenant steal directly instead of inferring from adjacent quiet
    probes (which bursts defeat — BENCH.md round-3/4 finding)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except Exception:
        return 0


def run_queries(
    spark, sf_dir: str
) -> tuple[dict[str, float], dict[str, int], list[str]]:
    from capelinker_spark.entry_queries import QUERIES, _docs_plus_dups
    from capelinker_spark.operators.dedup import minhash_near_duplicates

    out: dict[str, float] = {}
    steal: dict[str, int] = {}
    retried: list[str] = []

    def timed(name, thunk):
        # per-query contention gate (round-5 verdict item 1, "cheaply"):
        # one retry when the timed window's steal delta trips the gate;
        # kept sample prefers steal-quiet, then faster.
        best = None
        for attempt in range(2):
            s0, t0 = read_steal(), time.time()
            thunk()
            dt = time.time() - t0
            sd = read_steal() - s0
            cand = {
                "seconds": dt,
                "steal": sd,
                "contended": steal_contended(sd, dt),
            }
            if (
                best is None
                or (best["contended"] and not cand["contended"])
                or (
                    cand["contended"] == best["contended"]
                    and dt < best["seconds"]
                )
            ):
                best = cand
            if not cand["contended"]:
                break
            if attempt == 0:
                retried.append(name)
        out[name] = round(best["seconds"], 3)
        steal[name] = best["steal"]

    for name in HEADLINE_QUERIES:
        timed(name, lambda n=name: QUERIES[n](spark, sf_dir).count())
    # production MinHash tier: same input/params as dd3 but xxhash64
    # signatures (JVM-native, no engine-portable-md5 tax; see dedup.py)
    timed(
        "dd3_xxhash_tier",
        lambda: minhash_near_duplicates(
            _docs_plus_dups(spark, sf_dir), threshold=0.5,
            num_hashes=16, bands=4, hash_fn="xxhash64",
        ).count(),
    )
    return out, steal, retried


def main():
    if len(sys.argv) > 2 and sys.argv[1] == "--single":
        # scaling subprocess: run ONLY the scoring kernel
        cores = int(sys.argv[2])
        spark = make_session(cores)
        try:
            print(json.dumps(run_scoring_kernel(spark)))
        finally:
            spark.stop()
        return

    data_dir = tempfile.mkdtemp(prefix="capelinker_bench_data_")
    try:
        write_corpus(N_ENTITIES, data_dir)
        spark = make_session(CPUS)
        t_total0 = time.time()
        # co-tenant steal on this VM can inflate a single run 2-4x (BENCH.md
        # noise disclosure); a quiet-machine pipeline run is ~37-40s at
        # sf0.1. The linkage sample now carries the SAME contention
        # discipline as the scaling kernel (round-5 verdict item 1): measure
        # /proc/stat steal across the timed window, retry while contended
        # (best-of-<=SCALING_MAX_ATTEMPTS, stop at the first steal-quiet
        # sample), and ALSO retry on the old wall heuristic as a backstop.
        # All samples + per-sample steal are reported; kept sample = fastest
        # steal-quiet one if any landed, else fastest overall.
        retry_above = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_ABOVE", "900"))
        # wall backstop floor: fixed JVM/pipeline overheads (~8s) dominate
        # tiny sf, where 900*sf would flag every run contended and burn all
        # attempts; steal is the primary gate, the wall is a sanity net
        wall_limit = max(retry_above * SF, 30.0)
        def prefer(cand: dict, cur: dict | None) -> bool:
            """Kept-sample rule (shared with scaling): quiet beats
            contended; within the same quietness, faster wins."""
            if cur is None:
                return True
            if cand["contended"] != cur["contended"]:
                return not cand["contended"]
            return cand["seconds"] < cur["seconds"]

        link_samples = []
        link = None
        for _ in range(SCALING_MAX_ATTEMPTS):
            s0 = read_steal()
            cand = run_linkage(spark, data_dir)
            cand["steal"] = read_steal() - s0
            cand["contended"] = steal_contended(
                cand["steal"], cand["seconds"]
            ) or cand["seconds"] > wall_limit
            link_samples.append(
                {
                    "seconds": round(cand["seconds"], 3),
                    "steal": cand["steal"],
                    "contended": cand["contended"],
                }
            )
            if prefer(cand, link):
                link = cand
            if not cand["contended"]:
                break
        qtimes, qsteal, qretried = run_queries(spark, SF_DIR)
        stop_spark(spark)

        # --- headline (final stdout line; MUST stay compact) -------------
        # The driver captures only the last ~2000 chars of stdout and parses
        # the final line as JSON. Round 4's line outgrew that window (the
        # per-query steal_jiffies map) and the driver recorded parsed:null —
        # so the headline now carries ONLY the numbers that matter and the
        # full evidence (all samples, per-query steal, policy prose) goes to
        # bench_detail.json + an EARLIER stdout line.
        result = {
            "metric": "linkage+headline suite wall time",
            "value": round(time.time() - t_total0, 3),
            "unit": "sec",
            "sf": SF,
            "queries": {"linkage_pipeline": round(link["seconds"], 3), **qtimes},
            "pairs_scored": link["pairs_scored"],
            "pairs_per_sec": round(link["pairs_per_sec"], 1),
            "links": link["links"],
            "cpus": CPUS,
        }
        detail = {
            "queries": dict(result["queries"]),
            "linkage_samples": link_samples,
            "linkage_kept_contended": link["contended"],
            # per-query co-tenant steal (jiffies, host-wide, delta across
            # each timed run): 100 jiffies = 1 steal-core-second
            "steal_jiffies": qsteal,
            # queries whose first sample tripped the steal gate and were
            # re-run once (kept sample prefers quiet, then faster)
            "query_retries": qretried,
            "sample_policy": (
                "linkage: steal-gated like the scaling kernel — retry while "
                f"the timed window is contended (or wall > "
                f"max({retry_above}*sf, 30) sec), up to "
                f"{SCALING_MAX_ATTEMPTS} attempts, kept = "
                "fastest steal-quiet sample else fastest, all samples + "
                "per-sample steal reported; per-query rows: one retry when "
                "contended, same kept rule; scaling: per level keep "
                "sampling until a steal-quiet sample lands or "
                f"{SCALING_MAX_ATTEMPTS} attempts, quiet-first best-of "
                "kept, symmetric extra quiet-window grants on BOTH levels; "
                "contended := steal_delta > max(25, 8*sec); steal = "
                "/proc/stat host steal delta"
            ),
        }

        if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
            # N → 4N evidence at local[2] → local[8]: this sandbox VM's 32
            # logical CPUs deliver only ~2.6× the aggregate throughput of 8
            # even for pure-Python multiprocessing OUTSIDE Spark (measured:
            # 8 procs 62k jw/s/proc, 32 procs 40k jw/s/proc — oversubscribed
            # vCPUs), so 8→32 cannot show engine scaling; 2→8 is in the
            # hardware's linear region. A full-width local[32] run is also
            # reported to show absolute machine throughput.
            detail["scaling_kernel"] = "unique-pair JW scoring"
            detail["hardware_note"] = (
                "VM delivers ~2.6x from 8->32 procs for pure-Python CPU "
                "work outside Spark; N->4N measured at 2->8 (linear "
                "hardware region)"
            )
            scaling = {"kernel_pairs": 3 * KERNEL_PAIRS}

            def sample_level(cores: int) -> dict:
                proc = subprocess.run(
                    [
                        sys.executable, os.path.abspath(__file__),
                        "--single", str(cores),
                    ],
                    capture_output=True,
                    text=True,
                    timeout=1800,
                    env={**os.environ, "SPARK_GRAFT_BENCH_SCALING": "0"},
                )
                # the subprocess measures its own steal across the timed
                # kernel window only (run_scoring_kernel)
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                r["contended"] = steal_contended(r["steal"], r["seconds"])
                return r

            def prefer_sample(cand: dict, cur: dict | None) -> bool:
                """Kept-sample rule (same as the linkage timer): steal-quiet
                beats contended; within the same quietness, higher
                throughput wins. Quietness-first matters for symmetry — a
                contended lo sample INFLATES the ratio, so the kept lo must
                move to a quiet sample whenever one lands, even if the quiet
                sample is slower (round-5 advice: one-sided retry bias)."""
                if cur is None:
                    return True
                if cand["contended"] != cur["contended"]:
                    return not cand["contended"]
                return cand["pairs_per_sec"] > cur["pairs_per_sec"]

            def keep(key: str, r: dict) -> None:
                scaling[f"throughput_{key}"] = round(r["pairs_per_sec"], 1)
                detail[f"scaling_seconds_{key}"] = round(r["seconds"], 3)
                detail[f"scaling_kept_contended_{key}"] = r["contended"]

            kept: dict[str, dict] = {}

            def measure(cores: int, key: str, min_reps: int, attempts: int):
                """best-of sampling with contention discipline: keep sampling
                past min_reps until a steal-quiet sample lands (bounded by
                `attempts`) — the same policy the linkage timer has, driven
                by measured /proc/stat steal instead of a wall heuristic
                (round-4 verdict item 2)."""
                best, samples = None, []
                for i in range(attempts):
                    r = sample_level(cores)
                    samples.append(
                        {
                            "pairs_per_sec": round(r["pairs_per_sec"], 1),
                            "steal": r["steal"],
                            "contended": r["contended"],
                        }
                    )
                    if prefer_sample(r, best):
                        best = r
                    if i + 1 >= min_reps and not r["contended"]:
                        break
                scaling[f"cores_{key}"] = cores
                detail[f"scaling_samples_{key}"] = samples
                kept[key] = best
                keep(key, best)
                return best

            measure(2, "lo", SCALING_REPEATS, SCALING_MAX_ATTEMPTS)
            measure(8, "hi", SCALING_REPEATS, SCALING_MAX_ATTEMPTS)
            measure(CPUS, "full", 1, 2)

            def efficiency() -> float:
                return round(
                    (scaling["throughput_hi"] / scaling["throughput_lo"])
                    / (scaling["cores_hi"] / scaling["cores_lo"]),
                    4,
                )

            def grant_extra(key: str, cores: int) -> None:
                """One more quiet-window attempt for a level; the kept
                sample is re-picked with the same quiet-first rule."""
                extra = sample_level(cores)
                detail[f"scaling_samples_{key}"].append(
                    {
                        "pairs_per_sec": round(extra["pairs_per_sec"], 1),
                        "steal": extra["steal"],
                        "contended": extra["contended"],
                    }
                )
                if prefer_sample(extra, kept[key]):
                    kept[key] = extra
                    keep(key, extra)

            # symmetric extra grants (round-5 advice: the old hi-only,
            # keep-only-if-faster retry could only move efficiency UP):
            # any level whose kept sample is still contended gets one more
            # quiet window; if the ratio then misses 0.8, BOTH levels get
            # one more — so a contended lo (which inflates the ratio) is
            # retried exactly like a contended hi (which deflates it).
            for key, cores in (("lo", 2), ("hi", 8)):
                if detail[f"scaling_kept_contended_{key}"]:
                    grant_extra(key, cores)
            if efficiency() < 0.8:
                grant_extra("lo", 2)
                grant_extra("hi", 8)
            scaling["efficiency"] = efficiency()
            # machine-readable quietness: True iff the kept lo AND hi samples
            # were both steal-quiet (the driver can trust the ratio directly)
            scaling["quiet"] = not (
                detail["scaling_kept_contended_lo"]
                or detail["scaling_kept_contended_hi"]
            )
            result["scaling"] = scaling
            detail["scaling"] = scaling

        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=1)
        print("BENCH_DETAIL " + json.dumps(detail))
        print(headline_line(result))
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
