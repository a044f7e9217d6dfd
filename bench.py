"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print TWO JSON lines: the full per-query detail (also written to
bench_detail.json), then — LAST, guaranteed under 1400 bytes — a compact
summary with the headline value, spreads and group totals. The driver
captures only an output tail, so the parseable record must be the final
line (round-6's single ~6KB line arrived truncated: "parsed": null).

Methodology: one reused SparkSession (per-query session setup would swamp
ms-scale queries — SURVEY.md §6); a full untimed warm-up round JIT-compiles
the codegen paths, and ``get_spark`` sizes the codegen cache so the classes
it compiled are still cached when the timed rounds run (steady-state
throughput is what a long-running ingestion service sees — cold-start adds
~50% to round one); inputs stay on parquet
(no pre-caching, scans are part of the measurement). Streaming queries
rebuild their stream each run, so their replay + drain cost is always
included. Measured on this box: AQE overhead at this scale is <2%, so the
100 TB posture confs stay on for the bench.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_window_rank",
    "q_running_revenue",
    "q_rollup_orders",
    "q_semi_anti",
    "q_events_tumbling",
    "q_events_json",
    "q_doc_tokens",
    "q_dedup_docs",
    "q_knn_self",
]

# Second bench group: the LLM-training-data operators (dedup family,
# similarity search, text analysis). Reported as separate JSON fields so
# the headline metric stays comparable across rounds.
LLM_OPS = [
    "q_near_dedup",
    "q_minhash_pairs",
    "q_simhash",
    "q_embed_near_dup",
    "q_knn_ivf",
    "q_knn_ivf_kmeans",
    "q_lang_id",
    "q_quality_score",
    "q_dup_clusters",
    "q_edit_distance",
    # round 4 additions: LSH-bucketed ANN, BM25 retrieval, repetition
    # quality filters, cross-split contamination.
    "q_knn_lsh",
    "q_bm25",
    "q_repetition_score",
    "q_contamination_check",
    "q_pagerank",
    "q_knn_pq",
]

# Alternative implementations of capabilities ALREADY counted in
# llm_ops, reported in a separate `variants` JSON section (r4 verdict
# item 7): q_dup_clusters_pj is pointer-jumping connected components
# over the SAME pair index q_dup_clusters already builds and clusters —
# summing both into llm_ops_total double-counted one capability. The pj
# variant costs ~2x plain on this diameter-2 fixture (2 shuffles/round
# to cut ROUND count — the long-chain insurance; the 32-chain test pins
# <=10 rounds where plain propagation needs 31) and that plain-vs-pj
# delta IS the measurement, so it stays benched — just not totaled.
VARIANT_OPS = [
    "q_dup_clusters_pj",
]

# Round-6 additions: NEW capabilities (not variants of counted ones),
# reported as their own JSON group so llm_ops_total stays comparable
# round-over-round. Substring-tier dedup, winnowing selection, DSIR
# weights, SemDeDup, tokenizer application, chunking, sessionization,
# triplet mining, RRF retrieval, the datasheet.
CORPUS_OPS_R6 = [
    "q_substring_dup",
    "q_winnowing_select",
    "q_doc_chunking",
    "q_dsir_weights",
    "q_semdedup",
    "q_bpe_tokenize",
    "q_sessionize_gap",
    "q_contrastive_triplets",
    "q_rrf_fusion",
    "q_data_card",
]

# Round-6 second wave: statistical mining + training-data-generation
# operators (operators/mining.py) — again a NEW group so every prior
# total stays comparable.
MINING_OPS = [
    "q_pmi_collocations",
    "q_market_basket",
    "q_gini",
    "q_autocorr",
    "q_anomaly_mad",
    "q_weighted_sample",
    "q_curriculum_order",
    "q_span_corruption",
    "q_embed_kmeans",
    "q_latency_percentiles",
    "q_psi_drift",
    "q_skyline",
    "q_budget_allocation",
    "q_time_weighted_avg",
    "q_vocab_growth",
    "q_adamic_adar",
    "q_hits",
    "q_attribution",
    "q_pseudonymize",
    "q_markov_transitions",
    "q_chi_square",
    "q_mutual_info",
    "q_decision_stump",
]

# Round-6 fourth wave: feature-engineering / inference-audit operators
# (operators/ml_features.py) — NEW group, same comparability rule.
ML_FEATURE_OPS = [
    "q_rfm_segments",
    "q_target_encode",
    "q_woe_iv",
    "q_bootstrap_ci",
    "q_changepoint",
    "q_nearest_centroid",
    "q_ann_recall",
    "q_power_iteration",
    "q_calibration_bins",
    "q_event_trigrams",
    "q_boilerplate_blocks",
    "q_ppl_buckets",
    "q_bloom_prefilter",
    "q_churn_labels",
    "q_skipgram_pairs",
    "q_negative_samples",
    "q_kfold_assign",
    "q_countmin_audit",
    "q_auc_score",
    "q_ks_test",
    "q_temporal_split",
    "q_coldstart_audit",
    "q_embed_outliers",
    "q_dedup_modality_diff",
    "q_naive_bayes",
    "q_itemsets3",
    "q_dim_truncation",
    "q_spearman",
    "q_trimmed_mean",
    "q_sliced_auc",
    "q_skew_radar",
    "q_join_size_audit",
]


# Round-6 fifth-session additions: time-series/feature keys, sketch
# audits, and the dedup tuning tables. Separate group so every prior
# total stays comparable.
SESSION5_OPS = [
    "q_lag_features",
    "q_seasonal_dow",
    "q_rolling_median",
    "q_pit_features",
    "q_ols2",
    "q_kmv_overlap",
    "q_log_odds_terms",
    "q_dedup_threshold_sweep",
    "q_gains_table",
    "q_random_projection",
    "q_quality_prune_curve",
    "q_label_noise",
    "q_dp_counts",
    "q_weighted_quantile",
    "q_cohort_ltv",
    "q_band_tuning",
    "q_zipf_fit",
    "q_prefix_cache_hits",
    "q_peak_concurrency",
    "q_sample_quantile_audit",
    "q_asof_nearest",
    "q_wilson_ci",
    "q_percentile_cont",
    "q_vocab_coverage",
    "q_embed_standardize",
    "q_rolling_corr",
    "q_ndcg",
    "q_score_calibrate",
    "q_seasonal_anomalies",
    "q_out_of_order_audit",
    "q_dup_quality_bias",
    "q_equi_depth_histogram",
    "q_mutual_nn",
    "q_winsorized_stats",
]


# Round-7 additions: content-defined chunking (the incremental-recrawl
# dedup tier) and temporal-correct streaming enrichment. Own group so
# every prior total stays comparable.
CORPUS_OPS_R7 = [
    "q_cdc_chunks",
    "q_stream_asof_enrich",
]

# Round-8 additions: keyed MERGE INTO (the canonical ingestion write)
# and the compaction planner (the canonical maintenance read). Own
# group, same comparability rule as every prior round.
R8_OPS = [
    "q_merge_upsert",
    "q_compaction_plan",
]


def _duckdb_floor(sf_dir: str, keys: list[str], runs: int = 3) -> float:
    """Median total wall of the headline queries' DuckDB oracles on THIS
    box in THIS run (scripts/oracle_bench.py's methodology, inlined so
    the official record is self-normalizing — VERDICT r7 item 2: the
    ±40% co-tenancy swing makes any raw wall uninterpretable; the
    ratio against a same-run floor is the graded quantity)."""
    import duckdb

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    totals = []
    for sql in [oracles[k] for k in keys]:
        con.execute(sql).fetchall()  # warm: page cache + plan
    for _ in range(runs):
        t0 = time.monotonic()
        for key in keys:
            con.execute(oracles[key]).fetchall()
        totals.append(time.monotonic() - t0)
    con.close()
    return round(_median(totals), 4)


# Every key in any timed bench group above — the complement (within the
# full registry) is the driver-sample blind spot item 6 of VERDICT r7
# asks to put on record: per-module single-pass walls at sf0.001.
def _grouped_keys() -> set[str]:
    out: set[str] = set(HEADLINE)
    for g in (
        LLM_OPS,
        VARIANT_OPS,
        CORPUS_OPS_R6,
        MINING_OPS,
        ML_FEATURE_OPS,
        SESSION5_OPS,
        CORPUS_OPS_R7,
        R8_OPS,
    ):
        out.update(g)
    return out


def _module_walls(spark, queries) -> tuple[dict[str, dict], dict[str, int]]:
    """One timed pass per UN-GROUPED registry key at sf0.001, rolled up
    per operator module. 304 of 354 keys have never been graded by the
    driver's 50-key sample; this table makes their latency a recorded,
    diffable artifact so a future sample rotation can't surprise.
    sf0.001 keeps the pass to ~2 min (wall here is Spark's per-action
    floor, which is exactly what a surprise would consist of).

    Also returns the ACTION CENSUS (VERDICT r8 item 5): Spark job count
    per key via setJobGroup + statusTracker, this pass (stores warm from
    the earlier groups, so counts are steady-state). At ~15x solo ratio
    the per-action scheduling floor IS the bench — a key triggering N
    jobs pays ~N x 0.2-0.5s regardless of data size. Caveats: broadcast
    /AQE subquery jobs count too (a 2-3 count is one action + exchange
    work, not a loop), and streaming micro-batch jobs run on scheduler
    threads OUTSIDE the group, so stream keys under-count — their
    harness cost is tracked by stream_setup/drain_sec instead."""
    sf_small = os.environ.get(
        "SPARK_GRAFT_SMALL_SF_DIR", "/root/testdata/sf0.001"
    )
    grouped = _grouped_keys()
    per_module: dict[str, dict] = {}
    census: dict[str, int] = {}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    prev_key = prev_group = None
    for key in sorted(queries):
        if key in grouped:
            continue
        mod = queries[key].__module__.rsplit(".", 1)[-1]
        group = f"census_{key}"
        sc.setJobGroup(group, key)
        # statusTracker is fed by the async listener bus, so the read
        # right after collect() can miss a key's tail job (ADVICE r9).
        # Re-read the PREVIOUS key's group here — a full key's wall time
        # later — and keep the larger count; retention (default 1000
        # jobs) easily covers one key of lag.
        if prev_group is not None:
            try:
                census[prev_key] = max(
                    census.get(prev_key, 0),
                    len(tracker.getJobIdsForGroup(prev_group)),
                )
            except Exception:
                pass
        t0 = time.monotonic()
        try:
            queries[key](spark, sf_small).collect()
            wall = round(time.monotonic() - t0, 4)
            err = None
        except Exception as exc:  # recorded, not fatal — bench must finish
            wall = round(time.monotonic() - t0, 4)
            err = type(exc).__name__
        try:
            census[key] = len(tracker.getJobIdsForGroup(group))
        except Exception:
            pass
        prev_key, prev_group = key, group
        slot = per_module.setdefault(
            mod, {"total_sec": 0.0, "n_keys": 0, "max_key": None, "max_sec": 0.0}
        )
        slot["total_sec"] = round(slot["total_sec"] + wall, 4)
        slot["n_keys"] += 1
        if err is not None:
            slot.setdefault("errors", {})[key] = err
        if wall > slot["max_sec"]:
            slot["max_sec"], slot["max_key"] = wall, key
    # Final key's late re-read after a short listener-bus quiesce.
    if prev_group is not None:
        time.sleep(0.2)
        try:
            census[prev_key] = max(
                census.get(prev_key, 0),
                len(tracker.getJobIdsForGroup(prev_group)),
            )
        except Exception:
            pass
    # Public-API group clear (ADVICE r9: no private _jsc reach-through).
    try:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    except Exception:
        pass
    return per_module, census


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def _spread(round_totals: list[float]) -> dict[str, float]:
    return {
        "min": round(min(round_totals), 4),
        "median": round(_median(round_totals), 4),
        "max": round(max(round_totals), 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from data_ingestion_service_spark.registry import QUERIES, load_all_operators
    from data_ingestion_service_spark.session import get_spark

    load_all_operators()
    spark = get_spark(app_name="ingestion-engine-bench")

    keys = [k for k in HEADLINE if k in QUERIES]
    # Warm-up round: JIT, generated classes (kept by get_spark's codegen
    # cache size) + parquet footer caches (untimed). Also
    # spin up the Python/Arrow worker pool: the first Python stage in a
    # session pays ~5s of one-time worker forks, which would otherwise
    # land entirely on whichever single query happens to hit Python first
    # — a long-running service (and the steady state this bench measures)
    # always has a warm pool.
    cpus = spark.sparkContext.defaultParallelism
    t0 = time.monotonic()
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda batches: batches, "id long"
    ).count()
    # Reported separately so an external harness timing a COLD session can
    # reconcile its numbers with these steady-state ones: the first Python
    # stage of any session pays this once.
    python_worker_warmup = round(time.monotonic() - t0, 4)
    for key in keys:
        QUERIES[key](spark, sf_dir).collect()

    # Median-of-3 (r5 verdict item 5): one sample per query made the
    # documented ±20% co-tenancy swings unfalsifiable as noise — a round-
    # over-round delta could never be attributed. 3 timed rounds after the
    # warm-up; the JSON reports the per-query MEDIAN (so `queries` stays
    # shape-compatible with every prior BENCH_r*.json) plus min/median/max
    # of the per-round totals so the spread itself is on record.
    N_SAMPLES = 3
    from data_ingestion_service_spark.streaming import stream_queries as _sq

    samples: dict[str, list[float]] = {k: [] for k in keys}
    round_totals: list[float] = []
    # Per-sample replay-harness split for the streamed headline key
    # (VERDICT r6 item 4): setup = writeStream.start() wall, drain =
    # processAllAvailable() wall. Additive detail only — the headline
    # total still charges the streamed query its full wall time.
    stream_setup: list[float] = []
    stream_drain: list[float] = []
    for _ in range(N_SAMPLES):
        rt0 = time.monotonic()
        for key in keys:
            t0 = time.monotonic()
            QUERIES[key](spark, sf_dir).collect()
            samples[key].append(time.monotonic() - t0)
            if key == "q_events_tumbling":
                drain = _sq.LAST_DRAIN.record
                stream_setup.append(drain["setup_sec"])
                stream_drain.append(drain["drain_sec"])
        round_totals.append(round(time.monotonic() - rt0, 4))
    timings = {k: round(_median(v), 4) for k, v in samples.items()}

    # Secondary throughput metric: the same queries through an 8-thread
    # client pool (Spark's scheduler overlaps job overheads; this is how a
    # multi-tenant ingestion service actually runs).
    t0 = time.monotonic()
    with ThreadPoolExecutor(8) as pool:
        list(pool.map(lambda k: QUERIES[k](spark, sf_dir).collect(), keys))
    concurrent_total = round(time.monotonic() - t0, 4)

    # LLM-ops group: no dedicated warm-up pass (these are dominated by real
    # shuffle/compute, not JIT), but the same 3-sample median — with median
    # selection a one-off cold first sample self-discards.
    llm_samples: dict[str, list[float]] = {
        k: [] for k in LLM_OPS if k in QUERIES
    }
    llm_round_totals: list[float] = []
    for _ in range(N_SAMPLES):
        rt0 = time.monotonic()
        for key in llm_samples:
            t0 = time.monotonic()
            QUERIES[key](spark, sf_dir).collect()
            llm_samples[key].append(time.monotonic() - t0)
        llm_round_totals.append(round(time.monotonic() - rt0, 4))
    llm_timings = {k: round(_median(v), 4) for k, v in llm_samples.items()}
    # Cold (first-sample) walls alongside the medians: the session-
    # persisted pair/signature stores are warm in samples 2-3, so a
    # cache-backed op's median is its WARM path — the cold number is the
    # honest round-over-round comparable for those ops.
    llm_cold = {k: round(v[0], 4) for k, v in llm_samples.items()}

    def _time_group(
        group: list[str],
    ) -> tuple[dict[str, float], dict[str, float]]:
        """Per-key (median, cold-first-sample) walls for a bench group.

        Cold walls matter for every group whose keys probe session-
        persisted stores (scored_pairs, minhash signatures, band index,
        substring posting lists): the store build lands on whichever key
        touches it first, and samples 2-3 are warm — so the median alone
        hides the build cost (VERDICT r6 item 5).
        """
        med: dict[str, float] = {}
        cold: dict[str, float] = {}
        for key in [k for k in group if k in QUERIES]:
            vals = []
            for _ in range(N_SAMPLES):
                t0 = time.monotonic()
                QUERIES[key](spark, sf_dir).collect()
                vals.append(time.monotonic() - t0)
            med[key] = round(_median(vals), 4)
            cold[key] = round(vals[0], 4)
        return med, cold

    variant_timings, _ = _time_group(VARIANT_OPS)
    r6_timings, r6_cold = _time_group(CORPUS_OPS_R6)
    r7_timings, _ = _time_group(CORPUS_OPS_R7)
    r8_timings, _ = _time_group(R8_OPS)
    # mining_ops keys build no session stores — median-only is honest there.
    mining_timings, _ = _time_group(MINING_OPS)
    mlf_timings, mlf_cold = _time_group(ML_FEATURE_OPS)
    s5_timings, s5_cold = _time_group(SESSION5_OPS)

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Driver-sample blind-spot rollup (VERDICT r7 item 6). Gate with
    # SPARK_GRAFT_MODULE_WALLS=0 when a quick headline-only run is wanted.
    if os.environ.get("SPARK_GRAFT_MODULE_WALLS", "1") != "0":
        module_walls, action_census = _module_walls(spark, QUERIES)
    else:
        module_walls, action_census = {}, {}

    # Same-run DuckDB floor + ratios (VERDICT r7 item 2): measured LAST,
    # after every Spark sample, so the floor never co-tenants the Spark
    # timings it normalizes.
    floor = _duckdb_floor(sf_dir, keys)
    ratio_solo = round(total / floor, 2) if floor > 0 else None
    ratio_concurrent = (
        round(concurrent_total / floor, 2) if floor > 0 else None
    )

    # Two-tier output (VERDICT r6 item 1): the per-query detail dict grew
    # past the driver's ~2KB output-tail capture in round 6, so the round's
    # official record lost its headline ("parsed": null). The FINAL printed
    # line is now a compact (<1KB) summary — headline value + spreads +
    # group totals — guaranteed to survive tail capture; the full per-query
    # detail goes on the PRECEDING line and into bench_detail.json.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_samples": N_SAMPLES,
        "queries": timings,
        "round_totals_min_med_max": _spread(round_totals),
        "llm_round_totals_min_med_max": _spread(llm_round_totals),
        "concurrent_total_8_threads": concurrent_total,
        "cold_python_worker_warmup_sec": python_worker_warmup,
        "stream_setup_sec": round(_median(stream_setup), 4) if stream_setup else None,
        "stream_drain_sec": round(_median(stream_drain), 4) if stream_drain else None,
        "llm_ops": llm_timings,
        "llm_ops_total": round(sum(llm_timings.values()), 4),
        "llm_ops_cold": llm_cold,
        "llm_ops_cold_total": round(sum(llm_cold.values()), 4),
        "variants": variant_timings,
        "corpus_ops_r6": r6_timings,
        "corpus_ops_r6_total": round(sum(r6_timings.values()), 4),
        "corpus_ops_r6_cold": r6_cold,
        "corpus_ops_r6_cold_total": round(sum(r6_cold.values()), 4),
        "corpus_ops_r7": r7_timings,
        "corpus_ops_r7_total": round(sum(r7_timings.values()), 4),
        "r8_ops": r8_timings,
        "r8_ops_total": round(sum(r8_timings.values()), 4),
        "mining_ops": mining_timings,
        "mining_ops_total": round(sum(mining_timings.values()), 4),
        "ml_feature_ops": mlf_timings,
        "ml_feature_ops_total": round(sum(mlf_timings.values()), 4),
        "ml_feature_ops_cold": mlf_cold,
        "ml_feature_ops_cold_total": round(sum(mlf_cold.values()), 4),
        "session5_ops": s5_timings,
        "session5_ops_total": round(sum(s5_timings.values()), 4),
        "session5_ops_cold": s5_cold,
        "session5_ops_cold_total": round(sum(s5_cold.values()), 4),
        "module_walls_sf0001": module_walls,
        # Steady-state Spark-job count per un-grouped key (see
        # _module_walls docstring for caveats); sorted worst-first so the
        # top action-floor offenders lead the record.
        "action_census": dict(
            sorted(action_census.items(), key=lambda kv: -kv[1])
        ),
        "duckdb_floor_sec": floor,
        "ratio_solo": ratio_solo,
        "ratio_concurrent": ratio_concurrent,
        "n_registered_queries": len(QUERIES),
        "sf": sf_val,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # detail file is best-effort; the printed lines are the record
    print(json.dumps(detail))

    # Compact summary — MUST stay the last line and well under 1KB. Field
    # names match prior rounds' records for round-over-round comparability.
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_samples": N_SAMPLES,
        "queries": timings,
        "round_totals_min_med_max": _spread(round_totals),
        "concurrent_total_8_threads": concurrent_total,
        "stream_setup_sec": detail["stream_setup_sec"],
        "stream_drain_sec": detail["stream_drain_sec"],
        "llm_ops_total": detail["llm_ops_total"],
        "llm_ops_cold_total": detail["llm_ops_cold_total"],
        "corpus_ops_r6_total": detail["corpus_ops_r6_total"],
        "corpus_ops_r6_cold_total": detail["corpus_ops_r6_cold_total"],
        "corpus_ops_r7_total": detail["corpus_ops_r7_total"],
        "r8_ops_total": detail["r8_ops_total"],
        "mining_ops_total": detail["mining_ops_total"],
        "ml_feature_ops_total": detail["ml_feature_ops_total"],
        "ml_feature_ops_cold_total": detail["ml_feature_ops_cold_total"],
        "session5_ops_total": detail["session5_ops_total"],
        "session5_ops_cold_total": detail["session5_ops_cold_total"],
        "duckdb_floor_sec": floor,
        "ratio_solo": ratio_solo,
        "ratio_concurrent": ratio_concurrent,
        "n_registered_queries": len(QUERIES),
        "sf": sf_val,
        "detail": "bench_detail.json",
    }
    line = json.dumps(summary)
    # Budget: the driver captures only the LAST ~2KB of output; the final
    # line must fit with headroom even if every value grows a digit.
    # Explicit raise, not assert — python -O must not strip the guard
    # (same convention as corpus_dedup's persist-floor check).
    if len(line) >= 1400:
        raise ValueError(f"summary line {len(line)}B breaches 1400B budget")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
