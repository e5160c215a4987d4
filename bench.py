"""Benchmark harness (driver contract).

Runs the headline declared queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each row is timed by ``bicis_spark.measure`` (builder + noop-sink write,
min of 2 runs per pass, min across passes) after a warm-up of the
session. The detail file ``BENCH_FULL_sf{sf}_c{cpus}.json`` holds every
row's seconds and its layered record (build/exec split, jobs, stages,
task CPU, GC, shuffle and spill bytes).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bicis_spark.measure import measure  # noqa: E402
from bicis_spark.plans import queries as registry  # noqa: E402
from bicis_spark.session import get_spark  # noqa: E402
from bicis_spark.sources.io import read_table  # noqa: E402

# Headline rows in run order, each with the round it joined the bench.
# ``rN_overlap_total`` sums the rows with round <= N: exactly the rows a
# round-N bench ran, so totals stay comparable across rounds. Rows that
# are quadratic by design (ann_topk_bruteforce, dedup_embedding_cosine)
# stay out, so the total reflects plans one would run at scale.
HEADLINE: dict[str, int] = {
    "hour_profile": 1,                # two-level agg + join (flagship)
    "next_window_target": 1,          # range-frame window (W1 centerpiece)
    "circular_lag_features": 1,       # pivot + broadcast map join (W3/J4)
    "ml_dataset": 1,                  # full feature/target assembly (J2)
    "pricing_summary": 1,             # TPC-H Q1 shape, decimal aggs
    "revenue_per_brand": 1,           # fact x broadcast dim join
    "topk_orders_per_customer": 1,    # window top-k
    "hourly_event_counts": 1,         # tumbling buckets (A6)
    "dedup_ngram_jaccard": 1,         # shingle blocking + exact verify
    "dedup_minhash_lsh_fast": 1,      # LSH scale path (xxhash64)
    "ann_topk_lsh": 2,                # similarity search scale path (bucketed)
    "ann_topk_ivf": 2,                # trained-IVF inverted lists (scale path)
    "dedup_embedding_cosine_lsh": 2,  # LSH-blocked near-dup (scale path)
    "text_quality": 1,                # text analysis column exprs
    "doc_fingerprints": 1,            # rolling-hash fingerprint
    "sessionization": 1,              # lag + running-sum window
    "asof_latest_order": 1,           # JVM-native as-of join (join + max_by)
    "range_join_recent_orders": 1,    # bucketized range equi-join
    "curation_pipeline": 1,           # composed quality->dedup->lang pipeline
    "ols_fit_stats": 2,               # exact-sum closed-form OLS (model math)
    "benchmark_decontamination": 2,   # broadcast n-gram semi-join (corpus unshuffled)
    "sequence_packing": 2,            # per-shard concat-and-chunk packing window
    "tfidf_top_terms": 2,             # explode agg + broadcast vocab join
    "funnel_view_click_purchase": 3,  # ordered funnel (chained user-key joins)
    "interval_overlap_error_purchase": 3,  # bucketed interval-overlap join
    "vocab_encode_documents": 3,      # broadcast-map token encoding (corpus unshuffled)
    "pagerank_part_supplier": 3,      # iterative fixed-point graph (3 rounds)
    "snapshot_diff_orders": 3,        # full-outer version reconciliation
    "scd2_customer_status": 3,        # SCD2 dimension build (shared-exchange windows)
    "char_entropy_quality": 3,        # entropy via broadcast libm log table
    "q3_shipping_priority": 3,        # TPC-H Q3 shape (pushed filters + TakeOrdered)
    "q5_local_supplier_volume": 3,    # 6-table join, nation-correlation
    "q10_returned_items": 3,          # TPC-H Q10 shape
    "topk_agg_orders_per_customer": 3,  # salted hash-agg top-k (window-free)
    "prorated_daily_revenue": 3,      # sequence+explode exact proration
    "asof_nearest_order": 3,          # banded nearest as-of (join + max_by)
    "group_sample_events": 3,         # RNG-free per-group sampling
    "ann_topk_pq": 4,                 # PQ-ADC compressed scoring + exact re-rank
    "semantic_dedup_flags": 4,        # SemDeDup cluster-then-dedup
    "span_dedup_rebuild": 4,          # C4 duplicated-span removal + rebuild
    "unigram_surprisal_quality": 4,   # corpus-LM perplexity-proxy filter
    "q18_large_orders": 4,            # HAVING-gated semi-join (TPC-H battery II)
    "q7_volume_shipping": 4,          # nation-dim double-role join
    "q9_product_type_profit": 4,      # join fan + two-measure profit agg
    "q13_customer_distribution": 4,   # outer-join count-of-counts
    "dsir_importance_resample": 4,    # map-only DSIR selection vs broadcast histograms
    "dedup_incremental_batch": 4,     # anti-join vs 16-byte fingerprint index
    "pit_status_at_ship": 4,          # point-in-time SCD2 dimension lookup
    "quality_classifier_flags": 4,    # map-side hashed-feature linear scorer
    "holt_winters_forecast_user_value": 4,  # seasonal list-state fold (m=24)
    "multimodal_bmp_wav_decode": 5,   # real BMP/WAV byte codecs over mapInPandas
    "cluster_balanced_sample": 5,     # k-means topic rebalancing sample
    "ngram_novelty_scores": 5,        # gram-keyed min-owner novelty audit
    "label_propagation_communities": 5,  # 2-round synchronous LPA
    "kaplan_meier_user_lifetimes": 5,  # survival curve (bounded fold)
    "incremental_agg_maintenance": 5,  # delta-merge materialized aggregate
    "cusum_hourly_drift": 5,          # integer CUSUM drift monitor
    "bm25_query_scores": 5,           # BM25 retrieval scoring
    "frequent_itemsets_parts": 5,     # exact Apriori pairs+triples
    "seasonal_decompose_hourly": 5,   # additive decomposition
    "domain_cap_sample": 5,           # per-domain cap via skew-bounded top-k
    "rrf_fusion_topk": 5,             # reciprocal-rank fusion of two rankers
    "kmv_distinct_contract": 5,       # bottom-k distinct sketch, bitwise-gated
    "dedup_prefix_filter_jaccard": 5,  # exact Jaccard join, prefix-filtered
    "mutual_information_features": 5,  # qlog-table MI feature ranking
    "benford_digit_audit": 5,         # first-digit distribution screen
    "naive_bayes_confusion": 5,       # integer-exact NB train/predict/eval
    "phrase_search_positional": 5,    # consecutive-position phrase match
    "weighted_quantiles_price": 5,    # two-pass bucketed exact weighted quantiles
    "brand_weighted_median_price": 5,  # grouped exact weighted median
    "bfs_part_supplier_hops": 5,      # frontier BFS (delta iteration)
    "dedup_edit_distance_names": 5,   # FastSS deletion-neighborhood edit<=1 join
    "interval_union_coverage_users": 5,  # merged-interval union coverage sweep
    "table_checksum_orders_monthly": 5,  # order-invariant HASH_AGG digest
    "mode_impute_event_types": 5,     # per-key categorical mode imputation
    "glm_poisson_irls_contract": 6,   # hash-gated one-IRLS-step Poisson fit
    "holt_winters_forecast_capped": 6,  # skew-bounded HW fold (prefix cap)
    "embedding_int8_quantize": 6,     # per-dim int8 scalar quantization
    "zorder_layout_orders": 6,        # Morton-interleave layout zone maps
    "skipgram_pairs": 6,              # word2vec +-2-window pair generation
    "cuped_adjusted_ab": 6,           # variance-reduced experiment readout
    "bom_subtree_rollup": 6,          # closed-form hierarchy subtree agg
    "embedding_covariance_ints": 6,   # integer-exact PCA covariance pass
    "incremental_join_view": 6,       # delta-decomposed join-view maintenance
    "golden_record_customers": 6,     # linkage -> clusters -> survivorship
    "zipf_fit_tokens": 6,             # log-log token distribution diagnostic
    "chisq_independence_cells": 6,    # per-cell Pearson chi-square screen
    "user_activity_streaks": 6,       # gaps-and-islands longest streaks
    "acf_hourly_counts": 6,           # Box-Jenkins lag screen, join-based
    "corpus_kl_divergence": 6,        # per-source drift screen, grid-free KL
    "changepoint_hourly_split": 6,    # binary-segmentation SSE cost curve
    "clustering_coefficient_parts": 6,  # per-vertex triangle density
    "kcore_parts": 6,                 # fixed-round degeneracy peel
    "interp_purchase_rate_at_errors": 6,  # linear-interpolation join
    "ccf_view_purchase": 6,           # lead-lag cross-correlation screen
    "ols_isotonic_calibration": 6,    # PAVA-equivalent monotone calibrator
    "forecast_mase_baselines": 6,     # scale-free forecast-eval contract
    "haar_energy_hourly": 6,          # multi-resolution variance location
    "join_size_by_key_stats": 6,      # CBO sizing identity, join-free plan
    "ecdf_dkw_bands_totalprice": 6,   # distribution-free CDF bands
    "mann_whitney_ab_spend": 6,       # histogram-rank nonparametric A/B test
    "event_type_runs": 6,             # value-change run-length encoding
    "sorted_neighborhood_pairs": 6,   # sliding-window linkage blocking
    "shortest_path_copurchase": 6,    # fixed-round weighted Bellman-Ford
    "cohort_ltv_curve": 6,            # cumulative monetization by cohort age
    "ucb1_event_type_arms": 6,        # optimism-under-uncertainty allocation
    "multimodal_jpeg_decode": 8,      # real baseline-JPEG decode (Huffman+IDCT)
    "multimodal_mpeg1_audio_decode": 8,  # real MPEG-1 Layer I bitstream decode
    "multimodal_mp3_decode": 9,       # real MPEG-1 Layer III decode (bit reservoir)
    "dedup_embedding_lsh_band_profile": 9,  # high-tau banded LSH pruning profile
    "ann_topk_ivfpq": 9,              # probed-list ADC composition (IVF router + PQ)
    "multimodal_video_decode": 9,     # real AVI/MJPEG demux + per-frame JPEG decode
    "multimodal_video_frame_sample": 9,  # real frame sampling (decode kept frames only)
    "exact_substring_spans": 9,       # Lee-et-al unaligned maximal duplicate spans
    "multimodal_png_decode": 9,       # wire-format-real PNG (zlib DEFLATE + defilter)
    "multimodal_gif_decode": 9,       # wire-format-real animated GIF (LZW from stream)
    "ann_topk_ivfpq_sqrt": 10,        # n_lists = √N IVF-PQ (clustered corpus)
    "ann_ivfpq_probe_curve": 10,      # recall-vs-probe curve, shared index
    "dedup_embedding_lsh_band_auto": 10,  # r = ⌊log₂ n⌋ banded profile
    "ann_topk_sq8": 10,               # int8 scalar-quantized scan + re-rank
    "ann_topk_ivfsq8": 11,            # IVF router + int8 scan (IVF40,SQ8)
    "ann_mmr_diversified": 11,        # greedy MMR re-rank over top-40
    "ann_topk_hamming": 11,           # binary sign bits + bit_count(xor) scan
    "ann_filtered_prepost_recall": 11,  # filtered-ANN strategy contract
    "doc_retrieval_hashed": 11,       # text -> hashed vector -> top-k pipeline
    "hybrid_retrieval_doc_rrf": 11,   # sparse+dense RRF-fused retrieval
    "embedding_pca_top_eigvec": 11,   # integer power-iteration PCA
}

# Rows whose first execution in a session swings several-fold on janino
# compile of their large generated expressions (2.1 -> 15.6 s measured,
# SCALE.md): both timed runs can land inside that window, so they get one
# untimed run first and the recorded minimum is the plan's warm cost.
VOLATILE_WARMUP = {
    "dedup_prefix_filter_jaccard",
    "ann_topk_pq",
    "pagerank_part_supplier",
}


def _host_calibration() -> float:
    """Host-speed probe: the min of 3 sha256 passes over 32 MiB (about
    0.05-0.1 s on a quiet reference box). The detail file records it
    before and after the run; a value 2x or more above a quiet run means
    the host was contended and the run's seconds are inflated, so its
    totals must not be compared with a quiet run's."""
    import hashlib

    blob = b"\x5a" * (32 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(blob).hexdigest()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _quiet_gate(max_tries: int = 10, threshold: float | None = None) -> float:
    """Optional load gate (SPARK_GRAFT_QUIET_GATE=1): take one baseline
    calibration, then retry the calibration up to ``max_tries`` times with
    30 s sleeps until it is at most ``threshold`` (env
    SPARK_GRAFT_QUIET_THRESHOLD; by default 2x the quietest EARLIER
    sample, a bar relative to this host that needs no per-host constant).
    A sample is never compared with itself. Returns the final
    calibration."""
    thr_env = os.environ.get("SPARK_GRAFT_QUIET_THRESHOLD")
    best_earlier = _host_calibration()  # baseline: never gated
    cal = _host_calibration()
    for _ in range(max_tries):
        thr = (
            float(thr_env)
            if thr_env
            else (best_earlier * 2.0 if threshold is None else threshold)
        )
        if cal <= thr:
            return cal
        time.sleep(30)
        best_earlier = min(best_earlier, cal)
        cal = _host_calibration()
    return cal


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.environ.get("SPARK_GRAFT_QUIET_GATE"):
        cal_pre = _quiet_gate()
    else:
        cal_pre = _host_calibration()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bicis_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    all_queries = registry.queries()
    names = [n for n in HEADLINE if n in all_queries]

    # warm-up: JVM + parquet footers
    all_queries[names[0]](spark, sf_dir).count()

    # A row's value is its minimum across passes (bicis_spark.measure);
    # the driver runs 2. SPARK_GRAFT_BENCH_PASSES=1 is the quick local form.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    rows, pass_totals = measure(
        spark, {n: all_queries[n] for n in names}, sf_dir,
        passes=n_passes, prewarm=VOLATILE_WARMUP,
    )
    timings = {n: r["sec"] for n, r in rows.items()}

    # Accuracy contracts for the approximate ANN scale paths: mean recall@5
    # vs exact brute force at this SF, recorded per round alongside the
    # timings so the speed/accuracy trade is tracked, not assumed.
    from pyspark.sql import functions as F  # noqa: E402

    recall: dict[str, float] = {}
    for rname in ("ann_lsh_recall", "ann_ivf_recall", "ann_pq_recall",
                  "ann_ivfpq_recall", "ann_ivfpq_sqrt_recall",
                  "ann_sq8_recall", "ann_ivfsq8_recall", "ann_hamming_recall",
                  "ann_hamming_uniform_recall"):
        if rname in all_queries:
            row = (
                all_queries[rname](spark, sf_dir)
                .agg(F.avg("recall").alias("r"))
                .collect()[0]
            )
            recall[rname + "@5"] = round(float(row["r"]), 4)

    # Streaming rows: each is a full availableNow drain of the staged
    # events source, timed like a batch row in one pass (run 1 pays source
    # staging and checkpoint creation), reported as seconds and input
    # rows per second.
    drains, _ = measure(
        spark,
        {n: all_queries[n] for n in sorted(all_queries) if n.startswith("streaming_")},
        sf_dir, passes=1,
    )
    n_events = read_table(spark, sf_dir, "events").count()
    streaming = {
        n: {"sec": r["sec"], "input_rows_per_sec": round(n_events / r["sec"], 1)}
        for n, r in drains.items()
    }

    total = round(sum(timings.values()), 4)
    overlaps = {
        f"r{N}_overlap_total": round(
            sum(t for q, t in timings.items() if HEADLINE[q] <= N), 4
        )
        for N in range(1, max(HEADLINE.values()) + 1)
    }
    streaming_total = round(sum(v["sec"] for v in streaming.values()), 4)

    # Per-row detail goes to a file; the stdout line stays compact and of
    # stable size as the headline grows, since the driver captures only a
    # bounded stdout tail.
    try:
        load_now = round(os.getloadavg()[0], 2)
    except OSError:
        load_now = None
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_timing_passes": n_passes,
        "per_pass_totals_sec": pass_totals,
        "host_calibration_pre_sec": cal_pre,
        "host_calibration_post_sec": _host_calibration(),
        "host_loadavg_1m_at_end": load_now,
        "cpus": cpus,
        "queries": timings,
        "rows": rows,
        **overlaps,
        "ann_mean_recall": recall,
        "streaming": streaming,
        "streaming_total_sec": streaming_total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The detail file is named by scale and core count, so a run never
    # overwrites the detail of another (sf, cpus) setting.
    # SPARK_GRAFT_DETAIL_FILE overrides the path (tests write to a temp dir
    # and leave the committed detail files alone).
    full_path = os.environ.get("SPARK_GRAFT_DETAIL_FILE") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_FULL_sf{sf}_c{cpus}.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": overlaps,  # compact: per-round subtotals
                "n_queries": len(timings),
                "ann_mean_recall": recall,
                "streaming_total_sec": streaming_total,
                "n_streaming": len(streaming),
                "detail_file": os.path.basename(full_path)
                if os.path.dirname(full_path)
                == os.path.dirname(os.path.abspath(__file__))
                else full_path,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
