"""Scaling probe: run representative headline queries at every available
scale factor and print per-SF wall time + input-rows/sec, as measured
evidence for SCALE.md's linearity claims (sub-linear time growth vs the
100x row growth from sf0.001 to sf0.1 = fixed overhead still dominating;
~linear growth = compute-bound already).

Usage: python scripts/scale_probe.py [sf_dir_root=/root/testdata]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bicis_spark.measure import measure  # noqa: E402
from bicis_spark.plans import queries as registry  # noqa: E402
from bicis_spark.session import get_spark  # noqa: E402

#: Probe rows in run order, each with the table whose row count is its
#: input size.
PROBES = {
    "hour_profile": "events",                 # agg+join on events
    "pricing_summary": "lineitem",            # scan-agg on lineitem (largest table)
    "next_window_target": "events",           # bucketed window
    "dedup_minhash_lsh_fast": "documents",    # LSH self-join on documents
    "ann_topk_lsh": "embeddings",             # bucketed ANN on embeddings
    "sequence_packing": "documents",          # per-shard window on documents
    "embedding_covariance_ints": "embeddings",  # broadcast-dim pair agg on embeddings
    "skipgram_pairs": "documents",            # array-native pair gen on documents
    "zorder_layout_orders": "orders",         # map-side z-value + one agg on orders
    "incremental_join_view": "lineitem",      # 4-term delta join decomposition
    "ols_isotonic_calibration": "lineitem",   # one-pass cents histogram + bounded frames
    "kcore_parts": "lineitem",                # cascading k=80 peel, combination pair build
    "clustering_coefficient_parts": "lineitem",  # degree-oriented wedge join
    "golden_record_customers": "customer",    # FastSS linkage -> CC -> survivorship
    "shortest_path_copurchase": "lineitem",   # Bellman-Ford fixed rounds
    "pagerank_part_supplier": "lineitem",     # fixed-point iteration
    "corpus_kl_divergence": "documents",      # closed-form absent-mass decomposition
    "frequent_itemsets_parts": "lineitem",    # k=2/3 itemset self-joins
    "dedup_exact": "documents",               # fingerprint shuffle
    "dedup_simhash": "documents",             # 64-bit banded hamming blocks
    "dedup_embedding_cosine_lsh": "embeddings",  # sign-bit banded blocking + exact verify
    "semantic_dedup_two_level_flags": "embeddings",  # super->sub k-means shards
    "ann_topk_ivf": "embeddings",             # IVF lists, n_probe=6
    "ann_topk_pq": "embeddings",              # PQ/ADC + exact re-rank
    "dedup_embedding_lsh_band_profile": "embeddings",
    "ann_topk_ivfpq": "embeddings",
    "exact_substring_spans": "documents",
    "multimodal_video_decode": "documents",
    "ann_topk_bruteforce": "embeddings",
    "ann_topk_ivfpq_sqrt": "embeddings",
    "dedup_embedding_lsh_band_auto": "embeddings",
    "ann_topk_sq8": "embeddings",
    "ann_topk_ivfsq8": "embeddings",
    "ann_mmr_diversified": "embeddings",
    "ann_topk_hamming": "embeddings",
    "doc_retrieval_hashed": "documents",
    "hybrid_retrieval_doc_rrf": "documents",
    "embedding_pca_top_eigvec": "embeddings",
}


def _sqrt_build_search_split(spark, sf_dir: str) -> dict[str, float]:
    """Build-vs-search split for the √N IVF-PQ row: the builder below
    builds the index (coarse training on the bounded sample, the one-pass
    full assignment, PQ encode) and materializes it, then returns the
    search over the persisted index. The record's ``build_s`` is the
    index build and its ``exec_s`` the search; the declared row runs both
    fused. The search is given the fixed query count, as the declared row
    is, so no search job runs on the build side; only the (job-free)
    construction of the search plan does. Build and search come from the
    same run, the faster of the two passes; one run per pass, so each
    timed build starts without caches."""
    from bicis_spark.extensions.similarity import _ivfpq_build, _ivfpq_search
    from bicis_spark.plans.extension_queries import (
        _ANN_Q_N,
        _PQ_DIMS,
        _PQ_ITERS,
        _PQ_K,
        _PQ_MOD,
        _PQ_RERANK,
        _PQ_SUBS,
        _ann_queries,
        _clustered_corpus,
        _sqrt_sizing,
    )

    emb = _clustered_corpus(spark, sf_dir)
    queries = _ann_queries(emb)
    n_lists, n_probe, train_sample = _sqrt_sizing(emb)

    def build_then_search(spark, sf_dir):
        c, cents, cb, codes = _ivfpq_build(
            emb, n_centroids_mod=50, max_lists=None, ivf_train_iters=1,
            n_subspaces=_PQ_SUBS, sub_dims=_PQ_DIMS, seed_mod=_PQ_MOD,
            pq_train_iters=_PQ_ITERS, max_codes=_PQ_K, id_col="vec_id",
            vec_col="embedding", n_lists=n_lists, persist_codes=True,
            train_sample=train_sample,
        )
        codes.count()  # materialize the persisted index
        return _ivfpq_search(
            c, cents, cb, codes, queries, k=5, n_probe=n_probe,
            n_subspaces=_PQ_SUBS, sub_dims=_PQ_DIMS, rerank=_PQ_RERANK,
            id_col="vec_id", vec_col="embedding", n_queries=_ANN_Q_N,
        )

    records, _ = measure(spark, {"split": build_then_search}, sf_dir, runs=1)
    return {"build_sec": records["split"]["build_s"],
            "search_sec": records["split"]["exec_s"]}


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
    probes = list(PROBES)
    if len(sys.argv) > 2:  # optional comma-separated probe subset
        wanted = set(sys.argv[2].split(","))
        probes = [p for p in PROBES if p in wanted]
    sfs = sorted(
        d for d in os.listdir(root) if d.startswith("sf") and
        os.path.isdir(os.path.join(root, d))
    )
    spark = get_spark(app_name="scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    import duckdb

    rows_per_sf: dict[str, dict[str, int]] = {}
    for sf in sfs:
        rows_per_sf[sf] = {}
        for t in set(PROBES.values()):
            rows_per_sf[sf][t] = duckdb.sql(
                f"SELECT count(*) FROM '{os.path.join(root, sf, t)}.parquet'"
            ).fetchone()[0]

    out: dict[str, dict[str, dict[str, float]]] = {}
    for name in probes:
        out[name] = {}
        for sf in sfs:
            sf_dir = os.path.join(root, sf)
            sec = measure(spark, {name: qs[name]}, sf_dir, passes=1)[0][name]["sec"]
            n = rows_per_sf[sf][PROBES[name]]
            out[name][sf] = {
                "sec": sec,
                "input_rows": n,
                "rows_per_sec": round(n / sec),
            }
            if name == "ann_topk_ivfpq_sqrt":
                out[name][sf].update(_sqrt_build_search_split(spark, sf_dir))
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
