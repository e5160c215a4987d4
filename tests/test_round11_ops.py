"""Round-11 regression guards.

* Salted ANN top-k selection (r10 verdict #4): `_topk_per_query` is
  bit-identical to the `row_number` window form it replaced (order DESC
  NULLS LAST, neighbor_id tiebreak), including NULL order values.
* Fixed-r=8 band-profile corpus bound (r10 verdict #1): 512 is exactly
  the largest n where the auto discipline yields r = 8, and the bounded
  row equals the unbounded one at sf0.001 (the regression guarantee).
* Sample-bounded coarse training (r10 verdict #3): train_sample larger
  than the corpus is a no-op (bit-identical index), and the bounded
  trainer still produces the declared recall on the clustered corpus.
* IVF-SQ8 (round-11 new): output contract (ranks 1..k, no self-matches,
  no duplicate neighbors) and agreement with the flat SQ8 scan's top-1
  on the real corpus at full probe count.
* MMR diversified top-k (round-11 new): rank-1 is the pure relevance
  argmax; selections are distinct; on a constructed corpus with two
  near-duplicate top candidates, MMR demotes the duplicate where plain
  top-k would keep it adjacent.
* bench quiet gate (r10 ADVICE #1): the self-relative bar now compares
  against earlier samples only (a contended second sample fails the
  first-sample bar).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Salted top-k parity with the window form
# ---------------------------------------------------------------------------


def _window_topk(scored, order_col, k):
    w = Window.partitionBy("query_id").orderBy(
        F.col(order_col).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            order_col,
            F.col("rank").cast("long").alias("rank"),
        )
    )


def test_topk_per_query_matches_window_form(spark):
    from bicis_spark.extensions.similarity import _topk_per_query

    # deterministic pseudo-random scores, plus NULLs sprinkled in (the
    # zero-norm-cosine case): parity must hold under DESC NULLS LAST
    base = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("query_id"),
        F.col("id").alias("neighbor_id"),
        F.when(
            F.col("id") % 97 != 0,
            (F.xxhash64(F.col("id")) % 1000).cast("double") / 1000.0,
        ).alias("cosine"),
    )
    got = _topk_per_query(base, "cosine", 5).orderBy("query_id", "rank")
    want = _window_topk(base, "cosine", 5).orderBy("query_id", "rank")
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_topk_per_query_shortlist_form(spark):
    from bicis_spark.extensions.similarity import _topk_per_query

    base = spark.range(0, 300).select(
        (F.col("id") % 3).alias("query_id"),
        F.col("id").alias("neighbor_id"),
        (F.xxhash64(F.col("id")) % 100).cast("double").alias("cosine"),
    )
    got = {
        (r.query_id, r.neighbor_id)
        for r in _topk_per_query(base, "cosine", 7, rank_col=None).collect()
    }
    want = {
        (r.query_id, r.neighbor_id)
        for r in _window_topk(base, "cosine", 7).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Fixed-r=8 corpus bound
# ---------------------------------------------------------------------------


def test_fixed_r_cap_is_the_auto_r8_regime():
    from bicis_spark.extensions.dedup import lsh_band_planes_auto
    from bicis_spark.plans.extension_queries import _LSH_FIXED_R_CORPUS_CAP

    assert _LSH_FIXED_R_CORPUS_CAP == 512
    # 512 ids -> max corpus size where floor(log2 n) clamps to 8:
    assert lsh_band_planes_auto(_LSH_FIXED_R_CORPUS_CAP - 1) == 8
    assert lsh_band_planes_auto(_LSH_FIXED_R_CORPUS_CAP) == 9


def test_bounded_band_profile_unchanged_at_small_sf(spark, sf_dir):
    # sf0.001: max vec_id = 49 < 512, so the bound is a no-op there
    from bicis_spark.extensions.dedup import embedding_lsh_band_profile
    from bicis_spark.plans.extension_queries import _LSH_FIXED_R_CORPUS_CAP
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    full = embedding_lsh_band_profile(
        emb, "vec_id", "embedding", threshold=0.9, n_bands=8, band_planes=8
    )
    bounded = embedding_lsh_band_profile(
        emb.where(F.col("vec_id") < _LSH_FIXED_R_CORPUS_CAP),
        "vec_id", "embedding", threshold=0.9, n_bands=8, band_planes=8,
    )
    key = lambda r: (r.band, r.n_candidates, r.n_dups)  # noqa: E731
    assert sorted(map(key, full.collect())) == sorted(
        map(key, bounded.collect())
    )


# ---------------------------------------------------------------------------
# Sample-bounded coarse training
# ---------------------------------------------------------------------------


def test_train_sample_noop_when_larger_than_corpus(spark, sf_dir):
    from bicis_spark.extensions.similarity import ann_topk_ivfpq
    from bicis_spark.plans.extension_queries import (
        _ann_queries,
        _clustered_corpus,
        _sqrt_sizing,
    )

    emb = _clustered_corpus(spark, sf_dir)
    queries = _ann_queries(emb)
    n_lists, n_probe, train_sample = _sqrt_sizing(emb)
    # at sf0.001 N = 50, sample bound 64*7 = 448 > N: identical results
    assert train_sample > emb.count()
    kwargs = dict(
        k=5, n_lists=n_lists, n_probe=n_probe, ivf_train_iters=1,
        n_subspaces=16, sub_dims=4, seed_mod=4, pq_train_iters=1,
        rerank=40, max_codes=256,
    )
    with_sample = ann_topk_ivfpq(
        emb, queries, train_sample=train_sample, **kwargs
    ).collect()
    without = ann_topk_ivfpq(emb, queries, **kwargs).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(with_sample, key=key) == sorted(without, key=key)


def test_train_sample_bounds_training_set(spark):
    # A genuinely-binding sample: 200 clustered vectors, 14 lists,
    # train on first 64. The index must still assign ALL vectors and
    # return k results per query.
    from bicis_spark.extensions.similarity import (
        ann_topk_ivfpq,
        synth_clustered_embeddings,
    )

    ids = spark.range(0, 200).select(F.col("id").alias("vec_id"))
    emb = synth_clustered_embeddings(ids, "vec_id", n_clusters=8, dims=64)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    out = ann_topk_ivfpq(
        emb, queries, k=3, n_lists=14, train_sample=64, n_probe=7,
        ivf_train_iters=1, n_subspaces=16, sub_dims=4, seed_mod=4,
        pq_train_iters=1, rerank=20, max_codes=256,
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == {0, 50, 100, 150}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


# ---------------------------------------------------------------------------
# IVF-SQ8
# ---------------------------------------------------------------------------


def test_ivfsq8_contract_and_full_probe_agreement(spark, sf_dir):
    from bicis_spark.extensions.similarity import ann_topk_ivfsq8, ann_topk_sq8
    from bicis_spark.plans.extension_queries import _ann_queries
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    out = ann_topk_ivfsq8(emb, queries, k=5, n_probe=10).collect()
    seen = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        seen.setdefault(r.query_id, set())
        assert r.neighbor_id not in seen[r.query_id], "duplicate neighbor"
        seen[r.query_id].add(r.neighbor_id)
        assert 1 <= r.rank <= 5
    # probing EVERY list degenerates to the flat SQ8 scan: identical rows
    n = emb.count()
    full = ann_topk_ivfsq8(emb, queries, k=5, n_probe=n).collect()
    flat = ann_topk_sq8(emb, queries, k=5, rerank=40).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id)  # noqa: E731
    assert sorted(full, key=key) == sorted(flat, key=key)


# ---------------------------------------------------------------------------
# MMR diversified top-k
# ---------------------------------------------------------------------------


def test_mmr_rank1_is_relevance_argmax_and_distinct(spark, sf_dir):
    from bicis_spark.extensions.similarity import (
        ann_topk_bruteforce,
        mmr_diversified_topk,
    )
    from bicis_spark.plans.extension_queries import _ann_queries
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    mmr = mmr_diversified_topk(emb, queries, k=5, shortlist=40).collect()
    top1 = {
        r.query_id: r.neighbor_id
        for r in ann_topk_bruteforce(emb, queries, k=1).collect()
    }
    by_q = {}
    for r in mmr:
        by_q.setdefault(r.query_id, {})[r.rank] = r
    for qid, rows in by_q.items():
        assert rows[1].neighbor_id == top1[qid]
        ids = [rows[i].neighbor_id for i in sorted(rows)]
        assert len(ids) == len(set(ids)), "duplicate selection"


def test_mmr_demotes_near_duplicate(spark):
    # corpus: query 0; ids 1 and 2 are IDENTICAL vectors (cosine 1.0 with
    # each other) and most-relevant; id 3 is orthogonal-ish. Plain top-3
    # keeps [1, 2, 3]; MMR must pick the duplicate (2) LAST because its
    # penalty vs the selected 1 is maximal.
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from bicis_spark.extensions.similarity import mmr_diversified_topk

    def vec(*vals):
        v = [0.0] * 64
        for i, x in enumerate(vals):
            v[i] = float(x)
        return v

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    rows = [
        (0, vec(1, 1, 0)),   # query
        (1, vec(1, 1, 0.1)),  # near-dup A (high relevance)
        (2, vec(1, 1, 0.1)),  # near-dup B (identical to A)
        (3, vec(1, 0, 0)),    # diverse, lower relevance
        (4, vec(0, 1, 0)),    # diverse, lower relevance
    ]
    corpus = spark.createDataFrame(rows, schema)
    queries = corpus.where(F.col("vec_id") == 0)
    out = mmr_diversified_topk(corpus, queries, k=3, shortlist=4).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order[0] == 1  # pure relevance argmax (tie 1 < 2)
    assert order[1] in (3, 4)  # the duplicate 2 is demoted
    assert 2 not in order[:2]


# ---------------------------------------------------------------------------
# Binary Hamming ANN
# ---------------------------------------------------------------------------


def test_sign_signature_words_match_python(spark, sf_dir):
    from bicis_spark.extensions.similarity import quantize, sign_signature_word
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(20)
    got = (
        emb.select("vec_id", quantize("embedding").alias("qv"))
        .select(
            "vec_id",
            "qv",
            sign_signature_word("qv", 0).alias("lo"),
            sign_signature_word("qv", 32).alias("hi"),
        )
        .collect()
    )
    for r in got:
        lo = sum((1 << j) for j in range(32) if r.qv[j] > 0)
        hi = sum((1 << j) for j in range(32) if r.qv[32 + j] > 0)
        assert (r.lo, r.hi) == (lo, hi)


def test_hamming_full_rerank_equals_bruteforce(spark, sf_dir):
    # rerank = N-1 makes the Hamming shortlist the whole corpus, so the
    # exact re-rank must reproduce brute force exactly
    from bicis_spark.extensions.similarity import (
        ann_topk_bruteforce,
        ann_topk_hamming,
    )
    from bicis_spark.plans.extension_queries import _ann_queries
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    n = emb.count()
    full = ann_topk_hamming(emb, queries, k=5, rerank=n).collect()
    bf = ann_topk_bruteforce(emb, queries, k=5).collect()
    key = lambda r: (r.query_id, r.rank, r.neighbor_id)  # noqa: E731
    assert sorted(full, key=key) == sorted(bf, key=key)


# ---------------------------------------------------------------------------
# Filtered ANN pre/post
# ---------------------------------------------------------------------------


def test_filtered_prepost_semantics(spark, sf_dir):
    from bicis_spark.extensions.similarity import ann_filtered_prepost
    from bicis_spark.plans.extension_queries import _ann_queries
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = _ann_queries(emb)
    pre, post = ann_filtered_prepost(
        emb, queries, lambda c: F.col(c) % 2 == 0, k=5, overfetch=20
    )
    pre_rows, post_rows = pre.collect(), post.collect()
    # every returned neighbor satisfies the predicate on both strategies
    assert all(r.neighbor_id % 2 == 0 for r in pre_rows)
    assert all(r.neighbor_id % 2 == 0 for r in post_rows)
    # post-filter keeps the ORIGINAL ranking order among survivors
    by_q = {}
    for r in post_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert len(rows) <= 5


# ---------------------------------------------------------------------------
# PCA power iteration — external validation against numpy's eigensolver
# ---------------------------------------------------------------------------


def test_pca_power_iteration_matches_numpy_on_clustered(spark, sf_dir):
    import numpy as np

    from bicis_spark.extensions.similarity import pca_power_iteration
    from bicis_spark.plans.extension_queries import _clustered_corpus

    emb = _clustered_corpus(spark, sf_dir)
    rows = pca_power_iteration(emb).collect()
    v = np.zeros(64)
    for r in rows:
        v[r.dim] = r.component
    ray = rows[0].rayleigh
    X = np.stack([np.array(r.embedding, dtype=float) for r in emb.collect()])
    C = np.cov(np.floor(X * 256).T, bias=False)
    evals, evecs = np.linalg.eigh(C)
    cos = abs(v @ evecs[:, -1]) / (np.linalg.norm(v) * np.linalg.norm(evecs[:, -1]))
    # 3 iterations on a corpus with a dominant direction: near-alignment
    # with the true top eigenvector, Rayleigh close to lambda_max. The
    # engine matrix is the fdiv(cov_num, n)-scaled integer covariance
    # (~ (n-1)x the numpy per-sample covariance), so compare ratios.
    assert cos > 0.95, cos
    lam_scaled = evals[-1] * (len(X) - 1)
    assert ray / lam_scaled > 0.9, (ray, lam_scaled)


# ---------------------------------------------------------------------------
# Hybrid sparse+dense RRF retrieval
# ---------------------------------------------------------------------------


def test_hybrid_rrf_semantics(spark, sf_dir):
    from bicis_spark.extensions.text import hybrid_retrieval_rrf
    from bicis_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = hybrid_retrieval_rrf(
        docs, (F.col("doc_id") % 100 == 0), k_final=10, k_cand=20
    ).collect()
    assert out, "hybrid retrieval returned nothing"
    for r in out:
        assert r.rank_dense is not None or r.rank_sparse is not None
        expect = 0.0
        if r.rank_dense is not None:
            expect += 1.0 / (60 + r.rank_dense)
        if r.rank_sparse is not None:
            expect += 1.0 / (60 + r.rank_sparse)
        assert r.rrf_score == expect
        assert 1 <= r.rank <= 10
    # within a query, rrf_score is non-increasing with rank
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        scores = [r.rrf_score for r in rows]
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# Query-side broadcast gate (r10 verdict residual #3)
# ---------------------------------------------------------------------------


def test_query_broadcast_gate(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from bicis_spark.extensions.similarity import (
        ANN_BROADCAST_MAX_QUERIES,
        _resolve_query_broadcast,
    )

    small = spark.range(0, 10).select(F.col("id").alias("query_id"))
    probe_frame = spark.range(0, 100).select(F.col("id").alias("k"))
    # static bound under the gate -> broadcast hint applied
    bq = _resolve_query_broadcast(small, 10)
    plan = bq(probe_frame)._jdf.queryExecution().logical().toString()
    assert "Hint" in plan or "hint" in plan
    # static bound over the gate -> identity (no hint node)
    nbq = _resolve_query_broadcast(small, ANN_BROADCAST_MAX_QUERIES + 1)
    plan2 = nbq(probe_frame)._jdf.queryExecution().logical().toString()
    assert "Hint" not in plan2 and "hint" not in plan2
    # None -> LIMIT-bounded runtime probe; 10 queries gate to broadcast
    bq3 = _resolve_query_broadcast(small, None)
    plan3 = bq3(probe_frame)._jdf.queryExecution().logical().toString()
    assert "Hint" in plan3 or "hint" in plan3


# ---------------------------------------------------------------------------
# bench quiet gate
# ---------------------------------------------------------------------------


def test_quiet_gate_compares_against_earlier_samples(monkeypatch):
    import bench

    samples = iter([0.05, 0.2, 0.3, 0.06])
    sleeps = []
    monkeypatch.setattr(bench, "_host_calibration", lambda: next(samples))
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    monkeypatch.delenv("SPARK_GRAFT_QUIET_THRESHOLD", raising=False)
    # baseline 0.05; 0.2 > 2*0.05 -> retry; 0.3 > 2*0.05 -> retry; 0.06 ok
    cal = bench._quiet_gate(max_tries=10)
    assert cal == 0.06
    assert len(sleeps) == 2
