"""The ANN search pipeline in ``extensions/similarity.py``: every entry
point — and every dedup, sampling and text-retrieval path built on the
same stages — is a composition of shared stages, so these tests pin what
a composition must keep: the Spark jobs each declared row runs, the
seed rule's entry check, and the query-side broadcast gate on every
|Q|-sized join."""

from __future__ import annotations

import pytest

from bicis_spark.caching import release_tracked
from bicis_spark.plans import queries as registry

ALL = registry.queries()

#: Spark jobs of one declared row per ANN entry point, and per row built
#: on the same search stages (dedup, sampling, text retrieval), at
#: sf0.001 in the test session (4 cores, 4 shuffle partitions), first
#: call with no tracked caches — index build included. Upper bounds, not
#: targets: some rows run fewer jobs in some calls at the same commit
#: (the IVF-PQ rows one more in about one call of ten), so each budget
#: is the larger count.
ANN_JOB_BUDGET = {
    "ann_topk_bruteforce": 5,
    "ann_topk_ivf": 66,
    "ann_topk_lsh": 6,
    "ann_topk_pq": 25,
    "ann_topk_ivfpq": 38,
    "ann_topk_ivfpq_sqrt": 40,
    "ann_ivfpq_probe_curve": 47,
    "ann_topk_sq8": 17,
    "ann_topk_ivfsq8": 34,
    "ann_mmr_diversified": 8,
    "ann_topk_hamming": 9,
    "ann_filtered_prepost_recall": 11,
    "semantic_dedup_flags": 21,
    "semantic_dedup_two_level_flags": 55,
    "cluster_balanced_sample": 12,
    "dedup_embedding_cosine": 4,
    "dedup_embedding_cosine_lsh": 18,
    "dedup_embedding_lsh_band_profile": 11,
    "dedup_embedding_lsh_band_auto": 13,
    "doc_retrieval_hashed": 7,
    "hybrid_retrieval_doc_rrf": 27,
    "hard_negative_candidates": 66,
}


#: Rows whose result at sf0.001 must not be empty: an empty result lets
#: the oracle check compare two empty sets and miss a wrong threshold.
NON_EMPTY = {"dedup_embedding_cosine"}


@pytest.mark.parametrize("name", sorted(ANN_JOB_BUDGET))
def test_ann_row_job_budget(name, spark, sf_dir, new_job_ids):
    """A declared ANN row runs no more Spark jobs than its budget. Oracle
    checks cannot see an extra job: a stage that trains on the wrong
    frame still returns the right rows."""
    release_tracked()
    try:
        with new_job_ids() as ids:
            rows = ALL[name](spark, sf_dir).collect()
    finally:
        release_tracked()
    assert len(ids) <= ANN_JOB_BUDGET[name], (name, len(ids))
    assert rows or name not in NON_EMPTY, name


@pytest.mark.parametrize(
    "entry",
    ["cluster_balanced_sample", "semantic_dedup", "ann_topk_ivf"],
)
def test_degenerate_seed_parameters_raise(entry, spark):
    """A seed rule that admits no seed (mod < 2, or a cap below 1) would
    train no centroid and assign no row — an empty result from a
    non-empty corpus. Every trained entry point rejects it up front."""
    from bicis_spark.extensions.dedup import semantic_dedup
    from bicis_spark.extensions.sampling import cluster_balanced_sample
    from bicis_spark.extensions.similarity import ann_topk_ivf

    corpus = spark.range(1, 33).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> CAST(pmod(id * i, 13) AS DOUBLE)) AS embedding",
    )
    build = {
        "cluster_balanced_sample": lambda: cluster_balanced_sample(
            corpus, n_centroids_mod=1
        ),
        "semantic_dedup": lambda: semantic_dedup(corpus, max_clusters=0),
        "ann_topk_ivf": lambda: ann_topk_ivf(
            corpus, corpus.where("vec_id % 8 = 0"), max_lists=0
        ),
    }[entry]
    try:
        with pytest.raises(ValueError, match="seed"):
            build()
    finally:
        release_tracked()


def test_sq8_repeat_reuses_the_built_index(spark, sf_dir, new_job_ids):
    """A repeat call of the int8 row finds the first call's tracked caches
    (the corpus projection) and runs 12 jobs instead of 17."""
    release_tracked()
    try:
        ALL["ann_topk_sq8"](spark, sf_dir).collect()
        with new_job_ids() as ids:
            ALL["ann_topk_sq8"](spark, sf_dir).collect()
    finally:
        release_tracked()
    assert len(ids) <= 12


def _broadcast_query_frames(df) -> list[str]:
    """Every broadcast hint in ``df``'s analyzed plan whose hinted frame
    carries a ``query_id`` column, as the hinted node's string form."""
    found = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint" and "broadcast" in (
            node.hints().toString().lower()
        ):
            out = node.output()
            if any(out.apply(i).name() == "query_id" for i in range(out.size())):
                found.append(node.toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


@pytest.mark.parametrize("entry", ["pq", "ivfpq", "ivfsq8"])
def test_query_broadcast_gate_covers_every_query_frame(entry, spark):
    """Above ``ANN_BROADCAST_MAX_QUERIES`` no |Q|-sized frame is hinted
    for broadcast — routes, lookup tables, query codes and norms, and
    the re-rank's queries all join as shuffle joins."""
    from bicis_spark.extensions import similarity as sim

    corpus = spark.range(1, 65).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> CAST(pmod(id * i, 13) AS DOUBLE)) AS embedding",
    )
    queries = corpus.where("vec_id % 8 = 0")
    over = sim.ANN_BROADCAST_MAX_QUERIES + 1
    small = dict(n_subspaces=2, sub_dims=4, seed_mod=4, max_codes=8)
    build = {
        "pq": lambda n: sim.ann_topk_pq(
            corpus, queries, k=3, rerank=10, n_queries=n, **small
        ),
        "ivfpq": lambda n: sim.ann_topk_ivfpq(
            corpus, queries, k=3, n_centroids_mod=8, n_probe=2, max_lists=4,
            n_queries=n, **small,
        ),
        "ivfsq8": lambda n: sim.ann_topk_ivfsq8(
            corpus, queries, k=3, n_centroids_mod=8, n_probe=2, max_lists=4,
            dims=8, n_queries=n,
        ),
    }[entry]
    try:
        # the probe sees the hints: under the gate the query frames broadcast
        assert _broadcast_query_frames(build(1))
        assert _broadcast_query_frames(build(over)) == []
    finally:
        release_tracked()
