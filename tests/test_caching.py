"""Cache-lifetime discipline (bicis_spark/caching.py).

The iterative operators (pagerank, connected components, ANN training)
persist loop-invariant frames for the duration of their loop via
``persisted(...)``. These tests pin the contract the operators rely on:
frames are actually marked cached inside the block, and released on
every exit path — normal return AND exception — so a failed mid-loop
job can never leak an |E|-sized cache into the block manager for the
rest of the session. The graph fixpoints run their rounds through
``iterate``: its checkpoint cadence, round-cache release, and the
convergence probe riding the checkpoint job are pinned below.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from bicis_spark.caching import iterate, persisted


def _make_df(spark):
    return spark.range(100).withColumnRenamed("id", "v")


def test_persisted_marks_and_releases(spark):
    df = _make_df(spark)
    assert not df.is_cached
    with persisted(df) as (c,):
        assert c.is_cached
        # materialize so the cache actually holds blocks, not just a mark
        assert c.count() == 100
    assert not c.is_cached


def test_persisted_releases_on_exception(spark):
    df = _make_df(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with persisted(df) as (c,):
            assert c.is_cached
            raise RuntimeError("boom")
    assert not c.is_cached


def test_persisted_multiple_frames_all_released(spark):
    a, b = _make_df(spark), _make_df(spark).selectExpr("v * 2 AS v")
    with persisted(a, b) as (ca, cb):
        assert ca.is_cached and cb.is_cached
    assert not ca.is_cached and not cb.is_cached


def test_checkpointed_result_survives_release(spark):
    """The documented idiom: a localCheckpoint-ed result returned from
    inside the block stays correct (and does not recompute from a cold
    source) after the caches are gone."""
    df = _make_df(spark)
    with persisted(df) as (c,):
        out = c.groupBy().sum("v").localCheckpoint(eager=True)
    assert not c.is_cached
    assert out.collect()[0][0] == sum(range(100))


def test_tracked_persist_registers_and_releases(spark):
    from bicis_spark.caching import release_tracked, tracked_count, tracked_persist

    release_tracked()  # clean slate
    df = tracked_persist(_make_df(spark))
    assert df.is_cached and tracked_count() == 1
    df.count()
    assert release_tracked() == 1
    assert not df.is_cached and tracked_count() == 0
    assert release_tracked() == 0  # idempotent


def test_ann_builders_register_their_caches(spark):
    """The IVF/PQ/SemDeDup builders persist trained structures that must
    outlive the call (lazy result plans + bench run-2 reuse) — the
    discipline is that every such persist is TRACKED so harness
    boundaries can release it. Pin that the builders actually register,
    and that release leaves nothing cached."""
    from bicis_spark.caching import release_tracked, tracked_count
    from bicis_spark.extensions.similarity import ann_topk_ivf

    release_tracked()
    corpus = spark.range(200).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), i -> cast(pmod(id * i, 19) AS double) / 19.0)"
        " AS embedding",
    )
    out = ann_topk_ivf(
        corpus, corpus.limit(5), k=3, n_centroids_mod=10, max_lists=4
    )
    assert tracked_count() >= 2  # corpus projection + centroids
    assert out.count() > 0
    released = release_tracked()
    assert released >= 2 and tracked_count() == 0


def _mix(df):
    """A deterministic integer step that reads its predecessor twice."""
    nxt = df.select("id", ((F.col("x") * 31 + F.col("id")) % 1_000_003).alias("x"))
    return nxt.join(df.select("id", F.col("x").alias("_prev")), "id").select(
        "id", (F.col("x") + F.col("_prev") % 7).alias("x")
    )


def test_iterate_cadence_does_not_change_result(spark):
    """A checkpoint every round and no checkpoint before the last round
    give identical frames; both return a checkpointed state."""
    start = spark.range(20).select("id", F.col("id").alias("x"))
    every, n_every = iterate(start, _mix, 6, checkpoint_every=1)
    never, n_never = iterate(start, _mix, 6, checkpoint_every=100)
    assert n_every == n_never == 6
    assert sorted(map(tuple, every.collect())) == sorted(map(tuple, never.collect()))
    for out in (every, never):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan, plan[:2000]


def test_iterate_releases_round_caches(spark):
    """Round caches are held while the loop runs and released after a
    normal return and after a step raises mid-loop."""
    seen, cached = [], []

    def step(df):
        seen.append(df)
        cached.append(df.storageLevel != StorageLevel.NONE)
        if len(seen) == fail_at:
            raise RuntimeError("boom")
        return _mix(df)

    def start():
        return spark.range(5).select("id", F.col("id").alias("x"))

    fail_at = None
    iterate(start(), step, 5, checkpoint_every=3)
    # rounds 0, 1 and 3 are persisted, round 2 is checkpointed
    assert cached == [False, True, True, False, True]
    assert all(d.storageLevel == StorageLevel.NONE for d in seen)

    seen.clear()
    cached.clear()
    fail_at = 3
    with pytest.raises(RuntimeError, match="boom"):
        iterate(start(), step, 5, checkpoint_every=10)
    assert cached == [False, True, True]
    assert all(d.storageLevel == StorageLevel.NONE for d in seen)


def test_iterate_until_stops_at_zero(spark):
    """The loop ends after the first checkpointed round whose ``until``
    reads 0 and reports the rounds it ran."""
    start = spark.range(8).select("id", F.col("id").alias("x"))

    def halve(df):
        return df.select("id", (F.col("x") / 2).cast("long").alias("x"))

    out, n = iterate(start, halve, 10, until=F.count_if(F.col("x") > 0))
    # 7 -> 3 -> 1 -> 0: the third round leaves no positive x
    assert n == 3
    assert {r["x"] for r in out.collect()} == {0}


def test_pagerank_long_run_matches_python_recurrence(spark):
    """Ten power iterations cross several checkpoints (every 4th round
    and the last) and still equal the unrolled integer recurrence."""
    from bicis_spark.operators.graph import pagerank_fixed_point

    pairs = sorted({(a, b) for a in range(6) for b in range(6)
                    if a != b and ((a + 1) % 6 == b or (a * 2) % 6 == b)})
    edges = spark.createDataFrame(pairs, "src long, dst long")
    scale, base = 1_000_000, 1_000_000 * 15 // 100
    outdeg = {a: sum(1 for s, _ in pairs if s == a) for a, _ in pairs}
    ranks = {v: scale for e in pairs for v in e}
    for _ in range(10):
        inflow = {v: 0 for v in ranks}
        for s, d in pairs:
            inflow[d] += ranks[s] // outdeg[s]
        ranks = {v: base + 85 * inflow[v] // 100 for v in ranks}
    got = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(edges, n_iter=10).collect()}
    assert got == ranks


@pytest.fixture
def one_job_per_action(spark):
    """AQE and broadcast joins off, so every eager action is exactly one
    Spark job (no per-stage or broadcast-build jobs)."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_fixpoint_loops_run_no_probe_job(spark, one_job_per_action, new_job_ids):
    """BFS and connected components learn convergence from the round's
    checkpoint job: one job per round, no separate emptiness probe."""
    from bicis_spark.extensions.dedup import connected_components_min_label
    from bicis_spark.operators.graph import bfs_hops

    chain = [(0, 1), (1, 2), (2, 3)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "v long")
    with new_job_ids() as jobs:
        out = bfs_hops(edges, seeds, max_hops=10)
    # seed checkpoint + rounds 1-3 (one new vertex each) + round 4,
    # whose empty frontier ends the loop
    assert len(jobs) == 1 + 4
    assert sorted(map(tuple, out.collect())) == [(0, 0), (1, 1), (2, 2), (3, 3)]

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with new_job_ids() as jobs:
        out = connected_components_min_label(pairs)
    # edge and label checkpoints + round 1 (2 -> 1) + round 2 (no change)
    assert len(jobs) == 2 + 2
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1)]
