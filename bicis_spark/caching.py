"""Cache-lifetime discipline for builders that persist loop-invariant or
multi-consumer intermediates.

The idiom: enter ``persisted(...)`` around the WHOLE risk window — from
the persist through every job that runs while the caches are marked
(driver-side collects, loop iterations, the final eager materialization)
— and return an eagerly ``localCheckpoint``-ed result from inside the
block. The context manager unpersists on every exit path, so a failed
collect or mid-loop job can never leak an |E|-sized cache into the block
manager for the rest of the session.

Iterative operators (the graph fixpoints) run their rounds through
``iterate``, which owns the per-round persist/checkpoint cadence and the
release of every round cache.

Trade-offs callers accept:

- The builder becomes EAGER: the job runs at call time, so plan-only
  tooling (``scripts/explain_audit.py``) sees a Scan-ExistingRDD stub
  instead of the real plan for these queries.
- ``localCheckpoint`` blocks are non-reliable executor storage with
  truncated lineage: losing an executor loses the block and the lineage
  to rebuild it. Every eager checkpoint in this engine (``iterate`` and
  the builders' one-shot materializations) assumes the local or
  single-host deployment; on a cluster, use a reliable checkpoint dir
  (``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``) instead.
- Checkpoint blocks are reclaimed by the ContextCleaner when the
  returned frame is garbage-collected, not by ``unpersist()``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation


@contextmanager
def persisted(*frames: DataFrame) -> Iterator[tuple[DataFrame, ...]]:
    """Persist every frame for the duration of the block and unpersist
    them all on exit — success, return, or exception alike. The result a
    caller returns from inside the block must not reference the caches
    lazily (localCheckpoint it eagerly first), or it would recompute from
    scratch after release. ``unpersist`` is idempotent, so nesting and
    early manual release are safe."""
    cached = tuple(f.persist() for f in frames)
    try:
        yield cached
    finally:
        for c in cached:
            c.unpersist()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    checkpoint_every: int = 1,
    until: Column | None = None,
    persist: bool = True,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state)`` for up to ``rounds`` rounds and return
    ``(final state, rounds run)``.

    Round ``i``'s state is eagerly ``localCheckpoint``-ed when
    ``(i + 1) % checkpoint_every == 0`` or on the last round, so the plan
    a round builds never holds more than ``checkpoint_every`` unrolled
    steps. Between checkpoints the state is ``persist()``-ed instead: a
    step that reads its predecessor several times is then served from
    cache, and the uncheckpointed rounds fuse into the next checkpoint's
    job. Every such round cache is released on every exit path; the
    returned state is checkpointed (or is ``state`` itself when
    ``rounds`` is 0), so it never reads a released cache.
    ``persist=False`` leaves the rounds between checkpoints lazy, for a
    step that reads its predecessor only once: there a cache saves no
    work and costs a job, because AQE materializes every cache in a job
    of its own.

    ``until`` is an aggregate over a round's state (e.g. the count of
    rows that changed). It is attached with ``observe()`` to every
    checkpointed round, so its value arrives with the checkpoint job
    rather than from a probe job of its own, and the loop stops after
    the first checkpointed round where it reads 0."""
    round_caches: list[DataFrame] = []
    try:
        for i in range(rounds):
            state = step(state)
            if (i + 1) % checkpoint_every and i < rounds - 1:
                if persist:
                    state = state.persist()
                    round_caches.append(state)
                continue
            probe = None
            if until is not None:
                probe = Observation()
                state = state.observe(probe, until.alias("until"))
            state = state.localCheckpoint(eager=True)
            if probe is not None and probe.get["until"] == 0:
                return state, i + 1
        return state, rounds
    finally:
        for c in round_caches:
            c.unpersist()


# ---------------------------------------------------------------------------
# Tracked session caches.
#
# Some builders persist multi-consumer subtrees (IVF centroids, PQ
# codebooks, dedup shingle blocks) that MUST outlive the builder call:
# the returned plan is lazy, and the bench contract measures run 2 of a
# query re-using run 1's trained structures (the long-lived-cluster
# steady state), so an in-builder unpersist would defeat both. The
# discipline instead is ownership transfer: builders register such
# persists here, and every harness boundary (bench between queries,
# driver emulation between queries, test teardown) calls
# ``release_tracked()`` — an explicit, inspectable release path, so
# nothing accumulates for the rest of the session.
# ---------------------------------------------------------------------------

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist a builder intermediate whose cache deliberately outlives
    the builder call (lazy result plans reference it). The frame is
    recorded so ``release_tracked()`` at the next harness boundary frees
    it; use plain ``persisted(...)`` for caches that can die with the
    builder."""
    _TRACKED.append(df.persist())
    return df


def release_tracked() -> int:
    """Unpersist every tracked builder cache; returns how many were
    released. Idempotent; safe to call between queries or in teardown."""
    n = 0
    while _TRACKED:
        _TRACKED.pop().unpersist()
        n += 1
    return n


def tracked_count() -> int:
    """How many builder caches are currently tracked (leak probe for
    tests)."""
    return len(_TRACKED)
