"""Iterative and structural graph operators over edge DataFrames.

Contract shared by every operator here:

- Graphs are plain DataFrames of integer vertex ids: ``edges`` (src, dst)
  or undirected pair rows. Directed operators take both directions of an
  undirected graph explicitly. No RDDs, no graph library: each round is
  the Pregel step expressed relationally (joins and aggregates keyed on
  vertex ids, which AQE can plan).
- Arithmetic is exact integers (ranks scaled by 1e6 with floor division,
  counts, hop and path costs), so every result is bitwise deterministic
  under any partitioning, and each registry query's SQL oracle unrolls
  the identical recurrence.
- Iterative operators (``pagerank_fixed_point``, ``pagerank_bipartite``,
  ``label_propagation``, ``bfs_hops``, ``kcore_peel``,
  ``bellman_ford_rounds``) are EAGER: they run their rounds through
  ``bicis_spark.caching.iterate`` at call time, which bounds plan depth
  by checkpointing and releases every round cache before returning.
  Fixed-round operators run exactly their round count; ``bfs_hops``
  stops early when its frontier drains.
- Loop-invariant inputs (edge tables, degree-joined edges) are persisted
  for the duration of the loop and released on return; the returned
  frame reads only checkpointed state.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bicis_spark.caching import iterate, persisted


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 5,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """(node, rank_fp) after ``n_iter`` power iterations of

        rank(v) <- base + (damping_num * sum_{u->v} rank(u) DIV outdeg(u))
                            DIV damping_den

    with base = scale * (damping_den - damping_num) DIV damping_den and
    every rank held as a scaled BIGINT. ``edges`` must have distinct
    (src, dst) rows; every src contributes, nodes with no inbound edges
    settle at base."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    verts = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # verts and ew (edges ⋈ outdegree) are read by every round. Persist
    # the shared edge build FIRST: persist() compiles a cached plan
    # against the caches registered before it, so verts and ew then scan
    # the edges cache instead of each re-running the caller's edge
    # derivation.
    with persisted(edges, verts, edges.join(deg, on="src")) as (
        _e,
        verts,
        ew,
    ):
        return _power_iterations(
            verts, ew, n_iter, scale, damping_num, damping_den,
            broadcast_ranks=False,
        )


def _power_iterations(
    verts: DataFrame,
    ew: DataFrame,
    n_iter: int,
    scale: int,
    damping_num: int,
    damping_den: int,
    broadcast_ranks: bool,
) -> DataFrame:
    """The shared power-iteration loop over persisted (verts, ew), run
    inside the caller's persisted() block; the result reads only the
    loop's checkpointed ranks.

    ``broadcast_ranks`` turns the per-iteration rank⋈edges join into a
    broadcast (map-side) join: correct whenever the rank table is
    dimension-sized (e.g. bipartite fact graphs where |V| = dim-table
    cardinality while |E| is fact-sized). Leave False when |V| itself is
    fact-sized — the shuffle join is the scale-safe default.
    """
    base = scale * (damping_den - damping_num) // damping_den

    def step(ranks: DataFrame) -> DataFrame:
        r = ranks.withColumnRenamed("v", "src")
        inflow = (
            ew.join(F.broadcast(r) if broadcast_ranks else r, on="src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank_fp div outdeg")).alias("_inflow"))
        )
        return verts.join(
            inflow.withColumnRenamed("dst", "v"), on="v", how="left"
        ).select(
            "v",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(_inflow, 0L)) "
                    f"div {damping_den}"
                )
            )
            .cast("long")
            .alias("rank_fp"),
        )

    # each round adds two joins and an aggregate to the plan; a
    # checkpoint every 4 rounds keeps analysis time flat for long runs.
    # A round reads its predecessor once, so the rounds in between stay
    # lazy: a cache there would only add its materialization job.
    ranks, _ = iterate(
        verts.select("v", F.lit(scale).cast("long").alias("rank_fp")),
        step,
        n_iter,
        checkpoint_every=4,
        persist=False,
    )
    return ranks.select(F.col("v").alias("node"), "rank_fp")


def pagerank_bipartite(
    pairs: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    broadcast_state: bool = True,
) -> DataFrame:
    """PageRank specialized to a BIPARTITE graph given as distinct
    undirected pair rows (a, b) with disjoint id namespaces, equivalent
    to ``pagerank_fixed_point`` over the symmetrized edge set but without
    any fact-sized distinct/union shuffle:

    - out-degrees come from per-side aggregates (one row per a / per b —
      dimension-sized, not edge-sized);
    - the direction union happens AFTER the degree join, so the pair set
      is scanned from its persist, never re-deduplicated;
    - vertices are the degree-table keys (already distinct by
      construction) — no 2|E|-row distinct.

    ``broadcast_state=True`` additionally broadcasts the degree tables
    and the per-iteration rank table (|V| is dim-sized in fact-graphs
    like part↔supplier: suppliers + parts, while |E| is fact-sized);
    set False when the vertex set is itself fact-sized and the builder
    degrades to the generic shuffle-join shapes.
    """
    da = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
    db = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("outdeg"))
    verts = da.select(F.col("a").alias("v")).union(
        db.select(F.col("b").alias("v"))
    )
    hint = F.broadcast if broadcast_state else (lambda d: d)
    ew = (
        pairs.join(hint(da), on="a")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "outdeg")
        .union(
            pairs.join(hint(db), on="b").select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "outdeg"
            )
        )
    )
    # pairs is the shared subtree of verts AND ew: persist it first so
    # their cached plans read the pairs cache (see pagerank_fixed_point)
    with persisted(pairs, verts, ew) as (_p, verts, ew):
        return _power_iterations(
            verts, ew, n_iter, scale, damping_num, damping_den,
            broadcast_ranks=broadcast_state,
        )


#: Rank encoding base for degree-ordered edge orientation: rank(v) =
#: degree(v)·2⁴⁰ + v packs (degree, id) into ONE int64 comparison key.
#: Bounds — vertex ids < 2⁴⁰ (~1.1e12; partkeys reach ~2e10 at a 100 TB
#: TPC-H) and degree < 2²³ (~8.4e6) — are enforced at runtime by an
#: assert_true filter in _orient_by_degree, so a non-ANSI session fails
#: loudly instead of silently wrapping into a cyclic orientation.
_RANK_BASE = 1 << 40


def _normalize_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set normalized to (a < b), deduped, loops and
    NULLs dropped — the shared preamble of every triangle operator."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        edges.select(a, b)
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )


#: "auto" broadcast gate for the one-shot degree attach: a degree row is
#: two int64s (~16 B serialized), so 4M vertices ≈ 64 MB — comfortably
#: inside a single-executor broadcast budget at any cluster size. Above
#: the gate the attach stays a shuffle join (AQE may still convert).
AUTO_BROADCAST_MAX_VERTICES = 4_000_000


def _orient_by_degree(
    e: DataFrame, degrees: DataFrame, broadcast_degrees: bool | str = False
) -> DataFrame:
    """Degree-ordered orientation of a normalized edge set: each edge
    points from its lower-(degree, id) endpoint to the higher — [u, v,
    rv] with rv = rank(v). Forward degree under this orientation is
    O(√m) for EVERY vertex (a hub's wedges are generated only from its
    few higher-degree neighbors), so wedge volume is O(m^1.5) regardless
    of skew, where an id-ordered orientation leaves a power-law hub's
    forward degree at Θ(deg(hub)). Exact, not approximate: the triangle
    SET is orientation-invariant, so downstream results (and their
    oracles) are unchanged.

    Cost: two vertex-keyed joins to attach endpoint degrees. The degree
    table is |V|-sized: ``broadcast_degrees=True`` makes both attaches
    map-side — correct ONLY when the vertex universe is
    dimension-bounded at the call site (e.g. parts), the same contract
    as ``label_propagation``'s ``broadcast_labels``; False leaves
    shuffle joins (AQE-planned). ``"auto"`` is the scale-safe middle:
    COUNT the degree table at runtime and broadcast only under
    ``AUTO_BROADCAST_MAX_VERTICES`` — the count is one cheap job against
    the (caller-persisted) degree aggregate, and the decision rests on
    measurement instead of a call-site promise.

    The packing bounds are RUNTIME-CHECKED in the plan itself (not just
    documented): an ``assert_true`` filter over the |V|-sized degree
    table fails the job loudly if any id ≥ 2⁴⁰ or degree ≥ 2²³ —
    without it, a non-ANSI session would silently wrap the rank and the
    orientation could turn cyclic (undercounting triangles). Two integer
    comparisons per vertex; no extra exchange."""
    guard = F.assert_true(
        (F.col("v") >= 0)
        & (F.col("v") < F.lit(_RANK_BASE))
        & (F.col("degree") < F.lit(1 << 23)),
        F.lit(
            "_orient_by_degree rank packing overflow: requires "
            "0 <= vertex id < 2^40 and degree < 2^23"
        ),
    )
    degrees = degrees.where(guard.isNull())
    if isinstance(broadcast_degrees, str):
        # reject typos ("Auto", "AUTO", ...) loudly: any non-"auto" string
        # would otherwise be truthy and silently force the unconditional
        # broadcast the count gate exists to prevent
        if broadcast_degrees != "auto":
            raise ValueError(
                "broadcast_degrees must be True, False, or 'auto'; got "
                f"{broadcast_degrees!r}"
            )
        broadcast_degrees = degrees.count() <= AUTO_BROADCAST_MAX_VERTICES
    rank = F.col("degree") * F.lit(_RANK_BASE) + F.col("v")
    da = degrees.select(F.col("v").alias("a"), rank.alias("_ra"))
    db = degrees.select(F.col("v").alias("b"), rank.alias("_rb"))
    if broadcast_degrees:
        da, db = F.broadcast(da), F.broadcast(db)
    er = e.join(da, "a").join(db, "b")
    lo_first = F.col("_ra") <= F.col("_rb")  # ranks unique ⇒ never equal
    return er.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.col("_rb")).otherwise(F.col("_ra")).alias("rv"),
    )


def _edge_degrees(e: DataFrame) -> DataFrame:
    """[v, degree] over a normalized edge set."""
    return (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def _forward_adjacency(eo: DataFrame) -> DataFrame:
    """Forward-adjacency arrays of a degree-oriented edge set: (u, nbrs)
    with nbrs the SORTED array of forward-neighbor ranks. Array length is
    the forward degree — O(√m) for every vertex under the orientation —
    so no row is ever wider than the compact-forward bound."""
    return eo.groupBy("u").agg(F.sort_array(F.collect_list("rv")).alias("nbrs"))


def _edge_triangle_commons(eo: DataFrame) -> DataFrame:
    """Per oriented edge (u, v): the array of common forward-neighbor
    ranks of u and v — exactly the triangles whose two lowest-rank
    corners are (u, v), so each triangle appears ONCE across all edges
    (at its lowest-rank edge; the third corner is recoverable from the
    rank via ``pmod(r, _RANK_BASE)``).

    This is the intersection (edge-iterator) form of the compact-forward
    census: same triangle set as the wedge self-join, but the Θ(wedge)
    intermediate rows are never materialized — each edge row intersects
    two bounded primitive arrays (Σ d⁺(u)+d⁺(v) element ops total)
    instead of generating d⁺(u)·d⁺(v) join rows probed against an
    |E|-sized hash relation (measured 138 CPU-s → ~8 CPU-s on the sf0.1
    co-purchase graph: 1.2M edges, 41M wedges, 1.9M triangles)."""
    adj = _forward_adjacency(eo)
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("_nbrs_v"))
    return (
        eo.join(adj, "u")  # inner: every oriented src has ≥1 forward nbr
        .join(av, "v", "left")  # top-rank vertices have no forward list
        .select(
            "u",
            "v",
            F.array_intersect(
                F.col("nbrs"),
                F.coalesce(
                    F.col("_nbrs_v"), F.expr("CAST(array() AS array<bigint>)")
                ),
            ).alias("commons"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str, dst: str, broadcast_degrees: bool | str = False
) -> DataFrame:
    """Global triangle census of an undirected graph: 1 row
    [n_vertices, n_edges, n_triangles].

    Compact-forward with DEGREE-ordered orientation: normalize every
    edge to (a < b), dedupe, orient each
    edge low-rank → high-rank by (degree, id), then count wedges closed
    by the oriented third edge. Each triangle is enumerated exactly once
    and wedge fan-out is bounded by the O(√m) forward degree at EVERY
    vertex — a skewed hub no longer owns Θ(deg²) wedges (see
    ``_orient_by_degree``). Three shuffle joins on vertex keys + three
    count aggregates; no driver-side iteration (contrast
    pagerank_fixed_point's bounded rounds).
    """
    e = _normalize_edges(edges, src, dst)
    # persist the pair set, the degree table AND the oriented set: each
    # is scanned ≥2× (wedge legs + closing leg / census aggregates; the
    # degree table twice by the rank attach — and once more by the
    # "auto" count gate, which must hit the cache, not re-run the pair
    # build)
    with persisted(e, _edge_degrees(e)) as (ep, degrees):
        eo = _orient_by_degree(ep, degrees, broadcast_degrees)
        return _triangle_census(ep, eo)


def _triangle_census(ep: DataFrame, eo: DataFrame) -> DataFrame:
    with persisted(eo) as (eo,):
        # three 1-row aggregates cross-joined (broadcast, free)
        n_vertices = (
            ep.select(F.col("a").alias("v"))
            .union(ep.select(F.col("b").alias("v")))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_vertices"))
        )
        n_edges = ep.agg(F.count(F.lit(1)).alias("n_edges"))
        # Σ |commons| over edges ≡ count of the wedge-join's closed rows
        # (each triangle once, at its lowest-rank edge) — exact integers,
        # so the swap to the intersection form cannot move any value
        n_triangles = _edge_triangle_commons(eo).agg(
            F.coalesce(
                F.sum(F.size("commons").cast("long")), F.lit(0).cast("long")
            ).alias("n_triangles")
        )
        out = n_vertices.join(F.broadcast(n_edges)).join(
            F.broadcast(n_triangles)
        )
        return out.localCheckpoint(eager=True)


def label_propagation(
    edges: DataFrame,
    n_iter: int = 2,
    broadcast_labels: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    deterministic tie-break: labels start as the node id; each round every
    node adopts the most frequent label among its in-neighbors, ties
    broken by SMALLEST label. Deterministic under any partitioning (exact
    integer counts, total tie order), so a SQL oracle unrolls the same
    rounds. ``edges`` must already contain both directions of an
    undirected graph (same contract as ``pagerank_fixed_point``).

    Per round: one join of the |V|-sized label frame to edges + one
    (node, label)-keyed count with map-side combine + one argmax
    aggregate — the Pregel step expressed relationally, same shuffle
    shape as the pagerank loop. Isolated nodes (absent from ``edges``)
    are the caller's concern — every vertex here has degree ≥ 1 by
    construction.

    ``broadcast_labels`` broadcasts the |V|-sized label frame into the
    per-round edge join (same dimension-sized-state reasoning as
    ``pagerank_bipartite``'s broadcast_state); leave False when the
    vertex set is fact-sized."""
    verts = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )

    def step(labels: DataFrame) -> DataFrame:
        lbl_src = labels.withColumnRenamed("v", "src")
        if broadcast_labels:
            lbl_src = F.broadcast(lbl_src)
        cnt = (
            edges.join(lbl_src, on="src")
            .groupBy(F.col("dst").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        pick = cnt.groupBy("v").agg(
            F.max_by(
                F.col("lbl"), F.struct(F.col("_c"), -F.col("lbl"))
            ).alias("_new")
        )
        return labels.join(pick, on="v", how="left").select(
            "v", F.coalesce(F.col("_new"), F.col("lbl")).alias("lbl")
        )

    # edges before the verts derived from it (see pagerank_fixed_point).
    # A round reads its predecessor twice (the count join and the
    # left-join base), which the persist between checkpoints serves.
    with persisted(edges, verts) as (edges, verts):
        labels, _ = iterate(
            verts.select("v", F.col("v").alias("lbl")),
            step,
            n_iter,
            checkpoint_every=4,
        )
    return labels.select(
        F.col("v").alias("node"), F.col("lbl").cast("long").alias("label")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """(node, hops): minimum hop distance from the seed set by
    frontier-based BFS — the delta-iteration formulation of reachability.

    ``edges`` is directed (src, dst); pass both directions for an
    undirected graph. ``seeds`` is a one-column (v) frame; hops = 0 there.

    Unlike the full-graph relaxations in this module (pagerank, label
    propagation touch every vertex every round), each BFS round joins
    ONLY the current frontier against the edge table and anti-joins the
    visited set, so per-round work is proportional to the frontier's
    out-edges — the Flink/Pregel delta-iteration shape. The edge table is
    the loop invariant (persist it at the call site when the input is an
    expensive subquery). Each round's frontier is checkpointed; the
    visited set is the lazy union of those checkpoints, so no round
    re-copies earlier rounds' rows. The loop stops early when a frontier
    comes out empty; its row count rides the checkpoint job.

    Integer-only state (vertex ids + hop counters) ⇒ bitwise
    deterministic; the declared oracle replays the identical min-hop
    semantics as a depth-bounded recursive CTE.
    """
    first = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
        .localCheckpoint(eager=True)
    )
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("src"),
        F.col(edges.columns[1]).cast("long").alias("dst"),
    )
    frontiers: list[DataFrame] = []

    def step(frontier: DataFrame) -> DataFrame:
        # round d (1-based) receives frontier d-1, so after the append
        # len(frontiers) is this round's hop count
        frontiers.append(frontier)
        visited = functools.reduce(DataFrame.unionByName, frontiers)
        return (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, on="node", how="left_anti")
            .select("node", F.lit(len(frontiers)).cast("long").alias("hops"))
        )

    last, _ = iterate(first, step, max_hops, until=F.count(F.lit(1)))
    return functools.reduce(DataFrame.unionByName, frontiers + [last])


def local_clustering_coefficient(
    edges: DataFrame, src: str, dst: str, broadcast_degrees: bool | str = False
) -> DataFrame:
    """Per-vertex local clustering coefficient of an undirected graph:
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the neighborhood-density
    score under every triangle census (how clique-like is each part's
    co-purchase neighborhood). Triangles enumerate once each via the
    DEGREE-oriented wedge join shared with ``triangle_count``
    (``_orient_by_degree``: wedge volume O(m^1.5) at any skew; the
    triangle set, and hence every output value, is orientation-invariant);
    each closed triangle then credits its three corners through ONE
    explode + hash aggregate (the per-vertex shuffle carries (vertex,
    partial count), never triangle tuples). Degrees are one aggregate
    over the normalized edge set, computed ONCE and reused for both the
    orientation ranks and the output column. Both operands are exact
    BIGINTs; the coefficient is a single guarded IEEE division (NULL
    when deg < 2, matching the undefined case)."""
    e = _normalize_edges(edges, src, dst)
    # lazy tracked persists, not an eager checkpoint: degrees is read 3×
    # (two rank-attach sides + the output join) but an eager materialize
    # here would serialize a full pair-build job BEFORE the triangle job
    # instead of fusing with it (measured +4s at sf0.1). The "auto"
    # gate's count() DOES serialize that way — but it pays for itself by
    # making both rank attaches map-side on dimension-small graphs, and
    # the persisted degree cache it warms serves the three later reads.
    with persisted(e, _edge_degrees(e)) as (ep, degrees):
        eo = _orient_by_degree(ep, degrees, broadcast_degrees)
        return _lcc_from_oriented(degrees, eo)


def _lcc_from_oriented(degrees: DataFrame, eo: DataFrame) -> DataFrame:
    with persisted(eo) as (eo,):
        # Intersection form of the per-corner credit: the triangle whose
        # lowest-rank corners are edge (u, v) credits u, v (|commons|
        # each) and every common neighbor (+1, id = pmod(rank, base)).
        # Per vertex this sums to exactly the triangles containing it —
        # the same integer the wedge-join explode counted. Vertices with
        # no triangles now appear with a 0 instead of being absent; the
        # left join + coalesce below yields the identical output either
        # way.
        ec = _edge_triangle_commons(eo)
        csize = F.size("commons").cast("long")
        credits = ec.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("u").alias("cv"), csize.alias("c")),
                        F.struct(F.col("v").alias("cv"), csize.alias("c")),
                    ),
                    F.expr(
                        "transform(commons, r -> "
                        f"struct(pmod(r, {_RANK_BASE}L) AS cv, 1L AS c))"
                    ),
                )
            ).alias("t")
        )
        per_vertex_tri = (
            credits.groupBy(F.col("t.cv").alias("v"))
            .agg(F.sum("t.c").alias("n_triangles"))
        )
        deg = F.col("degree").cast("double")
        out = (
            degrees.join(per_vertex_tri, "v", "left")
            .select(
                F.col("v").alias("vertex"),
                "degree",
                F.coalesce(F.col("n_triangles"), F.lit(0))
                .cast("long")
                .alias("n_triangles"),
            )
            .withColumn(
                "lcc",
                F.when(
                    F.col("degree") >= 2,
                    F.lit(2.0)
                    * F.col("n_triangles").cast("double")
                    / (deg * (deg - F.lit(1.0))),
                ),
            )
        )
        return out.localCheckpoint(eager=True)


def kcore_peel(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling of an undirected graph: ``rounds``
    synchronous iterations of "drop every vertex with degree < k, then
    drop edges touching a dropped vertex" — the degeneracy-ordering
    primitive behind dense-subgraph mining and graph sampling. Returns
    the surviving vertices with their residual degree.

    FIXED-ROUND semantics (not run-to-convergence): the peel count is a
    call-site constant, so the oracle unrolls the identical rounds as
    chained CTEs and the result is hash-replayable; a converged graph
    peels as a no-op, so when the graph stabilizes earlier the fixed
    and converged results coincide.

    Each round is one degree aggregate + two semi-joins keyed on the
    vertex id, and the edge set only shrinks. A round reads its
    predecessor three times (degree aggregate + both semi-join probes),
    so the state between checkpoints must be cached: without it lazy
    lineage re-executes the whole prefix 3^rounds times. A checkpoint
    every second round bounds plan depth, and the persisted round in
    between fuses into the next checkpoint's job.

    Vertices exist only through their edges, so ``k`` must be ≥ 1: a
    0-core would have to list isolated vertices the edge set cannot
    represent."""
    if k < 1:
        raise ValueError("kcore_peel requires k >= 1")

    def step(cur: DataFrame) -> DataFrame:
        keep = (
            cur.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
            .where(F.col("d") >= k)
            .select("v")
        )
        return cur.join(
            keep.select(F.col("v").alias("a")), "a", "left_semi"
        ).join(keep.select(F.col("v").alias("b")), "b", "left_semi")

    cur, _ = iterate(
        _normalize_edges(edges, src, dst).localCheckpoint(eager=True),
        step,
        rounds,
        checkpoint_every=2,
    )
    return (
        cur.select(F.col("a").alias("vertex"))
        .unionAll(cur.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("residual_degree"))
        .where(F.col("residual_degree") >= k)
    )


def bellman_ford_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    src: str,
    dst: str,
    weight: str,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round Bellman-Ford single-source shortest paths over a
    DIRECTED weighted graph (pass both directions for undirected): after
    ``rounds`` synchronous relaxations, dist(v) is the exact minimum
    path cost over all paths of ≤ ``rounds`` edges — the weighted
    generalization of ``bfs_hops`` (whose unit weights make min-cost =
    min-hops). Fixed-round semantics, like ``kcore_peel``: the oracle
    unrolls identical relaxation rounds, and a converged graph relaxes
    as a no-op, so the fixed and converged answers coincide once
    ``rounds`` ≥ the weighted-diameter of the reachable set.

    Integer weights in, integer distances out — bitwise deterministic
    under any partitioning. Each round is one hash join (frontierless
    full relaxation — for graphs whose updates go quiet, switch to the
    delta form of ``bfs_hops``) + one min aggregate. The dist table is
    read twice per round (the relaxation join and the union), so the
    round between checkpoints is persisted; a checkpoint every second
    round bounds plan depth. The edge table is the loop invariant and is
    persisted for the duration of the loop, so the caller's edge
    derivation runs once, not once per round."""
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    )

    def step(dist: DataFrame) -> DataFrame:
        # rename the dist side before joining: on persisted rounds dist
        # shares lineage with e, so attribute-based references
        # (dist["v"] == e["u"]) would be ambiguous
        relaxed = (
            dist.select(F.col("v").alias("_dv"), F.col("d").alias("_dd"))
            .join(e, F.col("_dv") == F.col("u"))
            .select(F.col("v"), (F.col("_dd") + F.col("w")).alias("d"))
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("d").cast("long").alias("d"))
        )

    dist = (
        seeds.select(F.col(seeds.columns[0]).cast("long").alias("v"))
        .distinct()
        .select("v", F.lit(0).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    with persisted(e) as (e,):
        dist, _ = iterate(dist, step, rounds, checkpoint_every=2)
    return dist.select(F.col("v").alias("vertex"), F.col("d").alias("dist"))
