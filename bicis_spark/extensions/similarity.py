"""Similarity search over embedding columns (array<float>).

Determinism strategy: floats quantize to integers (floor(x·10⁶) after an
exact float→double widening), so dot products and norms are exact int64
sums — order-independent, identical in Spark and the DuckDB oracle. With
64-dim vectors the dot product is bounded by 64·(2·10⁵)² ≈ 2.6·10¹² ≪ 2⁶³.

Scale design:
- Brute-force top-k: corpus ⨯ broadcast(queries) — the O(Q·N) baseline;
  each executor scans its corpus slice once, no corpus shuffle, top-k via
  per-query window. Right answer for small Q.
- LSH-bucketed: deterministic integer hyperplanes → sign-bit bucket;
  candidates only within matching buckets (plus the query's bucket), then
  exact re-rank. Sub-linear candidate sets; recall bounded by bucket
  collision probability. The IVF analog (train centroids) would slot in the
  same two-phase shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bicis_spark.caching import tracked_persist
from bicis_spark.sources.io import local_frame

QUANT_SCALE = 1_000_000

# NOTE on array math strategy: dot products/norms use higher-order array
# functions (zip_with + aggregate). An unrolled 64-term element_at
# expression tree was tried and measured ~7-18x SLOWER (wide expression
# trees blow past JIT method limits and run as interpreted bytecode, and
# each element_at re-checks bounds); the `dims` parameters below are kept
# for API stability but any value routes to the same HOF implementation.
DEFAULT_DIMS = 64


# -- SQL-fragment fast paths (round 11, optimization) ----------------------
# Building these expressions through the Python functions API costs 20-35ms
# PER CALL in driver py4j round-trips (each higher-order lambda is several
# JVM calls; measured: int_dot 33ms, the same tree via one F.expr parse
# 0.55ms — 60×). The helpers below therefore accept either a Column (the
# original lambda path, kept for callers holding computed Columns) or a
# STRING, treated as a raw SQL fragment and routed through one F.expr
# parse. Both paths produce the same Catalyst operations (same casts, same
# fold order), so results are bit-for-bit unchanged — verified by the
# full DuckDB oracle emulation.


#: Width cap for unrolling fixed-width array math into plain arithmetic.
#: Higher-order functions (aggregate/zip_with) are CodegenFallback —
#: evaluated INTERPRETED, one tree walk + ArrayData allocation per call —
#: which round 12 profiling caught as the dominant task cost of the PQ
#: family: pq_encode evaluates sub-vector L2 N·M·K ≈ 8.2M times per build
#: and its scan stage burned 21-29 s of CPU to write 0.8 MB (guide §1.2
#: per-task work / §4.1 prefer codegen'd built-ins). For KNOWN small
#: widths the same exact-int64 sum unrolls into `a[0]*b[0] + ...`, which
#: whole-stage codegen compiles (A/B on the 8.2M-eval shape: 1.6-4×
#: faster; values bit-identical on full-width operands — same operands,
#: same exact integer adds; see _sub_l2_sql for short arrays). 64-dim
#: unrolls were measured SLOWER (the module-level note above), so only
#: genuinely small widths (the 4-dim PQ subspaces) take this path.
UNROLL_MAX_DIMS = 8


def _dot_sql(a: str, b: str, dims: int | None = None) -> str:
    if dims is not None and 1 <= dims <= UNROLL_MAX_DIMS:
        return (
            "CAST("
            + " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(dims))
            + " AS BIGINT)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _norm2_sql(a: str, dims: int | None = None) -> str:
    return _dot_sql(a, a, dims)


def _norm_sql(a: str) -> str:
    return f"sqrt(CAST({_norm2_sql(a)} AS DOUBLE))"


def _quant_sql(vec: str) -> str:
    return (
        f"transform({vec}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )


def _nonzero_sql(divisor: str) -> str:
    return f"(CASE WHEN ({divisor}) != 0.0D THEN ({divisor}) END)"


def _cfn_sql(a: str, b: str, na: str, nb: str) -> str:
    """cosine_from_norms as a SQL fragment (same tree as the Column path)."""
    return f"CAST({_dot_sql(a, b)} AS DOUBLE) / " + _nonzero_sql(f"({na}) * ({nb})")


def quantize(vec: Column | str, dims: int | None = None) -> Column:
    """array<float> → array<long>: floor(double(x)·10⁶). floor (not round)
    sidesteps cross-engine tie-rounding differences. A str argument is a
    SQL fragment (fast builder path — see the fragment-helper note)."""
    if isinstance(vec, str):
        return F.expr(_quant_sql(vec))
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)).cast("long")
    )


def int_dot(a: Column | str, b: Column | str, dims: int | None = None) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_norm2(a: Column | str, dims: int | None = None) -> Column:
    return int_dot(a, a, dims)


def norm_col(a: Column | str, dims: int | None = None) -> Column:
    """√‖a‖ as double — precompute once per vector so pairwise cosine does
    one dot + one division instead of re-deriving both norms per pair."""
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(int_norm2(a, dims).cast("double"))


def _nonzero(divisor: Column) -> Column:
    """NULL out a zero divisor (nullif twin): cosine is undefined for a
    zero-norm vector — after quantization an all-near-zero embedding IS
    all zeros — and under ANSI mode a plain /0 aborts the whole job
    (with ANSI off it yields NaN, which Spark ranks ABOVE every real
    cosine). A NULL cosine instead drops out of >= thresholds and sorts
    last in the DESC rank windows on both engines."""
    return F.when(divisor != F.lit(0.0), divisor)


def cosine_sim(a: Column | str, b: Column | str, dims: int | None = None) -> Column:
    """Exact-integer cosine: dot/(√‖a‖·√‖b‖) with all inputs exact int64 —
    the double math sees identical operands in any engine. NULL for
    zero-norm inputs (see _nonzero)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"CAST({_dot_sql(a, b)} AS DOUBLE) / "
            + _nonzero_sql(f"{_norm_sql(a)} * {_norm_sql(b)}")
        )
    return int_dot(a, b, dims).cast("double") / _nonzero(
        norm_col(a, dims) * norm_col(b, dims)
    )


def cosine_from_norms(
    a: Column | str,
    b: Column | str,
    na: Column | str,
    nb: Column | str,
    dims: int | None = None,
) -> Column:
    """Cosine with both norms precomputed (identical value to cosine_sim:
    same exact dot, same sqrt results, same multiply/divide order)."""
    if all(isinstance(c, str) for c in (a, b, na, nb)):
        return F.expr(_cfn_sql(a, b, na, nb))
    to_col = lambda c: F.expr(c) if isinstance(c, str) else c  # noqa: E731
    a, b, na, nb = to_col(a), to_col(b), to_col(na), to_col(nb)
    return int_dot(a, b, dims).cast("double") / _nonzero(na * nb)


def _topk_per_query(
    scored: DataFrame,
    order_col: str,
    k: int,
    rank_col: str | None = "rank",
    descending: bool = True,
) -> DataFrame:
    """Per-query top-k over an UNBOUNDED candidate frame via the salted
    two-phase hash aggregation (``operators.topk.topk_by_group_agg`` —
    round 11, r10 verdict #4): the ``row_number`` window form puts ALL of
    one query's candidates through a single task's sort (|Q| tasks each
    sorting up to N rows on the |Q|·N scan paths — brute force, PQ, SQ8
    — and up to the probed fraction of N on IVF/IVF-PQ/LSH), while the
    salted plan's map-side partial aggregation bounds every exchanged
    group at ``n_salts``·k structs per query regardless of candidate
    count. Exact, not approximate: the sort key embeds the identical
    (order DESC NULLS LAST, neighbor_id ASC) ordering the windows used,
    so results are bit-for-bit unchanged and the row_number-based DuckDB
    oracles still replay them.

    ``rank_col=None`` returns only (query_id, neighbor_id) — the
    shortlist form feeding an exact re-rank (whose own final window runs
    over ≤ |Q|·rerank rows and stays a window). ``descending=False``
    ranks ascending (the Hamming-distance path)."""
    from bicis_spark.operators.topk import topk_by_group_agg

    out = topk_by_group_agg(
        scored,
        ["query_id"],
        order_col,
        "neighbor_id",
        k,
        ["neighbor_id"],
        descending=descending,
    )
    if rank_col is None:
        return out.select("query_id", "neighbor_id")
    return out.select(
        "query_id",
        "neighbor_id",
        order_col,
        F.col("rank_in_group").cast("long").alias(rank_col),
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Exact top-k cosine neighbors: [query_id, neighbor_id, cosine, rank].

    Self-matches excluded; ties break on neighbor_id (deterministic).
    Norms are computed once per vector (not per pair); ``dims`` unrolls the
    array math into codegen (None falls back to generic array lambdas).
    """
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n_parts).selectExpr(
        f"{id_col} AS neighbor_id", f"{_quant_sql(vec_col)} AS cv"
    ).selectExpr("*", f"{_norm_sql('cv')} AS cn")
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv"
    ).selectExpr("*", f"{_norm_sql('qv')} AS qn")
    pairs = c.crossJoin(F.broadcast(q)).where("neighbor_id != query_id")
    scored = pairs.selectExpr(
        "query_id",
        "neighbor_id",
        f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
    )
    return _topk_per_query(scored, "cosine", k)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplane_coeff(plane: int, dim: int) -> int:
    """Deterministic small-integer hyperplane component in [-3, 3] — a fixed
    pseudo-random pattern with no RNG (reproducible, oracle-expressible).

    Knuth-style multiplicative mixing: the previous affine-mod-7 family was
    period-7 in BOTH plane and dim, so plane 7 duplicated plane 0 (8 planes
    gave 7 effective bits) and plane 4 was a constant vector — measured
    recall@5 of 0.02 at sf0.1. Mixing through two odd 32-bit constants and
    a shift decorrelates planes and dims."""
    h = ((plane + 1) * 2654435761 + (dim + 1) * 2246822519) & 0xFFFFFFFF
    return ((h >> 13) % 7) - 3


def _lsh_bucket_sql(
    qvec: str, n_planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> str:
    """``lsh_bucket``'s expression as a raw SQL fragment (fast builder
    path — composable into larger selectExpr strings)."""
    terms = []
    for j in range(n_planes):
        coeffs = ", ".join(
            f"{_hyperplane_coeff(plane_offset + j, i)}L" for i in range(dims)
        )
        terms.append(
            f"(CASE WHEN aggregate(zip_with({qvec}, array({coeffs}), "
            f"(x, c) -> x * c), 0L, (a, x) -> a + x) > 0 "
            f"THEN {1 << j}L ELSE 0L END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_bucket(
    qvec: Column | str, n_planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-bit bucket id from integer hyperplane dot products over planes
    [plane_offset, plane_offset + n_planes) — the offset lets callers build
    INDEPENDENT banded tables from disjoint plane ranges.

    Pass a column NAME to get the fast construction path: the whole
    expression is one SQL string parsed JVM-side in a single py4j call.
    Building the same tree through the Column API costs thousands of py4j
    round-trips (~3s of driver time per query at 8×64 — measured); the
    resulting expression and values are identical.
    """
    if isinstance(qvec, str):
        return F.expr(_lsh_bucket_sql(qvec, n_planes, dims, plane_offset))
    acc = F.lit(0).cast("long")
    for j in range(n_planes):
        coeffs = [_hyperplane_coeff(plane_offset + j, i) for i in range(dims)]
        dot = F.aggregate(
            F.zip_with(
                qvec,
                F.array(*[F.lit(c).cast("long") for c in coeffs]),
                lambda x, c: x * c,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    dims: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, deterministic
    centroid-id tie-break). ``centroids``: [centroid_id, qv] — broadcast.
    Vector and centroid norms are computed once per row, not per pair."""
    v = vectors.selectExpr("*", f"{_norm_sql(qv_col)} AS _vn")
    cents = centroids.selectExpr(
        "centroid_id", f"{qv_col} AS _cv", f"{_norm_sql(qv_col)} AS _cn"
    )
    pairs = v.crossJoin(F.broadcast(cents))
    scored = pairs.selectExpr(
        "*", f"{_cfn_sql(qv_col, '_cv', '_vn', '_cn')} AS _sim"
    )
    # argmax via max_by hash-aggregate, NOT a row_number window: the agg
    # gets map-side partial combine so the (vector x centroid) pair rows
    # never shuffle — only one row per vector does. Tie-break identical to
    # ORDER BY _sim DESC, centroid_id: maximize (_sim, -centroid_id).
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr(
                f"max_by(struct({qv_col} AS _qv, centroid_id), "
                f"struct(_sim, -centroid_id AS _nc))"
            ).alias("_best")
        )
        .selectExpr(
            id_col,
            f"_best._qv AS {qv_col}",
            "_best.centroid_id AS centroid_id",
        )
    )


def kmeans_refine_exact(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    dims: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd refinement for spherical (cosine) k-means on
    quantized integer vectors — [centroid_id, qv].

    Each iteration: assign every vector to its max-cosine centroid
    (centroid-id tie-break), then recompute each centroid as the
    element-wise integer mean ``floor(sum/count)`` of its members (empty
    clusters keep their previous centroid). Everything stays exact int64 —
    no RNG, no float accumulation order — so a SQL oracle replays training
    bit-for-bit. The mean (not the raw sum) keeps centroid components at
    vector magnitude, so downstream int64 dot products cannot overflow
    regardless of cluster size.

    Scale: assignment is a broadcast(centroids) map pass; the update is a
    posexplode to (centroid, dim) rows with map-side partial aggregation —
    64·N tiny rows through one shuffle per iteration.
    """
    cents = seeds
    for _ in range(n_iter):
        assigned = ivf_assign(vectors, cents, id_col, qv_col, dims)
        means = (
            assigned.selectExpr("centroid_id", f"posexplode({qv_col})")
            .groupBy("centroid_id", "pos")
            .agg(
                F.expr(
                    "CAST(floor(CAST(sum(col) AS DOUBLE) / "
                    "CAST(count(1) AS DOUBLE)) AS BIGINT)"
                ).alias("m")
            )
            .groupBy("centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
                ).alias("_new_qv")
            )
        )
        cents = (
            cents.join(means, "centroid_id", "left")
            .selectExpr("centroid_id", f"coalesce(_new_qv, {qv_col}) AS {qv_col}")
        )
    return cents


def ann_recall(
    base_queries: DataFrame,
    exact: DataFrame,
    approx: DataFrame,
    k: int,
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against the exact
    top-k: [query_id, n_hits, recall]. ``base_queries`` is the full query-id
    frame so queries with zero approximate hits still appear (recall 0)."""
    inter = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("query_id").agg(F.count(F.lit(1)).alias("_h"))
    return base_queries.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("_h"), F.lit(0)).cast("double") / F.lit(float(k))
        ).alias("recall"),
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 1,
    dims: int | None = DEFAULT_DIMS,
    max_lists: int | None = None,
) -> DataFrame:
    """IVF ANN: partition the corpus into inverted lists by nearest
    centroid; each query scans only its ``n_probe`` closest lists.

    Centroids start from a deterministic corpus subset
    (``vec_id % mod == 1``) and are refined with ``train_iters`` exact
    k-means steps (``kmeans_refine_exact`` — deterministic, oracle-
    replayable). Scale: corpus assignment is one broadcast pass; the search
    join is (probe-list × queries), ~n_probe/n_centroids of the corpus per
    query.

    ``max_lists`` caps the seed set to its first L qualifying ids (same
    constant-size discipline as ``ann_topk_pq``'s ``max_codes``): a
    mod-only rule makes the list count N/mod — the centroid broadcast and
    the per-query centroid scoring then grow linearly with the corpus,
    and training cost quadratically. Real IVF keeps n_lists a constant
    (or √N, retrained offline); declared queries pin the cap.
    """
    c = (
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .selectExpr(f"{id_col} AS neighbor_id", f"{_quant_sql(vec_col)} AS qv")
        # consumed by every training iteration and the final assignment —
        # persist so the corpus scan + quantize runs once; tracked: the
        # returned plan is lazy, harness boundaries release (caching.py)
    )
    c = tracked_persist(c)
    seed_filter = F.col("neighbor_id") % n_centroids_mod == 1
    if max_lists is not None:
        # cap id mod*(L-1)+1 is the L-th seed itself (not the first
        # excluded id): the boundary is live data, so a <= vs < mutation
        # changes the seed set — same set as `< mod*L` (r10 verdict #7)
        seed_filter = seed_filter & (
            F.col("neighbor_id") <= n_centroids_mod * (max_lists - 1) + 1
        )
    # derive seeds from the PERSISTED projection (same rows as filtering
    # the raw corpus — c preserves the id — but served from cache instead
    # of a second full scan + quantize)
    seeds = c.where(seed_filter).select(
        F.col("neighbor_id").alias("centroid_id"), "qv"
    )
    # persist: the trained centroids feed two broadcast consumers (corpus
    # assignment + query probing); without a persist each broadcast re-runs
    # the training shuffle
    cents = tracked_persist(
        kmeans_refine_exact(c, seeds, train_iters, "neighbor_id", "qv", dims)
    )
    c_assigned = (
        ivf_assign(c, cents, "neighbor_id", "qv", dims)
        .withColumnRenamed("qv", "cv")
        .selectExpr("*", f"{_norm_sql('cv')} AS cn")
    )

    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv"
    ).selectExpr("*", f"{_norm_sql('qv')} AS qn")
    # each query probes its n_probe nearest centroids
    q_pairs = q.crossJoin(
        F.broadcast(
            cents.selectExpr(
                "centroid_id", "qv AS _cv", f"{_norm_sql('qv')} AS _cn"
            )
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    wq = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("centroid_id"))
    q_probes = (
        q_pairs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "qn", "centroid_id")
    )

    cand = c_assigned.join(F.broadcast(q_probes), "centroid_id").where(
        "neighbor_id != query_id"
    )
    scored = cand.selectExpr(
        "query_id",
        "neighbor_id",
        f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
    )
    return _topk_per_query(scored, "cosine", k)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 2,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe buckets,
    exact cosine re-rank within. 2^n_planes buckets ⇒ ~N/2^p candidates per
    probe.

    ``multi_probe`` (standard multi-probe LSH) is the recall/cost knob:
    each query also probes every bucket within that Hamming radius of its
    own (radius 1 adds p buckets, radius 2 adds p·(p−1)/2 more — at p=8
    that is 37 of 256 buckets ≈ 14% of the corpus). A true neighbor is
    most often lost to one or two wrong sign bits, so small radii recover
    most of the recall (measured at sf0.1 on near-random synthetic
    embeddings: radius 0 → 0.02, 1 → 0.28, 2 → 0.50 recall@5; clustered
    real embedding corpora sit far higher at every radius). Only the
    broadcast QUERY side fans out; the corpus is hashed and shuffled once
    either way, and a (query, neighbor) pair can match at most one probe
    (the corpus vector has exactly one bucket per table), so no dedup pass
    is needed at ``n_tables=1``.

    ``n_tables`` (standard multi-table LSH, the second recall knob): each
    table hashes with its own disjoint hyperplane range (plane_offset =
    t·n_planes), candidates are OR-ed across tables, and a DISTINCT on
    (query, neighbor) dedups cross-table repeats before the exact re-rank.
    Recall composes as 1−(1−r)^L for per-table recall r; cost is one extra
    corpus-side bucket column per table (the corpus frame explodes
    n_tables×, but only (id, bucket, table) — vectors are not duplicated
    until the probe join)."""
    if multi_probe > 2:
        raise ValueError("multi_probe radius > 2 not supported")
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    c = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    ).selectExpr(
        f"{id_col} AS neighbor_id", f"{_quant_sql(vec_col)} AS cv"
    )
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    # one (table, bucket) struct per table, from disjoint plane ranges
    c = c.selectExpr(
        "*",
        "explode(array("
        + ", ".join(
            f"struct({t} AS tbl, "
            f"{_lsh_bucket_sql('cv', n_planes, dims, t * n_planes)} AS bucket)"
            for t in range(n_tables)
        )
        + ")) AS _tb",
    ).selectExpr(
        "neighbor_id",
        "cv",
        "_tb.tbl AS tbl",
        "_tb.bucket AS bucket",
        f"{_norm_sql('cv')} AS cn",
    )
    flips = [0]  # own bucket
    if multi_probe >= 1:
        flips += [1 << j for j in range(n_planes)]
    if multi_probe >= 2:
        flips += [
            (1 << j) | (1 << l)
            for j in range(n_planes)
            for l in range(j + 1, n_planes)
        ]
    # two-step explode: materialize each table's bucket ONCE, then fan out
    # the cheap XOR probe flips — inlining the 64-dim bucket aggregate into
    # every probe element would codegen n_tables·|flips| copies of it
    q = (
        q.selectExpr(
            "*",
            "explode(array("
            + ", ".join(
                f"struct({t} AS tbl, "
                f"{_lsh_bucket_sql('qv', n_planes, dims, t * n_planes)} AS home)"
                for t in range(n_tables)
            )
            + ")) AS _tb",
        )
        .selectExpr(
            "*",
            "explode(array("
            + ", ".join(f"(_tb.home ^ {m})" for m in flips)
            + ")) AS bucket",
        )
        .selectExpr(
            "query_id",
            "qv",
            "_tb.tbl AS tbl",
            "bucket",
            f"{_norm_sql('qv')} AS qn",
        )
    )
    pairs = c.join(F.broadcast(q), ["tbl", "bucket"]).where(
        "neighbor_id != query_id"
    )
    if n_tables > 1:
        # a pair can match in several tables — dedup before the exact re-rank
        # so each candidate is scored once
        pairs = pairs.select("query_id", "neighbor_id", "qv", "cv", "qn", "cn").distinct()
    scored = pairs.selectExpr(
        "query_id",
        "neighbor_id",
        f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
    )
    return _topk_per_query(scored, "cosine", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN scoring
# ---------------------------------------------------------------------------


def _sub_l2_sql(a: str, b: str, dims: int | None = None) -> str:
    """Exact int64 squared L2 between two sub-vectors (SQL fragment).
    ``dims`` unrolls known-small widths into codegen'd arithmetic (see
    UNROLL_MAX_DIMS); the HOF form remains the any-width fallback. Both
    forms give the identical exact-int64 value when both operands hold
    exactly ``dims`` elements, and only then: on a shorter array the
    HOF form returns NULL (zip_with pads with NULLs), while the unrolled
    form raises under ANSI mode and returns NULL without it. A NULL
    distance sorts first and would silently win the min-L2 code
    assignment, so PQ callers guarantee the width at the entry point
    (``pq_subvectors`` checks every vector's length)."""
    if dims is not None and 1 <= dims <= UNROLL_MAX_DIMS:
        return (
            "CAST("
            + " + ".join(
                f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
                for i in range(dims)
            )
            + " AS BIGINT)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def pq_subvectors(
    df: DataFrame,
    id_col: str = "vec_id",
    qv_col: str = "qv",
    n_subspaces: int = 8,
    sub_dims: int = 8,
) -> DataFrame:
    """Explode quantized vectors into (id, sub, sv) sub-vector rows.

    Every vector must hold exactly ``n_subspaces * sub_dims`` elements:
    the projection fails the job on any other length, because a short
    sub-vector makes its L2 distance NULL (see ``_sub_l2_sql``) and a
    long one would be silently truncated."""
    dims = n_subspaces * sub_dims
    parts = "array(" + ", ".join(
        f"struct({m} AS sub, slice({qv_col}, {m * sub_dims + 1}, {sub_dims}) AS sv)"
        for m in range(n_subspaces)
    ) + ")"
    check = (
        f"assert_true(size({qv_col}) = {dims}, 'pq_subvectors: every vector "
        f"must have n_subspaces * sub_dims = {dims} elements')"
    )
    return df.selectExpr(
        id_col, f"explode(coalesce({check}, {parts})) AS _p"
    ).selectExpr(id_col, "_p.sub AS sub", "_p.sv AS sv")


def pq_train_codebooks(
    subvecs: DataFrame,
    seeds: DataFrame,
    train_iters: int = 1,
    id_col: str = "vec_id",
    sub_dims: int | None = None,
) -> DataFrame:
    """Deterministic per-subspace k-means codebooks: [sub, cid, sv].

    Each iteration assigns every sub-vector to its min-L2 centroid within
    the SAME subspace (centroid-id tie-break) and recomputes centroids as
    floor-of-mean integer updates (empty codes keep their previous
    centroid) — ``kmeans_refine_exact`` generalized with the subspace as
    an extra key, so all M codebooks train in the same two shuffles per
    iteration. Everything stays exact int64: a SQL oracle replays
    training bit-for-bit.
    """
    cb = seeds
    for _ in range(train_iters):
        pairs = subvecs.join(
            F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
        )
        assigned = (
            pairs.selectExpr("*", f"{_sub_l2_sql('sv', '_cv', sub_dims)} AS _d")
            .groupBy(id_col, "sub")
            .agg(
                F.expr(
                    "min_by(struct(sv AS _sv, cid), struct(_d, cid))"
                ).alias("_best")
            )
            .selectExpr("sub", "_best.cid AS cid", "_best._sv AS sv")
        )
        means = (
            assigned.selectExpr("sub", "cid", "posexplode(sv)")
            .groupBy("sub", "cid", "pos")
            .agg(
                F.expr(
                    "CAST(floor(CAST(sum(col) AS DOUBLE) / "
                    "CAST(count(1) AS DOUBLE)) AS BIGINT)"
                ).alias("m")
            )
            .groupBy("sub", "cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
                ).alias("_new_sv")
            )
        )
        cb = cb.join(means, ["sub", "cid"], "left").selectExpr(
            "sub", "cid", "coalesce(_new_sv, sv) AS sv"
        )
    return cb


def pq_encode(
    subvecs: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    sub_dims: int | None = None,
) -> DataFrame:
    """Assign each (vector, subspace) to its min-L2 code: [id, sub, code].
    At 100 TB this IS the compressed corpus representation — M small ints
    per vector instead of the float array (64×4 bytes → M bytes at
    K ≤ 256); downstream scans read only the code columns."""
    pairs = subvecs.join(
        F.broadcast(codebooks.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    )
    return (
        pairs.selectExpr("*", f"{_sub_l2_sql('sv', '_cv', sub_dims)} AS _d")
        .groupBy(id_col, "sub")
        .agg(F.expr("min(struct(_d, cid))").alias("_best"))
        .selectExpr(id_col, "sub", "_best.cid AS code")
    )


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 8,
    sub_dims: int = 8,
    seed_mod: int = 8,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    max_codes: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance
    computation (ADC — Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): the corpus is encoded once as M per-
    subspace codes; each query precomputes a (sub, code) → partial-dot
    lookup table against the codebooks, and the compressed-domain score
    is the sum of M table hits — no full-width vector math per pair.

    approx_cos(q, x) = Σₘ ⟨qₘ, c[m, codeₘ(x)]⟩ / (‖q‖ · ‖x̂‖) where x̂ is
    the code reconstruction — all numerators exact int64.

    ``rerank=R`` adds the standard second stage: the compressed scan
    keeps each query's top-R candidates, which are re-scored with EXACT
    cosine against the raw vectors (the only per-pair full-width math is
    over Q·R pairs, not Q·N); output column becomes ``cosine``. Measured
    at sf0.1 (M=16, d=4, mod=4, 1 iter): compressed-only recall@5 0.75;
    with re-rank at constant codebook sizes K=256/R=40 → 0.98 and
    K=128/R=60 → 0.99 (see ``ann_pq_recall``; M=8, d=8 codebooks measure
    0.32-0.46 compressed-only — the finer 16×4 split is the knob that
    matters on near-random vectors).

    Scale: the LUT is Q·M·K tiny rows (broadcast); the scored join
    probes it per corpus code row map-side, and partial aggregation
    collapses to one row per (query, neighbor) before any exchange. The
    win is bandwidth: candidate scans read M bytes of codes per vector,
    not the raw embedding. Compose with the IVF router for sublinear
    candidate counts (this operator scores ALL pairs, compressed).
    """
    bq = _resolve_query_broadcast(queries, n_queries)
    c = (
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .selectExpr(f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv")
        # consumed by seeds, train, encode, and the re-rank stage — persist
        # so the corpus scan + repartition exchange runs once, not 3-4x;
        # tracked: lazy result plan, harness boundaries release (caching.py)
    )
    c = tracked_persist(c)
    subvecs = tracked_persist(pq_subvectors(c, "nid", "qv", n_subspaces, sub_dims))
    # codebook size must be a CONSTANT, not a corpus fraction: real PQ uses
    # K=256 codes per subspace at any corpus size (one byte per code), and
    # training/encoding cost is N·K per subspace — a mod-only seed rule
    # would make K scale with N and the encode join quadratic. max_codes
    # caps the deterministic seed set to its first K ids.
    seed_filter = F.col("nid") % seed_mod == 1
    if max_codes is not None:
        # live-boundary cap: mod*(K-1)+1 is itself the K-th seed (r10)
        seed_filter = seed_filter & (
            F.col("nid") <= seed_mod * (max_codes - 1) + 1
        )
    seeds = pq_subvectors(
        c.where(seed_filter), "nid", "qv", n_subspaces, sub_dims
    ).select("sub", F.col("nid").alias("cid"), "sv")
    cb = tracked_persist(
        pq_train_codebooks(subvecs, seeds, train_iters, "nid", sub_dims)
    )

    codes = pq_encode(subvecs, cb, "nid", sub_dims)

    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    qsubs = pq_subvectors(q, "query_id", "qv", n_subspaces, sub_dims)
    lut = qsubs.join(
        F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    ).selectExpr(
        "query_id",
        "sub",
        "cid AS code",
        f"{_dot_sql('sv', '_cv', sub_dims)} AS _pdot",
        f"{_norm2_sql('_cv', sub_dims)} AS _pn2",
    )
    # one (query_id, qv, qn) frame shared by the score attach and the
    # re-rank (round 12): the norm subtree is defined once
    qn_full = q.selectExpr("*", f"{_norm_sql('qv')} AS qn")
    qn = qn_full.selectExpr("query_id", "qn AS _qn")
    acc = (
        codes.join(bq(lut), ["sub", "code"])
        .where("nid != query_id")
        .groupBy("query_id", "nid")
        .agg(
            F.expr("CAST(sum(_pdot) AS BIGINT)").alias("_adot"),
            F.expr("CAST(sum(_pn2) AS BIGINT)").alias("_rn2"),
        )
    )
    scored = acc.join(bq(qn), "query_id").selectExpr(
        "query_id",
        "nid AS neighbor_id",
        "CAST(_adot AS DOUBLE) / "
        + _nonzero_sql("_qn * sqrt(CAST(_rn2 AS DOUBLE))")
        + " AS approx_cosine",
    )
    if rerank is None:
        return _topk_per_query(scored, "approx_cosine", k)
    shortlist = _topk_per_query(scored, "approx_cosine", rerank, rank_col=None)
    qv_full = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = (
        shortlist.join(F.broadcast(qn_full), "query_id")
        .join(qv_full, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine",
        )
    )
    # final rank over ≤ |Q|·rerank rows — bounded, a window is fine here
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def synth_clustered_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    n_clusters: int = 32,
    dims: int = 64,
) -> DataFrame:
    """Deterministic mixture-of-centroids embedding corpus (round 10,
    r9 verdict #2): [id, embedding] where embedding[d] = base(cluster, d)
    + noise(id, d), cluster = id % n_clusters, base ∈ [-3, 3] (Knuth-
    mixed like ``_hyperplane_coeff``), noise ∈ [-2, 2].

    Why it exists: the driver's synthetic embeddings are near-uniform on
    the sphere, which forces any honest IVF operating point to probe
    ~half the lists for recall ≥ 0.8 — the regime real corpora are NOT
    in. This corpus has real cluster structure (in-cluster cosine ≈ 0.67,
    cross-cluster ≈ 0), so a declared row can exercise the n_lists ∝ √N /
    small-probe-fraction FAISS sizing discipline with measured recall.

    All components are small integers computed with int64 arithmetic —
    the identical formula is replayable in the DuckDB oracles, and
    ``quantize`` maps value → value·10⁶ exactly (integers are exact in
    double, so floor(double(v)·10⁶) = v·10⁶ bit-for-bit)."""
    expr = f"""
    transform(sequence(0, {dims - 1}), d -> CAST(
        ((shiftright((({id_col} % {n_clusters} + 1) * 2654435761L
                      + (CAST(d AS BIGINT) + 1) * 2246822519L)
                     & 4294967295L, 13) % 7) - 3)
      + ((shiftright((({id_col} + 1) * 2246822519L
                      + (CAST(d AS BIGINT) + 1) * 3266489917L)
                     & 4294967295L, 11) % 5) - 2)
    AS DOUBLE))
    """
    return df.select(F.col(id_col), F.expr(expr).alias("embedding"))


def _ivfpq_build(
    corpus: DataFrame,
    n_centroids_mod: int,
    max_lists: int | None,
    ivf_train_iters: int,
    n_subspaces: int,
    sub_dims: int,
    seed_mod: int,
    pq_train_iters: int,
    max_codes: int | None,
    id_col: str,
    vec_col: str,
    dims: int | None,
    n_lists: int | None = None,
    persist_codes: bool = False,
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ index build: returns (c, cents, cb, codes) — the
    persisted quantized corpus, trained coarse centroids, trained PQ
    codebooks, and the encoded corpus joined with its list assignment.

    ``n_lists`` (round 10) switches the coarse seed rule from the
    mod-with-cap form to the first-``n_lists`` ids — the hook that lets a
    declared row size the list count as a deterministic function of the
    corpus count (n_lists = ⌊√N⌋, the FAISS IVF sizing rule), replayable
    in SQL as ``vec_id < (SELECT floor(sqrt(count(*))) FROM q)``.

    ``train_sample`` (round 11, r10 verdict #3) bounds the COARSE-
    QUANTIZER TRAINING set to the deterministic first-``train_sample``
    ids (the seed-cap pattern): Lloyd refinement assigns only the sample
    to the n_lists centroids, so the training term drops from
    iters·N·n_lists to iters·sample·n_lists — at n_lists = ⌊√N⌋ and
    sample ∝ √N that is O(N) instead of the N^1.5 build term SCALE.md
    r10 named. The FULL corpus is still assigned exactly once (the
    unavoidable one-pass N·n_lists encode). FAISS's own discipline
    (ClusteringParameters.max_points_per_centroid defaults to 256× the
    centroid count; the repo row uses 64×). SQL-replayable: the oracle
    filters the training assignment's vector side by the same
    predicate."""
    c = (
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .selectExpr(f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv")
    )
    # consumed by coarse seeds/training/assignment, PQ subvectors, and the
    # re-rank — persist once (tracked; harness boundaries release)
    c = tracked_persist(c)

    # --- coarse quantizer (ann_topk_ivf's trainer, shared constants) ---
    if n_lists is not None:
        seed_filter = F.col("nid") < F.lit(int(n_lists))
    else:
        seed_filter = F.col("nid") % n_centroids_mod == 1
        if max_lists is not None:
            # live-boundary cap (see ann_topk_ivf)
            seed_filter = seed_filter & (
                F.col("nid") <= n_centroids_mod * (max_lists - 1) + 1
            )
    seeds = c.where(seed_filter).select(F.col("nid").alias("centroid_id"), "qv")
    train_vecs = (
        c if train_sample is None else c.where(F.col("nid") < F.lit(int(train_sample)))
    )
    cents = tracked_persist(
        kmeans_refine_exact(train_vecs, seeds, ivf_train_iters, "nid", "qv", dims)
    )
    assign = ivf_assign(c, cents, "nid", "qv", dims).select("nid", "centroid_id")

    # --- product codes over the raw vectors (ann_topk_pq's trainer) ---
    subvecs = tracked_persist(pq_subvectors(c, "nid", "qv", n_subspaces, sub_dims))
    pq_seed = F.col("nid") % seed_mod == 1
    if max_codes is not None:
        # live-boundary cap (see ann_topk_pq)
        pq_seed = pq_seed & (F.col("nid") <= seed_mod * (max_codes - 1) + 1)
    pq_seeds = pq_subvectors(
        c.where(pq_seed), "nid", "qv", n_subspaces, sub_dims
    ).select("sub", F.col("nid").alias("cid"), "sv")
    cb = tracked_persist(
        pq_train_codebooks(subvecs, pq_seeds, pq_train_iters, "nid", sub_dims)
    )
    codes = pq_encode(subvecs, cb, "nid", sub_dims).join(assign, "nid")
    if persist_codes:
        # the probe-curve row searches the SAME index at several probe
        # settings — materialize the encode once instead of per setting
        codes = tracked_persist(codes)
    return c, cents, cb, codes


#: Query-side broadcast gate (round 11, r10 verdict residual #3): the
#: per-query broadcast payload in an IVF-PQ/IVF-SQ8 search is ~1 KB
#: (n_probe route rows + n_subspaces LUT rows), so 32k queries ≈ 32 MB —
#: half the session's 64 MB autoBroadcast budget. Above this the
#: query-side frames join as ordinary shuffle joins instead.
ANN_BROADCAST_MAX_QUERIES = 32_768


def _resolve_query_broadcast(queries: DataFrame, n_queries: int | None):
    """(broadcast-or-identity wrapper) for |Q|-sized search-side frames.

    ``n_queries`` is the caller's bound on the batch size when it knows
    one (the declared rows pass their fixed 20-query cap — zero runtime
    cost); ``None`` runs one LIMIT-bounded count probe (scans at most
    gate+1 rows) and gates on the measured size — the runtime fallback
    for unbounded online batches."""
    if n_queries is None:
        n_queries = queries.limit(ANN_BROADCAST_MAX_QUERIES + 1).count()
    if n_queries > ANN_BROADCAST_MAX_QUERIES:
        return lambda df: df
    return F.broadcast


def _ivfpq_search(
    c: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    n_subspaces: int,
    sub_dims: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    dims: int | None,
    n_queries: int | None = None,
) -> DataFrame:
    """Shared IVF-PQ search stage over a built index: probe routing → ADC
    compressed scan over probed lists → optional exact re-rank. The |Q|-
    sized frames (probes, LUT, query norms) broadcast only while the
    batch is under ``ANN_BROADCAST_MAX_QUERIES`` (declared rows pass
    their fixed 20-query bound; unbounded batches are gated by a
    LIMIT-bounded count and fall back to shuffle joins — r10 verdict
    residual #3)."""
    bq = _resolve_query_broadcast(queries, n_queries)
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    qn_full = q.selectExpr("*", f"{_norm_sql('qv')} AS qn")
    q_pairs = qn_full.crossJoin(
        F.broadcast(
            cents.selectExpr(
                "centroid_id", "qv AS _cv", f"{_norm_sql('qv')} AS _cn"
            )
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_pairs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id")
    )
    qsubs = pq_subvectors(q, "query_id", "qv", n_subspaces, sub_dims)
    lut = qsubs.join(
        F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    ).selectExpr(
        "query_id",
        "sub",
        "cid AS code",
        f"{_dot_sql('sv', '_cv', sub_dims)} AS _pdot",
        f"{_norm2_sql('_cv', sub_dims)} AS _pn2",
    )
    # reuse qn_full's norm (round 12): same value, one fewer norm subtree
    qn = qn_full.selectExpr("query_id", "qn AS _qn")

    # --- ADC over probed lists only ---
    acc = (
        codes.join(bq(probes), "centroid_id")
        .join(bq(lut), ["query_id", "sub", "code"])
        .where("nid != query_id")
        .groupBy("query_id", "nid")
        .agg(
            F.expr("CAST(sum(_pdot) AS BIGINT)").alias("_adot"),
            F.expr("CAST(sum(_pn2) AS BIGINT)").alias("_rn2"),
        )
    )
    scored = acc.join(bq(qn), "query_id").selectExpr(
        "query_id",
        "nid AS neighbor_id",
        "CAST(_adot AS DOUBLE) / "
        + _nonzero_sql("_qn * sqrt(CAST(_rn2 AS DOUBLE))")
        + " AS approx_cosine",
    )
    if rerank is None:
        return _topk_per_query(scored, "approx_cosine", k)
    shortlist = _topk_per_query(scored, "approx_cosine", rerank, rank_col=None)
    qv_full = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = (
        # qn_full instead of q: the re-rank needs the query norm anyway,
        # and qn_full already carries it — drops a per-row norm recompute
        shortlist.join(bq(qn_full), "query_id")
        .join(qv_full, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine",
        )
    )
    # final rank over ≤ |Q|·rerank rows — bounded, a window is fine here
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 10,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    n_subspaces: int = 16,
    sub_dims: int = 4,
    seed_mod: int = 4,
    pq_train_iters: int = 1,
    rerank: int | None = 40,
    max_codes: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
    n_lists: int | None = None,
    train_sample: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN — the composition ``ann_topk_pq``'s docstring promises
    (Jégou et al. 2011 §V: coarse quantizer + product codes): a trained
    IVF router sends each query to its ``n_probe`` nearest lists, and the
    ADC compressed scan runs ONLY over the probed lists' codes, followed
    by the standard exact re-rank of the top-``rerank`` shortlist.

    Why it exists (round 9, SCALE.md): the flat ``ann_topk_pq`` scan
    measured n^1.97 over sf1→sf3 — per-QUERY work is linear in codes, but
    the benchmark's query rule (``vec_id % 100`` alone, pre-r10) scaled
    |Q| with the corpus, so the |Q|·N product was quadratic. Round 10
    fixed the declared batches at |Q| = 20 (``_ANN_Q_CAP``), and probing
    cuts the scanned codes to the probed fraction (n_probe/n_lists at
    balanced lists); the remaining scale levers are stated honestly: at
    a CONSTANT ``max_lists`` the fraction is constant (a constant-factor
    win, this row's declared operating point), and the production
    discipline is n_lists ∝ √N (training cost N·√N, ADC
    |Q|·n_probe·N/√N — the FAISS IVF sizing rule, exercised by the
    declared ``ann_topk_ivfpq_sqrt`` row via the ``n_lists`` hook).

    Codes are PQ over the RAW vectors (not residuals): residual encoding
    is the spec'd refinement but needs per-list codebooks with no extra
    oracle difficulty yet real recall cost at K constants this small —
    the raw-vector form keeps ONE codebook set shared with
    ``ann_topk_pq`` and the whole pipeline (coarse training, routing, PQ
    training, encode, LUT scan, re-rank) SQL-replayable bit-for-bit.

    Shuffle shape: coarse centroids and PQ codebooks broadcast; the
    candidate join is codes ⋈ broadcast(probes) ⋈ broadcast(LUT) —
    map-side until the (query, neighbor) partial-sum exchange, which
    carries only probed-candidate rows."""
    c, cents, cb, codes = _ivfpq_build(
        corpus,
        n_centroids_mod,
        max_lists,
        ivf_train_iters,
        n_subspaces,
        sub_dims,
        seed_mod,
        pq_train_iters,
        max_codes,
        id_col,
        vec_col,
        dims,
        n_lists=n_lists,
        train_sample=train_sample,
    )
    return _ivfpq_search(
        c,
        cents,
        cb,
        codes,
        queries,
        k,
        n_probe,
        n_subspaces,
        sub_dims,
        rerank,
        id_col,
        vec_col,
        dims,
        n_queries=n_queries,
    )


def ann_ivfpq_probe_curve(
    corpus: DataFrame,
    queries: DataFrame,
    probe_settings: list[int],
    k: int = 5,
    n_lists: int | None = None,
    train_sample: int | None = None,
    n_queries: int | None = None,
    n_centroids_mod: int = 50,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    n_subspaces: int = 16,
    sub_dims: int = 4,
    seed_mod: int = 4,
    pq_train_iters: int = 1,
    rerank: int | None = 40,
    max_codes: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Recall-vs-probe curve over ONE built IVF-PQ index (round 10, r9
    verdict #2): [probe_lists, n_queries, avg_recall] — one row per probe
    setting, measured against the exact brute-force top-k on the same
    corpus. The index (coarse centroids, PQ codebooks, encoded corpus) is
    built once and persisted; each setting re-runs only the search stage,
    so the row costs index-build + Σ probe-scans, not |settings| full
    builds. avg_recall = sum(n_hits) / (k · |Q|) — one double division of
    exact integers, bit-replayable."""
    if not probe_settings:
        raise ValueError("probe_settings must be non-empty")
    c, cents, cb, codes = _ivfpq_build(
        corpus,
        n_centroids_mod,
        max_lists,
        ivf_train_iters,
        n_subspaces,
        sub_dims,
        seed_mod,
        pq_train_iters,
        max_codes,
        id_col,
        vec_col,
        dims,
        n_lists=n_lists,
        persist_codes=True,
        train_sample=train_sample,
    )
    # --- one shared ADC scan for the WHOLE curve (round 11) ---
    # Every candidate lives in exactly ONE inverted list, so its partial
    # sums are identical at every probe setting that reaches that list;
    # the per-setting searches differ only in WHICH (query, list) pairs
    # they admit. Scan once at max(probe_settings) carrying each pair's
    # probe rank, then fan each scored candidate out to the settings
    # whose cutoff admits it (explode over the setting array) — the
    # former 3 independent search DAGs (ADC join + aggregate each)
    # collapse into one, the exact brute-force reference is scanned once
    # instead of once per setting, and the per-setting sums are the SAME
    # set of exact integers, so every value is bit-identical to the
    # per-setting form the oracle replays.
    distinct_ps = sorted({int(p) for p in probe_settings})
    max_p = distinct_ps[-1]
    parr = "array({})".format(",".join(str(p) for p in distinct_ps))
    bq = _resolve_query_broadcast(queries, n_queries)
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    qn_full = q.selectExpr("*", f"{_norm_sql('qv')} AS qn")
    q_pairs = qn_full.crossJoin(
        F.broadcast(
            cents.selectExpr(
                "centroid_id", "qv AS _cv", f"{_norm_sql('qv')} AS _cn"
            )
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_pairs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= max_p)
        .select("query_id", "centroid_id", "_rn")
    )
    qsubs = pq_subvectors(q, "query_id", "qv", n_subspaces, sub_dims)
    lut = qsubs.join(
        F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    ).selectExpr(
        "query_id",
        "sub",
        "cid AS code",
        f"{_dot_sql('sv', '_cv', sub_dims)} AS _pdot",
        f"{_norm2_sql('_cv', sub_dims)} AS _pn2",
    )
    # reuse qn_full's norm (round 12): same value, one fewer norm subtree
    qn = qn_full.selectExpr("query_id", "qn AS _qn")
    acc = (
        codes.join(bq(probes), "centroid_id")
        .join(bq(lut), ["query_id", "sub", "code"])
        .where("nid != query_id")
        .groupBy("query_id", "nid")
        .agg(
            F.expr("CAST(sum(_pdot) AS BIGINT)").alias("_adot"),
            F.expr("CAST(sum(_pn2) AS BIGINT)").alias("_rn2"),
            # one list per nid ⇒ _rn is constant across the group
            F.min("_rn").alias("_minrn"),
        )
    )
    scored = acc.join(bq(qn), "query_id").selectExpr(
        "query_id",
        "nid AS neighbor_id",
        "_minrn",
        "CAST(_adot AS DOUBLE) / "
        + _nonzero_sql("_qn * sqrt(CAST(_rn2 AS DOUBLE))")
        + " AS approx_cosine",
    )
    cand = scored.selectExpr(
        "*", f"explode(filter({parr}, p -> p >= _minrn)) AS _probe"
    )
    from bicis_spark.operators.topk import topk_by_group_agg

    if rerank is None:
        approx_topk = topk_by_group_agg(
            cand, ["_probe", "query_id"], "approx_cosine", "neighbor_id",
            k, ["neighbor_id"], descending=True,
        ).select("_probe", "query_id", "neighbor_id")
    else:
        short = topk_by_group_agg(
            cand, ["_probe", "query_id"], "approx_cosine", "neighbor_id",
            rerank, ["neighbor_id"], descending=True,
        ).select("_probe", "query_id", "neighbor_id")
        qv_full = c.selectExpr(
            "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
        )
        exact_sc = (
            # qn_full: the query norm is already a column (round 12)
            short.join(bq(qn_full), "query_id")
            .join(qv_full, "neighbor_id")
            .selectExpr(
                "_probe",
                "query_id",
                "neighbor_id",
                f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine",
            )
        )
        w2 = Window.partitionBy("_probe", "query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        approx_topk = (
            exact_sc.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("_probe", "query_id", "neighbor_id")
        )
    base = queries.select(F.col(id_col).alias("query_id"))
    # Brute-force reference over the PERSISTED quantized corpus (round 11,
    # optimization session 2): ann_topk_bruteforce(corpus, ...) would
    # re-scan and re-quantize the raw corpus a second time; ``c`` already
    # holds exactly the (nid, qv) rows it would derive (same repartition,
    # same quantize), so the reference scan is served from the index
    # build's cache — one fewer full corpus scan + quantize per row at
    # any scale. Values bit-identical (same expression trees, same salted
    # top-k; oracle MATCH re-checked at sf0.01 and sf0.001).
    cq = c.selectExpr(
        "nid AS neighbor_id", "qv AS cv"
    ).selectExpr("*", f"{_norm_sql('cv')} AS cn")
    # reuse qn_full (round 12, r11 ADVICE #1): the reference's query side
    # is exactly the (query_id, qv, qn) frame the probe routing built ~100
    # lines up — re-deriving it as a second quantize+norm subtree only
    # duplicated the definition
    bf_scored = cq.crossJoin(F.broadcast(qn_full)).where(
        "neighbor_id != query_id"
    ).selectExpr(
        "query_id",
        "neighbor_id",
        f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
    )
    exact = _topk_per_query(bf_scored, "cosine", k)
    inter = exact.select("query_id", "neighbor_id").join(
        approx_topk, ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("_probe", "query_id").agg(
        F.count(F.lit(1)).alias("_h")
    )
    basex = base.selectExpr("query_id", f"explode({parr}) AS _probe")
    rec = basex.join(hits, ["_probe", "query_id"], "left").select(
        "_probe",
        "query_id",
        F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
    )
    curve = rec.groupBy("_probe").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (
            F.sum("n_hits").cast("double")
            / (F.lit(float(k)) * F.count(F.lit(1)).cast("double"))
        ).alias("avg_recall"),
    )
    # re-expand to the INPUT setting list (duplicate settings — possible
    # at tiny SFs where n_lists//16 == n_lists//8 — must yield duplicate
    # output rows exactly as the per-setting loop did)
    wanted = queries.sparkSession.range(1).selectExpr(
        "explode(array({})) AS probe_lists".format(
            ",".join(str(int(p)) for p in probe_settings)
        )
    )
    return wanted.join(
        F.broadcast(curve), F.col("probe_lists") == F.col("_probe")
    ).select(
        F.col("probe_lists").cast("long").alias("probe_lists"),
        "n_queries",
        "avg_recall",
    )


def sq8_scales(c: DataFrame, qv_col: str = "qv", dims: int = 64) -> DataFrame:
    """Per-dimension symmetric int8 scales over a quantized corpus, as a
    ONE-ROW frame [sl: array<double>] for a broadcast scalar attach:
    sl[d] = 127 / max|qv_d| (0 for an identically-zero dimension). The
    64-key max aggregate is map-side combined; the fact table never
    shuffles. Same float recipe as ``int8_quantize_stats`` (127.0/mx is
    one double division — IEEE-identical in any engine)."""
    return (
        c.selectExpr(f"posexplode(slice({qv_col}, 1, {dims})) AS (pos, x)")
        .groupBy("pos")
        .agg(F.expr("max(abs(CAST(x AS DOUBLE)))").alias("mx"))
        .selectExpr(
            "pos",
            "CASE WHEN mx > 0 THEN 127.0D / mx ELSE 0.0D END AS s",
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s))), x -> x.s)"
            ).alias("sl")
        )
    )


def sq8_encode(qv: Column | str, sl: Column | str) -> Column:
    """int8 code vector: clamp(⌊qv_d · s_d + 0.5⌋, −127, 127) per
    dimension — ``floor(·+0.5)`` rather than round() because the engines'
    round() tie conventions differ while this float tree is
    IEEE-identical (the ``int8_quantize_stats`` recipe)."""
    if isinstance(qv, str) and isinstance(sl, str):
        return F.expr(_sq8_encode_sql(qv, sl))
    return F.zip_with(
        qv,
        sl,
        lambda x, s: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x.cast("double") * s + F.lit(0.5)).cast("long"),
            ),
        ),
    )


def _sq8_encode_sql(qv: str, sl: str) -> str:
    """``sq8_encode`` as a SQL fragment (fast builder path; same tree)."""
    return (
        f"zip_with({qv}, {sl}, (x, s) -> "
        f"greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), "
        f"CAST(floor(CAST(x AS DOUBLE) * s + 0.5D) AS BIGINT))))"
    )


def ann_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Scalar-quantized (int8) ANN — FAISS's ``ScalarQuantizer`` QT_8bit
    serving path: per-dimension symmetric scales trained on the corpus,
    every vector compressed to 64 int8 codes (4× the raw-embedding
    bandwidth win; 16× vs the quantized int64 working form), candidates
    scored with the int8 dot product, and the top-``rerank`` shortlist
    re-ranked with exact full-precision cosine.

    Where it sits in the family: PQ compresses harder (M bytes) but
    needs trained codebooks; SQ8 is the train-light middle ground real
    serving stacks deploy first. This row keeps the brute-force scan
    SHAPE (corpus × broadcast(fixed query batch), no corpus shuffle) —
    compose with the IVF router for sublinear candidate counts.

    Determinism: scales are one double division per dimension; codes are
    floor(x·s + 0.5) clamps; int8 dots are exact int64 sums — the whole
    pipeline replays bit-for-bit in the DuckDB oracle."""
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = tracked_persist(
        corpus.repartition(n_parts).selectExpr(
            f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv"
        )
    )
    # one-row scales frame attached by broadcast cross join (scalar
    # attach): encoding then runs map-side — no explode shuffle of codes
    scales = sq8_scales(c, "qv", dims or 64)
    c8 = c.crossJoin(F.broadcast(scales)).selectExpr(
        "nid", f"{_sq8_encode_sql('qv', 'sl')} AS c8"
    ).selectExpr("*", f"{_norm_sql('c8')} AS cn8")
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    q8 = q.crossJoin(F.broadcast(scales)).selectExpr(
        "query_id", "qv", f"{_sq8_encode_sql('qv', 'sl')} AS q8"
    ).selectExpr("*", f"{_norm_sql('q8')} AS qn8")
    pairs = c8.crossJoin(
        F.broadcast(q8.select("query_id", "q8", "qn8"))
    ).where("nid != query_id")
    scored = pairs.selectExpr(
        "query_id",
        "nid AS neighbor_id",
        f"{_cfn_sql('q8', 'c8', 'qn8', 'cn8')} AS approx_cosine",
    )
    if rerank is None:
        return _topk_per_query(scored, "approx_cosine", k)
    shortlist = _topk_per_query(scored, "approx_cosine", rerank, rank_col=None)
    qv_full = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = (
        shortlist.join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .join(qv_full, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', '_nv', _norm_sql('qv'), '_nn')} AS cosine",
        )
    )
    # final rank over ≤ |Q|·rerank rows — bounded, a window is fine here
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_topk_ivfsq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids_mod: int = 50,
    n_probe: int = 10,
    max_lists: int | None = 40,
    ivf_train_iters: int = 1,
    rerank: int | None = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-SQ8 ANN — the composition ``ann_topk_sq8``'s docstring
    promises (FAISS's ``IVF<n>,SQ8`` index family, round 11): the trained
    IVF coarse router (``ann_topk_ivf``'s trainer, shared constants)
    sends each query to its ``n_probe`` nearest lists, candidates WITHIN
    the probed lists are scored with the int8 scalar-quantized dot
    product (4× the raw-embedding scan bandwidth), and the
    top-``rerank`` shortlist is re-ranked with exact full-precision
    cosine.

    Where it sits in the family: IVF-PQ compresses harder (M bytes per
    vector, trained codebooks) but pays ADC table lookups; IVF-SQ8 keeps
    plain dot products over int8 codes — the train-light probed
    configuration serving stacks reach for before PQ. Per-query scanned
    vectors ≈ probed fraction of N; scan bytes ≈ N/4 of the raw scan.

    Shuffle shape: centroids, per-dim scales (one row), probe routes and
    query codes all broadcast; the candidate scan is map-side over the
    probed lists' partitions; shortlist selection is the salted two-phase
    top-k (no full-candidate sort in one task); the exact re-rank touches
    ≤ |Q|·rerank rows. Determinism: same exact-int64/IEEE-double recipe
    as ``ann_topk_sq8`` + ``ann_topk_ivf`` — the whole pipeline replays
    bit-for-bit in the DuckDB oracle."""
    bq = _resolve_query_broadcast(queries, n_queries)
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = tracked_persist(
        corpus.repartition(n_parts).selectExpr(
            f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv"
        )
    )
    # --- coarse router: ann_topk_ivf's trainer (mod seeds, capped) ---
    seed_filter = F.col("nid") % n_centroids_mod == 1
    if max_lists is not None:
        seed_filter = seed_filter & (
            F.col("nid") <= n_centroids_mod * (max_lists - 1) + 1
        )
    seeds = c.where(seed_filter).select(F.col("nid").alias("centroid_id"), "qv")
    cents = tracked_persist(
        kmeans_refine_exact(c, seeds, ivf_train_iters, "nid", "qv", dims)
    )
    assign = ivf_assign(c, cents, "nid", "qv", dims).select("nid", "centroid_id")

    # --- SQ8 codes over the full corpus (scales: one-row broadcast) ---
    scales = sq8_scales(c, "qv", dims or 64)
    c8 = (
        c.join(assign, "nid")
        .crossJoin(F.broadcast(scales))
        .selectExpr(
            "nid", "centroid_id", f"{_sq8_encode_sql('qv', 'sl')} AS c8"
        )
        .selectExpr("*", f"{_norm_sql('c8')} AS cn8")
    )
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    q8 = q.crossJoin(F.broadcast(scales)).selectExpr(
        "query_id", f"{_sq8_encode_sql('qv', 'sl')} AS q8"
    ).selectExpr("*", f"{_norm_sql('q8')} AS qn8")

    # --- probe routing (bounded |Q| × n_lists window) ---
    qn_full = q.selectExpr("*", f"{_norm_sql('qv')} AS qn")
    q_pairs = qn_full.crossJoin(
        F.broadcast(
            cents.selectExpr(
                "centroid_id", "qv AS _cv", f"{_norm_sql('qv')} AS _cn"
            )
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_pairs.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id")
    )

    # --- int8 scan over probed lists only ---
    cand = (
        c8.join(bq(probes), "centroid_id")
        .join(bq(q8), "query_id")
        .where("nid != query_id")
    )
    scored = cand.selectExpr(
        "query_id",
        "nid AS neighbor_id",
        f"{_cfn_sql('q8', 'c8', 'qn8', 'cn8')} AS approx_cosine",
    )
    if rerank is None:
        return _topk_per_query(scored, "approx_cosine", k)
    shortlist = _topk_per_query(scored, "approx_cosine", rerank, rank_col=None)
    qv_full = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = (
        # qn_full: the probe routing already derived the query norm
        shortlist.join(F.broadcast(qn_full), "query_id")
        .join(qv_full, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine",
        )
    )
    # final rank over ≤ |Q|·rerank rows — bounded, a window is fine here
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def sign_signature_word(qv_col: str, start: int, width: int = 32) -> Column:
    """One 32-bit word of a vector's per-dimension SIGN signature:
    Σ_j (qv[start+j] > 0)·2^j — the classic binary-embedding binarization
    (FAISS's binary indexes; 64 dims → two words = 16 bytes, a 64×
    compression vs float32 and 32× vs the quantized int64 working form).
    Generated as one SQL string (the lsh_bucket fast-path idiom: a single
    py4j parse instead of thousands of Column-API round-trips); the
    DuckDB oracle computes the identical sum with a range/CASE
    transform."""
    return F.expr(_sign_signature_sql(qv_col, start, width))


def _sign_signature_sql(qv_col: str, start: int, width: int = 32) -> str:
    """``sign_signature_word`` as a raw SQL fragment (composable)."""
    terms = [
        f"(CASE WHEN element_at({qv_col}, {start + j + 1}) > 0L"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(width)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def ann_topk_hamming(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int | None = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Binary sign-bit ANN — the FAISS ``IndexBinaryFlat`` serving shape
    (round 11): every vector binarized to its per-dimension sign bits
    (two 32-bit words), candidates ranked by HAMMING distance — one
    ``bit_count(xor)`` per word, the cheapest possible scan (16 bytes +
    two popcounts per candidate; SQ8 reads 64 bytes, PQ decodes ADC
    tables) — and the top-``rerank`` shortlist re-ranked with exact
    cosine. Hamming between sign signatures is a proxy for angular
    distance (each agreeing sign bit is one quadrant agreement), so the
    re-rank carries the accuracy; ``ann_hamming_recall`` measures it.

    Plan shape: corpus signatures computed map-side, queries broadcast,
    shortlist selection via the salted two-phase top-k (ASCENDING order —
    no single task sorts all N candidates), exact re-rank over
    ≤ |Q|·rerank rows. Determinism: signatures are exact integer sums;
    Hamming is an integer; ties break on neighbor_id."""
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = tracked_persist(
        corpus.repartition(n_parts)
        .selectExpr(f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv")
        .selectExpr(
            "*",
            f"{_sign_signature_sql('qv', 0)} AS lo",
            f"{_sign_signature_sql('qv', 32)} AS hi",
        )
    )
    q = (
        queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
        .selectExpr(
            "*",
            f"{_sign_signature_sql('qv', 0)} AS qlo",
            f"{_sign_signature_sql('qv', 32)} AS qhi",
        )
    )
    pairs = c.crossJoin(
        F.broadcast(q.select("query_id", "qlo", "qhi"))
    ).where("nid != query_id")
    scored = pairs.selectExpr(
        "query_id",
        "nid AS neighbor_id",
        "CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT) AS hamming",
    )
    if rerank is None:
        return _topk_per_query(scored, "hamming", k, descending=False)
    shortlist = _topk_per_query(
        scored, "hamming", rerank, rank_col=None, descending=False
    )
    qv_full = c.selectExpr(
        "nid AS neighbor_id", "qv AS _nv", f"{_norm_sql('qv')} AS _nn"
    )
    exact = (
        shortlist.join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .join(qv_full, "neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', '_nv', _norm_sql('qv'), '_nn')} AS cosine",
        )
    )
    # final rank over ≤ |Q|·rerank rows — bounded, a window is fine here
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ann_filtered_prepost(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 5,
    overfetch: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,  # inert (r11 ADVICE #2): kept for the
    # family-wide signature; all array math routes through the HOF/SQL
    # fragments regardless of value (see the module-level DEFAULT_DIMS note)
) -> tuple[DataFrame, DataFrame]:
    """The FILTERED-ANN strategy pair every vector store exposes
    (round 11): returns (pre, post) top-k results under a metadata
    ``predicate`` on the corpus.

    - PRE-filter: restrict the corpus BEFORE the search — exact within
      the filtered set (the ground truth), but the index must support
      predicate pushdown.
    - POST-filter: search the FULL corpus for ``overfetch`` candidates,
      then drop non-matching neighbors and keep the best ``k`` by the
      original ranking — the strategy an unfiltered index forces, which
      LOSES recall whenever fewer than ``k`` of the overfetched
      candidates match (the trade ``ann_filtered_prepost_recall``
      measures).

    ``predicate`` is a FACTORY ``column_name -> Column`` (e.g.
    ``lambda c: F.col(c) % 2 == 0``) so one definition filters both the
    corpus (on ``id_col``) and the post-filter results (on
    ``neighbor_id``). Both sides reuse the exact brute-force scan
    (salted top-k); the post-filter re-rank is a bounded window over
    ≤ |Q|·overfetch rows.

    The two scans share ONE persisted quantized corpus (round 11,
    optimization session 2): two independent ``ann_topk_bruteforce``
    calls each re-scanned and re-quantized the raw corpus; the predicate
    reads only the id column, so filtering the quantized frame is the
    same row set and the pre side is served from the full side's cache —
    the corpus is read and quantized once per row at any scale. Same
    expression trees and salted top-k ⇒ values bit-identical (oracle
    MATCH re-checked at sf0.01 and sf0.001)."""
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = tracked_persist(
        corpus.repartition(n_parts)
        .selectExpr(f"{id_col} AS neighbor_id", f"{_quant_sql(vec_col)} AS cv")
        .selectExpr("*", f"{_norm_sql('cv')} AS cn")
    )
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv"
    ).selectExpr("*", f"{_norm_sql('qv')} AS qn")

    def _bf_topk(cdf: DataFrame, kk: int) -> DataFrame:
        scored = cdf.crossJoin(F.broadcast(q)).where(
            "neighbor_id != query_id"
        ).selectExpr(
            "query_id",
            "neighbor_id",
            f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
        )
        return _topk_per_query(scored, "cosine", kk)

    # contract (r11 ADVICE #3): the factory may reference ONLY the id
    # column — the quantized frame carries nothing else, so a predicate
    # closing over other corpus columns fails analysis here by design
    # (the post side below applies the same factory to bare results and
    # has the identical restriction)
    pre = _bf_topk(c.where(predicate("neighbor_id")), k)
    full = _bf_topk(c, overfetch)
    w = Window.partitionBy("query_id").orderBy("rank")
    post = (
        full.where(predicate("neighbor_id"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("_rn").cast("long").alias("rank"),
        )
    )
    return pre, post


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = DEFAULT_DIMS,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    1998; the "diversity" re-rank every retrieval/RAG serving stack hangs
    behind its ANN shortlist): greedily select ``k`` results per query
    from the exact top-``shortlist`` candidates, each step maximizing

        mmr(d) = 0.5·cos(q, d) − 0.5·max_{s ∈ selected} cos(d, s)

    (λ = 0.5, the canonical balance; ties → lower neighbor_id; step 1 is
    pure relevance). Output: [query_id, neighbor_id, relevance,
    mmr_score, rank] — rank 1..k in selection order. Convention:
    step 1's mmr_score is its raw relevance (there is no selected set
    yet); the 0.5/0.5 blend applies from step 2 on.

    Scale: the N-dependence lives entirely in the shortlist stage (the
    salted-top-k brute-force scan here; swap in any ANN path — the MMR
    stage only sees |Q|·shortlist rows). The greedy selection itself is a
    grouped ``applyInPandas`` kernel over one query's ≤ ``shortlist``
    candidates — the sanctioned escape hatch for a BOUNDED sequential
    algorithm: k data-dependent argmax-then-update steps have no
    shuffle-free declarative form, and the unrolled-DataFrame variant was
    built and MEASURED first (k steps of anti-join + agg + argmax — 12-16s
    of pure plan/AQE-stage overhead at every SF vs ~2s for the kernel,
    SCALE.md round 11). One exchange (groupBy query_id), Arrow-batched,
    per-group work O(shortlist²·dims) on ≤ 40 rows.

    Determinism: the kernel does exact-integer dot products in Python
    (arbitrary precision), math.sqrt/multiply/divide on IEEE doubles in
    the same operation order as the module's _COS recipe, and
    0.5·a − 0.5·b — bit-replayable by the DuckDB oracle (which unrolls
    the same ``k`` greedy steps as CTEs)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = tracked_persist(
        corpus.repartition(n_parts).selectExpr(
            f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS qv"
        ).selectExpr("*", f"{_norm_sql('qv')} AS n")
    )
    q = queries.selectExpr(
        f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS q_qv"
    ).selectExpr("*", f"{_norm_sql('q_qv')} AS q_n")
    pairs = c.crossJoin(F.broadcast(q)).where("nid != query_id")
    scored = pairs.selectExpr(
        "query_id",
        "nid AS neighbor_id",
        f"{_cfn_sql('q_qv', 'qv', 'q_n', 'n')} AS relevance",
    )
    # exact top-`shortlist` relevance candidates per query (salted top-k
    # keeps the order column, so the |Q|·N scored frame is scanned once),
    # re-joined with their vectors for the pairwise diversity penalty —
    # |Q|·shortlist rows from here on, independent of N
    cz = (
        _topk_per_query(scored, "relevance", shortlist, rank_col="_slr")
        .select("query_id", "neighbor_id", "relevance")
        .join(c.select(F.col("nid").alias("neighbor_id"), "qv"), "neighbor_id")
        .select("query_id", "neighbor_id", "relevance", "qv")
    )

    def _greedy(pdf):
        import math

        import pandas as pd

        # deterministic candidate order; Python ints for exact dots
        rows = sorted(
            (
                (int(r.neighbor_id), None if pd.isna(r.relevance) else float(r.relevance), [int(v) for v in r.qv])
                for r in pdf.itertuples()
            ),
            key=lambda t: t[0],
        )
        qid = int(pdf["query_id"].iloc[0])
        norms = [math.sqrt(float(sum(v * v for v in qv))) for _, _, qv in rows]

        def cos(i: int, j: int):
            den = norms[i] * norms[j]
            if den == 0.0:
                return None
            d = sum(x * y for x, y in zip(rows[i][2], rows[j][2]))
            return float(d) / den

        out = []  # (nid, rel, mmr, rank)
        pen: list = [None] * len(rows)  # max cos vs selected so far
        chosen: set[int] = set()
        for step in range(1, k + 1):
            best = None  # (score, -?, idx) — argmax (score, lowest nid)
            for i, (nid, rel, _) in enumerate(rows):
                if i in chosen:
                    continue
                if step == 1:
                    score = rel
                else:
                    score = (
                        None
                        if rel is None or pen[i] is None
                        else 0.5 * rel - 0.5 * pen[i]
                    )
                if score is None:
                    continue  # NULL scores lose (max_by / NULLS LAST parity)
                if best is None or score > best[0] or (
                    score == best[0] and nid < rows[best[1]][0]
                ):
                    best = (score, i)
            if best is None:
                break
            score, i = best
            chosen.add(i)
            out.append((rows[i][0], rows[i][1], score, step))
            for j in range(len(rows)):
                if j in chosen:
                    continue
                s = cos(i, j)
                if s is not None and (pen[j] is None or s > pen[j]):
                    pen[j] = s
        return pd.DataFrame(
            {
                "query_id": [qid] * len(out),
                "neighbor_id": [o[0] for o in out],
                "relevance": [o[1] for o in out],
                "mmr_score": [o[2] for o in out],
                "rank": [o[3] for o in out],
            }
        )

    return cz.groupBy("query_id").applyInPandas(
        _greedy,
        "query_id long, neighbor_id long, relevance double, "
        "mmr_score double, rank long",
    )


def pca_power_iteration(
    corpus: DataFrame,
    n_iter: int = 3,
    scale: int = 64,
    quant: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Top principal direction of an embedding corpus by DETERMINISTIC
    integer power iteration — the dimensionality-reduction pass (PCA /
    whitening / OPQ rotation seeding) that feeds this module's
    quantization stack, as a distributed plan with no driver-side
    eigensolver. Output: [dim, component, rayleigh] — the n_iter-step
    direction (integer components in [−scale, scale]) and its Rayleigh
    quotient vᵀCv / vᵀv (one double division of exact int64 sums).

    Pipeline: (1) the ``embedding_covariance_ints`` pass at quantization
    ``quant`` — ONE corpus scan into d(d+1)/2 integer cells with
    map-side combine (the shuffle carries 2080 keys regardless of N);
    (2) per-cell floor-division by n (the bm25 fdiv identity — floors
    identically in both engines) to keep every later product in int64;
    (3) ``n_iter`` mat-vec steps w = C·v in exact Python ints over the
    COLLECTED cells (bounded model state, O(d²) — the BPE-merge collect
    class), each followed by the integer rescale
    v' = floor(w·scale / max|w|) — no float accumulation anywhere.

    int64 headroom (documented like the covariance row): with
    |x|·quant ≤ ~1536 the pre-fdiv numerator is ≤ n²·(quant·X)²
    (safe to n ≈ 2e6 at quant = 256 — shrink quant with corpus growth),
    and the Rayleigh numerator ≤ d²·scale·max|w| ≈ 2.3e18 at the sf3
    probe. Determinism: every intermediate is an exact int64; the only
    float is the final division."""
    spark = corpus.sparkSession
    xq = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(quant)).cast("long")
    )
    q = corpus.select(xq.alias("xq"))
    pairs_dim = local_frame(spark, 
        [(i, j) for i in range(dims) for j in range(i, dims)], "i int, j int"
    )
    g = (
        q.crossJoin(F.broadcast(pairs_dim))
        .select(
            "i",
            "j",
            F.element_at("xq", F.col("i") + 1).alias("xi"),
            F.element_at("xq", F.col("j") + 1).alias("xj"),
        )
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xi").cast("long").alias("si"),
            F.sum("xj").cast("long").alias("sj"),
            F.sum(F.col("xi") * F.col("xj")).cast("long").alias("sp"),
        )
    )
    cells = g.select(
        "i",
        "j",
        (F.col("n") * F.col("sp") - F.col("si") * F.col("sj")).alias("_num"),
        "n",
    ).select("i", "j", F.expr("(_num - pmod(_num, n)) div n").alias("c"))
    # The d(d+1)/2 integer cells are BOUNDED MODEL STATE (O(d²),
    # independent of N — the BPE-merge / scalar-attach collect class):
    # the power iteration itself runs over them in exact Python ints.
    # The first build ran the loop as 3·(join+agg+scalar+crossjoin)
    # DataFrame stages over the 4096-row matrix and measured ~10s of
    # pure stage overhead at EVERY SF (the MMR lesson, SCALE.md r11);
    # this form is one covariance job + one 2080-row collect.
    cov: dict[tuple[int, int], int] = {}
    for r in cells.collect():
        cov[(r["i"], r["j"])] = r["c"]
        if r["i"] != r["j"]:
            cov[(r["j"], r["i"])] = r["c"]

    def matvec(vec: list[int]) -> list[int]:
        return [
            sum(cov.get((i, j), 0) * vec[j] for j in range(dims))
            for i in range(dims)
        ]

    def fdiv(a: int, b: int) -> int:
        return (a - (a % b + b) % b) // b  # floor division, b > 0

    v = [int(scale)] * dims
    for _ in range(n_iter):
        w = matvec(v)
        m = max(abs(x) for x in w)
        v = [0 if m == 0 else fdiv(x * int(scale), m) for x in w]
    wf = matvec(v)
    vnum = sum(a * b for a, b in zip(wf, v))
    vden = sum(x * x for x in v)
    rayleigh = float(vnum) / float(vden) if vden != 0 else None
    spark2 = corpus.sparkSession
    return local_frame(spark2, 
        [(int(d), int(v[d]), rayleigh) for d in range(dims)],
        "dim long, component long, rayleigh double",
    )


def int8_quantize_stats(
    df: DataFrame, id_col: str, vec_col: str, dims: int = 64
) -> DataFrame:
    """Per-dimension symmetric int8 quantization of an embedding column —
    the 4x memory/bandwidth compression step an ANN serving stack applies
    before the PQ/IVF structures in this module (FAISS's ScalarQuantizer
    QT_8bit; the scale path for storing 100 TB of vectors).

    Per dimension d: scale s_d = 127 / max|x_d| over the corpus (0 when
    the dimension is identically 0); per element: q = clamp(floor(x·s_d
    + 0.5), -127, 127) — floor(·+0.5) rather than round() because the two
    engines' round() tie conventions differ while the floor float tree is
    IEEE-identical. Output per vector: [id, l1, sum_q, l2, n_clipped] —
    integer summaries of the quantized vector (exact, order-independent),
    n_clipped counting saturated elements (nonzero only when a dimension's
    max is attained with opposite-sign near-max values… i.e. never for
    symmetric scales; kept as the saturation audit for trained scales).

    Plan: one map-side posexplode → a 64-key max aggregate (map-combined,
    tiny shuffle) → the scales broadcast back onto a second exploded scan
    → one hash aggregate keyed by vector id. The fact table never
    shuffles un-aggregated (scale_features discipline); both scans prune
    to [id, vec]."""
    xd = F.col("x").cast("double")
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.slice(F.col(vec_col), 1, dims)).alias("pos", "x"),
    )
    scales = (
        ex.groupBy("pos")
        .agg(F.max(F.abs(xd)).alias("mx"))
        .select(
            "pos",
            F.when(F.col("mx") > 0, F.lit(127.0) / F.col("mx"))
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
    )
    raw = F.floor(xd * F.col("s") + F.lit(0.5))
    q = F.least(F.lit(127), F.greatest(F.lit(-127), raw))
    clip = F.when((raw > 127) | (raw < -127), F.lit(1)).otherwise(F.lit(0))
    quant = ex.join(F.broadcast(scales), "pos").select(
        F.col(id_col), q.alias("q"), clip.alias("clip")
    )
    return quant.groupBy(id_col).agg(
        F.sum(F.abs(F.col("q"))).cast("long").alias("l1"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("l2"),
        F.sum("clip").cast("long").alias("n_clipped"),
    )
