"""Similarity search over embedding columns (array<float>).

Determinism strategy: floats quantize to integers (floor(x·10⁶) after an
exact float→double widening), so dot products and norms are exact int64
sums — order-independent, identical in Spark and the DuckDB oracle. With
64-dim vectors the dot product is bounded by 64·(2·10⁵)² ≈ 2.6·10¹² ≪ 2⁶³.

One search pipeline: every ANN entry point is a composition of the
stages in the "Search stages" section, each defined once — route
(trained coarse centroids, probe router) → scan (exact cosine, LSH
buckets, PQ lookup tables, int8 codes, sign bits) → tail (salted top-k,
or a top-``rerank`` shortlist re-ranked by exact cosine). The corpus
side is ``[nid, cv]``, the query side ``[query_id, qv, qn]``; |Q|-sized
frames join through one broadcast gate.
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
# each element_at re-checks bounds), so full-width math always takes the
# HOF form; only the small widths below unroll.
DEFAULT_DIMS = 64


# -- SQL-fragment fast paths -----------------------------------------------
# Building these expressions through the Python functions API costs 20-35ms
# PER CALL in driver py4j round-trips (each higher-order lambda is several
# JVM calls; measured: int_dot 33ms, the same tree via one F.expr parse
# 0.55ms — 60×). The helpers below therefore accept either a Column (the
# lambda path, for callers holding computed Columns) or a STRING, treated
# as a raw SQL fragment and routed through one F.expr parse. Both paths
# produce the same Catalyst operations (same casts, same fold order), so
# results are bit-for-bit identical.


#: Width cap for unrolling fixed-width array math into plain arithmetic.
#: Higher-order functions (aggregate/zip_with) are CodegenFallback —
#: evaluated INTERPRETED, one tree walk + ArrayData allocation per call —
#: the dominant task cost of the PQ family: pq_encode evaluates
#: sub-vector L2 N·M·K times per build. For KNOWN small widths the same
#: exact-int64 sum unrolls into `a[0]*b[0] + ...`, which whole-stage
#: codegen compiles (1.6-4× faster on that shape; values bit-identical on
#: full-width operands — same operands, same exact integer adds; see
#: _sub_l2_sql for short arrays). 64-dim unrolls are SLOWER (the note
#: above), so only genuinely small widths (the 4-dim PQ subspaces) take
#: this path.
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


def quantize(vec: Column | str) -> Column:
    """array<float> → array<long>: floor(double(x)·10⁶). floor (not round)
    sidesteps cross-engine tie-rounding differences. A str argument is a
    SQL fragment (fast builder path — see the fragment-helper note)."""
    if isinstance(vec, str):
        return F.expr(_quant_sql(vec))
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)).cast("long")
    )


def int_dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_norm2(a: Column | str) -> Column:
    return int_dot(a, a)


def norm_col(a: Column | str) -> Column:
    """√‖a‖ as double — precompute once per vector so pairwise cosine does
    one dot + one division instead of re-deriving both norms per pair."""
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(int_norm2(a).cast("double"))


def _nonzero(divisor: Column) -> Column:
    """NULL out a zero divisor (nullif twin): cosine is undefined for a
    zero-norm vector — after quantization an all-near-zero embedding IS
    all zeros — and under ANSI mode a plain /0 aborts the whole job
    (with ANSI off it yields NaN, which Spark ranks ABOVE every real
    cosine). A NULL cosine instead drops out of >= thresholds and sorts
    last in the DESC rank windows on both engines."""
    return F.when(divisor != F.lit(0.0), divisor)


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Exact-integer cosine: dot/(√‖a‖·√‖b‖) with all inputs exact int64 —
    the double math sees identical operands in any engine. NULL for
    zero-norm inputs (see _nonzero)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"CAST({_dot_sql(a, b)} AS DOUBLE) / "
            + _nonzero_sql(f"{_norm_sql(a)} * {_norm_sql(b)}")
        )
    return int_dot(a, b).cast("double") / _nonzero(norm_col(a) * norm_col(b))


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine with both norms precomputed (identical value to cosine_sim:
    same exact dot, same sqrt results, same multiply/divide order)."""
    if all(isinstance(c, str) for c in (a, b, na, nb)):
        return F.expr(_cfn_sql(a, b, na, nb))
    to_col = lambda c: F.expr(c) if isinstance(c, str) else c  # noqa: E731
    a, b, na, nb = to_col(a), to_col(b), to_col(na), to_col(nb)
    return int_dot(a, b).cast("double") / _nonzero(na * nb)


def _topk_per_query(
    scored: DataFrame,
    order_col: str,
    k: int,
    rank_col: str | None = "rank",
    descending: bool = True,
    keys: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """Per-``keys`` top-k over an UNBOUNDED candidate frame via the salted
    two-phase hash aggregation (``operators.topk.topk_by_group_agg``): a
    ``row_number`` window would put ALL of one query's candidates through
    a single task's sort (up to N rows on the |Q|·N scan paths), while the
    salted plan's map-side partial aggregation bounds every exchanged
    group at ``n_salts``·k structs per query regardless of candidate
    count. Exact, not approximate: the sort key embeds the (order DESC
    NULLS LAST, neighbor_id ASC) ordering a window would use, so the
    row_number-based DuckDB oracles replay the results.

    ``rank_col=None`` returns only (``keys``, neighbor_id) — the
    shortlist form feeding an exact re-rank. ``descending=False`` ranks
    ascending (the Hamming-distance path)."""
    from bicis_spark.operators.topk import topk_by_group_agg

    out = topk_by_group_agg(
        scored,
        list(keys),
        order_col,
        "neighbor_id",
        k,
        ["neighbor_id"],
        descending=descending,
    )
    if rank_col is None:
        return out.select(*keys, "neighbor_id")
    return out.select(
        *keys,
        "neighbor_id",
        order_col,
        F.col("rank_in_group").cast("long").alias(rank_col),
    )


# ---------------------------------------------------------------------------
# Search stages — every ANN entry point below is a composition of these
# ---------------------------------------------------------------------------


#: Query-side broadcast gate: the per-query broadcast payload in a probed
#: search is ~1 KB (n_probe route rows + n_subspaces LUT rows), so 32k
#: queries ≈ 32 MB — half the session's 64 MB autoBroadcast budget. Above
#: this the |Q|-sized frames join as ordinary shuffle joins instead.
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


def _corpus(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Corpus side of every search: ``[nid, cv]``, the quantized vectors
    spread over ``defaultParallelism`` partitions so each executor scans
    its slice once. A caller that reads it more than once persists it
    with ``tracked_persist``: its lazy result plan outlives the call, and
    harness boundaries release the cache."""
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    return corpus.repartition(n_parts).selectExpr(
        f"{id_col} AS nid", f"{_quant_sql(vec_col)} AS cv"
    )


def _with_norm(df: DataFrame, vec: str = "cv", norm: str = "cn") -> DataFrame:
    """``df`` plus the exact norm of its ``vec`` column, computed once per
    row rather than once per scored pair."""
    return df.selectExpr("*", f"{_norm_sql(vec)} AS {norm}")


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Query side of every search: ``[query_id, qv, qn]``. One frame feeds
    the router, the scan and the re-rank, so the norm is defined once."""
    q = queries.selectExpr(f"{id_col} AS query_id", f"{_quant_sql(vec_col)} AS qv")
    return _with_norm(q, "qv", "qn")


#: Self-matches never count as neighbors.
_NOT_SELF = "nid != query_id"


def _cosine(pairs: DataFrame) -> DataFrame:
    """Exact cosine of (query, corpus) pairs carrying qv/qn and cv/cn:
    ``[query_id, neighbor_id, cosine]``."""
    return pairs.selectExpr(
        "query_id",
        "nid AS neighbor_id",
        f"{_cfn_sql('qv', 'cv', 'qn', 'cn')} AS cosine",
    )


def _exact_scan(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact top-k: the normed corpus ``[nid, cv, cn]`` × broadcast(q),
    salted top-k per query → ``[query_id, neighbor_id, cosine, rank]``.
    No corpus shuffle: each executor scans its corpus slice once."""
    pairs = c.crossJoin(F.broadcast(q)).where(_NOT_SELF)
    return _topk_per_query(_cosine(pairs), "cosine", k)


def _seed_filter(mod: int, cap: int | None) -> Column:
    """Deterministic training seeds ``nid % mod == 1``. ``cap`` keeps the
    first ``cap`` of them, so the list or code count is a constant, not
    N/mod (a mod-only rule grows the centroid broadcast with the corpus
    and the training cost quadratically). The bound mod·(cap−1)+1 is
    itself the cap-th seed: the boundary is live data, so ``<=`` and
    ``<`` select different seed sets."""
    f = F.col("nid") % mod == 1
    if cap is not None:
        f = f & (F.col("nid") <= mod * (cap - 1) + 1)
    return f


def _ivf_train(
    c: DataFrame, seeds: Column, iters: int, train: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer over a persisted corpus ``[nid, cv]``: returns
    (cents, assigned). ``cents`` ``[centroid_id, cv]`` are the ``seeds``
    rows refined by ``iters`` exact Lloyd steps over ``train`` (default:
    the whole corpus), persisted because the corpus assignment and the
    probe router both broadcast them. ``assigned`` ``[nid, cv,
    centroid_id]`` puts every corpus vector in exactly one list."""
    start = c.where(seeds).select(F.col("nid").alias("centroid_id"), "cv")
    cents = tracked_persist(
        kmeans_refine_exact(c if train is None else train, start, iters, "nid", "cv")
    )
    return cents, ivf_assign(c, cents, "nid", "cv")


def _probes(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Probe router: each query's ``n_probe`` nearest lists by exact
    centroid cosine (centroid-id tie-break), with the probe rank —
    ``[query_id, qv, qn, centroid_id, _rn]``. A bounded |Q| × n_lists
    window."""
    pairs = q.crossJoin(
        F.broadcast(
            cents.selectExpr("centroid_id", "cv AS _cv", f"{_norm_sql('cv')} AS _cn")
        )
    ).selectExpr("*", f"{_cfn_sql('qv', '_cv', 'qn', '_cn')} AS _sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "qn", "centroid_id", "_rn")
    )


def _pq_train(
    c: DataFrame, seeds: Column, n_subspaces: int, sub_dims: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """Product quantizer over a persisted corpus ``[nid, cv]``: returns
    (cb, codes) — the persisted codebooks ``[sub, cid, sv]`` trained from
    the ``seeds`` rows, and the lazy encoding ``[nid, sub, code]``. The
    sub-vectors are persisted: training and encoding both read them."""
    subvecs = tracked_persist(pq_subvectors(c, "nid", "cv", n_subspaces, sub_dims))
    start = pq_subvectors(
        c.where(seeds), "nid", "cv", n_subspaces, sub_dims
    ).select("sub", F.col("nid").alias("cid"), "sv")
    cb = tracked_persist(pq_train_codebooks(subvecs, start, iters, "nid", sub_dims))
    return cb, pq_encode(subvecs, cb, "nid", sub_dims)


def _adc_scan(
    codes: DataFrame,
    cb: DataFrame,
    q: DataFrame,
    bq,
    n_subspaces: int,
    sub_dims: int,
    probes: DataFrame | None = None,
    with_rank: bool = False,
) -> DataFrame:
    """Asymmetric-distance (ADC) scan → ``[query_id, neighbor_id,
    approx_cosine]``: each query's (sub, code) → partial-dot lookup table
    against the codebooks, summed over the candidate's M codes —

        approx_cos(q, x) = Σₘ ⟨qₘ, c[m, codeₘ(x)]⟩ / (‖q‖ · ‖x̂‖)

    with x̂ the code reconstruction; all numerators exact int64. Flat
    (``probes=None``): every corpus code row joins the LUT. Routed: only
    the codes ``[nid, sub, code, centroid_id]`` of each query's probed
    lists. ``with_rank`` adds ``_minrn``, the probe rank of the
    candidate's list. Partial aggregation collapses to one row per
    (query, neighbor) before any exchange."""
    lut = pq_subvectors(q, "query_id", "qv", n_subspaces, sub_dims).join(
        F.broadcast(cb.selectExpr("sub", "cid", "sv AS _cv")), "sub"
    ).selectExpr(
        "query_id",
        "sub",
        "cid AS code",
        f"{_dot_sql('sv', '_cv', sub_dims)} AS _pdot",
        f"{_norm2_sql('_cv', sub_dims)} AS _pn2",
    )
    aggs = [
        F.expr("CAST(sum(_pdot) AS BIGINT)").alias("_adot"),
        F.expr("CAST(sum(_pn2) AS BIGINT)").alias("_rn2"),
    ]
    rank = ["_rn"] if with_rank else []
    if probes is None:
        cand = codes.join(bq(lut), ["sub", "code"])
    else:
        route = probes.select("query_id", "centroid_id", *rank)
        cand = codes.join(bq(route), "centroid_id").join(
            bq(lut), ["query_id", "sub", "code"]
        )
    if with_rank:
        # one list per nid ⇒ _rn is constant across the group
        aggs.append(F.min("_rn").alias("_minrn"))
    acc = cand.where(_NOT_SELF).groupBy("query_id", "nid").agg(*aggs)
    return acc.join(bq(q.selectExpr("query_id", "qn AS _qn")), "query_id").selectExpr(
        "query_id",
        "nid AS neighbor_id",
        *(["_minrn"] if with_rank else []),
        "CAST(_adot AS DOUBLE) / "
        + _nonzero_sql("_qn * sqrt(CAST(_rn2 AS DOUBLE))")
        + " AS approx_cosine",
    )


def _sq8_scan(
    c: DataFrame,
    q: DataFrame,
    dims: int,
    bq=F.broadcast,
    probes: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """int8 scalar-quantized scan → ``[query_id, neighbor_id,
    approx_cosine]``, the cosine of the int8 codes. The per-dimension
    scales train on the corpus ``c`` ``[nid, cv]``; as a one-row frame
    they attach by broadcast cross join, so encoding runs map-side. Flat:
    every corpus code × broadcast(query codes). Routed (``probes`` and
    the list ``assign`` ``[nid, centroid_id]``): the codes of
    ``c ⋈ assign`` over each query's probed lists only."""
    scales = F.broadcast(sq8_scales(c, "cv", dims))
    keep = ["nid"] if assign is None else ["nid", "centroid_id"]
    c8 = _with_norm(
        (c if assign is None else c.join(assign, "nid"))
        .crossJoin(scales)
        .selectExpr(*keep, f"{_sq8_encode_sql('cv', 'sl')} AS c8"),
        "c8",
        "cn8",
    )
    q8 = _with_norm(
        q.crossJoin(scales).selectExpr(
            "query_id", f"{_sq8_encode_sql('qv', 'sl')} AS q8"
        ),
        "q8",
        "qn8",
    )
    if probes is None:
        cand = c8.crossJoin(F.broadcast(q8))
    else:
        route = probes.select("query_id", "centroid_id")
        cand = c8.join(bq(route), "centroid_id").join(bq(q8), "query_id")
    return cand.where(_NOT_SELF).selectExpr(
        "query_id",
        "nid AS neighbor_id",
        f"{_cfn_sql('q8', 'c8', 'qn8', 'cn8')} AS approx_cosine",
    )


def _tail(
    scored: DataFrame,
    order_col: str,
    k: int,
    rerank: int | None,
    c: DataFrame,
    q: DataFrame,
    bq=F.broadcast,
    keys: tuple[str, ...] = ("query_id",),
    descending: bool = True,
) -> DataFrame:
    """Search tail over scored candidates: the salted top-k of
    ``order_col`` per ``keys`` → ``[*keys, neighbor_id, order_col,
    rank]``; or, with ``rerank``, the top-``rerank`` shortlist re-scored
    with EXACT cosine against the corpus ``c`` ``[nid, cv]`` and the
    queries ``q`` (joined through the gate ``bq``) → ``[*keys,
    neighbor_id, cosine, rank]``. The only full-width math is over
    |Q|·rerank pairs, and the final rank is a bounded window."""
    if rerank is None:
        return _topk_per_query(scored, order_col, k, descending=descending, keys=keys)
    shortlist = _topk_per_query(
        scored, order_col, rerank, rank_col=None, descending=descending, keys=keys
    )
    vecs = c.selectExpr("nid AS neighbor_id", "cv AS _nv", f"{_norm_sql('cv')} AS _nn")
    exact = (
        shortlist.join(bq(q), "query_id")
        .join(vecs, "neighbor_id")
        .selectExpr(
            *keys, "neighbor_id", f"{_cfn_sql('qv', '_nv', 'qn', '_nn')} AS cosine"
        )
    )
    w = Window.partitionBy(*keys).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*keys, "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors: [query_id, neighbor_id, cosine, rank].

    Self-matches excluded; ties break on neighbor_id (deterministic).
    Norms are computed once per vector (not per pair); the O(Q·N)
    baseline — corpus × broadcast(queries), no corpus shuffle.
    """
    c = _with_norm(_corpus(corpus, id_col, vec_col))
    return _exact_scan(c, _queries(queries, id_col, vec_col), k)


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
        assigned = ivf_assign(vectors, cents, id_col, qv_col)
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
    c = tracked_persist(_corpus(corpus, id_col, vec_col))
    cents, assigned = _ivf_train(c, _seed_filter(n_centroids_mod, max_lists), train_iters)
    q = _queries(queries, id_col, vec_col)
    route = _probes(q, cents, n_probe).select("query_id", "qv", "qn", "centroid_id")
    pairs = _with_norm(assigned).join(F.broadcast(route), "centroid_id").where(_NOT_SELF)
    return _topk_per_query(_cosine(pairs), "cosine", k)


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

    def tables(vec: str, name: str) -> str:
        # one (table, bucket) struct per table, from disjoint plane ranges
        return "explode(array(" + ", ".join(
            f"struct({t} AS tbl, "
            f"{_lsh_bucket_sql(vec, n_planes, dims, t * n_planes)} AS {name})"
            for t in range(n_tables)
        ) + ")) AS _tb"

    c = _with_norm(_corpus(corpus, id_col, vec_col)).selectExpr(
        "*", tables("cv", "bucket")
    ).selectExpr("nid", "cv", "cn", "_tb.tbl AS tbl", "_tb.bucket AS bucket")
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
        _queries(queries, id_col, vec_col)
        .selectExpr("*", tables("qv", "home"))
        .selectExpr(
            "*",
            "explode(array("
            + ", ".join(f"(_tb.home ^ {m})" for m in flips)
            + ")) AS bucket",
        )
        .selectExpr("query_id", "qv", "qn", "_tb.tbl AS tbl", "bucket")
    )
    pairs = c.join(F.broadcast(q), ["tbl", "bucket"]).where(_NOT_SELF)
    if n_tables > 1:
        # a pair can match in several tables — dedup before the exact re-rank
        # so each candidate is scored once
        pairs = pairs.select("query_id", "nid", "qv", "cv", "qn", "cn").distinct()
    return _topk_per_query(_cosine(pairs), "cosine", k)


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
    is the sum of M table hits — no full-width vector math per pair
    (``_adc_scan``).

    ``rerank=R`` adds the standard second stage: the compressed scan
    keeps each query's top-R candidates, which are re-scored with EXACT
    cosine against the raw vectors (the only per-pair full-width math is
    over Q·R pairs, not Q·N); output column becomes ``cosine``. Measured
    at sf0.1 (M=16, d=4, mod=4, 1 iter): compressed-only recall@5 0.75;
    with re-rank at constant codebook sizes K=256/R=40 → 0.98 and
    K=128/R=60 → 0.99 (see ``ann_pq_recall``; M=8, d=8 codebooks measure
    0.32-0.46 compressed-only — the finer 16×4 split is the knob that
    matters on near-random vectors).

    ``max_codes`` caps the codebook size K at a CONSTANT (``_seed_filter``):
    real PQ uses K=256 codes per subspace at any corpus size (one byte per
    code), and training/encoding cost is N·K per subspace.

    Scale: the LUT is Q·M·K tiny rows (broadcast while |Q| is under the
    gate); the win is bandwidth: candidate scans read M bytes of codes
    per vector, not the raw embedding. ``ann_topk_ivfpq`` composes the
    same scan with the IVF router for sublinear candidate counts (this
    operator scores ALL pairs, compressed).
    """
    bq = _resolve_query_broadcast(queries, n_queries)
    # consumed by seeds, training, encoding and the re-rank
    c = tracked_persist(_corpus(corpus, id_col, vec_col))
    cb, codes = _pq_train(
        c, _seed_filter(seed_mod, max_codes), n_subspaces, sub_dims, train_iters
    )
    q = _queries(queries, id_col, vec_col)
    scored = _adc_scan(codes, cb, q, bq, n_subspaces, sub_dims)
    return _tail(scored, "approx_cosine", k, rerank, c, q, bq)


def synth_clustered_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    n_clusters: int = 32,
    dims: int = 64,
) -> DataFrame:
    """Deterministic mixture-of-centroids embedding corpus: [id,
    embedding] where embedding[d] = base(cluster, d)
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
    *,
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
    n_lists: int | None = None,
    persist_codes: bool = False,
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared IVF-PQ index build: returns (c, cents, cb, codes) — the
    persisted quantized corpus ``[nid, cv]``, trained coarse centroids,
    trained PQ codebooks, and the encoded corpus joined with its list
    assignment ``[nid, sub, code, centroid_id]``.

    ``n_lists`` switches the coarse seed rule from the mod-with-cap form
    to the first-``n_lists`` ids — so a declared row can size the list
    count as a deterministic function of the corpus count (n_lists =
    ⌊√N⌋, the FAISS IVF sizing rule), replayable in SQL as
    ``vec_id < (SELECT floor(sqrt(count(*))) FROM q)``.

    ``train_sample`` bounds the COARSE-QUANTIZER TRAINING set to the
    deterministic first-``train_sample`` ids: Lloyd refinement assigns
    only the sample to the n_lists centroids, so the training term drops
    from iters·N·n_lists to iters·sample·n_lists — at n_lists = ⌊√N⌋ and
    sample ∝ √N that is O(N) instead of N^1.5. The FULL corpus is still
    assigned exactly once (the unavoidable one-pass N·n_lists encode).
    FAISS's own discipline (ClusteringParameters.max_points_per_centroid
    defaults to 256× the centroid count; the repo row uses 64×).
    SQL-replayable: the oracle filters the training assignment's vector
    side by the same predicate.

    ``persist_codes`` materializes the encoding once for callers that
    search the same index several times.

    Codes are PQ over the RAW vectors (not residuals): residual encoding
    needs per-list codebooks, with real recall cost at K constants this
    small; the raw-vector form keeps ONE codebook set shared with
    ``ann_topk_pq``, and the whole pipeline SQL-replayable bit-for-bit."""
    c = tracked_persist(_corpus(corpus, id_col, vec_col))
    if n_lists is not None:
        seeds = F.col("nid") < F.lit(int(n_lists))
    else:
        seeds = _seed_filter(n_centroids_mod, max_lists)
    train = None
    if train_sample is not None:
        train = c.where(F.col("nid") < F.lit(int(train_sample)))
    cents, assigned = _ivf_train(c, seeds, ivf_train_iters, train)
    cb, codes = _pq_train(
        c, _seed_filter(seed_mod, max_codes), n_subspaces, sub_dims, pq_train_iters
    )
    codes = codes.join(assigned.select("nid", "centroid_id"), "nid")
    if persist_codes:
        codes = tracked_persist(codes)
    return c, cents, cb, codes


def _ivfpq_search(
    c: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    n_probe: int,
    n_subspaces: int,
    sub_dims: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ search over a built index (``_ivfpq_build``): probe routing
    → ADC compressed scan over the probed lists only → optional exact
    re-rank. The |Q|-sized frames (probes, LUT, query norms, re-rank
    queries) broadcast only while the batch is under
    ``ANN_BROADCAST_MAX_QUERIES``."""
    bq = _resolve_query_broadcast(queries, n_queries)
    q = _queries(queries, id_col, vec_col)
    probes = _probes(q, cents, n_probe)
    scored = _adc_scan(codes, cb, q, bq, n_subspaces, sub_dims, probes=probes)
    return _tail(scored, "approx_cosine", k, rerank, c, q, bq)


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
    n_lists: int | None = None,
    train_sample: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 §V: coarse quantizer + product
    codes): a trained IVF router sends each query to its ``n_probe``
    nearest lists, and the ADC compressed scan runs ONLY over the probed
    lists' codes, followed by the standard exact re-rank of the
    top-``rerank`` shortlist.

    Scale: per-query work in the flat ``ann_topk_pq`` scan is linear in
    the corpus; probing cuts the scanned codes to the probed fraction
    (n_probe/n_lists at balanced lists). At a CONSTANT ``max_lists`` the
    fraction is constant (a constant-factor win); the production
    discipline is n_lists ∝ √N (training cost N·√N, ADC
    |Q|·n_probe·N/√N — the FAISS IVF sizing rule, via the ``n_lists``
    hook).

    Shuffle shape: coarse centroids and PQ codebooks broadcast; the
    candidate join is codes ⋈ probes ⋈ LUT (both broadcast under the
    query gate) — map-side until the (query, neighbor) partial-sum
    exchange, which carries only probed-candidate rows."""
    c, cents, cb, codes = _ivfpq_build(
        corpus,
        n_centroids_mod=n_centroids_mod,
        max_lists=max_lists,
        ivf_train_iters=ivf_train_iters,
        n_subspaces=n_subspaces,
        sub_dims=sub_dims,
        seed_mod=seed_mod,
        pq_train_iters=pq_train_iters,
        max_codes=max_codes,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        train_sample=train_sample,
    )
    return _ivfpq_search(
        c,
        cents,
        cb,
        codes,
        queries,
        k=k,
        n_probe=n_probe,
        n_subspaces=n_subspaces,
        sub_dims=sub_dims,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
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
) -> DataFrame:
    """Recall-vs-probe curve over ONE built IVF-PQ index: [probe_lists,
    n_queries, avg_recall] — one row per probe setting, measured against
    the exact brute-force top-k on the same corpus. The index (coarse
    centroids, PQ codebooks, encoded corpus) is built once and persisted.
    avg_recall = sum(n_hits) / (k · |Q|) — one double division of exact
    integers, bit-replayable.

    One ADC scan serves the whole curve: every candidate lives in exactly
    ONE inverted list, so its partial sums are identical at every probe
    setting that reaches that list, and the settings differ only in WHICH
    (query, list) pairs they admit. The scan runs at max(probe_settings)
    carrying each candidate's probe rank, and each scored candidate fans
    out to the settings whose cutoff admits it; the tail then ranks per
    (setting, query). The exact reference scans the index's persisted
    corpus, not the raw one."""
    if not probe_settings:
        raise ValueError("probe_settings must be non-empty")
    c, cents, cb, codes = _ivfpq_build(
        corpus,
        n_centroids_mod=n_centroids_mod,
        max_lists=max_lists,
        ivf_train_iters=ivf_train_iters,
        n_subspaces=n_subspaces,
        sub_dims=sub_dims,
        seed_mod=seed_mod,
        pq_train_iters=pq_train_iters,
        max_codes=max_codes,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        persist_codes=True,
        train_sample=train_sample,
    )
    distinct_ps = sorted({int(p) for p in probe_settings})
    parr = "array({})".format(",".join(str(p) for p in distinct_ps))
    bq = _resolve_query_broadcast(queries, n_queries)
    q = _queries(queries, id_col, vec_col)
    probes = _probes(q, cents, distinct_ps[-1])
    scored = _adc_scan(
        codes, cb, q, bq, n_subspaces, sub_dims, probes=probes, with_rank=True
    )
    cand = scored.selectExpr(
        "*", f"explode(filter({parr}, p -> p >= _minrn)) AS _probe"
    )
    approx_topk = _tail(
        cand, "approx_cosine", k, rerank, c, q, bq, keys=("_probe", "query_id")
    ).select("_probe", "query_id", "neighbor_id")
    exact = _exact_scan(_with_norm(c), q, k)
    inter = exact.select("query_id", "neighbor_id").join(
        approx_topk, ["query_id", "neighbor_id"]
    )
    hits = inter.groupBy("_probe", "query_id").agg(
        F.count(F.lit(1)).alias("_h")
    )
    basex = queries.selectExpr(f"{id_col} AS query_id", f"explode({parr}) AS _probe")
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
    # re-expand to the INPUT setting list: duplicate settings (possible at
    # tiny SFs where n_lists//16 == n_lists//8) yield duplicate output rows
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
    every vector compressed to ``dims`` int8 codes (4× the raw-embedding
    bandwidth win; 16× vs the quantized int64 working form), candidates
    scored with the int8 dot product, and the top-``rerank`` shortlist
    re-ranked with exact full-precision cosine.

    Where it sits in the family: PQ compresses harder (M bytes) but
    needs trained codebooks; SQ8 is the train-light middle ground real
    serving stacks deploy first. This row keeps the brute-force scan
    SHAPE (corpus × broadcast(fixed query batch), no corpus shuffle) —
    ``ann_topk_ivfsq8`` composes it with the IVF router.

    Determinism: scales are one double division per dimension; codes are
    floor(x·s + 0.5) clamps; int8 dots are exact int64 sums — the whole
    pipeline replays bit-for-bit in the DuckDB oracle."""
    c = tracked_persist(_corpus(corpus, id_col, vec_col))
    q = _queries(queries, id_col, vec_col)
    scored = _sq8_scan(c, q, dims or DEFAULT_DIMS)
    return _tail(scored, "approx_cosine", k, rerank, c, q)


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
    """IVF-SQ8 ANN — FAISS's ``IVF<n>,SQ8`` index family: the trained IVF
    coarse router sends each query to its ``n_probe`` nearest lists,
    candidates WITHIN the probed lists are scored with the int8
    scalar-quantized dot product (4× the raw-embedding scan bandwidth),
    and the top-``rerank`` shortlist is re-ranked with exact
    full-precision cosine.

    Where it sits in the family: IVF-PQ compresses harder (M bytes per
    vector, trained codebooks) but pays ADC table lookups; IVF-SQ8 keeps
    plain dot products over int8 codes — the train-light probed
    configuration serving stacks reach for before PQ. Per-query scanned
    vectors ≈ probed fraction of N; scan bytes ≈ N/4 of the raw scan.

    Shuffle shape: centroids and per-dim scales (one row) broadcast;
    probe routes and query codes broadcast under the query gate; the
    candidate scan is map-side over the probed lists' partitions;
    shortlist selection is the salted two-phase top-k; the exact re-rank
    touches ≤ |Q|·rerank rows. Determinism: same exact-int64/IEEE-double
    recipe as ``ann_topk_sq8`` + ``ann_topk_ivf`` — the whole pipeline
    replays bit-for-bit in the DuckDB oracle."""
    bq = _resolve_query_broadcast(queries, n_queries)
    c = tracked_persist(_corpus(corpus, id_col, vec_col))
    cents, assigned = _ivf_train(
        c, _seed_filter(n_centroids_mod, max_lists), ivf_train_iters
    )
    q = _queries(queries, id_col, vec_col)
    scored = _sq8_scan(
        c,
        q,
        dims or DEFAULT_DIMS,
        bq,
        probes=_probes(q, cents, n_probe),
        assign=assigned.select("nid", "centroid_id"),
    )
    return _tail(scored, "approx_cosine", k, rerank, c, q, bq)


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
) -> DataFrame:
    """Binary sign-bit ANN — the FAISS ``IndexBinaryFlat`` serving shape:
    every vector binarized to its per-dimension sign bits (two 32-bit
    words), candidates ranked by HAMMING distance — one
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
    c = tracked_persist(
        _corpus(corpus, id_col, vec_col).selectExpr(
            "*",
            f"{_sign_signature_sql('cv', 0)} AS lo",
            f"{_sign_signature_sql('cv', 32)} AS hi",
        )
    )
    q = _queries(queries, id_col, vec_col)
    sig = q.selectExpr(
        "query_id",
        f"{_sign_signature_sql('qv', 0)} AS qlo",
        f"{_sign_signature_sql('qv', 32)} AS qhi",
    )
    scored = c.crossJoin(F.broadcast(sig)).where(_NOT_SELF).selectExpr(
        "query_id",
        "nid AS neighbor_id",
        "CAST(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) AS BIGINT) AS hamming",
    )
    return _tail(scored, "hamming", k, rerank, c, q, descending=False)


def ann_filtered_prepost(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 5,
    overfetch: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The FILTERED-ANN strategy pair every vector store exposes: returns
    (pre, post) top-k results under a metadata ``predicate`` on the
    corpus.

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
    corpus (on its id column) and the post-filter results (on
    ``neighbor_id``). The factory may reference ONLY the id column: the
    quantized corpus and the bare results carry nothing else, so a
    predicate closing over other corpus columns fails analysis.

    Both sides run the exact scan over ONE persisted quantized corpus,
    so the corpus is read and quantized once; the post-filter re-rank is
    a bounded window over ≤ |Q|·overfetch rows."""
    c = tracked_persist(_with_norm(_corpus(corpus, id_col, vec_col)))
    q = _queries(queries, id_col, vec_col)
    pre = _exact_scan(c.where(predicate("nid")), q, k)
    w = Window.partitionBy("query_id").orderBy("rank")
    post = (
        _exact_scan(c, q, overfetch)
        .where(predicate("neighbor_id"))
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
    exact scan here; swap in any ANN path — the MMR stage only sees
    |Q|·shortlist rows). The greedy selection itself is a grouped
    ``applyInPandas`` kernel over one query's ≤ ``shortlist`` candidates
    — the sanctioned escape hatch for a BOUNDED sequential algorithm: k
    data-dependent argmax-then-update steps have no shuffle-free
    declarative form, and an unrolled-DataFrame variant (k steps of
    anti-join + agg + argmax) costs 12-16s of plan/AQE-stage overhead at
    every SF vs ~2s for the kernel (SCALE.md). One exchange (groupBy
    query_id), Arrow-batched, per-group work O(shortlist²·dims) on ≤ 40
    rows.

    Determinism: the kernel does exact-integer dot products in Python
    (arbitrary precision), math.sqrt/multiply/divide on IEEE doubles in
    the same operation order as ``_cfn_sql``, and
    0.5·a − 0.5·b — bit-replayable by the DuckDB oracle (which unrolls
    the same ``k`` greedy steps as CTEs)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = tracked_persist(_with_norm(_corpus(corpus, id_col, vec_col)))
    # the exact top-`shortlist` candidates per query, re-joined with their
    # vectors for the pairwise diversity penalty — |Q|·shortlist rows
    # from here on, independent of N
    cz = (
        _exact_scan(c, _queries(queries, id_col, vec_col), shortlist)
        .selectExpr("query_id", "neighbor_id", "cosine AS relevance")
        .join(c.selectExpr("nid AS neighbor_id", "cv AS qv"), "neighbor_id")
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
    # Running the loop as 3·(join+agg+scalar+crossjoin) DataFrame stages
    # over the 4096-row matrix costs ~10s of pure stage overhead at EVERY
    # SF (as for MMR, SCALE.md); this form is one covariance job + one
    # 2080-row collect.
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
