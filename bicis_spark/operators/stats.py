"""Table profiling: per-column statistics in ONE aggregation pass — the
engine's ANALYZE/data-quality surface (null rates, cardinalities, ranges).

Plan shape: a single grand aggregate computes every column's stats
simultaneously (one scan, one 1-row result), then a ``stack`` pivots the
wide row to one output row per column — no per-column scans, no joins.

Scale note: exact ``countDistinct`` over k columns plans as an Expand
(k× the scan's rows into the partial aggregate). That is the right
trade at oracle scales and for narrow tables. The approximate (HLL,
``approx_count_distinct``) path is ``profile_table_hll_contract``, which
reports the sketch beside the exact count and checks it lands within a
band of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window

from bicis_spark.sources.io import local_frame
from pyspark.sql import functions as F

_INTEGRAL = {"bigint", "int", "smallint", "tinyint", "long", "integer"}


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """[col_name, n_rows, n_nulls, n_distinct, min_num, max_num]: one row
    per profiled column. ``min_num``/``max_num`` are populated for
    integral columns only (cross-type min/max would need lossy string
    casts whose formatting is engine-specific)."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    # Internal aliases are POSITIONAL (_nn_0, _nd_0, ...), never derived
    # from user column names — a name with a quote/space/hyphen would
    # otherwise produce malformed stack() SQL even though the DataFrame
    # API accepts it. The output literal escapes embedded single quotes.
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nn_{i}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"_nd_{i}"))
        if dtypes.get(c) in _INTEGRAL:
            aggs.append(F.min(F.col(c)).cast("long").alias(f"_mn_{i}"))
            aggs.append(F.max(F.col(c)).cast("long").alias(f"_mx_{i}"))
    wide = df.agg(*aggs)
    parts = []
    for i, c in enumerate(cols):
        lit = c.replace("'", "''")
        mn = f"_mn_{i}" if dtypes.get(c) in _INTEGRAL else "CAST(NULL AS BIGINT)"
        mx = f"_mx_{i}" if dtypes.get(c) in _INTEGRAL else "CAST(NULL AS BIGINT)"
        parts.append(f"'{lit}', _n, _nn_{i}, _nd_{i}, {mn}, {mx}")
    stack = (
        f"stack({len(cols)}, " + ", ".join(parts)
        + ") AS (col_name, n_rows, n_nulls, n_distinct, min_num, max_num)"
    )
    return wide.selectExpr(stack)


def profile_table_hll_contract(
    df: DataFrame,
    columns: list[str] | None = None,
    rel_band: float = 0.10,
    rsd: float = 0.01,
) -> DataFrame:
    """Accuracy contract for the approximate (HLL) profiling path:
    [col_name, n_rows, n_nulls, n_distinct, hll_within_band] — exact stats
    plus a boolean asserting ``approx_count_distinct`` landed within
    ``rel_band`` of the exact cardinality. The sketch runs at ``rsd=0.01``
    so a ±10% band is ~10 standard errors — a genuine estimator-bug
    detector, not a coin flip. Same single-pass grand-aggregate plan as
    ``profile_table``; the exact countDistinct here is the CONTRACT's
    reference for the sketch beside it."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nn_{i}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"_nd_{i}"))
        aggs.append(
            F.approx_count_distinct(F.col(c), rsd).cast("long").alias(f"_ad_{i}")
        )
    wide = df.agg(*aggs)
    parts = []
    for i, c in enumerate(cols):
        lit = c.replace("'", "''")
        band = (
            f"abs(CAST(_ad_{i} AS DOUBLE) - CAST(_nd_{i} AS DOUBLE)) "
            f"<= {rel_band} * CAST(_nd_{i} AS DOUBLE)"
        )
        parts.append(f"'{lit}', _n, _nn_{i}, _nd_{i}, {band}")
    stack = (
        f"stack({len(cols)}, " + ", ".join(parts)
        + ") AS (col_name, n_rows, n_nulls, n_distinct, hll_within_band)"
    )
    return wide.selectExpr(stack)


def histogram_drift(
    df: DataFrame,
    value_col: str,
    period_col: Column,
    base_period,
    current_period,
    bin_width: float,
    n_bins: int,
) -> DataFrame:
    """Distribution drift between two periods of one feature, from fixed-
    width histograms: per-bin counts and shares plus the two classic
    drift statistics as ONE summary row —
    total-variation distance ``TVD = ½·Σ|p_i − q_i|`` and the chi-square
    statistic ``Σ (q_i − e_i)²/e_i`` (e = base share × current total).
    Both are pure rational arithmetic on exact integer counts — unlike
    PSI/KL there is no logarithm, so the result is bitwise reproducible
    in any engine. The monitoring decision (alert when TVD > τ) is the
    same shape.

    Output: [bin, base_n, cur_n, base_share, cur_share, abs_diff] per bin
    plus the caller aggregates TVD/chi-square from it (kept per-bin so
    the drilldown — WHICH bins moved — ships with the statistic).

    Scale: two conditional-count aggregates ride one scan (the
    quality_expectations trick); the histogram is |bins| rows.
    """
    b = F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("long"),
        F.lit(n_bins - 1),
    )
    # one scan, two conditional counts: tag rows by period and pivot in agg
    tagged = df.where(period_col.isin(base_period, current_period)).select(
        b.alias("bin"),
        (period_col == base_period).alias("_is_base"),
    )
    hist = tagged.groupBy("bin").agg(
        F.sum(F.when(F.col("_is_base"), 1).otherwise(0)).cast("long").alias("base_n"),
        F.sum(F.when(F.col("_is_base"), 0).otherwise(1)).cast("long").alias("cur_n"),
    )
    tot = hist.agg(
        F.sum("base_n").cast("long").alias("_bt"),
        F.sum("cur_n").cast("long").alias("_ct"),
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "bin",
        "base_n",
        "cur_n",
        (F.col("base_n").cast("double") / F.col("_bt").cast("double")).alias(
            "base_share"
        ),
        (F.col("cur_n").cast("double") / F.col("_ct").cast("double")).alias(
            "cur_share"
        ),
        F.abs(
            F.col("base_n").cast("double") / F.col("_bt").cast("double")
            - F.col("cur_n").cast("double") / F.col("_ct").cast("double")
        ).alias("abs_diff"),
    )


def kaplan_meier(
    df: DataFrame,
    subject_col: str,
    ts_col: str,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Kaplan–Meier survival curve over subject lifetimes (first to last
    observed event, bucketed to ``bucket_us``): for each distinct
    lifetime t, the risk set n(t) = subjects with lifetime ≥ t, events
    d(t) = subjects ending exactly at t, and

        S(t) = Π_{t_i ≤ t} (n(t_i) − d(t_i)) / n(t_i)

    Output: [lifetime, n_risk, d, survival] — the churn/retention curve
    of a user base.

    Determinism: n and d are exact integers; each factor is ONE IEEE
    division; the running product folds over the ascending-lifetime
    prefix SEQUENTIALLY (per-prefix fold, identical operation order in
    Spark's ``aggregate`` and DuckDB's ``list_reduce``), never through a
    windowed product (segment-tree combining would reorder multiplies)
    or exp∘Σlog (libm). The curve is |distinct lifetimes|-sized — a few
    hundred buckets regardless of corpus size — so the single-row fold
    state is bounded; at 100 TB everything before it is two map-side-
    combinable aggregates."""
    lifetimes = df.groupBy(subject_col).agg(
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col)))
            / F.lit(bucket_us)
        )
        .cast("long")
        .alias("lt")
    )
    d = lifetimes.groupBy("lt").agg(F.count(F.lit(1)).cast("long").alias("d"))
    w = Window.orderBy(F.col("lt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.withColumn("n_risk", F.sum("d").over(w).cast("long"))
    curve = r.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("lt", "d", "n_risk"))).alias("_a")
    )
    factors = F.transform(
        F.col("_a"),
        lambda s: (s["n_risk"] - s["d"]).cast("double")
        / s["n_risk"].cast("double"),
    )
    k = F.size(F.col("_a"))
    stepped = curve.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda j: F.struct(
                    F.element_at(F.col("_a"), j)["lt"].alias("lifetime"),
                    F.element_at(F.col("_a"), j)["n_risk"].alias("n_risk"),
                    F.element_at(F.col("_a"), j)["d"].alias("d"),
                    F.aggregate(
                        F.slice(factors, F.lit(1), j),
                        F.lit(1.0),
                        lambda acc, x: acc * x,
                    ).alias("survival"),
                ),
            )
        ).alias("s")
    )
    return stepped.select("s.lifetime", "s.n_risk", "s.d", "s.survival")


def skyline_2d(
    df: DataFrame,
    id_col: str,
    minimize_col: str,
    maximize_col: str,
) -> DataFrame:
    """2-D skyline (Pareto-frontier) query: rows not DOMINATED by any
    other — B is dominated when some A has minimize ≤ B's and maximize ≥
    B's with at least one strict. Equal (min, max) pairs do not dominate
    each other, so exact ties all surface.

    Plan: collapse to per-price groups (distinct ``minimize`` values,
    max of ``maximize`` per group), one ordered window over that GROUP
    table (running max + lag gives the best ``maximize`` among STRICTLY
    cheaper groups), broadcast back to the full table. Dominance test:

        dominated ⟺ best_strictly_cheaper ≥ v  OR  own_group_max > v

    The only sort is over |distinct minimize values| — the skyline's
    inherent order — while the data table is touched by scan + broadcast
    join only."""
    g = df.groupBy(F.col(minimize_col).alias("_m")).agg(
        F.max(F.col(maximize_col)).alias("_gmax")
    )
    w = Window.orderBy("_m")
    run = F.max("_gmax").over(w.rowsBetween(Window.unboundedPreceding, 0))
    gg = g.withColumn("_best_le", run).withColumn(
        "_best_lt", F.lag("_best_le").over(w)
    )
    out = df.join(
        F.broadcast(gg.select("_m", "_gmax", "_best_lt")),
        df[minimize_col] == F.col("_m"),
    )
    dominated = (
        F.col("_best_lt").isNotNull()
        & (F.col("_best_lt") >= F.col(maximize_col))
    ) | (F.col("_gmax") > F.col(maximize_col))
    return out.where(~dominated).select(id_col, minimize_col, maximize_col)


def _poisson1_count_sql(u_sql: str, bits: int = 48, max_k: int = 9) -> str:
    """Shared-dialect CASE expression mapping a uniform ``bits``-bit
    integer to a Poisson(1) draw by inverse CDF. Thresholds are
    floor(P(X≤k)·2^bits) int literals computed here with Python libm and
    embedded VERBATIM in both engines — no runtime exp/factorial, so the
    draw replays bitwise. Tail clamps at ``max_k`` (P(X>8) ≈ 1.1e-6)."""
    import math

    cum, thresholds = 0.0, []
    for k in range(max_k):
        cum += math.exp(-1.0) / math.factorial(k)
        thresholds.append(int(math.floor(cum * (1 << bits))))
    cases = " ".join(
        f"WHEN {u_sql} < {t} THEN {k}" for k, t in enumerate(thresholds)
    )
    return f"(CASE {cases} ELSE {max_k} END)"


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_resamples: int = 64,
    value_scale: int = 1_000_000,
    salt: str = "boot",
) -> DataFrame:
    """Deterministic Poisson bootstrap (Chamandy et al. 2012 — the
    bootstrap that works in one pass on distributed data): each row
    enters resample b with multiplicity ~ Poisson(1), drawn by inverse
    CDF from a 32-bit md5 uniform of (salt, key, b) — RNG-free, so
    every resample, and therefore the interval, is identical across
    runs, retries, and engines.

    The classic n-out-of-n bootstrap needs the global n per resample
    BEFORE sampling (multinomial); Poissonization decouples rows, which
    is exactly what a 100 TB scan needs — the corpus is read ONCE,
    exploded ×B, and map-side combined to B partial sums. No state, no
    second pass.

    Exactness: values quantize to floor(v·S) int64, so each resample's
    (Σ count·v_q, Σ count) is exact; the resample mean is one double
    division; the 95% interval is the (2nd, B−1th) order statistic of
    the B means (B=64 → 2.5%/97.5%), selected by array_sort over a
    B-row aggregate.

    Output: 1 row [n_rows, mean, ci_lo, ci_hi]."""
    if n_resamples % 4 != 0:
        raise ValueError("n_resamples must be a multiple of 4 (4 draws/md5)")
    vq = F.floor(F.col(value_col) * value_scale).cast("long")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(key_col), vq.alias("_vq")
    )
    # ONE md5 = 128 bits = FOUR independent 32-bit uniforms: resample
    # b = 4g+j draws from hex chars [8j+1, 8j+8] of md5(salt:key:g).
    # Staged hash → uniform → count, each a named column, so neither
    # engine re-evaluates the hash per branch; the uniform is one native
    # hex parse (conv here, a '0x' cast in the DuckDB oracle) — the
    # 12-digit ascii polynomial measured 4× slower, and one md5 per
    # (row, resample) another 4× on top of that
    exploded = (
        base.select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_resamples // 4 - 1))
            ).alias("_g"),
        )
        .select(
            "_g",
            "_vq",
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col(key_col).cast("string"),
                    F.col("_g").cast("string"),
                )
            ).alias("_h"),
        )
        .select(
            "_vq",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("_g") * 4 + F.lit(j)).alias("_b"),
                            F.expr(
                                f"CAST(conv(substring(_h, {8 * j + 1}, 8),"
                                f" 16, 10) AS BIGINT)"
                            ).alias("_u"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("_bu"),
        )
        .select(
            F.col("_bu._b").alias("_b"),
            "_vq",
            F.expr(_poisson1_count_sql("_bu._u", bits=32))
            .cast("long")
            .alias("_c"),
        )
    )
    resamples = exploded.groupBy("_b").agg(
        F.sum(F.col("_c") * F.col("_vq")).cast("long").alias("_s"),
        F.sum("_c").cast("long").alias("_n"),
    )
    means = resamples.select(
        (
            F.col("_s").cast("double")
            / (F.col("_n") * F.lit(value_scale)).cast("double")
        ).alias("_m")
    )
    full = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("_vq").cast("long").alias("_sq"),
    )
    lo_i, hi_i = 2, n_resamples - 1  # 2.5% / 97.5% for B = 64
    ci = means.agg(F.array_sort(F.collect_list("_m")).alias("_ms")).select(
        F.element_at("_ms", lo_i).alias("ci_lo"),
        F.element_at("_ms", hi_i).alias("ci_hi"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        (
            F.col("_sq").cast("double")
            / (F.col("n_rows") * F.lit(value_scale)).cast("double")
        ).alias("mean"),
        "ci_lo",
        "ci_hi",
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = (
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
    n_buckets: int = 1024,
) -> DataFrame:
    """EXACT weighted quantiles without a global sort: the two-pass
    bucketed rank-selection algorithm.

    Definition (lower weighted quantile, integer-exact): for q = num/den,
    the result is ``min{ v : cumweight(v) * den >= num * total }`` where
    ``cumweight(v)`` sums weights over all rows with value <= v. Both
    ``value_col`` and ``weight_col`` must already be integral (BIGINT) —
    callers scale currency to cents first; weights must be positive.

    Plan shape (the 100 TB story — a global ``ORDER BY value`` is the
    naive plan and is banned):

    - pass 1a: one grand aggregate → (lo, hi, total) — 1 row.
    - pass 1b: each row maps to one of ``n_buckets`` equal-width buckets
      (pure integer expression on a broadcast bounds row); per-bucket
      weight sums combine map-side, so the shuffle is <= n_buckets rows.
      The cumulative-weight window runs over that <= n_buckets-row frame
      (single partition of CONSTANT size — bounded by construction).
    - target resolution: each quantile picks its containing bucket with a
      row_number over the <= n_buckets candidates — no driver collect.
    - pass 2: rows re-scan, broadcast-join against the <= |quantiles|
      target buckets (everything outside them drops map-side), then a
      per-quantile distinct-value cumsum finds the exact value. Each
      window partition holds ~1/n_buckets of the distinct values.

    Generalizes the reference's pandas ``quantile()`` notebook analysis
    (bicis/notebooks usage of describe/quantile) to weighted, exact,
    distributed selection.
    """
    v = (
        df.select(
            F.col(value_col).cast("long").alias("_v"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        .where(F.col("_v").isNotNull() & F.col("_w").isNotNull() & (F.col("_w") > 0))
    )
    bounds = v.agg(
        F.min("_v").alias("_lo"),
        F.max("_v").alias("_hi"),
        F.sum("_w").cast("long").alias("_tot"),
    ).where(F.col("_lo").isNotNull())
    # integer DIV keeps the bucket id exact (a double division could land
    # on either side of an integer boundary at 64-bit magnitudes); range
    # is 0..n_buckets-1 because (hi-lo)*B < (hi-lo+1)*B
    bucket_expr = F.expr(f"((_v - _lo) * {int(n_buckets)}) DIV (_hi - _lo + 1)")

    vb = v.crossJoin(F.broadcast(bounds)).withColumn("_b", bucket_expr)
    bw = vb.groupBy("_b").agg(
        F.sum("_w").cast("long").alias("_bw"), F.first("_tot").alias("_tot")
    )
    wall = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = bw.select(
        "_b",
        "_tot",
        "_bw",
        F.sum("_bw").over(wall).cast("long").alias("_cw"),
    ).select("_b", "_tot", (F.col("_cw") - F.col("_bw")).alias("_prev"), "_cw")

    spark = df.sparkSession
    qdf = local_frame(spark, 
        [(label, int(n), int(d)) for label, n, d in quantiles],
        "quantile STRING, q_num LONG, q_den LONG",
    )
    hits = (
        qdf.crossJoin(cum)
        .where(F.col("_cw") * F.col("q_den") >= F.col("q_num") * F.col("_tot"))
    )
    wq = Window.partitionBy("quantile").orderBy("_b")
    targets = (
        hits.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == 1)
        .select("quantile", "q_num", "q_den", "_b", "_prev", "_tot")
    )

    hit_rows = (
        vb.select("_b", "_v", "_w")
        .join(F.broadcast(targets), on="_b", how="inner")
        .groupBy("quantile", "q_num", "q_den", "_prev", "_tot", "_v")
        .agg(F.sum("_w").cast("long").alias("_vw"))
    )
    wv = Window.partitionBy("quantile").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hit_rows.withColumn("_lcw", F.sum("_vw").over(wv).cast("long"))
        .where(
            (F.col("_prev") + F.col("_lcw")) * F.col("q_den")
            >= F.col("q_num") * F.col("_tot")
        )
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy("quantile").orderBy("_v"))
        )
        .where(F.col("_rn") == 1)
        .select("quantile", "q_num", "q_den", F.col("_v").alias("value_cents"))
    )


def grouped_weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Per-group exact lower weighted quantile
    ``min{v : cumweight_g(v) * den >= num * total_g}`` — the GROUP BY
    companion to ``weighted_quantiles`` (global, two-pass bucketed).

    Plan: one (group, value) hash aggregate (map-side combined — the
    shuffle carries distinct (group, value) pairs, not rows), then two
    group-partitioned windows (running weight + group total) and a
    row_number pick. Window partitions are per-GROUP distinct values, so
    skew is bounded by value cardinality within a group, never global —
    the two-pass bucket trick is unnecessary here because the group key
    already shards the sort. Integer in, integer out.
    """
    g = [F.col(c) for c in group_cols]
    agg = (
        df.select(
            *g,
            F.col(value_col).cast("long").alias("_v"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        .where(F.col("_v").isNotNull() & F.col("_w").isNotNull() & (F.col("_w") > 0))
        .groupBy(*group_cols, "_v")
        .agg(F.sum("_w").cast("long").alias("_vw"))
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*group_cols)
    ranked = (
        agg.withColumn("_cw", F.sum("_vw").over(wcum).cast("long"))
        .withColumn("_tot", F.sum("_vw").over(wtot).cast("long"))
        .where(F.col("_cw") * F.lit(int(q_den)) >= F.lit(int(q_num)) * F.col("_tot"))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(*group_cols).orderBy("_v")),
        )
        .where(F.col("_rn") == 1)
    )
    return ranked.select(
        *group_cols,
        F.col("_v").alias("value_cents"),
        F.col("_tot").alias("total_weight"),
    )


def isotonic_fit_bins(
    bins: DataFrame,
    ord_col: str,
    n_col: str,
    sum_col: str,
) -> DataFrame:
    """Weighted isotonic regression over ORDERED BINS via the minimax
    closed form — the calibration step that turns a raw per-decile
    reliability report into a monotone calibrator (Zadrozny & Elkan
    2002; what sklearn's IsotonicRegression fits with PAVA):

        iso(i) = max_{j<=i} min_{k>=i} weightedAvg(bins j..k)

    PAVA is a sequential pooling loop; the minimax form is its closed
    (loop-free) equivalent, and over B bins it needs only the B(B+1)/2
    interval averages — all derivable from inclusive prefix sums. Bins
    are bounded (deciles: B=10 → 55 intervals, ≤550 join rows), so every
    frame here is constant-size regardless of the fact table that
    produced the bins.

    Determinism: interval sums/counts are exact (DECIMAL/BIGINT prefix
    arithmetic); each average is ONE IEEE division, and min/max over
    bitwise-identical doubles is order-free — the oracle replays the
    identical construction.

    Input: one row per bin with an ordering column, a BIGINT count and
    an exact (DECIMAL) label sum. Output: [ord_col, n, mean_raw, iso]
    where iso is non-decreasing in ``ord_col`` and preserves each pooled
    block's weighted mean."""
    w = Window.orderBy(ord_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        F.col(ord_col).alias("_i"),
        F.col(n_col).cast("long").alias("_n"),
        F.col(sum_col).alias("_s"),
        F.sum(n_col).over(w).cast("long").alias("_cn"),
        F.sum(sum_col).over(w).alias("_cs"),
    )
    j = cum.select(
        F.col("_i").alias("j"),
        F.col("_n").alias("nj"),
        F.col("_s").alias("sj"),
        F.col("_cn").alias("cnj"),
        F.col("_cs").alias("csj"),
    )
    k = cum.select(
        F.col("_i").alias("k"),
        F.col("_cn").alias("cnk"),
        F.col("_cs").alias("csk"),
    )
    # both sides are bounded by this function's contract (B bins); the
    # explicit broadcast keeps the non-equi join a bounded-build BNLJ —
    # without it, a stats-free input (e.g. a checkpointed histogram)
    # falls to CartesianProduct (as scripts/explain_audit.py showed)
    intervals = j.join(F.broadcast(k), F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("csk") - F.col("csj") + F.col("sj")).cast("double")
            / (F.col("cnk") - F.col("cnj") + F.col("nj")).cast("double")
        ).alias("avg_jk"),
    )
    idim = cum.select(F.col("_i").alias("i"), "_n", "_s")
    inner = (
        idim.join(
            F.broadcast(intervals),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("m"))
    )
    iso = inner.groupBy("i").agg(F.max("m").alias("iso"))
    return (
        idim.join(iso, "i")
        .select(
            F.col("i").alias(ord_col),
            F.col("_n").alias("n"),
            (F.col("_s").cast("double") / F.col("_n").cast("double")).alias(
                "mean_raw"
            ),
            "iso",
        )
    )
