"""ML featurization operators: the hashing trick for categorical columns
and group-wise z-score / min-max scaling — the feature-engineering stage a
training-data pipeline runs after curation, generalizing the reference's
hand-built feature frame (bicis/etl/basic_features.py builds per-station
feature columns in pandas; here the same shaping is declarative and
dictionary-free).

Scale + determinism notes:
- Feature hashing needs NO vocabulary/dictionary build, no shuffle, and no
  state: each (feature, value) maps to a slot via md5, a pure per-row
  expression. That is the point of the trick at 100 TB — encoding is
  embarrassingly parallel and new category values never require a refit.
- md5 is RFC 1321 on both engines, so slots and signs replay bitwise in
  the DuckDB oracle (same parity trick as the epoch shuffle).
- Scaling statistics are exact int64 sums (S, Q = sum x^2); the z-score is
  computed as (n*x - S) / sqrt((n*Q - S^2) * n / (n-1)) — every input to
  the float expression is an exact integer, so the IEEE result is
  deterministic. At 100 TB, swap the int64 accumulators for DECIMAL(38,0)
  sums (n*Q can pass 2^63 around 10^10 rows of 5-digit values); the
  expression shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from bicis_spark.sources.io import local_frame
from pyspark.sql import functions as F


def _feature_hex(feature: str, value: Column) -> Column:
    """md5 hex of '<feature>:<value>' — computed ONCE per occurrence and
    shared by the slot and sign derivations below (the r5 shape hashed
    twice per token; at 100 TB the md5 is the dominant per-token cost)."""
    return F.md5(F.concat_ws(":", F.lit(feature), value.cast("string")))


def _slot_from_hex(h: Column, n_buckets: int) -> Column:
    """Slot index in [0, n_buckets) from the first 8 hex digits."""
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    ).cast("long")


def _sign_from_hex(h: Column) -> Column:
    """+1 / -1 from the parity of the 9th hex digit — the signed hashing
    trick (Weinberger et al., 2009): collisions cancel in expectation
    instead of always adding."""
    digit = F.conv(F.substring(h, 9, 1), 16, 10).cast("long")
    return F.when(digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")


def hashed_features(
    df: DataFrame,
    id_col: str,
    feature_cols: list[tuple[str, str]],
    n_buckets: int = 64,
) -> DataFrame:
    """Signed hashing-trick encoding: each (feature, value) contributes
    sign(hash) at slot(hash); contributions that collide in a slot sum.
    Output [id_col, slot, val] — the sparse feature vector, one row per
    occupied slot.

    Plan: a union of per-feature projections (pure map-side), then one
    hash aggregate on (id, slot). No dictionary, no broadcast, no second
    pass — the only shuffle is the final group-by, which at 100 TB is
    pre-combined map-side because (id, slot) repeats within a partition.
    """
    parts = [
        df.select(
            F.col(id_col), _feature_hex(label, F.col(c)).alias("_h")
        ).select(
            F.col(id_col),
            _slot_from_hex(F.col("_h"), n_buckets).alias("slot"),
            _sign_from_hex(F.col("_h")).alias("sign"),
        )
        for label, c in feature_cols
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return (
        u.groupBy(id_col, "slot")
        .agg(F.sum("sign").cast("long").alias("val"))
    )


def scale_features(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    keep_cols: list[str],
) -> DataFrame:
    """Group-wise z-score and min-max scaling of an integer-valued column.

    Per group g: z = (x - mean_g) / stddev_g computed as
    (n*x - S) / sqrt((n*Q - S^2) * n / (n-1)), and
    minmax = (x - min_g) / (max_g - min_g) — both pure functions of exact
    integer group statistics, so bitwise-reproducible. Groups with n == 1
    or zero variance / zero range yield NULL (guarded, not NaN).

    Plan: one hash aggregate for the per-group statistics (map-side
    combined), broadcast back onto the fact rows — the fact table itself
    never shuffles, which is the property that matters at 100 TB.
    """
    x = F.col(value_col).cast("long")
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_s"),
        F.sum(x * x).alias("_q"),
        F.min(x).alias("_min"),
        F.max(x).alias("_max"),
    )
    n, s, q = F.col("_n"), F.col("_s"), F.col("_q")
    var_num = n * q - s * s  # n^2 * (n-1)/n * variance, exact int64
    z = F.when(
        (n > 1) & (var_num > 0),
        (n * x - s).cast("double")
        / F.sqrt(var_num.cast("double") * n.cast("double") / (n - 1).cast("double")),
    )
    rng = F.col("_max") - F.col("_min")
    minmax = F.when(
        rng > 0, (x - F.col("_min")).cast("double") / rng.cast("double")
    )
    return (
        df.join(F.broadcast(stats), group_cols)
        .select(
            *keep_cols,
            *group_cols,
            x.alias(value_col),
            z.alias("zscore"),
            minmax.alias("minmax"),
        )
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_cols: list[str],
) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature: each row
    gets the mean target of its category EXCLUDING itself —
    ``(Σ_cat − own) / (n_cat − 1)`` — the standard leakage guard for
    mean encodings (a row never sees its own label). Singleton
    categories encode NULL (no other rows to average).

    Determinism: the category sum runs in exact DECIMAL; the division is
    one double op on exact operands per row.

    Scale: one hash aggregate keyed by category (map-side combined to
    |categories| rows) broadcast-joined back onto the input — the fact
    table is scanned once and never shuffled.
    """
    t = F.col(target_col).cast("decimal(18,2)")
    stats = df.groupBy(cat_col).agg(
        F.sum(t).alias("_sum"), F.count(F.lit(1)).alias("_cnt")
    )
    out_cols = [*id_cols, cat_col]
    return (
        df.join(F.broadcast(stats), cat_col)
        .select(
            *out_cols,
            F.when(
                F.col("_cnt") > 1,
                (F.col("_sum") - t).cast("double")
                / (F.col("_cnt") - F.lit(1)).cast("double"),
            ).alias("loo_target_mean"),
        )
    )


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Privacy audit: group sizes over the quasi-identifier combination,
    flagging equivalence classes smaller than ``k`` (the re-identification
    risk classes under k-anonymity, Sweeney 2002). One hash aggregate —
    map-side combined, shuffle bounded by distinct quasi-identifier
    combinations."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        (F.count(F.lit(1)) >= k).alias("is_k_anonymous"),
    )


def linear_text_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
    weight_mod: int = 7,
    weight_shift: int = 3,
    weights: list[int] | None = None,
) -> DataFrame:
    """Map-side linear text classifier over signed hashed token features —
    the quality-filtering stage of a corpus pipeline (a fasttext-style
    linear scorer applied at scan time): score(doc) = Σ_tokens
    sign(tok)·w[slot(tok)], flag = score ≥ 0.

    The weight vector here is a deterministic function of the slot,
    w[s] = (s mod weight_mod) − weight_shift, standing in for trained
    weights so the whole path — tokenize, hash, score, threshold — is
    integer-exact and oracle-replayable; swap in a broadcast array of
    trained int-quantized weights for production (same plan shape:
    per-row expressions, one map-combined aggregate, zero joins).

    Scale: tokens explode map-side and collapse in ONE hash aggregate
    keyed by the doc id — the shuffle carries (id, partial score), never
    tokens. Docs with no tokens produce no row (both engines agree by
    construction)."""
    tok = F.explode(
        F.filter(
            F.split(F.lower(F.col(text_col)), " ", -1), lambda x: x != F.lit("")
        )
    ).alias("tok")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), tok
    ).select(
        F.col(id_col), _feature_hex("tok", F.col("tok")).alias("_h")
    )
    slot = _slot_from_hex(F.col("_h"), n_buckets)
    sign = _sign_from_hex(F.col("_h"))
    if weights is not None:
        # production path: trained int-quantized weights ride the plan as
        # an array literal (K ints — broadcast with the task binary);
        # element_at is 1-indexed
        if len(weights) != n_buckets:
            raise ValueError("weights must have n_buckets entries")
        w = F.element_at(
            F.array(*[F.lit(int(x)) for x in weights]), slot.cast("int") + 1
        )
    else:
        w = F.pmod(slot, F.lit(weight_mod)) - F.lit(weight_shift)
    contrib = sign * w
    return (
        toks.select(F.col(id_col), contrib.alias("_c"))
        .groupBy(id_col)
        .agg(F.sum("_c").cast("long").alias("score"))
        .select(
            id_col, "score", (F.col("score") >= 0).alias("is_quality")
        )
    )


def mutual_information_rank(
    df: DataFrame,
    label_col: str,
    features: dict[str, Column],
    scale: int = 1_000_000,
) -> DataFrame:
    """Mutual-information feature ranking: for each candidate categorical
    feature X, MI(X; Y) = Σ_xy (n_xy/N)·log2(n_xy·N / (n_x·n_y)) — the
    filter-method feature selector (Cover & Thomas ch.2; sklearn's
    mutual_info_score). A constant or label-independent feature scores
    ~0; the ranking is what a pipeline consults before committing to an
    encode/train pass over the full corpus.

    Determinism (the repo's libm-table discipline): Spark never calls a
    JVM log. All DISTINCT cell/marginal counts (bounded by the
    contingency-table size — tens of values for categorical features,
    never corpus-scale) come to the driver; qlog(k) = floor(log2(k)·S)
    is computed with Python libm (== DuckDB libm, the char_entropy
    precedent) and broadcast back. Each cell contributes the exact int64
    n_xy·(qlog(n_xy)+qlog(N)−qlog(n_x)−qlog(n_y)); the only float op is
    the final division by N·S.

    Plan: ONE melted scan (stack → (feature, value, label)), three tiny
    hash aggs (cells, value-marginals, label-marginals), broadcast qlog
    joins, one ≤|features|-row result. int64 headroom: |mi_q| ≤
    N·40·S ≈ 4·10⁷·N — safe to ~10¹¹ rows at S=10⁶; shrink S past that.

    ``features``: name → Column expression (will be cast to string).
    Output: [feature, n_cells, mi_q, mi_bits], one row per feature."""
    import math

    melted = df.select(
        F.col(label_col).cast("string").alias("_y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("_f"),
                        expr.cast("string").alias("_v"),
                    )
                    for name, expr in features.items()
                ]
            )
        ).alias("_fv"),
    ).select("_fv._f", "_fv._v", "_y")
    cells = melted.groupBy("_f", "_v", "_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    margx = melted.groupBy("_f", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("n_x")
    )
    margy = melted.groupBy("_f", "_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_y")
    )
    n_total = df.count()
    # distinct counts -> driver (contingency-bounded model state)
    ks = {n_total}
    for frame, col in ((cells, "n_xy"), (margx, "n_x"), (margy, "n_y")):
        ks.update(r[0] for r in frame.select(col).distinct().collect())
    spark = df.sparkSession
    qlog = local_frame(spark, 
        [(int(k), int(math.floor(math.log2(k) * scale))) for k in sorted(ks)],
        "k long, q long",
    )
    qn = int(math.floor(math.log2(n_total) * scale))

    def with_q(frame: DataFrame, col: str, alias: str) -> DataFrame:
        return frame.join(
            F.broadcast(qlog), frame[col] == qlog["k"]
        ).select(*frame.columns, F.col("q").alias(alias))

    joined = (
        with_q(cells, "n_xy", "q_xy")
        .join(with_q(margx, "n_x", "q_x"), ["_f", "_v"])
        .join(with_q(margy, "n_y", "q_y"), ["_f", "_y"])
    )
    per_cell = joined.select(
        "_f",
        (
            F.col("n_xy")
            * (F.col("q_xy") + F.lit(qn) - F.col("q_x") - F.col("q_y"))
        ).alias("_term"),
    )
    return (
        per_cell.groupBy("_f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("_term").cast("long").alias("mi_q"),
        )
        .select(
            F.col("_f").alias("feature"),
            "n_cells",
            "mi_q",
            (
                F.col("mi_q").cast("double")
                / F.lit(float(n_total * scale))
            ).alias("mi_bits"),
        )
    )


def naive_bayes_confusion(
    df: DataFrame,
    label_col: str,
    features: dict[str, Column],
    key_col: str,
    scale: int = 1_000_000,
    salt: str = "nb",
) -> DataFrame:
    """Categorical Naive Bayes, trained AND evaluated in one declarative
    plan: hash-split 80/20 on ``key_col`` (the repo's md5 split rule),
    fit class priors and Laplace-smoothed per-feature likelihoods on the
    train fold, score the test fold, and return the confusion matrix
    [actual, predicted, n_rows].

    Everything is INTEGER arithmetic — the model's logs go through the
    libm qlog table over distinct counts (all bounded by contingency
    sizes): score(c) = q(n_c) + Σ_f [q(n_{f,v,c}+1) − q(n_c+|V_f|)],
    with unseen (f,v) falling back to the smoothing floor −q(n_c+|V_f|).
    The argmax is over exact int64 scores with ties broken on the class
    name, so prediction — and therefore the confusion matrix — replays
    bitwise in the oracle. No floats exist anywhere in the query.

    Plan: the ENTIRE model (priors, smoothed likelihoods, per-feature
    cardinalities — contingency-bounded, the BPE-merge-table collect
    class) comes to the driver and goes back as ONE wide broadcast
    table mapping (feature, value) → per-class score vector, with a
    per-feature fallback vector for unseen values. Scoring is then:
    melt the test fold once, broadcast-join the model, ONE hash agg per
    (row, actual) summing a static column per class, a pure-projection
    argmax (chained >= over the class columns — ties resolve to the
    lexicographically first class), and the ≤ classes² confusion fold.
    The corpus never shuffles except by its own melt key."""
    import math

    from bicis_spark.caching import tracked_persist
    from bicis_spark.operators.sketch import hex_prefix_int_sql

    split_sql = hex_prefix_int_sql(
        f"md5(concat_ws(':', '{salt}', CAST({key_col} AS STRING)))", 5
    )
    base = df.select(
        F.col(key_col).alias("_k"),
        F.col(label_col).cast("string").alias("_y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("_f"),
                        expr.cast("string").alias("_v"),
                    )
                    for name, expr in features.items()
                ]
            )
        ).alias("_fv"),
        (F.expr(split_sql) % 1000 < 800).alias("_train"),
    ).select("_k", "_y", "_fv._f", "_fv._v", "_train")
    # the model-state collects each run a job; without a persist every
    # one rescans + re-melts + re-hashes the corpus (the md5 split poly
    # per row is the expensive part)
    base = tracked_persist(base)
    train = base.where("_train")
    first_feat = list(features)[0]
    # model state to the driver: priors, per-feature cardinalities, cells
    prior_rows = (
        train.where(F.col("_f") == first_feat)
        .groupBy("_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_c"))
        .collect()
    )
    vf_rows = {
        r["_f"]: r["n_vf"]
        for r in train.groupBy("_f")
        .agg(F.countDistinct("_v").cast("long").alias("n_vf"))
        .collect()
    }
    cell_rows = train.groupBy("_f", "_v", "_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_fvc")
    ).collect()
    classes = sorted(r["_y"] for r in prior_rows)
    n_c = {r["_y"]: r["n_c"] for r in prior_rows}

    def q(k: int) -> int:
        return int(math.floor(math.log2(k) * scale))

    q_den = {
        (f, c): q(n_c[c] + nv) for f, nv in vf_rows.items() for c in classes
    }
    # wide model: (f, v) → per-class score vector, fallback = smoothing floor
    lik: dict[tuple[str, str], list[int]] = {}
    for r in cell_rows:
        key = (r["_f"], r["_v"])
        if key not in lik:
            lik[key] = [-q_den[(r["_f"], c)] for c in classes]
        lik[key][classes.index(r["_y"])] = (
            q(r["n_fvc"] + 1) - q_den[(r["_f"], r["_y"])]
        )
    spark = df.sparkSession
    model = local_frame(spark, 
        [(f, v, vec) for (f, v), vec in sorted(lik.items())],
        "_f string, _v string, _lqs array<long>",
    )
    fallback = local_frame(spark, 
        [
            (f, [-q_den[(f, c)] for c in classes])
            for f in sorted(vf_rows)
        ],
        "_f string, _dlqs array<long>",
    )
    prior_q = [q(n_c[c]) for c in classes]
    test = base.where(~F.col("_train"))
    scored = (
        test.join(F.broadcast(model), ["_f", "_v"], "left")
        .join(F.broadcast(fallback), "_f")
        .select(
            "_k",
            "_y",
            F.coalesce(F.col("_lqs"), F.col("_dlqs")).alias("_s"),
        )
        .groupBy("_k", "_y")
        .agg(
            *[
                (F.sum(F.element_at("_s", i + 1)) + F.lit(prior_q[i]))
                .cast("long")
                .alias(f"_s{i}")
                for i in range(len(classes))
            ]
        )
    )
    # argmax with ties to the lexicographically FIRST class: chained >=
    pred_expr = F.lit(classes[-1])
    for i in range(len(classes) - 2, -1, -1):
        cond = F.lit(True)
        for j in range(i + 1, len(classes)):
            cond = cond & (F.col(f"_s{i}") >= F.col(f"_s{j}"))
        pred_expr = F.when(cond, F.lit(classes[i])).otherwise(pred_expr)
    pred = scored.select("_k", "_y", pred_expr.alias("predicted"))
    return pred.groupBy(F.col("_y").alias("actual"), "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def decision_stump_gains(
    df: DataFrame,
    value_col: str,
    label_col: str,
    width: int,
    n_buckets: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Decision-stump split finding: information gain of the split
    ``value ≤ t`` for every candidate threshold t on a fixed bucket grid
    (t = bucket upper edges, width·1 … width·(B−1)) — the inner loop of
    tree induction (CART/C4.5) and the one-feature baseline every
    tabular pipeline should check before training anything bigger.

    N·H(Y|split) = Σ_side Σ_c n_{c,side}·(q(n_side) − q(n_{c,side})) and
    N·H(Y) = Σ_c n_c·(q(N) − q(n_c)) with q(k) = floor(log2(k)·S) — so
    IG·N·S is EXACT int64 and the only float is the final normalization.
    q() is a literal map expression built driver-side with Python libm
    (== DuckDB libm): the distinct cumulative counts are bounded by
    buckets × classes, the usual contingency collect class.

    Plan: ONE corpus scan folds to ≤ buckets × classes cells (map-side
    combined); thresholds are evaluated by prefix sums OVER THE CELLS
    (a window over ≤ B·C rows, never the corpus). Values beyond the grid
    clamp into the last bucket.

    Output: [threshold, n_left, n_right, ig_q, ig_bits] per candidate,
    splits with an empty side excluded by construction (last bucket)."""
    import math

    from pyspark.sql import Window

    from bicis_spark.caching import tracked_persist

    bucket = F.least(
        F.floor(F.col(value_col) / width), F.lit(n_buckets - 1)
    ).cast("long")
    cells = tracked_persist(
        df.groupBy(
            bucket.alias("_b"), F.col(label_col).cast("string").alias("_y")
        ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    bs = cells.select("_b").distinct()
    ys = cells.groupBy("_y").agg(F.sum("_n").cast("long").alias("_nc"))
    grid = (
        bs.crossJoin(ys)
        .join(cells, ["_b", "_y"], "left")
        .select(
            "_b", "_y", "_nc", F.coalesce(F.col("_n"), F.lit(0)).alias("_n")
        )
    )
    wcum = (
        Window.partitionBy("_y")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "_b", "_y", "_nc", F.sum("_n").over(wcum).cast("long").alias("_nlc")
    )
    # model-state collect: the grid is ≤ buckets × classes rows
    rows = cum.collect()
    n_total = sum({r["_y"]: r["_nc"] for r in rows}.values())
    nl_by_b: dict[int, int] = {}
    for r in rows:
        nl_by_b[r["_b"]] = nl_by_b.get(r["_b"], 0) + r["_nlc"]
    ks: set[int] = {n_total}
    for r in rows:
        ks.update(
            k
            for k in (
                r["_nlc"],
                r["_nc"] - r["_nlc"],
                r["_nc"],
                nl_by_b[r["_b"]],
                n_total - nl_by_b[r["_b"]],
            )
            if k > 0
        )
    q = {k: int(math.floor(math.log2(k) * scale)) for k in ks}
    qmap = F.create_map(
        *[F.lit(x) for kv in sorted(q.items()) for x in kv]
    )

    def ql(c: Column) -> Column:
        return F.element_at(qmap, c.cast("long"))

    hy_q = sum(
        nc * (q[n_total] - q[nc])
        for nc in {r["_y"]: r["_nc"] for r in rows}.values()
    )
    sides = cum.groupBy("_b").agg(F.sum("_nlc").cast("long").alias("_nl"))
    terms = (
        cum.join(sides, "_b")
        .select(
            "_b",
            "_nl",
            (
                F.when(
                    F.col("_nlc") > 0,
                    F.col("_nlc") * (ql(F.col("_nl")) - ql(F.col("_nlc"))),
                ).otherwise(F.lit(0))
                + F.when(
                    (F.col("_nc") - F.col("_nlc")) > 0,
                    (F.col("_nc") - F.col("_nlc"))
                    * (
                        ql(F.lit(n_total) - F.col("_nl"))
                        - ql(F.col("_nc") - F.col("_nlc"))
                    ),
                ).otherwise(F.lit(0))
            ).alias("_t"),
        )
    )
    max_b = max(nl_by_b)
    ig = (
        terms.groupBy("_b", "_nl")
        .agg(F.sum("_t").cast("long").alias("_cond"))
        .where(F.col("_b") < max_b)
        .select(
            ((F.col("_b") + 1) * width).cast("long").alias("threshold"),
            F.col("_nl").alias("n_left"),
            (F.lit(n_total) - F.col("_nl")).cast("long").alias("n_right"),
            (F.lit(hy_q) - F.col("_cond")).cast("long").alias("ig_q"),
            (
                (F.lit(hy_q) - F.col("_cond")).cast("double")
                / F.lit(float(n_total * scale))
            ).alias("ig_bits"),
        )
    )
    return ig


def mode_impute(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Fill NULLs in ``value_col`` with the per-``key_col`` MODE (most
    frequent non-null value; ties break to the SMALLEST value so the
    choice is deterministic on any engine) — the standard categorical
    imputation step of a feature pipeline. Rows whose key has no
    non-null value at all keep NULL.

    Plan: one (key, value) count aggregate (map-side combined), a
    per-key row_number pick (partition = distinct values per key), then
    one key join back to the rows. The mode table is |keys|-sized —
    dimension-class, so the join back is broadcastable at dim scale and
    key-partitioned beyond. Output: df with ``value_col`` replaced.
    """
    from pyspark.sql import Window

    cnt = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(key_col).orderBy(
        F.desc("_c"), F.asc(value_col)
    )
    mode = (
        cnt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col(key_col), F.col(value_col).alias("_mode"))
    )
    out_cols = [
        F.coalesce(F.col(value_col), F.col("_mode")).alias(value_col)
        if c == value_col
        else F.col(c)
        for c in df.columns
    ]
    return df.join(F.broadcast(mode), on=key_col, how="left").select(*out_cols)


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,  # noqa: E741 - the literature's name for the parameter
) -> DataFrame:
    """Privacy audit companion to ``k_anonymity_audit``: within each
    quasi-identifier equivalence class, count DISTINCT values of the
    sensitive attribute and flag classes with fewer than ``l``
    (Machanavajjhala et al. 2007 — k-anonymity alone fails when a class
    is sensitive-homogeneous: group size k with one diagnosis value
    still discloses the diagnosis). One hash aggregate with a distinct
    sub-aggregate — Spark plans it as the standard two-phase expand
    (partial per (class, sensitive) then merge), shuffle bounded by
    distinct (quasi, sensitive) combinations, never raw rows."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(F.col(sensitive_col)).cast("long").alias(
            "sensitive_diversity"
        ),
        (F.countDistinct(F.col(sensitive_col)) >= l).alias("is_l_diverse"),
    )
