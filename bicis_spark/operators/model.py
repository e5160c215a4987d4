"""ML surface: Poisson GLM fit / predict / evaluate (SURVEY.md §2.11).

Reference semantics (``bicis/etl/models/poisson_regression.py:12-48``,
``bicis/etl/model_selection/evaluate_model.py:28-41``): fit
``GeneralizedLinearRegression(family='poisson', link∈{log,identity,sqrt})``
on the assembled dataset, predict, and compute MSE — which the reference
does by collecting predictions to the driver and calling sklearn.

Spark-first: features go through ``VectorAssembler`` (replacing the
hand-rolled CSV→LabeledPoint parsers, ``build_dataset.py:179-212``);
evaluation is a distributed aggregate (``avg(pow(label-prediction,2))``) —
no driver collect.
"""

from __future__ import annotations

from pyspark.ml.feature import VectorAssembler

from bicis_spark.sources.io import local_frame
from pyspark.ml.regression import (
    GeneralizedLinearRegression,
    GeneralizedLinearRegressionModel,
)
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

VALID_LINKS = ("log", "identity", "sqrt")


def assemble_features(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    target_col: str = "target",
    id_col: str = "id",
) -> DataFrame:
    """[id, target, f..., rest...] → [id, label, features vector, rest...].

    ``feature_cols`` defaults to every column but id and target; columns
    neither id, target nor a feature (e.g. a split label) pass through
    unchanged, in input order, on the same rows."""
    feature_cols = feature_cols or [
        c for c in df.columns if c not in (id_col, target_col)
    ]
    rest = [c for c in df.columns if c not in (id_col, target_col, *feature_cols)]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    return assembler.transform(df).select(
        F.col(id_col).alias("id"),
        F.col(target_col).cast("double").alias("label"),
        "features",
        *rest,
    )


def fit_poisson(
    dataset: DataFrame, link: str = "log", max_iter: int = 1, reg_param: float = 0.0
) -> GeneralizedLinearRegressionModel:
    """M1 — same MLlib estimator the reference uses, same defaults
    (maxIter=1, poisson_regression.py:13-24)."""
    if link not in VALID_LINKS:
        raise ValueError(f"link must be one of {VALID_LINKS}")
    glr = GeneralizedLinearRegression(
        family="poisson", link=link, maxIter=max_iter, regParam=reg_param
    )
    return glr.fit(dataset)


def predict(model: GeneralizedLinearRegressionModel, dataset: DataFrame) -> DataFrame:
    """M2 — [id, label, prediction, rest...]: drops only the features
    vector (like poisson_regression.py:46); columns passed through by
    ``assemble_features`` follow the prediction."""
    rest = [c for c in dataset.columns if c not in ("id", "label", "features")]
    return model.transform(dataset).select("id", "label", "prediction", *rest)


def evaluate_mse(predictions: DataFrame) -> DataFrame:
    """M3 — distributed MSE, 1-row frame [mse]."""
    return predictions.agg(
        F.avg(F.pow(F.col("label") - F.col("prediction"), F.lit(2))).alias("mse")
    )


def _decimal_sum_double(sum_expr):
    """Engine-portable DECIMAL→DOUBLE for wide aggregate sums.

    A direct decimal→double cast of a >16-significant-digit value is
    implementation-defined in the last ulp (measured: Spark and DuckDB
    disagree by 1 ulp on the 20-digit Σy² at sf0.1), which breaks the
    bitwise oracle gate. Decompose instead: floor to int64 (int64→double
    is IEEE-correctly-rounded everywhere) plus the sub-1 fractional
    remainder (≤4 decimal digits — its cast is exact-input correctly
    rounded on both engines), recombined with ONE IEEE add. Full
    precision is preserved (error ≤ 1 ulp of the true sum, same as a
    correctly-rounded cast), unlike flooring alone which quantizes by up
    to 1.0. Valid while |sum| < 2^63 in whole units; pre-scale inputs
    beyond that."""
    i = F.floor(sum_expr).cast("long")
    return i.cast("double") + (sum_expr - i).cast("double")


def fit_ols_exact(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Closed-form single-feature OLS — the gaussian identity-link GLM the
    reference's model surface reduces to for one feature
    (``poisson_regression.py:13-24`` with family/link swapped; evaluation
    semantics per ``evaluate_model.py:28-41``).

    1-row frame [n_rows, slope, intercept, mse]. All sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in exact DECIMAL (order-
    independent) and reach double via _decimal_sum_double — the portable
    int64+fraction decomposition that sidesteps the engine-divergent
    wide-decimal→double cast without losing precision. slope/intercept/
    mse are then fixed float expression trees over those operands, so the
    oracle replays them bit-for-bit — actual regression math under the
    hash gate, not a rows-only check.
    """
    x = F.col(x_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")
    s = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _decimal_sum_double(F.sum(x)).alias("sx"),
        _decimal_sum_double(F.sum(y)).alias("sy"),
        _decimal_sum_double(F.sum(x * y)).alias("sxy"),
        _decimal_sum_double(F.sum(x * x)).alias("sxx"),
        _decimal_sum_double(F.sum(y * y)).alias("syy"),
    )
    c = s.withColumn(
        "slope",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
    ).withColumn(
        "intercept",
        (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n"),
    )
    # SSE expansion: every term references only exact sums + the two
    # coefficients, mirroring the oracle's expression order exactly
    mse = (
        F.col("syy")
        - F.lit(2) * F.col("slope") * F.col("sxy")
        - F.lit(2) * F.col("intercept") * F.col("sy")
        + F.col("slope") * F.col("slope") * F.col("sxx")
        + F.lit(2) * F.col("slope") * F.col("intercept") * F.col("sx")
        + F.col("n") * F.col("intercept") * F.col("intercept")
    ) / F.col("n")
    return c.select(
        F.col("n").cast("long").alias("n_rows"),
        "slope",
        "intercept",
        mse.alias("mse"),
    )


def ols_predict_exact(
    df: DataFrame, x_col: str, y_col: str, id_cols: list[str]
) -> DataFrame:
    """Per-row predictions from the exact-OLS fit: [ids..., label,
    prediction]. The 1-row coefficient frame broadcasts; prediction =
    intercept + slope·x is a fixed float expression (bitwise across
    engines given identical coefficients)."""
    coef = fit_ols_exact(df, x_col, y_col).select("slope", "intercept")
    x_d = F.col(x_col).cast("decimal(18,2)").cast("double")
    y_d = F.col(y_col).cast("decimal(18,2)").cast("double")
    return df.crossJoin(F.broadcast(coef)).select(
        *id_cols,
        y_d.alias("label"),
        (F.col("intercept") + F.col("slope") * x_d).alias("prediction"),
    )


def grid_eval_ols(df: DataFrame, x_cols: list[str], y_col: str) -> DataFrame:
    """Model-selection grid in ONE scan: closed-form OLS of ``y_col`` on
    each candidate feature, emitting [config, n_rows, slope, intercept,
    mse] per candidate (the reference's evaluate-many-models loop,
    ``model_selection/evaluate_model.py:35-41``, collapsed into a single
    aggregation pass).

    All per-feature sufficient statistics accumulate side-by-side in one
    grand aggregate — k models cost one table scan, not k. Coefficients/
    MSE are fixed float expression trees over exact DECIMAL sums brought
    to double via _decimal_sum_double (same bitwise-replay story and
    wide-decimal-cast rationale as fit_ols_exact)."""
    y = F.col(y_col).cast("decimal(18,2)")

    def stat(expr):
        return _decimal_sum_double(F.sum(expr))

    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        stat(y).alias("sy"),
        stat(y * y).alias("syy"),
    ]
    for i, xc in enumerate(x_cols):
        x = F.col(xc).cast("decimal(18,2)")
        aggs += [
            stat(x).alias(f"sx{i}"),
            stat(x * y).alias(f"sxy{i}"),
            stat(x * x).alias(f"sxx{i}"),
        ]
    wide = df.agg(*aggs)
    for i, xc in enumerate(x_cols):
        wide = wide.withColumn(
            f"slope{i}",
            (F.col("n") * F.col(f"sxy{i}") - F.col(f"sx{i}") * F.col("sy"))
            / (F.col("n") * F.col(f"sxx{i}") - F.col(f"sx{i}") * F.col(f"sx{i}")),
        ).withColumn(
            f"intercept{i}",
            (F.col("sy") - F.col(f"slope{i}") * F.col(f"sx{i}")) / F.col("n"),
        ).withColumn(
            f"mse{i}",
            (
                F.col("syy")
                - F.lit(2) * F.col(f"slope{i}") * F.col(f"sxy{i}")
                - F.lit(2) * F.col(f"intercept{i}") * F.col("sy")
                + F.col(f"slope{i}") * F.col(f"slope{i}") * F.col(f"sxx{i}")
                + F.lit(2) * F.col(f"slope{i}") * F.col(f"intercept{i}") * F.col(f"sx{i}")
                + F.col("n") * F.col(f"intercept{i}") * F.col(f"intercept{i}")
            )
            / F.col("n"),
        )
    parts = ", ".join(
        f"'{xc.replace(chr(39), chr(39) * 2)}', CAST(n AS BIGINT), "
        f"slope{i}, intercept{i}, mse{i}"
        for i, xc in enumerate(x_cols)
    )
    return wide.selectExpr(
        f"stack({len(x_cols)}, {parts}) AS (config, n_rows, slope, intercept, mse)"
    )


def fit_poisson_irls_step(
    pts: DataFrame, x_col: str, y_col: str, z_scale: int = 1_000_000
) -> DataFrame:
    """One IRLS step of the Poisson log-link GLM — the reference's
    ``maxIter=1`` fit (``poisson_regression.py:13-24``) expressed as an
    EXACT, oracle-replayable closed form, where the MLlib estimator's
    LAPACK/Cholesky solve is not (see glm_poisson_predictions).

    IRLS step 1 from the textbook init (R glm.fit's Poisson mustart,
    μ₀ = y + 0.1; MLlib's internal iteration-0 uses a different seed but
    converges to the same fixed point — test_ols.py pins both: this step
    bitwise vs a Python replay, and the shared optimum vs MLlib at
    convergence): working response z = ln(μ₀) − (μ₀ − y)/μ₀ =
    ln(y+0.1) − 0.1/(y+0.1), weights w = μ₀, then a weighted least
    squares solve of z on x. Determinism discipline:

    * ``x``/``y`` must be integers (here: counts and bucket indices).
    * z is quantized driver-side: zq = floor(z·z_scale) as int64,
      computed with CPython libm over the DISTINCT y values (bounded —
      count cardinality, never data-scale) and broadcast; DuckDB's ln is
      the same C libm so the oracle reproduces zq bit-for-bit, while the
      JVM's Math.log can differ in the last ulp, so it never enters
      the plan.
    * weights are cleared to integers (10·w = 10y+1) so every
      sufficient statistic is an integer sum: A=Σ10w, B=Σ10wx, C=Σ10wx²
      in int64, D=Σ10w·zq, E=Σ10w·x·zq in DECIMAL(38,0) (per-row
      products ~1e11 stay in int64; the SUM would not at scale).
    * coefficients are one fixed float tree over the correctly-rounded
      int64→double casts of A..E (documented bound: |D|,|E| < 2⁶³,
      which holds to ~sf100 at z_scale=1e6; shrink z_scale beyond).

    slope = (A·E − B·D)/((A·C − B²)·z_scale),
    intercept = (D/z_scale − slope·B)/A  — algebraically identical to
    the WLS normal equations after the 10× and z_scale clearings.

    Output: one row per distinct x — [x, n_pts, slope, intercept, eta]
    with eta = intercept + slope·x the linear predictor (the model
    state the Predict stage applies; exp(eta) is deliberately NOT
    emitted — engine exp() is libm-divergent, the same reason MLlib
    predictions stay rows-only)."""
    import math

    spark = pts.sparkSession
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = pts.select(x.alias("_x"), y.alias("_y"))
    # Points with a NULL x or y are dropped, as in score_poisson_irls_step:
    # a NULL y would break the driver-side sorted() (None vs int) and a
    # NULL x would drop out of the B/C/E sums only, skewing the fit.
    base = base.where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    ys = sorted(r[0] for r in base.select("_y").distinct().collect())
    ztab = local_frame(spark, 
        [
            (
                int(v),
                int(
                    math.floor(
                        (math.log(v + 0.1) - 0.1 / (v + 0.1)) * z_scale
                    )
                ),
            )
            for v in ys
        ],
        "_y long, _zq long",
    )
    j = base.join(F.broadcast(ztab), "_y").select(
        "_x", "_zq", (F.lit(10) * F.col("_y") + F.lit(1)).alias("_s")
    )
    s, zq, xx = F.col("_s"), F.col("_zq"), F.col("_x")
    sums = j.agg(
        F.sum(s).alias("a"),
        F.sum(s * xx).alias("b"),
        F.sum(s * xx * xx).alias("c"),
        F.sum((s * zq).cast("decimal(38,0)")).alias("d"),
        F.sum((s * xx * zq).cast("decimal(38,0)")).alias("e"),
    )
    a_d = F.col("a").cast("double")
    b_d = F.col("b").cast("double")
    c_d = F.col("c").cast("double")
    d_d = F.col("d").cast("long").cast("double")
    e_d = F.col("e").cast("long").cast("double")
    zs = F.lit(float(z_scale))
    coef = sums.select(
        ((a_d * e_d - b_d * d_d) / ((a_d * c_d - b_d * b_d) * zs)).alias(
            "slope"
        ),
        a_d.alias("_a"),
        b_d.alias("_b"),
        d_d.alias("_d"),
    ).select(
        "slope",
        ((F.col("_d") / zs - F.col("slope") * F.col("_b")) / F.col("_a")).alias(
            "intercept"
        ),
    )
    per_x = base.groupBy(F.col("_x").alias(x_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_pts")
    )
    return per_x.crossJoin(F.broadcast(coef)).select(
        x_col,
        "n_pts",
        "slope",
        "intercept",
        (
            F.col("intercept")
            + F.col("slope") * F.col(x_col).cast("double")
        ).alias("eta"),
    )


def score_poisson_irls_step(
    pts: DataFrame,
    id_cols: list[str],
    x_col: str,
    y_col: str,
    z_scale: int = 1_000_000,
    err_scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """M2 + M3 — score the one-IRLS-step Poisson fit with COLLECTED
    LITERAL coefficients: β is bounded model state (2 doubles, the same
    fixed float tree the oracle replays in ``fit_poisson_irls_step``), so
    collecting it is a model-state collect, not a data collect. Scoring
    then runs through CPython's libm over the BOUNDED distinct x
    (μ = exp(η), one entry per distinct x — DuckDB's ``exp`` is the same
    C libm; the JVM's ``Math.exp`` can differ in the last ulp and never
    enters the plan), broadcast-joined back to the fact-sized points.
    Reference semantics: ``poisson_regression.py:35-48`` (predict) and
    ``evaluate_model.py:28-41`` (MSE).

    Returns ``(predictions, mse)``:

    * predictions — one row per input point: ``[*id_cols, x, label,
      eta, prediction]`` with η = intercept + slope·x (IEEE mul+add,
      bitwise identical in CPython and DuckDB) and prediction = exp(η).
    * mse — 1 row ``[n_points, sse_q, mse]``. The squared errors are
      quantized PER ROW as a JVM column expression: eq =
      floor((y − μ)²·err_scale) where the int64→double cast, subtract,
      multiplies, and floor are all correctly-rounded IEEE-754 ops —
      engine-deterministic, so DuckDB's per-row floor(dv²·scale)
      replays them bit-for-bit; only μ = exp(η) needs the CPython-libm
      table, and that table is bounded by |distinct x|. The eq sum runs
      in DECIMAL(38,0) (Σ eq exceeds 2⁶³ past ~sf10) and casts to int64
      under the documented |Σ| < 2⁶³ bound (holds while
      n_points·(y−μ)²·err_scale < 9.2e18). mse = Σ/(err_scale·n) is one
      fixed float tree — order-independent, so the oracle replays BOTH
      outputs bit-for-bit: the full fit→predict→evaluate chain under
      the hash gate. No data-sized driver state anywhere: the only
      collects are the 1-row β and the |distinct x|-bounded μ table
      (x is an hour-of-day here — 24 rows at any corpus size); rows
      with NULL x or y are dropped up front (a NULL point has no
      defined error and previously crashed the driver loop)."""
    import math

    spark = pts.sparkSession
    fit = fit_poisson_irls_step(pts, x_col, y_col, z_scale=z_scale)
    coef = fit.select("slope", "intercept").first()
    slope, intercept = float(coef["slope"]), float(coef["intercept"])

    base = pts.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *id_cols,
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    xs = sorted(r[0] for r in base.select("_x").distinct().collect())
    mu_rows = []
    for xv in xs:
        eta = intercept + slope * float(xv)
        mu_rows.append((int(xv), eta, math.exp(eta)))
    mutab = local_frame(spark, mu_rows, "_x long, eta double, mu double")
    scored = base.join(F.broadcast(mutab), "_x")
    preds = scored.select(
        *id_cols,
        F.col("_x").alias(x_col),
        F.col("_y").cast("long").alias("label"),
        "eta",
        F.col("mu").alias("prediction"),
    )

    # eq as a JVM column: IEEE sub/mul/floor match DuckDB's per-row
    # floor(dv·dv·scale) exactly; the association ((d·d)·scale) mirrors
    # the oracle's expression tree.
    d = F.col("_y").cast("double") - F.col("mu")
    eq = F.floor(d * d * F.lit(float(err_scale))).cast("long")
    sums = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(eq.cast("decimal(38,0)")).cast("long").alias("sse_q"),
    )
    mse = sums.select(
        "n_points",
        "sse_q",
        (
            F.col("sse_q").cast("double")
            / (F.lit(float(err_scale)) * F.col("n_points").cast("double"))
        ).alias("mse"),
    )
    return preds, mse


def train_predict_evaluate(
    dataset: DataFrame, link: str = "log", max_iter: int = 1, id_col: str = "id"
) -> tuple[GeneralizedLinearRegressionModel, DataFrame, DataFrame]:
    """End-to-end M1→M3 (the reference's fit→predict→evaluate DAG)."""
    assembled = assemble_features(dataset, id_col=id_col)
    model = fit_poisson(assembled, link=link, max_iter=max_iter)
    preds = predict(model, assembled)
    return model, preds, evaluate_mse(preds)


def fit_ols_exact_grouped(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Closed-form OLS fitted PER GROUP in one aggregation pass — the
    many-models-at-once shape (one model per segment/brand/tenant) that a
    driver-side loop cannot scale to: sufficient statistics accumulate in
    exact DECIMAL per group with map-side combine, and the coefficient
    expressions are the same fixed float trees as ``fit_ols_exact``, so
    every group's (slope, intercept, mse) replays bit-for-bit in the
    oracle. Output: [group, n_rows, slope, intercept, mse]; groups whose
    x is constant (zero variance) yield NULL slope/intercept/mse rather
    than a division error."""
    x = F.col(x_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")
    s = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _decimal_sum_double(F.sum(x)).alias("sx"),
        _decimal_sum_double(F.sum(y)).alias("sy"),
        _decimal_sum_double(F.sum(x * y)).alias("sxy"),
        _decimal_sum_double(F.sum(x * x)).alias("sxx"),
        _decimal_sum_double(F.sum(y * y)).alias("syy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    c = s.withColumn(
        "slope",
        F.when(
            den != 0,
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
        ),
    ).withColumn(
        "intercept",
        (F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n"),
    )
    mse = (
        F.col("syy")
        - F.lit(2) * F.col("slope") * F.col("sxy")
        - F.lit(2) * F.col("intercept") * F.col("sy")
        + F.col("slope") * F.col("slope") * F.col("sxx")
        + F.lit(2) * F.col("slope") * F.col("intercept") * F.col("sx")
        + F.col("n") * F.col("intercept") * F.col("intercept")
    ) / F.col("n")
    return c.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n_rows"),
        "slope",
        "intercept",
        mse.alias("mse"),
    )


def conformal_interval_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key_cols: list[str],
    cal_mod: int = 5,
    alpha_num: int = 9,
    alpha_den: int = 10,
) -> DataFrame:
    """Split-conformal interval calibration over the exact-OLS model:
    rows with ``hash_key % cal_mod == 0`` form the calibration split
    (the rest train), the model is ``fit_ols_exact`` on the train split,
    and the interval half-width q is the k-th smallest absolute
    calibration residual with k = ceil((alpha_num/alpha_den)·(n_cal+1))
    — the distribution-free coverage guarantee of split conformal
    prediction (Vovk et al.; Lei et al. 2018).

    Determinism: the split is a modulus on the first key column; k is
    integer arithmetic; q is an EXACT order statistic (row_number over
    (|residual|, key...) — no percentile interpolation); residuals are a
    fixed float expression tree over the hash-gated coefficients.
    Output: 1 row [n_train, n_cal, k, q_width, n_covered, slope,
    intercept] — n_covered/n_cal is the empirical coverage the guarantee
    promises ≥ alpha on exchangeable data.

    Scale: two aggregate passes; the model and q attach by 1-row
    broadcasts. The k-th selection here is a global row_number over the
    calibration split — exact and fine to ~10⁸ cal rows; past that, swap
    in two-pass bucketed selection (residual histogram → locate k's
    bucket → sort that bucket only), which preserves exactness without
    the single-task sort."""
    key = F.col(key_cols[0])
    train = df.where(key % cal_mod != 0)
    cal = df.where(key % cal_mod == 0)
    coef = fit_ols_exact(train, x_col, y_col).select(
        "slope", "intercept", F.col("n_rows").alias("n_train")
    )
    resid = F.abs(
        F.col(y_col).cast("double")
        - (F.col("slope") * F.col(x_col).cast("double") + F.col("intercept"))
    )
    scored = cal.crossJoin(F.broadcast(coef)).select(
        *[F.col(c) for c in key_cols],
        "slope",
        "intercept",
        "n_train",
        resid.alias("_r"),
    )
    n_cal_df = scored.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    w = Window.orderBy(F.col("_r"), *[F.col(c) for c in key_cols])
    ranked = scored.crossJoin(F.broadcast(n_cal_df)).withColumn(
        "_rn", F.row_number().over(w)
    )
    k_expr = F.ceil(
        (F.lit(alpha_num) * (F.col("n_cal") + 1)) / F.lit(alpha_den)
    ).cast("long")
    q_row = ranked.where(F.col("_rn") == F.least(k_expr, F.col("n_cal"))).select(
        "slope",
        "intercept",
        "n_train",
        "n_cal",
        F.least(k_expr, F.col("n_cal")).alias("k"),
        F.col("_r").alias("q_width"),
    )
    covered = (
        scored.crossJoin(F.broadcast(q_row.select("q_width")))
        .where(F.col("_r") <= F.col("q_width"))
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_covered"))
    )
    return q_row.crossJoin(F.broadcast(covered)).select(
        "n_train", "n_cal", "k", "q_width", "n_covered", "slope", "intercept"
    )
