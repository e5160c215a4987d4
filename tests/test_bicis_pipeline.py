"""End-to-end pipeline smoke: every stage materializes, the dataset has the
49-column shape, MSE is finite, fails counts reconcile."""

from __future__ import annotations

import math

from bicis_spark.plans.bicis_pipeline import build_pipeline
from bicis_spark.plans.runner import load_experiment


def test_full_pipeline(spark, sf_dir, tmp_path):
    results = build_pipeline(spark, sf_dir, str(tmp_path / "pipe")).run()

    ds = results["dataset"]
    assert len(ds.columns) == 3 + 48  # id, target, split, 24+24 lag features
    n_ds = ds.count()
    assert n_ds > 0

    preds = results["predictions"].collect()
    assert len(preds) == n_ds
    assert all(r["prediction"] is not None for r in preds[:10])
    splits = {r["split"] for r in preds}
    assert "training" in splits and len(splits) >= 2

    mses = {r["split"]: r["mse"] for r in results["evaluation"].collect()}
    assert set(mses) == splits
    assert all(m is not None and math.isfinite(m) and m >= 0 for m in mses.values())

    fails = results["fails"].first()
    assert fails["input_count"] - fails["output_count"] == fails["number_of_errors"]
    assert fails["output_count"] == n_ds


def test_stagewise_runs_cost_what_one_run_costs(spark, sf_dir, tmp_path, new_job_ids):
    """Running the DAG one target at a time re-opens no ancestor beyond a
    stage's direct deps and infers no schema it wrote, so it runs exactly
    the jobs of one ``run()``; the schema carried from each write is the
    one Spark infers from the parquet."""
    stepwise = build_pipeline(spark, sf_dir, str(tmp_path / "stepwise"))
    outs = {}
    with new_job_ids() as step_jobs:
        for name in stepwise.stages:
            outs.update(stepwise.run([name]))
    whole = build_pipeline(spark, sf_dir, str(tmp_path / "whole"))
    with new_job_ids() as whole_jobs:
        results = whole.run()

    assert len(step_jobs) == len(whole_jobs)
    assert set(outs) == set(results) == set(whole.stages)
    for p, frames in ((stepwise, outs), (whole, results)):
        for name, df in frames.items():
            inferred = spark.read.parquet(p._path(name)).schema
            assert df.schema.json() == inferred.json(), name


def test_forecast_dag_job_budget(spark, sf_dir, tmp_path, new_job_ids):
    """Jobs per stage when the DAG runs one target at a time: the profile
    is one scan (no rents/returns join), the split label rides through
    assembly and prediction (no re-joins around the GLM: two IRLS
    aggregates plus the write), and the fails counts are one aggregate."""
    p = build_pipeline(spark, sf_dir, str(tmp_path / "budget"))
    jobs = {}
    for name in p.stages:
        with new_job_ids() as ids:
            p.run([name])
        jobs[name] = len(ids)
    assert jobs["profile"] <= 3, jobs
    assert jobs["predictions"] <= 3, jobs
    assert jobs["fails"] <= 2, jobs
    assert sum(jobs.values()) <= 24, jobs


def test_baseline_config_resolves():
    exp = load_experiment("configs/baseline_features.yaml")
    assert exp["experiment_name"] == "baseline_features"
    fn, params = exp["target_builder"]
    assert fn.__name__ == "next_window_count"
    assert params == {"window_seconds": 3600}
    assert exp["metrics"] == ["mse"]


def test_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    """S12: pyspark.ml native persistence (poisson_regression.py:28-31)."""
    from pyspark.ml.regression import GeneralizedLinearRegressionModel
    from pyspark.sql import functions as F

    from bicis_spark.operators.model import assemble_features, fit_poisson, predict
    from bicis_spark.plans.pipeline_queries import ml_dataset_q

    ds = ml_dataset_q(spark, sf_dir)
    assembled = assemble_features(ds, id_col="event_id")
    model = fit_poisson(assembled, link="log", max_iter=1)
    path = str(tmp_path / "glm_model")
    model.save(path)
    loaded = GeneralizedLinearRegressionModel.load(path)
    orig = predict(model, assembled).collect()
    re = predict(loaded, assembled).collect()
    assert sorted((r["id"], r["prediction"]) for r in orig) == sorted(
        (r["id"], r["prediction"]) for r in re
    )


def test_train_predict_evaluate_mllib_dag(spark, sf_dir):
    """M1→M3 end-to-end on the actual ml_dataset shape (the reference's
    fit→predict→evaluate DAG, poisson_regression.py + evaluate_model.py).
    Kept at unit level since round 7: the DECLARED glm_poisson_predictions
    / glm_poisson_mse queries now score the hash-replayable IRLS-step fit
    (literal-coefficient trick), so the MLlib estimator path needs its own
    exercise here."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.model import train_predict_evaluate
    from bicis_spark.plans.pipeline_queries import ml_dataset_q

    ds = ml_dataset_q(spark, sf_dir)
    model, preds, mse = train_predict_evaluate(
        ds, link="log", max_iter=1, id_col="event_id"
    )
    assert preds.columns == ["id", "label", "prediction"]
    n = preds.count()
    assert n == ds.count() and n > 0
    assert preds.where(F.col("prediction") <= 0).count() == 0  # log link
    row = mse.collect()
    assert len(row) == 1 and row[0]["mse"] >= 0.0


def test_glm_poisson_golden_coefficients(spark):
    """M1/M2 hard local gate (r3 verdict item #6): pinned coefficients and
    predictions of fit_poisson on a fixed single-partition fixture. IRLS has
    no DuckDB twin, so the driver row is rows-only — this golden is the
    exactness check. Fixture: target = f1 + 2*f2 + 1 (exactly linear), so
    the identity-link GLM must recover (1.0, 2.0, 1.0) to machine epsilon;
    the log-link goldens pin the IRLS trajectory at maxIter 1 and 10."""
    import pytest

    from bicis_spark.operators.model import assemble_features, fit_poisson, predict

    rows = [
        (i, float(i % 8), float((3 * i) % 5), float((i % 8) + 2 * ((3 * i) % 5) + 1))
        for i in range(32)
    ]
    df = spark.createDataFrame(
        rows, "id long, f1 double, f2 double, target double"
    ).coalesce(1)
    ds = assemble_features(df, feature_cols=["f1", "f2"], target_col="target", id_col="id")

    m1 = fit_poisson(ds, link="log", max_iter=1)
    assert list(m1.coefficients) == pytest.approx(
        [0.12019845147010047, 0.24165183509324056], rel=1e-9
    )
    assert m1.intercept == pytest.approx(1.148383321152467, rel=1e-9)

    m10 = fit_poisson(ds, link="log", max_iter=10)
    assert list(m10.coefficients) == pytest.approx(
        [0.12014543932097062, 0.24174271747918016], rel=1e-9
    )
    assert m10.intercept == pytest.approx(1.143013524800327, rel=1e-9)

    ident = fit_poisson(ds, link="identity", max_iter=10)
    assert list(ident.coefficients) == pytest.approx([1.0, 2.0], rel=1e-12)
    assert ident.intercept == pytest.approx(1.0, rel=1e-12)
    preds = {r["id"]: r["prediction"] for r in predict(ident, ds).collect()}
    # exactly-linear data: identity-link predictions equal the targets
    for i, f1, f2, tgt in rows:
        assert preds[i] == pytest.approx(tgt, rel=1e-12)


def test_pipeline_target_window_is_bucketed(spark, sf_dir):
    """The full-pipeline target stage must use the skew-bounded bucketed
    window (the declared plan): the window partition key has to include the
    _bucket column, or one hot station becomes a single straggler task."""
    from bicis_spark.operators.targets import next_window_count_bucketed
    from bicis_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").selectExpr(
        "event_id as id", "user_id as station", "ts"
    )
    plan = next_window_count_bucketed(
        ev, "station", "ts", "id", 3600, "target"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "_bucket" in plan, plan
    # and the pipeline's target stage routes through the bucketed variant
    import inspect

    from bicis_spark.plans import bicis_pipeline

    src = inspect.getsource(bicis_pipeline)
    assert "next_window_count_bucketed(" in src
