"""Runner: DAG order, parquet memoization, YAML experiment loading."""

from __future__ import annotations

from pyspark.sql import functions as F

from bicis_spark.plans.runner import Pipeline, load_callable, load_experiment


def test_pipeline_memoization(spark, tmp_path):
    calls = {"base": 0, "doubled": 0}
    p = Pipeline(spark, str(tmp_path))

    @p.stage("base")
    def base(s):
        calls["base"] += 1
        return s.range(10).select(F.col("id"))

    @p.stage("doubled", deps=["base"])
    def doubled(s, base_df):
        calls["doubled"] += 1
        return base_df.select((F.col("id") * 2).alias("v"))

    r1 = p.run(["doubled"])
    assert sorted(x["v"] for x in r1["doubled"].collect()) == list(range(0, 20, 2))
    assert calls == {"base": 1, "doubled": 1}

    # second run: everything memoized from parquet
    p.run(["doubled"])
    assert calls == {"base": 1, "doubled": 1}

    # force recomputes
    p.run(["doubled"], force=True)
    assert calls == {"base": 2, "doubled": 2}


def test_topo_cycle_detection(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))
    p.stages.update(
        {
            "a": __import__("bicis_spark.plans.runner", fromlist=["Stage"]).Stage("a", lambda s: None, ["b"]),
            "b": __import__("bicis_spark.plans.runner", fromlist=["Stage"]).Stage("b", lambda s: None, ["a"]),
        }
    )
    import pytest

    with pytest.raises(ValueError, match="cycle"):
        p.run(["a"])


def test_load_experiment(tmp_path):
    cfg = tmp_path / "exp.yaml"
    cfg.write_text(
        "experiment_name: baseline\n"
        "features_builder:\n"
        "  type: bicis_spark.operators.features:circular_lag_features\n"
        "  window_size: 24\n"
        "model:\n"
        "  type: bicis_spark.operators.model:fit_poisson\n"
        "  link: log\n"
        "  max_iter: 1\n"
    )
    exp = load_experiment(str(cfg))
    assert exp["experiment_name"] == "baseline"
    fn, params = exp["features_builder"]
    assert fn.__name__ == "circular_lag_features" and params == {"window_size": 24}
    fn2, params2 = exp["model"]
    assert fn2.__name__ == "fit_poisson" and params2 == {"link": "log", "max_iter": 1}


def test_load_callable_dotted():
    fn = load_callable("bicis_spark.operators.targets.next_window_count")
    assert fn.__name__ == "next_window_count"


def test_load_experiment_dollar_refs_are_singletons(tmp_path):
    cfg = tmp_path / "exp2.yaml"
    cfg.write_text(
        "experiment_name: refs\n"
        "target_builder:\n"
        "  type: bicis_spark.operators.targets:next_window_count\n"
        "  window_seconds: 3600\n"
        "trainer:\n"
        "  type: bicis_spark.operators.model:fit_poisson\n"
        "  target: $target_builder\n"
        "evaluator:\n"
        "  type: bicis_spark.operators.model:fit_poisson\n"
        "  target: $target_builder\n"
        "  nested:\n"
        "    also: [$target_builder]\n"
    )
    exp = load_experiment(str(cfg))
    _, trainer_params = exp["trainer"]
    _, eval_params = exp["evaluator"]
    # references resolve to the component AND share one instance
    assert trainer_params["target"] is exp["target_builder"]
    assert eval_params["target"] is exp["target_builder"]
    assert eval_params["nested"]["also"][0] is exp["target_builder"]


def test_load_experiment_ref_cycle_raises(tmp_path):
    import pytest

    cfg = tmp_path / "cyc.yaml"
    cfg.write_text(
        "a:\n  type: bicis_spark.operators.model:fit_poisson\n  x: $b\n"
        "b:\n  type: bicis_spark.operators.model:fit_poisson\n  x: $a\n"
    )
    with pytest.raises(ValueError, match="cycle"):
        load_experiment(str(cfg))


def test_load_experiment_unknown_ref_raises(tmp_path):
    import pytest

    cfg = tmp_path / "unk.yaml"
    cfg.write_text("a:\n  type: bicis_spark.operators.model:fit_poisson\n  x: $nope\n")
    with pytest.raises(KeyError, match="nope"):
        load_experiment(str(cfg))


def test_validate_disjoint_outputs(spark):
    import pytest

    from bicis_spark.plans.runner import validate_disjoint_outputs

    a = spark.range(1).select(F.col("id"), F.lit(1).alias("f1"))
    b = spark.range(1).select(F.col("id"), F.lit(2).alias("f2"))
    validate_disjoint_outputs({"a": a, "b": b}, ["id"])  # disjoint: ok

    c = spark.range(1).select(F.col("id"), F.lit(3).alias("f1"))
    with pytest.raises(ValueError, match="f1"):
        validate_disjoint_outputs({"a": a, "c": c}, ["id"])


def test_pipeline_observed_metrics_ride_the_write_job(spark, tmp_path, new_job_ids):
    """Per-stage metrics come from DataFrame.observe attached to the
    materialization write — row counts plus caller aggregates, with no
    second scan (the job-count assertion: exactly one job per executed
    stage). Memoized stages report skipped."""
    p = Pipeline(spark, str(tmp_path))

    @p.stage("base")
    def base(s):
        return s.range(25).select(F.col("id"))

    @p.stage(
        "filtered",
        deps=["base"],
        metrics={"n_even": F.sum((F.col("id") % 2 == 0).cast("long"))},
    )
    def filtered(s, base_df):
        return base_df.where(F.col("id") >= 5)

    with new_job_ids() as new_jobs:
        p.run(["filtered"])

    assert p.last_run_metrics["base"] == {"rows": 25}
    assert p.last_run_metrics["filtered"] == {"rows": 20, "n_even": 10}
    # one write job per stage; no read-back job (the written schema is
    # reused, so nothing is inferred) and no metric job — a count()-based
    # metrics pass would add one more job per stage
    assert len(new_jobs) == 2

    p.run(["filtered"])  # memoized rerun
    assert p.last_run_metrics == {
        "base": {"skipped": True},
        "filtered": {"skipped": True},
    }


def test_fresh_instance_reads_only_direct_deps(spark, tmp_path, new_job_ids):
    """A fresh Pipeline on a memoized root opens only what the executing
    stage consumes: c's input b (schema inferred — this instance did not
    write it) and not a; c itself is read back with the schema it wrote."""
    calls = {"a": 0, "b": 0, "c": 0}

    def chain(p):
        @p.stage("a")
        def a(s):
            calls["a"] += 1
            return s.range(6).select(F.col("id"))

        @p.stage("b", deps=["a"])
        def b(s, a_df):
            calls["b"] += 1
            return a_df.select((F.col("id") * 10).alias("v"))

        @p.stage("c", deps=["b"])
        def c(s, b_df):
            calls["c"] += 1
            return b_df.where(F.col("v") >= 20).select((F.col("v") + 1).alias("w"))

        return p

    chain(Pipeline(spark, str(tmp_path))).run(["b"])
    assert calls == {"a": 1, "b": 1, "c": 0}

    fresh = chain(Pipeline(spark, str(tmp_path)))
    with new_job_ids() as new_jobs:
        out = fresh.run(["c"])
    assert calls == {"a": 1, "b": 1, "c": 1}
    # b's schema inference + c's write; a is never opened, c's read-back
    # reuses the written schema
    assert len(new_jobs) == 2
    assert set(out) == {"c"}
    assert sorted(r["w"] for r in out["c"].collect()) == [21, 31, 41, 51]
    assert fresh.last_run_metrics == {
        "a": {"skipped": True},
        "b": {"skipped": True},
        "c": {"rows": 4},
    }
