"""Round-4 operator invariants: span dedup conservation, PQ re-rank
recovery, LOO target encoding algebra, SemDeDup survivor structure.

The oracle harness (test_oracle_queries) pins exact values on the driver
tables; these tests pin the semantic PROPERTIES on adversarial inline
fixtures the synthetic corpus doesn't exercise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bicis_spark.caching import release_tracked


def test_span_dedup_conservation_and_first_wins(spark):
    from bicis_spark.extensions.curation import span_dedup

    # doc 1 and doc 2 share an identical 3-token span; doc 2 also repeats
    # its own span internally. 3-token spans => doc1 = [a b c][d e f],
    # doc2 = [a b c][a b c][x y z]
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c a b c x y z"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in span_dedup(df, span_tokens=3).collect()
    }
    assert set(out) == {1, 2}  # null text dropped
    # doc 1 owns [a b c] (smallest doc_id) and keeps everything
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["deduped_text"] == "a b c d e f"
    # doc 2 loses both copies of [a b c] (cross-doc AND self-repeat)
    assert out[2]["n_spans"] == 3 and out[2]["n_kept"] == 1
    assert out[2]["deduped_text"] == "x y z"


def test_span_dedup_partial_tail_span(spark):
    from bicis_spark.extensions.curation import span_dedup

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    row = span_dedup(df, span_tokens=3).collect()[0]
    # 4 tokens at width 3 => spans [a b c], [d]
    assert row["n_spans"] == 2 and row["n_kept"] == 2
    assert row["deduped_text"] == "a b c d"


def test_target_encode_loo_excludes_own_row(spark):
    from bicis_spark.operators.featurize import target_encode_loo

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 7.0)],
        "id long, cat string, y double",
    )
    out = {
        r["id"]: r["loo_target_mean"]
        for r in target_encode_loo(df, "cat", "y", ["id"]).collect()
    }
    assert out[1] == 25.0  # (20+30)/2
    assert out[2] == 20.0  # (10+30)/2
    assert out[3] == 15.0  # (10+20)/2
    assert out[4] is None  # singleton category -> no leakage-free mean


def test_k_anonymity_flags_small_classes(spark):
    from bicis_spark.operators.featurize import k_anonymity_audit

    df = spark.createDataFrame(
        [(1, "x")] * 5 + [(2, "y")] * 2,
        "nat long, seg string",
    )
    out = {
        (r["nat"], r["seg"]): (r["group_size"], r["is_k_anonymous"])
        for r in k_anonymity_audit(df, ["nat", "seg"], k=5).collect()
    }
    assert out[(1, "x")] == (5, True)
    assert out[(2, "y")] == (2, False)


def test_semantic_dedup_survivor_structure(spark):
    from bicis_spark.extensions.dedup import semantic_dedup

    # two tight pairs + two isolates in 4-dim space
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.001, 0.0]),   # near-dup of 3
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, threshold=0.99, n_centroids_mod=2, train_iters=1
        ).collect()
    }
    # every vector appears exactly once
    assert set(out) == {1, 2, 3, 4, 5}
    # a dup's representative is a LOWER id in the SAME cluster
    for vid, r in out.items():
        if r["is_semantic_dup"]:
            assert r["dup_of"] < vid
            assert out[r["dup_of"]]["cluster_id"] == r["cluster_id"]
        else:
            assert r["dup_of"] is None
    # the two planted pairs dedup iff co-clustered (they must be: the
    # pair vectors are nearly identical, so identical max-cosine centroid)
    assert out[2]["is_semantic_dup"] and out[2]["dup_of"] == 1
    assert out[4]["is_semantic_dup"] and out[4]["dup_of"] == 3
    assert not out[5]["is_semantic_dup"]


def test_ivf_and_semdedup_seed_caps_bound_list_count(spark):
    """Scale contract for the constant-list-count caps (the PQ max_codes
    discipline applied to IVF/SemDeDup/sampling): with ids far past
    mod·L, every capped trainer uses exactly the first L qualifying seeds
    — the cluster labels ARE {1, 11, 21}, so a cap that drops the
    boundary seed 21 (``<`` for ``<=``) or admits 31 fails — while the
    uncapped mod-only rule keeps minting one list per mod ids. Also pins
    cap-is-no-op: below the boundary, capped and uncapped outputs are
    identical."""
    from bicis_spark.extensions.dedup import semantic_dedup, semantic_dedup_two_level
    from bicis_spark.extensions.sampling import cluster_balanced_sample
    from bicis_spark.extensions.similarity import ann_topk_ivf

    rows = [
        (i, [float(((i * 11 + d * 5) % 17) - 8) for d in range(8)])
        for i in range(1, 401)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def labels(out, col):
        return {r[0] for r in out.select(col).distinct().collect()}

    capped = {
        "semantic_dedup": labels(
            semantic_dedup(df, n_centroids_mod=10, train_iters=1, max_clusters=3),
            "cluster_id",
        ),
        "cluster_balanced_sample": labels(
            cluster_balanced_sample(
                df, n_centroids_mod=10, train_iters=1, max_clusters=3
            ),
            "cluster_id",
        ),
        "semantic_dedup_two_level": labels(
            semantic_dedup_two_level(df, super_mod=10, max_super=3, train_iters=1),
            "super_id",
        ),
    }
    release_tracked()
    # the seeds are the FIRST qualifying ids, boundary seed 21 included
    assert capped == {name: {1, 11, 21} for name in capped}
    uncapped_labels = (
        semantic_dedup(df, n_centroids_mod=10, train_iters=1)
        .select("cluster_id")
        .distinct()
        .count()
    )
    assert uncapped_labels > 3  # mod-only rule scales with N: the bug the cap closes

    queries = df.where(F.col("vec_id") % 100 == 0)
    below = df.where(F.col("vec_id") < 30)  # all ids under the cap boundary
    q_below = below.where(F.col("vec_id") % 7 == 0)
    a = ann_topk_ivf(
        below, q_below, k=3, n_centroids_mod=10, n_probe=2, train_iters=1
    ).collect()
    b = ann_topk_ivf(
        below,
        q_below,
        k=3,
        n_centroids_mod=10,
        n_probe=2,
        train_iters=1,
        max_lists=3,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # and capped IVF still returns k results per query on the full corpus
    full = ann_topk_ivf(
        df, queries, k=3, n_centroids_mod=10, n_probe=2, train_iters=1,
        max_lists=3,
    )
    per_q = {r["query_id"]: r["n"] for r in
             full.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert per_q and all(n == 3 for n in per_q.values())


def test_pq_rerank_recovers_exact_topk(spark):
    from bicis_spark.extensions.similarity import ann_topk_bruteforce, ann_topk_pq

    # 40 deterministic 8-dim vectors; with rerank covering the whole
    # corpus the PQ path must return EXACTLY the brute-force top-k
    rows = [
        (i, [float(((i * 7 + d * 13) % 19) - 9) for d in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") % 20 == 0)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_topk_bruteforce(df, queries, k=3).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_topk_pq(
            df,
            queries,
            k=3,
            n_subspaces=2,
            sub_dims=4,
            seed_mod=4,
            train_iters=1,
            rerank=39,
        ).collect()
    }
    assert pq == exact


def test_overwrite_partitions_dynamic_touches_only_written_days(spark, tmp_path):
    from bicis_spark.sources.io import overwrite_partitions_dynamic

    path = str(tmp_path / "part_table")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-02", 2, 20.0), ("2024-01-03", 3, 30.0)],
        "day string, id long, v double",
    )
    overwrite_partitions_dynamic(base, path, ["day"])
    # re-process ONLY day 2 with corrected values
    fix = spark.createDataFrame(
        [("2024-01-02", 2, 99.0)], "day string, id long, v double"
    )
    overwrite_partitions_dynamic(fix, path, ["day"])
    # partition-column type inference reads day back as DATE — stringify
    got = {
        (str(r["day"]), r["id"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    # day 2 replaced, days 1 and 3 untouched (static mode would drop them)
    assert got == {
        ("2024-01-01", 1): 10.0,
        ("2024-01-02", 2): 99.0,
        ("2024-01-03", 3): 30.0,
    }
    # conf restored after the write
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
    )


def test_importance_resample_shifts_toward_target(spark):
    """DSIR acceptance: a bucket absent from the target keeps nothing, a
    bucket whose weight clears the oversample cap keeps everything, and
    reported weights are the exact (t_b*C)/(c_b*T) ratios."""
    from bicis_spark.extensions.sampling import importance_resample

    # bucket 'hot': 2/4 of target but 2/8 of corpus -> weight 2.0 (cap: keep all)
    # bucket 'cold': 2/4 of target, 2/8 of corpus -> same; bucket 'none':
    # 4/8 of corpus, zero target mass -> weight 0 (drop all)
    rows = []
    i = 0
    for bucket, n, in_target in [("hot", 2, True), ("cold", 2, True), ("none", 4, False)]:
        for _ in range(n):
            rows.append((i, f"doc {i} text", bucket, in_target))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, bucket string, is_tgt boolean"
    )
    out = importance_resample(
        df, F.col("is_tgt"), ["bucket"], oversample_num=1, oversample_den=1
    ).collect()
    kept = {r["doc_id"] for r in out}
    # weight = (2*8)/(2*4) = 2.0 >= 1/k => every hot/cold doc passes any hash
    assert kept == {0, 1, 2, 3}
    assert all(abs(r["weight"] - 2.0) < 1e-12 for r in out)


def test_incremental_dedup_index_invariant(spark):
    """Survivors = new-batch docs unseen in the index, deduped min-id
    within batch; appending survivors' fingerprints reproduces the full-
    corpus exact_dedup winner set."""
    from bicis_spark.extensions.dedup import (
        exact_dedup,
        fingerprint_index,
        incremental_dedup,
    )

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    idx = fingerprint_index(old, ["text"])
    out = {r["doc_id"]: r["n_copies"] for r in incremental_dedup(new, idx, ["text"]).collect()}
    # beta is indexed (dropped); gamma deduped within batch to id 11 (2 copies)
    assert out == {11: 2, 13: 1}
    # invariant: old winners + survivors == exact dedup of the union corpus
    union_winners = {
        r["doc_id"] for r in exact_dedup(old.union(new), ["text"]).collect()
    }
    old_winners = {r["doc_id"] for r in exact_dedup(old, ["text"]).collect()}
    assert old_winners | set(out) == union_winners


def test_token_budget_allocation_sums_to_budget(spark, sf_dir):
    """Largest-remainder apportionment: allocations are integers, within 1
    of the real-valued quota, and sum EXACTLY to the budget."""
    from bicis_spark.plans.analytics_queries import (
        _TOKEN_BUDGET,
        token_budget_allocation,
    )

    rows = token_budget_allocation(spark, sf_dir).collect()
    total_tokens = sum(r["n_tokens"] for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) == _TOKEN_BUDGET
    for r in rows:
        exact = _TOKEN_BUDGET * r["n_tokens"] / total_tokens
        assert exact - 1 < r["alloc_tokens"] < exact + 1


def test_ewma_matches_reference_recursion(spark, sf_dir):
    """The array-fold EWMA equals the textbook recursion computed in a
    Python loop over the same (ts, event_id)-sorted series."""
    from bicis_spark.plans.analytics_queries import ewma_user_value
    from bicis_spark.sources.io import read_table
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: r for r in ewma_user_value(spark, sf_dir).collect()
    }
    ev = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in ev:
        series.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["value"])
        )
    for uid, rows in series.items():
        xs = [v for _, _, v in sorted(rows)]
        s = xs[0]
        for x in xs[1:]:
            s = 0.25 * x + 0.75 * s
        assert got[uid]["n_events"] == len(xs)
        assert got[uid]["ewma_value"] == s, uid  # bitwise: same op sequence


def test_importance_resample_oversample_monotone(spark):
    """Raising the oversample factor only ADDS documents (hash-threshold
    monotonicity — the property that makes rate changes reproducible)."""
    from pyspark.sql import functions as F

    from bicis_spark.extensions.sampling import importance_resample

    rows = [
        (i, f"document number {i} with text {i * 7 % 13}", "b" + str(i % 3), i % 4 == 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, bucket string, is_tgt boolean"
    )
    kept = {}
    for num, den in [(1, 4), (1, 2), (1, 1), (2, 1)]:
        out = importance_resample(
            df, F.col("is_tgt"), ["bucket"], oversample_num=num, oversample_den=den
        )
        kept[(num, den)] = {r["doc_id"] for r in out.collect()}
    assert kept[(1, 4)] <= kept[(1, 2)] <= kept[(1, 1)] <= kept[(2, 1)]


def test_importance_resample_null_buckets_count_in_totals(spark):
    """Target/corpus rows with NULL bucket values are excluded from the
    OUTPUT (no histogram row matches) but must still count in the C and T
    denominators — the oracle totals are plain COUNT(*). With 2 of 4
    target docs in a NULL bucket, bucket 'a' holds half the target mass,
    not all of it."""
    from pyspark.sql import functions as F

    from bicis_spark.extensions.sampling import importance_resample

    rows = [
        (0, "t zero", "a", True),
        (1, "t one", "a", True),
        (2, "t two", None, True),
        (3, "t three", None, True),
        (4, "c four", "a", False),
        (5, "c five", "a", False),
        (6, "c six", "b", False),
        (7, "c seven", "b", False),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, bucket string, is_tgt boolean"
    )
    out = importance_resample(
        df, F.col("is_tgt"), ["bucket"], oversample_num=1, oversample_den=1
    ).collect()
    # weight('a') = (t_b*C)/(c_b*T) = (2*8)/(4*4) = 1.0 — NOT 2.0 (which a
    # join-based T=2 undercount would produce); bucket 'b' has no target
    # mass and returns nothing; NULL-bucket docs never appear.
    assert {r["doc_id"] for r in out} <= {0, 1, 4, 5}
    assert all(r["weight"] == 1.0 for r in out)


def test_nanos_probe_cache_evicts_stale_fingerprints(tmp_path, spark):
    """In-place regeneration of a probed file replaces its cache entry
    (path-keyed) instead of accreting one entry per round."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bicis_spark.sources import io as io_mod
    from pyspark.sql.types import StructField, StructType, TimestampType

    path = str(tmp_path / "t.parquet")
    schema = StructType([StructField("ts", TimestampType())])
    tbl = pa.table({"ts": pa.array([0], type=pa.timestamp("us"))})
    before = len(io_mod._NANOS_PROBE_CACHE)
    pq.write_table(tbl, path)
    assert io_mod._nanos_ts_cols(path, schema) == frozenset()
    # regenerate in place with NANOS encoding: same path, new fingerprint
    import os
    import time

    time.sleep(0.01)
    pq.write_table(
        pa.table({"ts": pa.array([0], type=pa.timestamp("ns"))}), path
    )
    os.utime(path, ns=(time.time_ns(), time.time_ns()))
    assert io_mod._nanos_ts_cols(path, schema) == frozenset({"ts"})
    assert len(io_mod._NANOS_PROBE_CACHE) == before + 1  # replaced, not added


def _physical_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_new_query_plan_shapes(spark, sf_dir):
    """Scale-shape assertions for the late-round-4 queries: no cartesian
    products anywhere; nested-loop joins appear ONLY as the documented
    1-row broadcast attaches (never on a keyed join path)."""
    from bicis_spark.plans import queries as registry

    # Values are LOGICAL attach counts; the formatted explain prints each
    # operator twice (tree line + detail section), so the string count is
    # 2x. Every allowed BNLJ is a broadcast of a 1-row aggregate (the
    # documented bounded total-attach), never a keyed join path.
    expected_bnlj = {
        "pit_status_at_ship": 0,  # equi-keyed SCD2 join, interval residual
        "dedup_incremental_batch": 0,  # hash anti-join on fingerprints
        "q9_product_type_profit": 0,
        "q20_promotion_suppliers": 0,
        "next_event_training_examples": 0,
        "ewma_user_value": 0,
        "dsir_importance_resample": 2,  # 1-row totals x2 (build + attach)
        "q11_important_stock": 1,
        "token_budget_allocation": 1,
        "equidepth_quantity_buckets": 1,
        "hll_overlap_contract": 1,
        "ab_spend_ztest": 0,  # scalar pick via conditional agg, no attach
    }
    qs = registry.queries()
    for name, bnlj in expected_bnlj.items():
        plan = _physical_plan(qs[name](spark, sf_dir))
        assert plan.count("CartesianProduct") == 0, name
        assert plan.count("BroadcastNestedLoopJoin") == 2 * bnlj, (
            name,
            plan.count("BroadcastNestedLoopJoin"),
        )


def test_hash_split_null_key_matches_oracle(spark):
    """NULL keys must get the SAME split on both engines: concat_ws skips
    NULLs on Spark and DuckDB alike, so a NULL key hashes the bare salt.
    Pins the cross-engine agreement that `key || salt` (NULL-propagating)
    would break — the latent divergence found in the round-4 review."""
    import duckdb

    from bicis_spark.plans.analytics_queries import _hash_split, _hash_split_sql

    df = (
        spark.createDataFrame([(None,), (7,)], "k long")
        .select("k", _hash_split(F.col("k"), "split").alias("split"))
        .orderBy(F.col("k").asc_nulls_first())
    )
    spark_splits = [r["split"] for r in df.collect()]

    sql = _hash_split_sql("k", "split")
    oracle_splits = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {sql} FROM (SELECT NULL::BIGINT AS k UNION ALL SELECT 7) "
            "ORDER BY k NULLS FIRST"
        ).fetchall()
    ]
    assert spark_splits == oracle_splits
    # and the NULL-key row is deterministically assigned (md5('split')
    # first five hex digits 'eefec' -> 978410 % 1000 = 924 -> test), not
    # quarantined to a divergent branch
    assert spark_splits[0] == "test"


def test_hash_split_proportions_are_80_10_10():
    """The split rule must actually deliver its documented 80/10/10.
    A single md5 hex char mod 10 does NOT (hex chars '0'-'9','a'-'f' put
    12/16 of the mass below 8 → 75/12.5/12.5, the round-4 review find);
    five hex digits mod 1000 are uniform to within 1/1048. Checked in
    DuckDB via the oracle generator so the pinned rule is the shared one."""
    import duckdb

    from bicis_spark.plans.analytics_queries import _hash_split_sql

    expr = _hash_split_sql("CAST(i AS VARCHAR)", "prop")
    rows = duckdb.sql(
        f"SELECT {expr} AS split, count(*) AS c FROM range(100000) t(i) GROUP BY 1"
    ).fetchall()
    frac = {s: c / 100000 for s, c in rows}
    assert abs(frac["train"] - 0.80) < 0.01, frac
    assert abs(frac["validation"] - 0.10) < 0.005, frac
    assert abs(frac["test"] - 0.10) < 0.005, frac


def test_linear_text_classifier_edges(spark):
    """Known-score example plus the no-row edge cases: NULL text,
    empty text, and all-space text yield NO output row (no tokens), and a
    doc's score equals the hand-computed sum of its tokens' signed
    slot-weights."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.featurize import linear_text_classifier

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, None),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["score"], r["is_quality"])
        for r in linear_text_classifier(docs, "doc_id", "text").collect()
    }
    assert set(out) == {1}

    # replay doc 1 by hand through the same hash exprs
    import hashlib

    def w(tok):
        h = hashlib.md5(f"tok:{tok}".encode()).hexdigest()
        slot = int(h[:8], 16) % 64
        sign = 1 if int(h[8], 16) % 2 == 0 else -1
        return sign * ((slot % 7) - 3)

    want = 2 * w("alpha") + w("beta")
    assert out[1] == (want, want >= 0)


def test_linear_text_classifier_trained_weights(spark):
    """The trained-weights path scores with the provided slot weights;
    identity check: weights[s] = (s % 7) - 3 reproduces the default."""
    import pytest

    from bicis_spark.operators.featurize import linear_text_classifier

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma delta")],
        "doc_id long, text string",
    )
    default = sorted(
        map(tuple, linear_text_classifier(docs, "doc_id", "text").collect())
    )
    same = sorted(
        map(
            tuple,
            linear_text_classifier(
                docs, "doc_id", "text", weights=[(s % 7) - 3 for s in range(64)]
            ).collect(),
        )
    )
    assert default == same
    with pytest.raises(ValueError, match="n_buckets"):
        linear_text_classifier(docs, "doc_id", "text", weights=[1, 2, 3])


# ---------------------------------------------------------------------------
# Degenerate-input oracle parity: run registered query + its oracle SQL on
# staged adversarial tables the driver data never samples (NULL attribute
# runs, NULL merge conditions, empty tables). These pin the cross-engine
# corners found in the round-4 analytics review.
# ---------------------------------------------------------------------------


_PA_TYPES = {
    "long": "int64",
    "int": "int32",
    "double": "float64",
    "string": "string",
    "timestamp": "timestamp[us]",
}


def _stage_tables(spark, tables):
    """Write {name: (rows, schema)} as single-file naive-MICROS parquet in
    a temp dir laid out exactly like the driver testdata (Spark's own
    writer stamps isAdjustedToUTC=true, which DuckDB surfaces as
    TIMESTAMPTZ and breaks the comparison); returns (dir, duckdb con)."""
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = tempfile.mkdtemp(prefix="bicis_degenerate_")
    for name, (rows, schema) in tables.items():
        fields = []
        for part in schema.split(","):
            col, typ = part.strip().rsplit(" ", 1)
            fields.append(pa.field(col, _PA_TYPES[typ]))
        pa_schema = pa.schema(fields)
        cols = {
            f.name: [r[i] for r in rows] for i, f in enumerate(pa_schema)
        }
        papq.write_table(
            pa.Table.from_pydict(cols, schema=pa_schema), f"{d}/{name}.parquet"
        )
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{d}/{name}.parquet'"
        )
    return d, con


_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)
_CUSTOMER_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)


def test_merge_user_state_null_type_oracle_parity(spark):
    """A matched user whose incoming last_type is NULL must be KEPT and
    updated on both engines: SQL MERGE fires WHEN clauses only on TRUE,
    so the NULL delete condition must not delete (the engine coalesces;
    the oracle's NOT(...) must too, else NOT(NULL)=NULL drops the row)."""
    import shutil
    from datetime import datetime as DT

    from bicis_spark.plans.analytics_queries import _MERGE_SQL, merge_user_state
    from tests.oracle_utils import assert_oracle_match

    h1 = DT(2024, 1, 10)  # first half (< 2024-01-16)
    h2 = DT(2024, 1, 20)  # second half
    rows = [
        # u7: matched, incoming latest type NULL -> UPDATE (not delete)
        (1, h1, 7, "view", 0.0, "x"),
        (2, h2, 7, "view", 0.0, "x"),
        (3, DT(2024, 1, 21), 7, None, 0.0, "x"),
        # u8: matched, incoming latest type 'error' -> DELETE
        (4, h1, 8, "view", 0.0, "x"),
        (5, h2, 8, "error", 0.0, "x"),
        # u11: target-only -> kept
        (6, h1, 11, "click", 0.0, "x"),
        # u13: source-only -> inserted
        (7, h2, 13, "purchase", 0.0, "x"),
    ]
    d, con = _stage_tables(spark, {"events": (rows, _EVENTS_SCHEMA)})
    try:
        out = merge_user_state(spark, d)
        assert_oracle_match(out, con, _MERGE_SQL, "merge_user_state/null-type")
        got = {r["user_id"]: r for r in out.collect()}
        assert set(got) == {7, 11, 13}  # u8 deleted, u7 KEPT
        assert got[7]["last_type"] is None and got[7]["n_events"] == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_quality_expectations_empty_table_oracle_parity(spark):
    """Empty orders: every check must report 0 violations and passed=true
    on both engines (SQL sum() over zero rows is NULL — the oracle must
    coalesce it the way the engine does)."""
    import shutil

    from bicis_spark.plans.analytics_queries import (
        _QUALITY_SQL,
        quality_expectations,
    )
    from tests.oracle_utils import assert_oracle_match

    d, con = _stage_tables(
        spark,
        {"orders": ([], _ORDERS_SCHEMA), "customer": ([], _CUSTOMER_SCHEMA)},
    )
    try:
        out = quality_expectations(spark, d)
        assert_oracle_match(out, con, _QUALITY_SQL, "quality_expectations/empty")
        for r in out.collect():
            assert r["n_violations"] == 0 and r["passed"] is True, r
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pit_status_null_runs_oracle_parity(spark):
    """SCD2 version starts on NULL attribute values: statuses
    [O, NULL, NULL, F] must open a NULL version at its FIRST date (02-01),
    not drop it / reopen it mid-run — the NULL-unsafe `prev IS NULL OR
    status <> prev` formulation diverges from scd2_history here."""
    import shutil
    from datetime import datetime as DT

    from bicis_spark.plans.analytics_queries import _PIT_SQL, pit_status_at_ship
    from tests.oracle_utils import assert_oracle_match

    orders = [
        (1, 100, "O", 10.0, DT(2024, 1, 1), "p"),
        (2, 100, None, 10.0, DT(2024, 2, 1), "p"),
        (3, 100, None, 10.0, DT(2024, 3, 1), "p"),
        (4, 100, "F", 10.0, DT(2024, 4, 1), "p"),
    ]
    # one shipment inside each month; all on order 1 so the ship rows
    # resolve to customer 100 regardless of which order carried them
    def li(n, ship):
        return (1, 1, 1, n, 1.0, 1.0, 0.0, 0.0, "N", "O", ship)

    lineitem = [
        li(1, DT(2024, 1, 15)),
        li(2, DT(2024, 2, 15)),  # inside the dropped NULL version
        li(3, DT(2024, 3, 15)),
        li(4, DT(2024, 4, 15)),
    ]
    d, con = _stage_tables(
        spark,
        {
            "orders": (orders, _ORDERS_SCHEMA),
            "lineitem": (lineitem, _LINEITEM_SCHEMA),
        },
    )
    try:
        out = pit_status_at_ship(spark, d)
        assert_oracle_match(out, con, _PIT_SQL, "pit_status_at_ship/null-runs")
        got = {
            (r["status_at_ship"], r["l_returnflag"]): r["n_lines"]
            for r in out.collect()
        }
        # 01-15 -> O; 02-15 and 03-15 -> the NULL run; 04-15 -> F
        assert got == {("O", "N"): 1, (None, "N"): 2, ("F", "N"): 1}
    finally:
        shutil.rmtree(d, ignore_errors=True)


_DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def test_gopher_quality_adversarial_docs_oracle_parity(spark):
    """Gopher rule battery on inputs the synthetic corpus never samples:
    bulleted lists, ellipsis spam, '#'-heavy text, numeric-only words,
    stopword-free text, and a long clean doc that passes every rule.
    Both engines must agree bitwise on every signal, flag, and keep."""
    import shutil

    from bicis_spark.extensions.text import gopher_quality
    from bicis_spark.plans.extension_queries import gopher_quality_flags_q
    from bicis_spark.plans.queries import oracle_sql
    from tests.oracle_utils import assert_oracle_match

    clean = " ".join(
        ["the quick brown fox jumps with vigor over the lazy dog and"] * 6
    )  # 60 words, all alpha, 4 distinct gopher stopwords, mean len in [3,10]
    docs = [
        (1, clean, "en", "web", len(clean)),
        # every line bulleted -> bullet_ok false (frac 1.0 >= 0.9)
        (2, "\n".join(["- item one of the list"] * 5), "en", "web", 0),
        # every line ends '...' -> ellipsis_ok false; '...' also counts
        # into the symbol ratio
        (3, "\n".join(["to be continued..."] * 4), "en", "web", 0),
        # '#'-dense -> symbol_ok false
        (4, "# # # # # # # # the code of and", "en", "web", 0),
        # numeric words -> alpha_ok false
        (5, "1 2 3 4 5 6 7 8 9 10 11 12", "en", "web", 0),
        # zero gopher stopwords -> stopword_ok false
        (6, "alpha beta gamma delta epsilon zeta", "en", "web", 0),
        # single short word -> wc_ok false, mean_word_len ok boundary
        (7, "hi", "en", "web", 2),
    ]
    rows = [(i, t, l, s, n) for i, t, l, s, n in docs]
    d, con = _stage_tables(spark, {"documents": (rows, _DOCUMENTS_SCHEMA)})
    try:
        out = gopher_quality_flags_q(spark, d)
        assert_oracle_match(
            out, con, oracle_sql()["gopher_quality_flags"], "gopher/adversarial"
        )
        got = {r["doc_id"]: r for r in out.collect()}
        assert got[1]["keep"] is True
        assert got[2]["bullet_ok"] is False
        assert got[3]["ellipsis_ok"] is False and got[3]["symbol_ok"] is False
        assert got[4]["symbol_ok"] is False
        assert got[5]["alpha_ok"] is False
        assert got[6]["stopword_ok"] is False and got[6]["n_stop_distinct"] == 0
        assert got[7]["wc_ok"] is False
        assert all(not got[i]["keep"] for i in range(2, 8))
        # engine fn and registered query agree column-for-column
        assert out.columns == gopher_quality(
            out.sparkSession.createDataFrame(rows, _DOCUMENTS_SCHEMA)
        ).columns
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_c4_line_filter_edge_docs(spark):
    """Direct-function edges the registered query's augmentation always
    structures away: a doc whose every line is dropped (keep=false,
    cleaned_text=''), the >=3-sentence keep boundary, and quote-terminal
    lines. Engine vs hand-computed expectations."""
    from bicis_spark.extensions.curation import c4_line_filter

    rows = [
        # every line dropped: short, no terminal, boilerplate
        (1, "one two.\nno terminal punct here at all\nuses javascript on page."),
        # exactly 3 sentences after cleaning (boundary: keep=true)
        (2, "alpha beta gamma delta epsilon.\nthis line also has five words!"
            "\nand a third sentence right here?"),
        # 2 sentences only -> keep=false
        (3, "alpha beta gamma delta epsilon.\nsecond full line of words here."),
        # quote-terminal counts as a valid line end but not a sentence char
        (4, 'he said the words were "fine words indeed"\nshort one.'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    assert got[1]["n_lines_kept"] == 0 and got[1]["keep"] is False
    assert got[1]["cleaned_text"] == ""
    assert got[2]["n_lines_kept"] == 3
    assert got[2]["n_sentences"] == 3 and got[2]["keep"] is True
    assert got[3]["n_sentences"] == 2 and got[3]["keep"] is False
    # doc 4: quote-ended line kept, but zero ./!/? chars in it survive the
    # sentence floor only via the second line — which is too short
    assert got[4]["n_lines_kept"] == 1
    assert got[4]["n_sentences"] == 0 and got[4]["keep"] is False
    assert got[4]["cleaned_text"].endswith('"')


def test_incremental_agg_merge_law(spark):
    """merge(agg(base), delta) == agg(base ∪ delta) including keys only
    in the delta (insert path) and keys untouched by the delta."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.merge import incremental_agg_merge

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.5), ("b", 3.0)], "k string, v double"
    )
    delta = spark.createDataFrame(
        [("a", 4.0), ("c", 0.5)], "k string, v double"
    )
    base_agg = base.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
    )
    got = {
        r["k"]: (r["n"], float(r["s"]))
        for r in incremental_agg_merge(
            base_agg, delta, ["k"], count_col="n", sum_col="s", sum_src="v"
        ).collect()
    }
    assert got == {"a": (3, 7.5), "b": (1, 3.0), "c": (1, 0.5)}
