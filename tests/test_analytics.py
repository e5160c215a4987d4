"""Semantics tests for the round-3 analytics operators: ordered funnel,
cohort retention, gap fill + forward fill, quality expectations, CMS."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bicis_spark.operators.funnel import (
    cohort_retention,
    funnel_counts,
    funnel_step_times,
)
from bicis_spark.operators.quality import (
    check_foreign_key,
    check_predicates,
    check_unique,
)
from bicis_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    heavy_hitters_with_contract,
)
from bicis_spark.operators.timeseries import gap_fill_forward


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, kind string")


STEPS = lambda: [  # noqa: E731
    ("a", F.col("kind") == "a"),
    ("b", F.col("kind") == "b"),
    ("c", F.col("kind") == "c"),
]


def test_funnel_requires_strict_order(spark):
    ev = _events(
        spark,
        [
            # u1 completes a -> b -> c in order
            (1, _ts(1), "a"), (1, _ts(2), "b"), (1, _ts(3), "c"),
            # u2's b happens BEFORE its a: stops at step 1
            (2, _ts(5), "a"), (2, _ts(4), "b"),
            # u3's c ties u3's b exactly: strict > excludes it
            (3, _ts(1), "a"), (3, _ts(2), "b"), (3, _ts(2), "c"),
            # u4 never does step a: not in the funnel at all
            (4, _ts(1), "b"), (4, _ts(2), "c"),
        ],
    )
    got = {
        r["step_name"]: r["n_users"]
        for r in funnel_counts(ev, "user_id", "ts", STEPS()).collect()
    }
    assert got == {"a": 3, "b": 2, "c": 1}


def test_funnel_uses_first_qualifying_time(spark):
    # u1 has an early a; a later second a must not reopen the window:
    # b before the FIRST a fails even though it follows the second a.
    ev = _events(spark, [(1, _ts(3), "a"), (1, _ts(5), "a"), (1, _ts(4), "b")])
    times = funnel_step_times(ev, "user_id", "ts", STEPS()[:2]).collect()[0]
    assert times["t_a"] == _ts(3)
    assert times["t_b"] == _ts(4)  # 4 > 3: qualifies against the first a


def test_funnel_counts_monotonic(spark, sf_dir):
    from bicis_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    rows = (
        funnel_counts(
            ev,
            "user_id",
            "ts",
            [
                ("view", F.col("event_type") == "view"),
                ("click", F.col("event_type") == "click"),
                ("purchase", F.col("event_type") == "purchase"),
            ],
        )
        .orderBy("step")
        .collect()
    )
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert rows[0]["conv_from_first"] == 1.0


def test_cohort_offset_zero_is_full_retention(spark, sf_dir):
    """The qualifying event itself is activity in the cohort week, so every
    cohort's period_offset=0 cell retains 100%."""
    from bicis_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    out = cohort_retention(
        ev, "user_id", "ts", F.col("event_type") == "signup", "week"
    )
    zero = out.where(F.col("period_offset") == 0).collect()
    assert zero, "no offset-0 cells"
    for r in zero:
        assert r["n_active"] == r["n_cohort"]
        assert r["retention"] == 1.0
    # offsets never negative, retention never above 1
    assert out.where(
        (F.col("period_offset") < 0) | (F.col("retention") > 1.0)
    ).count() == 0


def test_cohort_monthly_offsets_are_calendar_exact(spark):
    """Calendar buckets have varying lengths, so offsets must come from
    months_between, not a fixed day divisor: Jan->Feb and Feb->Mar are
    both exactly 1 month apart even though they span 31 and 29 days."""
    import pytest

    rows = [
        (1, dt.datetime(2024, 1, 15), "signup"),
        (1, dt.datetime(2024, 2, 10), "view"),
        (1, dt.datetime(2024, 3, 31), "view"),
        (1, dt.datetime(2024, 12, 1), "view"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = cohort_retention(
        ev, "user_id", "ts", F.col("event_type") == "signup", "month"
    )
    offsets = sorted(r["period_offset"] for r in out.collect())
    assert offsets == [0, 1, 2, 11]

    with pytest.raises(ValueError, match="unsupported cohort bucket"):
        cohort_retention(
            ev, "user_id", "ts", F.col("event_type") == "signup", "hour"
        )


def test_gap_fill_forward(spark):
    obs = spark.createDataFrame(
        [
            ("x", _ts(1), 5, 10.0),
            ("x", _ts(4), 2, 7.0),  # hours 2 and 3 missing
            ("y", _ts(2), 1, 3.0),
        ],
        "k string, hour timestamp, n long, v double",
    )
    out = gap_fill_forward(
        obs, "k", "hour", zero_fill_cols=["n"], ffill_cols=["v"]
    )
    x = {r["hour"].hour: (r["n"], r["v"]) for r in out.where("k = 'x'").collect()}
    assert x == {1: (5, 10.0), 2: (0, 10.0), 3: (0, 10.0), 4: (2, 7.0)}
    y = {r["hour"].hour: (r["n"], r["v"]) for r in out.where("k = 'y'").collect()}
    assert y == {2: (1, 3.0)}  # single observed hour: grid is one cell


def test_quality_checks(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (2, None), (4, 3.0)], "id long, amt double"
    )
    parent = spark.createDataFrame([(1,), (2,)], "id long")
    preds = check_predicates(
        df,
        {
            "amt_positive": (F.col("amt") <= 0) | F.col("amt").isNull(),
            "id_small": F.col("id") > 100,
        },
    )
    got = {r["check"]: (r["n_rows"], r["n_violations"], r["passed"])
           for r in preds.collect()}
    assert got["amt_positive"] == (4, 2, False)
    assert got["id_small"] == (4, 0, True)

    uniq = check_unique(df, "id_unique", "id").collect()[0]
    assert (uniq["n_violations"], uniq["passed"]) == (1, False)

    fk = check_foreign_key(df, "id", parent, "id", "fk").collect()[0]
    assert (fk["n_rows"], fk["n_violations"], fk["passed"]) == (4, 1, False)


def test_interval_overlap_join(spark):
    from bicis_spark.operators.intervals import interval_overlap_join

    def iv(rows, id_name, s_name, e_name):
        return spark.createDataFrame(
            [(i, _ts(s, sm), _ts(e, em)) for i, (s, sm, e, em) in rows],
            f"{id_name} long, {s_name} timestamp, {e_name} timestamp",
        )

    left = iv(
        [
            (1, (1, 0, 5, 0)),   # spans many buckets
            (2, (10, 0, 10, 30)),
            (3, (20, 0, 20, 10)),
        ],
        "lid", "ls", "le",
    )
    right = iv(
        [
            (10, (2, 0, 3, 0)),   # inside lid=1 (shares several buckets)
            (11, (5, 0, 6, 0)),   # touches lid=1 endpoint: closed => overlap
            (12, (10, 31, 11, 0)),  # starts 1 min after lid=2 ends: no
            (13, (19, 0, 20, 0)),  # touches lid=3 start
        ],
        "rid", "rs", "re",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", width_s=3600
        ).collect()
    )
    # each pair exactly once despite multi-bucket sharing
    assert got == [(1, 10), (1, 11), (3, 13)]


def test_epoch_shuffle_deterministic_and_contiguous(spark):
    from bicis_spark.operators.shuffle_order import epoch_shuffle

    ids = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = epoch_shuffle(ids, "doc_id", epoch=1, n_shards=4)
    b = epoch_shuffle(ids.repartition(7), "doc_id", epoch=1, n_shards=4)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b  # partitioning-invariant
    # positions are 1..n contiguous within each shard
    by_shard = {}
    for doc_id, shard, pos in rows_a:
        by_shard.setdefault(shard, []).append(pos)
    assert len(by_shard) == 4
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # a different epoch produces a different order
    c = sorted(map(tuple, epoch_shuffle(ids, "doc_id", epoch=2, n_shards=4).collect()))
    assert c != rows_a


def test_pagerank_matches_reference_loop(spark):
    from bicis_spark.operators.graph import pagerank_fixed_point

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank_fixed_point(df, n_iter=5).collect()}

    # pure-python replay of the fixed-point recurrence
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    nodes = {n for e in edges for n in e}
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(5):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += rank[s] // outdeg[s]
        rank = {n: 150_000 + (85 * inflow[n]) // 100 for n in nodes}
    assert got == rank
    # node 4 has no inbound edges: settles at base
    assert got[4] == 150_000


def test_snapshot_diff_statuses(spark):
    from bicis_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),   # unchanged: dropped from output
         (2, "b", 20.0),   # null -> value: changed (null-safe compare)
         (3, "x", 30.0),   # string changed
         (5, "e", 50.0)],  # added; id=4 removed
        "id long, s string, v double",
    )
    got = {r["id"]: r["status"]
           for r in snapshot_diff(old, new, ["id"]).collect()}
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_encode_documents_oov_and_null(spark):
    from bicis_spark.extensions.text import encode_documents

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a zz"), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            encode_documents(docs, vocab_size=1).collect()}
    # vocab_size=1 keeps only 'a' (tf=3); 'b' and 'zz' are OOV (id 0)
    assert rows[1]["ids_str"] == "1 0 1"
    assert (rows[1]["n_tokens"], rows[1]["n_oov"]) == (3, 1)
    assert (rows[2]["n_tokens"], rows[2]["n_oov"]) == (2, 1)
    assert (rows[3]["n_tokens"], rows[3]["n_oov"], rows[3]["ids_str"]) == (0, 0, "")


def test_cms_never_underestimates(spark):
    rows = [(i % 7,) for i in range(500)] + [(99,)] * 300
    df = spark.createDataFrame(rows, "k long")
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    counters = cms_build(df, "k", depth=4, width=64)
    est = cms_estimate(counters, df.select("k").distinct(), "k", depth=4, width=64)
    for r in est.collect():
        assert r["cms_est"] >= exact[r["k"]], r

    hh = heavy_hitters_with_contract(df, "k", k=3, depth=4, width=64)
    got = hh.orderBy(F.desc("exact_n")).collect()
    assert got[0]["k"] == 99 and got[0]["exact_n"] == 300
    assert all(r["est_ge_exact"] for r in got)


def test_scd2_history_versions_and_intervals(spark):
    from bicis_spark.operators.scd import scd2_history

    rows = spark.createDataFrame(
        [
            # key 1: A A B A  -> versions A@1, B@3, A@4
            (1, "A", _ts(1), 10),
            (1, "A", _ts(2), 11),
            (1, "B", _ts(3), 12),
            (1, "A", _ts(4), 13),
            # key 2: single constant run -> one open version
            (2, "X", _ts(1), 20),
            (2, "X", _ts(9), 21),
            # key 3: equal timestamps, tiebreak decides order (31 < 32)
            (3, "P", _ts(5), 31),
            (3, "Q", _ts(5), 32),
        ],
        "k long, attr string, ts timestamp, uid long",
    )
    got = {
        (r["k"], r["version"]): r
        for r in scd2_history(rows, "k", "attr", "ts", "uid").collect()
    }
    assert len(got) == 3 + 1 + 2
    assert got[(1, 1)]["attr"] == "A" and got[(1, 1)]["valid_to"] == _ts(3)
    assert got[(1, 2)]["attr"] == "B" and got[(1, 2)]["valid_to"] == _ts(4)
    assert got[(1, 3)]["attr"] == "A" and got[(1, 3)]["is_current"]
    assert got[(2, 1)]["valid_from"] == _ts(1) and got[(2, 1)]["is_current"]
    # tie at _ts(5): uid order makes P the first version, closed at ts(5)
    assert got[(3, 1)]["attr"] == "P" and got[(3, 1)]["valid_to"] == _ts(5)
    assert got[(3, 2)]["attr"] == "Q" and got[(3, 2)]["is_current"]


def test_scd2_single_exchange_plan(spark, sf_dir):
    from bicis_spark.operators.scd import scd2_history
    from bicis_spark.sources.io import read_table

    df = scd2_history(
        read_table(spark, sf_dir, "orders"),
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# Grouped top-k via hash aggregation (operators/topk.py)
# ---------------------------------------------------------------------------


class TestTopkByGroupAgg:
    def _df(self, spark):
        rows = [
            # group 1: clear ordering
            (1, 10.0, 101), (1, 30.0, 102), (1, 20.0, 103), (1, 5.0, 104),
            # group 2: ties on the order column -> tiebreak ascending id
            (2, 7.0, 201), (2, 7.0, 202), (2, 7.0, 203), (2, 9.0, 204),
            # group 3: fewer rows than k
            (3, 1.0, 301),
        ]
        return spark.createDataFrame(rows, "g long, v double, id long")

    def test_matches_window_semantics(self, spark):
        from bicis_spark.operators.topk import topk_by_group_agg

        out = topk_by_group_agg(
            self._df(spark), ["g"], "v", "id", 2, ["id"]
        ).orderBy("g", "rank_in_group")
        got = [(r.g, r.rank_in_group, r.v, r.id) for r in out.collect()]
        assert got == [
            (1, 1, 30.0, 102), (1, 2, 20.0, 103),
            (2, 1, 9.0, 204), (2, 2, 7.0, 201),
            (3, 1, 1.0, 301),
        ]

    def test_salt_invariance(self, spark):
        from bicis_spark.operators.topk import topk_by_group_agg

        df = self._df(spark)
        a = topk_by_group_agg(df, ["g"], "v", "id", 3, ["id"], n_salts=1)
        b = topk_by_group_agg(df, ["g"], "v", "id", 3, ["id"], n_salts=32)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_ascending(self, spark):
        from bicis_spark.operators.topk import topk_by_group_agg

        out = topk_by_group_agg(
            self._df(spark), ["g"], "v", "id", 1, ["id"], descending=False
        )
        got = {r.g: r.v for r in out.collect()}
        assert got == {1: 5.0, 2: 7.0, 3: 1.0}

    def test_null_order_values_match_window_parity(self, spark):
        """Window parity for NULL order values: row_number DESC ranks
        NULLS LAST (so a NULL never displaces a real top-k row), ASC
        ranks them FIRST. Without the explicit null flag in the sort
        struct, array_sort put the NULL-keyed struct first and it stole
        rank 1 under descending."""
        from bicis_spark.operators.topk import topk_by_group_agg

        rows = [(1, 10.0, 1), (1, None, 2), (1, 9.0, 3)]
        df = spark.createDataFrame(rows, "g long, v double, id long")

        desc = topk_by_group_agg(df, ["g"], "v", "id", 2, ["id"])
        assert [(r.rank_in_group, r.v, r.id) for r in
                desc.orderBy("rank_in_group").collect()] == [
            (1, 10.0, 1), (2, 9.0, 3),
        ]
        asc = topk_by_group_agg(df, ["g"], "v", "id", 2, ["id"],
                                descending=False)
        assert [(r.rank_in_group, r.v, r.id) for r in
                asc.orderBy("rank_in_group").collect()] == [
            (1, None, 2), (2, 9.0, 3),
        ]


# ---------------------------------------------------------------------------
# Exact interval proration (operators/prorate.py)
# ---------------------------------------------------------------------------


class TestProrateDaily:
    def _df(self, spark):
        rows = [
            # 100.01 over 3 days -> 10001 cents: 3334, 3334, 3333
            (1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3), 100.01),
            # single-day interval keeps everything
            (2, dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 1), 55.55),
            # invalid: end before start -> dropped
            (3, dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 1), 10.0),
            # null amount -> dropped
            (4, dt.datetime(2024, 4, 1), dt.datetime(2024, 4, 2), None),
        ]
        return spark.createDataFrame(
            rows, "id long, start timestamp, end timestamp, amount double"
        )

    def test_largest_remainder_shares(self, spark):
        from bicis_spark.operators.prorate import prorate_daily

        out = prorate_daily(self._df(spark), "start", "end", "amount", ["id"])
        rows = sorted(
            (r.id, str(r.day), r.daily_cents) for r in out.collect()
        )
        assert rows == [
            (1, "2024-01-01", 3334),
            (1, "2024-01-02", 3334),
            (1, "2024-01-03", 3333),
            (2, "2024-02-01", 5555),
        ]

    def test_conservation_property(self, spark, sf_dir):
        """Every cent of every lineitem lands in exactly one daily share."""
        from bicis_spark.operators.prorate import prorate_daily
        from bicis_spark.sources.io import read_table

        li = read_table(spark, sf_dir, "lineitem").limit(500)
        orders = read_table(spark, sf_dir, "orders")
        iv = li.join(orders, li.l_orderkey == orders.o_orderkey)
        daily = prorate_daily(
            iv, "o_orderdate", "l_shipdate", "l_extendedprice",
            ["l_orderkey", "l_linenumber"],
        )
        # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
        # compare SUMS per key: every cent of every source row must land in
        # exactly one daily share (per-share spread is covered by the
        # synthetic-rows test above).
        per_item = daily.groupBy("l_orderkey", "l_linenumber").agg(
            F.sum("daily_cents").alias("got"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("day_index") == 0, F.col("n_days"))
            ).alias("n_days_sum"),
        )
        src = (
            iv.where(F.to_date("l_shipdate") >= F.to_date("o_orderdate"))
            .groupBy("l_orderkey", "l_linenumber")
            .agg(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).alias("want")
            )
        )
        joined = per_item.join(src, ["l_orderkey", "l_linenumber"]).collect()
        assert joined
        for r in joined:
            assert r.got == r.want, (r.l_orderkey, r.l_linenumber)
            assert r.n_rows == r.n_days_sum


# ---------------------------------------------------------------------------
# MERGE INTO (operators/merge.py)
# ---------------------------------------------------------------------------


class TestMergeInto:
    def _frames(self, spark):
        target = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k long, v string, n long",
        )
        source = spark.createDataFrame(
            [(2, "B", 2), (3, "DEL", 3), (5, "E", 5)],
            "k long, v string, n long",
        )
        return target, source

    def test_all_branches(self, spark):
        from bicis_spark.operators.merge import merge_into

        target, source = self._frames(spark)
        out = merge_into(
            target,
            source,
            key_cols=["k"],
            update_set={
                "v": F.col("s.v"),
                "n": F.col("t.n") + F.col("s.n"),
            },
            delete_cond=F.col("s.v") == "DEL",
            insert_values={
                "k": F.col("s.k"),
                "v": F.col("s.v"),
                "n": F.col("s.n"),
            },
        )
        rows = sorted(map(tuple, out.collect()))
        assert rows == [
            (1, "a", 10),   # unmatched target: kept as-is
            (2, "B", 22),   # matched: updated
            (4, "d", 40),   # unmatched target: kept
            (5, "E", 5),    # unmatched source: inserted
        ]  # k=3 matched the DELETE branch

    def test_no_insert_branch_drops_source_only(self, spark):
        from bicis_spark.operators.merge import merge_into

        target, source = self._frames(spark)
        out = merge_into(
            target, source, ["k"],
            update_set={"v": F.col("s.v"), "n": F.col("s.n")},
        )
        rows = sorted(map(tuple, out.collect()))
        assert rows == [
            (1, "a", 10), (2, "B", 2), (3, "DEL", 3), (4, "d", 40),
        ]

    def test_update_cond_gates_updates(self, spark):
        from bicis_spark.operators.merge import merge_into

        target, source = self._frames(spark)
        out = merge_into(
            target, source, ["k"],
            update_set={"v": F.col("s.v"), "n": F.col("s.n")},
            update_cond=F.col("s.n") > 2,
        )
        got = {r.k: (r.v, r.n) for r in out.collect()}
        assert got[2] == ("b", 20)  # update_cond false -> target kept
        assert got[3] == ("DEL", 3)  # update_cond true -> updated

    def test_output_schema_matches_target(self, spark):
        from bicis_spark.operators.merge import merge_into

        target, source = self._frames(spark)
        out = merge_into(
            target, source, ["k"],
            update_set={"n": F.col("s.n")},
        )
        assert out.schema == target.schema


class TestProrateDelta:
    def test_delta_equals_explode_plan(self, spark, sf_dir):
        """The O(intervals) difference-array totals must equal the
        O(interval-days) explode plan's totals row-for-row, negative
        amounts and single-day intervals included."""
        from bicis_spark.operators.prorate import (
            prorated_daily_totals,
            prorated_daily_totals_delta,
        )
        from bicis_spark.sources.io import read_table

        li = read_table(spark, sf_dir, "lineitem").limit(2000)
        orders = read_table(spark, sf_dir, "orders")
        iv = li.join(orders, li.l_orderkey == orders.o_orderkey)
        a = prorated_daily_totals(
            iv, "o_orderdate", "l_shipdate", "l_extendedprice",
            ["l_orderkey", "l_linenumber"],
        )
        b = prorated_daily_totals_delta(
            iv, "o_orderdate", "l_shipdate", "l_extendedprice"
        )
        ra = sorted((str(r.day), r.n_slices, r.total_cents) for r in a.collect())
        rb = sorted((str(r.day), r.n_slices, r.total_cents) for r in b.collect())
        assert ra == rb

    def test_delta_synthetic_negative_and_gaps(self, spark):
        from bicis_spark.operators.prorate import (
            prorated_daily_totals,
            prorated_daily_totals_delta,
        )

        rows = [
            (1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3), 100.01),
            (2, dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 10), -55.55),
            (3, dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 5), -0.07),
        ]
        df = spark.createDataFrame(
            rows, "id long, start timestamp, end timestamp, amount double"
        )
        a = prorated_daily_totals(df, "start", "end", "amount", ["id"])
        b = prorated_daily_totals_delta(df, "start", "end", "amount")
        ra = sorted((str(r.day), r.n_slices, r.total_cents) for r in a.collect())
        rb = sorted((str(r.day), r.n_slices, r.total_cents) for r in b.collect())
        assert ra == rb
        # the uncovered gap days (Jan 6-9) must NOT appear
        assert not any(d.startswith("2024-01-0") and d[-1] in "6789" for d, _, _ in rb)


class TestTriangleCount:
    def _count(self, spark, edges):
        from bicis_spark.operators.graph import triangle_count

        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df, "src", "dst").first()

    def test_k4_has_four_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._count(spark, k4)
        assert (r.n_vertices, r.n_edges, r.n_triangles) == (4, 6, 4)

    def test_square_has_none(self, spark):
        r = self._count(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
        assert (r.n_vertices, r.n_edges, r.n_triangles) == (4, 4, 0)

    def test_duplicate_reversed_and_self_edges_normalize(self, spark):
        edges = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 2)]
        r = self._count(spark, edges)
        assert (r.n_vertices, r.n_edges, r.n_triangles) == (3, 3, 1)


def test_pagerank_bipartite_matches_generic(spark):
    """pagerank_bipartite must be bit-identical to pagerank_fixed_point
    over the symmetrized edge set — same recurrence, different (cheaper)
    degree/vertex derivation; and broadcast_state must not change values."""
    from bicis_spark.operators.graph import pagerank_bipartite, pagerank_fixed_point
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(2 * s, 2 * p + 1) for s in range(1, 9) for p in range(1, 6) if (s * p) % 3],
        "a long, b long",
    ).distinct()
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    want = {
        (r["node"], r["rank_fp"]) for r in pagerank_fixed_point(edges, n_iter=3).collect()
    }
    for bcast in (True, False):
        got = {
            (r["node"], r["rank_fp"])
            for r in pagerank_bipartite(pairs, n_iter=3, broadcast_state=bcast).collect()
        }
        assert got == want


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: after two synchronous
    rounds with the (count DESC, min-label) tie-break, each triangle
    converges to its minimum id; the replay below is the exact recurrence
    so the test derives the expectation instead of hand-waving it."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.graph import label_propagation

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges, n_iter=2).collect()}

    # python replay of the same synchronous recurrence
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for a, b in und:
        nbrs[a].append(b)
        nbrs[b].append(a)
    lbl = {v: v for v in nbrs}
    for _ in range(2):
        new = {}
        for v in nbrs:
            c = Counter(lbl[u] for u in nbrs[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        lbl = new
    assert got == lbl
    # structural expectation: the two triangle cores agree on a label
    assert got[1] == got[2] and got[5] == got[6]


def test_kaplan_meier_matches_python_replay(spark):
    """KM curve vs a direct python replay on staged lifetimes, including
    ties (multiple subjects ending at the same bucket) and a single-event
    subject (lifetime 0)."""
    import datetime as dt

    from bicis_spark.operators.stats import kaplan_meier

    base = dt.datetime(2024, 1, 1)
    rows = []
    # lifetimes in hours: u1:0 (single event), u2:2, u3:2, u4:5
    for uid, hours in [(1, 0), (2, 2), (3, 2), (4, 5)]:
        rows.append((uid, base))
        if hours:
            rows.append((uid, base + dt.timedelta(hours=hours)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r["lifetime"]: (r["n_risk"], r["d"], r["survival"])
        for r in kaplan_meier(df, "user_id", "ts").collect()
    }
    lts = [0, 2, 2, 5]
    s, want = 1.0, {}
    for t in sorted(set(lts)):
        n = sum(1 for x in lts if x >= t)
        d = sum(1 for x in lts if x == t)
        s = s * ((n - d) / n)
        want[t] = (n, d, s)
    assert got == want
    assert got[5][2] == 0.0  # everyone churned by the last bucket


def test_cusum_detects_level_shift(spark):
    """A series flat at 10 then stepped to 14 must accumulate drift and
    flag after the shift; values match a python replay of the scaled
    recursion exactly (all-integer)."""
    import datetime as dt

    from bicis_spark.operators.timeseries import cusum_flags

    base = dt.datetime(2024, 1, 1)
    xs = [10] * 12 + [14] * 12
    rows = [("a", base + dt.timedelta(hours=i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, x long")
    got = {
        r["ts"]: (r["cusum_scaled"], r["flag"])
        for r in cusum_flags(df, "g", "ts", "x", threshold_per_point=1).collect()
    }
    n, s = len(xs), sum(xs)
    acc, want = 0, {}
    for i, x in enumerate(xs):
        acc = max(0, acc + x * n - s)
        want[base + dt.timedelta(hours=i)] = (acc, acc > n * 1)
    assert got == want
    assert not got[base + dt.timedelta(hours=11)][1]   # pre-shift: no flag
    assert got[base + dt.timedelta(hours=23)][1]       # post-shift: flagged


def test_frequent_itemsets_exact_counts(spark):
    """Staged baskets with known pair/triple supports, duplicate items
    within a basket (must dedup), and the mega-basket cap."""
    from bicis_spark.operators.itemsets import frequent_itemsets

    rows = [
        (1, "a"), (1, "b"), (1, "c"), (1, "a"),   # dup 'a' in basket 1
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "b"),
        (4, "x"), (4, "y"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    got = {
        (r["kind"], r["item_a"], r["item_b"], r["item_c"]): r["support"]
        for r in frequent_itemsets(df, "bk", "it", min_support=2).collect()
    }
    assert got == {
        ("pair", "a", "b", None): 3,
        ("pair", "a", "c", None): 2,
        ("pair", "b", "c", None): 2,
        ("triple", "a", "b", "c"): 2,
    }
    capped = frequent_itemsets(
        df, "bk", "it", min_support=2, max_items_per_basket=2
    ).collect()
    # only baskets 3 (a,b) and 4 (x,y) survive the cap -> no support-2 sets
    assert capped == []


def test_frequent_itemsets_basket_cap_counts_non_null_items(spark):
    """``max_items_per_basket`` counts distinct non-NULL items: a basket
    at exactly the cap plus one NULL item is kept, and NULL never enters
    an itemset."""
    from bicis_spark.operators.itemsets import frequent_itemsets

    rows = [
        (1, "a"), (1, "b"), (1, None),   # 2 items + NULL, cap 2: kept
        (2, "a"), (2, "b"),
        (3, None), (3, "a"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    got = frequent_itemsets(
        df, "bk", "it", min_support=1, max_items_per_basket=2
    ).collect()
    # basket 1 counted (a NULL-counting cap would drop it: support 1);
    # basket 3's NULL pairs with nothing
    assert [tuple(r) for r in got] == [("pair", "a", "b", None, 2)]


def test_seasonal_decompose_reconstruction_identity(spark):
    """trend + seasonal + residual must reconstruct x EXACTLY as the
    fixed expression order guarantees (x - trend - seasonal == residual
    bit-for-bit), and a pure 2-period square wave decomposes into
    seasonal means with zero residual wherever the trend window is
    balanced."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bicis_spark.operators.timeseries import seasonal_decompose_additive

    base = dt.datetime(2024, 1, 1)
    xs = [10, 20] * 24  # alternating even/odd hours
    rows = [("a", base + dt.timedelta(hours=i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, ts timestamp, x long")
    out = seasonal_decompose_additive(
        df, "g", "ts", "x", period_extract="hour", ma_radius=1
    ).collect()
    for r in out:
        # bitwise reconstruction identity (same op tree, no tolerance)
        assert (float(r["x"]) - r["trend"]) - r["seasonal"] == r["residual"]
    # interior points: ±1 window over (10,20,10) or (20,10,20) has mean
    # 40/3 or 50/3; seasonal mean is exactly x - grand; residual follows
    mid = [r for r in out if 0 < (r["ts"] - base).total_seconds() / 3600 < 47]
    assert all(abs(r["residual"]) < 4 for r in mid)


def test_fellegi_sunter_blocking_and_bands(spark):
    """Staged people: an exact near-duplicate scores 'link'; a same-block
    partial agreement scores 'possible'; cross-block pairs are never
    compared (blocking contract); non-link pairs are dropped by default
    and kept with keep_below_possible."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.linkage import fellegi_sunter_pairs

    rows = [
        (1, "ann smith", "X", 10),
        (2, "ann smyth", "X", 10),   # near-dup of 1 (lev 1, same seg)
        (3, "bob jones", "Y", 10),   # same block, disagrees on name+seg
        (4, "ann smith", "X", 99),   # other block: never paired with 1
    ]
    df = spark.createDataFrame(rows, "pid long, name string, seg string, blk long")
    comps = [
        ("name", lambda a, b: F.levenshtein(F.col(a + "name"), F.col(b + "name")) <= 1, 20, -10),
        ("seg", lambda a, b: F.col(a + "seg") == F.col(b + "seg"), 5, -5),
    ]
    got = {
        (r["id_a"], r["id_b"]): (r["score"], r["match_class"])
        for r in fellegi_sunter_pairs(
            df, "pid", [F.col("blk")], comps, link_threshold=20, possible_threshold=0
        ).collect()
    }
    assert got == {(1, 2): (25, "link")}
    everything = {
        (r["id_a"], r["id_b"]): r["match_class"]
        for r in fellegi_sunter_pairs(
            df, "pid", [F.col("blk")], comps, 20, 0, keep_below_possible=True
        ).collect()
    }
    assert everything == {
        (1, 2): "link",
        (1, 3): "non_link",
        (2, 3): "non_link",
    }  # pid 4 is in another block: no pair at all


def test_skyline_dominance_and_ties(spark):
    """Skyline vs a quadratic python reference on a staged set with an
    exact duplicate point (both must surface — equal pairs don't
    dominate each other) and an equal-price pair."""
    from bicis_spark.operators.stats import skyline_2d

    pts = [
        (1, 1.0, 5), (2, 1.0, 5),    # duplicates: both in skyline
        (3, 1.0, 3),                 # same price, smaller: dominated
        (4, 2.0, 7), (5, 2.0, 6),    # 4 on frontier, 5 dominated by 4
        (6, 3.0, 7),                 # dominated by 4 (cheaper, equal size)
        (7, 3.0, 9),
        (8, 4.0, 1),                 # dominated
    ]
    df = spark.createDataFrame(pts, "pid long, price double, size long")
    got = {r["pid"] for r in skyline_2d(df, "pid", "price", "size").collect()}
    want = set()
    for i, pi, si in pts:
        dominated = any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, pj, sj in pts
            if j != i
        )
        if not dominated:
            want.add(i)
    assert got == want == {1, 2, 4, 7}


def test_kmv_exhaustive_regime_is_exact(spark):
    """With fewer than k distinct keys the KMV sketch holds every hash
    and the estimate must equal the exact count; duplicates collapse."""
    from bicis_spark.operators.sketch import kmv_distinct_estimate

    df = spark.createDataFrame(
        [(i % 30,) for i in range(200)], "user_id long"
    )
    row = kmv_distinct_estimate(df, "user_id", k=128).first()
    assert row["exact_distinct"] == 30
    assert row["kmv_estimate"] == 30.0
    assert row["within_15pct"] is True


def test_kmv_estimation_regime_within_tolerance(spark):
    """Past k distinct keys the estimator kicks in; with k=128 the
    relative error on 5000 uniform keys should be well inside 15%."""
    from bicis_spark.operators.sketch import kmv_distinct_estimate

    df = spark.createDataFrame([(i,) for i in range(5000)], "user_id long")
    row = kmv_distinct_estimate(df, "user_id", k=128).first()
    assert row["exact_distinct"] == 5000
    assert abs(row["kmv_estimate"] - 5000) <= 0.15 * 5000
    assert row["within_15pct"] is True


def test_benford_audit_on_true_benford_sample(spark):
    """A geometric series (log-uniform mantissas) follows Benford almost
    exactly; a constant-leading-digit column maximally violates it."""
    from bicis_spark.operators.quality import benford_digit_audit

    # i < 100 keeps 1.5^i inside the operator's int64 audit domain
    vals = [(1.5 ** i,) for i in range(1, 100)]  # log-uniform mod 10
    good = benford_digit_audit(
        spark.createDataFrame(vals, "v double"), "v"
    ).collect()
    assert sum(r["n_rows"] for r in good) == 99
    assert max(r["abs_dev"] for r in good) < 0.03
    bad_rows = benford_digit_audit(
        spark.createDataFrame([(9000.0 + i,) for i in range(100)], "v double"),
        "v",
    ).collect()
    nine = next(r for r in bad_rows if r["digit"] == 9)
    assert nine["obs_share"] == 1.0 and nine["abs_dev"] > 0.9


def test_mutual_information_rank_orders_features(spark):
    """A feature identical to the label carries H(Y) bits; an independent
    constant feature carries ~0; a noisy copy sits in between."""
    import math

    from pyspark.sql import functions as F

    from bicis_spark.operators.featurize import mutual_information_rank

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(400)]
    df = spark.createDataFrame(rows, "i long, y string")
    got = {
        r["feature"]: r
        for r in mutual_information_rank(
            df,
            "y",
            {
                "copy": F.col("y"),
                "const": F.lit("k"),
                "noisy": F.when(F.col("i") % 8 < 6, F.col("y")).otherwise(
                    F.lit("z")
                ),
            },
        ).collect()
    }
    assert abs(got["copy"]["mi_bits"] - 1.0) < 1e-4  # H(Y)=1 bit, 50/50
    assert abs(got["const"]["mi_bits"]) < 1e-4
    assert 0.3 < got["noisy"]["mi_bits"] < 1.0
    assert got["copy"]["n_cells"] == 2 and got["const"]["n_cells"] == 2


def test_naive_bayes_learns_predictive_feature(spark):
    """With a feature that equals the label, NB must classify every test
    row correctly (confusion matrix is diagonal); with only a constant
    feature, every row gets the majority class."""
    from pyspark.sql import functions as F

    from bicis_spark.operators.featurize import naive_bayes_confusion

    rows = [(i, "pos" if i % 3 == 0 else "neg") for i in range(600)]
    df = spark.createDataFrame(rows, "k long, y string")
    diag = naive_bayes_confusion(
        df, "y", {"copy": F.col("y"), "const": F.lit("c")}, key_col="k"
    ).collect()
    assert all(r["actual"] == r["predicted"] for r in diag)
    assert sum(r["n_rows"] for r in diag) > 0
    majority = naive_bayes_confusion(
        df, "y", {"const": F.lit("c")}, key_col="k"
    ).collect()
    assert {r["predicted"] for r in majority} == {"neg"}  # 2/3 majority


def test_decision_stump_finds_separating_threshold(spark):
    """A perfectly separable dataset (label flips at value 100) must put
    the maximal gain — exactly H(Y) — at threshold 100, and near-zero
    gain at far-away thresholds."""
    from bicis_spark.operators.featurize import decision_stump_gains

    rows = [(float(v), "lo" if v < 100 else "hi") for v in range(0, 200)]
    df = spark.createDataFrame(rows, "v double, y string")
    got = {
        r["threshold"]: r
        for r in decision_stump_gains(df, "v", "y", width=50, n_buckets=4).collect()
    }
    assert set(got) == {50, 100, 150}
    best = got[100]
    assert best["n_left"] == 100 and best["n_right"] == 100
    assert abs(best["ig_bits"] - 1.0) < 1e-4  # 50/50 labels: H(Y) = 1 bit
    assert got[100]["ig_q"] > got[50]["ig_q"]
    assert got[100]["ig_q"] > got[150]["ig_q"]


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    """The 95% interval must bracket the full-data mean for a well-
    behaved sample, tighten with n, and be identical across runs."""
    from bicis_spark.operators.stats import bootstrap_mean_ci

    rows = [(i, float(i % 100)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, v double")
    r1 = bootstrap_mean_ci(df, "v", "k").first()
    assert r1["n_rows"] == 5000
    assert abs(r1["mean"] - 49.5) < 1e-9
    assert r1["ci_lo"] < r1["mean"] < r1["ci_hi"]
    assert r1["ci_hi"] - r1["ci_lo"] < 4.0  # ~2*1.96*28.9/sqrt(5000) ≈ 1.6
    r2 = bootstrap_mean_ci(df, "v", "k").first()
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])


def test_kmv_merge_law_holds_on_disjoint_and_overlapping_parts(spark):
    """Merged per-partition sketches must equal the direct sketch whether
    partitions overlap in keys or not."""
    from bicis_spark.operators.sketch import kmv_merge_law

    rows = [(i % 700, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, p string")
    r = kmv_merge_law(df, "k", "p", k=64).first()
    assert r["n_parts"] == 2
    assert r["merge_law_holds"] is True
    assert r["merged_estimate"] == r["direct_estimate"]


def test_weighted_quantiles_exact_semantics(spark):
    """Two-pass bucketed weighted quantiles vs a direct python replay of
    the definition min{v : cumweight(v)*den >= num*tot}, including a tie
    (duplicate value rows whose weights merge), a boundary hit where
    cumweight*den == num*tot exactly, and a dominant-weight value that
    absorbs several quantiles. Tiny n_buckets forces multi-value buckets
    so the pass-2 within-bucket selection is actually exercised."""
    from bicis_spark.operators.stats import weighted_quantiles

    rows = [(10, 1), (20, 3), (20, 1), (30, 2), (40, 9), (50, 4)]
    df = spark.createDataFrame(rows, "v LONG, w LONG")
    got = {
        r["quantile"]: (r["q_num"], r["q_den"], r["value_cents"])
        for r in weighted_quantiles(df, "v", "w", n_buckets=4).collect()
    }

    merged = {}
    for v, w in rows:
        merged[v] = merged.get(v, 0) + w
    tot = sum(merged.values())
    for label, num, den in [
        ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
        ("p90", 9, 10), ("p99", 99, 100),
    ]:
        cw = 0
        expect = None
        for v in sorted(merged):
            cw += merged[v]
            if cw * den >= num * tot:
                expect = v
                break
        assert got[label] == (num, den, expect), label
    # pinned values: tot=20 → p25 rank 5 lands exactly on the 20-tie
    # boundary (cw=5 == 20*1/4), p90 inside the dominant 40 run
    assert got["p25"][2] == 20
    assert got["p50"][2] == 40
    assert got["p90"][2] == 50  # cw(40)=16 < 18 = ceil(0.9·20) → next value
    assert got["p99"][2] == 50


def test_weighted_quantiles_degenerate_single_value(spark):
    """All rows share one value (span 1 → a single bucket): every
    quantile returns that value; zero/negative weights are dropped."""
    from bicis_spark.operators.stats import weighted_quantiles

    df = spark.createDataFrame(
        [(7, 5), (7, 3), (7, 0), (7, -2)], "v LONG, w LONG"
    )
    out = weighted_quantiles(df, "v", "w").collect()
    assert len(out) == 5
    assert all(r["value_cents"] == 7 for r in out)


def test_bfs_hops_min_distance_and_early_exit(spark):
    """Frontier BFS on a staged graph: min-hop wins when two paths reach
    the same vertex, unreachable vertices are absent, and the loop's
    early exit (frontier drains at depth 2 < max_hops=4) still returns
    the full visited set. Undirected edges passed as both directions."""
    from bicis_spark.operators.graph import bfs_hops

    #   1 - 2 - 3        (seed = 1)
    #   1 - 4            4 also reaches 3 via 4-3: two paths to 3, both d=2
    #   5 - 6            disconnected
    und = [(1, 2), (2, 3), (1, 4), (4, 3), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src LONG, dst LONG"
    )
    seeds = spark.createDataFrame([(1,)], "v LONG")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=4).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_depth_cap(spark):
    """max_hops truncates a long chain: with a 5-vertex path and
    max_hops=2 only the first three vertices appear."""
    from bicis_spark.operators.graph import bfs_hops

    chain = [(i, i + 1) for i in range(1, 5)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src LONG, dst LONG"
    )
    seeds = spark.createDataFrame([(1,)], "v LONG")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_grouped_weighted_quantile_per_group_replay(spark):
    """Per-group lower weighted median vs a python replay: groups with
    tied values (weights merge), a one-value group, and weight skew.
    Also checks the q_num/q_den generalization at p75."""
    from bicis_spark.operators.stats import grouped_weighted_quantile

    rows = [
        ("a", 10, 1), ("a", 20, 3), ("a", 20, 1), ("a", 30, 5),
        ("b", 7, 4),
        ("c", 1, 1), ("c", 2, 1), ("c", 3, 1), ("c", 4, 1),
    ]
    df = spark.createDataFrame(rows, "g STRING, v LONG, w LONG")

    def replay(num, den):
        out = {}
        for g in {r[0] for r in rows}:
            merged = {}
            for gg, v, w in rows:
                if gg == g:
                    merged[v] = merged.get(v, 0) + w
            tot = sum(merged.values())
            cw = 0
            for v in sorted(merged):
                cw += merged[v]
                if cw * den >= num * tot:
                    out[g] = (v, tot)
                    break
        return out

    for num, den in [(1, 2), (3, 4)]:
        got = {
            r["g"]: (r["value_cents"], r["total_weight"])
            for r in grouped_weighted_quantile(
                df, ["g"], "v", "w", num, den
            ).collect()
        }
        assert got == replay(num, den), (num, den)
    # pinned: group a tot=10, median rank 5 → cw(20)=5 hits exactly
    assert replay(1, 2)["a"] == (20, 10)


def test_interval_union_coverage_merge_rules(spark):
    """Merge semantics vs hand-computed coverage: overlapping intervals
    merge, touching ([1,2) + [2,3)) merge per half-open semantics,
    disjoint stay separate, nested absorb, exact duplicates collapse."""
    import datetime as dt

    from bicis_spark.operators.intervals import interval_union_coverage

    def t(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    rows = [
        # u1: [0,10) + [5,15) overlap -> [0,15); [20,30) disjoint
        (1, t(0), t(10)), (1, t(5), t(15)), (1, t(20), t(30)),
        # u2: touching [0,10) + [10,20) -> one [0,20)
        (2, t(0), t(10)), (2, t(10), t(20)),
        # u3: nested [0,30) absorbs [5,10); duplicate [0,30) collapses
        (3, t(0), t(30)), (3, t(5), t(10)), (3, t(0), t(30)),
    ]
    df = spark.createDataFrame(rows, "k LONG, s TIMESTAMP, e TIMESTAMP")
    got = {
        r["k"]: (r["n_intervals"], r["coverage_us"])
        for r in interval_union_coverage(df, "k", "s", "e").collect()
    }
    minute_us = 60_000_000
    assert got == {
        1: (2, 25 * minute_us),
        2: (1, 20 * minute_us),
        3: (1, 30 * minute_us),
    }


def test_table_checksum_properties(spark):
    """Checksum invariants: order-invariant (shuffled replica matches),
    multiset-sensitive (a duplicated row CHANGES the digest — the XOR
    failure mode), NULL distinct from empty string, and length-prefixing
    defeats field-boundary ambiguity ('ab'+'c' vs 'a'+'bc')."""
    from bicis_spark.operators.sketch import table_checksum

    rows = [("g", "ab", "c"), ("g", "x", None), ("h", "", "z")]
    df = spark.createDataFrame(rows, "k STRING, a STRING, b STRING")

    def digest(data):
        frame = spark.createDataFrame(data, "k STRING, a STRING, b STRING")
        return {
            r["k"]: (r["n_rows"], r["checksum"])
            for r in table_checksum(frame, ["k"], ["a", "b"]).collect()
        }

    base = digest(rows)
    assert base == digest(list(reversed(rows)))                      # order
    dup = digest(rows + [("g", "ab", "c")])
    assert dup["g"][0] == 3 and dup["g"][1] != base["g"][1]          # multiset
    assert digest([("h", "", "z")]) != digest([("h", None, "z")])    # NULL
    assert digest([("g", "ab", "c")])["g"] != digest([("g", "a", "bc")])["g"]


def test_mode_impute_tiebreak_and_all_null_group(spark):
    """Mode fill semantics: most-frequent wins, exact count ties go to
    the SMALLEST value, a key whose values are all NULL stays NULL, and
    non-null rows pass through untouched."""
    from bicis_spark.operators.featurize import mode_impute

    rows = [
        (1, "b"), (1, "b"), (1, "a"), (1, None),    # mode b
        (2, "z"), (2, "y"), (2, None),              # tie z/y -> y (smallest)
        (3, None), (3, None),                       # no signal: stays NULL
    ]
    df = spark.createDataFrame(rows, "k LONG, v STRING")
    got = sorted(
        (r["k"], r["v"]) for r in mode_impute(df, "k", "v").collect()
    )
    assert got == sorted(
        [(1, "b"), (1, "b"), (1, "a"), (1, "b"),
         (2, "z"), (2, "y"), (2, "y"),
         (3, None), (3, None)]
    )
