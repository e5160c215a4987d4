"""Hypothesis property tests (SURVEY.md §5.3): dialect mapping is total
over header case/whitespace permutations; timestamp parse round-trips
formatting; duration parser matches the reference grammar."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bicis_spark.functions.parsing import (
    parse_duration_seconds,
    parse_timestamp_multi,
)
from bicis_spark.operators.unify import FIELDS_V1, normalize_dialect

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

timestamps = st.datetimes(
    min_value=dt.datetime(2000, 1, 1), max_value=dt.datetime(2030, 12, 31)
).map(lambda d: d.replace(microsecond=0))


@given(ts=timestamps, fmt_idx=st.integers(0, 2))
@SETTINGS
def test_parse_round_trips_format(spark, ts, fmt_idx):
    """X1∘X3 identity: format then parse restores the timestamp (seconds
    resolution for the minute-format, which truncates)."""
    spark_fmts = ["dd/MM/yyyy HH:mm", "dd/MM/yyyy HH:mm:ss", "yyyy-MM-dd HH:mm:ss.SSSSSS"]
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    out = df.select(
        parse_timestamp_multi(
            F.date_format("ts", spark_fmts[fmt_idx])
        ).alias("parsed")
    ).first()
    expected = ts.replace(second=0) if fmt_idx == 0 else ts
    assert out["parsed"] == expected


@given(h=st.integers(0, 23), m=st.integers(0, 59), s=st.integers(0, 59))
@SETTINGS
def test_duration_hms_grammar(spark, h, m, s):
    df = spark.createDataFrame([(f"{h}H {m}MIN {s}SEG",)], "d string")
    out = df.select(parse_duration_seconds(F.col("d")).alias("secs")).first()
    assert out["secs"] == h * 3600 + m * 60 + s


@given(minutes=st.integers(0, 10_000))
@SETTINGS
def test_duration_integer_means_minutes(spark, minutes):
    df = spark.createDataFrame([(str(minutes),)], "d string")
    out = df.select(parse_duration_seconds(F.col("d")).alias("secs")).first()
    assert out["secs"] == minutes * 60


def test_duration_rejects_signed_padded_and_oversized(spark):
    """Reference-parity edge cases: isdigit() rejects signed/padded
    strings ('-15' must be NULL, not −900 s), and an oversized token
    yields NULL per the null-on-failure contract instead of an ANSI
    overflow crash."""
    rows = [("-15",), ("+5",), (" 5 ",), ("9" * 25,),
            (f"{'9' * 25}H 0MIN 0SEG",), ("12",)]
    df = spark.createDataFrame(rows, "d string")
    got = {
        r["d"]: r["secs"]
        for r in df.select(
            "d", parse_duration_seconds(F.col("d")).alias("secs")
        ).collect()
    }
    assert got == {
        "-15": None, "+5": None, " 5 ": None,
        "9" * 25: None, f"{'9' * 25}H 0MIN 0SEG": None, "12": 720,
    }


@given(
    casing=st.lists(st.booleans(), min_size=5, max_size=5),
    pad=st.sampled_from(["", " ", "  "]),
)
@SETTINGS
def test_dialect_mapping_total_over_header_variants(spark, casing, pad):
    """P1: header matching is case/whitespace-insensitive and total —
    any case/pad variant of a known header maps to the canonical column."""
    headers = ["ORIGENFECHA", "NOMBREORIGEN", "DESTINOFECHA", "NOMBREDESTINO", "TIEMPOUSO"]
    varied = [
        (h.lower() if flip else h) + pad for h, flip in zip(headers, casing)
    ]
    row = ("1/2/2011 10:30", "A", "1/2/2011 10:55", "B", "25")
    raw = spark.createDataFrame([row], varied)
    out = normalize_dialect(raw, FIELDS_V1)
    assert set(out.columns) == {"rent_date", "rent_station", "return_date", "return_station"}
    assert out.count() == 1


doc_corpora = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=1, max_size=40).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(texts=doc_corpora, chunk=st.integers(1, 7))
@SETTINGS
def test_chunking_conserves_tokens(spark, texts, chunk):
    """Chunks partition every document's token stream exactly: sizes sum
    to the token count, no chunk exceeds the limit, rebuild == original."""
    from bicis_spark.extensions.curation import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=chunk).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in enumerate(texts):
        toks = text.split(" ")
        rs = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        assert sum(r["n_chunk_tokens"] for r in rs) == len(toks)
        assert all(r["n_chunk_tokens"] <= chunk for r in rs)
        assert " ".join(r["chunk_text"] for r in rs) == text


@given(texts=doc_corpora, seq=st.integers(1, 9))
@SETTINGS
def test_packing_offsets_contiguous(spark, texts, seq):
    """Within a shard, each doc starts exactly where the previous ended
    (concat-and-chunk): start/end seqs and offsets are the running token
    cumsum in disguise."""
    from bicis_spark.extensions.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, t, f"s{i % 2}") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    rows = sorted(pack_sequences(df, seq_tokens=seq).collect(),
                  key=lambda r: (r["shard"], r["doc_id"]))
    cum: dict[str, int] = {}
    for r in rows:
        start = cum.get(r["shard"], 0)
        assert r["start_seq"] == start // seq
        assert r["start_offset"] == start % seq
        end = start + r["n_tokens"]
        assert r["end_seq"] == (end - 1) // seq
        cum[r["shard"]] = end


# ---------------------------------------------------------------------------
# Round-3b operator properties: top-k plan equivalence, proration
# conservation, merge partition law
# ---------------------------------------------------------------------------

_topk_rows = st.lists(
    st.tuples(
        st.integers(0, 3),            # group
        st.integers(-100, 100),       # order value (ties likely)
        st.integers(0, 10_000),       # unique id source
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[2],
)


@given(rows=_topk_rows, k=st.integers(1, 4))
@SETTINGS
def test_topk_agg_equals_window_plan(spark, rows, k):
    """The salted hash-agg top-k must equal the row_number window plan on
    arbitrary grouped data, including order-value ties."""
    from pyspark.sql import Window

    from bicis_spark.operators.topk import topk_by_group_agg

    df = spark.createDataFrame(rows, "g long, v long, id long")
    got = {
        (r.g, r.rank_in_group, r.v, r.id)
        for r in topk_by_group_agg(
            df, ["g"], "v", "id", k, ["id"], n_salts=4
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    want = {
        (r.g, r.rn, r.v, r.id)
        for r in df.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .collect()
    }
    assert got == want


_intervals = st.lists(
    st.tuples(
        st.integers(0, 10_000),                 # id source (unique)
        st.integers(0, 400),                    # start day offset
        st.integers(0, 60),                     # interval length - 1
        st.integers(-10_000_00, 10_000_00),     # amount in cents
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: r[0],
)


@given(ivs=_intervals)
@SETTINGS
def test_prorate_conserves_and_bounds_spread(spark, ivs):
    """Largest-remainder proration: per-interval shares sum EXACTLY to the
    rounded cents, cover every day once, and differ by at most one cent —
    for any amounts (negative included) and interval lengths."""
    from bicis_spark.operators.prorate import prorate_daily

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=s), base + dt.timedelta(days=s + n),
         cents / 100.0)
        for (i, s, n, cents) in ivs
    ]
    df = spark.createDataFrame(
        rows, "id long, start timestamp, end timestamp, amount double"
    )
    out = prorate_daily(df, "start", "end", "amount", ["id"]).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r)
    assert set(by_id) == {i for (i, _, _, _) in ivs}
    for (i, s, n, cents) in ivs:
        shares = by_id[i]
        assert len(shares) == n + 1
        assert sum(x.daily_cents for x in shares) == round(cents / 100.0 * 100)
        assert max(x.daily_cents for x in shares) - min(
            x.daily_cents for x in shares
        ) <= 1
        days = sorted(x.day for x in shares)
        assert days == [
            (dt.datetime(2024, 1, 1) + dt.timedelta(days=s + j)).date()
            for j in range(n + 1)
        ]


_merge_keys = st.lists(st.integers(0, 15), min_size=0, max_size=10, unique=True)


@given(t_keys=_merge_keys, s_keys=_merge_keys, del_mod=st.integers(2, 5))
@SETTINGS
def test_merge_into_partition_law(spark, t_keys, s_keys, del_mod):
    """MERGE output == (unmatched target) ∪ (matched minus deleted, updated)
    ∪ (unmatched source inserts) — the three-way partition law, for any key
    overlap pattern and delete predicate."""
    from bicis_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(k, k * 10) for k in t_keys], "k long, n long"
    ) if t_keys else spark.createDataFrame([], "k long, n long")
    source = spark.createDataFrame(
        [(k, k * 100) for k in s_keys], "k long, n long"
    ) if s_keys else spark.createDataFrame([], "k long, n long")
    out = merge_into(
        target, source, ["k"],
        update_set={"n": F.col("t.n") + F.col("s.n")},
        delete_cond=F.col("s.k") % del_mod == 0,
        insert_values={"k": F.col("s.k"), "n": F.col("s.n")},
    )
    got = {(r.k, r.n) for r in out.collect()}
    ts_, ss_ = set(t_keys), set(s_keys)
    want = (
        {(k, k * 10) for k in ts_ - ss_}
        | {(k, k * 110) for k in ts_ & ss_ if k % del_mod != 0}
        | {(k, k * 100) for k in ss_ - ts_}
    )
    assert got == want


# ---------------------------------------------------------------------------
# Point-in-time SCD2 lookup vs a per-row reference (round 4)
# ---------------------------------------------------------------------------

_pit_events = st.lists(
    st.tuples(
        st.integers(1, 3),                       # key
        st.sampled_from(["O", "F", "P", None]),  # status (None: a NULL
        # attribute version must survive change detection — null-safe SCD2)
        st.integers(0, 20),                      # day ordinal
    ),
    min_size=1,
    max_size=12,
)
_pit_probes = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 21)), min_size=1, max_size=10
)


@given(events=_pit_events, probes=_pit_probes)
@SETTINGS
def test_pit_lookup_matches_reference(spark, events, probes):
    """The SCD2 interval join returns exactly the status a per-row scan of
    the ordered change history would: the version whose [valid_from,
    valid_to) half-open interval contains the probe time, or nothing for
    probes before the key's first event."""
    import datetime as dt

    from bicis_spark.operators.scd import scd2_history

    base = dt.datetime(2020, 1, 1)
    rows = [
        (k, s, base + dt.timedelta(days=d), i)
        for i, (k, s, d) in enumerate(events)
    ]
    src = spark.createDataFrame(
        rows, "o_custkey long, o_orderstatus string, o_orderdate timestamp, o_orderkey long"
    )
    dim = scd2_history(
        src,
        key_col="o_custkey",
        attr_col="o_orderstatus",
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    )
    probes = sorted(set(probes))  # duplicate probes would collapse in `got`
    probe_rows = [
        (k, base + dt.timedelta(days=d, hours=1)) for k, d in probes
    ]
    pr = spark.createDataFrame(probe_rows, "k long, t timestamp")
    got = {
        (r["k"], r["t"]): r["o_orderstatus"]
        for r in pr.join(
            dim,
            (pr.k == dim.o_custkey)
            & (dim.valid_from <= pr.t)
            & (dim.valid_to.isNull() | (pr.t < dim.valid_to)),
        ).collect()
    }
    # reference: walk each key's (date, orderkey)-ordered run-compressed
    # history; the probe's status is the last change at or before t
    hist: dict[int, list] = {}
    for k, s, d, i in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        runs = hist.setdefault(k, [])
        if not runs or runs[-1][1] != s:
            runs.append((d, s))
    for (k, t) in [(k, base + dt.timedelta(days=d, hours=1)) for k, d in probes]:
        expect = None
        for d, s in hist.get(k, []):
            if d <= t:
                expect = s
        assert got.get((k, t)) == expect, (k, t, hist.get(k))
    # exactly one version matches any probed time (intervals partition)
    assert len(got) == sum(
        1
        for k, d in probes
        if hist.get(k) and hist[k][0][0] <= base + dt.timedelta(days=d, hours=1)
    )


_snap_vals = st.lists(
    st.tuples(st.integers(0, 12), st.one_of(st.none(), st.integers(0, 3))),
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(old_rows=_snap_vals, new_rows=_snap_vals)
@SETTINGS
def test_snapshot_diff_matches_reference(spark, old_rows, new_rows):
    """snapshot_diff == the dict-based reference partition for ANY overlap
    pattern, including NULL payloads on either side (null-safe compare:
    NULL -> NULL is unchanged, NULL -> value is changed)."""
    from bicis_spark.operators.snapshot import snapshot_diff

    old = (
        spark.createDataFrame(old_rows, "k long, v long")
        if old_rows
        else spark.createDataFrame([], "k long, v long")
    )
    new = (
        spark.createDataFrame(new_rows, "k long, v long")
        if new_rows
        else spark.createDataFrame([], "k long, v long")
    )
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    o, n = dict(old_rows), dict(new_rows)
    want = {}
    for k in o.keys() | n.keys():
        if k not in o:
            want[k] = "added"
        elif k not in n:
            want[k] = "removed"
        elif o[k] != n[k]:
            want[k] = "changed"
    assert got == want


_series = st.lists(
    st.tuples(
        st.integers(0, 1),            # key
        st.integers(0, 48),           # hour offset
        st.one_of(st.none(), st.integers(1, 9)),  # observed value (nullable)
    ),
    min_size=1,
    max_size=15,
    unique_by=lambda t: (t[0], t[1]),
)


@given(obs=_series)
@SETTINGS
def test_gap_fill_forward_matches_reference(spark, obs):
    """Dense grid spans each key's [min, max] hour with no gaps; zero-fill
    and last-observation-carried-forward match a pure-Python replay —
    including NULL observed values (ffill must carry PAST them)."""
    import datetime as dtm

    from bicis_spark.operators.timeseries import gap_fill_forward

    base = dtm.datetime(2024, 1, 1)
    rows = [
        (k, base + dtm.timedelta(hours=h), 1, v) for k, h, v in obs
    ]
    df = spark.createDataFrame(rows, "k long, hour timestamp, n long, v long")
    got = {
        (r["k"], r["hour"]): (r["n"], r["v"])
        for r in gap_fill_forward(df, "k", "hour", ["n"], ["v"]).collect()
    }
    # reference replay
    want = {}
    by_key: dict[int, dict] = {}
    for k, h, v in obs:
        by_key.setdefault(k, {})[h] = v
    for k, seen in by_key.items():
        last = None
        for h in range(min(seen), max(seen) + 1):
            ts = base + dtm.timedelta(hours=h)
            if h in seen:
                if seen[h] is not None:
                    last = seen[h]
                want[(k, ts)] = (1, last)
            else:
                want[(k, ts)] = (0, last)
    assert got == want


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=30, unique=True),
    epoch=st.integers(0, 3),
    n_shards=st.integers(1, 4),
)
@SETTINGS
def test_epoch_shuffle_is_a_sharded_permutation(spark, ids, epoch, n_shards):
    """Every row appears once; positions within a shard are exactly
    1..count(shard); the whole assignment is reproducible (two runs agree
    bit-for-bit) — the zero-RNG contract."""
    from bicis_spark.operators.shuffle_order import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out1 = epoch_shuffle(df, "id", epoch, n_shards).collect()
    out2 = epoch_shuffle(df.repartition(3), "id", epoch, n_shards).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert {r["id"] for r in out1} == set(ids)
    by_shard: dict[int, list] = {}
    for r in out1:
        assert 0 <= r["shard"] < n_shards
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


_iv_side = st.lists(
    st.tuples(
        st.integers(0, 10_000),  # id source (unique)
        st.integers(0, 500),     # start second
        st.integers(0, 120),     # duration seconds
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(lhs=_iv_side, rhs=_iv_side, width=st.sampled_from([1, 7, 60, 300]))
@SETTINGS
def test_interval_overlap_join_matches_quadratic_reference(
    spark, lhs, rhs, width
):
    """The bucketed equi-join + owner-bucket dedup must return EXACTLY the
    closed-interval overlap pairs of the naive quadratic reference — each
    pair once — for any bucket width (wider or narrower than the
    intervals; the dedup rule is what makes multi-bucket co-occurrence
    safe)."""
    import datetime as dtm

    from bicis_spark.operators.intervals import interval_overlap_join

    base = dtm.datetime(2024, 1, 1)
    mk = lambda s: base + dtm.timedelta(seconds=s)
    lrows = [(i, mk(s), mk(s + d)) for i, s, d in lhs]
    rrows = [(i, mk(s), mk(s + d)) for i, s, d in rhs]
    l = (
        spark.createDataFrame(lrows, "l_id long, l_s timestamp, l_e timestamp")
        if lrows
        else spark.createDataFrame([], "l_id long, l_s timestamp, l_e timestamp")
    )
    r = (
        spark.createDataFrame(rrows, "r_id long, r_s timestamp, r_e timestamp")
        if rrows
        else spark.createDataFrame([], "r_id long, r_s timestamp, r_e timestamp")
    )
    got = sorted(
        (row["l_id"], row["r_id"])
        for row in interval_overlap_join(
            l, r, "l_s", "l_e", "r_s", "r_e", width_s=width
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, ls, ld in lhs
        for ri, rs, rd in rhs
        if ls <= rs + rd and rs <= ls + ld
    )
    assert got == want


@given(
    lhs=_iv_side,
    rhs=_iv_side,
    lookback=st.sampled_from([1, 30, 120]),
    bucket=st.sampled_from([None, 7, 60]),
)
@SETTINGS
def test_range_join_lookback_matches_quadratic_reference(
    spark, lhs, rhs, lookback, bucket
):
    """Bucketized lookback join == naive quadratic reference for any
    lookback/bucket combination: all (left, right) same-key pairs with
    right_ts in [left_ts - lookback, left_ts], closed on both ends."""
    import datetime as dtm

    from bicis_spark.operators.rangejoin import range_join_lookback

    base = dtm.datetime(2024, 1, 1)
    mk = lambda s: base + dtm.timedelta(seconds=s)
    # reuse the interval strategy: id -> (key = id % 2, ts = start second)
    lrows = [(i, i % 2, mk(s)) for i, s, _ in lhs]
    rrows = [(i + 100_000, (i % 2), mk(s)) for i, s, _ in rhs]
    l = (
        spark.createDataFrame(lrows, "l_id long, l_k long, l_ts timestamp")
        if lrows
        else spark.createDataFrame([], "l_id long, l_k long, l_ts timestamp")
    )
    r = (
        spark.createDataFrame(rrows, "r_id long, r_k long, r_ts timestamp")
        if rrows
        else spark.createDataFrame([], "r_id long, r_k long, r_ts timestamp")
    )
    got = sorted(
        (row["l_id"], row["r_id"])
        for row in range_join_lookback(
            l, r, "l_ts", "r_ts", "l_k", "r_k", lookback, bucket
        ).collect()
    )
    want = sorted(
        (li, ri + 100_000)
        for li, ls, _ in lhs
        for ri, rs, _ in rhs
        if li % 2 == ri % 2 and ls - lookback <= rs <= ls
    )
    assert got == want


_funnel_events = st.lists(
    st.tuples(
        st.integers(0, 4),                 # user
        st.integers(0, 50),                # ts second
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=30,
)


@given(events=_funnel_events)
@SETTINGS
def test_funnel_counts_match_reference(spark, events):
    """Ordered-funnel counts == a pure-Python strictly-after replay, for
    arbitrary event interleavings (repeat steps, out-of-order users,
    missing steps). Counts must be monotonically non-increasing."""
    import datetime as dtm

    from bicis_spark.operators.funnel import funnel_counts

    base = dtm.datetime(2024, 1, 1)
    rows = [
        (u, base + dtm.timedelta(seconds=s), t) for u, s, t in events
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    got = {
        r["step_name"]: r["n_users"]
        for r in funnel_counts(df, "user_id", "ts", steps).collect()
    }
    # reference: per user, first view; first click strictly after it;
    # first purchase strictly after that
    want = {"view": 0, "click": 0, "purchase": 0}
    by_user: dict[int, list] = {}
    for u, s, t in events:
        by_user.setdefault(u, []).append((s, t))
    for evs in by_user.values():
        evs.sort()
        t_view = min((s for s, t in evs if t == "view"), default=None)
        if t_view is None:
            continue
        want["view"] += 1
        t_click = min((s for s, t in evs if t == "click" and s > t_view), default=None)
        if t_click is None:
            continue
        want["click"] += 1
        if any(t == "purchase" and s > t_click for s, t in evs):
            want["purchase"] += 1
    assert got == want
    assert got["view"] >= got["click"] >= got["purchase"]


_cohort_events = st.lists(
    st.tuples(
        st.integers(0, 5),      # user
        st.integers(0, 90),     # day offset
        st.booleans(),          # qualifies for cohort entry
    ),
    min_size=1,
    max_size=30,
)


@given(events=_cohort_events, bucket=st.sampled_from(["day", "week", "month"]))
@SETTINGS
def test_cohort_retention_matches_reference(spark, events, bucket):
    """Cohort matrix == a pure-Python replay for day/week/month buckets:
    cohort = bucket of first QUALIFYING event; a user is retained in every
    bucket >= their cohort bucket where they have ANY event; offsets count
    whole buckets between bucket starts."""
    import datetime as dtm

    from bicis_spark.operators.funnel import cohort_retention

    base = dtm.datetime(2024, 1, 1)
    rows = [
        (u, base + dtm.timedelta(days=d), q) for u, d, q in events
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, q boolean")
    got = {
        (r["cohort_bucket"], r["period_offset"]): (r["n_active"], r["n_cohort"])
        for r in cohort_retention(
            df, "user_id", "ts", F.col("q"), bucket=bucket
        ).collect()
    }

    def trunc(d: dtm.datetime) -> dtm.datetime:
        if bucket == "day":
            return d.replace(hour=0)
        if bucket == "week":
            return (d - dtm.timedelta(days=d.weekday())).replace(hour=0)
        return d.replace(day=1, hour=0)

    def offset(c: dtm.datetime, a: dtm.datetime) -> int:
        if bucket == "day":
            return (a - c).days
        if bucket == "week":
            return (a - c).days // 7
        return (a.year - c.year) * 12 + (a.month - c.month)

    first: dict[int, dtm.datetime] = {}
    for u, d, q in events:
        if q:
            ts = base + dtm.timedelta(days=d)
            if u not in first or ts < first[u]:
                first[u] = ts
    cohort_of = {u: trunc(ts) for u, ts in first.items()}
    cells: dict[tuple, set] = {}
    for u, d, _ in events:
        if u not in cohort_of:
            continue
        a = trunc(base + dtm.timedelta(days=d))
        if a >= cohort_of[u]:
            cells.setdefault((cohort_of[u], offset(cohort_of[u], a)), set()).add(u)
    sizes: dict[dtm.datetime, int] = {}
    for u, c in cohort_of.items():
        sizes[c] = sizes.get(c, 0) + 1
    want = {
        (c, o): (len(users), sizes[c]) for (c, o), users in cells.items()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abcdef ", min_size=1, max_size=20),
        min_size=1,
        max_size=20,
    ),
    r1=st.integers(0, 1000),
    r2=st.integers(0, 1000),
)
@SETTINGS
def test_stratified_sample_rate_monotonicity(spark, texts, r1, r2):
    """The classic hash-sampling property the docstring promises: raising
    a stratum's rate only ever GROWS the kept set (a document's bucket
    never changes), and rate 1000/1000 keeps everything."""
    from bicis_spark.extensions.sampling import stratified_sample

    lo, hi = sorted((r1, r2))
    df = spark.createDataFrame(
        [(i, t, "x") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    kept_lo = {
        r["doc_id"] for r in stratified_sample(df, "lang", {"x": lo}).collect()
    }
    kept_hi = {
        r["doc_id"] for r in stratified_sample(df, "lang", {"x": hi}).collect()
    }
    assert kept_lo <= kept_hi
    kept_all = {
        r["doc_id"] for r in stratified_sample(df, "lang", {"x": 1000}).collect()
    }
    assert kept_all == set(range(len(texts)))


_edges = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=25,
)


@given(edges=_edges)
@settings(
    max_examples=8,  # each example runs a multi-round distributed loop
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_match_union_find(spark, edges):
    """Min-label propagation == a pure-Python union-find on arbitrary
    graphs (self-loops, duplicate edges, multiple components): every node
    labeled by the smallest node id reachable from it."""
    from bicis_spark.extensions.dedup import connected_components_min_label

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_min_label(df, "a", "b").collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for a, b in edges:
        union(a, b)
    want = {}
    for v in parent:
        r = find(v)
        want[v] = min(u for u in parent if find(u) == r)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),      # key
            st.integers(0, 20),     # ts
            st.integers(-100, 100), # payload
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(1, 29), max_size=3, unique=True),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_upsert_fold_is_batch_boundary_invariant(spark, rows, cuts):
    """streaming/sinks.upsert_step: folding ANY partition of the event
    list through the merge equals the global argmax per key — the claim
    that makes the foreachBatch sink's final state independent of how the
    stream was batched. (event_id = list index: unique, so (ts, event_id)
    totally orders every key's rows.)"""
    from bicis_spark.streaming.sinks import upsert_step

    schema = "event_id long, k long, ts long, v long"
    data = [(i, k, ts, v) for i, (k, ts, v) in enumerate(rows)]

    bounds = sorted({c for c in cuts if c < len(data)}) + [len(data)]
    state = None
    lo = 0
    for hi in bounds:
        if hi <= lo:
            continue
        batch = spark.createDataFrame(data[lo:hi], schema)
        state = upsert_step(state, batch, ["k"], ["ts", "event_id"])
        lo = hi
    got = sorted(map(tuple, state.collect()))

    # pure-Python replay: max (ts, event_id) per key
    best = {}
    for eid, k, ts, v in data:
        if k not in best or (ts, eid) > (best[k][2], best[k][0]):
            best[k] = (eid, k, ts, v)
    # upsert_step output column order: key first, then remaining
    want = sorted((k, eid, ts, v) for (eid, k, ts, v) in best.values())
    assert got == want


def _holt_py(xs):
    if len(xs) == 1:
        return xs[0]
    l, b = xs[1], xs[1] - xs[0]
    for x in xs[2:]:
        nl = 0.5 * x + 0.5 * (l + b)
        nb = 0.5 * (nl - l) + 0.5 * b
        l, b = nl, nb
    return l + b


def _hw_py(xs, m=24):
    n = len(xs)
    if n < 2 * m:
        return None
    s1 = xs[0]
    for x in xs[1:m]:
        s1 += x
    s2 = xs[m]
    for x in xs[m + 1 : 2 * m]:
        s2 += x
    l = s1 / 24.0
    b = (s2 / 24.0 - s1 / 24.0) / 24.0
    s = [x - s1 / 24.0 for x in xs[:m]]
    t = m
    for x in xs[m:]:
        j = t % m
        nl = 0.5 * (x - s[j]) + 0.5 * (l + b)
        nb = 0.25 * (nl - l) + 0.75 * b
        s[j] = 0.25 * (x - nl) + 0.75 * s[j]
        l, b, t = nl, nb, t + 1
    return l + b + s[n % m]


@given(
    vals=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False).map(lambda v: round(v, 3)),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_smoothing_folds_match_python_replay(spark, vals):
    """The Holt and Holt-Winters Spark folds are bitwise-equal to direct
    Python replays of the recursions over the same ordered series —
    pinning the engine side independently of the DuckDB oracle (which
    has its own replay). Covers the n=1 Holt degenerate and the <2m
    Holt-Winters NULL."""
    import datetime as dt

    from bicis_spark.plans.analytics_queries import (
        holt_forecast_user_value,
        holt_winters_forecast_user_value,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), 7, "view", v, None)
        for i, v in enumerate(vals)
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="bicis_smoothing_prop_")
    # match the driver layout: MICROS, not Spark's INT96 writer default
    # (read_table's footer probe reads typed timestamps)
    prior = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        src.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prior)

    holt = holt_forecast_user_value(spark, d).collect()[0]
    assert holt["holt_forecast"] == _holt_py(vals)

    hw = holt_winters_forecast_user_value(spark, d).collect()[0]
    assert hw["hw_forecast"] == _hw_py(vals)

    import shutil

    shutil.rmtree(d, ignore_errors=True)


@given(
    dialect_i=st.integers(0, 3),
    order_seed=st.randoms(use_true_random=False),
    case_mask=st.lists(st.integers(0, 2), min_size=8, max_size=8),
    pad=st.sampled_from(["", " ", "\t"]),
    n_junk=st.integers(0, 2),
)
@SETTINGS
def test_dialect_mapping_total_over_header_permutations(
    spark, dialect_i, order_seed, case_mask, pad, n_junk
):
    """SURVEY §5.3 'mapper is total over header permutations/case', all
    four dialects: any column ORDER, any per-header case mangling
    (upper/lower/title), any padding, with junk columns interleaved, must
    map every raw value to its canonical column — checked by VALUE, not
    just by shape. The invariant across dialects: rent 10:30, return
    10:55 (given for v1-v3, derived from the 25-minute duration for v4),
    stations SA/SB."""
    import datetime as dt

    from bicis_spark.operators.unify import (
        FIELDS_V1,
        FIELDS_V2,
        FIELDS_V3,
        FIELDS_V4,
        normalize_dialect,
    )

    dialect = [FIELDS_V1, FIELDS_V2, FIELDS_V3, FIELDS_V4][dialect_i]
    canon_value = {
        "rent_date": "1/2/2011 10:30",
        "return_date": "1/2/2011 10:55",
        "rent_station": "SA",
        "return_station": "SB",
        "duration": "25",
    }
    cols = [(src, canon_value[dst]) for src, dst in dialect.mapping.items()]
    for j in range(n_junk):
        cols.append((f"junk_{j}", "zzz"))
    order_seed.shuffle(cols)

    def mangle(h: str, mode: int) -> str:
        return [h.upper(), h.lower(), h.title()][mode] + pad

    headers = [mangle(h, case_mask[i % len(case_mask)]) for i, (h, _) in enumerate(cols)]
    values = tuple(v for _, v in cols)
    raw = spark.createDataFrame([values], headers)
    out = normalize_dialect(raw, dialect).collect()
    assert len(out) == 1
    r = out[0]
    assert r["rent_station"] == "SA"
    assert r["return_station"] == "SB"
    assert r["rent_date"] == dt.datetime(2011, 2, 1, 10, 30)
    assert r["return_date"] == dt.datetime(2011, 2, 1, 10, 55)


def test_hw_capped_equals_python_replay_of_prefix(spark):
    """holt_winters_forecast_capped == the HW fold over the FIRST cap
    values of each user's sorted series: bitwise vs the Python replay on
    the truncated prefix, with n_events reporting the capped length. A
    150-point series exercises cap < n (the hot-user path the bound
    exists for); a 30-point series pins the n < 2m NULL gate through the
    cap."""
    import datetime as dt
    import shutil
    import tempfile

    from bicis_spark.plans.analytics_queries import (
        _HW_CAP,
        holt_winters_forecast_capped_q,
    )

    series = {
        1: [float((i * 13) % 37) - 11.0 for i in range(150)],
        2: [float(i % 9) for i in range(30)],
        # exactly 2m events: the n >= 2m gate boundary (mutation-harness
        # blind spot at driver SFs — per-user counts there are 49-88, so
        # no natural user sits on 48) — seed-only fold, non-NULL forecast
        3: [float((i * 7) % 23) for i in range(48)],
    }
    rows = []
    eid = 0
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                    uid,
                    "view",
                    v,
                    None,
                )
            )
            eid += 1
    src = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp(prefix="bicis_hw_cap_")
    prior = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        src.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    try:
        out = {
            r["user_id"]: r
            for r in holt_winters_forecast_capped_q(spark, d).collect()
        }
        assert out[1]["n_events"] == _HW_CAP  # 150 capped to 64 (_HW_CAP)
        assert out[1]["hw_forecast"] == _hw_py(series[1][:_HW_CAP])
        assert out[2]["n_events"] == 30
        assert out[2]["hw_forecast"] is None  # below the 2m seed gate
        assert out[3]["n_events"] == 48
        assert out[3]["hw_forecast"] == _hw_py(series[3])  # == boundary seeds
    finally:
        shutil.rmtree(d, ignore_errors=True)


_STATIONS = ("A", "B", "C")
_lag_profiles = st.dictionaries(
    st.tuples(st.sampled_from(_STATIONS), st.integers(0, 23)),  # sparse hours
    st.tuples(
        st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
        st.one_of(st.none(), st.floats(0, 100, allow_nan=False)),
    ),
    max_size=30,
)
_lag_events = st.lists(
    st.tuples(
        st.sampled_from(_STATIONS + ("UNKNOWN", None)),
        st.one_of(st.none(), st.integers(0, 24 * 3 - 1)),  # hour ordinal
    ),
    min_size=1,
    max_size=12,
)


@given(
    profile=_lag_profiles,
    events=_lag_events,
    hour_type=st.sampled_from(["int", "bigint"]),
    window_size=st.sampled_from([1, 24, 30]),
)
@SETTINGS
def test_circular_lag_features_match_reference(
    spark, profile, events, hour_type, window_size
):
    """W3: lag i of an event at hour h is the station's profile value at
    hour (h - 1 - i) mod 24, or 0.0 when that hour, its value or the whole
    station is absent; events with a NULL station or ts are dropped."""
    from bicis_spark.operators.features import circular_lag_features

    base = dt.datetime(2024, 1, 1)
    prof = spark.createDataFrame(
        [(s, h, r, v) for (s, h), (r, v) in profile.items()],
        f"station string, hour {hour_type}, n_rents double, n_returns double",
    )
    ev = spark.createDataFrame(
        [
            (i, s, None if o is None else base + dt.timedelta(hours=o, minutes=7))
            for i, (s, o) in enumerate(events)
        ],
        "id long, station string, ts timestamp",
    )
    out = circular_lag_features(ev, prof, "station", "ts", "id", window_size)
    names = [f"{m}_{i}_hb" for m in ("n_rents", "n_returns") for i in range(window_size)]
    assert out.columns == ["id", *names]
    got = {r["id"]: [r[n] for n in names] for r in out.collect()}

    want = {}
    for i, (s, o) in enumerate(events):
        if s is None or o is None:
            continue
        h = o % 24
        want[i] = [
            profile.get((s, (h - 1 - k) % 24), (None, None))[slot] or 0.0
            for slot in (0, 1)
            for k in range(window_size)
        ]
    assert got == want
