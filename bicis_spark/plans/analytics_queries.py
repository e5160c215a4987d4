"""Declared queries for the round-3 analytics operators: ordered funnels,
cohort retention, time-series gap fill + forward fill, declarative data-
quality expectations, and sketch accuracy contracts (count-min, HLL).

The reference's analytics surface is per-station pandas aggregation
(bicis/etl/basic_features.py chained filters, notebook resample/fillna);
these queries generalize that to the standard large-scale analytics
battery, Spark-first. Oracle determinism follows the repo rules: integer
arithmetic or exact DECIMAL sums everywhere, int/int double divisions
(bitwise-identical IEEE ops on both engines), explicit BIGINT casts on
every DuckDB aggregate (the UNION-branch HUGEINT lesson from rounds 1-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bicis_spark.caching import tracked_persist

from bicis_spark.extensions.text import doc_cosine_topk, encode_documents
from bicis_spark.operators.bloom import bloom_semi_join
from bicis_spark.operators.featurize import hashed_features, scale_features
from bicis_spark.operators.funnel import cohort_retention, funnel_counts
from bicis_spark.operators.graph import pagerank_bipartite
from bicis_spark.operators.intervals import interval_overlap_join
from bicis_spark.operators.shuffle_order import epoch_shuffle
from bicis_spark.operators.skew import key_skew_profile
from bicis_spark.operators.snapshot import snapshot_diff
from bicis_spark.operators.quality import (
    check_foreign_key,
    check_predicates,
    check_unique,
)
from bicis_spark.operators.sketch import heavy_hitters_with_contract
from bicis_spark.operators.timeseries import gap_fill_forward
from bicis_spark.plans.queries import register
from bicis_spark.sources.io import local_frame, read_table

# ---------------------------------------------------------------------------
# Deterministic hash-split rule, shared by hash_split_assignment,
# next_event_training_examples and split_leakage_audit (one Python copy +
# one SQL generator, so the three call sites cannot drift apart).
# ---------------------------------------------------------------------------


def _hash_split(col, salt: str):
    """80/10/10 split as a pure function of (key, salt): the first five
    md5 hex digits of concat_ws(':', key, salt), decoded as an integer
    and taken mod 1000 → <800 train, <900 validation, else test. Five
    digits give 16^5 = 1048576 buckets, so the residues are uniform to
    within 1/1048 (measured 80.01/9.99/9.99 — a single hex char mod 10
    is NOT uniform: '0'-'9','a'-'f' put 12/16 of mass below 8, i.e.
    75/12.5/12.5). The digit decode is spelled as explicit ascii
    arithmetic so the Spark and DuckDB expressions are the same integer
    op tree. concat_ws skips NULL arguments on BOTH engines (each hashes
    the bare salt), so a NULL key lands deterministically in one split
    instead of diverging between engines the way `key || salt` would
    (NULL-propagating concat falls through CASE to 'test' in SQL while
    Spark's concat_ws keeps hashing)."""
    h = F.md5(F.concat_ws(":", col, F.lit(salt)))

    def dig(i: int):
        a = F.ascii(F.substring(h, i, 1))
        # md5 hex is lowercase on both engines: '0'-'9' → 48-57, 'a'-'f' → 97-102.
        return a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48))

    v = dig(1)
    for i in (2, 3, 4, 5):
        v = v * 16 + dig(i)
    b = v % 1000
    return F.when(b < 800, "train").when(b < 900, "validation").otherwise("test")


def _hash_split_sql(key: str, salt: str) -> str:
    """The identical rule as a DuckDB CASE expression (oracle side)."""
    h = f"md5(concat_ws(':', {key}, '{salt}'))"

    def dig(i: int) -> str:
        a = f"ascii(substr({h}, {i}, 1))"
        return f"({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"

    v = dig(1)
    for i in (2, 3, 4, 5):
        v = f"({v} * 16 + {dig(i)})"
    b = f"({v} % 1000)"
    return (
        f"CASE WHEN {b} < 800 THEN 'train' "
        f"WHEN {b} < 900 THEN 'validation' ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# Ordered funnel
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t1
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    GROUP BY e.user_id
),
c AS (
    SELECT (SELECT count(*) FROM s1)::BIGINT AS n1,
           (SELECT count(*) FROM s2)::BIGINT AS n2,
           (SELECT count(*) FROM s3)::BIGINT AS n3
)
SELECT 1::BIGINT AS step, 'view' AS step_name, n1 AS n_users,
       n1::DOUBLE / nullif(n1, 0)::DOUBLE AS conv_from_first FROM c
UNION ALL
SELECT 2::BIGINT, 'click', n2, n2::DOUBLE / nullif(n1, 0)::DOUBLE FROM c
UNION ALL
SELECT 3::BIGINT, 'purchase', n3, n3::DOUBLE / nullif(n1, 0)::DOUBLE FROM c
"""


@register("funnel_view_click_purchase", _FUNNEL_SQL)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase): each step counts
    only events strictly after the user's previous-step time. Generalizes
    the reference's chained per-step pandas filters
    (bicis/etl/basic_features.py) to an arbitrary ordered funnel."""
    events = read_table(spark, sf_dir, "events")
    return funnel_counts(
        events,
        "user_id",
        "ts",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

_COHORT_SQL = """
WITH first AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_bucket
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS act_bucket FROM events
),
j AS (
    SELECT f.cohort_bucket,
           (date_diff('day', f.cohort_bucket, a.act_bucket) / 7)::BIGINT
               AS period_offset,
           a.user_id
    FROM act a JOIN first f ON a.user_id = f.user_id
    WHERE a.act_bucket >= f.cohort_bucket
),
per_cell AS (
    SELECT cohort_bucket, period_offset, count(*)::BIGINT AS n_active
    FROM j GROUP BY cohort_bucket, period_offset
),
sz AS (
    SELECT cohort_bucket, count(*)::BIGINT AS n_cohort
    FROM first GROUP BY cohort_bucket
)
SELECT p.cohort_bucket, p.period_offset, p.n_active, s.n_cohort,
       p.n_active::DOUBLE / s.n_cohort::DOUBLE AS retention
FROM per_cell p JOIN sz s ON p.cohort_bucket = s.cohort_bucket
"""


@register("cohort_retention_weekly", _COHORT_SQL)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup cohorts x weeks-since-signup activity matrix. The
    activity side reduces to DISTINCT (user, week) before joining the
    cohort table, so the full event stream never carries through."""
    events = read_table(spark, sf_dir, "events")
    return cohort_retention(
        events, "user_id", "ts", F.col("event_type") == "signup", "week"
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill
# ---------------------------------------------------------------------------

_GAP_FILL_SQL = """
WITH obs AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           count(*)::BIGINT AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS rev
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
spans AS (
    SELECT event_type, min(hour) AS h0, max(hour) AS h1
    FROM obs GROUP BY event_type
),
grid AS (
    SELECT event_type,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
    FROM spans
),
j AS (
    SELECT g.event_type, g.hour,
           coalesce(o.n_events, 0)::BIGINT AS n_events, o.rev
    FROM grid g LEFT JOIN obs o
      ON g.event_type = o.event_type AND g.hour = o.hour
)
SELECT event_type, hour, n_events,
       CAST(last_value(rev IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rev_ffill
FROM j
"""


@register("hourly_gap_fill_ffill", _GAP_FILL_SQL)
def hourly_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly grid over each type's observed span: missing
    hours appear with n_events = 0 and the revenue forward-filled from the
    last observed hour. Distributed equivalent of the reference's pandas
    reindex + fillna (notebook resample; bicis/etl/basic_features.py
    dense profile matrix). Sums go through exact DECIMAL."""
    events = read_table(spark, sf_dir, "events")
    obs = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("_rev"),
    )
    filled = gap_fill_forward(
        obs, "event_type", "hour", zero_fill_cols=["n_events"],
        ffill_cols=["_rev"],
    )
    return filled.select(
        "event_type",
        "hour",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("_rev").cast("double").alias("rev_ffill"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations
# ---------------------------------------------------------------------------

_QUALITY_SQL = """
-- coalesce(sum(..), 0): sum over zero rows is NULL in SQL, but the
-- engine (operators/quality.py) defines an empty table as 0 violations
-- and passed=true — the degenerate input a quality suite must pin down
SELECT 'totalprice_positive' AS check_name, count(*)::BIGINT AS n_rows,
       coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
           THEN 1 ELSE 0 END), 0)::BIGINT AS n_violations,
       (coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
            THEN 1 ELSE 0 END), 0)::BIGINT = 0) AS passed
FROM orders
UNION ALL
SELECT 'totalprice_below_450k', count(*)::BIGINT,
       coalesce(sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END), 0)::BIGINT,
       (coalesce(sum(CASE WHEN o_totalprice > 450000 THEN 1 ELSE 0 END), 0)::BIGINT = 0)
FROM orders
UNION ALL
SELECT 'orderdate_not_null', count(*)::BIGINT,
       coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0)::BIGINT,
       (coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0)::BIGINT = 0)
FROM orders
UNION ALL
SELECT 'status_valid', count(*)::BIGINT,
       coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                  OR o_orderstatus IS NULL THEN 1 ELSE 0 END), 0)::BIGINT,
       (coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                   OR o_orderstatus IS NULL THEN 1 ELSE 0 END), 0)::BIGINT = 0)
FROM orders
UNION ALL
SELECT 'orderkey_unique', count(*)::BIGINT,
       (count(*) - count(DISTINCT o_orderkey))::BIGINT,
       ((count(*) - count(DISTINCT o_orderkey))::BIGINT = 0)
FROM orders
UNION ALL
SELECT 'custkey_fk', (SELECT count(*) FROM orders)::BIGINT,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))::BIGINT,
       ((SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))::BIGINT = 0)
"""


@register("quality_expectations", _QUALITY_SQL)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declared constraint suite over orders: four row
    predicates (one conditional-aggregation scan for all four), key
    uniqueness, and referential integrity to customer. Generalizes the
    reference's ad-hoc row guards + fails report
    (bicis/etl/unify_data.py). totalprice_below_450k intentionally fails
    on the test data, exercising the violation path."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    preds = check_predicates(
        orders,
        {
            "totalprice_positive": (F.col("o_totalprice") <= 0)
            | F.col("o_totalprice").isNull(),
            "totalprice_below_450k": F.col("o_totalprice") > 450000,
            "orderdate_not_null": F.col("o_orderdate").isNull(),
            "status_valid": ~F.col("o_orderstatus").isin("O", "F", "P")
            | F.col("o_orderstatus").isNull(),
        },
    )
    uniq = check_unique(orders, "orderkey_unique", "o_orderkey")
    fk = check_foreign_key(
        orders, "o_custkey", customer, "c_custkey", "custkey_fk"
    )
    return (
        preds.unionAll(uniq)
        .unionAll(fk)
        .withColumnRenamed("check", "check_name")
    )


# ---------------------------------------------------------------------------
# Sketch accuracy contracts
# ---------------------------------------------------------------------------

_CMS_SQL = """
SELECT user_id, count(*)::BIGINT AS exact_n, true AS est_ge_exact
FROM events GROUP BY user_id
ORDER BY exact_n DESC, user_id
LIMIT 20
"""


@register("cms_heavy_hitters", _CMS_SQL)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest event users with the count-min one-sided guarantee
    hash-gated per key: the oracle recomputes the exact counts and replays
    est_ge_exact = true, which CMS guarantees deterministically — an
    underestimating sketch bug fails the hash."""
    events = read_table(spark, sf_dir, "events")
    return heavy_hitters_with_contract(
        events, "user_id", k=20, depth=4, width=1024
    )


_HLL_SQL = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
       true AS approx_within_10pct
FROM events GROUP BY event_type
"""


@register("hll_distinct_contract", _HLL_SQL)
def hll_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type exact distinct users + the HLL++ accuracy contract:
    approx_count_distinct (rsd=0.05) must land within 10% of exact. The
    sketch is order-insensitive (max-merge of register arrays), so the
    flag is deterministic for a given dataset. At 100 TB the approx path
    IS the plan (fixed-size registers, no distinct shuffle); this query
    keeps it honest against the exact path while the data is small enough
    to afford both."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.05).cast("double")
                - F.countDistinct("user_id").cast("double")
            )
            <= 0.1 * F.countDistinct("user_id").cast("double")
        ).alias("approx_within_10pct"),
    )


# ---------------------------------------------------------------------------
# Full-outer reconciliation, decile binning, fixed-width histogram
# ---------------------------------------------------------------------------

_RECON_SQL = """
WITH o AS (
    SELECT o_custkey AS key, count(*)::BIGINT AS n_orders
    FROM orders GROUP BY o_custkey
),
e AS (
    SELECT user_id AS key, count(*)::BIGINT AS n_events
    FROM events GROUP BY user_id
)
SELECT coalesce(o.key, e.key)::BIGINT AS key,
       coalesce(o.n_orders, 0)::BIGINT AS n_orders,
       coalesce(e.n_events, 0)::BIGINT AS n_events,
       CASE WHEN o.key IS NULL THEN 'events_only'
            WHEN e.key IS NULL THEN 'orders_only'
            ELSE 'both' END AS presence
FROM o FULL OUTER JOIN e ON o.key = e.key
"""


@register("customer_event_reconciliation", _RECON_SQL)
def customer_event_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-outer reconciliation of two aggregate ledgers (orders per
    customer vs events per user): every key from either side with both
    counts and a presence tag. Both sides reduce to one row per key
    BEFORE the join, so the full-outer shuffle moves |keys| rows, not
    the raw tables."""
    orders = read_table(spark, sf_dir, "orders")
    events = read_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_custkey").alias("o_key")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = events.groupBy(F.col("user_id").alias("e_key")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    joined = o.join(e, o["o_key"] == e["e_key"], "full_outer")
    return joined.select(
        F.coalesce("o_key", "e_key").cast("long").alias("key"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("o_key").isNull(), "events_only")
        .when(F.col("e_key").isNull(), "orders_only")
        .otherwise("both")
        .alias("presence"),
    )


_DECILE_SQL = """
WITH ranked AS (
    SELECT l_quantity, ntile(10) OVER (ORDER BY l_quantity) AS decile
    FROM lineitem
)
SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM ranked GROUP BY decile
"""


@register("quantity_deciles", _DECILE_SQL)
def quantity_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of l_quantity via ntile(10). Ties
    permute only rows with EQUAL quantity across the fixed bucket sizes,
    so the per-decile aggregates are deterministic even though row
    assignment under ties is not. ntile needs a single total order —
    fine here, but the 100 TB feature-binning path is approx_percentile
    cutoffs (quantile_interpolation pins those semantics); this query
    pins the exact-rank reference."""
    li = read_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    ranked = li.select(
        "l_quantity",
        F.ntile(10).over(Window.orderBy("l_quantity")).alias("decile"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    ).select(F.col("decile").cast("long").alias("decile"), "n", "min_qty",
             "max_qty", "sum_qty")


_HISTOGRAM_SQL = """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*)::BIGINT AS n,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders
GROUP BY CAST(floor(o_totalprice / 25000.0) AS BIGINT)
"""


@register("totalprice_histogram", _HISTOGRAM_SQL)
def totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (25k buckets): a single
    map-side-combined hash aggregate — the scale-safe binning shape
    (bucket count bounded by the value range, not the row count). The
    bucket id is floor of an identical IEEE double division on both
    engines."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.floor(F.col("o_totalprice") / 25000.0).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


_INTERVAL_SQL = """
WITH err AS (
    SELECT event_id AS error_id, ts AS e_start,
           ts + INTERVAL 30 MINUTE AS e_end
    FROM events WHERE event_type = 'error'
),
pur AS (
    SELECT event_id AS purchase_id, ts AS p_start,
           ts + INTERVAL 30 MINUTE AS p_end
    FROM events WHERE event_type = 'purchase'
)
SELECT err.error_id, pur.purchase_id
FROM err JOIN pur
  ON err.e_start <= pur.p_end AND pur.p_start <= err.e_end
"""


@register("interval_overlap_error_purchase", _INTERVAL_SQL)
def interval_overlap_error_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-overlap join (error windows x purchase windows, 30-minute
    extents) via the bucketed decomposition: equi-join on epoch buckets +
    ownership dedup — never the O(|L|·|R|) BroadcastNestedLoopJoin a
    naive theta-join plans to. The oracle is the plain inequality join
    (DuckDB IEJoin), proving the bucketed plan emits exactly the true
    overlap set, each pair once."""
    events = read_table(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    err = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_start"),
        (F.col("ts") + half_hour).alias("e_end"),
    )
    pur = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + half_hour).alias("p_end"),
    )
    pairs = interval_overlap_join(
        err, pur, "e_start", "e_end", "p_start", "p_end", width_s=1800
    )
    return pairs.select("error_id", "purchase_id")


# ---------------------------------------------------------------------------
# Vocabulary encoding and bounded-state streaming dedup
# ---------------------------------------------------------------------------

_ENCODE_SQL = """
WITH dt AS (
    SELECT doc_id, token, count(*)::BIGINT AS tf_d FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ) GROUP BY doc_id, token
),
v AS (SELECT token, sum(tf_d)::BIGINT AS tf FROM dt GROUP BY token),
vid AS (
    SELECT token,
           row_number() OVER (ORDER BY tf DESC, token)::BIGINT AS id
    FROM v QUALIFY id <= 1000
),
m AS (
    SELECT map(list(token ORDER BY token), list(id ORDER BY token)) AS vmap
    FROM vid
),
enc AS (
    SELECT doc_id,
           list_transform(
               coalesce(string_split(text, ' '), CAST([] AS VARCHAR[])),
               t -> coalesce(vmap[t][1], 0::BIGINT)
           ) AS ids
    FROM documents, m
)
SELECT doc_id, len(ids)::BIGINT AS n_tokens,
       len(list_filter(ids, x -> x = 0))::BIGINT AS n_oov,
       array_to_string(ids, ' ') AS ids_str
FROM enc
"""


@register("vocab_encode_documents", _ENCODE_SQL)
def vocab_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenize-and-encode: top-1000 vocabulary by term frequency
    (dense ids, deterministic tie-break), then every document encoded to
    id sequences via a BROADCAST token->id map + `transform` — the corpus
    is never exploded or shuffled. Ids serialize to a string so the
    comparison is scalar-exact."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return encode_documents(docs, vocab_size=1000)


@register(
    "streaming_dedup_watermark",
    """
    SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hour
    FROM events
    """,
)
def streaming_dedup_watermark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark:
    one emission per (user, type, hour-bucket). The bucket rides in the
    key and the 2h delay exceeds the 1h bucket span, so every duplicate
    pair sits inside the state horizon — emitted set == batch DISTINCT
    (single-file staging ⇒ one microbatch ⇒ no mid-stream eviction
    either). The unbounded-state variant is streaming_distinct_user_types;
    this one's state is keys-per-horizon, the infinite-key-space shape."""
    from bicis_spark.plans.pipeline_queries import _staged_events_dir
    from bicis_spark.schemas import EVENTS
    from bicis_spark.streaming.windows import (
        dedup_within_watermark_stream,
        read_events_stream,
        run_append_to_completion,
    )

    src = _staged_events_dir(spark, sf_dir, single_file=True)
    stream = read_events_stream(spark, src, EVENTS)
    keyed = stream.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return run_append_to_completion(
        dedup_within_watermark_stream(
            keyed, ["user_id", "event_type", "hour"], "ts", "2 hours"
        ),
        "streaming_dedup_watermark_mem",
        # dedup emits each key on FIRST ARRIVAL — the finalize batch only
        # evicts state (round 12, see run_append_to_completion)
        nodata_batch=False,
    )


# ---------------------------------------------------------------------------
# Snapshot diff (table-version reconciliation)
# ---------------------------------------------------------------------------

_SNAPSHOT_SQL = """
WITH old AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderpriority, o_orderdate
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority, o_orderdate
    FROM orders WHERE o_orderkey % 89 = 0
),
j AS (
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_custkey     IS DISTINCT FROM n.o_custkey
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice  IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                  OR o.o_orderdate   IS DISTINCT FROM n.o_orderdate
                THEN 'changed' END AS status
    FROM old o FULL OUTER JOIN orders n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, status FROM j WHERE status IS NOT NULL
"""


@register("snapshot_diff_orders", _SNAPSHOT_SQL)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version reconciliation: a deterministically-drifted old
    snapshot (keys mod 97 missing, totalprice bumped on keys mod 101,
    phantom keys from mod 89) diffed against the current orders table
    into added/removed/changed rows. One column-pruned full-outer join;
    unchanged keys (the bulk) never leave it."""
    orders = read_table(spark, sf_dir, "orders")
    compare = [
        "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate",
    ]
    base = orders.where(F.pmod(F.col("o_orderkey"), F.lit(97)) != 0).withColumn(
        "o_totalprice",
        F.when(
            F.pmod(F.col("o_orderkey"), F.lit(101)) == 0,
            F.col("o_totalprice") + 1.0,
        ).otherwise(F.col("o_totalprice")),
    )
    extra = orders.where(F.pmod(F.col("o_orderkey"), F.lit(89)) == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    old = base.unionByName(extra)
    return snapshot_diff(old, orders, ["o_orderkey"], compare)


# ---------------------------------------------------------------------------
# Statistical anomaly detection
# ---------------------------------------------------------------------------

_ANOMALY_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           count(*)::BIGINT AS n_events
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
st AS (
    SELECT event_type, count(*)::BIGINT AS n, sum(n_events)::BIGINT AS s,
           sum(n_events * n_events)::BIGINT AS q
    FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.hour, h.n_events
FROM hourly h JOIN st ON h.event_type = st.event_type
WHERE (st.n * h.n_events - st.s) * (st.n * h.n_events - st.s)
      > 9 * (st.n * st.q - st.s * st.s)
"""


@register("hourly_anomalies", _ANOMALY_SQL)
def hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier hours per event type, with the sigma test done
    entirely in integers: |x - mu| > 3*sigma over hourly counts x is
    algebraically (n*x - S)^2 > 9*(n*Q - S^2) with S = sum(x),
    Q = sum(x^2) — no float mean/stddev ever computed, so both engines
    agree bitwise. Two hash aggregates + a 5-row broadcast join; the
    statistics are over OBSERVED hours (compose with hourly_gap_fill_ffill
    to include silent-zero hours)."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    st = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("q"),
    )
    dev = F.col("n") * F.col("n_events") - F.col("s")
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        hourly.join(F.broadcast(st), on="event_type")
        .where(dev * dev > 9 * var_n2)
        .select("event_type", "hour", "n_events")
    )


# ---------------------------------------------------------------------------
# Training-order shuffle and iterative PageRank
# ---------------------------------------------------------------------------

_SHUFFLE_SQL = """
WITH k AS (
    SELECT doc_id, md5('3:' || doc_id::VARCHAR) AS key FROM documents
),
s AS (
    SELECT doc_id, key,
           (('0x' || substr(key, 1, 8))::BIGINT % 8)::BIGINT AS shard
    FROM k
)
SELECT shard,
       row_number() OVER (
           PARTITION BY shard ORDER BY key, doc_id
       )::BIGINT AS position,
       doc_id
FROM s
"""


@register("training_epoch_shuffle", _SHUFFLE_SQL)
def training_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-3 deterministic training shuffle of the document corpus:
    md5(epoch:id) gives the pseudo-random order and shard assignment with
    zero RNG state, so loaders, retries, and re-runs agree. md5 is RFC
    1321 on both engines, so key, shard, AND position replay bit-for-bit
    in the oracle. Only shuffle: the per-shard window exchange — no
    global sort."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return epoch_shuffle(
        docs.select("doc_id"), "doc_id", epoch=3, n_shards=8
    ).select("shard", "position", "doc_id")


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unrolled fixed-point PageRank recurrence (DuckDB disallows
    aggregates over the recursive reference, so the fixed iteration count
    becomes chained CTEs — same codegen pattern as the SimHash oracle)."""
    parts = [
        """WITH u AS (
    SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b FROM lineitem
),
e AS (
    SELECT a AS src, b AS dst FROM u UNION SELECT b, a FROM u
),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
v AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
r0 AS (SELECT v, 1000000::BIGINT AS rank_fp FROM v)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", r{i} AS (
    SELECT v.v, (150000 + (85 * coalesce(inf.s, 0)) // 100)::BIGINT AS rank_fp
    FROM v LEFT JOIN (
        SELECT e.dst AS v, sum(r.rank_fp // d.outdeg)::BIGINT AS s
        FROM e JOIN deg d ON e.src = d.src JOIN r{i - 1} r ON r.v = e.src
        GROUP BY e.dst
    ) inf ON v.v = inf.v
)"""
        )
    parts.append(f"\nSELECT v AS node, rank_fp FROM r{n_iter}")
    return "".join(parts)


@register("pagerank_part_supplier", _pagerank_oracle(3))
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power iterations of fixed-point PageRank over the bipartite
    part <-> supplier graph (nodes namespaced by parity: supplier = 2k,
    part = 2k+1; edges both directions so no rank mass dangles). Scaled-
    integer arithmetic makes every rank bitwise deterministic; the oracle
    unrolls the identical recurrence.

    n_iter is the headline's cost knob (2 shuffles per round — r4 verdict
    item #5: 5 rounds was 12% of the whole bench); 3 rounds keeps the
    iterative-graph surface honest while the operator itself supports any
    count. The distinct runs on the |E| undirected pair set BEFORE the
    direction union (the two namespaces can't collide), halving the dedup
    shuffle vs distinct-after-union."""
    li = read_table(spark, sf_dir, "lineitem")
    # tracked persist on the |E| distinct pair set: both degree aggregates
    # and the direction union traverse it while pagerank_bipartite's
    # caches materialize — without this the lineitem scan + distinct
    # exchange re-runs per consumer (measured: the real headline cost,
    # not the iterations)
    u = tracked_persist(
        li.select(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        ).distinct()
    )
    return pagerank_bipartite(u, n_iter=3)


def _lpa_oracle(n_iter: int = 2) -> str:
    """Unrolled synchronous label propagation over the part co-purchase
    graph (same chained-CTE codegen as the pagerank oracle): per round,
    per-neighbor label counts then argmax with (count DESC, label ASC)."""
    parts = [
        """WITH u AS (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
e AS (SELECT pa AS src, pb AS dst FROM u UNION ALL SELECT pb, pa FROM u),
v AS (SELECT DISTINCT src AS v FROM e),
l0 AS (SELECT v, v AS lbl FROM v)"""
    ]
    for i in range(n_iter):
        parts.append(
            f""",
cnt{i} AS (
    SELECT e.dst AS v, l.lbl, count(*)::BIGINT AS c
    FROM e JOIN l{i} l ON l.v = e.src GROUP BY e.dst, l.lbl
),
l{i + 1} AS (
    SELECT v, lbl FROM (
        SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
        FROM cnt{i}
    ) t WHERE rn = 1
)"""
        )
    parts.append(f"\nSELECT v AS node, lbl::BIGINT AS label FROM l{n_iter}")
    return "".join(parts)


@register("label_propagation_communities", _lpa_oracle(2))
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (round 5): two synchronous label-propagation
    rounds over the part co-purchase graph (parts sharing an order, both
    directions). Deterministic argmax (count DESC, smallest label) makes
    every round bitwise replayable; the oracle unrolls the identical
    recurrence. Pair generation is an equi-self-join on the order key —
    fan-out bounded by lines-per-order, never a cross join."""
    from bicis_spark.operators.graph import label_propagation

    # pair build via the shared _copurchase_pairs combination expansion
    # (round 12, guide §2.4): the lineitem SELF-JOIN form shuffled the
    # fact table twice and joined before its distinct; the expansion is
    # one map-side-combined groupBy + codegen generators — the identical
    # (pa < pb) pair set after the same distinct (the r7/r11 lesson every
    # other co-purchase consumer already took; the oracle keeps its
    # self-join form as the independent implementation)
    u = tracked_persist(
        _copurchase_pairs(spark, sf_dir)
        .select(F.col("src").alias("pa"), F.col("dst").alias("pb"))
        .distinct()
    )
    edges = u.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        u.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    return label_propagation(edges, n_iter=2, broadcast_labels=True)


_SKYLINE_SQL = """
WITH g AS (SELECT p_retailprice AS m, max(p_size) AS gmax FROM part GROUP BY p_retailprice),
g2 AS (
    SELECT m, gmax,
           max(gmax) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_le
    FROM g
),
gg AS (SELECT m, gmax, lag(best_le) OVER (ORDER BY m) AS best_lt FROM g2)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN gg ON p.p_retailprice = gg.m
WHERE NOT ((gg.best_lt IS NOT NULL AND gg.best_lt >= p.p_size) OR gg.gmax > p.p_size)
"""


@register("part_price_size_skyline", _SKYLINE_SQL)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (round 5): parts not dominated on
    (cheaper price, larger size). The only sort is over distinct prices
    (the frontier's inherent order); the part table itself is scan +
    broadcast join."""
    from bicis_spark.operators.stats import skyline_2d

    part = read_table(spark, sf_dir, "part")
    return skyline_2d(part, "p_partkey", "p_retailprice", "p_size")


_LINKAGE_SQL = """
WITH c AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           (c_nationkey, floor(c_acctbal / 1000)) AS blk
    FROM customer
),
pairs AS (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 24 ELSE -8 END
            + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 6 ELSE -3 END
            + CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 50.0 THEN 10 ELSE -5 END
           )::BIGINT AS score
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
)
SELECT id_a, id_b, score,
       CASE WHEN score >= 30 THEN 'link'
            WHEN score >= 5 THEN 'possible'
            ELSE 'non_link' END AS match_class
FROM pairs WHERE score >= 5
"""


@register("record_linkage_customers", _LINKAGE_SQL)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage (round 5): customers blocked on
    (nation, acctbal/1000 band), compared on name edit distance,
    segment, and balance proximity with integer log-odds weights, banded
    into link/possible. All-integer scores, blocked candidates only."""
    from bicis_spark.operators.linkage import fellegi_sunter_pairs

    cust = read_table(spark, sf_dir, "customer")
    comparators = [
        (
            "name",
            lambda a, b: F.levenshtein(F.col(a + "c_name"), F.col(b + "c_name")) <= 2,
            24,
            -8,
        ),
        (
            "segment",
            lambda a, b: F.col(a + "c_mktsegment") == F.col(b + "c_mktsegment"),
            6,
            -3,
        ),
        (
            "balance",
            lambda a, b: F.abs(F.col(a + "c_acctbal") - F.col(b + "c_acctbal"))
            <= 50.0,
            10,
            -5,
        ),
    ]
    return fellegi_sunter_pairs(
        cust,
        "c_custkey",
        [F.col("c_nationkey"), F.floor(F.col("c_acctbal") / 1000)],
        comparators,
        link_threshold=30,
        possible_threshold=5,
    )


_MARKOV_SQL = """
WITH seq AS (
    SELECT user_id, event_type AS cur,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
),
pairs AS (
    SELECT cur, nxt, count(*)::BIGINT AS n
    FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
tot AS (SELECT cur, sum(n)::BIGINT AS t FROM pairs GROUP BY cur)
SELECT p.cur, p.nxt, p.n, t.t AS row_total,
       p.n::DOUBLE / t.t::DOUBLE AS prob
FROM pairs p JOIN tot t USING (cur)
"""


@register("event_transition_matrix", _MARKOV_SQL)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (round 5): lead() pairs with the (ts, event_id) total
    order, exact counts, row-normalized by one integer ratio. The
    |types|² matrix is the bounded output of one user-keyed window plus
    two map-side-combined aggregates — the sequence-model summary a
    behavioral pipeline exports."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = pairs.groupBy("cur").agg(F.sum("n").cast("long").alias("row_total"))
    return pairs.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        "n",
        "row_total",
        (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("prob"),
    )


_DECOMP_SQL = """
WITH hourly AS (
    SELECT event_type AS g, date_trunc('hour', ts) AS h, count(*)::BIGINT AS x
    FROM events GROUP BY 1, 2
),
base AS (
    SELECT g, h, x, date_part('hour', h)::BIGINT AS slot,
           sum(x) OVER w::BIGINT AS wn, count(x) OVER w::BIGINT AS wd
    FROM hourly
    WINDOW w AS (PARTITION BY g ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
slots AS (SELECT g, slot, sum(x)::BIGINT AS sn, count(*)::BIGINT AS sd FROM base GROUP BY g, slot),
grand AS (SELECT g, sum(x)::BIGINT AS gn, count(*)::BIGINT AS gd FROM base GROUP BY g)
SELECT b.g AS event_type, b.h AS hour, b.x AS n_events,
       b.wn::DOUBLE / b.wd::DOUBLE AS trend,
       s.sn::DOUBLE / s.sd::DOUBLE - gr.gn::DOUBLE / gr.gd::DOUBLE AS seasonal,
       (b.x::DOUBLE - b.wn::DOUBLE / b.wd::DOUBLE)
           - (s.sn::DOUBLE / s.sd::DOUBLE - gr.gn::DOUBLE / gr.gd::DOUBLE) AS residual
FROM base b JOIN slots s USING (g, slot) JOIN grand gr USING (g)
"""


@register("seasonal_decompose_hourly", _DECOMP_SQL)
def seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-means decomposition (round 5) of per-type
    hourly event counts: centered ±12h ROWS trend, hour-of-day seasonal
    means, fixed-order residual — every mean an exact-int ratio, all
    three doubles bitwise-replayable."""
    from bicis_spark.operators.timeseries import seasonal_decompose_additive

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return seasonal_decompose_additive(hourly, "event_type", "hour", "n_events")


_ITEMSETS_SQL = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
pair_occ AS (
    SELECT x.bk, x.it AS a, y.it AS b
    FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
),
pairs AS (
    SELECT 'pair' AS kind, a AS item_a, b AS item_b, NULL::BIGINT AS item_c,
           count(*)::BIGINT AS support
    FROM pair_occ GROUP BY a, b HAVING count(*) >= 2
),
triples AS (
    SELECT 'triple' AS kind, p.a, p.b, z.it, count(*)::BIGINT AS support
    FROM pair_occ p JOIN b z ON p.bk = z.bk AND p.b < z.it
    GROUP BY p.a, p.b, z.it HAVING count(*) >= 2
)
SELECT * FROM pairs UNION ALL SELECT * FROM triples
"""


@register("frequent_itemsets_parts", _ITEMSETS_SQL)
def frequent_itemsets_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (round 5): all part pairs and triples
    co-purchased in ≥2 distinct orders — exact relational Apriori with
    ordered candidates (a<b<c), basket-key equi-joins only."""
    from bicis_spark.operators.itemsets import frequent_itemsets

    li = read_table(spark, sf_dir, "lineitem")
    return frequent_itemsets(li, "l_orderkey", "l_partkey", min_support=2)


_CUSUM_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n_events
    FROM events GROUP BY event_type, date_trunc('hour', ts)
),
series AS (
    SELECT event_type,
           list(hour ORDER BY hour) AS hs,
           list(n_events ORDER BY hour) AS xs,
           count(*)::BIGINT AS n,
           sum(n_events)::BIGINT AS s
    FROM hourly GROUP BY event_type
)
SELECT event_type,
       hs[j] AS hour,
       xs[j] AS n_events,
       list_reduce(
           list_prepend(0::BIGINT, list_slice(xs, 1, j)),
           (acc, x) -> greatest(0::BIGINT, acc + x * n - s)
       ) AS cusum_scaled,
       n AS n_points,
       list_reduce(
           list_prepend(0::BIGINT, list_slice(xs, 1, j)),
           (acc, x) -> greatest(0::BIGINT, acc + x * n - s)
       ) > n * 5 AS flag
FROM series, unnest(range(1, len(xs) + 1)) AS t(j)
"""


@register("cusum_hourly_drift", _CUSUM_SQL)
def cusum_hourly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential change-point monitor (round 5): one-sided CUSUM over
    per-type hourly event counts, run entirely in scaled integers
    (s'_t = max(0, s'_{t-1} + n·x_t − Σx)) so the group mean never
    becomes a float — flags hours where accumulated drift exceeds 5
    events/point. Complements the pointwise z-score `hourly_anomalies`
    with drift detection."""
    from bicis_spark.operators.timeseries import cusum_flags

    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return cusum_flags(
        hourly, "event_type", "hour", "n_events", threshold_per_point=5
    )


_KM_SQL = """
WITH lt AS (
    SELECT user_id,
           ((epoch_us(max(ts)) - epoch_us(min(ts))) // 3600000000)::BIGINT AS lt
    FROM events GROUP BY user_id
),
d AS (SELECT lt, count(*)::BIGINT AS d FROM lt GROUP BY lt),
r AS (
    SELECT lt, d,
           sum(d) OVER (ORDER BY lt DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS n_risk
    FROM d
),
arr AS (
    SELECT list(lt ORDER BY lt) AS lts,
           list(d ORDER BY lt) AS ds,
           list(n_risk ORDER BY lt) AS ns,
           list((n_risk - d)::DOUBLE / n_risk::DOUBLE ORDER BY lt) AS fs
    FROM r
)
SELECT lts[j] AS lifetime, ns[j] AS n_risk, ds[j] AS d,
       list_reduce(list_slice(fs, 1, j), (a, x) -> a * x) AS survival
FROM arr, unnest(range(1, len(lts) + 1)) AS t(j)
"""


@register("kaplan_meier_user_lifetimes", _KM_SQL)
def kaplan_meier_user_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis (round 5): the Kaplan–Meier retention curve over
    user lifetimes (first→last event, hour buckets). Integer risk sets,
    one IEEE division per factor, per-prefix SEQUENTIAL product folds on
    both engines (a windowed product would segment-tree-reorder the
    multiplies) — bitwise-deterministic survival values."""
    from bicis_spark.operators.stats import kaplan_meier

    ev = read_table(spark, sf_dir, "events")
    return kaplan_meier(ev, "user_id", "ts")


# ---------------------------------------------------------------------------
# Bloom-pruned semi-join and key-skew diagnosis
# ---------------------------------------------------------------------------

_BLOOM_SEMI_SQL = """
SELECT l_returnflag, count(*)::BIGINT AS n, sum(l_quantity)::BIGINT AS sum_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
GROUP BY l_returnflag
"""


@register("bloom_pruned_part_revenue", _BLOOM_SEMI_SQL)
def bloom_pruned_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem ⋉ (parts with p_size=1) with a broadcast bloom-bitmap
    pre-filter on the fact scan, then the exact semi-join. The oracle is
    the PLAIN semi-join — bloom false positives are provably absent from
    the output, only from the shuffle. The 100 TB case: dimension key set
    too big to broadcast, its 8 KiB bitmap is not."""
    li = read_table(spark, sf_dir, "lineitem")
    keys = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_size") == 1)
        .select("p_partkey")
    )
    pruned = bloom_semi_join(li, keys, "l_partkey", "p_partkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


_SKEW_PROFILE_SQL = """
WITH pk AS (
    SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id
),
t AS (
    SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS n_keys FROM pk
),
r AS (
    SELECT user_id, n,
           row_number() OVER (ORDER BY n DESC, user_id)::BIGINT AS rk
    FROM pk
)
SELECT r.user_id, r.n,
       r.n::DOUBLE / t.total::DOUBLE AS share,
       (r.n * t.n_keys)::DOUBLE / t.total::DOUBLE AS skew_ratio,
       r.rk
FROM r, t WHERE r.rk <= 20
"""


@register("key_skew_profile_events", _SKEW_PROFILE_SQL)
def key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest user_id keys in events with share-of-rows and
    uniformity ratio — the diagnosis that decides between salting, AQE
    skew join, or nothing. One scan: the global (total, n_keys) rollup
    derives from the same per-key aggregate subtree."""
    events = read_table(spark, sf_dir, "events")
    return key_skew_profile(events, ["user_id"], top_n=20)


# ---------------------------------------------------------------------------
# ML featurization: hashing trick + group-wise scaling
# ---------------------------------------------------------------------------

_HASHED_FEATS_SQL = """
WITH u AS (
    SELECT c_custkey, md5('mktsegment:' || c_mktsegment) AS h FROM customer
    UNION ALL
    SELECT c_custkey, md5('nationkey:' || c_nationkey::VARCHAR) AS h FROM customer
),
f AS (
    SELECT c_custkey,
           (('0x' || substr(h, 1, 8))::BIGINT % 64)::BIGINT AS slot,
           (CASE WHEN ('0x' || substr(h, 9, 1))::BIGINT % 2 = 0
                 THEN 1 ELSE -1 END)::BIGINT AS sign
    FROM u
)
SELECT c_custkey, slot, sum(sign)::BIGINT AS val
FROM f GROUP BY c_custkey, slot
"""


@register("hashed_features_customer", _HASHED_FEATS_SQL)
def hashed_features_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick encoding of customer categoricals
    (mktsegment, nationkey) into 64 slots: no vocabulary build, no
    broadcast, pure per-row md5 slot/sign expressions + one map-combined
    aggregate — the dictionary-free featurizer that stays embarrassingly
    parallel at 100 TB."""
    cust = read_table(spark, sf_dir, "customer")
    return hashed_features(
        cust,
        "c_custkey",
        [("mktsegment", "c_mktsegment"), ("nationkey", "c_nationkey")],
        n_buckets=64,
    )


_SCALED_QTY_SQL = """
WITH st AS (
    SELECT l_returnflag, count(*)::BIGINT AS n, sum(l_quantity)::BIGINT AS s,
           sum(l_quantity * l_quantity)::BIGINT AS q,
           min(l_quantity)::BIGINT AS mn, max(l_quantity)::BIGINT AS mx
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber::BIGINT AS l_linenumber, l.l_returnflag,
       l.l_quantity::BIGINT AS l_quantity,
       CASE WHEN st.n > 1 AND st.n * st.q - st.s * st.s > 0 THEN
           (st.n * l.l_quantity::BIGINT - st.s)::DOUBLE
           / sqrt((st.n * st.q - st.s * st.s)::DOUBLE
                  * st.n::DOUBLE / (st.n - 1)::DOUBLE)
       END AS zscore,
       CASE WHEN st.mx - st.mn > 0 THEN
           (l.l_quantity::BIGINT - st.mn)::DOUBLE / (st.mx - st.mn)::DOUBLE
       END AS minmax
FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
"""


@register("scaled_quantity_features", _SCALED_QTY_SQL)
def scaled_quantity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score + min-max scaling of l_quantity per return flag.
    The statistics are exact int64 sums; z = (n*x - S)/sqrt((n*Q - S^2)
    * n/(n-1)) keeps every float op a deterministic function of exact
    integers. One stats aggregate broadcast back — the fact table never
    shuffles."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_returnflag",
        "l_quantity",
    )
    return scale_features(
        li, "l_quantity", ["l_returnflag"], ["l_orderkey", "l_linenumber"]
    )


# ---------------------------------------------------------------------------
# Sparse cosine doc-doc similarity join
# ---------------------------------------------------------------------------

_DOC_COSINE_SQL = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, count(*)::BIGINT AS tf_d FROM tok GROUP BY doc_id, token
),
voc AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token),
keep AS (SELECT token FROM voc WHERE df BETWEEN 2 AND 50),
tfk AS (SELECT tf.doc_id, tf.token, tf.tf_d FROM tf JOIN keep USING (token)),
norms AS (SELECT doc_id, sum(tf_d * tf_d)::BIGINT AS ss FROM tfk GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           sum(a.tf_d * b.tf_d)::BIGINT AS dot
    FROM tfk a JOIN tfk b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT id_a, id_b, dot,
           dot::DOUBLE / (sqrt(na.ss::DOUBLE) * sqrt(nb.ss::DOUBLE)) AS cosine
    FROM pairs
    JOIN norms na ON pairs.id_a = na.doc_id
    JOIN norms nb ON pairs.id_b = nb.doc_id
),
sym AS (
    SELECT id_a AS doc_id, id_b AS neighbor_id, dot, cosine FROM scored
    UNION ALL
    SELECT id_b, id_a, dot, cosine FROM scored
)
SELECT doc_id, neighbor_id, dot, cosine, rk FROM (
    SELECT doc_id, neighbor_id, dot, cosine,
           row_number() OVER (
               PARTITION BY doc_id ORDER BY cosine DESC, neighbor_id
           )::BIGINT AS rk
    FROM sym
) WHERE rk <= 3
"""


@register("doc_cosine_topk", _DOC_COSINE_SQL)
def doc_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most-similar documents per document by sparse tf-vector
    cosine, via an inverted-index join with a document-frequency window
    prune (df in [2, 50]) so no token fans out more than df_max^2 pairs.
    The content-similarity twin of the embedding ANN queries: same top-k
    contract, but over exact token statistics with int64 dot products."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return doc_cosine_topk(docs, k=3, df_min=2, df_max=50)


_QUANTILE_SQL = """
SELECT quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.50) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       quantile_cont(l_quantity, 0.95) AS p95
FROM lineitem
"""


@register("quantile_interpolation", _QUANTILE_SQL)
def quantile_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles of l_quantity. Both engines use the
    same linear-interpolation definition (pos = p * (n-1)); l_quantity is
    integer-valued and the probe fractions are exact binary doubles, so
    the interpolated values are bitwise identical. The 100 TB path swaps
    in approx_percentile (GK sketch) — this query pins the exact
    semantics the sketch approximates."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr("percentile(l_quantity, 0.25D)").alias("p25"),
        F.expr("percentile(l_quantity, 0.50D)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75D)").alias("p75"),
        F.expr("percentile(l_quantity, 0.95D)").alias("p95"),
    )


_SCD2_SQL = """
WITH ranked AS (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
           lag(o_orderstatus) OVER w AS prev,
           row_number() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
    -- NULL-safe change detection, matching operators/scd.py: rn=1 marks
    -- the first row (lag IS NULL can't — a NULL attr also lags NULL) and
    -- IS DISTINCT FROM keeps transitions to/from NULL statuses
    SELECT * FROM ranked WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev
)
SELECT o_custkey,
       o_orderstatus,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("scd2_customer_status", _SCD2_SQL)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of each customer's order
    status over order dates: one row per (customer, status run) with
    [valid_from, valid_to) interval, version number, and is_current flag.
    The reference keeps only current-state frames (pandas overwrite per
    run, bicis/etl/basic_features.py); SCD2 is the warehouse-standard way
    to keep full history queryable with an as-of lookup. One shuffle on
    the dimension key; both windows share the exchange."""
    from bicis_spark.operators.scd import scd2_history

    orders = read_table(spark, sf_dir, "orders")
    return scd2_history(
        orders,
        key_col="o_custkey",
        attr_col="o_orderstatus",
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    )


_CHAR_ENTROPY_SQL = """
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
counts AS (
    SELECT doc_id, ch, count(*)::BIGINT AS c FROM chars GROUP BY doc_id, ch
),
agg AS (
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           count(*)::BIGINT AS n_distinct_chars,
           CAST(sum(CAST(floor(c*log2(c)*1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_qlog,
           CAST(sum(c*(c-1)) AS BIGINT) AS coll
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
       CAST(floor(n_chars*log2(n_chars)*1000000.0) AS BIGINT) - sum_qlog
           AS entropy_q,
       (CAST(floor(n_chars*log2(n_chars)*1000000.0) AS BIGINT) - sum_qlog)
           / (n_chars*1000000) AS entropy_bits,
       coll / (n_chars*(n_chars-1)) AS collision_prob
FROM agg
"""


@register("char_entropy_quality", _CHAR_ENTROPY_SQL)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy + Simpson collision probability per
    document — the gibberish/boilerplate filter signal for corpus
    curation. Bitwise-deterministic despite the transcendental: Spark
    never calls the JVM log (1-ulp drift vs libm, measured); it joins a
    driver-built broadcast table of floor(k*log2(k)*1e6) computed by
    Python's libm, which DuckDB's log2 matches exactly."""
    from bicis_spark.extensions.text import char_entropy

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return char_entropy(docs)


def _bpe_oracle(k: int) -> str:
    """Unroll k BPE training rounds as chained CTEs (count pairs -> pick
    max -> scalar-subquery replace), mirroring the driver loop exactly —
    same trick as _pagerank_oracle."""
    from bicis_spark.extensions.bpe import SEP as s

    ctes = [
        f"r0 AS MATERIALIZED (SELECT doc_id, regexp_replace(text, '(?s)(.)', "
        f"'{s}\\1{s}', 'g') AS s FROM documents "
        "WHERE text IS NOT NULL AND length(text) > 0)"
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT z[1] AS l, z[2] AS r, count(*)::BIGINT AS c "
            f"FROM (SELECT unnest(list_zip(a, a[2:])) AS z FROM "
            f"(SELECT list_filter(string_split(s, '{s}'), x -> x <> '') AS a "
            f"FROM r{i-1})) WHERE z[2] IS NOT NULL GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"r{i} AS MATERIALIZED (SELECT doc_id, replace(s, "
                f"'{s}' || (SELECT l FROM m{i}) || '{s}{s}' || "
                f"(SELECT r FROM m{i}) || '{s}', "
                f"'{s}' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || "
                f"'{s}') AS s FROM r{i-1})"
            )
    union = "\nUNION ALL\n".join(
        f"SELECT {i}::BIGINT AS round, l AS merge_left, r AS merge_right, "
        f"c AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


@register("bpe_merge_table", _bpe_oracle(8))
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 BPE merges on the document corpus; output the merge table
    in merge order with the winning pair's corpus frequency. Each round
    is one map-side-combined pair count + one map-only replace; the
    corpus never shuffles."""
    from bicis_spark.extensions.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return bpe_train(docs, n_merges=8)


def _bpe_encode_oracle(k: int) -> str:
    """Like _bpe_oracle, but applies ALL k merges (builds r_k) and emits
    per-document token statistics of the final tokenization."""
    from bicis_spark.extensions.bpe import SEP as s

    ctes = [
        f"r0 AS MATERIALIZED (SELECT doc_id, regexp_replace(text, '(?s)(.)', "
        f"'{s}\\1{s}', 'g') AS s FROM documents "
        "WHERE text IS NOT NULL AND length(text) > 0)"
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT z[1] AS l, z[2] AS r, "
            f"count(*)::BIGINT AS c "
            f"FROM (SELECT unnest(list_zip(a, a[2:])) AS z FROM "
            f"(SELECT list_filter(string_split(s, '{s}'), x -> x <> '') AS a "
            f"FROM r{i-1})) WHERE z[2] IS NOT NULL GROUP BY 1, 2)"
        )
        ctes.append(
            f"m{i} AS MATERIALIZED (SELECT l, r, c FROM p{i} "
            f"ORDER BY c DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT doc_id, replace(s, "
            f"'{s}' || (SELECT l FROM m{i}) || '{s}{s}' || "
            f"(SELECT r FROM m{i}) || '{s}', "
            f"'{s}' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || "
            f"'{s}') AS s FROM r{i-1})"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT doc_id, "
        f"len(list_filter(string_split(s, '{s}'), x -> x <> ''))::BIGINT "
        f"AS n_tokens, "
        f"len(list_distinct(list_filter(string_split(s, '{s}'), "
        f"x -> x <> '')))::BIGINT AS n_unique_tokens "
        f"FROM r{k}"
    )


@register("bpe_encode_stats", _bpe_encode_oracle(8))
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round trip: train 8 BPE merges, then apply them to the
    corpus and report per-document token counts. The encode pass is
    map-only (merge table folded in as literals), so tokenizing 100 TB
    is a single shuffle-free scan."""
    from bicis_spark.extensions.bpe import bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents", spread=True)
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_train(docs, n_merges=8).collect()
    ]
    toks = bpe_encode(docs, merges)
    return toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias(
            "n_unique_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# Grouped top-k, hash-aggregation plan (window-free)
# ---------------------------------------------------------------------------

_TOPK_AGG_SQL = """
WITH ranked AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
           ) AS rk
    FROM orders
)
SELECT o_custkey, CAST(rk AS BIGINT) AS rank_in_group, o_totalprice, o_orderkey
FROM ranked WHERE rk <= 3
"""


@register("topk_agg_orders_per_customer", _TOPK_AGG_SQL)
def topk_agg_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via the two-phase salted hash-aggregation
    plan (operators/topk.py) — same logical result as the window-sort
    `topk_orders_per_customer`, but every shuffle moves at most
    n_salts*k structs per group, so a hot customer cannot overload one
    task's sort buffer at 100 TB. The oracle is the classic row_number
    formulation, proving plan equivalence."""
    from bicis_spark.operators.topk import topk_by_group_agg

    orders = read_table(spark, sf_dir, "orders")
    return topk_by_group_agg(
        orders,
        group_cols=["o_custkey"],
        order_col="o_totalprice",
        tiebreak_col="o_orderkey",
        k=3,
        payload_cols=["o_orderkey"],
    )


# ---------------------------------------------------------------------------
# Exact interval proration (largest-remainder daily revenue attribution)
# ---------------------------------------------------------------------------

_PRORATE_SQL = """
WITH iv AS (
    SELECT CAST(o.o_orderdate AS DATE) AS start_d,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
           (date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) + 1)::BIGINT AS n_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
),
ex AS (
    SELECT start_d + CAST(t.i AS INTEGER) AS day,
           cents // n_days
               + CASE WHEN t.i < cents % n_days THEN 1 ELSE 0 END
               AS daily_cents
    FROM iv, UNNEST(generate_series(0, n_days - 1)) AS t(i)
)
SELECT CAST(day AS TIMESTAMP) AS day,
       count(*)::BIGINT AS n_slices,
       CAST(sum(daily_cents) AS BIGINT) AS total_cents
FROM ex GROUP BY day
"""


@register("prorated_daily_revenue", _PRORATE_SQL)
def prorated_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prorate each lineitem's revenue across the [order date, ship date]
    interval with exact largest-remainder cent allocation
    (operators/prorate.py), then total per calendar day. Declared plan is
    the DIFFERENCE-ARRAY formulation: each interval emits ≤4 boundary
    deltas (O(intervals) rows) instead of one row per covered day
    (O(interval-days) — 36M at sf0.1, 36B at 100×); a prefix sum over the
    calendar-day grid (bounded by the date span, not data volume)
    reconstructs identical totals. The explode plan remains as
    prorate_daily for per-share outputs; equivalence is test-asserted and
    the oracle (an explicit lateral-unnest replay) gates the delta plan's
    values bit-for-bit."""
    from bicis_spark.operators.prorate import prorated_daily_totals_delta

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    iv = li.join(orders, li.l_orderkey == orders.o_orderkey)
    daily = prorated_daily_totals_delta(
        iv,
        start_col="o_orderdate",
        end_col="l_shipdate",
        amount_col="l_extendedprice",
    )
    return daily.select(
        F.col("day").cast("timestamp").alias("day"), "n_slices", "total_cents"
    )


# ---------------------------------------------------------------------------
# Deterministic per-group sampling (hash-order top-n, zero RNG)
# ---------------------------------------------------------------------------

_GROUP_SAMPLE_SQL = """
WITH h AS (
    SELECT user_id, event_id, ts,
           md5(user_id::VARCHAR || ':' || event_id::VARCHAR) AS sample_key
    FROM events
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY sample_key, event_id
    ) AS rn
    FROM h
)
SELECT user_id, CAST(rn AS BIGINT) AS rank_in_group, sample_key, event_id, ts
FROM r WHERE rn <= 5
"""


@register("group_sample_events", _GROUP_SAMPLE_SQL)
def group_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-without-replacement n-per-group sample with zero RNG: rank
    rows by md5(group:id) and keep the first 5 per user. Runs on the
    skew-bounded hash-agg top-k plan (operators/topk.py), so a bot user
    with 10^9 events still ships at most n_salts*5 structs per shuffle —
    the deterministic replacement for RAND()-based per-group sampling
    (re-runs and retried tasks always pick identical rows)."""
    from bicis_spark.operators.topk import topk_by_group_agg

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.md5(
            F.concat_ws(":", F.col("user_id"), F.col("event_id"))
        ).alias("sample_key"),
    )
    return topk_by_group_agg(
        ev,
        group_cols=["user_id"],
        order_col="sample_key",
        tiebreak_col="event_id",
        k=5,
        payload_cols=["event_id", "ts"],
        descending=False,
    )


# ---------------------------------------------------------------------------
# Approximate-percentile accuracy contract (GK sketch vs exact)
# ---------------------------------------------------------------------------

_APPROX_PCT_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       TRUE AS within_rank_band
FROM lineitem GROUP BY l_returnflag
"""


@register("quantile_approx_contract", _APPROX_PCT_SQL)
def quantile_approx_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for percentiles is percentile_approx (mergeable GK
    sketch — single pass, map-side combinable; exact percentile() sorts
    every group). Its published guarantee is rank error <= 1/accuracy;
    this query SHIPS that guarantee as a contract: the approx p50 must lie
    between the exact percentiles at rank 0.5 +/- 2/accuracy. The oracle
    pins the exact p50 (bitwise — same linear interpolation as DuckDB's
    quantile_cont) and a literal TRUE: any contract violation hash-fails."""
    acc = 1000
    eps = 2.0 / acc
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr(f"percentile_approx(l_extendedprice, 0.5, {acc})").alias("_ap"),
        F.expr(f"percentile(l_extendedprice, {0.5 - eps})").alias("_lo"),
        F.expr(f"percentile(l_extendedprice, {0.5 + eps})").alias("_hi"),
    )
    return agg.select(
        "l_returnflag",
        "exact_p50",
        ((F.col("_ap") >= F.col("_lo")) & (F.col("_ap") <= F.col("_hi"))).alias(
            "within_rank_band"
        ),
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (decorrelation showcase)
# ---------------------------------------------------------------------------

_ABOVE_AVG_SQL = """
SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
FROM customer c
WHERE c.c_acctbal > (
    SELECT avg(c2.c_acctbal) FROM customer c2
    WHERE c2.c_nationkey = c.c_nationkey
)
"""


@register("above_avg_customers", _ABOVE_AVG_SQL)
def above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer vs their nation's average
    balance), written AS the subquery through spark.sql so Catalyst's
    decorrelation rewrites it to an aggregate + join — the plan a hand
    optimizer would write, produced from the declarative form. avg() here
    is each engine's native double mean; both compute sum/count over the
    same per-nation values with the same pairwise-summation order at this
    group size (verified by the hash gate), and the comparison output is
    the raw input values, not the mean itself."""
    from bicis_spark.sources.io import read_table as _rt

    _rt(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_ABOVE_AVG_SQL)


# ---------------------------------------------------------------------------
# GROUPING SETS + grouping_id (the generalized rollup/cube surface)
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
           AS grouping_id
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@register("grouping_sets_order_stats", _GROUPING_SETS_SQL)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping-id disambiguation (a NULL key value vs a
    super-aggregate row are different things): the generalized form of the
    rollup/cube surface (§2.10), one Expand + one hash agg — not one scan
    per set."""
    from bicis_spark.sources.io import read_table as _rt

    _rt(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# Higher-order array functions (transform/filter/aggregate/zip_with)
# ---------------------------------------------------------------------------

_ARRAY_HOF_SQL = """
WITH per_order AS (
    SELECT l_orderkey,
           list(CAST(l_quantity AS BIGINT) ORDER BY l_linenumber, l_quantity) AS qtys
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(len(qtys) AS INTEGER) AS n_items,
       CAST(list_sum(list_transform(qtys, q -> q * q)) AS BIGINT) AS sum_sq_qty,
       CAST(len(list_filter(qtys, q -> q >= 25)) AS INTEGER) AS n_large,
       CAST(list_sum(list_transform(qtys, q -> CASE WHEN q >= 25 THEN q ELSE 0 END)) AS BIGINT)
           AS large_qty_total
FROM per_order
"""


@register("array_hof_order_stats", _ARRAY_HOF_SQL)
def array_hof_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over collected per-order quantity
    vectors: transform (map), filter, aggregate (fold) — all JVM lambda
    expressions inside whole-stage codegen, the idiom for array<T> columns
    at scale (no explode round-trip, no Python). The collect_list is made
    deterministic by array_sort on a (linenumber, quantity) struct before
    the integer folds."""
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").cast("long").alias("q"),
                    )
                )
            ),
            lambda s: s["q"],
        ).alias("qtys")
    )
    qtys = F.col("qtys")
    return per_order.select(
        "l_orderkey",
        F.size(qtys).alias("n_items"),
        F.aggregate(
            F.transform(qtys, lambda q: q * q),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq_qty"),
        F.size(F.filter(qtys, lambda q: q >= 25)).alias("n_large"),
        F.aggregate(
            qtys,
            F.lit(0).cast("long"),
            lambda acc, q: acc + F.when(q >= 25, q).otherwise(F.lit(0)),
        ).alias("large_qty_total"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO (upsert + delete in one full-outer pass)
# ---------------------------------------------------------------------------

_MERGE_SQL = """
WITH fh AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
sh AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
tl AS (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM fh
),
t AS (
    SELECT user_id, ts AS last_ts, event_type AS last_type, CAST(n AS BIGINT) AS n_events
    FROM tl WHERE rn = 1 AND user_id % 3 != 0
),
sl AS (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM sh
),
s AS (
    SELECT user_id, ts AS last_ts, event_type AS last_type, CAST(n AS BIGINT) AS n_new
    FROM sl WHERE rn = 1 AND user_id % 5 != 0
)
SELECT coalesce(t.user_id, s.user_id) AS user_id,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL THEN s.last_ts
            WHEN t.user_id IS NOT NULL THEN t.last_ts
            ELSE s.last_ts END AS last_ts,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL THEN s.last_type
            WHEN t.user_id IS NOT NULL THEN t.last_type
            ELSE s.last_type END AS last_type,
       CAST(CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
                 THEN t.n_events + s.n_new
            WHEN t.user_id IS NOT NULL THEN t.n_events
            ELSE s.n_new END AS BIGINT) AS n_events
FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
-- coalesce(.., FALSE): SQL MERGE only fires a WHEN clause on TRUE, and
-- merge_into coalesces a NULL delete condition to FALSE — a NULL
-- s.last_type must keep the row, not delete it (NOT(NULL) is NULL and
-- would filter it out)
WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
           AND coalesce(s.last_type = 'error', FALSE))
"""


@register("merge_user_state", _MERGE_SQL)
def merge_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (operators/merge.py): a per-user state table
    built from the first half-month absorbs the second half as a CDC-style
    source — matched rows whose incoming last event is an error are
    DELETEd, other matches UPDATE (advance last_ts/type, accumulate
    counts), unmatched source users INSERT. One full-outer join, one
    shuffle; the %3/%5 key filters exist to exercise all three branches
    (insert-only and keep-only populations) deterministically."""
    from bicis_spark.operators.merge import merge_into

    ev = read_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def _state(df: DataFrame, n_name: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max("ts").alias("last_ts"),
            F.max_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("last_type"),
            F.count(F.lit(1)).alias(n_name),
        )

    target = _state(ev.where(F.col("ts") < split), "n_events").where(
        F.col("user_id") % 3 != 0
    )
    source = _state(ev.where(F.col("ts") >= split), "n_new").where(
        F.col("user_id") % 5 != 0
    )
    return merge_into(
        target,
        source,
        key_cols=["user_id"],
        update_set={
            "last_ts": F.col("s.last_ts"),
            "last_type": F.col("s.last_type"),
            "n_events": F.col("t.n_events") + F.col("s.n_new"),
        },
        delete_cond=F.col("s.last_type") == "error",
        insert_values={
            "user_id": F.col("s.user_id"),
            "last_ts": F.col("s.last_ts"),
            "last_type": F.col("s.last_type"),
            "n_events": F.col("s.n_new"),
        },
    )


# ---------------------------------------------------------------------------
# Percent-of-total (ratio_to_report) window
# ---------------------------------------------------------------------------

_REV_SHARE_SQL = """
WITH nr AS (
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
)
SELECT n_name, rev_cents,
       CAST(rev_cents AS DOUBLE) / CAST(sum(rev_cents) OVER () AS DOUBLE)
           AS revenue_share
FROM nr
"""


@register("revenue_share_by_nation", _REV_SHARE_SQL)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of global
    revenue via an unpartitioned window SUM over the 25-row aggregate —
    the window runs over the AGGREGATE, never the fact table, so the
    single-partition window holds |nations| rows at any corpus size.
    Exact integer cents feed one bigint/bigint double division (bitwise
    on both engines)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    nr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    total = F.sum("rev_cents").over(Window.partitionBy())
    return nr.select(
        "n_name",
        "rev_cents",
        (F.col("rev_cents").cast("double") / total.cast("double")).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) anomaly detection
# ---------------------------------------------------------------------------

_MAD_SQL = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events WHERE value IS NOT NULL GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
    WHERE e.value IS NOT NULL
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       min(d.med) AS median_value,
       min(m.mad) AS mad,
       CAST(sum(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register("mad_robust_anomalies", _MAD_SQL)
def mad_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |x − median| > 3·MAD per event type.
    Median/MAD instead of mean/σ — a single 10^9-valued bot row shifts a
    mean arbitrarily but moves the median by at most one rank. Two exact
    percentile passes with a broadcast 1-row-per-group join between them;
    interpolation arithmetic is bitwise-aligned with DuckDB quantile_cont
    (proven by the quantile_interpolation query)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame (interval moving aggregate)
# ---------------------------------------------------------------------------

_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS total_30d
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
)
"""


@register("orders_30d_range_frame", _RANGE_FRAME_SQL)
def orders_30d_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day per-customer order stats via a RANGE frame over
    epoch seconds — the time-based frame the ROWS variant
    (order_window_frames) cannot express: each row's frame is defined by
    VALUE distance, so gaps and bursts are handled correctly. Exact
    DECIMAL money sums inside the frame. Epoch-seconds ordering keeps the
    frame arithmetic in integers on both engines."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("total_30d"),
    )


# ---------------------------------------------------------------------------
# Grouped percentile vectors (one pass, array of quantiles)
# ---------------------------------------------------------------------------

_PCT_VECTOR_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register("price_percentile_vector", _PCT_VECTOR_SQL)
def price_percentile_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile VECTOR per group in one aggregate pass —
    percentile(col, array(...)) sorts each group once for all four
    quantiles (four scalar calls would sort four times). Interpolation is
    bitwise-aligned with DuckDB quantile_cont."""
    li = read_table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99))")
    return li.groupBy("l_returnflag").agg(
        pct[0].alias("p25"),
        pct[1].alias("p50"),
        pct[2].alias("p75"),
        pct[3].alias("p99"),
    )


# ---------------------------------------------------------------------------
# Pivot with multiple aggregates per cell
# ---------------------------------------------------------------------------

_PIVOT_MULTI_SQL = """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F_total,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O_total,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P_total
FROM orders GROUP BY o_orderpriority
"""


@register("pivot_status_multi_agg", _PIVOT_MULTI_SQL)
def pivot_status_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with TWO aggregates per pivoted value (count + exact-decimal
    sum) — pivot(values) with an explicit value list avoids the extra
    distinct-scan Spark needs to discover pivot values, and multiple aggs
    share the single hash aggregate. Column names pinned to <val>_<agg>
    on both engines."""
    o = read_table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    return out.select(
        "o_orderpriority",
        *[
            F.col(f"{s}_{a}").alias(f"{s}_{a}")
            for s in ("F", "O", "P")
            for a in ("n", "total")
        ],
    )


# ---------------------------------------------------------------------------
# Null semantics battery (null-safe join, null grouping, count vs count(col))
# ---------------------------------------------------------------------------

_NULL_BATTERY_SQL = """
WITH e AS (
    SELECT event_id,
           nullif(user_id % 5, 0) AS grp,
           CASE WHEN value < 10 THEN NULL ELSE value END AS v
    FROM events
),
dim(g, label) AS (
    VALUES (1, 'one'), (2, 'two'), (3, 'three'), (4, 'four'), (NULL, 'missing')
)
SELECT d.label,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(e.v) AS BIGINT) AS n_nonnull,
       min(e.v) AS min_v,
       max(e.v) AS max_v
FROM e JOIN dim d ON e.grp IS NOT DISTINCT FROM d.g
GROUP BY d.label
"""


@register("null_semantics_battery", _NULL_BATTERY_SQL)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL null semantics pinned: the null-safe equality join (`<=>` /
    IS NOT DISTINCT FROM) routes null-keyed rows to the null dimension row
    instead of dropping them (a plain equi-join silently loses them — the
    classic fact-table leak), count(*) vs count(col) disagree exactly by
    the null count, and min/max ignore nulls. Null-safe joins still hash-
    partition on the key, so the plan is a normal broadcast/SMJ, not BNLJ."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.nullif(F.col("user_id") % 5, F.lit(0)).alias("grp"),
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias("v"),
    )
    dim = local_frame(spark, 
        [(1, "one"), (2, "two"), (3, "three"), (4, "four"), (None, "missing")],
        "g long, label string",
    )
    return (
        e.join(F.broadcast(dim), e["grp"].eqNullSafe(dim["g"]))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("v").alias("n_nonnull"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )


# ---------------------------------------------------------------------------
# Typed JSON parse (from_json with schema, vs string-path extraction)
# ---------------------------------------------------------------------------

_JSON_TYPED_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
FROM events
WHERE props IS NOT NULL
GROUP BY 1
"""


@register("json_typed_parse", _JSON_TYPED_SQL)
def json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema yields a
    struct column whose fields prune like any other (vs get_json_object's
    per-path string extraction in json_props_stats). One parse feeds both
    the bucket key and the sum."""
    ev = read_table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    parsed = ev.select(F.from_json("props", "k INT").alias("p"))
    return (
        parsed.select((F.col("p.k") % 10).alias("k_bucket"), F.col("p.k").alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users (overlapping event-time windows, batch)
# ---------------------------------------------------------------------------

_SLIDING_DISTINCT_SQL = """
WITH starts AS (
    -- epoch() returns DOUBLE seconds and ::BIGINT ROUNDS half-up, so an
    -- event in a bucket's last second with fraction >= .5 would shift
    -- into the next window; epoch_us // 1000000 truncates like Spark's
    -- window() does (first observed at sf0.1 — sf0.01 has no such event)
    SELECT user_id,
           (epoch_us(ts) // 1000000 // 10800) * 10800 AS s0
    FROM events
),
u AS (
    SELECT user_id, s0 AS s FROM starts
    UNION ALL
    SELECT user_id, s0 - 10800 AS s FROM starts
)
SELECT CAST(to_timestamp(s) AS TIMESTAMP) AS win_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM u GROUP BY s
"""


@register("sliding_window_distinct_users", _SLIDING_DISTINCT_SQL)
def sliding_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 6h/3h sliding windows with a DISTINCT aggregate: each
    event lands in exactly window/slide = 2 windows (Spark's window()
    replicates at the Expand stage, map-side — the oracle makes the same
    two-alignment replication explicit with a UNION ALL). Distinct
    aggregation then deduplicates per window."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("win"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("win.start").alias("win_start"), "n_users")
    )


# ---------------------------------------------------------------------------
# Deterministic hash split (random-like train/test assignment, zero RNG)
# ---------------------------------------------------------------------------

_HASH_SPLIT_SQL = f"""
WITH assigned AS (
    SELECT event_id,
           {_hash_split_sql("event_id", "split")} AS split
    FROM events
)
SELECT split, CAST(count(*) AS BIGINT) AS n,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM assigned GROUP BY split
"""


@register("hash_split_assignment", _HASH_SPLIT_SQL)
def hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-LIKE 80/10/10 split with zero RNG: the split is a pure
    function of the row key (first md5 hex char mod 10), so assignment is
    identical under retries, repartitioning, and re-runs — the property
    randomSplit() cannot give (it samples per-partition). Map-only; the
    time-based splitter (operators/split.py) remains the right tool when
    leakage-by-time matters."""
    ev = read_table(spark, sf_dir, "events")
    assigned = ev.select(
        "event_id",
        _hash_split(F.col("event_id"), "split").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# Accumulating-snapshot fact (order lifecycle wide row)
# ---------------------------------------------------------------------------

_LIFECYCLE_SQL = """
SELECT o.o_orderkey, o.o_orderstatus, o.o_orderdate,
       CAST(count(l.l_orderkey) AS BIGINT) AS n_lines,
       min(l.l_shipdate) AS first_ship,
       max(l.l_shipdate) AS last_ship,
       CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(max(l.l_shipdate) AS DATE)) AS BIGINT)
           AS days_to_complete,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS net_revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderdate
"""


@register("order_lifecycle_snapshot", _LIFECYCLE_SQL)
def order_lifecycle_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact build: one wide row per order carrying
    its lifecycle milestones (first/last ship, completion lag, line count,
    exact net revenue). The kimball-style pattern for process-tracking
    tables; one shuffle join + one hash agg, both on the order key, so the
    exchange is shared (ReusedExchange / single partitioning)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus", "o_orderdate")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
            F.datediff(
                F.to_date(F.max("l_shipdate")), F.to_date("o_orderdate")
            ).cast("long").alias("days_to_complete"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("net_revenue"),
        )
        .select(
            "o_orderkey", "o_orderstatus", "o_orderdate", "n_lines",
            "first_ship", "last_ship", "days_to_complete", "net_revenue",
        )
    )


# ---------------------------------------------------------------------------
# Aggregate-as-window-function: running median
# ---------------------------------------------------------------------------

_RUNNING_MEDIAN_SQL = """
SELECT event_id, user_id, ts,
       quantile_cont(value, 0.5) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS running_median
FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL
"""


@register("running_median_value", _RUNNING_MEDIAN_SQL)
def running_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY aggregate runs as a window function over a frame — here the
    exact median over each user's purchase history so far (the robust
    running baseline for drift monitoring; a running MEAN is one bot
    purchase away from useless). Interpolation parity with DuckDB's
    quantile_cont is already pinned by quantile_interpolation. Per-user
    frames keep the recompute bounded by human purchase rates (the
    user-partitioned-window skew argument in SCALE.md)."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr("percentile(value, 0.5)").over(w).alias("running_median"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (co-purchase graph census)
# ---------------------------------------------------------------------------

_TRIANGLES_SQL = """
WITH pairs AS (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
),
verts AS (
    SELECT count(DISTINCT v)::BIGINT AS n_vertices FROM (
        SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs
    )
),
ecount AS (SELECT count(*)::BIGINT AS n_edges FROM pairs),
tri AS (
    SELECT count(*)::BIGINT AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.b = e2.a
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_vertices, n_edges, n_triangles FROM verts, ecount, tri
"""


@register("part_copurchase_triangles", _TRIANGLES_SQL)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts are adjacent
    when some order contains both): compact-forward counting — a < b < c
    vertex ordering makes each triangle count once and bounds wedge
    fan-out by forward degree (operators/graph.py:triangle_count). The
    per-order pair build is O(basket²) per order, bounded by basket size,
    never corpus size."""
    from bicis_spark.operators.graph import triangle_count

    pairs = _copurchase_pairs(spark, sf_dir)
    # |parts| scales linearly with SF, so no UNCONDITIONAL broadcast of
    # the degree table; "auto" (r8) counts it at runtime and broadcasts
    # only under the 4M-vertex gate — measurement-bounded, so the
    # dimension-small bench graph gets map-side rank attaches while a
    # fact-scaled graph degrades to the shuffle default (SCALE.md r8 A/B)
    return triangle_count(pairs, "src", "dst", broadcast_degrees="auto")


# ---------------------------------------------------------------------------
# First/last-touch attribution (purchase -> preceding click window)
# ---------------------------------------------------------------------------

_ATTRIBUTION_SQL = """
WITH p AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
joined AS (
    SELECT p.event_id, c.ts AS c_ts, c.event_id AS c_id,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY c.ts DESC, c.event_id DESC) AS rn_last,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY c.ts ASC, c.event_id ASC) AS rn_first
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
),
touch AS (
    SELECT p.event_id,
           max(CASE WHEN j.rn_last = 1 THEN j.c_id END) AS last_touch_click,
           max(CASE WHEN j.rn_first = 1 THEN j.c_id END) AS first_touch_click
    FROM p LEFT JOIN joined j ON j.event_id = p.event_id
    GROUP BY p.event_id
)
SELECT CASE WHEN last_touch_click IS NULL THEN 'unattributed'
            WHEN last_touch_click = first_touch_click THEN 'single_touch'
            ELSE 'multi_touch' END AS attribution,
       CAST(count(*) AS BIGINT) AS n_purchases
FROM touch GROUP BY 1
"""


@register("purchase_attribution", _ATTRIBUTION_SQL)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over a 7-day lookback: each purchase gets its
    LAST preceding click (last-touch) and its FIRST click inside the
    window (first-touch), both via the banded as-of machinery — the
    lookback bound is what keeps the pre-aggregate join from carrying a
    user's full click history. Purchases split into unattributed /
    single_touch / multi_touch buckets."""
    from bicis_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    last = asof_join(
        purchases, clicks,
        left_ts="ts", right_ts="c_ts",
        by_left="user_id", by_right="c_user",
        right_cols=["c_id"], tiebreak="c_id", left_id="event_id",
        direction="backward", tolerance_s=7 * 86_400,
    ).select("event_id", F.col("c_id").alias("last_touch_click"))
    # first-touch inside the band: min_by over the same banded join shape
    lts = F.col("_l.ts")
    rts = F.col("_r.c_ts")
    first = (
        purchases.alias("_l")
        .join(
            clicks.alias("_r"),
            (F.col("_l.user_id") == F.col("_r.c_user"))
            & (rts <= lts)
            & (F.unix_micros(lts) - F.unix_micros(rts) <= 7 * 86_400 * 1_000_000),
            "inner",
        )
        .groupBy(F.col("_l.event_id").alias("event_id"))
        .agg(
            F.min_by(
                F.col("_r.c_id"),
                F.struct(F.unix_micros(rts), F.col("_r.c_id")),
            ).alias("first_touch_click")
        )
    )
    touch = (
        purchases.select("event_id")
        .join(last, "event_id", "left")
        .join(first, "event_id", "left")
    )
    return (
        touch.select(
            F.when(F.col("last_touch_click").isNull(), "unattributed")
            .when(
                F.col("last_touch_click") == F.col("first_touch_click"),
                "single_touch",
            )
            .otherwise("multi_touch")
            .alias("attribution")
        )
        .groupBy("attribution")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# Winsorized feature statistics (percentile clipping, exact quantized mean)
# ---------------------------------------------------------------------------

_WINSORIZE_SQL = """
WITH b AS (
    SELECT event_type,
           quantile_cont(value, 0.01) AS lo,
           quantile_cont(value, 0.99) AS hi
    FROM events WHERE value IS NOT NULL GROUP BY event_type
),
c AS (
    SELECT e.event_type,
           least(greatest(e.value, b.lo), b.hi) AS cv
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.value IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(cv * 1000000) AS BIGINT)) AS BIGINT) AS clipped_sum_micros,
       min(cv) AS min_clipped,
       max(cv) AS max_clipped
FROM c GROUP BY event_type
"""


@register("winsorized_value_stats", _WINSORIZE_SQL)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the standard outlier treatment for regression
    features: clip each value into its group's [p1, p99] band (exact
    percentiles, broadcast back as a 1-row-per-group join), then
    aggregate. The sum is exact integer micros (an order-dependent double
    sum would break the hash gate and retry-determinism alike); callers
    derive the mean as sum/1e6/n."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("cv"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("cv") * 1_000_000).cast("long"))
        .cast("long")
        .alias("clipped_sum_micros"),
        F.min("cv").alias("min_clipped"),
        F.max("cv").alias("max_clipped"),
    )


# ---------------------------------------------------------------------------
# Session co-occurrence lift (association analytics, log-free PMI)
# ---------------------------------------------------------------------------

_LIFT_SQL = """
WITH s AS (
    SELECT user_id, ts, event_type,
           sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
),
st AS (SELECT DISTINCT user_id, session_no, event_type FROM s),
n_sessions AS (SELECT count(DISTINCT (user_id, session_no))::BIGINT AS ns FROM s),
singles AS (
    SELECT event_type, count(*)::BIGINT AS n_a FROM st GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*)::BIGINT AS n_ab
    FROM st a JOIN st b
      ON a.user_id = b.user_id AND a.session_no = b.session_no
     AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab, sa.n_a, sb.n_a AS n_b,
       CAST(p.n_ab * ns.ns AS DOUBLE) / CAST(sa.n_a * sb.n_a AS DOUBLE) AS lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN n_sessions ns
"""


@register("session_cooccurrence_lift", _LIFT_SQL)
def session_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event types at session granularity:
    lift(a,b) = P(a,b)/(P(a)·P(b)) over 30-minute-gap sessions — PMI
    without the log, so the arithmetic stays one exact integer product
    per side and a single double division (bitwise both engines; the
    log-based variant would need the broadcast-log-table trick). Sessions
    come from the engine's sessionization; per-session types deduplicate
    BEFORE the pair join, so the join input is |sessions|×|types| at
    worst, never raw events."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("ts").over(w).alias("prev"),
    ).select(
        "user_id", "event_type",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev"))
                   > 1_800_000_000),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    st = s.select("user_id", "session_no", "event_type").distinct()
    ns = s.select("user_id", "session_no").distinct().agg(
        F.count(F.lit(1)).alias("ns")
    )
    singles = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_no") == F.col("b.session_no"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_a").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(F.broadcast(ns))
        .select(
            "type_a", "type_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("ns")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Session-level conversion funnel (sessionization ∘ funnel composition)
# ---------------------------------------------------------------------------

_SESSION_FUNNEL_SQL = """
WITH s AS (
    SELECT user_id, ts, event_id, event_type,
           sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_no
    FROM (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
),
keyed AS (SELECT user_id * 1000000 + session_no AS sk, ts, event_type FROM s),
s1 AS (SELECT sk, min(ts) AS t1 FROM keyed WHERE event_type = 'view' GROUP BY sk),
s2 AS (
    SELECT k.sk, min(k.ts) AS t2 FROM keyed k JOIN s1 ON k.sk = s1.sk
    WHERE k.event_type = 'click' AND k.ts > s1.t1 GROUP BY k.sk
),
s3 AS (
    SELECT k.sk, min(k.ts) AS t3 FROM keyed k JOIN s2 ON k.sk = s2.sk
    WHERE k.event_type = 'purchase' AND k.ts > s2.t2 GROUP BY k.sk
),
c AS (
    SELECT (SELECT count(*) FROM s1)::BIGINT AS n1,
           (SELECT count(*) FROM s2)::BIGINT AS n2,
           (SELECT count(*) FROM s3)::BIGINT AS n3
)
SELECT 1::BIGINT AS step, 'view' AS step_name, n1 AS n_users,
       n1::DOUBLE / nullif(n1, 0)::DOUBLE AS conv_from_first FROM c
UNION ALL
SELECT 2::BIGINT, 'click', n2, n2::DOUBLE / nullif(n1, 0)::DOUBLE FROM c
UNION ALL
SELECT 3::BIGINT, 'purchase', n3, n3::DOUBLE / nullif(n1, 0)::DOUBLE FROM c
"""


@register("session_conversion_funnel", _SESSION_FUNNEL_SQL)
def session_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel at SESSION granularity — view→click→purchase
    must happen strictly in order within one 30-minute-gap session, the
    intra-visit conversion question the per-user funnel
    (funnel_view_click_purchase) cannot answer. Composition of the
    engine's sessionization window with funnel_counts on a composite
    (user, session) key; each step stays a min-ts aggregate chained on
    the reused session key."""
    from pyspark.sql import Window

    from bicis_spark.operators.funnel import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    keyed = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("ts").over(w).alias("prev"),
        )
        .select(
            "ts", "event_type",
            (
                F.col("user_id") * 1_000_000
                + F.sum(
                    F.when(
                        F.col("prev").isNull()
                        | (
                            F.unix_micros(F.col("ts"))
                            - F.unix_micros(F.col("prev"))
                            > 1_800_000_000
                        ),
                        1,
                    ).otherwise(0)
                ).over(w.rowsBetween(Window.unboundedPreceding, 0))
            ).alias("sk"),
        )
    )
    return funnel_counts(
        keyed,
        user_col="sk",
        ts_col="ts",
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user
# ---------------------------------------------------------------------------

_TWAP_SQL = """
WITH seg AS (
    SELECT user_id,
           CAST(round(value * 1000) AS BIGINT) AS v_milli,
           (epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
            - epoch_us(ts)) // 1000000 AS dt_s
    FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(dt_s) AS BIGINT) AS total_s,
       CAST(sum(v_milli * dt_s) AS BIGINT) AS weighted_milli_s,
       CAST(sum(v_milli * dt_s) AS DOUBLE) / CAST(sum(dt_s) * 1000 AS DOUBLE)
           AS twap
FROM seg WHERE dt_s IS NOT NULL AND dt_s > 0
GROUP BY user_id
"""


@register("twap_user_value", _TWAP_SQL)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation holds until
    the user's next event (lead() segment duration), so bursts of readings
    don't dominate the average the way a row-mean lets them. All
    accumulation in exact integers — milli-quantized values × whole-second
    durations stay far inside int64 (1e5 × 2.6e6 × 1e4 rows ≈ 1e15) — with
    one final double division."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 1000).cast("long").alias("v_milli"),
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
            / F.lit(1_000_000)
        ).cast("long").alias("dt_s"),
    ).where(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dt_s").cast("long").alias("total_s"),
        F.sum(F.col("v_milli") * F.col("dt_s")).cast("long").alias(
            "weighted_milli_s"
        ),
        (
            F.sum(F.col("v_milli") * F.col("dt_s")).cast("double")
            / (F.sum("dt_s") * 1000).cast("double")
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# Pareto / cumulative-share analysis (revenue concentration by decile)
# ---------------------------------------------------------------------------

_PARETO_SQL = """
WITH cr AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents,
           ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
    FROM cr
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS decile_cents,
       CAST(sum(cents) AS DOUBLE)
           / CAST(sum(sum(cents)) OVER () AS DOUBLE) AS revenue_share
FROM ranked GROUP BY decile
"""


@register("customer_revenue_pareto", _PARETO_SQL)
def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 question): customers ranked into
    spend deciles, each decile's share of total revenue. The ntile runs
    over the per-customer AGGREGATE (|customers| rows, not orders), the
    share window over the 10-row decile aggregate; exact integer cents
    everywhere, tie-broken by customer key so decile edges are
    deterministic."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = cr.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy(F.col("cents").desc(), F.col("o_custkey")))
        .cast("long")
        .alias("decile"),
    )
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("decile_cents"),
    )
    total = F.sum("decile_cents").over(Window.partitionBy())
    return agg.select(
        "decile",
        "n_customers",
        "decile_cents",
        (F.col("decile_cents").cast("double") / total.cast("double")).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# Peak burst rate (max events in any forward 5-minute window per user)
# ---------------------------------------------------------------------------

_PEAK_RATE_SQL = """
WITH c AS (
    SELECT user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN CURRENT ROW AND 299999999 FOLLOWING)
               AS w_count
    FROM events
)
SELECT user_id,
       CAST(max(w_count) AS BIGINT) AS peak_5min_events,
       CAST(count(*) AS BIGINT) AS n_events
FROM c GROUP BY user_id
"""


@register("peak_event_rate", _PEAK_RATE_SQL)
def peak_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: each user's maximum event count inside ANY
    5-minute window (every event anchors a forward RANGE frame — the W1
    window shape repurposed for rate limiting / abuse detection). The
    per-user frame recompute is bounded by human event rates; a hot
    key would take the same bucketed-window treatment as W1."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(0, 299_999_999)
    )
    c = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("w_count")
    )
    return c.groupBy("user_id").agg(
        F.max("w_count").cast("long").alias("peak_5min_events"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Clickstream path mining (top event-type trigrams)
# ---------------------------------------------------------------------------

_PATH_TRIGRAMS_SQL = """
WITH seq AS (
    SELECT event_type AS a,
           lead(event_type, 1) OVER w AS b,
           lead(event_type, 2) OVER w AS c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
    SELECT a || '>' || b || '>' || c AS path, count(*) AS n
    FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
    GROUP BY 1
)
SELECT path, CAST(n AS BIGINT) AS n,
       CAST(rank() OVER (ORDER BY n DESC) AS BIGINT) AS rnk
FROM t
QUALIFY rank() OVER (ORDER BY n DESC) <= 10
"""


@register("path_trigrams_top10", _PATH_TRIGRAMS_SQL)
def path_trigrams_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 10 most common 3-step event-type
    sequences across user histories. Two lead() taps on one per-user
    window build the trigram (no self-joins, no explode), then one hash
    agg over at most |types|³ keys. rank() (not row_number) keeps count
    ties deterministic without inventing an order."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("b").isNotNull() & F.col("c").isNotNull())
    t = seq.groupBy(
        F.concat_ws(">", "a", "b", "c").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    ranked = t.select(
        "path", "n",
        F.rank().over(Window.orderBy(F.col("n").desc())).cast("long").alias("rnk"),
    )
    return ranked.where(F.col("rnk") <= 10)


# ---------------------------------------------------------------------------
# Inter-event latency distribution (gap percentiles per event type)
# ---------------------------------------------------------------------------

_GAP_PCT_SQL = """
WITH g AS (
    SELECT event_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           )) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(count(gap_us) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_us,
       quantile_cont(gap_us, 0.5) AS p50_us,
       quantile_cont(gap_us, 0.9) AS p90_us,
       quantile_cont(gap_us, 0.99) AS p99_us,
       CAST(max(gap_us) AS BIGINT) AS max_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@register("event_gap_percentiles", _GAP_PCT_SQL)
def event_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-distribution profile: per event type, the percentile vector
    of inter-arrival gaps within each user's stream of that type — the
    SLO-style view (p50/p90/p99) of behavioral cadence. Gaps are exact
    integer microseconds from one lag() window; percentiles interpolate
    over integers, so even the interpolated values are bitwise-stable."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    pct = F.expr("percentile(gap_us, array(0.5, 0.9, 0.99))")
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").cast("long").alias("min_us"),
        pct[0].alias("p50_us"),
        pct[1].alias("p90_us"),
        pct[2].alias("p99_us"),
        F.max("gap_us").cast("long").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (round 4)
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH base AS (
    SELECT o_custkey AS c_custkey,
           date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01 00:00:00')
               AS recency_days,
           count(*)::BIGINT AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT c_custkey, recency_days, frequency, monetary,
           ntile(4) OVER (ORDER BY recency_days ASC, c_custkey) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, c_custkey) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, c_custkey) AS m_score
    FROM base
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       count(*)::BIGINT AS n_customers,
       CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue
FROM scored
GROUP BY r_score, f_score, m_score
"""


@register("rfm_segments", _RFM_SQL)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation: per-
    customer order stats quartiled into 4×4×4 segments with customer and
    revenue totals per cell — the classic CRM cohorting report.

    Ties inside each ntile are broken by customer key, so the quartile
    assignment is a deterministic total order (plain ntile over a metric
    with duplicates is arbitrary under retries). Scale: the per-customer
    aggregate is one hash agg; the three ntiles each need a total order
    over the |customers|-row AGGREGATE (not the fact table) — at extreme
    cardinality the scale path swaps ntile for approx_percentile cutoffs
    + a broadcast bucket join, the documented quantity_deciles pattern."""
    orders = read_table(spark, sf_dir, "orders")
    ref = F.lit("2001-09-01").cast("timestamp")
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(ref, F.max("o_orderdate")).cast("long").alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("c_custkey"))
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("c_custkey"))
    w_m = Window.orderBy(F.col("monetary").desc(), F.col("c_custkey"))
    scored = base.select(
        "c_custkey",
        "monetary",
        F.ntile(4).over(w_r).cast("long").alias("r_score"),
        F.ntile(4).over(w_f).cast("long").alias("f_score"),
        F.ntile(4).over(w_m).cast("long").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("monetary").cast("decimal(18,2)"))
        .cast("double")
        .alias("segment_revenue"),
    )


# ---------------------------------------------------------------------------
# Feature drift monitoring (round 4)
# ---------------------------------------------------------------------------

_DRIFT_SQL = """
WITH t AS (
    SELECT least(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 19) AS bin,
           date_trunc('quarter', o_orderdate)
               = TIMESTAMP '1997-01-01 00:00:00' AS is_base
    FROM orders
    WHERE date_trunc('quarter', o_orderdate) IN
          (TIMESTAMP '1997-01-01 00:00:00', TIMESTAMP '1997-04-01 00:00:00')
),
hist AS (
    SELECT bin,
           CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS base_n,
           CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
    FROM t GROUP BY bin
),
tot AS (SELECT CAST(sum(base_n) AS BIGINT) AS bt,
               CAST(sum(cur_n) AS BIGINT) AS ct FROM hist)
SELECT bin, base_n, cur_n,
       CAST(base_n AS DOUBLE) / CAST(tot.bt AS DOUBLE) AS base_share,
       CAST(cur_n AS DOUBLE) / CAST(tot.ct AS DOUBLE) AS cur_share,
       abs(CAST(base_n AS DOUBLE) / CAST(tot.bt AS DOUBLE)
           - CAST(cur_n AS DOUBLE) / CAST(tot.ct AS DOUBLE)) AS abs_diff
FROM hist, tot
"""


@register("order_value_drift", _DRIFT_SQL)
def order_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: order-value histogram of 1997-Q1
    (baseline) vs 1997-Q2 (current) with per-bin share deltas — the
    inputs to TVD (½·Σ abs_diff) and chi-square drift alarms. Pure
    rational arithmetic on exact counts (no PSI/KL logarithm), so the
    report is bitwise-stable in any engine; one conditional-aggregation
    scan serves both periods."""
    from bicis_spark.operators.stats import histogram_drift

    orders = read_table(spark, sf_dir, "orders")
    import datetime

    return histogram_drift(
        orders,
        "o_totalprice",
        F.date_trunc("quarter", F.col("o_orderdate")),
        datetime.datetime(1997, 1, 1),
        datetime.datetime(1997, 4, 1),
        bin_width=25000.0,
        n_bins=20,
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (round 4): two-sample z-test from exact sums
# ---------------------------------------------------------------------------

_AB_ZTEST_SQL = """
WITH spend AS (
    SELECT o_custkey,
           CASE WHEN ascii(substr(md5(o_custkey::VARCHAR || ':ab'), 1, 1)) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
    FROM orders
    GROUP BY 1, 2
),
arms AS (
    SELECT arm,
           count(*)::BIGINT AS n,
           CAST(floor(sum(x)) AS BIGINT) AS s_int,
           CAST(floor(sum(x * x)) AS BIGINT) AS q_int
    FROM spend GROUP BY arm
),
w AS (
    SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'A' THEN CAST(s_int AS DOUBLE) END) AS s_a,
        max(CASE WHEN arm = 'B' THEN CAST(s_int AS DOUBLE) END) AS s_b,
        max(CASE WHEN arm = 'A' THEN CAST(q_int AS DOUBLE) END) AS q_a,
        max(CASE WHEN arm = 'B' THEN CAST(q_int AS DOUBLE) END) AS q_b
    FROM arms
)
SELECT n_a, n_b,
       s_a / n_a AS mean_a,
       s_b / n_b AS mean_b,
       (s_a / n_a - s_b / n_b)
       / sqrt((q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
              + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b) AS z_stat
FROM w
"""


@register("ab_spend_ztest", _AB_ZTEST_SQL)
def ab_spend_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test on per-customer spend under a deterministic
    50/50 hash assignment (md5 of the customer key — the same RNG-free
    splitter as hash_split_assignment, so arms are stable under retries
    and re-runs). All sufficient statistics (n, Σx, Σx²) are EXACT decimal
    sums collected in one hash aggregate per arm, FLOORED to int64 before
    any float math (decimal-to-double casts of values wider than ~16
    significant digits round differently across engines — Spark and
    DuckDB disagree by 1 ulp on a 20-digit sum-of-squares — while
    int64-to-double conversion is IEEE-defined everywhere; quantization
    error < 1e-15 relative). The z formula is then a fixed tree of IEEE
    double ops on those exact operands, identical in any engine — no float accumulation anywhere. Scale shape: customer
    collapse shuffles by custkey, arm collapse is 2 rows; at 100 TB the
    experiment readout is still two aggregates and a 1-row report."""
    orders = read_table(spark, sf_dir, "orders")
    arm = F.when(
        F.ascii(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_custkey"), F.lit("ab"))), 1, 1
            )
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    spend = orders.groupBy(
        F.col("o_custkey"), arm.alias("arm")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    arms = spend.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(F.sum("x")).cast("long").alias("s_int"),
        F.floor(F.sum(F.col("x") * F.col("x"))).cast("long").alias("q_int"),
    )
    pick = lambda a, col, cast: F.max(  # noqa: E731
        F.when(F.col("arm") == a, F.col(col).cast(cast))
    )
    w = arms.agg(
        pick("A", "n", "long").alias("n_a"),
        pick("B", "n", "long").alias("n_b"),
        pick("A", "s_int", "double").alias("s_a"),
        pick("B", "s_int", "double").alias("s_b"),
        pick("A", "q_int", "double").alias("q_a"),
        pick("B", "q_int", "double").alias("q_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_term = lambda q, s, n: (  # noqa: E731
        (F.col(q) - F.col(s) * F.col(s) / F.col(n)) / (F.col(n) - 1) / F.col(n)
    )
    return w.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        (
            (mean_a - mean_b)
            / F.sqrt(var_term("q_a", "s_a", "n_a") + var_term("q_b", "s_b", "n_b"))
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Token-budget allocation (round 4): largest-remainder apportionment
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 100_000

_TOKEN_BUDGET_SQL = f"""
WITH src AS (
    SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens)::BIGINT AS c FROM src),
quota AS (
    SELECT s.source, s.n_tokens,
           ({_TOKEN_BUDGET}::BIGINT * s.n_tokens) // t.c AS base,
           ({_TOKEN_BUDGET}::BIGINT * s.n_tokens) % t.c AS rem
    FROM src s CROSS JOIN tot t
),
ranked AS (
    SELECT source, n_tokens, base, rem,
           row_number() OVER (ORDER BY rem DESC, source) AS rk,
           {_TOKEN_BUDGET} - sum(base) OVER () AS leftover
    FROM quota
)
SELECT source, n_tokens,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_tokens
FROM ranked
"""


@register("token_budget_allocation", _TOKEN_BUDGET_SQL)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global training
    token budget across sources, proportional to each source's token
    mass: floor quotas first, then the leftover units go to the largest
    integer remainders (source-name tiebreak — fully deterministic, and
    Σalloc == budget exactly, which proportional-float rounding cannot
    guarantee). Everything is int64 arithmetic: budget·tokens fits to
    ~10^13 source tokens; the rank window runs over |sources| rows, never
    the corpus. This is the budgeting step that turns temperature-mix
    WEIGHTS into integer per-source token draws."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").cast("long").alias("c"))
    scaled = F.lit(_TOKEN_BUDGET).cast("long") * F.col("n_tokens")
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (scaled % F.col("c")).alias("rem"),
        F.expr(f"({_TOKEN_BUDGET}L * n_tokens) DIV c").alias("base"),
    )
    w_rank = Window.orderBy(F.col("rem").desc(), F.col("source"))
    w_all = Window.partitionBy()
    ranked = quota.select(
        "source",
        "n_tokens",
        "base",
        F.row_number().over(w_rank).alias("rk"),
        (F.lit(_TOKEN_BUDGET) - F.sum("base").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "source",
        "n_tokens",
        (
            F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram via broadcast cutoffs (round 4): the 100 TB binning
# path that quantity_deciles' ntile total order cannot take
# ---------------------------------------------------------------------------

_EQUIDEPTH_SQL = """
WITH cuts AS (
    SELECT quantile_cont(l_quantity,
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
    FROM lineitem
)
SELECT len(list_filter(c.cs, x -> x <= l.l_quantity))::BIGINT AS bucket,
       count(*)::BIGINT AS n,
       min(l.l_quantity) AS min_qty,
       max(l.l_quantity) AS max_qty,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l CROSS JOIN cuts c
GROUP BY 1
"""


@register("equidepth_quantity_buckets", _EQUIDEPTH_SQL)
def equidepth_quantity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning WITHOUT a global total order: decile
    cutoffs come from one exact-percentile aggregate (1 row), broadcast
    back, and each row's bucket is "how many cutoffs ≤ value" — a pure
    array expression, so the fact pass is map-only + one ≤10-key hash agg.
    This is the declared 100 TB feature-binning plan (SCALE.md: swap the
    exact percentile for approx_percentile at scale; quantile_interpolation
    pins that sketch's exact semantics, quantity_deciles pins the
    exact-rank ntile reference this approximates — on tied integral
    values the bucket POPULATIONS differ from ntile's forced-equal fills,
    which is the honest equi-depth answer). Cutoffs on integral
    l_quantity interpolate to bitwise-identical doubles in both engines
    (same pos = p·(n−1) definition)."""
    li = read_table(spark, sf_dir, "lineitem")
    probes = ", ".join(f"0.{i}D" for i in range(1, 10))
    cuts = li.agg(F.expr(f"percentile(l_quantity, array({probes}))").alias("cs"))
    return (
        li.crossJoin(F.broadcast(cuts))
        .select(
            F.size(F.filter(F.col("cs"), lambda x: x <= F.col("l_quantity")))
            .cast("long")
            .alias("bucket"),
            "l_quantity",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct dimension join (round 4): the feature-store
# leakage-safe lookup against the SCD2 history
# ---------------------------------------------------------------------------

_PIT_SQL = """
WITH ranked AS (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
           lag(o_orderstatus) OVER w AS prev,
           row_number() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
    -- NULL-safe change detection, same formulation as _SCD2_SQL (rn=1 +
    -- IS DISTINCT FROM): `prev IS NULL OR status <> prev` drops version
    -- starts when the attribute itself is NULL (A <> NULL filters the
    -- row) and opens spurious ones mid-run, diverging from scd2_history
    SELECT * FROM ranked WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev
),
dim AS (
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to
    FROM changes
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
ship AS (
    SELECT o.o_custkey AS custkey, l.l_shipdate, l.l_returnflag
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT d.status AS status_at_ship, s.l_returnflag,
       count(*)::BIGINT AS n_lines
FROM ship s
JOIN dim d
  ON d.custkey = s.custkey
 AND d.valid_from <= s.l_shipdate
 AND (d.valid_to IS NULL OR s.l_shipdate < d.valid_to)
GROUP BY 1, 2
"""


@register("pit_status_at_ship", _PIT_SQL)
def pit_status_at_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup: each shipment line is
    enriched with the customer's order status AS OF ship time, read from
    the SCD2 interval history — the feature-store join that prevents
    training-label leakage (a naive join to the CURRENT dim row would leak
    future state into past examples). The half-open [valid_from, valid_to)
    intervals partition each customer's timeline, so exactly one version
    matches and the join is an equi-join on the customer key with the
    interval test as a residual predicate — AQE skew handling applies to
    the key, and fan-out is bounded by versions-per-customer (small by
    construction). Ref parity: the reference only ever keeps current
    state (bicis/etl/basic_features.py), making this lookup impossible
    there."""
    from bicis_spark.operators.scd import scd2_history

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    dim = scd2_history(
        orders,
        key_col="o_custkey",
        attr_col="o_orderstatus",
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        "valid_to",
    )
    ship = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("custkey"), "l_shipdate", "l_returnflag"
    )
    joined = ship.join(
        dim,
        (ship.custkey == dim.custkey)
        & (dim.valid_from <= ship.l_shipdate)
        & (dim.valid_to.isNull() | (ship.l_shipdate < dim.valid_to)),
    )
    return joined.groupBy(
        F.col("status").alias("status_at_ship"), "l_returnflag"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_lines"))


# ---------------------------------------------------------------------------
# Sequential training examples (round 4): next-event prediction dataset
# ---------------------------------------------------------------------------

_NEXT_EVENT_EXAMPLES_SQL = f"""
WITH seq AS (
    SELECT event_id, user_id,
           lag(event_type, 3) OVER w AS ctx1,
           lag(event_type, 2) OVER w AS ctx2,
           lag(event_type, 1) OVER w AS ctx3,
           event_type AS label
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ctx1, ctx2, ctx3, label,
       {_hash_split_sql("event_id", "nx")} AS split
FROM seq
WHERE ctx1 IS NOT NULL
"""


@register("next_event_training_examples", _NEXT_EVENT_EXAMPLES_SQL)
def next_event_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised example generation for sequence models: each event
    becomes (3-event context, next-event label) via three lag() taps on
    ONE per-user window — no self-joins, no explode — plus a reproducible
    80/10/10 split keyed on the example id (the hash_split_assignment
    splitter, so an example never migrates between splits across reruns).
    Context strictly precedes the label in event time (orderkey tiebreak
    pinned), which is the leakage discipline pit_status_at_ship applies to
    dimensions, here applied to sequence windows. One shuffle keyed by
    user_id; per-user state is bounded by human event rates (SCALE.md)."""
    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.lag("event_type", 3).over(w).alias("ctx1"),
            F.lag("event_type", 2).over(w).alias("ctx2"),
            F.lag("event_type", 1).over(w).alias("ctx3"),
            F.col("event_type").alias("label"),
            _hash_split(F.col("event_id"), "nx").alias("split"),
        )
        .where(F.col("ctx1").isNotNull())
    )


# ---------------------------------------------------------------------------
# Sketch set algebra (round 4): audience-overlap estimate via HLL
# inclusion-exclusion, accuracy-contracted against the exact intersection
# ---------------------------------------------------------------------------

_HLL_OVERLAP_SQL = """
WITH flags AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
    FROM events GROUP BY user_id
)
SELECT CAST(sum(has_view * has_purchase) AS BIGINT) AS exact_overlap,
       true AS approx_within_15pct
FROM flags
"""


@register("hll_overlap_contract", _HLL_OVERLAP_SQL)
def hll_overlap_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap (|viewers ∩ purchasers|) by HLL inclusion-
    exclusion — est(A) + est(B) − est(A∪B) — from ONE conditional
    aggregation scan (NULLs are ignored by aggregates, so when(cond, col)
    scopes each sketch without extra passes). This is the set-algebra
    trick that answers intersection cardinalities at 100 TB where the
    exact two-level flag aggregate (still cheap here, and used as the
    contract's reference) would be the only alternative; HLL registers
    are fixed-size and order-insensitive, so the estimate — and therefore
    the contract boolean — is deterministic for a given dataset."""
    ev = read_table(spark, sf_dir, "events")
    in_view = F.when(F.col("event_type") == "view", F.col("user_id"))
    in_purch = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    in_any = F.when(
        F.col("event_type").isin("view", "purchase"), F.col("user_id")
    )
    est = ev.agg(
        F.approx_count_distinct(in_view, rsd=0.02).alias("_a"),
        F.approx_count_distinct(in_purch, rsd=0.02).alias("_b"),
        F.approx_count_distinct(in_any, rsd=0.02).alias("_ab"),
    ).select((F.col("_a") + F.col("_b") - F.col("_ab")).alias("est_overlap"))
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "p"
        ),
    )
    exact = flags.agg(
        F.sum(F.col("v") * F.col("p")).cast("long").alias("exact_overlap")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_overlap",
        (
            F.abs(F.col("est_overlap").cast("double") - F.col("exact_overlap"))
            <= 0.15 * F.col("exact_overlap")
        ).alias("approx_within_15pct"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (round 4): per-user exponentially weighted value
# ---------------------------------------------------------------------------

_EWMA_SQL = """
WITH ordered AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS xs
    FROM events GROUP BY user_id
)
SELECT user_id,
       len(xs)::BIGINT AS n_events,
       list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma_value
FROM ordered
"""


@register("ewma_user_value", _EWMA_SQL)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (α = 0.25 — an exact binary double,
    as is 0.75): s₁ = x₁, sₙ = α·xₙ + (1−α)·sₙ₋₁. The recursion has no
    fixed-frame window form, so each user's series is collected into ONE
    array (bounded: per-user event counts are flat at scale — SCALE.md
    user-window entry) sorted by (ts, event_id) and folded with a single
    array expression; both engines execute the identical IEEE op sequence
    over the identical order, so the smoothed value is bitwise stable.
    One shuffle keyed by user_id; no window, no UDF."""
    ev = read_table(spark, sf_dir, "events")
    xs = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            )
        ),
        lambda s: s["value"],
    )
    grouped = ev.groupBy("user_id").agg(xs.alias("xs"))
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return grouped.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        fold.alias("ewma_value"),
    )


# ---------------------------------------------------------------------------
# Split-leakage audit (round 4): does any user straddle train/val/test?
# ---------------------------------------------------------------------------

_SPLIT_LEAK_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           count(DISTINCT {_hash_split_sql("event_id", "split")})::BIGINT
               AS ns_event,
           count(DISTINCT {_hash_split_sql("user_id", "split")})::BIGINT
               AS ns_user
    FROM events GROUP BY user_id
),
melted AS (
    SELECT 'event_keyed' AS scheme, ns_event AS n_splits FROM per_user
    UNION ALL
    SELECT 'user_keyed' AS scheme, ns_user AS n_splits FROM per_user
)
SELECT scheme,
       count(*)::BIGINT AS n_users,
       CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaking_users
FROM melted GROUP BY scheme
"""


@register("split_leakage_audit", _SPLIT_LEAK_SQL)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-leakage audit of train/val/test assignment: for each split
    scheme, how many users have events in MORE than one split. An
    event-keyed hash split scatters every active user across splits (the
    classic evaluation leak — the model sees the test user's behavior in
    training); a user-keyed hash split provably yields zero leaking users
    (assignment is a function of the group key). ONE scan computes both
    schemes' split columns, one user-keyed shuffle aggregates them, and a
    melt over the per-user rows feeds the tiny 2-row report aggregate —
    the audit any split manifest should ship with. The md5-based splitter
    is the shared _hash_split rule (same salt as hash_split_assignment,
    so this audits exactly the splits that query emits)."""
    ev = read_table(spark, sf_dir, "events")

    per_user = (
        ev.select(
            "user_id",
            _hash_split(F.col("event_id"), "split").alias("se"),
            _hash_split(F.col("user_id"), "split").alias("su"),
        )
        .groupBy("user_id")
        .agg(
            F.countDistinct("se").cast("long").alias("ns_event"),
            F.countDistinct("su").cast("long").alias("ns_user"),
        )
    )
    melted = per_user.select(
        F.explode(
            F.create_map(
                F.lit("event_keyed"), F.col("ns_event"),
                F.lit("user_keyed"), F.col("ns_user"),
            )
        ).alias("scheme", "n_splits")
    )
    return melted.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_leaking_users"),
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured column (Spark 4 native JSON path)
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
       max(json_extract_string(props, '$.k')) AS k_str_max,
       sum(CASE WHEN json_extract(props, '$.absent') IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_absent_hits
FROM events
GROUP BY event_type
"""


@register("variant_props_stats", _VARIANT_SQL)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: the JSON
    column is parsed ONCE into the binary-encoded variant, and every typed
    extraction (long and string reads of the same path, plus a missing-path
    probe) is an O(path) lookup into that encoding — where the per-path
    string functions (json_props_stats) re-parse the full JSON text per
    path. At 100 TB the parse happens once per row in the scan project
    instead of once per extraction; parquet can store the variant column
    so downstream queries skip the text parse entirely. try_variant_get on
    an absent path pins NULL (not error) semantics."""
    ev = read_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.variant_get("v", "$.k", "long")).cast("long").alias("k_sum"),
        F.max(F.variant_get("v", "$.k", "string")).alias("k_str_max"),
        F.sum(
            F.when(
                F.try_variant_get("v", "$.absent", "long").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_absent_hits"),
    )


# ---------------------------------------------------------------------------
# Native unpivot (wide -> tall reshaping, the pivot inverse)
# ---------------------------------------------------------------------------

_UNPIVOT_SQL = """
SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n
FROM orders
GROUP BY o_orderpriority, o_orderstatus
"""


@register("unpivot_status_counts", _UNPIVOT_SQL)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot ∘ unpivot roundtrip law: a wide per-priority status-count
    matrix (pivot with an explicit value list — no discovery scan)
    unpivoted back to tall (priority, status, n) must equal the plain
    two-key GROUP BY, with pivot's NULL fill for absent combinations
    dropped on the way back. Pins `DataFrame.unpivot` — the map-side
    Expand reshaping — against an oracle that never reshapes at all."""
    statuses = ["F", "O", "P"]
    orders = read_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=statuses,
            variableColumnName="o_orderstatus",
            valueColumnName="n",
        )
        .where(F.col("n").isNotNull())
        .select("o_orderpriority", "o_orderstatus", F.col("n").cast("long").alias("n"))
    )


_QUALITY_CLF_SQL = """
WITH t AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
),
h AS (
    SELECT doc_id, md5('tok:' || tok) AS h FROM t WHERE tok != ''
),
s AS (
    SELECT doc_id,
           (('0x' || substr(h, 1, 8))::BIGINT % 64)::BIGINT AS slot,
           (CASE WHEN ('0x' || substr(h, 9, 1))::BIGINT % 2 = 0
                 THEN 1 ELSE -1 END)::BIGINT AS sign
    FROM h
)
SELECT doc_id,
       sum(sign * ((slot % 7) - 3))::BIGINT AS score,
       sum(sign * ((slot % 7) - 3)) >= 0 AS is_quality
FROM s GROUP BY doc_id
"""


@register("quality_classifier_flags", _QUALITY_CLF_SQL)
def quality_classifier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality filtering as a map-side linear classifier over
    signed hashed token features (operators/featurize.py:
    linear_text_classifier) — tokenize, md5-hash to 64 slots, score with
    slot-derived integer weights, threshold at 0. Every step is
    integer-exact; the oracle replays the full path."""
    from bicis_spark.operators.featurize import linear_text_classifier

    docs = read_table(spark, sf_dir, "documents", spread=True)
    return linear_text_classifier(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (round-4 continuation): EWMA generalized to
# (level, trend) state — the one-step-ahead forecasting primitive
# ---------------------------------------------------------------------------

_HOLT_SQL = """
WITH ordered AS (
    SELECT user_id, list(value ORDER BY ts, event_id) AS xs
    FROM events GROUP BY user_id
),
prep AS (
    -- accumulator is a [level, trend, x] DOUBLE list, NOT a struct:
    -- DuckDB 1.0's list_reduce evaluates struct-accumulator fields
    -- sequentially with earlier fields already overwritten (observed:
    -- a field reading acc.l after the 'l' field sees the NEW level),
    -- so struct state folds are unsound there; list construction
    -- evaluates all elements against the pre-step accumulator
    SELECT user_id, len(xs) AS n, xs,
           CASE WHEN len(xs) >= 2 THEN
             list_prepend(
               [xs[2], xs[2] - xs[1], 0.0],
               [[0.0, 0.0, x] for x in xs[3:]]
             )
           END AS st
    FROM ordered
),
red AS (
    SELECT user_id, n, xs,
           CASE WHEN n >= 2 THEN
             list_reduce(st, (acc, e) ->
               [0.5 * e[3] + 0.5 * (acc[1] + acc[2]),
                0.5 * ((0.5 * e[3] + 0.5 * (acc[1] + acc[2])) - acc[1])
                    + 0.5 * acc[2],
                0.0])
           END AS fin
    FROM prep
)
SELECT user_id, n::BIGINT AS n_events,
       CASE WHEN n = 1 THEN xs[1] ELSE fin[1] + fin[2] END AS holt_forecast
FROM red
"""


@register("holt_forecast_user_value", _HOLT_SQL)
def holt_forecast_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing per user (α = β = 0.5, exact binary
    doubles), one-step-ahead forecast lₙ + bₙ — the (level, trend)
    generalization of ``ewma_user_value``'s fold. Init: l₂ = x₂,
    b₂ = x₂ − x₁ (n = 1 degenerates to the last value). The two-variable
    recursion folds a struct accumulator over the (ts, event_id)-sorted
    value array; the oracle seeds the same state as the list head (DuckDB
    list_reduce uses element one as the initial accumulator) and both
    engines execute the identical inlined IEEE op tree, so the forecast
    is bitwise stable. Same scale shape as EWMA: one shuffle keyed by
    user, per-user arrays bounded, no window, no UDF."""
    ev = read_table(spark, sf_dir, "events")
    xs = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            )
        ),
        lambda s: s["value"],
    )
    g = ev.groupBy("user_id").agg(xs.alias("xs"))
    n = F.size("xs")
    x1, x2 = F.element_at("xs", 1), F.element_at("xs", 2)
    init = F.struct(x2.alias("l"), (x2 - x1).alias("b"))

    def step(acc, x):
        new_l = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = (
            F.lit(0.5)
            * ((F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])) - acc["l"])
            + F.lit(0.5) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    fin = F.aggregate(
        F.slice(F.col("xs"), 3, F.greatest(n - 2, F.lit(0))), init, step
    )
    return g.select(
        "user_id",
        n.cast("long").alias("n_events"),
        F.when(n == 1, x1).otherwise(fin["l"] + fin["b"]).alias("holt_forecast"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (round-4 continuation): the
# (level, trend, m-season) completion of the EWMA → Holt fold family
# ---------------------------------------------------------------------------

_HW_M = 24

_HW_SQL = f"""
WITH ordered AS (
    SELECT user_id, list(value ORDER BY ts, event_id) AS xs
    FROM events GROUP BY user_id
),
init AS (
    SELECT user_id, len(xs) AS n, xs,
        CASE WHEN len(xs) >= {2 * _HW_M} THEN
          list_reduce(xs[1:{_HW_M}], (a, x) -> a + x) END AS sum1,
        CASE WHEN len(xs) >= {2 * _HW_M} THEN
          list_reduce(xs[{_HW_M + 1}:{2 * _HW_M}], (a, x) -> a + x) END AS sum2
    FROM ordered
),
st0 AS (
    SELECT user_id, n, xs,
        CASE WHEN n >= {2 * _HW_M} THEN
          list_concat(
            [sum1 / {_HW_M}.0,
             (sum2 / {_HW_M}.0 - sum1 / {_HW_M}.0) / {_HW_M}.0,
             {_HW_M}.0],
            [x - sum1 / {_HW_M}.0 for x in xs[1:{_HW_M}]]
          ) END AS s0
    FROM init
),
red AS (
    -- state = [level, trend, t, s1..sm] as a DOUBLE list (the struct-
    -- accumulator hazard documented at holt_forecast_user_value);
    -- elements are 1-long [x] lists so acc and element share a type
    SELECT user_id, n,
        CASE WHEN n >= {2 * _HW_M} THEN
          list_reduce(
            list_prepend(s0, [[x] for x in xs[{_HW_M + 1}:]]),
            (acc, e) ->
            list_concat(list_concat(list_concat(
              [0.5 * (e[1] - acc[(4 + acc[3]::INT % {_HW_M})])
                   + 0.5 * (acc[1] + acc[2]),
               0.25 * ((0.5 * (e[1] - acc[(4 + acc[3]::INT % {_HW_M})])
                        + 0.5 * (acc[1] + acc[2])) - acc[1])
                   + 0.75 * acc[2],
               acc[3] + 1.0],
              acc[4:(3 + acc[3]::INT % {_HW_M})]),
              [0.25 * (e[1] - (0.5 * (e[1] - acc[(4 + acc[3]::INT % {_HW_M})])
                               + 0.5 * (acc[1] + acc[2])))
                   + 0.75 * acc[(4 + acc[3]::INT % {_HW_M})]]),
              acc[(5 + acc[3]::INT % {_HW_M}):{_HW_M + 3}])
          ) END AS fin
    FROM st0
)
SELECT user_id, n::BIGINT AS n_events,
       CASE WHEN n >= {2 * _HW_M}
            THEN fin[1] + fin[2] + fin[(4 + n::INT % {_HW_M})] END
           AS hw_forecast
FROM red
"""


@register("holt_winters_forecast_user_value", _HW_SQL)
def holt_winters_forecast_user_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters additive smoothing per user (α=0.5, β=0.25, γ=0.25 —
    exact binary doubles; season length m=24 positions), one-step-ahead
    forecast l + b + s_next. Classic init over the first 2m points
    (l = mean of window 1, b = windowed-mean slope, s_i = x_i − l), then
    the three-variable recursion folds a [level, trend, t, s1..sm]
    DOUBLE-list state over the remaining series — the m-season
    generalization of ``holt_forecast_user_value``'s fold, with the
    season slot updated in place by computed-index list surgery. Users
    with fewer than 2m events yield NULL (not enough data to seed the
    seasonals). Both engines execute identical inlined IEEE op trees
    over identically sorted arrays, so forecasts are bitwise stable;
    same scale shape as EWMA/Holt (one shuffle keyed by user, bounded
    per-user arrays, no window, no UDF)."""
    ev = read_table(spark, sf_dir, "events")
    return _hw_fold(ev)


def _hw_fold(ev: DataFrame, cap: int | None = None) -> DataFrame:
    """Shared Holt-Winters fold; ``cap`` (when set) folds only the first
    ``cap`` values of each user's sorted series — the deterministic
    prefix bound for hot-user skew (see holt_winters_forecast_capped)."""
    m = _HW_M
    xs = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
            )
        ),
        lambda s: s["value"],
    )
    if cap is not None:
        xs = F.slice(xs, 1, cap)
    g = ev.groupBy("user_id").agg(xs.alias("xs"))
    n = F.size("xs")

    def lsum(start: int, length: int):
        return F.aggregate(
            F.slice(F.col("xs"), start + 1, length - 1),
            F.element_at("xs", start),
            lambda a, x: a + x,
        )

    sum1, sum2 = lsum(1, m), lsum(m + 1, m)
    l0 = sum1 / F.lit(float(m))
    b0 = (sum2 / F.lit(float(m)) - sum1 / F.lit(float(m))) / F.lit(float(m))
    s0 = F.concat(
        F.array(l0, b0, F.lit(float(m))),
        F.transform(
            F.slice(F.col("xs"), 1, m), lambda x: x - sum1 / F.lit(float(m))
        ),
    )
    # greatest-guard mirrors the Holt twin: today the n >= 2m gate means
    # this branch is never evaluated for short users, but a negative
    # slice length would crash any future use of elems outside the gate
    elems = F.transform(
        F.slice(F.col("xs"), m + 1, F.greatest(n - m, F.lit(0))),
        lambda x: F.array(x),
    )

    def step(acc, e):
        jp = F.lit(4) + (F.element_at(acc, 3).cast("int") % m)
        sj = F.element_at(acc, jp)
        x = F.element_at(e, 1)
        l, b = F.element_at(acc, 1), F.element_at(acc, 2)
        nl = F.lit(0.5) * (x - sj) + F.lit(0.5) * (l + b)
        nb = F.lit(0.25) * (nl - l) + F.lit(0.75) * b
        ns = F.lit(0.25) * (x - nl) + F.lit(0.75) * sj
        return F.concat(
            F.array(nl, nb, F.element_at(acc, 3) + F.lit(1.0)),
            F.slice(acc, 4, jp - 4),
            F.array(ns),
            F.slice(acc, jp + 1, F.lit(m + 3) - jp),
        )

    fin = F.aggregate(elems, s0, step)
    forecast = F.when(
        n >= 2 * m,
        F.element_at(fin, 1)
        + F.element_at(fin, 2)
        + F.element_at(fin, F.lit(4) + (n.cast("int") % m)),
    )
    return g.select(
        "user_id",
        n.cast("long").alias("n_events"),
        forecast.alias("hw_forecast"),
    )


_HW_CAP = 64

_HW_CAPPED_SQL = _HW_SQL.replace(
    "list(value ORDER BY ts, event_id) AS xs",
    f"(list(value ORDER BY ts, event_id))[1:{_HW_CAP}] AS xs",
)
assert _HW_CAPPED_SQL != _HW_SQL


@register("holt_winters_forecast_capped", _HW_CAPPED_SQL)
def holt_winters_forecast_capped_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hot-user skew bound for the Holt-Winters fold (r5 verdict
    item #3): identical smoothing, but each user's sorted series is
    prefix-capped to the first 64 values (the 2m=48 seed plus 16 fold
    steps; 64 BINDS on most users of every test SF — per-user counts run
    49-88 — so the capped path, not the degenerate equal-to-uncapped
    case, is what the oracle gates) BEFORE the state fold, so one user owning the stream can never
    make a single row's array the whole task — the same
    bound-the-per-key-state discipline as `next_window_count_bucketed`
    (operators/targets.py:56). The cap is a deterministic slice of the
    (ts, event_id)-sorted array, so the oracle replays it exactly;
    n_events reports the CAPPED length (the fold's actual input, and the
    gate's n>=2m test stays consistent). The uncapped headline twin keeps
    exact full-series semantics; at 100 TB you run this one."""
    ev = read_table(spark, sf_dir, "events")
    return _hw_fold(ev, cap=_HW_CAP)


# ---------------------------------------------------------------------------
# KMV bottom-k distinct estimate (round 5): the estimate itself hash-gated
# ---------------------------------------------------------------------------

from bicis_spark.operators.sketch import hex_prefix_int_sql as _hex_int

_KMV_H = _hex_int("md5(concat_ws(':', 'kmv', CAST(user_id AS STRING)))")

_KMV_SQL = f"""
WITH h AS (SELECT DISTINCT {_KMV_H} AS h FROM events),
bk AS (SELECT h FROM h ORDER BY h LIMIT 128),
s AS (SELECT max(h) AS hk, count(*)::BIGINT AS n_in FROM bk),
e AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_distinct FROM events),
j AS (
    SELECT e.exact_distinct,
           CASE WHEN s.n_in < 128 THEN CAST(s.n_in AS DOUBLE)
                ELSE CAST(127 AS DOUBLE) * 1152921504606846976.0
                     / CAST(s.hk AS DOUBLE)
           END AS kmv_estimate
    FROM e CROSS JOIN s
)
SELECT exact_distinct, kmv_estimate,
       abs(kmv_estimate - CAST(exact_distinct AS DOUBLE))
           <= 0.15 * CAST(exact_distinct AS DOUBLE) AS within_15pct
FROM j
"""


@register("kmv_distinct_contract", _KMV_SQL)
def kmv_distinct_contract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k, k=128) distinct-user estimate with the exact count
    riding along. Every sketch step is md5-prefix integer arithmetic
    replayed by the oracle, so — unlike the HLL contract, which can only
    gate a tolerance boolean around an engine-internal register file —
    the ESTIMATE VALUE is itself hash-verified bitwise."""
    from bicis_spark.operators.sketch import kmv_distinct_estimate

    ev = read_table(spark, sf_dir, "events")
    return kmv_distinct_estimate(ev, "user_id", k=128)


# ---------------------------------------------------------------------------
# Benford first-digit audit (round 5)
# ---------------------------------------------------------------------------

import math as _math

_BENFORD_VALUES = ", ".join(
    f"({d}, {_math.log10(1.0 + 1.0 / d)!r})" for d in range(1, 10)
)

_BENFORD_SQL = f"""
WITH base AS (
    SELECT o_totalprice FROM orders
    WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
      AND o_totalprice < 9223372036854775808.0
),
c AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING),
                       1, 1) AS BIGINT) AS digit,
           count(*)::BIGINT AS n_rows
    FROM base GROUP BY 1
),
t AS (SELECT count(*)::BIGINT AS tot FROM base),
b(digit, benford_share) AS (VALUES {_BENFORD_VALUES})
SELECT b.digit::BIGINT AS digit,
       COALESCE(c.n_rows, 0)::BIGINT AS n_rows,
       CAST(COALESCE(c.n_rows, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE)
           AS obs_share,
       b.benford_share,
       abs(CAST(COALESCE(c.n_rows, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE)
           - b.benford_share) AS abs_dev
FROM b LEFT JOIN c USING (digit) CROSS JOIN t
"""


@register("benford_digit_audit", _BENFORD_SQL)
def benford_digit_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over order totals: observed first-digit
    shares vs log10(1+1/d), per-digit rows so every float is one
    division/subtraction (no cross-digit summation order). TPC-H
    totalprice is a sum of many uniform extended prices, so it deviates
    from Benford — the audit's point is measuring that deviation
    deterministically, not asserting conformity."""
    from bicis_spark.operators.quality import benford_digit_audit

    ords = read_table(spark, sf_dir, "orders")
    return benford_digit_audit(ords, "o_totalprice")


# ---------------------------------------------------------------------------
# Mutual-information feature ranking (round 5)
# ---------------------------------------------------------------------------

_MI_Q = "floor(log2(CAST({k} AS DOUBLE)) * 1000000)::BIGINT"

_MI_SQL = f"""
WITH base AS (
    SELECT 'priority' AS f, o_orderpriority AS v, o_orderstatus AS y
    FROM orders
    UNION ALL
    SELECT 'month', CAST(month(o_orderdate) AS STRING), o_orderstatus
    FROM orders
    UNION ALL
    SELECT 'price_bucket',
           CAST(CAST(floor(o_totalprice / 50000) AS BIGINT) AS STRING),
           o_orderstatus
    FROM orders
),
t AS (SELECT count(*)::BIGINT AS n FROM orders),
cells AS (SELECT f, v, y, count(*)::BIGINT AS n_xy FROM base GROUP BY 1, 2, 3),
mx AS (SELECT f, v, count(*)::BIGINT AS n_x FROM base GROUP BY 1, 2),
my AS (SELECT f, y, count(*)::BIGINT AS n_y FROM base GROUP BY 1, 2),
per AS (
    SELECT cells.f,
           cells.n_xy * ({_MI_Q.format(k='cells.n_xy')}
                         + {_MI_Q.format(k='t.n')}
                         - {_MI_Q.format(k='mx.n_x')}
                         - {_MI_Q.format(k='my.n_y')}) AS term
    FROM cells JOIN mx USING (f, v) JOIN my USING (f, y) CROSS JOIN t
)
SELECT f AS feature, count(*)::BIGINT AS n_cells, sum(term)::BIGINT AS mi_q,
       CAST(sum(term) AS DOUBLE)
           / CAST((SELECT n FROM t) * 1000000 AS DOUBLE) AS mi_bits
FROM per GROUP BY f
"""


@register("mutual_information_features", _MI_SQL)
def mutual_information_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI(X; o_orderstatus) for three candidate features — order
    priority, order month, and 50k price bucket. Month and priority are
    label-independent in TPC-H (MI ≈ 0 up to quantization) while the
    price bucket carries signal through the date-driven status; the
    ranking itself is the point. libm-qlog-table arithmetic end to end:
    the only float is the final division."""
    from bicis_spark.operators.featurize import mutual_information_rank

    ords = read_table(spark, sf_dir, "orders")
    return mutual_information_rank(
        ords,
        "o_orderstatus",
        {
            "priority": F.col("o_orderpriority"),
            "month": F.month("o_orderdate"),
            "price_bucket": F.floor(F.col("o_totalprice") / 50000).cast(
                "long"
            ),
        },
    )


# ---------------------------------------------------------------------------
# Naive Bayes train/predict/eval (round 5) — integer-exact confusion matrix
# ---------------------------------------------------------------------------

from bicis_spark.operators.sketch import hex_prefix_int_sql as _hex5

_NB_SPLIT = _hex5("md5(concat_ws(':', 'nb', CAST(k2 AS STRING)))", 5)


def _nbq(k: str) -> str:
    return f"floor(log2(CAST({k} AS DOUBLE)) * 1000000)::BIGINT"


_NB_SQL = f"""
WITH base AS (
    SELECT k2, y, f, v, ({_NB_SPLIT} % 1000 < 800) AS train
    FROM (
        SELECT o_orderkey AS k2, o_orderstatus AS y,
               'priority' AS f, o_orderpriority AS v FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               'month', CAST(month(o_orderdate) AS STRING) FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'price_bucket',
               CAST(CAST(floor(o_totalprice / 50000) AS BIGINT) AS STRING)
        FROM orders
    )
),
tr AS (SELECT * FROM base WHERE train),
te AS (SELECT * FROM base WHERE NOT train),
prior AS (
    SELECT y, count(*)::BIGINT AS n_c FROM tr WHERE f = 'priority' GROUP BY y
),
cells AS (SELECT f, v, y, count(*)::BIGINT AS n_fvc FROM tr GROUP BY 1, 2, 3),
vf AS (SELECT f, count(DISTINCT v)::BIGINT AS n_vf FROM tr GROUP BY f),
den AS (
    SELECT prior.y, vf.f, {_nbq('prior.n_c + vf.n_vf')} AS q_den
    FROM prior CROSS JOIN vf
),
lik AS (
    SELECT cells.f, cells.v, cells.y,
           {_nbq('cells.n_fvc + 1')} - den.q_den AS lq
    FROM cells JOIN den ON den.y = cells.y AND den.f = cells.f
),
priq AS (SELECT y, {_nbq('n_c')} AS q_prior FROM prior),
classes AS (SELECT y AS c FROM prior),
scored AS (
    SELECT te.k2, te.y, classes.c, COALESCE(lik.lq, -den.q_den) AS term
    FROM te
    CROSS JOIN classes
    JOIN den ON den.y = classes.c AND den.f = te.f
    LEFT JOIN lik ON lik.f = te.f AND lik.v = te.v AND lik.y = classes.c
),
ll AS (SELECT k2, y, c, sum(term)::BIGINT AS s FROM scored GROUP BY 1, 2, 3),
sc AS (
    SELECT ll.k2, ll.y, ll.c, ll.s + priq.q_prior AS score
    FROM ll JOIN priq ON priq.y = ll.c
),
pred AS (
    SELECT k2, y, first(c ORDER BY score DESC, c) AS predicted
    FROM sc GROUP BY k2, y
)
SELECT y AS actual, predicted, count(*)::BIGINT AS n_rows
FROM pred GROUP BY 1, 2
"""


@register("naive_bayes_confusion", _NB_SQL)
def naive_bayes_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical Naive Bayes over order priority / month / price
    bucket predicting o_orderstatus: 80/20 md5 split, Laplace-smoothed
    qlog-table likelihoods, integer argmax with class-name tie-break,
    confusion-matrix output. The whole train→predict→evaluate loop is
    replayed by the oracle with ZERO floats anywhere."""
    from bicis_spark.operators.featurize import naive_bayes_confusion

    ords = read_table(spark, sf_dir, "orders")
    return naive_bayes_confusion(
        ords,
        "o_orderstatus",
        {
            "priority": F.col("o_orderpriority"),
            "month": F.month("o_orderdate"),
            "price_bucket": F.floor(F.col("o_totalprice") / 50000).cast(
                "long"
            ),
        },
        key_col="o_orderkey",
    )


# ---------------------------------------------------------------------------
# Decision stump split gains (round 5)
# ---------------------------------------------------------------------------

_STUMP_SQL = f"""
WITH cells AS (
    SELECT least(CAST(floor(o_totalprice / 25000) AS BIGINT), 19) AS b,
           o_orderstatus AS y, count(*)::BIGINT AS n
    FROM orders GROUP BY 1, 2
),
bs AS (SELECT DISTINCT b FROM cells),
ys AS (SELECT y, sum(n)::BIGINT AS n_c FROM cells GROUP BY y),
grid AS (
    SELECT bs.b, ys.y, ys.n_c, COALESCE(cells.n, 0)::BIGINT AS n
    FROM bs CROSS JOIN ys
    LEFT JOIN cells ON cells.b = bs.b AND cells.y = ys.y
),
cum AS (
    SELECT b, y, n_c,
           sum(n) OVER (PARTITION BY y ORDER BY b)::BIGINT AS nl_cy
    FROM grid
),
tot AS (SELECT sum(n_c)::BIGINT AS nn FROM ys),
sides AS (SELECT b, sum(nl_cy)::BIGINT AS nl FROM cum GROUP BY b),
terms AS (
    SELECT cum.b, sides.nl,
           (CASE WHEN nl_cy > 0
                 THEN nl_cy * ({_nbq('sides.nl')} - {_nbq('nl_cy')})
                 ELSE 0 END)
           + (CASE WHEN (n_c - nl_cy) > 0
                   THEN (n_c - nl_cy)
                        * ({_nbq('tot.nn - sides.nl')} - {_nbq('n_c - nl_cy')})
                   ELSE 0 END) AS t
    FROM cum JOIN sides USING (b) CROSS JOIN tot
),
hy AS (
    SELECT sum(n_c * ({_nbq('tot.nn')} - {_nbq('n_c')}))::BIGINT AS hy_q
    FROM ys CROSS JOIN tot
),
ig AS (SELECT b, nl, sum(t)::BIGINT AS cond_q FROM terms GROUP BY b, nl)
SELECT ((b + 1) * 25000)::BIGINT AS threshold,
       nl::BIGINT AS n_left,
       (tot.nn - nl)::BIGINT AS n_right,
       (hy.hy_q - cond_q)::BIGINT AS ig_q,
       CAST(hy.hy_q - cond_q AS DOUBLE)
           / CAST(tot.nn * 1000000 AS DOUBLE) AS ig_bits
FROM ig CROSS JOIN hy CROSS JOIN tot
WHERE b < (SELECT max(b) FROM bs)
"""


@register("decision_stump_gains", _STUMP_SQL)
def decision_stump_gains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of every candidate split 'o_totalprice ≤ t' on a
    25k grid against o_orderstatus — stump induction with IG·N·S exact
    int64 (qlog tables); one corpus scan folds to ≤ 20×3 cells, and
    thresholds are prefix sums over the cells, never the corpus."""
    from bicis_spark.operators.featurize import decision_stump_gains

    ords = read_table(spark, sf_dir, "orders")
    return decision_stump_gains(
        ords, "o_totalprice", "o_orderstatus", width=25000, n_buckets=20
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap mean CI (round 5)
# ---------------------------------------------------------------------------

from bicis_spark.operators.stats import _poisson1_count_sql as _poisson_sql

_BOOT_SQL = f"""
WITH base AS (
    SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS vq
    FROM events WHERE value IS NOT NULL
),
ex AS (
    SELECT vq, t.g AS g,
           md5(concat_ws(':', 'boot', CAST(event_id AS STRING),
                         CAST(t.g AS STRING))) AS h
    FROM base CROSS JOIN (SELECT unnest(range(16)) AS g) t
),
uu AS (
    SELECT vq, 4 * g + tj.j AS _b,
           ('0x' || substr(h, 8 * tj.j + 1, 8))::BIGINT AS u
    FROM ex CROSS JOIN (SELECT unnest(range(4)) AS j) tj
),
drawn AS (SELECT _b, vq, {_poisson_sql('u', bits=32)} AS c FROM uu),
rs AS (
    SELECT _b, sum(c * vq)::BIGINT AS s, sum(c)::BIGINT AS n
    FROM drawn GROUP BY _b
),
ms AS (
    SELECT CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS m FROM rs
),
sorted AS (SELECT m, row_number() OVER (ORDER BY m) AS r FROM ms),
f AS (SELECT count(*)::BIGINT AS n_rows, sum(vq)::BIGINT AS sq FROM base)
SELECT f.n_rows,
       CAST(f.sq AS DOUBLE) / CAST(f.n_rows * 1000000 AS DOUBLE) AS mean,
       (SELECT m FROM sorted WHERE r = 2) AS ci_lo,
       (SELECT m FROM sorted WHERE r = 63) AS ci_hi
FROM f
"""


@register("bootstrap_mean_ci", _BOOT_SQL)
def bootstrap_mean_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% CI for the mean event value by deterministic Poisson
    bootstrap: 64 resamples whose per-row multiplicities come from an
    inverse-CDF draw on a 32-bit md5 uniform — one corpus scan, exploded
    ×64, map-side combined to 64 partial sums; the interval is the
    (2,63) order statistic of the resample means. RNG-free, so the
    oracle replays every resample bitwise."""
    from bicis_spark.operators.stats import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(ev, "value", "event_id")


# ---------------------------------------------------------------------------
# KMV merge law (round 5): per-partition sketches merge losslessly
# ---------------------------------------------------------------------------

_KMV_EST_CASE = (
    "CASE WHEN n_in < 128 THEN CAST(n_in AS DOUBLE) "
    "ELSE CAST(127 AS DOUBLE) * 1152921504606846976.0 / CAST(hk AS DOUBLE) END"
)

_KMV_MERGE_SQL = f"""
WITH h0 AS (SELECT DISTINCT event_type AS p, {_KMV_H} AS h FROM events),
pp AS (
    SELECT p, h, row_number() OVER (PARTITION BY p ORDER BY h) AS r FROM h0
),
npart AS (SELECT count(DISTINCT p)::BIGINT AS n_parts FROM h0),
mrg0 AS (SELECT DISTINCT h FROM pp WHERE r <= 128),
mrg AS (SELECT h, row_number() OVER (ORDER BY h) AS r FROM mrg0),
ms AS (
    SELECT max(h) AS hk, count(*)::BIGINT AS n_in FROM mrg WHERE r <= 128
),
me AS (SELECT {_KMV_EST_CASE} AS merged_estimate FROM ms),
dr AS (SELECT h FROM (SELECT DISTINCT h FROM h0) ORDER BY h LIMIT 128),
ds AS (SELECT max(h) AS hk, count(*)::BIGINT AS n_in FROM dr),
de AS (SELECT {_KMV_EST_CASE} AS direct_estimate FROM ds)
SELECT npart.n_parts, me.merged_estimate, de.direct_estimate,
       me.merged_estimate = de.direct_estimate AS merge_law_holds
FROM npart CROSS JOIN me CROSS JOIN de
"""


@register("kmv_merge_law", _KMV_MERGE_SQL)
def kmv_merge_law_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability, checked end-to-end: one KMV bottom-128 per
    event_type, merged by union + re-take, must equal the direct
    whole-table sketch exactly — the property that lets per-day/shard
    sketch states answer ad-hoc slice distinct counts at 100 TB without
    rescanning. Same user_id hash domain as kmv_distinct_contract."""
    from bicis_spark.operators.sketch import kmv_merge_law

    ev = read_table(spark, sf_dir, "events")
    return kmv_merge_law(ev, "user_id", "event_type", k=128)


# ---------------------------------------------------------------------------
# Exact weighted quantiles (round 5): two-pass bucketed rank selection —
# the distributed replacement for a global ORDER BY + running-sum scan
# ---------------------------------------------------------------------------

_WEIGHTED_QUANTILES_SQL = """
WITH w AS (
    SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND l_quantity IS NOT NULL AND l_quantity > 0
),
t AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot FROM w),
agg AS (SELECT v, CAST(SUM(wt) AS BIGINT) AS bw FROM w GROUP BY v),
c AS (SELECT v, CAST(SUM(bw) OVER (ORDER BY v) AS BIGINT) AS cw FROM agg),
q(quantile, q_num, q_den) AS (
    VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
           ('p90', 9, 10), ('p99', 99, 100)
)
SELECT q.quantile,
       CAST(q.q_num AS BIGINT) AS q_num,
       CAST(q.q_den AS BIGINT) AS q_den,
       CAST(MIN(c.v) AS BIGINT) AS value_cents
FROM q, c, t
WHERE c.cw * q.q_den >= q.q_num * t.tot
GROUP BY 1, 2, 3
"""


@register("weighted_quantiles_price", _WEIGHTED_QUANTILES_SQL)
def weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted quantiles of the unit-priced line value
    (price in exact integer cents, weight = quantity): the oracle replays
    the global distinct-value running-sum DEFINITION, the Spark plan is
    the two-pass bucketed selection (operators/stats.py
    weighted_quantiles) whose widest window partition is bounded at
    ~1/n_buckets of the distinct values — never a global sort."""
    from bicis_spark.operators.stats import weighted_quantiles

    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    scaled = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_quantiles(scaled, "cents", "qty")


# ---------------------------------------------------------------------------
# Frontier BFS reachability (round 5): min-hop distances on the
# part<->supplier bipartite graph, oracle = depth-bounded recursive CTE
# ---------------------------------------------------------------------------

_BFS_SQL = """
WITH RECURSIVE e AS (
    SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
    FROM lineitem
    WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
),
und AS (
    SELECT pk * 2 AS src, sk * 2 + 1 AS dst FROM e
    UNION ALL
    SELECT sk * 2 + 1, pk * 2 FROM e
),
seeds AS (
    SELECT DISTINCT s_suppkey * 2 + 1 AS node
    FROM supplier WHERE s_suppkey % 10 = 0
),
reach AS (
    SELECT node, 0 AS d FROM seeds
    UNION
    SELECT u.dst, r.d + 1
    FROM reach r JOIN und u ON u.src = r.node
    WHERE r.d < 4
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(d) AS BIGINT) AS hops
FROM reach GROUP BY 1
"""


@register("bfs_part_supplier_hops", _BFS_SQL)
def bfs_part_supplier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS from every 10th supplier over the part<->supplier
    co-occurrence graph (vertices encoded part=2k / supplier=2k+1).
    The Spark plan is the frontier delta-iteration (operators/graph.py
    bfs_hops — per-round work proportional to the frontier, not |V|);
    the oracle replays min-hop semantics as a depth-bounded recursive
    CTE, a formulation Spark itself lacks. The distinct edge set is the
    loop invariant: persisted for the duration of the (eager) loop and
    released before return per the caching.py discipline."""
    from bicis_spark.caching import persisted as _persisted
    from bicis_spark.operators.graph import bfs_hops

    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    e = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 10 == 0)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    with _persisted(und) as (und_c,):
        return bfs_hops(und_c, seeds, max_hops=4)


_BRAND_WMEDIAN_SQL = """
WITH j AS (
    SELECT p.p_brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS v,
           CAST(l.l_quantity AS BIGINT) AS wt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_extendedprice IS NOT NULL
      AND l.l_quantity IS NOT NULL AND l.l_quantity > 0
),
agg AS (
    SELECT p_brand, v, CAST(SUM(wt) AS BIGINT) AS vw
    FROM j GROUP BY 1, 2
),
c AS (
    SELECT p_brand, v,
           CAST(SUM(vw) OVER (PARTITION BY p_brand ORDER BY v) AS BIGINT) AS cw,
           CAST(SUM(vw) OVER (PARTITION BY p_brand) AS BIGINT) AS tot
    FROM agg
)
SELECT p_brand,
       CAST(MIN(v) AS BIGINT) AS value_cents,
       CAST(MIN(tot) AS BIGINT) AS total_weight
FROM c
WHERE cw * 2 >= tot
GROUP BY 1
"""


@register("brand_weighted_median_price", _BRAND_WMEDIAN_SQL)
def brand_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand exact quantity-weighted median line price (integer
    cents): the GROUP BY companion to weighted_quantiles_price, built on
    operators/stats.py grouped_weighted_quantile — one map-side-combined
    (brand, value) aggregate, group-partitioned running-weight windows
    (partition = per-brand distinct values, never a global sort), and a
    broadcast dim join for the brand key."""
    from bicis_spark.operators.stats import grouped_weighted_quantile

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "p_brand",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return grouped_weighted_quantile(j, ["p_brand"], "cents", "qty", 1, 2)


_COVERAGE_SQL = """
WITH iv AS (
    SELECT user_id AS k,
           epoch_us(ts) AS s,
           epoch_us(ts) + 600000000 AS e
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
o AS (
    SELECT k, s, e,
           MAX(e) OVER (PARTITION BY k ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pm
    FROM iv
),
g AS (
    SELECT k, s, e,
           SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING)
               AS grp
    FROM o
),
m AS (
    SELECT k, grp, MIN(s) AS ms, MAX(e) AS me FROM g GROUP BY 1, 2
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(me - ms) AS BIGINT) AS coverage_us
FROM m GROUP BY 1
"""


@register("interval_union_coverage_users", _COVERAGE_SQL)
def interval_union_coverage_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user active-time coverage: each event opens a 10-minute
    activity interval; overlapping/touching intervals merge (the sweep
    expressed as two shared-exchange windows + a group reduce,
    operators/intervals.interval_union_coverage) and the union length is
    exact integer microseconds. The complement to sessionization (which
    counts sessions under a gap rule) — this measures covered TIME under
    an overlap rule."""
    from bicis_spark.operators.intervals import interval_union_coverage

    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    return interval_union_coverage(iv, "user_id", "start_ts", "end_ts").select(
        F.col("k"), "n_intervals", "coverage_us"
    )


# ---------------------------------------------------------------------------
# Order-invariant table checksum (round 5): the HASH_AGG / replica-
# reconciliation primitive, per order month
# ---------------------------------------------------------------------------

from bicis_spark.operators.sketch import hex_prefix_int_sql as _hex60

_CHECKSUM_ROW = (
    "md5(concat_ws('|', "
    " CASE WHEN o_orderkey IS NULL THEN '_N' ELSE concat(CAST(length(CAST(o_orderkey AS STRING)) AS STRING), ':', CAST(o_orderkey AS STRING)) END,"
    " CASE WHEN o_custkey IS NULL THEN '_N' ELSE concat(CAST(length(CAST(o_custkey AS STRING)) AS STRING), ':', CAST(o_custkey AS STRING)) END,"
    " CASE WHEN o_orderstatus IS NULL THEN '_N' ELSE concat(CAST(length(o_orderstatus) AS STRING), ':', o_orderstatus) END,"
    " CASE WHEN o_totalprice IS NULL THEN '_N' ELSE concat(CAST(length(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)) AS STRING), ':', CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)) END,"
    " CASE WHEN o_orderpriority IS NULL THEN '_N' ELSE concat(CAST(length(o_orderpriority) AS STRING), ':', o_orderpriority) END"
    "))"
)

_CHECKSUM_SQL = f"""
WITH r AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           {_hex60(_CHECKSUM_ROW)} AS ri
    FROM orders
    WHERE o_orderdate IS NOT NULL
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(ri) % 2305843009213693951 AS BIGINT) AS checksum
FROM r GROUP BY 1
"""


@register("table_checksum_orders_monthly", _CHECKSUM_SQL)
def table_checksum_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant monthly digest of the orders table
    (operators/sketch.table_checksum): length-prefixed NULL-marked row
    encoding -> md5 -> 60-bit int -> exact per-group sum mod 2^61-1.
    Columns are canonicalized to strings the same way on both engines
    (ints cast, the double price as exact cents, the timestamp grouped
    not encoded) — comparing two replicas of a 100 TB table moves
    |groups| rows per side. The SQL oracle builds the row digest with
    the SAME shared-dialect hex polynomial."""
    from bicis_spark.operators.sketch import table_checksum

    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    canon = o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.col("o_orderkey").cast("string").alias("f1"),
        F.col("o_custkey").cast("string").alias("f2"),
        F.col("o_orderstatus").alias("f3"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string").alias("f4"),
        F.col("o_orderpriority").alias("f5"),
    )
    return table_checksum(canon, ["month"], ["f1", "f2", "f3", "f4", "f5"])


_MODE_IMPUTE_SQL = """
WITH e AS (
    SELECT user_id,
           CASE WHEN event_id % 37 = 0 THEN NULL ELSE event_type END AS et
    FROM events
    WHERE user_id IS NOT NULL
),
cnt AS (
    SELECT user_id, et, COUNT(*) AS c
    FROM e WHERE et IS NOT NULL GROUP BY 1, 2
),
mode AS (
    SELECT user_id, et AS met FROM (
        SELECT user_id, et,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, et ASC) AS rn
        FROM cnt
    ) WHERE rn = 1
)
SELECT e.user_id, COALESCE(e.et, m.met) AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM e LEFT JOIN mode m ON m.user_id = e.user_id
GROUP BY 1, 2
"""


@register("mode_impute_event_types", _MODE_IMPUTE_SQL)
def mode_impute_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical imputation: event_type is deterministically NULLed on
    every 37th event_id (the synthesized-missingness discipline of
    row_validity_filter) and refilled with the per-user mode
    (operators/featurize.mode_impute — ties break to the smallest
    value); output is the per-(user, type) census AFTER imputation, so
    the hash gate covers count, pick, tie-break, and fill."""
    from bicis_spark.operators.featurize import mode_impute

    ev = read_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    holed = ev.select(
        "user_id",
        F.when(F.col("event_id") % 37 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ).alias("event_type"),
    )
    filled = mode_impute(holed, "user_id", "event_type")
    return filled.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Z-order clustering contract (round 6): multi-dimensional data layout —
# the Delta/Iceberg OPTIMIZE ZORDER primitive, bit-interleave expressed as
# engine-portable integer arithmetic
# ---------------------------------------------------------------------------

_Z_BITS = 10


def _interleave_terms(xc: str, yc: str, bits: int) -> str:
    """SQL for the Morton/Z-value of two ``bits``-bit ints, as pure
    integer arithmetic (div/mod/multiply — no engine-specific bitwise
    operators): bit b of x lands at position 2b, of y at 2b+1. Valid in
    Spark SQL (`div`) with the DuckDB twin using the same ops."""
    terms = []
    for b in range(bits):
        terms.append(f"((({xc} div {1 << b}) % 2) * {1 << (2 * b)})")
        terms.append(f"((({yc} div {1 << b}) % 2) * {1 << (2 * b + 1)})")
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH k AS (
    SELECT (o_custkey % {1 << _Z_BITS}) AS xk,
           -- FLOOR day for pre-1970 too: DuckDB's integer `//` truncates
           -- toward zero exactly like Spark's `div` (measured r7:
           -- SELECT -7 // 2 = -3), so floor = subtract the non-negative
           -- remainder first, then divide the exact multiple; the outer
           -- pmod-form keeps the bucket key non-negative
           (((((epoch_us(o_orderdate)
                - (((epoch_us(o_orderdate) % 86400000000) + 86400000000)
                   % 86400000000))
               // 86400000000) % {1 << _Z_BITS})
             + {1 << _Z_BITS}) % {1 << _Z_BITS}) AS yk
    FROM orders
),
z AS (
    SELECT xk, yk, ({_interleave_terms('xk', 'yk', _Z_BITS).replace(' div ', ' // ')}) AS zval
    FROM k
)
SELECT (zval // {1 << _Z_BITS})::BIGINT AS zbucket,
       count(*)::BIGINT AS n,
       min(zval)::BIGINT AS min_z, max(zval)::BIGINT AS max_z,
       min(xk)::BIGINT AS min_cust, max(xk)::BIGINT AS max_cust,
       min(yk)::BIGINT AS min_day, max(yk)::BIGINT AS max_day
FROM z GROUP BY zval // {1 << _Z_BITS}
"""


@register("zorder_layout_orders", _ZORDER_SQL)
def zorder_layout_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (custkey, order day) —
    the multi-dimension layout-optimization primitive behind Delta/
    Iceberg OPTIMIZE ZORDER: interleaving the two keys' bits gives a 1-D
    sort order under which ANY 2-D range predicate touches contiguous-ish
    runs, so per-file min/max zone maps prune both dimensions at once.
    The emitted rows are exactly those zone maps: per 1024-row-scale
    z-bucket (top bits of the z-value), the count and the min/max of
    z, custkey-low-bits and day-low-bits — the narrow (min_cust..max_cust
    x min_day..max_day) boxes per bucket are the skipping property
    itself, hash-gated. Bit surgery is pure div/mod/multiply integer
    arithmetic (engine-portable, no UDF); one map-side projection + one
    hash aggregate — at 100 TB this is the shuffle-free stats pass you
    run after writing z-sorted files."""
    orders = read_table(spark, sf_dir, "orders")
    k = orders.selectExpr(
        f"(o_custkey % {1 << _Z_BITS}) AS xk",
        # pmod-then-div == FLOOR division (matches the oracle's `//`) for
        # pre-1970 dates too (bare `div` truncates toward zero — ADVICE
        # r6), and the outer pmod keeps yk NON-NEGATIVE so the bit
        # interleave's div/% chain stays floor-consistent cross-engine
        # for pre-1970 days as well (oracle mirror: ((x % b) + b) % b)
        "pmod((unix_micros(o_orderdate)"
        " - pmod(unix_micros(o_orderdate), 86400000000))"
        f" div 86400000000, {1 << _Z_BITS}) AS yk",
    )
    z = k.selectExpr(
        "xk", "yk", f"({_interleave_terms('xk', 'yk', _Z_BITS)}) AS zval"
    )
    return z.groupBy(
        (F.col("zval") / F.lit(1 << _Z_BITS)).cast("long").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("zval").cast("long").alias("min_z"),
        F.max("zval").cast("long").alias("max_z"),
        F.min("xk").cast("long").alias("min_cust"),
        F.max("xk").cast("long").alias("max_cust"),
        F.min("yk").cast("long").alias("min_day"),
        F.max("yk").cast("long").alias("max_day"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout (round 6): the pre-period
# covariate adjustment every large experimentation platform applies
# ---------------------------------------------------------------------------

_CUPED_SQL = """
WITH cust AS (
    SELECT o_custkey,
           CASE WHEN ascii(substr(md5(o_custkey::VARCHAR || ':ab'), 1, 1)) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
           sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
    FROM orders GROUP BY 1, 2
),
arms AS (
    SELECT arm, count(*)::BIGINT AS n,
           CAST(floor(sum(x)) AS BIGINT) AS sx,
           CAST(floor(sum(y)) AS BIGINT) AS sy,
           CAST(floor(sum(x * y)) AS DECIMAL(38,0)) AS sxy,
           CAST(floor(sum(x * x)) AS DECIMAL(38,0)) AS sxx,
           CAST(floor(sum(y * y)) AS DECIMAL(38,0)) AS syy
    FROM cust GROUP BY arm
),
w AS (
    SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'A' THEN CAST(sx AS DOUBLE) END) AS sx_a,
        max(CASE WHEN arm = 'B' THEN CAST(sx AS DOUBLE) END) AS sx_b,
        max(CASE WHEN arm = 'A' THEN CAST(sy AS DOUBLE) END) AS sy_a,
        max(CASE WHEN arm = 'B' THEN CAST(sy AS DOUBLE) END) AS sy_b,
        max(CASE WHEN arm = 'A' THEN CAST(CAST(sxy AS BIGINT) AS DOUBLE) END) AS sxy_a,
        max(CASE WHEN arm = 'B' THEN CAST(CAST(sxy AS BIGINT) AS DOUBLE) END) AS sxy_b,
        max(CASE WHEN arm = 'A' THEN CAST(CAST(sxx AS BIGINT) AS DOUBLE) END) AS sxx_a,
        max(CASE WHEN arm = 'B' THEN CAST(CAST(sxx AS BIGINT) AS DOUBLE) END) AS sxx_b,
        max(CASE WHEN arm = 'A' THEN CAST(CAST(syy AS BIGINT) AS DOUBLE) END) AS syy_a,
        max(CASE WHEN arm = 'B' THEN CAST(CAST(syy AS BIGINT) AS DOUBLE) END) AS syy_b
    FROM arms
),
c1 AS (
    SELECT *,
           (sx_a + sx_b) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS m
    FROM w
),
c2 AS (
    SELECT *,
           ((sxy_a + sxy_b) - m * (sy_a + sy_b))
           / ((sxx_a + sxx_b) - m * (sx_a + sx_b)) AS theta
    FROM c1
),
c3 AS (
    SELECT *,
           (sy_a - theta * (sx_a - CAST(n_a AS DOUBLE) * m)) / CAST(n_a AS DOUBLE) AS mean_adj_a,
           (sy_b - theta * (sx_b - CAST(n_b AS DOUBLE) * m)) / CAST(n_b AS DOUBLE) AS mean_adj_b,
           syy_a - 2 * theta * (sxy_a - m * sy_a)
               + theta * theta * (sxx_a - 2 * m * sx_a + CAST(n_a AS DOUBLE) * m * m) AS q_a,
           syy_b - 2 * theta * (sxy_b - m * sy_b)
               + theta * theta * (sxx_b - 2 * m * sx_b + CAST(n_b AS DOUBLE) * m * m) AS q_b
    FROM c2
),
c4 AS (
    SELECT *,
           (q_a - CAST(n_a AS DOUBLE) * mean_adj_a * mean_adj_a) / (CAST(n_a AS DOUBLE) - 1) AS var_adj_a,
           (q_b - CAST(n_b AS DOUBLE) * mean_adj_b * mean_adj_b) / (CAST(n_b AS DOUBLE) - 1) AS var_adj_b,
           (syy_a - sy_a * sy_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1) AS var_raw_a,
           (syy_b - sy_b * sy_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1) AS var_raw_b
    FROM c3
)
SELECT n_a, n_b, theta, mean_adj_a, mean_adj_b,
       (mean_adj_a - mean_adj_b)
       / sqrt(var_adj_a / CAST(n_a AS DOUBLE) + var_adj_b / CAST(n_b AS DOUBLE)) AS z_cuped,
       (var_adj_a + var_adj_b) / (var_raw_a + var_raw_b) AS var_ratio
FROM c4
"""


@register("cuped_adjusted_ab", _CUPED_SQL)
def cuped_adjusted_ab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) on the hash-
    assigned spend experiment: pre-period spend (orders before 1998) is
    the covariate x, experiment-period spend the metric y, theta =
    cov(x,y)/var(x) pooled, and every adjusted statistic — per-arm
    adjusted means, adjusted variances, the z-stat, and the achieved
    variance ratio — is expanded ALGEBRAICALLY into a fixed float tree
    over exact per-arm integer sums (n, Σx, Σy, Σxy, Σx², Σy², decimal-
    accumulated; first moments floored to int64, second moments
    DECIMAL(38,0) through the SUM — Σx² nears 2^63 by ~sf100, where the
    old in-aggregate int64 would wrap silently; the one terminal
    DECIMAL→BIGINT→DOUBLE cast is the fit_poisson_irls_step D/E
    discipline and errors loudly under ANSI past the bound instead —
    ADVICE r6). No
    per-row adjusted values ever materialize, so there is no float
    accumulation anywhere and the oracle replays the readout bitwise.
    Scale shape: one custkey-keyed aggregate, one 2-row arm aggregate, a
    1-row report — at 100 TB the adjustment costs nothing beyond the
    unadjusted readout. var_ratio < 1 is the methodology's entire point,
    pinned by test."""
    orders = read_table(spark, sf_dir, "orders")
    arm = F.when(
        F.ascii(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_custkey"), F.lit("ab"))), 1, 1
            )
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    split = F.lit("1998-01-01").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    cust = orders.groupBy(F.col("o_custkey"), arm.alias("arm")).agg(
        F.sum(
            F.when(F.col("o_orderdate") < split, price).otherwise(zero)
        ).alias("x"),
        F.sum(
            F.when(F.col("o_orderdate") >= split, price).otherwise(zero)
        ).alias("y"),
    )
    # First moments fit int64 at any plausible SF (Σ|x| ≈ 1e13 at sf100);
    # SECOND moments do not — Σx² approaches 2^63 near sf100 (ADVICE r6) —
    # so sxy/sxx/syy stay DECIMAL(38,0) (exact to ~1e38, the
    # fit_poisson_irls_step D/E discipline) until the one cast to double
    # that feeds the float tree, which the oracle replays identically.
    arms = cust.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(F.sum("x")).cast("long").alias("sx"),
        F.floor(F.sum("y")).cast("long").alias("sy"),
        F.floor(F.sum(F.col("x") * F.col("y")))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.floor(F.sum(F.col("x") * F.col("x")))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.floor(F.sum(F.col("y") * F.col("y")))
        .cast("decimal(38,0)")
        .alias("syy"),
    )

    def pick(a: str, col: str):
        # decimal moments go DECIMAL(38,0) -> BIGINT -> DOUBLE (the
        # fit_poisson_irls_step D/E discipline, |value| < 2^63 bound
        # documented above): int64->double is IEEE-correctly-rounded in
        # both engines, while a direct wide-decimal->double cast is
        # engine-divergent in the last ulp past ~16 digits (measured r6)
        v = F.col(col)
        if col in ("sxy", "sxx", "syy"):
            v = v.cast("long")
        return F.max(F.when(F.col("arm") == a, v.cast("double")))

    w = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        *[
            pick(a, c).alias(f"{c}_{a.lower()}")
            for c in ("sx", "sy", "sxy", "sxx", "syy")
            for a in ("A", "B")
        ],
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    c1 = w.withColumn(
        "m", (F.col("sx_a") + F.col("sx_b")) / (n_a + n_b)
    )
    m = F.col("m")
    c2 = c1.withColumn(
        "theta",
        ((F.col("sxy_a") + F.col("sxy_b")) - m * (F.col("sy_a") + F.col("sy_b")))
        / ((F.col("sxx_a") + F.col("sxx_b")) - m * (F.col("sx_a") + F.col("sx_b"))),
    )
    th = F.col("theta")
    c3 = c2.withColumn(
        "mean_adj_a",
        (F.col("sy_a") - th * (F.col("sx_a") - n_a * m)) / n_a,
    ).withColumn(
        "mean_adj_b",
        (F.col("sy_b") - th * (F.col("sx_b") - n_b * m)) / n_b,
    ).withColumn(
        "q_a",
        F.col("syy_a")
        - F.lit(2) * th * (F.col("sxy_a") - m * F.col("sy_a"))
        + th * th * (F.col("sxx_a") - F.lit(2) * m * F.col("sx_a") + n_a * m * m),
    ).withColumn(
        "q_b",
        F.col("syy_b")
        - F.lit(2) * th * (F.col("sxy_b") - m * F.col("sy_b"))
        + th * th * (F.col("sxx_b") - F.lit(2) * m * F.col("sx_b") + n_b * m * m),
    )
    c4 = c3.withColumn(
        "var_adj_a",
        (F.col("q_a") - n_a * F.col("mean_adj_a") * F.col("mean_adj_a"))
        / (n_a - F.lit(1)),
    ).withColumn(
        "var_adj_b",
        (F.col("q_b") - n_b * F.col("mean_adj_b") * F.col("mean_adj_b"))
        / (n_b - F.lit(1)),
    ).withColumn(
        "var_raw_a",
        (F.col("syy_a") - F.col("sy_a") * F.col("sy_a") / n_a) / (n_a - F.lit(1)),
    ).withColumn(
        "var_raw_b",
        (F.col("syy_b") - F.col("sy_b") * F.col("sy_b") / n_b) / (n_b - F.lit(1)),
    )
    return c4.select(
        "n_a",
        "n_b",
        "theta",
        "mean_adj_a",
        "mean_adj_b",
        (
            (F.col("mean_adj_a") - F.col("mean_adj_b"))
            / F.sqrt(F.col("var_adj_a") / n_a + F.col("var_adj_b") / n_b)
        ).alias("z_cuped"),
        (
            (F.col("var_adj_a") + F.col("var_adj_b"))
            / (F.col("var_raw_a") + F.col("var_raw_b"))
        ).alias("var_ratio"),
    )


# ---------------------------------------------------------------------------
# Hierarchy subtree rollup (round 6): the BOM/org-chart aggregate without
# recursion — closed-form ancestor enumeration
# ---------------------------------------------------------------------------

_BOM_DEPTH = 8

_BOM_SQL = f"""
WITH n AS (
    SELECT p_partkey AS id,
           CAST(floor(CAST(p_retailprice AS DECIMAL(18,2))) AS BIGINT) AS val
    FROM part
),
anc AS (
    SELECT (id // CAST(power(10, k) AS BIGINT)) AS anode, val
    FROM n, range({_BOM_DEPTH}) r(k)
    WHERE (id // CAST(power(10, k) AS BIGINT)) > 0
)
SELECT a.anode AS id,
       count(*)::BIGINT AS n_subtree,
       sum(a.val)::BIGINT AS subtree_value
FROM anc a JOIN n ON n.id = a.anode
GROUP BY a.anode
"""


@register("bom_subtree_rollup", _BOM_SQL)
def bom_subtree_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (bill-of-materials / org-chart) subtree aggregation
    over the implicit decimal-radix part tree (parent(p) = p div 10):
    per existing node, the count and summed floor-int retail value of its
    ENTIRE subtree, self included. The recursive-CTE formulation every
    SQL engine reaches for is O(depth) self-joins with a growing
    frontier; because the ancestor chain here is a closed form
    (ancestor_k = id div 10^k), the Spark plan instead EXPLODES each row
    into its <= 8 ancestors map-side and runs ONE hash aggregate + one
    join back to existing nodes — the scale-correct shape for fixed-depth
    hierarchies (no iteration, no driver loop, shuffle carries (ancestor,
    partial sum)). Integer values throughout -> hash-gated."""
    part = read_table(spark, sf_dir, "part")
    n = part.select(
        F.col("p_partkey").alias("id"),
        F.floor(F.col("p_retailprice").cast("decimal(18,2)"))
        .cast("long")
        .alias("val"),
    )
    # integer `div`, not float division + truncate: a double quotient one
    # ulp below an integer would mis-floor for ids beyond ~2^52/10^k
    anc = (
        n.select(
            F.explode(
                F.array(
                    *[F.expr(f"id div {10 ** k}") for k in range(_BOM_DEPTH)]
                )
            ).alias("anode"),
            "val",
        )
        .where(F.col("anode") > 0)
    )
    return (
        anc.join(n.select(F.col("id")), anc["anode"] == F.col("id"))
        .groupBy(F.col("anode").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subtree"),
            F.sum("val").cast("long").alias("subtree_value"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (round 6): the delta algebra behind
# streaming materialized views — A'⋈B' = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
# ---------------------------------------------------------------------------

_IJV_SQL = """
WITH j AS (
    SELECT o.o_orderpriority AS pri,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS rev
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT pri, count(*)::BIGINT AS n_lines,
       CAST(floor(sum(rev)) AS BIGINT) AS revenue_int
FROM j GROUP BY pri
"""


@register("incremental_join_view", _IJV_SQL)
def incremental_join_view_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN-view maintenance by the delta decomposition —
    the algebra a streaming/lakehouse system applies instead of
    recomputing a view when new data lands:

        A'⋈B' = (A⋈B) ∪ (ΔA⋈B) ∪ (A⋈ΔB) ∪ (ΔA⋈ΔB)

    Here A = orders, B = lineitem, split into base/delta on
    o_orderdate / l_shipdate < 1998-07-01 (deltas land on BOTH sides, so
    all three delta terms are non-trivially exercised; the ΔA⋈ΔB term is
    what naive \"join delta against old snapshot\" implementations drop).
    The ENGINE computes the view through the four-term decomposition and
    merges partial aggregates; the ORACLE is the direct full-join
    definition — a hash MATCH is the maintenance law itself, per
    aggregate cell (count + exact-decimal revenue, floored to int64).
    Scale shape: each delta term joins a small delta side against a
    base side (broadcast when the delta is small), and partial aggregates
    merge by key — the view is never recomputed from scratch, which is
    the entire point at 100 TB."""
    split = F.lit("1998-07-01").cast("timestamp")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    a = orders.where(F.col("o_orderdate") < split)
    da = orders.where(F.col("o_orderdate") >= split)
    b = li.where(F.col("l_shipdate") < split)
    db = li.where(F.col("l_shipdate") >= split)

    def term(o, l):  # noqa: E741
        return o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
            F.col("o_orderpriority").alias("pri"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("rev"),
        )

    def partial(t):
        return t.groupBy("pri").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("rev").alias("s"),
        )

    merged = (
        partial(term(a, b))
        .unionByName(partial(term(da, b)))
        .unionByName(partial(term(a, db)))
        .unionByName(partial(term(da, db)))
    )
    return merged.groupBy("pri").agg(
        F.sum("n").cast("long").alias("n_lines"),
        F.floor(F.sum("s")).cast("long").alias("revenue_int"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (round 6): the classical categorical
# dependence screen — per-cell contributions, every operand an exact count
# ---------------------------------------------------------------------------

_CHISQ_SQL = """
WITH base AS (
    SELECT o_orderpriority AS x, o_orderstatus AS y FROM orders
),
cells AS (SELECT x, y, count(*)::BIGINT AS n_xy FROM base GROUP BY x, y),
mx AS (SELECT x, count(*)::BIGINT AS n_x FROM base GROUP BY x),
my AS (SELECT y, count(*)::BIGINT AS n_y FROM base GROUP BY y),
tot AS (SELECT count(*)::BIGINT AS n FROM base)
SELECT c.x, c.y, c.n_xy, mx.n_x, my.n_y, tot.n,
       (CAST(tot.n AS DOUBLE) * CAST(c.n_xy AS DOUBLE)
        - CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE))
       * (CAST(tot.n AS DOUBLE) * CAST(c.n_xy AS DOUBLE)
          - CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE))
       / (CAST(tot.n AS DOUBLE) * CAST(mx.n_x AS DOUBLE)
          * CAST(my.n_y AS DOUBLE)) AS chisq_contrib
FROM cells c JOIN mx ON mx.x = c.x JOIN my ON my.y = c.y CROSS JOIN tot
"""


@register("chisq_independence_cells", _CHISQ_SQL)
def chisq_independence_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence screen over the (order priority,
    order status) contingency table — the classical-test twin of
    `mutual_information_features`. Emitted per CELL: the exact counts and
    the cell's chi-square contribution (N·n_xy − n_x·n_y)²/(N·n_x·n_y) as
    one fixed float tree over correctly-rounded int64→double casts — so
    every row hash-matches, and the statistic is the (bounded,
    cells-count-sized) sum the consumer takes driver-side, avoiding a
    float-accumulation order dependence inside the engines. Plan: one
    scan feeding three hash aggregates, marginals broadcast back onto the
    cells-sized frame — contingency tables are dimension-bounded, so
    nothing here scales with the fact table except the first aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    )
    cells = base.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    mx = base.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("n_x"))
    my = base.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("n_y"))
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    n_d = F.col("n").cast("double")
    nxy_d = F.col("n_xy").cast("double")
    nx_d = F.col("n_x").cast("double")
    ny_d = F.col("n_y").cast("double")
    dev = n_d * nxy_d - nx_d * ny_d
    return j.select(
        "x",
        "y",
        "n_xy",
        "n_x",
        "n_y",
        "n",
        (dev * dev / (n_d * nx_d * ny_d)).alias("chisq_contrib"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands activity streaks (round 6): the classical consecutive-run
# analysis via the rank trick — date/int exact end to end
# ---------------------------------------------------------------------------

_STREAKS_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE ts IS NOT NULL
),
isl AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                    AS INTEGER) AS anchor
    FROM days
),
streaks AS (
    SELECT user_id, anchor, count(*)::BIGINT AS len,
           min(d) AS s, max(d) AS e
    FROM isl GROUP BY user_id, anchor
),
ranked AS (
    SELECT user_id, len, s, e,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY len DESC, s ASC) AS rk,
           count(*) OVER (PARTITION BY user_id) AS n_streaks,
           sum(len) OVER (PARTITION BY user_id) AS active
    FROM streaks
)
SELECT user_id,
       CAST(active AS BIGINT) AS active_days,
       CAST(n_streaks AS BIGINT) AS n_streaks,
       len AS longest_streak,
       CAST(s AS TIMESTAMP) AS longest_start,
       CAST(e AS TIMESTAMP) AS longest_end
FROM ranked WHERE rk = 1
"""


@register("user_activity_streaks", _STREAKS_SQL)
def user_activity_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest consecutive-calendar-day streak over events —
    gaps-and-islands by the ``day − row_number()`` anchor trick. The
    distinct collapses (user, day) map-side before the window, so the
    per-user window sees at most one row per calendar day no matter how
    hot the user — the same skew bound the W1 bucketed target uses.
    Tie-break is total (longest, then earliest start): deterministic."""
    from bicis_spark.operators.timeseries import activity_streaks

    events = read_table(spark, sf_dir, "events")
    out = activity_streaks(events, "user_id", "ts")
    # DATE comes back as python objects from Spark but datetime64 from
    # DuckDB; timestamps compare cleanly on both sides (suite-wide rule)
    return out.withColumn(
        "longest_start", F.col("longest_start").cast("timestamp")
    ).withColumn("longest_end", F.col("longest_end").cast("timestamp"))


def _epoch_hour_t(col: str = "ts"):
    """Epoch-hour series key with FLOOR-division semantics for all inputs
    (ADVICE r6: the former double-divide + cast-to-long truncated toward
    zero, matching the oracle's `//` only because the data is post-1970).
    date_trunc('hour') pins epoch-seconds to an exact multiple of 3600
    (any sign), and subtracting pmod before the divide makes the quotient
    an exact representable integer, so the cast is exact floor division
    even for pre-1970 timestamps."""
    secs = F.unix_timestamp(F.date_trunc("hour", F.col(col)))
    return (
        ((secs - F.pmod(secs, F.lit(3600))) / F.lit(3600))
        .cast("long")
        .alias("t")
    )


# ---------------------------------------------------------------------------
# Autocorrelation diagnostic (round 6): Box-Jenkins lag screen over the
# hourly count series — distributed lag JOIN, not a global window
# ---------------------------------------------------------------------------

_ACF_SQL = """
WITH series AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1
),
lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 25)),
pairs AS (
    SELECT lg.lag, a.x AS xv, b.x AS yv
    FROM series a
    JOIN lags lg ON true
    JOIN series b ON b.t + lg.lag = a.t
),
s AS (
    SELECT lag,
           count(*)::BIGINT AS n_pairs,
           CAST(sum(xv) AS BIGINT) AS sx,
           CAST(sum(yv) AS BIGINT) AS sy,
           CAST(sum(xv * yv) AS BIGINT) AS sxy,
           CAST(sum(xv * xv) AS BIGINT) AS sx2,
           CAST(sum(yv * yv) AS BIGINT) AS sy2
    FROM pairs GROUP BY lag
)
SELECT lag, n_pairs, sx, sy, sxy, sx2, sy2,
       CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS acf
FROM s
"""


@register("acf_hourly_counts", _ACF_SQL)
def acf_hourly_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the hourly event-count series at lags
    1..24 — the identification diagnostic that precedes the Holt /
    Holt-Winters fits (is there daily seasonality worth a 24-slot
    model?). Pairing is a self-join on ``t = t' + lag`` after an
    explode(sequence) lag fan-out — the plan distributes by the shifted
    key instead of funnelling the series through one global-window
    partition, and plans join-free until that single hash join. Per-lag sufficient statistics are exact BIGINTs; the
    Pearson r is one fixed float tree over int64→double casts (sqrt is
    IEEE correctly-rounded on both engines), NULL where a lag has no
    variance to correlate."""
    from bicis_spark.operators.timeseries import autocorrelation

    events = read_table(spark, sf_dir, "events")
    series = events.groupBy(_epoch_hour_t()).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return autocorrelation(series, "t", "x", max_lag=24)


# ---------------------------------------------------------------------------
# Per-vertex clustering coefficient + fixed-round k-core peel (round 6):
# the neighborhood-density and degeneracy primitives over the co-purchase
# graph the triangle census already defined
# ---------------------------------------------------------------------------

_COPURCHASE_PAIRS_CTE = """
pairs AS (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
)
"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase part pairs (src < dst, duplicates across orders kept —
    every graph operator downstream normalizes + dedupes) built WITHOUT
    a fact self-join (r7): one groupBy-order collect_set — orders hold
    O(1) lineitems (≤7 in TPC-H semantics, a data-model bound that holds
    at any SF) so the map-side combination expansion is bounded per row
    — replacing the lineitem⨝lineitem build that cost 5.9s of the 6.4s
    kcore_parts total at sf0.1 (combination build: 2.6s, one fewer fact
    shuffle at 100 TB). The oracle CTE keeps its self-join form: an
    independent implementation of the same pair set."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # two chained generators instead of the nested transform lambdas
    # (r11): higher-order functions are CodegenFallback — the flattened
    # transform form evaluated interpreted per element; posexplode +
    # explode(slice(...)) stays in whole-stage codegen. Same pair set
    # (A/B: identical count/sum aggregates, 0.69→0.59s at sf0.1).
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select("ps", F.posexplode("ps").alias("i", "x"))
        .select(
            F.col("x").alias("src"),
            F.explode(
                F.expr("slice(ps, i + 2, size(ps) - i - 1)")
            ).alias("dst"),
        )
    )

_LCC_SQL = f"""
WITH {_COPURCHASE_PAIRS_CTE},
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM pairs e1
    JOIN pairs e2 ON e1.b = e2.a
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
pvt AS (
    SELECT v, count(*)::BIGINT AS n_triangles FROM (
        SELECT x AS v FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY v
),
deg AS (
    SELECT v, count(*)::BIGINT AS degree FROM (
        SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs
    ) GROUP BY v
)
SELECT deg.v AS vertex, deg.degree,
       coalesce(pvt.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN 2.0 * CAST(coalesce(pvt.n_triangles, 0) AS DOUBLE)
                 / (CAST(deg.degree AS DOUBLE)
                    * (CAST(deg.degree AS DOUBLE) - 1.0))
       END AS lcc
FROM deg LEFT JOIN pvt ON pvt.v = deg.v
"""


@register("clustering_coefficient_parts", _LCC_SQL)
def clustering_coefficient_parts_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per part over the co-purchase graph —
    the per-vertex refinement of `part_copurchase_triangles`: triangles
    enumerate once via the compact-forward wedge join, then credit their
    three corners through one explode + hash aggregate; lcc is a single
    guarded IEEE division of exact BIGINTs (NULL when degree < 2)."""
    from bicis_spark.operators.graph import local_clustering_coefficient

    pairs = _copurchase_pairs(spark, sf_dir)
    # |parts| scales linearly with SF, so no UNCONDITIONAL broadcast of
    # the degree table; "auto" (r8) = runtime count gate (4M vertices):
    # map-side rank attaches when measured small, shuffle default
    # otherwise (SCALE.md r8 A/B)
    return local_clustering_coefficient(
        pairs, "src", "dst", broadcast_degrees="auto"
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """Unroll the fixed-round peel as chained CTEs — the oracle replays
    the engine loop literally, one (degree, keep, refilter) triple per
    round."""
    ctes = [_COPURCHASE_PAIRS_CTE.strip(), "e0 AS (SELECT a, b FROM pairs)"]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        ctes.append(
            f"d{r} AS (SELECT v, count(*)::BIGINT AS d FROM ("
            f"SELECT a AS v FROM {prev} UNION ALL SELECT b FROM {prev}"
            f") GROUP BY v)"
        )
        ctes.append(f"k{r} AS (SELECT v FROM d{r} WHERE d >= {k})")
        # hash-join form, not IN-subqueries: DuckDB's planner spilled to
        # disk on the chained IN filters at sf0.1
        ctes.append(
            f"e{r} AS (SELECT e.a, e.b FROM {prev} e "
            f"JOIN k{r} ka ON e.a = ka.v "
            f"JOIN k{r} kb ON e.b = kb.v)"
        )
    last = f"e{rounds}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vertex, residual_degree FROM (
    SELECT v AS vertex, count(*)::BIGINT AS residual_degree FROM (
        SELECT a AS v FROM {last} UNION ALL SELECT b FROM {last}
    ) GROUP BY v
) WHERE residual_degree >= {k}
"""
    )


@register("kcore_parts", _kcore_sql(k=80, rounds=4))
def kcore_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round 80-core peel of the part co-purchase graph (4 rounds):
    vertices surviving repeated drop-degree-below-80 passes, with their
    residual degree — the degeneracy primitive behind dense-subgraph
    mining. The oracle unrolls the identical rounds as chained CTEs, so
    MATCH pins every round's degree/keep/refilter semantics.

    k=80 since r7 (was 3): the co-purchase graph's MINIMUM degree is
    38-49 at every driver SF (measured degree-histogram probe, SCALE.md),
    so the k=3 peel was a structural NO-OP — the oracle gated only the
    final degree filter, and the k/boundary mutants survived every
    sweep. At k=80 the peel CASCADES at all three driver SFs
    (sf0.001: 48/106/46/0 drops per round to an empty core; sf0.01:
    97/25/13/7; sf0.1: 846/197/64/24), so every round's
    degree/keep/refilter logic is load-bearing under the hash gate."""
    from bicis_spark.operators.graph import kcore_peel

    pairs = _copurchase_pairs(spark, sf_dir)
    return kcore_peel(pairs, "src", "dst", k=80, rounds=4)


# ---------------------------------------------------------------------------
# Change-point screen (round 6): single binary-segmentation split over the
# hourly count series — per-boundary SSE costs, every operand exact
# ---------------------------------------------------------------------------

_CHANGEPOINT_SQL = """
WITH series AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1
),
pref AS (
    SELECT t,
           count(*) OVER w AS n_l,
           CAST(sum(x) OVER w AS BIGINT) AS sx_l,
           CAST(sum(x * x) OVER w AS BIGINT) AS sx2_l
    FROM series
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
),
tot AS (
    SELECT count(*)::BIGINT AS n_t, CAST(sum(x) AS BIGINT) AS sx_t,
           CAST(sum(x * x) AS BIGINT) AS sx2_t
    FROM series
)
SELECT t AS boundary_t,
       CAST(n_l AS BIGINT) AS n_l, sx_l, sx2_l,
       CAST(n_t - n_l AS BIGINT) AS n_r,
       CAST(sx_t - sx_l AS BIGINT) AS sx_r,
       CAST(sx2_t - sx2_l AS BIGINT) AS sx2_r,
       (CAST(sx2_l AS DOUBLE)
        - CAST(sx_l AS DOUBLE) * CAST(sx_l AS DOUBLE) / CAST(n_l AS DOUBLE))
       + (CAST(sx2_t - sx2_l AS DOUBLE)
          - CAST(sx_t - sx_l AS DOUBLE) * CAST(sx_t - sx_l AS DOUBLE)
            / CAST(n_t - n_l AS DOUBLE)) AS split_cost,
       (CAST(sx2_t AS DOUBLE)
        - CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE))
       - ((CAST(sx2_l AS DOUBLE)
           - CAST(sx_l AS DOUBLE) * CAST(sx_l AS DOUBLE)
             / CAST(n_l AS DOUBLE))
          + (CAST(sx2_t - sx2_l AS DOUBLE)
             - CAST(sx_t - sx_l AS DOUBLE) * CAST(sx_t - sx_l AS DOUBLE)
               / CAST(n_t - n_l AS DOUBLE))) AS sse_reduction
FROM pref CROSS JOIN tot
WHERE n_t - n_l >= 1
"""


@register("changepoint_hourly_split", _CHANGEPOINT_SQL)
def changepoint_hourly_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change-point screen over the hourly event-count
    series: for every candidate boundary, the two-segment SSE cost and
    the reduction vs the unsplit series — the level-shift detector that
    complements the drift-direction CUSUM monitor (`cusum_hourly_drift`
    finds sustained drift vs a reference; this finds WHERE the mean
    shifts). The argmin row is the classical single change point; the
    full cost curve is emitted so every operand is gated. Prefix sums
    ride one cumulative window over the hours-of-history-sized series
    (dimension-bounded, like the ACF series — the fact table collapses
    first); right-segment stats derive from the 1-row total attach, and
    both SSE terms are fixed float trees over exact BIGINTs."""
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    series = events.groupBy(_epoch_hour_t()).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = series.select(
        "t",
        F.count(F.lit(1)).over(w).cast("long").alias("n_l"),
        F.sum("x").over(w).cast("long").alias("sx_l"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sx2_l"),
    )
    tot = series.agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum("x").cast("long").alias("sx_t"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2_t"),
    )
    j = pref.crossJoin(F.broadcast(tot)).where(
        (F.col("n_t") - F.col("n_l")) >= 1
    )
    nl = F.col("n_l").cast("double")
    sxl = F.col("sx_l").cast("double")
    sx2l = F.col("sx2_l").cast("double")
    nr = (F.col("n_t") - F.col("n_l")).cast("double")
    sxr = (F.col("sx_t") - F.col("sx_l")).cast("double")
    sx2r = (F.col("sx2_t") - F.col("sx2_l")).cast("double")
    nt = F.col("n_t").cast("double")
    sxt = F.col("sx_t").cast("double")
    sx2t = F.col("sx2_t").cast("double")
    cost_l = sx2l - sxl * sxl / nl
    cost_r = sx2r - sxr * sxr / nr
    cost_t = sx2t - sxt * sxt / nt
    return j.select(
        F.col("t").alias("boundary_t"),
        "n_l",
        "sx_l",
        "sx2_l",
        (F.col("n_t") - F.col("n_l")).cast("long").alias("n_r"),
        (F.col("sx_t") - F.col("sx_l")).cast("long").alias("sx_r"),
        (F.col("sx2_t") - F.col("sx2_l")).cast("long").alias("sx2_r"),
        (cost_l + cost_r).alias("split_cost"),
        (cost_t - (cost_l + cost_r)).alias("sse_reduction"),
    )


# ---------------------------------------------------------------------------
# Linear-interpolation join (round 6): score each incident against the
# ambient rate curve — engine = dense-grid ffill/bfill + one hash join;
# oracle = DuckDB native ASOF JOIN both directions (independent impl)
# ---------------------------------------------------------------------------

_INTERP_SQL = """
WITH series AS (
    SELECT date_trunc('hour', ts) AS h, count(*)::BIGINT AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tgt AS (
    SELECT event_id, ts AS t FROM events WHERE event_type = 'error'
),
p AS (
    SELECT tgt.event_id, s.h AS t0, s.x AS x0
    FROM tgt ASOF LEFT JOIN series s ON s.h <= tgt.t
),
n AS (
    SELECT tgt.event_id, s.h AS t1, s.x AS x1
    FROM tgt ASOF LEFT JOIN series s ON s.h >= tgt.t
)
SELECT tgt.event_id, tgt.t, p.t0, p.x0, n.t1, n.x1,
       CASE WHEN p.t0 IS NOT NULL AND n.t1 IS NOT NULL THEN
           CASE WHEN n.t1 = p.t0 THEN CAST(p.x0 AS DOUBLE)
                ELSE CAST(p.x0 AS DOUBLE)
                     + (CAST(n.x1 AS DOUBLE) - CAST(p.x0 AS DOUBLE))
                       * (CAST(epoch_us(tgt.t) - epoch_us(p.t0) AS DOUBLE)
                          / CAST(epoch_us(n.t1) - epoch_us(p.t0) AS DOUBLE))
           END
       END AS interp_value
FROM tgt
JOIN p USING (event_id)
JOIN n USING (event_id)
"""


@register("interp_purchase_rate_at_errors", _INTERP_SQL)
def interp_purchase_rate_at_errors_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear-interpolation join: every error event scored against the
    hourly purchase-count curve interpolated at the error's exact
    timestamp (was the incident during a traffic peak?). The engine
    builds a dense hour grid over the series span (dimension-bounded),
    ffill/bfills the surrounding points, and hash-joins targets on their
    truncated hour — no range join, no per-target search; the oracle
    replays the same semantics through DuckDB's native ASOF JOIN in both
    directions, an independent implementation of the definition."""
    from bicis_spark.operators.timeseries import interpolate_series_at

    events = read_table(spark, sf_dir, "events")
    series = events.where(F.col("event_type") == "purchase").groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    targets = events.where(F.col("event_type") == "error").select(
        "event_id", "ts"
    )
    return interpolate_series_at(
        targets, series, "ts", "event_id", "h", "x", step="hour"
    )


# ---------------------------------------------------------------------------
# Cross-correlation lead-lag screen (round 6): do views lead purchases?
# ---------------------------------------------------------------------------

_CCF_SQL = """
WITH sx AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
sy AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS y
    FROM events WHERE event_type = 'view' GROUP BY 1
),
lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-12, 13)),
pairs AS (
    SELECT lg.lag, a.x AS xv, b.y AS yv
    FROM sx a
    JOIN lags lg ON true
    JOIN sy b ON b.t + lg.lag = a.t
),
s AS (
    SELECT lag,
           count(*)::BIGINT AS n_pairs,
           CAST(sum(xv) AS BIGINT) AS sx,
           CAST(sum(yv) AS BIGINT) AS sy,
           CAST(sum(xv * yv) AS BIGINT) AS sxy,
           CAST(sum(xv * xv) AS BIGINT) AS sx2,
           CAST(sum(yv * yv) AS BIGINT) AS sy2
    FROM pairs GROUP BY lag
)
SELECT lag, n_pairs, sx, sy, sxy, sx2, sy2,
       CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_pairs AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS ccf
FROM s
"""


@register("ccf_view_purchase", _CCF_SQL)
def ccf_view_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly view series and the hourly
    purchase series at lags −12..+12 (positive lag = views lead
    purchases) — the lead-lag identification screen that pairs with the
    ACF diagnostic. Same distributed shape: explode(sequence) lag
    fan-out on the leading side, one hash join on the shifted hour key,
    exact BIGINT sufficient statistics, NULL-guarded Pearson r."""
    from bicis_spark.operators.timeseries import cross_correlation

    events = read_table(spark, sf_dir, "events")

    def hourly(etype: str) -> DataFrame:
        return events.where(F.col("event_type") == etype).groupBy(
            _epoch_hour_t()
        ).agg(F.count(F.lit(1)).cast("long").alias("x"))

    return cross_correlation(
        hourly("purchase"), hourly("view"), "t", "x", max_lag=12
    )


# ---------------------------------------------------------------------------
# Forecast-baseline evaluation (round 6): MASE — every numerator exact
# ---------------------------------------------------------------------------

_MASE_SQL = """
WITH series AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1
),
cut AS (
    SELECT CAST(epoch(TIMESTAMP '2024-01-24 00:00:00') AS BIGINT) // 3600
           AS c
),
train AS (
    SELECT count(*)::BIGINT AS n_train, CAST(sum(x) AS BIGINT) AS s_train
    FROM series, cut WHERE t < c
),
naive AS (
    SELECT a.t, a.x, b.x AS x_lag
    FROM series a JOIN series b ON b.t = a.t - 24
    CROSS JOIN cut WHERE a.t >= c
),
test_mean AS (
    SELECT count(*)::BIGINT AS n_test_mean,
           CAST(sum(abs(tr.n_train * s.x - tr.s_train)) AS BIGINT)
               AS mean_err_scaled
    FROM series s CROSS JOIN cut CROSS JOIN train tr WHERE s.t >= c
),
test_naive AS (
    SELECT count(*)::BIGINT AS n_test_naive,
           CAST(sum(abs(x - x_lag)) AS BIGINT) AS naive_err
    FROM naive
)
SELECT tr.n_train, tr.s_train,
       tm.n_test_mean, tm.mean_err_scaled,
       tn.n_test_naive, tn.naive_err,
       CAST(tm.mean_err_scaled AS DOUBLE)
           / (CAST(tr.n_train AS DOUBLE) * CAST(tm.n_test_mean AS DOUBLE))
           AS mae_mean,
       CAST(tn.naive_err AS DOUBLE) / CAST(tn.n_test_naive AS DOUBLE)
           AS mae_naive,
       (CAST(tm.mean_err_scaled AS DOUBLE)
        / (CAST(tr.n_train AS DOUBLE) * CAST(tm.n_test_mean AS DOUBLE)))
       / (CAST(tn.naive_err AS DOUBLE) / CAST(tn.n_test_naive AS DOUBLE))
           AS mase_mean_vs_naive
FROM train tr CROSS JOIN test_mean tm CROSS JOIN test_naive tn
"""


@register("forecast_mase_baselines", _MASE_SQL)
def forecast_mase_baselines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation contract: MASE of the train-mean forecaster
    against the seasonal-naive (lag-24) baseline over a fixed time split
    of the hourly series — the Hyndman-Koehler scale-free metric every
    forecasting bake-off reports (MASE > 1 ⇒ the model loses to naive).
    The mean-forecast error stays integer through the n·y − S scaling
    trick (no float mean enters the sum); the naive errors are integer
    differences via the same shifted-key join as the ACF screen. One
    fixed float tree at the end. Scale: everything after the hourly
    aggregate is dimension-bounded."""
    events = read_table(spark, sf_dir, "events")
    series = events.groupBy(_epoch_hour_t()).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    cut = (
        F.unix_timestamp(F.lit("2024-01-24 00:00:00").cast("timestamp"))
        / F.lit(3600)
    ).cast("long")
    series = series.withColumn("c", cut)
    train = series.where(F.col("t") < F.col("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum("x").cast("long").alias("s_train"),
    )
    lagged = series.select(
        (F.col("t") + 24).alias("t"), F.col("x").alias("x_lag")
    )
    naive = (
        series.where(F.col("t") >= F.col("c"))
        .join(lagged, "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_naive"),
            F.sum(F.abs(F.col("x") - F.col("x_lag")))
            .cast("long")
            .alias("naive_err"),
        )
    )
    test_mean = (
        series.where(F.col("t") >= F.col("c"))
        .crossJoin(F.broadcast(train))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_mean"),
            F.sum(
                F.abs(F.col("n_train") * F.col("x") - F.col("s_train"))
            )
            .cast("long")
            .alias("mean_err_scaled"),
        )
    )
    j = (
        train.crossJoin(F.broadcast(test_mean))
        .crossJoin(F.broadcast(naive))
    )
    mae_mean = F.col("mean_err_scaled").cast("double") / (
        F.col("n_train").cast("double") * F.col("n_test_mean").cast("double")
    )
    mae_naive = (
        F.col("naive_err").cast("double")
        / F.col("n_test_naive").cast("double")
    )
    return j.select(
        "n_train",
        "s_train",
        "n_test_mean",
        "mean_err_scaled",
        "n_test_naive",
        "naive_err",
        mae_mean.alias("mae_mean"),
        mae_naive.alias("mae_naive"),
        (mae_mean / mae_naive).alias("mase_mean_vs_naive"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy (round 6): which timescale owns the variance?
# ---------------------------------------------------------------------------

_HAAR_SQL = """
WITH series AS (
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS t,
           count(*)::BIGINT AS x
    FROM events GROUP BY 1
),
l0 AS (
    SELECT CAST(row_number() OVER (ORDER BY t) - 1 AS BIGINT) AS i,
           x AS v
    FROM series
),
p1 AS (
    SELECT i // 2 AS j, count(*)::BIGINT AS c,
           CAST(sum(v) AS BIGINT) AS a,
           CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
    FROM l0 GROUP BY 1
),
l1 AS (SELECT j AS i, a AS v FROM p1 WHERE c = 2),
p2 AS (
    SELECT i // 2 AS j, count(*)::BIGINT AS c,
           CAST(sum(v) AS BIGINT) AS a,
           CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
    FROM l1 GROUP BY 1
),
l2 AS (SELECT j AS i, a AS v FROM p2 WHERE c = 2),
p3 AS (
    SELECT i // 2 AS j, count(*)::BIGINT AS c,
           CAST(sum(v) AS BIGINT) AS a,
           CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
    FROM l2 GROUP BY 1
)
SELECT CAST(1 AS BIGINT) AS level, count(*)::BIGINT AS n_pairs,
       CAST(sum(d * d) AS BIGINT) AS energy_detail,
       CAST(sum(a * a) AS BIGINT) AS energy_approx
FROM p1 WHERE c = 2
UNION ALL
SELECT CAST(2 AS BIGINT), count(*)::BIGINT,
       CAST(sum(d * d) AS BIGINT), CAST(sum(a * a) AS BIGINT)
FROM p2 WHERE c = 2
UNION ALL
SELECT CAST(3 AS BIGINT), count(*)::BIGINT,
       CAST(sum(d * d) AS BIGINT), CAST(sum(a * a) AS BIGINT)
FROM p3 WHERE c = 2
"""


@register("haar_energy_hourly", _HAAR_SQL)
def haar_energy_hourly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level unnormalized Haar energy decomposition of the hourly count
    series: per level, the exact BIGINT detail/approximation energies —
    which timescale (1h jitter vs 8h regimes) owns the variance. The
    integer-closed transform needs no floats at all; each level is one
    hash aggregate on the pair index over the dimension-bounded series."""
    from bicis_spark.operators.timeseries import haar_energy

    events = read_table(spark, sf_dir, "events")
    series = events.groupBy(_epoch_hour_t()).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return haar_energy(series, "t", "x", levels=3)


# ---------------------------------------------------------------------------
# Join-cardinality identity (round 6): size a shuffle BEFORE paying it —
# |A join B on k| = sum_k cA(k)*cB(k); engine computes the statistic,
# the oracle executes the actual joins and counts
# ---------------------------------------------------------------------------

_JOINSIZE_SQL = """
SELECT 'orders_lineitem_by_orderkey' AS pair,
       (SELECT count(*)::BIGINT
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
           AS join_size
UNION ALL
SELECT 'purchase_self_by_user',
       (SELECT count(*)::BIGINT
        FROM (SELECT user_id FROM events WHERE event_type = 'purchase') a
        JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') b
          ON b.user_id = a.user_id)
UNION ALL
SELECT 'orders_events_by_month',
       (SELECT count(*)::BIGINT
        FROM (SELECT month(o_orderdate) AS m FROM orders) o
        JOIN (SELECT month(ts) AS m FROM events) e ON e.m = o.m)
"""


@register("join_size_by_key_stats", _JOINSIZE_SQL)
def join_size_by_key_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer primitive: the exact output cardinality of
    three joins computed from per-key COUNT HISTOGRAMS only —
    |A ⋈_k B| = Σ_k cA(k)·cB(k) — without executing any of them (the
    engine's plans contain no join between the fact tables, only the
    two count aggregates and a dimension-sized histogram merge). The
    oracle EXECUTES the real joins and counts; MATCH proves the sizing
    identity a shuffle planner relies on. The three pairs cover the
    regimes that matter: a PK-FK join (sizes = child counts), a skewed
    self-join (Σc² — the quadratic blowup salting exists for), and a
    low-cardinality dimension join (12 month keys)."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    events = read_table(spark, sf_dir, "events")

    def hist(df: DataFrame, key) -> DataFrame:
        return df.groupBy(key.alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )

    def size_of(ha: DataFrame, hb: DataFrame) -> DataFrame:
        return (
            ha.join(
                hb.select(F.col("k"), F.col("c").alias("c2")), "k"
            )
            .agg(
                F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
                .cast("long")
                .alias("join_size")
            )
        )

    purchases = events.where(F.col("event_type") == "purchase")
    pairs = [
        (
            "orders_lineitem_by_orderkey",
            size_of(
                hist(orders, F.col("o_orderkey")),
                hist(lineitem, F.col("l_orderkey")),
            ),
        ),
        (
            "purchase_self_by_user",
            size_of(
                hist(purchases, F.col("user_id")),
                hist(purchases, F.col("user_id")),
            ),
        ),
        (
            "orders_events_by_month",
            size_of(
                hist(orders, F.month("o_orderdate")),
                hist(events, F.month("ts")),
            ),
        ),
    ]
    out = None
    for name, df in pairs:
        row = df.select(F.lit(name).alias("pair"), "join_size")
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# DKW confidence bands (round 6): distribution-free ECDF uncertainty —
# engine = one integer histogram + cumsum; oracle = direct per-probe counts
# ---------------------------------------------------------------------------

# ln(2/alpha) for alpha = 0.05, as the exact CPython-libm double literal;
# repr() round-trips and DuckDB's strtod is correctly rounded, so both
# engines read the identical IEEE value.
_DKW_LN_2_OVER_ALPHA = "3.6888794541139363"

_DKW_SQL = f"""
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders
),
bounds AS (
    SELECT min(x) AS lo, max(x) AS hi, count(*)::BIGINT AS n FROM cents
),
probes AS (
    SELECT CAST(range AS BIGINT) AS j,
           b.lo + CAST(range AS BIGINT) * (b.hi - b.lo) // 10 AS v,
           b.lo, b.hi, b.n
    FROM range(1, 10), bounds b
),
counts AS (
    SELECT p.j, p.v, p.n,
           (SELECT count(*)::BIGINT FROM cents c
            WHERE (c.x - p.lo) * 10 <= p.j * (p.hi - p.lo)) AS n_le
    FROM probes p
)
SELECT j AS probe, v AS probe_cents, n_le, n,
       CAST(n_le AS DOUBLE) / CAST(n AS DOUBLE) AS ecdf,
       sqrt({_DKW_LN_2_OVER_ALPHA} / (2.0 * CAST(n AS DOUBLE))) AS dkw_eps,
       greatest(0.0, CAST(n_le AS DOUBLE) / CAST(n AS DOUBLE)
                - sqrt({_DKW_LN_2_OVER_ALPHA} / (2.0 * CAST(n AS DOUBLE))))
           AS lo_band,
       least(1.0, CAST(n_le AS DOUBLE) / CAST(n AS DOUBLE)
                + sqrt({_DKW_LN_2_OVER_ALPHA} / (2.0 * CAST(n AS DOUBLE))))
           AS hi_band
FROM counts
"""


@register("ecdf_dkw_bands_totalprice", _DKW_SQL)
def ecdf_dkw_bands_totalprice_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free ECDF confidence bands at 9 equi-width value
    probes over order totals — the Dvoretzky-Kiefer-Wolfowitz envelope
    (sup-norm band ε = √(ln(2/α)/2n), α=0.05) that bounds the TRUE CDF
    with no distributional assumption; the nonparametric companion to
    the bootstrap CI. The ENGINE never rescans per probe: one integer
    ceil-bucket histogram + a 10-row cumulative sum gives every
    n_le(probe) (the boundary x·10 = j·(hi−lo) cases land inclusively
    by the ceil identity); the ORACLE counts each probe directly from
    the definition — MATCH proves the bucketing. ln(2/α) rides as the
    shared exact libm double literal; bands are fixed float trees."""
    import math

    orders = read_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x")
    )
    b = cents.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).first()
    lo, hi, n = b["lo"], b["hi"], b["n"]
    den = hi - lo
    # ceil((x-lo)*10 / den): key k means x <= probe j for all j >= k
    key = F.floor(
        ((F.col("x") - F.lit(lo)) * 10 + F.lit(den - 1)) / F.lit(den)
    ).cast("long")
    hist = cents.groupBy(key.alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("k", F.sum("c").over(w).cast("long").alias("n_le"))
    probes = cents.sparkSession.range(1, 10).select(
        F.col("id").cast("long").alias("probe")
    )
    # n_le(probe) = cum at the largest k <= probe present in the histogram
    joined = (
        probes.join(F.broadcast(cum), F.col("k") <= F.col("probe"), "left")
        .groupBy("probe")
        .agg(F.max(F.struct("k", "n_le"))["n_le"].alias("n_le"))
        .select("probe", F.coalesce("n_le", F.lit(0)).cast("long").alias("n_le"))
    )
    ln_term = float(math.log(40.0))
    n_d = F.lit(float(n))
    ecdf = F.col("n_le").cast("double") / n_d
    eps = F.sqrt(F.lit(ln_term) / (F.lit(2.0) * n_d))
    return joined.select(
        "probe",
        (F.lit(lo) + F.expr(f"probe * CAST({den} AS BIGINT) div 10"))
        .cast("long")
        .alias("probe_cents"),
        "n_le",
        F.lit(n).cast("long").alias("n"),
        ecdf.alias("ecdf"),
        eps.alias("dkw_eps"),
        F.greatest(F.lit(0.0), ecdf - eps).alias("lo_band"),
        F.least(F.lit(1.0), ecdf + eps).alias("hi_band"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (round 6): the nonparametric A/B companion to the Welch
# z-test — rank sums from the VALUE HISTOGRAM, never a per-row ranking
# ---------------------------------------------------------------------------

_MWU_SQL = """
WITH spend AS (
    SELECT o_custkey,
           CASE WHEN ascii(substring(md5(o_custkey || ':ab'), 1, 1)) % 2 = 0
                THEN 'A' ELSE 'B' END AS arm,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS x
    FROM orders GROUP BY 1, 2
),
hist AS (
    SELECT x,
           count(*)::BIGINT AS c,
           CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a
    FROM spend GROUP BY x
),
cum AS (
    SELECT x, c, a,
           CAST(coalesce(sum(c) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS before
    FROM hist
),
agg AS (
    SELECT CAST(sum(a) AS BIGINT) AS n_a,
           CAST(sum(c - a) AS BIGINT) AS n_b,
           CAST(sum(a * (2 * before + c + 1)) AS BIGINT) AS rank_sum_2x_a,
           CAST(sum(c * c * c - c) AS BIGINT) AS tie_term
    FROM cum
)
SELECT n_a, n_b, rank_sum_2x_a, tie_term,
       rank_sum_2x_a - n_a * (n_a + 1) AS u2_a,
       1.0 - CAST(rank_sum_2x_a - n_a * (n_a + 1) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS rank_biserial,
       ((CAST(rank_sum_2x_a - n_a * (n_a + 1) AS DOUBLE)
         - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0)
       / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
              * (CAST(n_a + n_b + 1 AS DOUBLE)
                 - CAST(tie_term AS DOUBLE)
                   / (CAST(n_a + n_b AS DOUBLE)
                      * CAST(n_a + n_b - 1 AS DOUBLE)))) AS z
FROM agg
"""


@register("mann_whitney_ab_spend", _MWU_SQL)
def mann_whitney_ab_spend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test on per-customer spend between the same
    deterministic md5 A/B arms as `ab_spend_ztest` — the nonparametric
    companion (detects distributional shift the mean-based z-test
    misses; immune to the heavy tail). NO per-row ranking: midranks come
    from the VALUE HISTOGRAM — midrank·2 = 2·(count below) + ties + 1,
    an integer — so the rank sum is one cumsum over distinct spend
    values plus one aggregate, and every statistic (doubled rank sum,
    doubled U, the t³−t tie correction) is an exact BIGINT. The
    tie-corrected normal approximation z is one fixed float tree. At
    extreme scale the distinct-value cumsum swaps for the two-pass
    bucketed rank (the weighted-quantiles machinery), same outputs."""
    orders = read_table(spark, sf_dir, "orders")
    arm = F.when(
        F.ascii(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_custkey"), F.lit("ab"))), 1, 1
            )
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    spend = orders.groupBy(F.col("o_custkey"), arm.alias("arm")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("x")
    )
    hist = spend.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long")
        .alias("a"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "x",
        "c",
        "a",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("before"),
    )
    agg = cum.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum(F.col("c") - F.col("a")).cast("long").alias("n_b"),
        F.sum(F.col("a") * (2 * F.col("before") + F.col("c") + 1))
        .cast("long")
        .alias("rank_sum_2x_a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie_term"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    u2 = F.col("rank_sum_2x_a") - na * (na + 1)
    na_d, nb_d = na.cast("double"), nb.cast("double")
    u2_d = u2.cast("double")
    n1_d = (na + nb + 1).cast("double")
    n_d = (na + nb).cast("double")
    nm1_d = (na + nb - 1).cast("double")
    tie_d = F.col("tie_term").cast("double")
    z = ((u2_d - na_d * nb_d) / F.lit(2.0)) / F.sqrt(
        (na_d * nb_d / F.lit(12.0)) * (n1_d - tie_d / (n_d * nm1_d))
    )
    return agg.select(
        "n_a",
        "n_b",
        "rank_sum_2x_a",
        "tie_term",
        u2.alias("u2_a"),
        (F.lit(1.0) - u2_d / (na_d * nb_d)).alias("rank_biserial"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# Run-length encoding of per-user event-type sequences (round 6): the
# state-change compression primitive (gaps-and-islands on VALUE changes)
# ---------------------------------------------------------------------------

_RLE_SQL = """
WITH seq AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS is_start
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_id
    FROM seq
)
SELECT user_id, run_id, event_type,
       count(*)::BIGINT AS run_len,
       min(ts) AS run_start,
       max(ts) AS run_end,
       CAST(min(event_id) AS BIGINT) AS first_event_id
FROM runs GROUP BY user_id, run_id, event_type
"""


@register("event_type_runs", _RLE_SQL)
def event_type_runs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event-type sequence: collapse
    consecutive repeats into (run, length, span) rows — the state-change
    compression primitive behind SCD-style storage and behavioral
    pattern mining (a user emitting 40 consecutive errors is one fact,
    not 40). Gaps-and-islands on VALUE change (lag ≠ current ⇒ run
    start; running sum of starts ⇒ run id) — the value-change twin of
    `user_activity_streaks`' calendar islands. Two per-user windows
    share one exchange; the aggregate collapses to runs, so output
    is bounded by state CHANGES, not events. Total order (ts, event_id)
    makes run boundaries deterministic; NULL-safe comparison keeps a
    leading NULL type in its own run."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    runs = seq.withColumn(
        "run_id", F.sum("is_start").over(wc).cast("long")
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
        F.min("event_id").cast("long").alias("first_event_id"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (round 6): the sliding-window candidate
# generator for record linkage — engine = one window of leads, oracle =
# rank self-join (independent formulation of the same definition)
# ---------------------------------------------------------------------------

_SNM_SQL = """
WITH c AS (
    SELECT c_custkey, c_name, substring(c_name, 1, 10) AS blk
    FROM customer
),
ranked AS (
    SELECT c_custkey, c_name, blk,
           CAST(row_number() OVER (PARTITION BY blk
                ORDER BY c_name, c_custkey) AS BIGINT) AS rk
    FROM c
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(b.rk - a.rk AS BIGINT) AS neighbor_dist,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev,
       levenshtein(a.c_name, b.c_name) <= 2 AS is_match
FROM ranked a
JOIN ranked b ON b.blk = a.blk AND b.rk - a.rk BETWEEN 1 AND 3
"""


@register("sorted_neighborhood_pairs", _SNM_SQL)
def sorted_neighborhood_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández-Stolfo): sort
    records within a blocking prefix, compare each record only against
    its next w=3 neighbors in sort order — the linear-candidate
    alternative to the Fellegi-Sunter equi-blocks of
    `record_linkage_customers` (catches near-misses that share a sort
    prefix but land in different attribute blocks). The ENGINE generates
    neighbors with ONE window pass of lead(1..3) (no self-join — the
    plan's only exchange is the block-partitioned sort); the ORACLE
    formulates the same definition as a rank self-join. Blocked-SN
    keeps the window per-prefix and bounded (the method's standard
    boundary tradeoff, explicit here); candidates are 3n rows, exact
    Levenshtein verifies."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", 1, 10).alias("blk")
    )
    w = Window.partitionBy("blk").orderBy("c_name", "c_custkey")
    # window exprs are not allowed inside a generator: compute the lead
    # columns first, THEN explode the assembled array
    with_leads = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        *[
            c
            for d in (1, 2, 3)
            for c in (
                F.lead("c_custkey", d).over(w).alias(f"id_{d}"),
                F.lead("c_name", d).over(w).alias(f"name_{d}"),
            )
        ],
    )
    leads = with_leads.select(
        "id_a",
        "name_a",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"id_{d}").alias("id_b"),
                        F.col(f"name_{d}").alias("name_b"),
                    )
                    for d in (1, 2, 3)
                ]
            )
        ).alias("pos", "nb"),
    )
    out = leads.where(F.col("nb.id_b").isNotNull()).select(
        "id_a",
        F.col("nb.id_b").alias("id_b"),
        (F.col("pos") + 1).cast("long").alias("neighbor_dist"),
        F.levenshtein(F.col("name_a"), F.col("nb.name_b"))
        .cast("long")
        .alias("lev"),
        (F.levenshtein(F.col("name_a"), F.col("nb.name_b")) <= 2).alias(
            "is_match"
        ),
    )
    return out


# ---------------------------------------------------------------------------
# Weighted shortest paths (round 6): fixed-round Bellman-Ford over the
# price-weighted co-purchase graph — the weighted twin of the BFS hops
# ---------------------------------------------------------------------------


def _bellman_sql(rounds: int) -> str:
    ctes = [
        """pw AS (
    SELECT l1.l_partkey AS a, l2.l_partkey AS b,
           CAST(min(abs(CAST(round(l1.l_extendedprice * 100) AS BIGINT)
                        - CAST(round(l2.l_extendedprice * 100) AS BIGINT)))
                AS BIGINT) AS w
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    GROUP BY 1, 2
)""",
        "esym AS (SELECT a AS u, b AS v, w FROM pw"
        " UNION ALL SELECT b, a, w FROM pw)",
        "seed AS (SELECT min(l_partkey) AS v FROM lineitem)",
        "d0 AS (SELECT v, CAST(0 AS BIGINT) AS d FROM seed)",
    ]
    for r in range(1, rounds + 1):
        prev = f"d{r - 1}"
        ctes.append(
            f"d{r} AS (SELECT v, CAST(min(d) AS BIGINT) AS d FROM ("
            f"SELECT v, d FROM {prev} "
            f"UNION ALL "
            f"SELECT e.v, {prev}.d + e.w AS d FROM {prev} "
            f"JOIN esym e ON e.u = {prev}.v"
            f") GROUP BY v)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT v AS vertex, d AS dist FROM d{rounds}"
    )


@register("shortest_path_copurchase", _bellman_sql(4))
def shortest_path_copurchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round (4) Bellman-Ford shortest paths from the smallest part
    key over the co-purchase graph weighted by minimum co-order price
    difference in cents — the weighted generalization of
    `bfs_part_supplier_hops` (unit weights make it min-hops). Exact
    integer distances; the oracle unrolls the identical relaxation
    rounds as chained CTEs, so MATCH pins every round's min-relax
    semantics. Every-2nd-round checkpoint with lazy persists in between
    keeps lineage flat (the r7 double-step). The weighted pair build is
    the _copurchase_pairs combination expansion carrying (partkey,
    cents) structs — no lineitem self-join (r7; the oracle keeps its
    self-join form as the independent implementation). r8: the pair
    build no longer pre-aggregates min(w) per (a, b) — Bellman-Ford's
    min-relaxation absorbs parallel edges, so the groupBy was a pure
    extra fact exchange (A/B at sf0.1: 5.1 → 4.6s, identical dist;
    at 100 TB it deletes one full shuffle of the edge set). The oracle
    keeps the min-agg form — independent implementation, same dist."""
    from bicis_spark.operators.graph import bellman_ford_rounds

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    # chained generators instead of nested transform lambdas — same
    # rationale and A/B as _copurchase_pairs (higher-order functions are
    # CodegenFallback; generators stay in codegen)
    pw = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_set(F.struct("l_partkey", "cents"))
            ).alias("ps")
        )
        .select("ps", F.posexplode("ps").alias("i", "x"))
        .select(
            F.col("x").alias("x"),
            F.explode(
                F.expr("slice(ps, i + 2, size(ps) - i - 1)")
            ).alias("y"),
        )
        # struct-sorted order gives a <= b; equal partkeys (same part,
        # two prices in one order) are excluded by the strict < of the
        # reference semantics. Parallel edges (same pair, several orders
        # or price-pairs) stay — min-relaxation collapses them for free
        .where(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"),
            F.col("y.l_partkey").alias("b"),
            F.expr("abs(x.cents - y.cents)").cast("long").alias("w"),
        )
    )
    esym = pw.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).unionByName(
        pw.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )
    seed = li.agg(F.min("l_partkey").alias("v"))
    return bellman_ford_rounds(esym, seed, "u", "v", "w", rounds=4)


# ---------------------------------------------------------------------------
# Cohort LTV curve (round 6): cumulative revenue per cohort-age — the
# monetization companion to the retention matrix
# ---------------------------------------------------------------------------

_LTV_SQL = """
WITH first AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_bucket
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
rev AS (
    SELECT e.user_id, date_trunc('week', e.ts) AS wk,
           CAST(round(e.value * 100) AS BIGINT) AS cents
    FROM events e WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
),
j AS (
    SELECT f.cohort_bucket,
           (date_diff('day', f.cohort_bucket, r.wk) / 7)::BIGINT AS age_weeks,
           r.user_id, r.cents
    FROM rev r JOIN first f ON r.user_id = f.user_id
    WHERE r.wk >= f.cohort_bucket
),
cell AS (
    SELECT cohort_bucket, age_weeks,
           count(DISTINCT user_id)::BIGINT AS n_paying,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM j GROUP BY 1, 2
),
sz AS (
    SELECT cohort_bucket, count(*)::BIGINT AS n_cohort
    FROM first GROUP BY cohort_bucket
)
SELECT c.cohort_bucket, c.age_weeks, c.n_paying, c.revenue_cents,
       s.n_cohort,
       CAST(sum(c.revenue_cents) OVER (PARTITION BY c.cohort_bucket
            ORDER BY c.age_weeks ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS BIGINT) AS cum_revenue_cents,
       CAST(sum(c.revenue_cents) OVER (PARTITION BY c.cohort_bucket
            ORDER BY c.age_weeks ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS DOUBLE)
       / (100.0 * CAST(s.n_cohort AS DOUBLE)) AS ltv_per_user
FROM cell c JOIN sz s ON s.cohort_bucket = c.cohort_bucket
"""


@register("cohort_ltv_curve", _LTV_SQL)
def cohort_ltv_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    signup-week cohort by weeks-since-signup, per-user-normalized — the
    monetization companion to `cohort_retention_weekly` (retention says
    who comes back; LTV says what they're worth by age). Revenue stays
    in integer cents; the cumulative sum runs over the (cohort × age)
    matrix — a dimension-bounded frame — never over raw purchases, and
    the per-user LTV is one fixed float tree."""
    events = read_table(spark, sf_dir, "events")
    first = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_bucket"))
    )
    rev = events.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    j = rev.join(first, "user_id").where(
        F.col("wk") >= F.col("cohort_bucket")
    ).select(
        "cohort_bucket",
        (F.datediff(F.col("wk"), F.col("cohort_bucket")) / 7)
        .cast("long")
        .alias("age_weeks"),
        "user_id",
        "cents",
    )
    cell = j.groupBy("cohort_bucket", "age_weeks").agg(
        F.countDistinct("user_id").cast("long").alias("n_paying"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    sz = first.groupBy("cohort_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    w = (
        Window.partitionBy("cohort_bucket")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = cell.join(F.broadcast(sz), "cohort_bucket").select(
        "cohort_bucket",
        "age_weeks",
        "n_paying",
        "revenue_cents",
        "n_cohort",
        F.sum("revenue_cents").over(w).cast("long").alias(
            "cum_revenue_cents"
        ),
        (
            F.sum("revenue_cents").over(w).cast("double")
            / (F.lit(100.0) * F.col("n_cohort").cast("double"))
        ).alias("ltv_per_user"),
    )
    return out


# ---------------------------------------------------------------------------
# UCB1 bandit readout (round 6): exploration bonuses from exact counts —
# the decision layer on top of the A/B statistics family
# ---------------------------------------------------------------------------

_UCB_SQL = """
WITH arms AS (
    SELECT event_type AS arm,
           count(*)::BIGINT AS n_i,
           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS s_cents
    FROM events WHERE value IS NOT NULL GROUP BY 1
),
tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n FROM arms),
q AS (
    SELECT CAST(floor(ln((SELECT n FROM tot)) * 1000000.0) AS BIGINT)
        AS qln_n
)
SELECT arm, n_i, s_cents, (SELECT n FROM tot) AS n_total,
       (SELECT qln_n FROM q) AS qln_n,
       CAST(s_cents AS DOUBLE) / (100.0 * CAST(n_i AS DOUBLE)) AS mean_value,
       sqrt(2.0 * (CAST((SELECT qln_n FROM q) AS DOUBLE) / 1000000.0)
            / CAST(n_i AS DOUBLE)) AS ucb_bonus,
       CAST(s_cents AS DOUBLE) / (100.0 * CAST(n_i AS DOUBLE))
       + sqrt(2.0 * (CAST((SELECT qln_n FROM q) AS DOUBLE) / 1000000.0)
              / CAST(n_i AS DOUBLE)) AS ucb_score
FROM arms
"""


@register("ucb1_event_type_arms", _UCB_SQL)
def ucb1_event_type_arms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit readout over event types as arms (mean observed value
    + √(2·ln N / n_i) exploration bonus — Auer et al. 2002, the
    optimism-under-uncertainty allocation rule a serving layer applies
    on top of the experiment statistics this engine already reports).
    Means come from exact DECIMAL cent sums; ln N is quantized through
    the shared floor(ln·10⁶) discipline over the INTEGER total count
    (bounded driver scalar), so the bonus is one fixed float tree. One
    hash aggregate; arms are dimension-bounded."""
    import math

    events = read_table(spark, sf_dir, "events")
    arms = events.where(F.col("value").isNotNull()).groupBy(
        F.col("event_type").alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("s_cents"),
    )
    n_total = events.where(F.col("value").isNotNull()).count()
    qln_n = math.floor(math.log(n_total) * 1_000_000)
    mean = F.col("s_cents").cast("double") / (
        F.lit(100.0) * F.col("n_i").cast("double")
    )
    bonus = F.sqrt(
        F.lit(2.0)
        * (F.lit(qln_n).cast("double") / F.lit(1_000_000.0))
        / F.col("n_i").cast("double")
    )
    return arms.select(
        "arm",
        "n_i",
        "s_cents",
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(qln_n).cast("long").alias("qln_n"),
        mean.alias("mean_value"),
        bonus.alias("ucb_bonus"),
        (mean + bonus).alias("ucb_score"),
    )
