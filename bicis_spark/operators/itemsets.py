"""Market-basket frequent itemsets (pairs and triples) by exact counting.

The relational Apriori core: deduplicate to (basket, item), self-join
within the basket key for size-2 candidates, extend once more for
size-3, count distinct baskets per itemset, filter by minimum support.
No FP-tree, no sampling — candidate generation is bounded by
``(basket_size choose k)``, which for retail-shaped baskets (≤ tens of
items) keeps the blow-up a small constant per basket, and every join is
an equi-join on the basket key (shuffle-partitioned, AQE-skew-safe).
Ordering items (a < b < c) counts each set exactly once.

At 100 TB: the (basket, item) dedup is one map-side-combinable
aggregate; the k=2/k=3 joins co-partition on the basket key so a
basket's candidates are generated within one task's partition; a
pathological mega-basket (a single basket with 10⁵ items) is the one
shape that needs guarding — cap basket size upstream (``max_items``)
exactly as production basket miners do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_items_per_basket: int | None = None,
) -> DataFrame:
    """[kind, item_a, item_b, item_c, support] for all 2- and 3-item
    sets appearing in ≥ ``min_support`` distinct baskets (item_c NULL
    for pairs). ``max_items_per_basket`` drops oversized baskets before
    candidate generation (the mega-basket guard). It counts a basket's
    distinct non-NULL items: ``collect_set`` drops NULL items, so they
    neither count toward the cap nor appear in any itemset."""
    # Combination expansion over per-basket sorted item arrays — the
    # _copurchase_pairs shape — instead of basket self-joins (round 12,
    # guide §2.4 remove shuffles): the old form shuffled the distinct
    # (basket, item) rows for a self-join (pairs) and joined the result
    # back a third time (triples). ONE groupBy builds each basket's
    # sorted distinct item array with map-side partial aggregation (this
    # also subsumes the old standalone .distinct() exchange — collect_set
    # dedupes), the i<j<k expansion runs through chained posexplode/
    # explode(slice(...)) GENERATORS that stay in whole-stage codegen,
    # and only the candidate counts shuffle. Identical output: sorted
    # distinct arrays enumerate exactly the a<b (and a<b<c) combinations
    # the self-joins produced, and NULL items are excluded either way
    # (a<b is NULL-filtered in the join form; collect_set drops NULLs).
    # Baskets are O(1) in the data model (TPC-H orders ≤ 7 lineitems),
    # so the per-row expansion is bounded — same argument as
    # _copurchase_pairs.
    baskets = (
        df.select(F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it"))
        .groupBy("_bk")
        .agg(F.sort_array(F.collect_set("_it")).alias("_items"))
    )
    if max_items_per_basket is not None:
        baskets = baskets.where(F.size("_items") <= max_items_per_basket)
    item_type = df.schema[item_col].dataType
    # (i, a) then (j, b) at absolute index i+1+j: pairs read off s2;
    # triples extend with c from the tail beyond b's position
    s2 = (
        baskets.select("_items", F.posexplode("_items").alias("i", "a"))
        .select(
            "_items",
            "i",
            "a",
            F.posexplode(
                F.expr("slice(_items, i + 2, size(_items) - i - 1)")
            ).alias("j", "b"),
        )
    )
    pairs = (
        s2.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
        .select(
            F.lit("pair").alias("kind"),
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.lit(None).cast(item_type).alias("item_c"),
            "support",
        )
    )
    triple_occ = s2.select(
        "a",
        "b",
        F.explode(
            F.expr("slice(_items, i + j + 3, size(_items) - i - j - 2)")
        ).alias("c"),
    )
    triples = (
        triple_occ.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= min_support)
        .select(
            F.lit("triple").alias("kind"),
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.col("c").alias("item_c"),
            "support",
        )
    )
    return pairs.unionByName(triples)
