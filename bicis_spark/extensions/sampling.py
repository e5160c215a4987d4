"""Deterministic sampling operators for training-data curation.

Large-scale pipelines sample by CONTENT HASH, never by RNG: the decision
for a document is reproducible across runs, machines, and engines, and
survives repartitioning (rand()-based sampling is none of these). Rates
compose with strata (language, quality band, source) so a curation run can
say "keep 50% of English, 10% of everything else" or "cap every language
at K documents" and get the same corpus every time.

Both operators are pure column expressions / window functions — no RNG, no
UDF, one shuffle at most.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bicis_spark.extensions.dedup import poly_hash, poly_hash2
from bicis_spark.extensions.similarity import _corpus, _kmeans, _seed_filter, ivf_assign


def hash_sample_col(text: Column, buckets: int = 1000) -> Column:
    """Deterministic per-document sample bucket in [0, buckets): the
    oracle-replayable polynomial content hash mod buckets. A document's
    bucket never changes, so rate changes only grow/shrink the kept set
    monotonically (the classic hash-sampling property)."""
    return poly_hash(text) % F.lit(buckets)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, int],
    text_col: str = "text",
    default_rate: int = 0,
    buckets: int = 1000,
) -> DataFrame:
    """Keep each row iff its content-hash bucket < the stratum's rate
    (per-mille by default). ``rates`` maps stratum value → kept buckets;
    unlisted strata get ``default_rate``."""
    rate = None
    for value, r in sorted(rates.items()):
        cond = F.col(strata_col) == value
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = rate.otherwise(F.lit(default_rate)) if rate is not None else F.lit(default_rate)
    return df.where(hash_sample_col(F.col(text_col), buckets) < rate)


def quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    order_cols: list[Column],
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap each group at ``quota`` rows, keeping the best by ``order_cols``
    (ties broken on ``id_col`` — fully deterministic). One window shuffle
    keyed by the group column; per-group state is the top-``quota`` heap."""
    w = Window.partitionBy(group_col).orderBy(*order_cols, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= quota)
        .drop("_rk")
    )


def importance_resample(
    df: DataFrame,
    target_filter: Column,
    bucket_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    oversample_num: int = 2,
    oversample_den: int = 1,
    hash_buckets: int = 10_000,
) -> DataFrame:
    """DSIR-style deterministic importance resampling (Xie et al., "Data
    Selection for Language Models via Importance Resampling", NeurIPS 2023):
    keep raw-corpus documents with probability proportional to the
    target-over-proposal likelihood ratio of their feature bucket, so the
    kept set's bucket distribution approaches the target exemplar set's.

    Fully RNG-free: the per-document uniform is the second polynomial
    content hash (``poly_hash2``) mod ``hash_buckets``, and the acceptance
    test is pure integer cross-multiplication —

        keep  iff  h · c_b · T · den  <  H · k_num · t_b · C

    where ``t_b``/``c_b`` are the bucket's target/corpus counts, ``T``/``C``
    the grand totals, and ``k = k_num/den`` the oversampling factor capping
    the weight at k·w (buckets with weight ≥ 1/k keep everything). No
    float ever enters the decision, so any engine replays it bitwise.

    Scale shape: one corpus scan for the bucket histogram (map-side
    combined, |buckets| rows), one filtered scan for the target histogram,
    both broadcast back with the two 1-row totals; the kept-set pass is a
    map-only filter over the corpus — the 100 TB corpus is never shuffled.
    Int64 bound: h·c_b·T·den < 2^63 holds to ~10^14 total documents with
    the default H=10^4; past that, lift the products to DECIMAL(38,0).

    Returns kept rows: ``id_col``, bucket columns, and the reporting-only
    ``weight`` = (t_b·C)/(c_b·T) (one exact-int division, IEEE-identical
    everywhere)."""
    buckets = [F.col(c) for c in bucket_cols]
    corpus_b = df.groupBy(*buckets).agg(F.count(F.lit(1)).alias("_c_b"))
    target_b = (
        df.where(target_filter)
        .groupBy(*buckets)
        .agg(F.count(F.lit(1)).alias("_t_b"))
    )
    stats = corpus_b.join(target_b, bucket_cols, "left").withColumn(
        "_t_b", F.coalesce(F.col("_t_b"), F.lit(0).cast("long"))
    )
    # Totals come from the PRE-join histograms, not from `stats`: groupBy
    # keeps NULL-bucket rows as their own group, but the equality join
    # above drops them, so summing after the join would undercount T for
    # any corpus with NULL bucket values (flipping every accept decision
    # vs the oracle's plain COUNT(*) totals). NULL-bucket documents are
    # still excluded from the OUTPUT (they match no histogram row) —
    # only the denominators must see them.
    totals = (
        corpus_b.agg(F.sum("_c_b").alias("_c_tot"))
        .crossJoin(
            target_b.agg(
                F.coalesce(F.sum("_t_b"), F.lit(0).cast("long")).alias("_t_tot")
            )
        )
    )
    h = poly_hash2(F.col(text_col)) % F.lit(hash_buckets)
    keep = (
        h * F.col("_c_b") * F.col("_t_tot") * F.lit(oversample_den)
        < F.lit(hash_buckets)
        * F.lit(oversample_num)
        * F.col("_t_b")
        * F.col("_c_tot")
    )
    weight = (F.col("_t_b") * F.col("_c_tot")).cast("double") / (
        F.col("_c_b") * F.col("_t_tot")
    ).cast("double")
    return (
        df.join(F.broadcast(stats), bucket_cols)
        .crossJoin(F.broadcast(totals))
        .where(keep)
        .select(F.col(id_col), *buckets, weight.alias("weight"))
    )


def cluster_balanced_sample(
    df,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids_mod: int = 50,
    train_iters: int = 1,
    max_clusters: int | None = None,
    target_per_cluster: int = 10,
):
    """Topic-balanced resampling: k-means-cluster the embedding space
    (the SemDeDup/IVF deterministic trainer), then keep a deterministic
    ``target_per_cluster``-row sample of every cluster — equalizing topic
    mass the way curation pipelines rebalance over-represented content
    clusters before training.

    Output: [id, cluster_id, cluster_size, sample_rank, keep] — every
    input row, with ``keep`` marking the selected sample (clusters
    smaller than the target keep everything). Selection is RNG-free:
    rank within cluster by (md5(id), id), so retries, re-partitioning,
    and the SQL oracle all agree bit-for-bit.

    Scale: training is the capped-constant IVF shape (broadcast
    centroids, max_clusters seeds); assignment is one broadcast pass;
    the only shuffle is the per-cluster rank window, keyed by cluster_id
    and bounded by the largest cluster (AQE skew-split applies). At
    100 TB the hash-threshold variant (keep iff md5-bucket <
    target/size, map-only, approximately balanced) drops even that
    window; the exact-rank form is declared because its balance is
    exact and the window cost is the same class as the engine's other
    top-k-per-group operators."""
    c = _corpus(df, id_col, vec_col)
    cents = _kmeans(c, _seed_filter(n_centroids_mod, max_clusters), train_iters)
    assigned = ivf_assign(c, cents, "nid", "cv").select("nid", "centroid_id")
    w = Window.partitionBy("centroid_id").orderBy(
        F.md5(F.col("nid").cast("string")), F.col("nid")
    )
    sized = Window.partitionBy("centroid_id")
    return assigned.select(
        F.col("nid").alias(id_col),
        F.col("centroid_id").alias("cluster_id"),
        F.count(F.lit(1)).over(sized).cast("long").alias("cluster_size"),
        F.row_number().over(w).cast("long").alias("sample_rank"),
    ).withColumn("keep", F.col("sample_rank") <= target_per_cluster)
