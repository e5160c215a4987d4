"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting — all pure column expressions (JVM-side, zero UDFs),
so they vectorize through whole-stage codegen and scale linearly with no
shuffle (per-row map only).

Determinism: every metric is integer arithmetic or a division of two exact
integers, so results are bitwise-reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bicis_spark.caching import persisted, tracked_persist
from bicis_spark.sources.io import local_frame

FP_MOD = 2_147_483_647  # 2^31 - 1; keeps acc*31 + char within int64

# tiny marker vocabularies for the n-gram/stopword language heuristic —
# deterministic and oracle-expressible; real lang-id would plug in here.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow", "small", "big"),
    "es": ("data", "table", "row", "column", "query"),
    "zh": ("spark", "stream", "batch", "window", "vector"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on single spaces — the corpus is
    single-space separated; swap the pattern for `\\s+` on real data)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def char_fingerprint(text: Column) -> Column:
    """Deterministic rolling polynomial hash over characters:
    acc = (acc*31 + codepoint) mod (2^31-1). A content fingerprint usable
    for exact-dup bucketing and incremental re-crawl detection. (?s) so
    line terminators hash too — without it Java regex '.' silently skips
    \\n/\\r/\\u2028, and "a\\nb" would collide with "ab"."""
    chars = F.regexp_extract_all(text, F.lit("(?s)(.)"), 1)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(FP_MOD),
    )


def quality_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality signals: length, token stats, stopword ratio.

    All ratios are exact-int/exact-int double divisions.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        ((n_chars - n_tok + F.lit(1)).cast("double") / n_tok.cast("double")).alias(
            "avg_token_len"
        ),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
        ).alias("unique_ratio"),
    )


# Gopher rule 5 (Rae et al. 2021, §A1.1): a kept document must contain at
# least 2 distinct members of this 8-word stop set.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality filter battery (Rae et al. 2021,
    Appendix A1.1 — public heuristics): per-document signals, one boolean
    per rule, and the conjunctive ``keep`` decision.

    Rules (canonical thresholds):
      * 50 <= word count <= 100,000
      * 3 <= mean word length <= 10
      * symbol-to-word ratio (``#`` chars + ``...`` runs) <= 0.1
      * < 90% of lines start with a bullet (``- `` / ``* ``)
      * < 30% of lines end with an ellipsis (``...``)
      * >= 80% of words contain an alphabetic character
      * >= 2 distinct GOPHER_STOPWORDS present

    (The intra-document repetition rules from the same appendix live in
    `curation.doc_repetition` — this battery covers the non-repetition
    half.) Pure column expressions: map-only, zero shuffles, vectorized
    in whole-stage codegen — linear scale-out over a 100 TB corpus. Mean
    word length uses the single-space-separation identity
    ``total_word_chars = n_chars - (n_words - 1)`` (same convention as
    `quality_metrics`); every ratio is an exact-int / exact-int double
    division so the DuckDB oracle matches bitwise, and the threshold
    comparisons therefore agree too.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    total_word_chars = (F.length(t).cast("long") - n_words + F.lit(1)).cast("long")
    mean_word_len = total_word_chars.cast("double") / n_words.cast("double")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    # non-overlapping left-to-right '...' runs; replace() has identical
    # semantics in Spark and DuckDB, and the delta is an exact multiple
    # of 3 so the double division truncates exactly
    n_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words.cast("double")
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines).cast("long")
    bullet_frac = (
        F.size(
            F.filter(lines, lambda x: x.startswith("- ") | x.startswith("* "))
        ).cast("double")
        / n_lines.cast("double")
    )
    ellipsis_line_frac = (
        F.size(F.filter(lines, lambda x: x.endswith("..."))).cast("double")
        / n_lines.cast("double")
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("double")
        / n_words.cast("double")
    )
    n_stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda x: x.isin(*GOPHER_STOPWORDS)))
    ).cast("long")

    wc_ok = (n_words >= 50) & (n_words <= 100000)
    mwl_ok = (mean_word_len >= 3.0) & (mean_word_len <= 10.0)
    sym_ok = symbol_ratio <= 0.1
    bullet_ok = bullet_frac < 0.9
    ell_ok = ellipsis_line_frac < 0.3
    alpha_ok = alpha_frac >= 0.8
    stop_ok = n_stop_distinct >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop_distinct.alias("n_stop_distinct"),
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        sym_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ell_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stopword_ok"),
        (wc_ok & mwl_ok & sym_ok & bullet_ok & ell_ok & alpha_ok & stop_ok).alias(
            "keep"
        ),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-vocabulary language scoring with a deterministic argmax
    (ties break toward the earlier language in LANG_MARKERS order)."""
    toks = tokens(F.col(text_col))

    def marker_filter(markers: tuple[str, ...]):
        return lambda x: x.isin(*markers)

    scores = {
        lang: F.size(F.filter(toks, marker_filter(markers))).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }
    s_en, s_es, s_zh = scores["en"], scores["es"], scores["zh"]
    predicted = (
        F.when((s_en >= s_es) & (s_en >= s_zh), F.lit("en"))
        .when(s_es >= s_zh, F.lit("es"))
        .otherwise(F.lit("zh"))
    )
    return df.select(
        F.col(id_col),
        s_en.alias("score_en"),
        s_es.alias("score_es"),
        s_zh.alias("score_zh"),
        predicted.alias("predicted_lang"),
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), char_fingerprint(F.col(text_col)).alias("fingerprint"))


def term_doc_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[doc_id, token, tf_d]: per-document term frequencies. The explode is
    immediately aggregated on (doc, token) so map-side partial combine
    collapses repeats before the shuffle. No pre-explode repartition: the
    split+explode is cheap enough that an extra exchange of the raw text
    costs more than the parallelism it buys (measured — unlike the n-gram
    construction in curation.decontaminate, which does repartition)."""
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf_d"))
    )


def vocab_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[token, tf, df]: corpus vocabulary with total term frequency and
    document frequency — the tokenizer-training / vocab-build precursor.

    Deliberately two-level (per-doc counts, then token totals) instead of
    ``countDistinct``: the doc-frequency becomes a plain ``count(*)`` over
    already-unique (doc, token) rows, so no distinct-expand pass, and the
    second shuffle is vocabulary-sized."""
    return (
        term_doc_counts(df, text_col, id_col)
        .groupBy("token")
        .agg(
            F.sum("tf_d").cast("long").alias("tf"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` most characteristic terms per document by tf·idf, with a
    RATIONAL idf (n_docs/df, not log) so every score is an exact-int /
    exact-int double division and the oracle comparison stays bitwise
    (swap in log-idf for production ranking — ordering is what matters).

    Plan: (doc,token) counts join a BROADCAST vocabulary (vocab ≪ corpus),
    n_docs attached via broadcast cross-join of a 1-row aggregate — the
    corpus-sized side is shuffled once, by the per-doc window."""
    dt = term_doc_counts(df, text_col, id_col)
    # vocab derives from the SAME dt subtree (not a second scan+explode):
    # Spark reuses the (doc,token) exchange for both consumers
    vocab = dt.groupBy("token").agg(
        F.sum("tf_d").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    n_docs = df.select(F.count(F.lit(1)).cast("long").alias("_n"))
    scored = (
        dt.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf_d") * F.col("_n")).cast("double") / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(id_col, "token", "tf_d", "df", "score")
    )


def hashed_doc_embedding(
    df: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing document embedding (the "hashing trick",
    Weinberger et al. 2009): [id, v: array<long>] where
    v[d] = Σ_tokens sign(h) · [h mod dims = d], h = the oracle-expressible
    polynomial token hash (``dedup.poly_hash``), sign = ±1 from the hash's
    next bit — a FIXED-dimension dense vector from raw text with no
    trained model, the classic pre-embedding baseline (and the shape a
    learned-embedding column would take).

    Where it sits: ``doc_cosine_topk`` is the sparse inverted-index
    content-similarity twin; this is the DENSE fixed-dim side that the
    module's ANN paths (brute force / SQ8 / Hamming / MMR) consume
    directly — text → vector → top-k with every stage SQL-replayable.

    Plan: map-only (one expression per document — no explode, no
    shuffle); integer components, exact norms.

    The token-hash array is materialized as its own projection (``_hs``)
    before the per-dimension sums reference it: with the hash tree
    INLINED in the outer ``transform`` lambda, the interpreted HOF
    evaluator re-derives ``poly_hash`` per dimension. The split form
    keeps the first execution's tree small (first-run cost about half at
    sf0.1) with identical per-dimension sums."""
    from bicis_spark.extensions.dedup import poly_hash

    toks = F.split(F.col(text_col), " ")
    hs = F.transform(toks, poly_hash)
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), hs.alias("_hs")
    )
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda d: F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                h % F.lit(dims) == d,
                F.when(
                    F.floor(h / F.lit(dims)).cast("long") % 2 == 0, F.lit(1)
                ).otherwise(F.lit(-1)),
            ).otherwise(F.lit(0)).cast("long"),
        ),
    )
    return base.select(F.col(id_col), v.alias("v"))


def doc_retrieval_hashed(
    df: DataFrame,
    query_pred: Column,
    k: int = 5,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end text retrieval over hashed embeddings: embed every
    document map-side (``hashed_doc_embedding``), take the ``query_pred``
    subset as the query batch, and run the exact ANN scan
    (``similarity._exact_scan``: cosine top-``k`` per query via the salted
    two-phase top-k, self-matches excluded) — the full text → vector →
    retrieve pipeline in one declared plan, each stage bit-replayable.
    The normed embeddings are persisted: the corpus and the query side
    both read them. Output: [query_id, neighbor_id, cosine, rank]."""
    from bicis_spark.extensions.similarity import _exact_scan, _with_norm

    emb = tracked_persist(
        _with_norm(hashed_doc_embedding(df, dims, text_col, id_col), "v", "n")
    )
    q = emb.where(query_pred).selectExpr(
        f"{id_col} AS query_id", "v AS qv", "n AS qn"
    )
    c = emb.selectExpr(f"{id_col} AS nid", "v AS cv", "n AS cn")
    return _exact_scan(c, q, k)


def _tf_index(
    df: DataFrame,
    df_min: int,
    df_max: int,
    text_col: str,
    id_col: str,
    persist: bool,
) -> tuple[DataFrame, DataFrame]:
    """The df-window-pruned sparse TF index and its squared norms:
    (tfk ``[token, id, tf_d, ...]``, norms ``[id, ss]``). Tokens outside
    [df_min, df_max] are pruned before any pair is formed — rare terms
    (df < df_min) cannot produce a pair, and stop-like terms (df > df_max)
    would each fan out df² pairs — so the inverted-index join is bounded
    by df_max² pairs per token. Norms are over the PRUNED token space,
    consistent on both sides, and exact int64 sums of tf². ``persist``
    is the caller's choice: it caches the index (``tracked_persist``)
    before the norms and the caller's scans read it."""
    dt = term_doc_counts(df, text_col, id_col)
    voc = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    keep = voc.where(
        (F.col("df") >= df_min) & (F.col("df") <= df_max)
    ).select("token")
    tfk = dt.join(F.broadcast(keep), "token")
    if persist:
        tfk = tracked_persist(tfk)
    norms = tfk.groupBy(id_col).agg(
        F.sum(F.col("tf_d") * F.col("tf_d")).cast("long").alias("ss")
    )
    return tfk, norms


def doc_sparse_cosine_query_topk(
    df: DataFrame,
    query_pred: Column,
    k: int = 20,
    df_min: int = 2,
    df_max: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-restricted sparse TF-cosine retrieval — the DIRECTED form of
    ``doc_cosine_topk``: top-``k`` corpus neighbors for the
    ``query_pred`` document subset only, over the same df-window-pruned
    inverted index ([df_min, df_max] caps any token's fan-out at
    df_max² pairs). The query side's tf rows are bounded (≤ |Q| docs) and
    broadcast, so the candidate join is map-side over the corpus
    posting lists; selection is the salted two-phase top-k. Output:
    [query_id, neighbor_id, cosine, rank]."""
    from bicis_spark.extensions.similarity import _topk_per_query

    tfk, norms = _tf_index(df, df_min, df_max, text_col, id_col, persist=True)
    qa = tfk.where(query_pred).select(
        F.col(id_col).alias("query_id"), "token", F.col("tf_d").alias("tf_a")
    )
    b = tfk.select(
        F.col(id_col).alias("neighbor_id"), "token", F.col("tf_d").alias("tf_b")
    )
    pairs = (
        b.join(F.broadcast(qa), "token")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("long").alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("query_id"), F.col("ss").alias("ss_a"))
    nb = norms.select(
        F.col(id_col).alias("neighbor_id"), F.col("ss").alias("ss_b")
    )
    scored = (
        pairs.join(F.broadcast(na), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("ss_a").cast("double"))
                    * F.sqrt(F.col("ss_b").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return _topk_per_query(scored, "cosine", k)


def hybrid_retrieval_rrf(
    df: DataFrame,
    query_pred: Column,
    k_final: int = 10,
    k_cand: int = 20,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid sparse+dense retrieval fused per query by reciprocal rank —
    the standard RAG serving pattern: a DENSE ranking
    (feature-hashing embeddings, ``doc_retrieval_hashed``) and a SPARSE
    lexical ranking (df-pruned TF cosine,
    ``doc_sparse_cosine_query_topk``) each contribute their top-``k_cand``
    candidates per query; rrf(d) = Σ_lists 1/(rrf_k + rank_d) (absent
    list contributes 0, Cormack et al. 2009), final top-``k_final`` per
    query. Output: [query_id, doc_id, rank_dense, rank_sparse,
    rrf_score, rank].

    Scale: both candidate stages are the bounded declared plans; fusion
    is a full-outer join of two ≤ |Q|·k_cand lists and the final rank is
    a window over ≤ 2·k_cand rows per query. Floats: each term is one
    IEEE division of exact integers, summed in fixed order — bitwise in
    the oracle."""
    dense = doc_retrieval_hashed(df, query_pred, k=k_cand, text_col=text_col,
                                 id_col=id_col)
    sparse = doc_sparse_cosine_query_topk(
        df, query_pred, k=k_cand, text_col=text_col, id_col=id_col
    )
    a = dense.select(
        F.col("query_id").alias("_qa"),
        F.col("neighbor_id").alias("_ida"),
        F.col("rank").alias("rank_dense"),
    )
    b = sparse.select(
        F.col("query_id").alias("_qb"),
        F.col("neighbor_id").alias("_idb"),
        F.col("rank").alias("rank_sparse"),
    )
    fused = a.join(
        b,
        (F.col("_qa") == F.col("_qb")) & (F.col("_ida") == F.col("_idb")),
        "full_outer",
    ).select(
        F.coalesce(F.col("_qa"), F.col("_qb")).alias("query_id"),
        F.coalesce(F.col("_ida"), F.col("_idb")).alias("doc_id"),
        "rank_dense",
        "rank_sparse",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_dense")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_sparse")).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    # ≤ 2·k_cand rows per query — bounded, a window is fine here
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k_final)
        .select(
            "query_id", "doc_id", "rank_dense", "rank_sparse",
            "rrf_score", "rank",
        )
    )


def doc_cosine_topk(
    df: DataFrame,
    k: int = 3,
    df_min: int = 2,
    df_max: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` nearest documents per document by cosine similarity over
    sparse term-frequency vectors, as an inverted-index join — the
    doc-to-doc twin of the embedding ANN paths (similarity over CONTENT
    rather than a trained vector).

    Plan shape (scales to 100 TB): the df-window-pruned TF index
    (``_tf_index``) bounds the inverted-index join to df_max² pairs per
    token. Dot products and squared norms are exact int64 sums of tf
    products (order-independent), so the final cosine
    = dot / (sqrt(ss_a)*sqrt(ss_b)) is a deterministic IEEE expression
    over exact integers and replays bitwise in the oracle. Shuffles:
    (doc,token) agg, token-keyed pair join, per-doc top-k window.
    """
    tfk, norms = _tf_index(df, df_min, df_max, text_col, id_col, persist=False)
    a = tfk.select(
        F.col(id_col).alias("id_a"), "token", F.col("tf_d").alias("tf_a")
    )
    b = tfk.select(
        F.col(id_col).alias("id_b"), "token", F.col("tf_d").alias("tf_b")
    )
    pairs = (
        a.join(b, "token")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("long").alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("ss").alias("ss_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("ss").alias("ss_b"))
    scored = (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("ss_a").cast("double"))
                * F.sqrt(F.col("ss_b").cast("double"))
            ),
        )
    )
    sym = scored.select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("neighbor_id"),
        "dot",
        "cosine",
    ).unionAll(
        scored.select(
            F.col("id_b").alias(id_col),
            F.col("id_a").alias("neighbor_id"),
            "dot",
            "cosine",
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(id_col, "neighbor_id", "dot", "cosine", "rk")
    )


def encode_documents(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-id encoding against a corpus-derived vocabulary: dense ids
    1..vocab_size by (tf desc, token) rank, 0 = OOV. Output
    [id_col, n_tokens, n_oov, ids_str].

    Plan shape (scales to 100 TB): the vocabulary aggregates corpus-wide
    (vocab-sized shuffle), collapses to ONE map row, and broadcasts; each
    document then encodes via ``transform`` + ``element_at`` — pure
    map-side column expressions, the corpus is never exploded, re-shuffled,
    or re-assembled. The single-partition vocab ranking window is bounded
    by construction (a tokenizer vocabulary fits one task by definition).
    """
    dt = term_doc_counts(df, text_col, id_col)
    vocab = dt.groupBy("token").agg(F.sum("tf_d").cast("long").alias("tf"))
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    vocab_ids = (
        vocab.withColumn("id", F.row_number().over(w).cast("long"))
        .where(F.col("id") <= vocab_size)
    )
    vmap = vocab_ids.agg(
        F.map_from_arrays(
            F.collect_list("token"), F.collect_list("id")
        ).alias("_vmap")
    )
    toks = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    ids = F.transform(
        toks, lambda t: F.coalesce(F.element_at("_vmap", t), F.lit(0))
    )
    return (
        df.crossJoin(F.broadcast(vmap))
        .select(F.col(id_col), ids.alias("_ids"))
        .select(
            id_col,
            F.size("_ids").cast("long").alias("n_tokens"),
            F.size(F.filter("_ids", lambda x: x == 0))
            .cast("long")
            .alias("n_oov"),
            F.concat_ws(
                " ", F.transform("_ids", lambda x: x.cast("string"))
            ).alias("ids_str"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document character-distribution statistics: Shannon entropy
    (bits/char), distinct-char count, and collision probability (Simpson
    index / Rényi-2 surrogate) — the classic gibberish/low-quality filter
    for LLM corpus curation.

    Determinism: transcendental functions are NOT bitwise-reproducible
    across engines (JVM ``Math.log`` disagrees with libm ``log2`` on ~1%%
    of integer inputs — measured), so the entropy terms come from a
    driver-built lookup table ``k -> floor(k*log2(k)*scale)`` computed
    with Python's libm (bitwise-identical to DuckDB's, verified over
    1..300000) and broadcast to executors. The per-doc sum of those
    integers is order-independent, and
    ``H = (floor(n*log2(n)*s) - sum_i floor(c_i*log2(c_i)*s)) / (n*s)``
    is one exact-int division. Collision probability
    ``sum c_i*(c_i-1) / (n*(n-1))`` is exact rational arithmetic.

    Scale: the char explode is map-only; both aggregations combine
    map-side (distinct chars per doc << chars per doc), and the log table
    (one row per possible char count, <= max doc length) is a broadcast
    join — nothing wide ever shuffles.
    """
    import math

    spark = df.sparkSession
    t = F.col(text_col)
    base = df.where(t.isNotNull() & (F.length(t) > 0))
    if max_len is None:
        max_len = base.agg(F.max(F.length(t))).first()[0] or 1
    qlog = local_frame(spark, 
        [(k, math.floor(k * math.log2(k) * scale)) for k in range(1, max_len + 1)],
        "k long, qlog long",
    )
    chars = base.select(
        id_col,
        # (?s): the entropy oracle splits with string_split(text, '') which
        # keeps line terminators; Java '.' without DOTALL would drop them
        # and diverge on any newline-bearing document.
        F.explode(F.regexp_extract_all(t, F.lit("(?s)(.)"), 1)).alias("ch"),
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    per_doc = (
        counts.join(F.broadcast(qlog), counts["c"] == qlog["k"], "left")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.count("*").cast("long").alias("n_distinct_chars"),
            F.sum("qlog").cast("long").alias("_sum_qlog"),
            F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("long").alias("_coll"),
        )
    )
    n = F.col("n_chars")
    ent_q = (F.col("qlog") - F.col("_sum_qlog")).cast("long")
    return (
        per_doc.join(F.broadcast(qlog), per_doc["n_chars"] == qlog["k"], "left")
        .select(
            id_col,
            "n_chars",
            "n_distinct_chars",
            ent_q.alias("entropy_q"),
            (ent_q.cast("double") / (n * F.lit(scale)).cast("double")).alias(
                "entropy_bits"
            ),
            (
                F.col("_coll").cast("double")
                / (n * (n - F.lit(1))).cast("double")
            ).alias("collision_prob"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document mean unigram surprisal (bits/token) under a unigram LM
    fit on the corpus itself — the perplexity-proxy quality filter (CCNet
    / Wenzek et al. 2020 score documents with a KenLM; a corpus-unigram
    model is the degenerate n=1 case that needs no external model):
    ``surprisal(t) = log2(N) − log2(c_t)``, averaged over the document.
    Gibberish (all-rare tokens) scores high; boilerplate (all-frequent
    tokens) scores low.

    Determinism: the same libm-table trick as ``char_entropy`` — Spark
    never calls a JVM log. A driver-built broadcast table maps each
    DISTINCT token frequency to ``floor(log2(c)·scale)`` (Python libm ==
    DuckDB libm, the verified char_entropy precedent), so per-doc sums are
    exact int64 and the only float op is the final division.

    Scale: the token explode aggregates immediately (map-side combined) to
    the vocab; distinct FREQUENCIES (≤ vocab size, in practice the
    Zipf-compressed tail, hundreds) come to the driver to build the log
    table — bounded model state, same class as the BPE merge table. The
    corpus branch joins the broadcast vocab and aggregates per doc; the
    corpus itself never shuffles wide.
    """
    import math

    t = F.col(text_col)
    base = df.where(t.isNotNull() & (F.length(t) > 0))
    toks = base.select(id_col, F.explode(tokens(t)).alias("token"))
    # persisted() spans the WHOLE risk window — the two driver-side
    # actions below run real jobs against the cache, and a failure there
    # must release it too (trade-offs of the eager final checkpoint:
    # bicis_spark/caching.py). The checkpoint also prevents the
    # CacheManager serving stale cached rows to a later query after an
    # in-place regeneration of the source files.
    with persisted(
        toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ) as (vocab,):
        n_total = vocab.agg(F.sum("c")).first()[0] or 1
        distinct_counts = [r[0] for r in vocab.select("c").distinct().collect()]
        spark = df.sparkSession
        qlog_n = math.floor(math.log2(n_total) * scale)
        qlog = local_frame(spark, 
            [(k, math.floor(math.log2(k) * scale)) for k in distinct_counts],
            "k long, qlog long",
        )
        vq = vocab.join(F.broadcast(qlog), vocab["c"] == qlog["k"]).select(
            "token", (F.lit(qlog_n) - F.col("qlog")).cast("long").alias("sq")
        )
        per = (
            toks.join(F.broadcast(vq), "token")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tokens"),
                F.sum("sq").cast("long").alias("surprisal_q"),
            )
        )
        result = per.select(
            id_col,
            "n_tokens",
            "surprisal_q",
            (
                F.col("surprisal_q").cast("double")
                / (F.col("n_tokens") * F.lit(scale)).cast("double")
            ).alias("avg_surprisal_bits"),
        )
        return result.localCheckpoint(eager=True)


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document mean bigram surprisal (bits/bigram) under the corpus's
    own bigram LM — one step closer to the CCNet KenLM filter than
    ``unigram_surprisal``: ``surprisal(w₁w₂) = log2 c(w₁·) − log2 c(w₁w₂)``
    with ``c(w₁·)`` the count of bigrams starting with w₁ (so the
    conditional is properly normalized — no end-of-doc mass leak).
    Documents with fewer than two tokens drop (no bigrams to score).

    Determinism: the libm-table trick again — a driver-built table maps
    every DISTINCT count value (pair and first-token counts unioned) to
    ``floor(log2(c)·scale)``; sums are exact int64, one final division.

    Scale: bigram counts are map-side-combined aggregates; the occurrence
    → count joins key on the bigram/first-token strings (shuffle joins —
    the bigram vocabulary is NOT broadcastable at corpus scale; a
    production filter prunes to top-K bigrams with backoff, which this
    operator's count tables directly support). The driver holds only the
    distinct-count-value table (Zipf-compressed, ≤ vocab sizes).
    """
    import math

    t = F.col(text_col)
    toks = tokens(t)
    base = df.where(t.isNotNull() & (F.length(t) > 0) & (F.size(toks) >= 2)).select(
        id_col, toks.alias("_toks")
    )
    n = F.size(F.col("_toks"))
    pairs = F.zip_with(
        F.slice(F.col("_toks"), 1, n - 1),
        F.slice(F.col("_toks"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("bigram")),
    )
    bg = base.select(id_col, F.explode(pairs).alias("_p")).select(
        id_col, F.col("_p.w1").alias("w1"), F.col("_p.bigram").alias("bigram")
    )
    # bg feeds three consumers (pair counts, first-token counts, the final
    # per-occurrence scoring join) and each count table is itself read
    # twice (distinct-value collect + the qlog join) — without persists the
    # tokenize+explode lineage executes five times. Persist the exploded
    # occurrences and both aggregates (same multi-consumer discipline as
    # unigram_surprisal's vocab); at corpus scale the production variant
    # prunes bg to top-K bigrams first (see docstring) and persists THAT.
    with persisted(bg) as (bg,):
        with persisted(
            bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("long").alias("cp")),
            bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cf")),
        ) as (cpair, cfirst):
            counts = (
                cpair.select(F.col("cp").alias("c"))
                .union(cfirst.select(F.col("cf").alias("c")))
                .distinct()
                .collect()
            )
            spark = df.sparkSession
            qlog = local_frame(spark, 
                [
                    (int(r[0]), math.floor(math.log2(int(r[0])) * scale))
                    for r in counts
                ],
                "k long, qlog long",
            )
            cpair_q = cpair.join(
                F.broadcast(qlog), cpair["cp"] == qlog["k"]
            ).select("bigram", F.col("qlog").alias("_qp"))
            cfirst_q = cfirst.join(
                F.broadcast(qlog), cfirst["cf"] == qlog["k"]
            ).select("w1", F.col("qlog").alias("_qf"))
            scored = (
                bg.join(cpair_q, "bigram")
                .join(cfirst_q, "w1")
                .select(
                    id_col,
                    (F.col("_qf") - F.col("_qp")).cast("long").alias("_sq"),
                )
            )
            result = scored.groupBy(id_col).agg(
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                F.sum("_sq").cast("long").alias("surprisal_q"),
            ).select(
                id_col,
                "n_bigrams",
                "surprisal_q",
                (
                    F.col("surprisal_q").cast("double")
                    / (F.col("n_bigrams") * F.lit(scale)).cast("double")
                ).alias("avg_surprisal_bits"),
            )
            # eager checkpoint inside the block: the returned frame must
            # not reference the caches lazily (bicis_spark/caching.py)
            return result.localCheckpoint(eager=True)


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    log_scale: int = 1_000_000,
    pre_tokenized: DataFrame | None = None,
) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed term set,
    with the Okapi constants as exact rationals (k1 = 6/5, b = 3/4) and
    every step integer-exact:

        score_q(d) = Σ_t  fdiv( idf_q(t) · tf·22·S ,
                                10·S·tf + 3·S + 9·dl·N )

    where S = Σ dl, N = doc count (both exact BIGINT; the coefficients
    are (k1+1), k1(1−b), k1·b times 10·S), and idf_q(t) =
    floor(log2(2N−2df+1)·scale) − floor(log2(2df+1)·scale) — the
    libm-log-table discipline (two floors, computed identically by
    python and the SQL oracle). fdiv is FLOOR division implemented as
    ``(a − pmod(a, b)) div b`` so negative idf terms (df > N/2 — BM25's
    real behavior for very common terms) round the same way on both
    engines (Spark ``div`` truncates, DuckDB ``//`` floors — only exact
    divisibility makes them agree).

    Plan: per-(doc, term) tf rows for the query terms only (the explode
    filters to a ≤|terms| token set BEFORE any shuffle), dl map-side,
    1-row corpus stats broadcast, df per term collected driver-side
    (≤|terms| rows — bounded model state) to build the idf literal map.
    Output: [id, n_terms, score_q, score] for docs matching ≥1 term.

    int64 headroom: idf_q·tf·22·S stays under 2^63 for corpora to ~10⁹
    tokens at this scale; past that, drop log_scale or route the product
    through DECIMAL(38,0)."""
    import math


    # The tokenize pass feeds THREE actions per build (the corpus-stats
    # scalar, the per-term df collect, and the final scored job), so an
    # unpersisted base re-tokenized the corpus three times per run
    # (round 12, guide §1.5/§5 caching). ``pre_tokenized`` lets a caller
    # that already built the (_id, _w) token frame (rrf_fusion_topk's
    # term-density arm shares the identical tokenize) pass it in, so the
    # corpus is tokenized ONCE for both retrieval arms; the caller owns
    # that frame's persist.
    if pre_tokenized is not None:
        base = pre_tokenized
    else:
        base = tracked_persist(
            df.where(
                F.col(text_col).isNotNull() & (F.length(F.col(text_col)) > 0)
            ).select(
                F.col(id_col).alias("_id"),
                F.filter(
                    tokens(F.col(text_col)), lambda x: x != F.lit("")
                ).alias("_w"),
            )
        )
    dl = base.select("_id", F.size("_w").cast("long").alias("_dl"))
    stats = dl.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_dl").cast("long").alias("_s"),
    )
    tf = (
        base.select("_id", F.explode("_w").alias("_t"))
        .where(F.col("_t").isin(list(query_terms)))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).cast("long").alias("_tf"))
    )
    # df per query term + corpus N: bounded driver-side model state
    # (≤|terms|+1 rows), the BPE-merge-table collect class
    n_docs = stats.select("_n").first()["_n"]
    df_rows = {
        r["_t"]: r["_df"]
        for r in tf.groupBy("_t").agg(F.count(F.lit(1)).cast("long").alias("_df")).collect()
    }
    spark = df.sparkSession
    idf_tbl = local_frame(spark, 
        [
            (
                t,
                int(math.floor(math.log2(2 * n_docs - 2 * dfv + 1) * log_scale))
                - int(math.floor(math.log2(2 * dfv + 1) * log_scale)),
            )
            for t, dfv in sorted(df_rows.items())
        ],
        "_t string, _idf long",
    )
    scored = (
        tf.join(F.broadcast(idf_tbl), "_t")
        .join(dl, "_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("_num", F.col("_idf") * F.col("_tf") * F.lit(22) * F.col("_s"))
        .withColumn(
            "_den",
            F.lit(10) * F.col("_s") * F.col("_tf")
            + F.lit(3) * F.col("_s")
            + F.lit(9) * F.col("_dl") * F.col("_n"),
        )
        .withColumn(
            "_sq",
            F.expr("(_num - pmod(_num, _den)) div _den"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("_sq").cast("long").alias("score_q"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_terms",
            "score_q",
            (F.col("score_q").cast("double") / F.lit(float(log_scale))).alias("score"),
        )
    )


def rrf_fuse(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
    topn: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two ranked candidate lists: ``rrf(d) = Σ_lists 1/(k + rank_d)``,
    with a document absent from a list contributing 0. RRF is the
    standard score-free way to merge heterogeneous retrieval signals
    (lexical BM25 + a second ranker here; dense ANN in production) —
    ranks are comparable where raw scores are not.

    Inputs are (id, rank) frames that MUST already be bounded top-N
    lists (the query-side contract): fusion is then a full outer join of
    two tiny lists — broadcastable at any corpus size, since only the
    candidate lists, never the corpus, reach this operator.

    Determinism: 1/(k+rank) is one IEEE double division of exact
    integers and the fused score adds the two terms in fixed column
    order, so both engines produce bitwise-identical doubles; top-n
    ties break on the id."""
    a = ranking_a.select(
        F.col(id_col).alias("_ida"), F.col("rank").alias("rank_a")
    )
    b = ranking_b.select(
        F.col(id_col).alias("_idb"), F.col("rank").alias("rank_b")
    )
    fused = (
        a.join(b, a["_ida"] == b["_idb"], "full_outer")
        .select(
            F.coalesce(F.col("_ida"), F.col("_idb")).alias(id_col),
            F.col("rank_a"),
            F.col("rank_b"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(k) + F.col("rank_a")).cast("double"),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(k) + F.col("rank_b")).cast("double"),
                    F.lit(0.0),
                )
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), id_col).limit(topn)


def rank_topn(
    scored: DataFrame,
    order_cols: list,
    id_col: str = "doc_id",
    topn: int = 50,
) -> DataFrame:
    """Dense global top-N with 1-based ranks: TakeOrderedAndProject pulls
    the N winners (never a global window over the corpus — that would
    serialize every row through one task's sort), then row_number runs
    on the N-row result only. Ties must be broken by including the id in
    ``order_cols``."""
    from pyspark.sql import Window

    top = scored.orderBy(*order_cols).limit(topn)
    w = Window.orderBy(*order_cols)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search via the positional index pattern: a document
    matches iff its token stream contains the phrase's tokens at
    CONSECUTIVE positions — the operation a search engine runs against a
    positional inverted index, here expressed as posexplode + lead()
    windows (the SCALE.md n-gram rule: never rebuild position windows
    with higher-order array transforms in a hot path).

    At scale: the window runs per document (bounded partitions — a
    document's own token count), match rows collapse map-side before the
    only shuffle (document-keyed count aggregation). A dedicated
    positional inverted index would add a per-term posting-list join;
    for streaming-scan search over a corpus this one-pass window form is
    the right cost.

    Output: [id, n_occurrences] for matching documents only."""
    from pyspark.sql import Window

    words = phrase.split(" ")
    if len(words) < 1:
        raise ValueError("empty phrase")
    tokrows = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(F.split(text_col, " ")).alias("_pos", "_w")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    cond = F.col("_w") == words[0]
    for j, word in enumerate(words[1:], start=1):
        cond = cond & (F.lead("_w", j).over(w) == word)
    hits = tokrows.select(F.col(id_col), cond.alias("_m")).where("_m")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def corpus_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-slice corpus drift screen: KL(P_slice || P_rest) in bits over
    add-1-smoothed unigram distributions, one row per ``group_col`` value
    (source, domain, snapshot...). The domain-shift diagnostic a training
    mix needs before weighting sources (DoReMi-style reweighting reads
    exactly these divergences): a slice whose language diverges from the
    rest of the corpus gets a large KL; boilerplate-identical slices sit
    near 0.

    Determinism: the same driver-built libm-log2 quantization as
    ``unigram_surprisal`` — every log2 argument is an INTEGER (smoothed
    counts c+1, smoothed totals N+V), so both engines read identical
    doubles and the per-slice numerator is an exact int64 sum; the only
    float ops are the final fixed division tree.

    Scale: the grid over (slice x vocab) is NEVER materialized. Absent
    tokens (c_st = 0) contribute a closed form — per slice,
    V*A_s - S_global with A_s = qlog(N_rest+V) - qlog(N_s+V) and
    S_global = sum_t qlog(c_t+1) — so the engine only aggregates over
    (slice, token) pairs that EXIST, plus one vocab-sized aggregate for
    S_global. Driver state is bounded: per-slice totals (|slices| rows)
    and the distinct smoothed-count values for the qlog table (the
    Zipf-compressed count range, same class as unigram_surprisal). The
    oracle replays the definition as the explicit cross-join grid, so a
    hash MATCH also proves the absent-token decomposition identity."""
    import math

    t = F.col(text_col)
    base = df.where(t.isNotNull() & (F.length(t) > 0))
    toks = base.select(
        F.col(group_col).alias("_g"), F.explode(tokens(t)).alias("_tok")
    )
    spark = df.sparkSession
    with persisted(
        toks.groupBy("_g", "_tok").agg(
            F.count(F.lit(1)).cast("long").alias("_cst")
        )
    ) as (sc,):
        with persisted(
            sc.groupBy("_tok").agg(F.sum("_cst").cast("long").alias("_ct"))
        ) as (vocab,):
            g = vocab.agg(
                F.count(F.lit(1)).cast("long").alias("v"),
                F.sum("_ct").cast("long").alias("n"),
            ).first()
            v_size, n_total = g["v"], g["n"]

            # per-slice totals: bounded model state (|slices| rows)
            per_slice = {
                r["_g"]: (r["ns"], r["ntypes"])
                for r in sc.groupBy("_g")
                .agg(
                    F.sum("_cst").cast("long").alias("ns"),
                    F.count(F.lit(1)).cast("long").alias("ntypes"),
                )
                .collect()
            }

            def qlog(k: int) -> int:
                return math.floor(math.log2(k) * scale)

            slice_rows = []
            for gval, (ns, ntypes) in per_slice.items():
                a_s = qlog(n_total - ns + v_size) - qlog(ns + v_size)
                slice_rows.append(
                    (gval, ns, ntypes, qlog(ns + v_size), a_s)
                )
            sdim = local_frame(spark, 
                slice_rows, "_g string, ns long, ntypes long, qns long, a_s long"
            )

            joined = sc.join(vocab, "_tok").select(
                "_g",
                "_cst",
                (F.col("_cst") + 1).alias("_k1"),
                (F.col("_ct") - F.col("_cst") + 1).alias("_k2"),
                (F.col("_ct") + 1).alias("_k3"),
            )
            with persisted(joined) as (jp,):
                # one distinct over the exploded k-columns instead of
                # three separate collect jobs (r11: same value set, one
                # cached-frame scan)
                ks = {
                    r[0]
                    for r in jp.selectExpr(
                        "explode(array(_k1, _k2, _k3)) AS k"
                    )
                    .distinct()
                    .collect()
                }
                qtab = local_frame(spark, 
                    [(k, qlog(k)) for k in sorted(ks)], "k long, q long"
                )

                def q_of(col: str, alias: str) -> DataFrame:
                    return qtab.select(
                        F.col("k").alias(col), F.col("q").alias(alias)
                    )

                enriched = (
                    jp.join(F.broadcast(q_of("_k1", "_q1")), "_k1")
                    .join(F.broadcast(q_of("_k2", "_q2")), "_k2")
                    .join(F.broadcast(q_of("_k3", "_q3")), "_k3")
                    .join(F.broadcast(sdim), "_g")
                )
                # present-token term minus the absent-form it replaces
                a_s = F.col("a_s")
                qnr = a_s + F.col("qns")  # qlog(N_rest+V)
                term = (F.col("_cst") + 1) * (
                    F.col("_q1") - F.col("qns") - F.col("_q2") + qnr
                ) - (a_s - F.col("_q3"))
                partial = enriched.groupBy("_g").agg(
                    F.sum(term).cast("long").alias("partial")
                )
                # S_global stays IN the plan as a broadcast 1-row scalar
                # attach (r11) — it was a driver .first() that cost its
                # own job; the integer sum is identical either way
                sg = (
                    vocab.select((F.col("_ct") + 1).alias("_k3"))
                    .join(F.broadcast(q_of("_k3", "_q3")), "_k3")
                    .agg(F.sum("_q3").cast("long").alias("_sglobal"))
                )

                out = (
                    partial.join(F.broadcast(sdim), "_g")
                    .crossJoin(F.broadcast(sg))
                    .select(
                        F.col("_g").alias(group_col),
                        F.col("ns").alias("n_tokens"),
                        F.col("ntypes").alias("n_types"),
                        F.lit(v_size).cast("long").alias("vocab_size"),
                        (
                            F.col("partial")
                            + F.lit(v_size) * F.col("a_s")
                            - F.col("_sglobal")
                        )
                        .cast("long")
                        .alias("kl_num"),
                    )
                )
                result = out.withColumn(
                    "kl_bits",
                    F.col("kl_num").cast("double")
                    / (
                        F.lit(float(scale))
                        * (F.col("n_tokens") + F.lit(v_size)).cast("double")
                    ),
                )
                return result.localCheckpoint(eager=True)
