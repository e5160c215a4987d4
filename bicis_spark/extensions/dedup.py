"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design:
- **Exact** is a hash groupBy on a 128-bit fingerprint of the dedup key
  (two seeded xxhash64s) — one shuffle moving 16-byte hashes, not
  documents, with map-side combine.
- **N-gram Jaccard** blocks candidate pairs through a shingle inverted
  index; hot shingles (df > max_doc_freq) are dropped from *candidate
  generation only* (standard frequency cap — they generate O(df²) pairs and
  near-zero selectivity) while exact Jaccard is computed on the full sets,
  so verified scores are unaffected by the cap.
- **MinHash+LSH** is the sub-quadratic path: k hashes → b bands; a pair
  collides iff some band matches, then candidates are verified with exact
  Jaccard. All signature math happens array-side in codegen (no explode
  until the tiny band keys).
- **SimHash** gives a 64-bit signature; near-dup = small Hamming distance,
  blocked by signature bytes.
- **Embedding cosine** quantizes floats to integers so dot products are
  exact (order-independent) — bitwise-reproducible across engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bicis_spark.caching import iterate, tracked_persist
from bicis_spark.extensions.similarity import (
    _cfn_sql,
    _corpus,
    _ivf_train,
    _kmeans,
    _seed_filter,
    _with_norm,
    ivf_assign,
    kmeans_refine_exact,
    lsh_bucket,
)


def _partitioned(df: DataFrame, parallelism: int | None) -> DataFrame:
    """Spread CPU-heavy per-row array work across cores.

    Real 100 TB inputs arrive in thousands of splits, but a small local file
    is one row-group = one task; an explicit hash repartition costs one tiny
    shuffle and unlocks all cores. Uses defaultParallelism when unset."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _reusable(df: DataFrame, parallelism: int | None, key: str) -> DataFrame:
    """Hash-repartition + persist AFTER the heavy per-row compute.

    Multi-consumer subplans are NOT deduplicated by exchange reuse here:
    per-consumer column pruning makes each copy's scan (ReadSchema) differ,
    so Catalyst sees non-identical subtrees and recomputes the expensive
    projection once per consumer (verified empirically: 8 scans, zero
    ReusedExchange). An explicit persist (memory, spill-to-disk) is the
    reference's own L4 pattern (build_dataset.py:123,136) applied at the
    one spot measurement says it pays. Tracked (caching.py): the
    returned plan is lazy, so release happens at harness boundaries, not
    here."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return tracked_persist(df.repartition(n, key))



def fingerprint_cols(key_cols: list[str]) -> list[Column]:
    """128-bit dedup key: two independently-seeded xxhash64 fingerprints.

    Grouping on these moves 16 bytes per row through the shuffle instead of
    the key columns themselves (documents can be megabytes); two independent
    64-bit hashes put the per-pair collision odds at ~2^-128, far below any
    practical corpus size (a single xxhash64 starts colliding around 2^32
    documents)."""
    return [
        F.xxhash64(F.lit(seed), *key_cols).alias(f"_fp{seed}") for seed in (1, 2)
    ]


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest id per duplicate group (deterministic winner).

    The groupBy key is the 128-bit fingerprint of ``key_cols`` — the shuffle
    carries (16-byte fingerprint, id), never the documents. Map-side partial
    aggregation reduces each partition to its distinct fingerprints before
    the exchange."""
    groups = df.select(F.col(id_col), *fingerprint_cols(key_cols)).groupBy(
        "_fp1", "_fp2"
    ).agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    return groups.select(id_col, "n_copies")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles, array-side (no explode)."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    make = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
    )
    return F.when(F.size(toks) >= n, F.array_distinct(F.transform(idx, make))).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int = 50,
    parallelism: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup via shingle-inverted-index blocking.

    Output: [doc_a, doc_b, inter, size_a, size_b, jaccard] with
    doc_a < doc_b and jaccard >= threshold. Jaccard is
    |A∩B| / (|A|+|B|−|A∩B|) on distinct shingle sets — exact integers, so
    the double division is bitwise-deterministic.
    """
    sh = _reusable(
        _partitioned(df, parallelism)
        .select(F.col(id_col).alias("doc"), shingles(F.col(text_col), n).alias("sh"))
        .where(F.size("sh") > 0),
        parallelism,
        "doc",
    )
    # invert on 64-bit shingle hashes: the self-join shuffles/compares longs,
    # not strings. Hash collisions can only ADD candidates (exact
    # verification below filters them), never drop true pairs.
    inv = sh.select("doc", F.explode("sh").alias("s")).select(
        "doc", F.xxhash64("s").alias("h")
    )
    # frequency cap: hot shingles out of candidate generation only
    rare = inv.groupBy("h").agg(F.count(F.lit(1)).alias("df_")).where(
        F.col("df_") <= max_doc_freq
    )
    inv_capped = inv.join(rare.select("h"), "h")

    a = inv_capped.alias("a")
    b = inv_capped.alias("b")
    # count-based pruning BEFORE any per-pair set work: jaccard >= t implies
    # |A∩B| >= t/(1+t)·(|A|+|B|), and shared-capped-count <= |A∩B| only when
    # the cap fired (documented recall bound), so pairs below the bound can
    # never qualify. This collapses ~N·df² candidate rows to the handful of
    # real near-dups before the expensive exact verification.
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = sh.select("doc", F.size("sh").alias("sz"))
    sza = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("szb"))
    candidates = (
        shared.join(sza, "doc_a")
        .join(szb, "doc_b")
        .where(
            F.col("shared") * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("sza") + F.col("szb"))
        )
        .select("doc_a", "doc_b")
    )
    # exact verification on the FULL shingle sets (cap/hashing bound
    # candidates, never the emitted scores)
    sh_a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    out = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("size_a", F.size("sh_a").cast("long"))
        .withColumn("size_b", F.size("sh_b").cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH (the sub-quadratic scale path)
# ---------------------------------------------------------------------------


MINHASH_P = 2_147_483_647  # 2^31 - 1; a·h + b stays under 2^63 (ANSI-safe)


def _minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_j(x) = (a_j·x + b_j) mod p —
    fixed pseudo-random constants (no RNG: reproducible across runs)."""
    coeffs = []
    ga, gb = 0x9E3779B9, 0xC2B2AE3D
    for j in range(1, k + 1):
        coeffs.append((((ga * j) % (MINHASH_P - 1)) + 1, (gb * j) % MINHASH_P))
    return coeffs


def poly_hash(s: Column) -> Column:
    """Polynomial rolling hash over characters, mod 2^31-1 — slower than
    xxhash64 but expressible in ANY SQL engine (the oracle replays it
    exactly), making even the LSH-approximate dedup hash-checkable."""
    chars = F.regexp_extract_all(s, F.lit("(.)"), 1)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(MINHASH_P),
    )


def minhash_signature(
    shingle_col: Column, k: int = 32, hash_mode: str = "xxhash64"
) -> Column:
    """k-element MinHash signature, computed array-side: one hash pass over
    the shingles (folded to 31 bits), then k affine min-reductions — no
    explode, no UDF. ``hash_mode='poly'`` swaps in the oracle-expressible
    polynomial hash."""
    if hash_mode == "xxhash64":
        hashed = F.transform(
            shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P))
        )
    elif hash_mode == "poly":
        hashed = F.transform(shingle_col, poly_hash)
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")

    def affine(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    sig = [
        F.array_min(F.transform(hashed, affine(a, b))) for a, b in _minhash_coeffs(k)
    ]
    return F.array(*sig)


def _minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    bands: int,
    parallelism: int | None,
    hash_mode: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared LSH candidate generation: returns (shingle sets [doc, sh],
    signatures [doc, sh, sig], candidate pairs [doc_a, doc_b])."""
    r = k // bands
    sh = _reusable(
        _partitioned(df, parallelism)
        .select(F.col(id_col).alias("doc"), shingles(F.col(text_col), n).alias("sh"))
        .where(F.size("sh") > 0),
        parallelism,
        "doc",
    )
    # signature as two F.expr strings (hash pass + k affine mins): same
    # expression tree as minhash_signature but parsed JVM-side in 2 py4j
    # calls instead of ~k×10 Column-API round-trips of driver time
    if hash_mode == "xxhash64":
        hs_sql = f"transform(sh, s -> pmod(xxhash64(s), {MINHASH_P}))"
    elif hash_mode == "poly":
        hs_sql = (
            f"transform(sh, s -> aggregate(regexp_extract_all(s, '(.)', 1), "
            f"0L, (acc, c) -> (acc * 31 + ascii(c)) % {MINHASH_P}))"
        )
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    sig_sql = "array(" + ", ".join(
        f"array_min(transform(_hs, h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
        for a, b in _minhash_coeffs(k)
    ) + ")"
    with_sig = (
        sh.withColumn("_hs", F.expr(hs_sql))
        .withColumn("sig", F.expr(sig_sql))
        .drop("_hs")
    )
    # band key: the r signature values concatenated. Folding through
    # xxhash64 would shrink the shuffled key, but the plain string keeps the
    # key oracle-expressible; band-bucket cardinality is identical.
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    ",", *[F.element_at("sig", i * r + j + 1) for j in range(r)]
                ).alias("bh"),
            )
            for i in range(bands)
        ]
    )
    buckets = with_sig.select("doc", F.explode(band_arr).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return sh, with_sig, candidates


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
    parallelism: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    b bands × r = k/b rows; P(collision) ≈ 1 − (1 − j^r)^b. Candidates come
    from band-bucket self-joins (shuffle on tiny (band, hash) keys);
    verification joins back the full shingle sets and computes exact Jaccard,
    so emitted pairs are exact — LSH only bounds recall.
    """
    sh, with_sig, candidates = _minhash_candidates(
        df, id_col, text_col, n, k, bands, parallelism, hash_mode
    )
    sh_a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    parallelism: int | None = None,
    hash_mode: str = "poly",
) -> DataFrame:
    """MinHash ACCURACY CONTRACT: for every LSH candidate pair, the sketch's
    Jaccard estimate (matching signature positions / k — the unbiased
    MinHash estimator) next to the exact shingle Jaccard:
    [doc_a, doc_b, est_jaccard, jaccard].

    No threshold — all candidates are emitted so the contract covers both
    sides of the dedup boundary. est_jaccard is an integer count divided by
    k (both exactly representable doubles), so the contract itself is
    bitwise-deterministic and oracle-checkable in poly mode."""
    sh, with_sig, candidates = _minhash_candidates(
        df, id_col, text_col, n, k, bands, parallelism, hash_mode
    )
    sig_a = with_sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = with_sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    sh_a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    matches = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(k))).alias("est_jaccard"),
            (
                F.col("inter").cast("double")
                / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def poly_hash2(s: Column) -> Column:
    """Second independent polynomial hash (multiplier 37) — combined with
    poly_hash it yields 62 oracle-expressible hash bits."""
    chars = F.regexp_extract_all(s, F.lit("(.)"), 1)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(37) + F.ascii(c)) % F.lit(MINHASH_P),
    )


def token_hashes(text: Column, hash_mode: str = "xxhash64") -> Column:
    """The per-token hash array a SimHash signature folds over —
    factored out (round 12, r11 verdict #7) so callers can materialize
    it as its OWN projection before the per-bit sums reference it: with
    the hash tree inlined, the interpreted HOF evaluator re-derived
    every token hash once per signature bit (48×) — the identical
    defect class hashed_doc_embedding fixed per-dimension in r11."""
    toks = F.split(text, " ")
    if hash_mode == "xxhash64":
        return F.transform(toks, lambda t: F.xxhash64(t))
    if hash_mode == "poly":
        return F.transform(
            toks, lambda t: poly_hash(t) + poly_hash2(t) * F.lit(1 << 31)
        )
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def simhash_from_hashes(hashed: Column, bits: int = 48) -> Column:
    """SimHash signature from a PRE-MATERIALIZED token-hash array (see
    token_hashes): bit i of the signature is the sign of
    Σ_tokens (±1 by the token-hash's bit i)."""
    if not 1 <= bits <= 63:
        raise ValueError("bits must be in [1, 63]")

    def bit_step(i: int):
        mask = F.lit(1 << i)
        return lambda s, h: s + (h.bitwiseAND(mask) != 0).cast("long") * 2 - 1

    acc = F.lit(0).cast("long")
    for i in range(bits):
        bit_sum = F.aggregate(hashed, F.lit(0).cast("long"), bit_step(i))
        acc = acc + F.when(bit_sum > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    max_hamming: int = 2,
    block_bits: int = 16,
    parallelism: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on signature
    segments (pigeonhole: bits/block_bits blocks find every pair with
    hamming < bits/block_bits; defaults give 3 blocks ⇒ complete for
    hamming ≤ 2). 48 bits separates near-dups from the shared-vocabulary
    noise floor that 32 bits cannot (measured: 24 pairs vs 989)."""
    if bits // block_bits <= max_hamming:
        raise ValueError("need more than max_hamming blocks for completeness")
    if hash_mode == "poly" and bits > 62:
        raise ValueError("poly mode supplies 62 hash bits")
    # token-hash array materialized as its own projection before the
    # per-bit folds (round 12): inlined, the interpreted HOF evaluator
    # re-derived every token hash once per signature bit (48×) — the
    # hashed_doc_embedding defect class. CollapseProject keeps the two
    # projections separate (the reference is non-cheap and multiply
    # used), so the hashes compute once per document. Values identical.
    sigs = _partitioned(df, parallelism).select(
        F.col(id_col).alias("doc"),
        token_hashes(F.col(text_col), hash_mode).alias("_hs"),
    ).select(
        "doc",
        simhash_from_hashes(F.col("_hs"), bits).alias("sig"),
    )
    n_blocks = bits // block_bits
    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright("sig", i * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                .alias("bv"),
            )
            for i in range(n_blocks)
        ]
    )
    blocks = sigs.select("doc", "sig", F.explode(block_arr).alias("b")).select(
        "doc", "sig", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------


def connected_components_min_label(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
    broadcast_labels: bool = False,
) -> DataFrame:
    """[doc_id, cluster_id]: each node labeled with the minimum id reachable
    in the undirected pair graph — the canonical-representative step that
    turns near-dup PAIRS into dedup DECISIONS (keep one doc per cluster).

    Min-label propagation accelerated by pointer doubling
    (Shiloach–Vishkin style): every round each node takes
    ``min(own label, neighbors' labels, label-of-its-label)``. The extra
    ``l(l(v))`` hop makes label chains collapse geometrically, so
    convergence is O(log diameter) rounds instead of O(diameter) — the
    difference between 3 rounds and 30 on an adversarial chain graph at
    100 TB. Correctness is monotone-fixpoint: labels only ever decrease,
    always name a node inside the same component (``l(v)``'s component ==
    ``v``'s component, so the jump never escapes), and the loop only stops
    when the plain neighbor rule is at fixpoint — which forces labels
    constant per component and equal to the component minimum.

    Each round is one edge join + an aggregate + two dimension-sized
    label self-joins, run through ``bicis_spark.caching.iterate`` with a
    checkpoint per round; the count of labels a round changed rides that
    checkpoint job, and the first round that changes nothing ends the
    loop. Near-dup graphs are overwhelmingly tiny cliques (diameter 1-2),
    so rounds ≈ 2-3 either way.
    """
    # symmetrize in ONE scan: a self-union's two branches would each
    # re-execute the upstream pair plan (FastSS blocking / LSH banding —
    # the expensive part) inside the checkpoint job; the map-side explode
    # reads it once
    edges = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # checkpoint the edge set before deriving the nodes from it, so the
    # upstream pair plan runs once rather than once per consumer
    sym = sym.localCheckpoint(eager=True)
    nodes = sym.select(F.col("src").alias("v")).distinct()
    labels = nodes.withColumn("lbl", F.col("v")).localCheckpoint(eager=True)

    # checkpointed label frames carry no stats, so Catalyst cannot elect a
    # broadcast join on its own — callers whose vertex set is dimension-
    # sized (doc corpus, customer dim) pass broadcast_labels=True and each
    # round's three label joins go map-side, leaving the edge set
    # unshuffled (the label_propagation precedent); leave False when
    # vertices are fact-sized
    _b = F.broadcast if broadcast_labels else (lambda df: df)

    def step(state: DataFrame) -> DataFrame:
        labels = state.select("v", "lbl")
        nbr_min = (
            sym.join(_b(labels), sym["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = labels.join(_b(nbr_min), labels["v"] == nbr_min["src"], "left").select(
            F.col("v"),
            F.col("lbl").alias("_old"),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        # pointer doubling, applied TWICE per round: follow a label hop
        # (l(l(v))) and take the min. lbl always names a node in v's
        # component, so its own label is a valid (and often much smaller)
        # label for v. Two jumps collapse chains ~4x per round, so one
        # extra dimension-sized self-join saves whole rounds on
        # high-diameter graphs.
        hop = labels.select(
            F.col("v").alias("_hv"), F.col("lbl").alias("_hlbl")
        )
        for _ in range(2):
            stepped = (
                stepped.join(_b(hop), stepped["lbl"] == hop["_hv"], "left")
                .select(
                    F.col("v"),
                    F.col("_old"),
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("_hlbl"), F.col("lbl"))
                    ).alias("lbl"),
                )
            )
        # the previous label rides along as _old, so "did anything
        # change" is an aggregate over the checkpointed round itself
        return stepped

    labels, rounds_run = iterate(
        labels,
        step,
        max_iter,
        until=F.count_if(F.col("lbl") != F.col("_old")),
    )
    if rounds_run == max_iter:
        # Unconverged labels would silently split clusters: surface it.
        # max_iter=30 with pointer doubling covers diameter ~2^30; hitting
        # this means a pathological graph or a bug, never normal data.
        # (A fixpoint first detected on exactly the last round warns too.)
        import warnings

        warnings.warn(
            f"connected_components_min_label: no fixpoint detected within "
            f"{max_iter} rounds — labels may split components; raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------
#
# Every embedding path is built from ``similarity``'s search stages: the
# corpus ``[nid, cv]`` (``_corpus``) with its norm ``cn`` (``_with_norm``),
# the seed rule (``_seed_filter``) and the exact k-means trainer. The pair
# stages below add the self-join side: candidates are pairs
# ``vec_a < vec_b``, verified by exact cosine.

#: Exact cosine of a self-join pair whose sides carry ``cv``/``cn``.
_PAIR_COSINE = f"{_cfn_sql('cv_a', 'cv_b', 'cn_a', 'cn_b')} AS cosine"


def _side(v: DataFrame, s: str) -> DataFrame:
    """One side of a self-join: every column ``c`` of ``v`` as ``c_{s}``,
    with ``nid`` as ``vec_{s}``."""
    return v.selectExpr(
        *(f"{c} AS {'vec' if c == 'nid' else c}_{s}" for c in v.columns)
    )


def _block_pairs(
    v: DataFrame,
    block: tuple[str, ...],
    out: tuple[str, ...] = ("vec_a", "vec_b", _PAIR_COSINE),
) -> DataFrame:
    """In-block self-join of ``v`` ``[nid, *block, ...]``: every pair
    ``vec_a < vec_b`` that agrees on all ``block`` columns, projected to
    ``out`` over each side's columns suffixed ``_a``/``_b`` (``_side``) —
    by default ``[vec_a, vec_b, cosine]``. ``block=()`` is the full
    quadratic pair set."""
    conds = [F.col(f"{k}_a") == F.col(f"{k}_b") for k in block]
    conds.append(F.col("vec_a") < F.col("vec_b"))
    pairs = _side(v, "a").join(_side(v, "b"), reduce(lambda x, y: x & y, conds))
    return pairs.selectExpr(*out)


def _verify(cand: DataFrame, v: DataFrame) -> DataFrame:
    """Exact cosine of candidate pairs ``[..., vec_a, vec_b]`` against the
    normed corpus ``v`` ``[nid, cv, cn]`` → ``[*cand, cosine]``."""
    return (
        cand.join(_side(v, "a"), "vec_a")
        .join(_side(v, "b"), "vec_b")
        .selectExpr(*cand.columns, _PAIR_COSINE)
    )


def _dup_flags(v: DataFrame, block: tuple[str, ...], threshold: float) -> DataFrame:
    """``v`` ``[nid, cv, cn, *block, ...]`` plus ``dup_of``: the smallest
    lower-id vector of the same block at cosine ≥ ``threshold``, NULL when
    there is none."""
    dups = (
        _block_pairs(v, block)
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("vec_b").alias("nid"))
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return v.join(dups, "nid", "left")


def _normed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The persisted normed corpus ``[nid, cv, cn]``, hash-partitioned on
    ``nid`` for the candidate joins that read it twice."""
    return _reusable(_with_norm(_corpus(df, id_col, vec_col)), None, "nid")


def _band_candidates(
    v: DataFrame, n_bands: int, band_planes: int, dims: int
) -> DataFrame:
    """Banded sign-LSH candidates ``[band, vec_a, vec_b]``: band ``t`` keys
    each vector by ``band_planes`` sign bits from its own plane range, and
    a pair is a candidate of every band whose key it shares. Within one
    band each vector holds exactly one key, so a band's pairs are
    distinct."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                lsh_bucket("cv", band_planes, dims, plane_offset=t * band_planes)
                .alias("bits"),
            )
            for t in range(n_bands)
        ]
    )
    blocks = v.select("nid", F.explode(band_arr).alias("b")).select(
        "nid", F.col("b.band").alias("band"), F.col("b.bits").alias("bits")
    )
    return _block_pairs(blocks, ("band", "bits"), ("band_a AS band", "vec_a", "vec_b"))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    probe_mod: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup on quantized embeddings (exact integer dot
    products ⇒ bitwise-deterministic cosine).

    The brute-force O(n²) form — correct baseline;
    ``embedding_neardup_pairs_lsh`` is the scale path.

    ``probe_mod`` bounds the baseline the way ``ann_topk_bruteforce``
    bounds its query side: keep only pairs whose LOWER id is in the
    deterministic ``id % probe_mod == 0`` subset, so the join is
    N·(N/probe_mod) instead of N² and the oracle row stays runnable at
    larger SFs. ``None`` keeps the full quadratic form (unit tests,
    recall contracts — never declare it over an unbounded corpus).
    """
    pairs = _block_pairs(_with_norm(_corpus(df, id_col, vec_col)), ())
    if probe_mod is not None:
        pairs = pairs.where(F.col("vec_a") % probe_mod == 0)
    return pairs.where(F.col("cosine") >= threshold)


LSH_PRUNING_MIN_THRESHOLD = 0.7
"""Regime boundary for ``embedding_neardup_pairs_lsh``'s "auto" gate.

Sign-bit LSH quality exponent ρ = ln(1/p₁)/ln(1/p₂) with p(c) = 1 − acos(c)/π
and near-orthogonal background p₂ = 1/2: at cosine 0.7, p₁ = 0.747 ⇒
ρ = 0.42 ⇒ O(n^1.42) candidate work — the highest threshold band where
banding still genuinely prunes with small table counts. Below it the
exponent climbs toward n^1.81 measured at τ = 0.45 (ρ = 0.625, SCALE.md)
and k-means blocking is strictly better."""


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bands: int = 4,
    band_planes: int = 2,
    dims: int = 64,
    regime: str = "auto",
    kmeans_mod: int = 50,
    kmeans_iters: int = 1,
    kmeans_max_clusters: int | None = 40,
) -> DataFrame:
    """Embedding near-dup pairs [vec_a, vec_b, cosine ≥ threshold] with a
    runtime regime gate choosing the blocking structure by operating
    point:

    * ``"banded"`` — sign-bit LSH bands + exact verify (the MinHash-bands
      construction on hyperplane signatures, ``_band_candidates``):
      ``n_bands`` independent tables, each keyed by ``band_planes`` sign
      bits from a disjoint plane range; a pair is a candidate iff it
      collides in ANY band. Recall per band = p^r, across bands
      1 − (1 − p^r)^T. Candidate volume on a near-orthogonal background
      is ~T·n²/2^(r+1) — sub-quadratic only at HIGH thresholds where r
      can grow with log₂ n at bounded T (cosine 0.9 → ρ = 0.22 →
      O(n^1.22)); at 0.45 the LSH-optimal bound is already Ω(n^1.62)
      (ρ = 0.625).
    * ``"kmeans"`` — SemDeDup-style blocking (Abbas et al. 2023): the
      deterministic capped k-means of ``semantic_dedup`` buckets the
      corpus, candidates are within-cluster pairs only, then the same
      exact-cosine verify. k independent O((n/k)²) blocks — the
      low-threshold plan.
    * ``"auto"`` (default) — ``threshold ≥ LSH_PRUNING_MIN_THRESHOLD``
      (0.7) routes to banded (the regime where banding prunes), below it
      to kmeans.

    Both regimes share output semantics — blocked candidate generation
    (each with its own false-negative set, stated per regime above) and
    EXACT integer-quantized cosine verification — so the gate is a plan
    choice, not a semantics change.
    """
    if regime not in ("auto", "banded", "kmeans"):
        # reject typos loudly: a misspelled regime must not silently pick
        # a scale-inappropriate plan (same contract as broadcast_degrees)
        raise ValueError(
            f"regime must be 'auto', 'banded', or 'kmeans'; got {regime!r}"
        )
    if regime == "auto":
        regime = (
            "banded" if threshold >= LSH_PRUNING_MIN_THRESHOLD else "kmeans"
        )
    if regime == "kmeans":
        assigned = _kmeans_assigned(
            df, id_col, vec_col, kmeans_mod, kmeans_iters, kmeans_max_clusters
        )
        pairs = _block_pairs(assigned, ("centroid_id",))
        return pairs.where(F.col("cosine") >= threshold)

    v = _normed(df, id_col, vec_col)
    cand = (
        _band_candidates(v, n_bands, band_planes, dims)
        .select("vec_a", "vec_b")
        .distinct()
    )
    return _verify(cand, v).where(F.col("cosine") >= threshold)


#: Clamp range for the auto r discipline: r = min(16, max(8, ⌊log₂ n⌋)).
#: 8 is the fixed operating point (equal at n < 512, i.e. ≤ sf0.01, so
#: the fixed-r profile is unchanged there); 16 caps the per-band key space
#: at 65536 buckets — past that, T (band count) is the right knob, not r.
LSH_BAND_PLANES_MIN = 8
LSH_BAND_PLANES_MAX = 16


def lsh_band_planes_auto(n: int) -> int:
    """The r ≈ log₂ n planes-per-band discipline as a deterministic
    function of the corpus count: with r = ⌊log₂ n⌋ sign bits per band,
    background collisions per band drop to ~n²/2^(r+1) ≈ n/2 — candidate
    volume linear in n instead of the fixed-r n²/512 tail.
    ``n.bit_length() - 1`` IS ⌊log₂ n⌋ exactly (no float log); the DuckDB
    oracle computes the identical clamp via floor(log2(count(*)))."""
    if n < 1:
        return LSH_BAND_PLANES_MIN
    return min(LSH_BAND_PLANES_MAX, max(LSH_BAND_PLANES_MIN, n.bit_length() - 1))


def embedding_lsh_band_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bands: int = 8,
    band_planes: int | str = 8,
    dims: int = 64,
) -> DataFrame:
    """Per-band candidate/verified profile of the HIGH-threshold banded
    sign-LSH regime: [band, n_candidates, n_dups] — one row per band that
    produced at least one colliding pair, with n_dups the candidates whose
    exact cosine clears ``threshold``.

    This is the oracle-exercised face of the pruning regime
    (``embedding_neardup_pairs_lsh(regime="banded")`` at high τ): the test
    corpus has no pairs above cosine 0.6, so a pairs-shaped high-τ query
    would be a trivially-empty check — the per-band counts instead
    hash-gate the whole construction (hyperplane signs, band keys,
    collision join, exact verify) with nonzero rows at every SF.

    Scale: r = ``band_planes`` sign bits per band cuts background
    candidate volume to ~n²/2^(r+1) per band (r = 8 ⇒ /512); the
    production discipline is r ≈ log₂ n (then candidates ≈ T·n, linear)
    with T sized to the recall target 1 − (1 − p^r)^T — both spelled out
    in LSH_PRUNING_MIN_THRESHOLD's note. The output is O(T) rows; the
    candidate join shape is the banded operator's (tiny (band, bits)
    keys, id joins, no broadcast, no cartesian). Band-wise pairs are
    already distinct, so no cross-band DISTINCT runs and the counts stay
    attributable per table.

    ``band_planes="auto"`` sizes r by ``lsh_band_planes_auto`` from one
    count() action: equal to the fixed r = 8 at n < 512, and ⌊log₂ n⌋
    (clamped to 16) above."""
    if band_planes == "auto":
        band_planes = lsh_band_planes_auto(df.count())
    elif not isinstance(band_planes, int):
        raise ValueError(
            f"band_planes must be an int or 'auto'; got {band_planes!r}"
        )

    v = _normed(df, id_col, vec_col)
    return (
        _verify(_band_candidates(v, n_bands, band_planes, dims), v)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("cosine") >= threshold).cast("long")).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster, then near-dup within clusters)
# ---------------------------------------------------------------------------


def _kmeans_assigned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids_mod: int,
    train_iters: int,
    max_clusters: int | None,
) -> DataFrame:
    """Deterministic k-means clustering of a quantized embedding corpus
    (``similarity._ivf_train``: capped mod-rule seeds, ``train_iters``
    exact integer-mean refinements, max-cosine assignment). Returns the
    persisted assignment [nid, cv, centroid_id, cn] — the shared blocking
    structure behind ``semantic_dedup`` and the low-threshold regime of
    ``embedding_neardup_pairs_lsh``, hash-persisted on nid for the
    self-joins that follow."""
    c = tracked_persist(_corpus(df, id_col, vec_col))
    _, assigned = _ivf_train(c, _seed_filter(n_centroids_mod, max_clusters), train_iters)
    return _reusable(_with_norm(assigned), None, "nid")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_centroids_mod: int = 50,
    train_iters: int = 1,
    max_clusters: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then find cosine
    near-duplicates ONLY within each cluster — the clustering turns the
    O(n²) all-pairs problem into k independent O((n/k)²) blocks.

    Output: one row per vector — [vec_id, cluster_id, is_semantic_dup,
    dup_of] where ``is_semantic_dup`` marks vectors with a lower-id
    in-cluster neighbor at cosine ≥ threshold and ``dup_of`` is the
    smallest such neighbor (the deterministic survivor; the paper keeps
    the member farthest from the centroid — min-id is the same dedup with
    a reproducible, oracle-expressible representative choice).

    Determinism: centroids come from ``kmeans_refine_exact`` (deterministic
    seeds ``id % mod == 1``, exact integer-mean updates), assignment and
    pair cosines are exact-int arithmetic — a SQL oracle replays the whole
    pipeline bit-for-bit.

    Scale: training + assignment are the IVF shapes (broadcast centroids,
    map-side-combined updates). The within-cluster self-join is the
    SemDeDup trade: per-task work is bounded by the largest cluster
    (n/k on average — k grows with the corpus so block size stays flat);
    a skewed mega-cluster is split by AQE skew-join on the equi-key.

    ``max_clusters`` caps the seed set to its first L qualifying ids (the
    ``ann_topk_ivf``/``ann_topk_pq`` constant-size discipline): with the
    mod-only rule, k = N/mod keeps blocks flat but the centroid broadcast
    grows with N and training cost N·k grows quadratically. A capped k
    trades bigger blocks (n/L per cluster) for bounded training — at
    100 TB the production shape is the two-level router
    (``semantic_dedup_two_level``).
    """
    assigned = _kmeans_assigned(
        df, id_col, vec_col, n_centroids_mod, train_iters, max_clusters
    )
    return _dup_flags(assigned, ("centroid_id",), threshold).select(
        F.col("nid").alias(id_col),
        F.col("centroid_id").alias("cluster_id"),
        F.col("dup_of").isNotNull().alias("is_semantic_dup"),
        "dup_of",
    )


def fingerprint_index(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """The persisted dedup index for incremental ingestion: the DISTINCT
    128-bit fingerprints of everything already in the corpus. 16 bytes per
    unique document — at 100 TB this is the table you keep (bucketed on
    ``_fp1`` so the nightly anti-join is shuffle-free on the index side),
    never the text."""
    return df.select(*fingerprint_cols(key_cols)).distinct()


def incremental_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW ingestion batch against the accumulated corpus without
    rescanning the corpus: collapse the batch to min-id-per-fingerprint
    (within-batch exact dedup, map-side combined), then LEFT ANTI probe the
    fingerprint index. Appending the survivors' fingerprints to the index
    keeps the invariant for the next batch. The anti-join shuffles 16-byte
    keys on both sides; batch ≪ corpus means the batch side usually
    broadcasts under AQE."""
    batch = (
        new_df.select(F.col(id_col), *fingerprint_cols(key_cols))
        .groupBy("_fp1", "_fp2")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )
    return batch.join(index_df, ["_fp1", "_fp2"], "left_anti").select(
        id_col, "n_copies"
    )


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    super_mod: int = 100,
    max_super: int | None = 8,
    sub_mod: int = 25,
    max_sub_per_super: int = 5,
    train_iters: int = 1,
) -> DataFrame:
    """The 100 TB SemDeDup shape promised by ``semantic_dedup``'s
    docstring, made real: a SUPER k-means routes the corpus into coarse
    shards, then an independent per-super sub-k-means refines each shard,
    and near-dup pairs are found only within (super, sub) blocks — two
    levels of blocking, so block size is n/(k₁·k₂) with BOTH trained
    structures capped constants (max_super supers; ≤ max_sub_per_super
    sub-centroids per super, taken as each super's first qualifying ids
    by row_number).

    Everything stays in the engine's deterministic k-means algebra
    (mod-seeds, max-cosine assignment with min-id tie-break,
    floor-of-mean integer updates): the sub level is the same trainer
    with ``by=("super_id",)``, so a vector competes only for the
    centroids of its own super. The full two-level pipeline — training
    included — is replayed bit-for-bit by the SQL oracle.

    Output: [id, super_id, sub_id, is_semantic_dup, dup_of]."""
    c = tracked_persist(_corpus(df, id_col, vec_col))
    scents = _kmeans(c, _seed_filter(super_mod, max_super), train_iters)
    sup = tracked_persist(
        ivf_assign(c, scents, "nid", "cv").withColumnRenamed("centroid_id", "super_id")
    )
    w = Window.partitionBy("super_id").orderBy("nid")
    sub_seeds = (
        sup.where(_seed_filter(sub_mod, None))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_sub_per_super)
        .select("super_id", F.col("nid").alias("centroid_id"), "cv")
    )
    by = ("super_id",)
    cents = kmeans_refine_exact(sup, sub_seeds, train_iters, "nid", "cv", by)
    asg = _with_norm(ivf_assign(sup, cents, "nid", "cv", by))
    return _dup_flags(asg, ("super_id", "centroid_id"), threshold).select(
        F.col("nid").alias(id_col),
        "super_id",
        F.col("centroid_id").alias("sub_id"),
        F.col("dup_of").isNotNull().alias("is_semantic_dup"),
        "dup_of",
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_num: int = 4,
    tau_den: int = 5,
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT token-set Jaccard join at threshold τ = tau_num/tau_den via
    prefix filtering (PPJoin family — Chaudhuri et al. ICDE 2006,
    Xiao et al. WWW 2008): the zero-false-negative counterpart to
    MinHash-LSH. Two sets with J(a,b) ≥ τ MUST share an element within
    each set's first ``|s| − ⌈τ·|s|⌉ + 1`` elements once both are ordered
    by a global ranking — so candidates come from inverted lists over
    PREFIX elements only.

    Why this scales where the plain inverted index doesn't
    (``ngram_jaccard_pairs`` blocks on ALL shingles): ordering elements
    rarest-document-frequency-first pushes every corpus-hot element OUT
    of the prefixes — the giant inverted lists ('the', boilerplate
    markup) are never joined, and the lists that are joined are the
    rare-element ones, short by construction. The τ-length filter
    (tau_num·|a| ≤ tau_den·|b| and vice versa) prunes cross-size pairs
    before the verify. Verification is exact set intersection on the
    candidate pairs only, with the τ test as integer cross-
    multiplication — no float thresholds.

    ``shingle_n``: when set, the compared sets are distinct n-word
    SHINGLES instead of raw tokens — the right granularity for document
    dedup (a unigram vocabulary is tiny and near-universally shared, so
    token-set Jaccard saturates; shingle sets are diverse and τ-pairs
    are genuine near-copies). Grams are built with posexplode + lead()
    windows and carried as 128-bit fingerprints (two seeded xxhash64)
    — the SCALE.md n-gram rule: the higher-order slice/concat transform
    does O(len·n) char copying per gram and re-inlines the tokenizer,
    measured 5× slower; fingerprints also shrink every shuffle/intersect
    element to 16 bytes. Fingerprint identity is the repo's standard
    128-bit discipline (collision-safe to ~10¹⁰ distinct grams).

    Output: [id_a, id_b, inter, uni, jaccard] for all pairs with
    J ≥ τ (id_a < id_b), jaccard as one exact int/int division."""
    base0 = df.where(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    if shingle_n is not None:
        n = shingle_n
        tokrows = base0.select(
            "_id", F.posexplode(F.split("_txt", " ")).alias("_pos", "_w")
        )
        w = Window.partitionBy("_id").orderBy("_pos")
        parts = [F.col("_w")] + [
            F.lead("_w", j).over(w) for j in range(1, n)
        ]
        gram = F.concat_ws(" ", *parts)
        grams = tokrows.select(
            "_id",
            gram.alias("_g"),
            F.lead("_w", n - 1).over(w).isNotNull().alias("_full"),
        ).where(F.col("_full"))
        tokh = grams.select(
            "_id",
            F.struct(
                F.xxhash64("_g").alias("h1"),
                F.xxhash64("_g", F.lit(1)).alias("h2"),
            ).alias("_t"),
        ).distinct()
    else:
        toks = F.array_distinct(
            F.filter(F.split("_txt", " "), lambda x: x != F.lit(""))
        )
        tokh = base0.select(
            "_id", F.explode(toks).alias("_t")
        )  # array_distinct upstream ⇒ rows already distinct per doc
    # tokh feeds two branches (dfreq + the ranking join) and ordered
    # feeds three (prefix, both verify sides): per-consumer column
    # pruning defeats exchange reuse here (the _reusable finding), so
    # persist both — 16-byte fingerprints and per-doc arrays, tiny state
    tokh = tracked_persist(tokh)
    dfreq = tokh.groupBy("_t").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    # ONE groupBy builds both the global-ranked element list (prefix
    # source) and the verify set (same array — intersect ignores order)
    ordered = (
        tokh.join(dfreq, "_t")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_t")))
            ).alias("_os")
        )
        .select(
            "_id",
            F.size("_os").cast("long").alias("_n"),
            F.transform(F.col("_os"), lambda x: x["_t"]).alias("_ot"),
        )
        .where(F.col("_n") > 0)
    )
    ordered = tracked_persist(ordered)
    # prefix length p = n − ceil(τ·n) + 1, ceil via (τn + τden−1) div τden
    p = (
        F.col("_n")
        - F.expr(f"({tau_num} * _n + {tau_den - 1}) div {tau_den}")
        + F.lit(1)
    ).cast("int")
    prefix = ordered.select(
        "_id", "_n", F.explode(F.slice("_ot", 1, p)).alias("_t")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._id") < F.col("b._id"))
            # τ-length filter: sizes of a τ-similar pair differ ≤ 1/τ×
            & (F.col("a._n") * tau_num <= F.col("b._n") * tau_den)
            & (F.col("b._n") * tau_num <= F.col("a._n") * tau_den),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # Verify by inverted-index count, NOT array_intersect (round 12,
    # guide §1.2 per-task work): ArrayIntersect over STRUCT elements has
    # no codegen/hash specialization — it runs the generic interpreted
    # O(|a|·|b|) ordering.equiv scan, profiled at sf0.1 as ONE fused
    # stage of 37-47 s task CPU for 43k candidate pairs × ~52-element
    # sets (the whole steady-state cost of this row, 5.1 s wall at 8
    # cores). Counting the intersection through the exploded gram rows
    # keeps every operator codegen'd: candidates join their a-side gram
    # rows (|cand|·|a| rows), hash-join the b-side (element, id) rows,
    # and a map-side-combined count yields the identical exact integer —
    # both sets are DISTINCT by construction, so |common rows| =
    # |intersection|. Every candidate shares a prefix element, so no
    # inter = 0 group is lost (and a lost one would fail τ anyway). Same
    # verify shape PPJoin implementations use at scale; sizes come from
    # the persisted ordered frame as before.
    tok_a = tokh.select(F.col("_id").alias("id_a"), "_t")
    tok_b = tokh.select(F.col("_id").alias("id_b"), "_t")
    inter_cnt = (
        cand.join(tok_a, "id_a")
        .join(tok_b, ["id_b", "_t"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sz_a = ordered.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sz_b = ordered.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    verified = (
        inter_cnt.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("_na") + F.col("_nb") - F.col("inter")).alias("uni"),
        )
        .where(F.col("inter") * tau_den >= F.lit(tau_num) * F.col("uni"))
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "uni",
        (F.col("inter").cast("double") / F.col("uni").cast("double")).alias(
            "jaccard"
        ),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Character-level similarity join at edit distance <= 1 via FastSS
    deletion-neighborhood blocking — the character twin of
    ``prefix_filtered_jaccard_pairs`` (token sets).

    Every string blocks on its single-deletion variants plus itself: two
    strings within one edit (insert / delete / substitute) necessarily
    share a variant (a substitution at position i makes both i-deletions
    equal; an insert/delete makes one string a deletion of the other), so
    candidate generation is an equi-join on variant strings — NEVER
    all-pairs — followed by an exact ``levenshtein`` verify that discards
    the false positives blocking admits. Generalizes the reference's
    exact-key station matching (bicis/etl/parse_raw.py name keys) to
    typo-tolerant matching.

    Scale shape: a string of length L emits L+1 variants (map-side
    explode); candidate fan-out per variant group is bounded by how many
    strings share a deletion (~alphabet size for substitution groups),
    so the shuffle carries O(N·L) variant rows and the verify runs on
    candidate pairs only. Output: [id_a, id_b, dist] with id_a < id_b.
    """
    base = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_t")
    ).where(F.col("_t").isNotNull() & (F.length("_t") >= 1))
    variants = base.select(
        "_id",
        "_t",
        F.explode(
            F.concat(
                F.array(F.col("_t")),
                F.expr(
                    "transform(sequence(1, length(_t)), i -> "
                    "concat(substring(_t, 1, i-1), "
                    "substring(_t, i+1, length(_t))))"
                ),
            )
        ).alias("_v"),
    ).distinct()
    # ^ deleting any character of a repeated run yields the SAME variant
    # (digit-heavy keys emit each run variant once per run char); the
    # distinct collapses those before the join, shrinking both the join
    # input and every variant group's pair fan-out
    a = variants.select(
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta"), "_v"
    )
    b = variants.select(
        F.col("_id").alias("id_b"), F.col("_t").alias("_tb"), "_v"
    )
    cand = (
        a.join(b, on="_v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ta", "_tb")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("_ta"), F.col("_tb")).cast("long")
        )
        .where(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )
