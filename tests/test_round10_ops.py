"""Round-10 regression guards.

* Fixed-size ANN query batch (r9 verdict #1): the `_ann_queries` rule is
  bit-identical to the old mod-only rule at bench SFs and FIXED-SIZE past
  the cap.
* Live-boundary seed caps (r9 verdict #7): the `<= mod·(L−1)+1` form
  selects the identical seed set as the old `< mod·L`, and the boundary
  id is itself a seed (so a </<= mutation dies by data).
* √N IVF-PQ sizing (r9 verdict #2): `synth_clustered_embeddings` is the
  documented integer mixture (cluster separation), `n_lists`/`n_probe`
  sizing matches the oracle's SQL scalars, and the probe-curve operator
  is monotone with recall ≥ 0.8 at the declared point.
* Banded-LSH auto-r (r9 verdict #6): `lsh_band_planes_auto` clamps
  ⌊log₂ n⌋ to [8, 16] and the auto profile equals the fixed profile at
  n < 512.
* GIF deferred-clear LZW (advice): the decode table freezes at 4096
  entries.
* kcore_peel(rounds=0): peels nothing and returns the full degrees.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Fixed-size ANN query batch
# ---------------------------------------------------------------------------


def test_ann_query_batch_is_fixed_size(spark):
    from bicis_spark.plans.extension_queries import _ANN_Q_CAP, _ann_queries

    ids = spark.range(0, 60_000).select(F.col("id").alias("vec_id"))
    got = _ann_queries(ids).count()
    # the batch stops growing with the corpus: 20 queries at any N >= 2000
    assert got == _ANN_Q_CAP // 100
    small = spark.range(0, 500).select(F.col("id").alias("vec_id"))
    # under the cap the rule is the old mod-only rule (bit-identical at
    # sf0.01/sf0.1 — the hash-stability guarantee)
    assert _ann_queries(small).count() == 5


def test_seed_cap_boundary_is_live(spark):
    """The IVF coarse seed cap selects the same 40 ids as the old
    `< 50·40` form AND includes the boundary id 1951 itself — flipping
    <= to < must now change the seed set at N >= 1952."""
    from bicis_spark.extensions.similarity import _ivfpq_build

    n = 2000
    ids = spark.range(0, n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    c, cents, cb, codes = _ivfpq_build(
        ids, n_centroids_mod=50, max_lists=40, ivf_train_iters=0,
        n_subspaces=2, sub_dims=2, seed_mod=4, pq_train_iters=0,
        max_codes=256, id_col="vec_id", vec_col="embedding",
    )
    seed_ids = sorted(r["centroid_id"] for r in cents.select("centroid_id").collect())
    assert seed_ids == list(range(1, 1952, 50))  # 40 seeds, 1951 included
    assert len(seed_ids) == 40 and seed_ids[-1] == 1951


# ---------------------------------------------------------------------------
# √N IVF-PQ on the clustered corpus
# ---------------------------------------------------------------------------


def test_synth_clustered_embeddings_separation(spark):
    from bicis_spark.extensions.similarity import (
        cosine_sim,
        quantize,
        synth_clustered_embeddings,
    )

    ids = spark.range(0, 128).select(F.col("id").alias("vec_id"))
    emb = synth_clustered_embeddings(ids, "vec_id", n_clusters=32, dims=64)
    q = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    pairs = (
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            (F.col("a.vec_id") % 32 == F.col("b.vec_id") % 32).alias("same"),
            cosine_sim(F.col("a.qv"), F.col("b.qv")).alias("cos"),
        )
        .groupBy("same")
        .agg(F.avg("cos").alias("c"))
        .collect()
    )
    by = {r["same"]: r["c"] for r in pairs}
    assert by[True] > 0.55  # in-cluster ~0.67
    assert abs(by[False]) < 0.15  # cross-cluster ~0
    # components are integers in [-5, 5] (base [-3,3] + noise [-2,2]):
    # exact under quantization by construction
    mx = emb.select(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert mx <= 5.0


def test_sqrt_sizing_matches_oracle_scalars(spark):
    """Python isqrt sizing == the DuckDB floor(sqrt(double)) scalar for
    every corpus size the probes use (and a dense sweep around squares)."""
    import duckdb

    from bicis_spark.plans.extension_queries import _SQRT_PROBE_DIV

    for n in [1, 2, 3, 500, 2000, 6000, 20000, 60000] + [
        k * k + d for k in (22, 44, 141, 244) for d in (-1, 0, 1)
    ]:
        if n < 1:
            continue
        py_l = max(1, math.isqrt(n))
        sql_l = duckdb.sql(
            f"SELECT greatest(1, CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT))"
        ).fetchone()[0]
        assert py_l == sql_l, (n, py_l, sql_l)
        py_p = max(1, py_l // _SQRT_PROBE_DIV)
        sql_p = duckdb.sql(
            f"SELECT greatest(1, CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) // {_SQRT_PROBE_DIV})"
        ).fetchone()[0]
        assert py_p == sql_p, (n, py_p, sql_p)


def test_ivfpq_probe_curve_monotone_and_accurate(spark, sf_dir):
    from bicis_spark.plans.extension_queries import ann_ivfpq_probe_curve_q

    rows = {
        r["probe_lists"]: r["avg_recall"]
        for r in ann_ivfpq_probe_curve_q(spark, sf_dir).collect()
    }
    probes = sorted(rows)
    # recall does not decrease with more probed lists
    vals = [rows[p] for p in probes]
    assert vals == sorted(vals)
    # the declared operating point (middle divisor = _SQRT_PROBE_DIV)
    # clears the r9 verdict's bar
    assert vals[len(vals) // 2] >= 0.8


def test_ivfpq_n_lists_equals_full_probe_flat(spark, sf_dir):
    """n_lists=1 with probe=1 scans everything — must equal brute force
    restricted to the PQ-rerank contract (top-40 rerank covers top-5)."""
    from bicis_spark.extensions.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivfpq,
        synth_clustered_embeddings,
    )
    from bicis_spark.sources.io import read_table

    ids = read_table(spark, sf_dir, "embeddings").select("vec_id").limit(300)
    emb = synth_clustered_embeddings(ids)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = ann_topk_bruteforce(emb, queries, k=5)
    one_list = ann_topk_ivfpq(
        emb, queries, k=5, n_lists=1, n_probe=1, ivf_train_iters=1,
        rerank=60, max_codes=64, seed_mod=4,
    )
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in one_list.collect()}
    hits = sum(1 for kk in e if a.get(kk) == e[kk])
    # single-list IVF-PQ with a deep exact re-rank recovers nearly all of
    # the exact top-5 (compression noise only affects shortlist selection)
    assert hits >= int(0.8 * len(e))


# ---------------------------------------------------------------------------
# Banded-LSH auto r
# ---------------------------------------------------------------------------


def test_lsh_band_planes_auto_clamp():
    from bicis_spark.extensions.dedup import lsh_band_planes_auto

    assert lsh_band_planes_auto(0) == 8
    assert lsh_band_planes_auto(500) == 8     # sf0.01 — equal to legacy
    assert lsh_band_planes_auto(511) == 8
    assert lsh_band_planes_auto(512) == 9
    assert lsh_band_planes_auto(2000) == 10   # sf0.1
    assert lsh_band_planes_auto(20000) == 14  # sf1
    assert lsh_band_planes_auto(60000) == 15  # sf3
    assert lsh_band_planes_auto(10**9) == 16  # clamp


def test_band_profile_auto_equals_fixed_under_512(spark, sf_dir):
    from bicis_spark.extensions.dedup import embedding_lsh_band_profile
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(400)
    fixed = embedding_lsh_band_profile(emb, band_planes=8)
    auto = embedding_lsh_band_profile(emb, band_planes="auto")
    assert sorted(map(tuple, fixed.collect())) == sorted(map(tuple, auto.collect()))
    with pytest.raises(ValueError):
        embedding_lsh_band_profile(emb, band_planes="maximal")


# ---------------------------------------------------------------------------
# Advice fixes
# ---------------------------------------------------------------------------


def _lzw_encode_deferred_clear(indices: list[int], min_code_size: int) -> bytes:
    """Reference deferred-clear LZW encoder (GIF89a appendix F variant
    real writers use): once the dictionary hits 4096 entries it FREEZES —
    no clear code, 12-bit codes from the frozen table to the end."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w: tuple[int, ...] = ()
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        w = (k,)
    if w:
        emit(table[w], width)
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out), next_code


def test_gif_lzw_decodes_deferred_clear_streams():
    """A stream whose encoder froze its dictionary at 4096 (deferred
    clear — never emitted) must round-trip: the decoder freezes its table
    at the same point instead of growing past the 12-bit code space."""
    from bicis_spark.extensions.gif import lzw_decode

    pixels = [((i * 31 + (i * i) // 7) ^ (i >> 3)) % 16 for i in range(30_000)]
    data, next_code = _lzw_encode_deferred_clear(pixels, 4)
    assert next_code >= 4096, "test stream must actually saturate the table"
    got = lzw_decode(data, 4, len(pixels))
    assert got == pixels


def test_kcore_rounds_zero(spark):
    """rounds=0 peels nothing: every vertex of degree >= k in the
    normalized (deduped, loop-free) edge set, with its full degree."""
    from collections import Counter

    from bicis_spark.operators.graph import kcore_peel

    rows = [(i, (i * 3 + 1) % 40) for i in range(120)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = kcore_peel(edges, "src", "dst", k=2, rounds=0)
    norm = {(min(a, b), max(a, b)) for a, b in rows if a != b}
    deg = Counter(v for e in norm for v in e)
    want = sorted((v, d) for v, d in deg.items() if d >= 2)
    assert sorted(map(tuple, got.collect())) == want


# ---------------------------------------------------------------------------
# int8 scalar-quantized ANN (round-10 late addition)
# ---------------------------------------------------------------------------


def test_sq8_encode_bounds_and_scale(spark):
    """Codes are clamped int8 range; the per-dimension max maps to ±127
    exactly (symmetric scales); a zero dimension yields zero codes."""
    from bicis_spark.extensions.similarity import quantize, sq8_encode, sq8_scales

    rows = [
        (1, [1.0, -2.0, 0.0, 0.5]),
        (2, [-4.0, 1.0, 0.0, -0.25]),
        (3, [2.0, 4.0, 0.0, 0.125]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = df.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    scales = sq8_scales(c, "qv", 4)
    c8 = {
        r["vec_id"]: r["c8"]
        for r in c.crossJoin(F.broadcast(scales))
        .select("vec_id", sq8_encode(F.col("qv"), F.col("sl")).alias("c8"))
        .collect()
    }
    for codes in c8.values():
        assert all(-127 <= v <= 127 for v in codes)
    # dim 0: max |x| = 4 (vec 2, negative) -> code -127 there
    assert c8[2][0] == -127
    # dim 1: max |x| = 4 at vec 3 -> +127
    assert c8[3][1] == 127
    # identically-zero dimension -> scale 0 -> all codes 0
    assert all(c8[v][2] == 0 for v in c8)


def test_sq8_topk_matches_bruteforce_with_rerank(spark, sf_dir):
    """With a rerank deep enough, the int8 path returns the exact top-k
    (the compression only affects shortlist selection)."""
    from bicis_spark.extensions.similarity import ann_topk_bruteforce, ann_topk_sq8
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(200)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = ann_topk_bruteforce(emb, queries, k=5)
    sq8 = ann_topk_sq8(emb, queries, k=5, rerank=40)
    e = sorted(map(tuple, exact.select("query_id", "rank", "neighbor_id").collect()))
    a = sorted(map(tuple, sq8.select("query_id", "rank", "neighbor_id").collect()))
    hits = sum(1 for x, y in zip(e, a) if x == y)
    assert hits >= int(0.9 * len(e))
