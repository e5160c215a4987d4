"""Round-9 regression guards for the r8 verdict/advice fixes:

* ``fit_poisson_irls_step`` NULL x/y input guard (verdict #4 — previously
  a NULL y crashed the driver-side sorted() and a NULL x silently skewed
  the sufficient statistics),
* ``decode_codec_features`` length-safe MPEG magic dispatch (advice —
  a 0/1-byte payload starting 0xFF raised IndexError past strict=False),
* ``_orient_by_degree`` broadcast_degrees string validation (advice — any
  non-"auto" string silently forced an unconditional broadcast).
"""

from __future__ import annotations

import pytest


def test_irls_fit_drops_null_xy_rows(spark):
    """A frame with NULL x and NULL y rows fits identically to the same
    frame with those rows removed — previously the NULL y crashed
    sorted(None, int) on the driver and the NULL x skewed B/C/E."""
    from bicis_spark.operators.model import fit_poisson_irls_step

    clean = [((i * 7) % 12, (i * i) % 9) for i in range(1, 101)]
    dirty = clean + [(None, 5), (3, None), (None, None)]
    pts_clean = spark.createDataFrame(clean, "x long, y long")
    pts_dirty = spark.createDataFrame(dirty, "x long, y long")
    got_clean = sorted(
        tuple(r) for r in fit_poisson_irls_step(pts_clean, "x", "y").collect()
    )
    got_dirty = sorted(
        tuple(r) for r in fit_poisson_irls_step(pts_dirty, "x", "y").collect()
    )
    assert got_clean == got_dirty
    assert len(got_clean) == len({x for x, _ in clean})


def test_codec_features_tiny_ff_payloads_are_lenient(spark):
    """0-, 1-, and 2-byte payloads whose first byte is 0xFF must fall
    through to NULL-feature rows in lenient mode (not IndexError past the
    except tuple) and raise only under strict=True."""
    from bicis_spark.extensions.multimodal import decode_codec_features

    rows = [
        (1, "audio/mpeg", bytearray(b""), 0),
        (2, "audio/mpeg", bytearray(b"\xff"), 1),
        (3, "audio/mpeg", bytearray(b"\xff\xf0"), 2),
        (4, "audio/mpeg", bytearray(b"\xff\xd8"), 2),  # JPEG SOI, truncated
    ]
    binary = spark.createDataFrame(
        rows, "doc_id long, media_type string, content binary, n_bytes long"
    )
    feats = {r["doc_id"]: r for r in decode_codec_features(binary).collect()}
    assert set(feats) == {1, 2, 3, 4}
    for doc_id in (1, 2, 3, 4):
        assert feats[doc_id]["sample_rate"] is None
        assert feats[doc_id]["width"] is None
    with pytest.raises(Exception, match="ValueError|unknown|magic|truncat"):
        decode_codec_features(binary, strict=True).collect()


def test_embedding_lsh_regime_gate(spark, sf_dir):
    """The r9 regime gate is a PLAN choice at each operating point:
    auto at τ = 0.45 must equal the forced kmeans rows, auto at τ = 0.9
    the forced banded rows, and a typo regime raises instead of silently
    picking a scale-inappropriate plan."""
    from bicis_spark.extensions.dedup import embedding_neardup_pairs_lsh
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")

    def rows(**kw):
        return sorted(
            tuple(r)
            for r in embedding_neardup_pairs_lsh(
                emb, "vec_id", "embedding", **kw
            ).collect()
        )

    lo_auto = rows(threshold=0.45, kmeans_max_clusters=40)
    lo_kmeans = rows(threshold=0.45, regime="kmeans", kmeans_max_clusters=40)
    assert lo_auto == lo_kmeans and len(lo_auto) > 0

    hi_auto = rows(threshold=0.9, n_bands=4, band_planes=2)
    hi_banded = rows(
        threshold=0.9, n_bands=4, band_planes=2, regime="banded"
    )
    assert hi_auto == hi_banded  # both empty on this corpus, same plan

    with pytest.raises(ValueError, match="regime"):
        embedding_neardup_pairs_lsh(emb, regime="Banded")


def test_embedding_lsh_band_profile_consistency(spark, sf_dir):
    """Band profile invariants: bands within range, candidate counts
    positive, verified ≤ candidates — and at a threshold below every
    cosine (−1.1) EVERY candidate verifies, pinning that n_dups counts
    the same pair set n_candidates does."""
    from bicis_spark.extensions.dedup import embedding_lsh_band_profile
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    prof = {
        r["band"]: r
        for r in embedding_lsh_band_profile(
            emb, "vec_id", "embedding", threshold=0.9, n_bands=4, band_planes=8
        ).collect()
    }
    assert prof and set(prof) <= set(range(4))
    for r in prof.values():
        assert 0 < r["n_candidates"] and 0 <= r["n_dups"] <= r["n_candidates"]

    all_pass = embedding_lsh_band_profile(
        emb, "vec_id", "embedding", threshold=-1.1, n_bands=4, band_planes=8
    ).collect()
    assert all(r["n_dups"] == r["n_candidates"] for r in all_pass)


def test_exact_substring_spans_unaligned_maximal(spark):
    """Lee-et-al-style exact-substring spans: a duplicated paragraph
    SHIFTED by two tokens still matches in full (unlike fixed-window
    span dedup); disjoint duplicated runs yield separate islands; docs
    without a long-enough run yield nothing."""
    from bicis_spark.extensions.curation import exact_substring_spans

    para = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            (1, para + " tail1 tail2"),
            (2, "pre1 pre2 " + para + " other words here"),
            (3, "completely unrelated text with no repeats at all whatsoever"),
            # two disjoint duplicated runs inside one doc
            (4, para + " unique1 unique2 unique3 unique4 unique5 " + para),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_spans(docs, "text", "doc_id", k=5, min_span_tokens=10)
    rows = {(r["doc_id"], r["start_tok"]): r for r in out.collect()}
    n_para = len(para.split())
    # doc 1: the paragraph starts at 0 and matches in full
    assert rows[(1, 0)]["n_span_tokens"] == n_para
    assert rows[(1, 0)]["span_text"] == para
    # doc 2: shifted by two tokens — still the full paragraph
    assert rows[(2, 2)]["span_text"] == para
    # doc 3: nothing
    assert not any(d == 3 for d, _ in rows)
    # doc 4: both copies found as separate spans (plus nothing merged
    # across the unique separator)
    d4 = sorted(s for d, s in rows if d == 4)
    assert d4 == [0, n_para + 5]
    assert all(rows[(4, s)]["span_text"] == para for s in d4)


def test_ivfpq_with_full_probes_equals_flat_pq(spark, sf_dir):
    """ann_topk_ivfpq with n_probe >= n_lists scans every list, so it
    must reproduce ann_topk_pq exactly at the same PQ constants — the
    routing stage is pure candidate pruning, never a scoring change.
    Also pins output invariants (ranks 1..k, no self-matches)."""
    import pyspark.sql.functions as F

    from bicis_spark.extensions.similarity import ann_topk_ivfpq, ann_topk_pq
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    kw = dict(
        k=5, n_subspaces=16, sub_dims=4, seed_mod=4, rerank=40, max_codes=256
    )
    flat = sorted(
        tuple(r)
        for r in ann_topk_pq(emb, queries, train_iters=1, **kw).collect()
    )
    # sf0.001: 500 vectors / mod 50 = 10 lists; probing 10 covers them all
    routed_rows = ann_topk_ivfpq(
        emb, queries, n_centroids_mod=50, n_probe=10, max_lists=40,
        ivf_train_iters=1, pq_train_iters=1, **kw
    ).collect()
    routed = sorted(tuple(r) for r in routed_rows)
    assert routed == flat and len(routed) > 0
    by_q: dict[int, list[int]] = {}
    for r in routed_rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def _kcore_reference(edge_rows, k, rounds):
    """Fixed-round peel in plain Python: normalized undirected edges,
    each round drops every edge touching a vertex of degree < k."""
    from collections import Counter

    edges = {(min(a, b), max(a, b)) for a, b in edge_rows if a != b}
    for _ in range(rounds):
        deg = Counter(v for e in edges for v in e)
        edges = {(a, b) for a, b in edges if deg[a] >= k and deg[b] >= k}
    deg = Counter(v for e in edges for v in e)
    return sorted((v, d) for v, d in deg.items() if d >= k)


def test_kcore_peel_matches_reference_and_rejects_k0(spark):
    """kcore_peel equals a plain-Python fixed-round peel on graphs that
    exercise multi-round cascades (a K4 with a tail that peels over two
    rounds) and total collapse (a 6-cycle at k=3); k=0 raises."""
    from bicis_spark.operators.graph import kcore_peel

    k4_tail = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
               (4, 10), (10, 11), (11, 12)]
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    for edges_rows, k in ((k4_tail, 3), (cyc, 3), (k4_tail, 2)):
        edges = spark.createDataFrame(edges_rows, "src long, dst long")
        got = sorted(
            tuple(r)
            for r in kcore_peel(edges, "src", "dst", k=k, rounds=4).collect()
        )
        assert got == _kcore_reference(edges_rows, k, 4), (edges_rows, k)

    edges = spark.createDataFrame(k4_tail, "src long, dst long")
    with pytest.raises(ValueError, match="k >= 1"):
        kcore_peel(edges, "src", "dst", k=0)


def test_orient_broadcast_degrees_rejects_typo_strings(spark):
    """broadcast_degrees='Auto' (or any non-'auto' string) must raise
    ValueError instead of silently forcing the scale-unsafe unconditional
    broadcast the count gate exists to prevent."""
    from bicis_spark.operators.graph import local_clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    for bad in ("Auto", "AUTO", "always", ""):
        with pytest.raises(ValueError, match="broadcast_degrees"):
            local_clustering_coefficient(
                edges, "src", "dst", broadcast_degrees=bad
            ).collect()
