"""Unit tests for dedup / similarity / text / multimodal operators on
crafted fixtures (behavioral contracts beyond the oracle queries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bicis_spark.extensions.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from bicis_spark.extensions.multimodal import decode_media, frame_sample, to_binary_table
from bicis_spark.extensions.similarity import ann_topk_bruteforce, ann_topk_lsh
from bicis_spark.extensions.text import char_fingerprint, FP_MOD

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 0
    (2, "completely different words about spark query engines and windows"),
    (3, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 0
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark, docs_df):
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(docs_df, ["text"]).collect()}
    assert out == {0: 2, 1: 1, 2: 1}  # winner = min id; 3 deduped into 0


def test_ngram_jaccard_finds_neardup(spark, docs_df):
    pairs = ngram_jaccard_pairs(docs_df, threshold=0.4, parallelism=2).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in got and 0.4 <= got[(0, 1)] < 1.0
    assert all(2 not in p for p in got)


def test_minhash_lsh_finds_exact_dup(spark, docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in minhash_lsh_pairs(
        docs_df, threshold=0.4, parallelism=2
    ).collect()}
    # identical docs have identical signatures -> must collide in every band
    assert pairs[(0, 3)] == 1.0
    assert all(2 not in p for p in pairs)


def test_simhash_identical_docs_distance_zero(spark, docs_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_pairs(
        docs_df, max_hamming=2, parallelism=2
    ).collect()}
    assert pairs[(0, 3)] == 0


def test_embedding_neardup_and_topk(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (3, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in embedding_neardup_pairs(
        df, threshold=0.95
    ).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    # a pair whose cosine equals the threshold is a near-dup (>=, not >)
    at_tau = embedding_neardup_pairs(df, threshold=pairs[(0, 1)]).collect()
    assert (0, 1) in {(r["vec_a"], r["vec_b"]) for r in at_tau}

    topk = ann_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=2)
    rows = sorted(topk.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 3]  # ranked by cosine
    assert rows[0]["cosine"] > rows[1]["cosine"]


def test_ann_lsh_subset_of_bruteforce(spark, sf_dir):
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    brute = ann_topk_bruteforce(emb, queries, k=5).collect()
    lsh = ann_topk_lsh(emb, queries, k=5).collect()
    brute_pairs = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    # LSH cosine scores must agree exactly with brute force where both found
    # the pair (same quantized math); LSH finds a subset of all pairs
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_pairs:
            assert r["cosine"] == brute_pairs[key]


def test_char_fingerprint_reference_value(spark):
    df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    fp = df.select(char_fingerprint(F.col("text")).alias("fp")).first()["fp"]
    assert fp == ((0 * 31 + 97) * 31 + 98) * 31 + 99  # 96354, matches oracle
    assert fp < FP_MOD


def test_multimodal_decode_and_frames(spark, docs_df):
    binary = to_binary_table(docs_df)
    feats = {r["doc_id"]: r for r in decode_media(binary).collect()}
    assert feats[0]["n_bytes"] == len(DOCS[0][1])
    assert feats[0]["first_byte"] == ord("t")
    assert feats[0]["byte_sum_16"] == sum(DOCS[0][1].encode()[:16])

    frames = frame_sample(binary, every_n_bytes=10).collect()
    doc0 = sorted(
        [(r["frame_no"], r["frame_byte"]) for r in frames if r["doc_id"] == 0]
    )
    text0 = DOCS[0][1].encode()
    assert doc0 == [(i // 10, text0[i]) for i in range(0, len(text0), 10)]


def test_multimodal_null_payload_survives(spark):
    """A NULL payload (encode of NULL text) must yield NULL features in
    decode and zero frames in sampling — not a TypeError that aborts the
    whole Arrow batch."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, None)], "doc_id long, text string"
    )
    binary = to_binary_table(docs)
    feats = {r["doc_id"]: r for r in decode_media(binary).collect()}
    assert feats[1]["n_bytes"] == 3
    assert feats[2]["n_bytes"] is None
    assert feats[2]["first_byte"] is None
    assert feats[2]["byte_sum_16"] is None

    frames = frame_sample(binary, every_n_bytes=2).collect()
    assert {r["doc_id"] for r in frames} == {1}


def test_multimodal_strict_decode_raises(spark, docs_df):
    binary = to_binary_table(docs_df)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_media(binary, strict=True).collect()


def test_zero_norm_vector_never_ranks(spark):
    """A zero-norm embedding (all components quantize to 0) has undefined
    cosine: it must neither crash the job (ANSI /0) nor take rank 1 (NaN
    ranks above every real cosine with ANSI off). It gets a NULL cosine
    and sorts behind every real neighbor."""
    from bicis_spark.extensions.similarity import ann_topk_bruteforce

    rows = [
        (1, [1.0] * 64),
        (2, [0.9] * 64),
        (3, [1e-9] * 64),  # quantizes to all zeros -> zero norm
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann_topk_bruteforce(vecs, vecs.where("vec_id = 1"), k=2)
    got = [(r["rank"], r["neighbor_id"], r["cosine"]) for r in
           out.orderBy("rank").collect()]
    assert got[0][1] == 2 and got[0][2] is not None
    assert got[1] == (2, 3, None)  # zero-norm trails with NULL cosine


def test_ann_ivf_scores_match_bruteforce(spark, sf_dir):
    from bicis_spark.sources.io import read_table
    from bicis_spark.extensions.similarity import ann_topk_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in ann_topk_bruteforce(emb, queries, k=5).collect()
    }
    ivf = ann_topk_ivf(emb, queries, k=5).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:  # scores agree exactly where both found the pair
            assert r["cosine"] == brute[key]


def test_lsh_bucket_expr_path_equals_column_path(spark, sf_dir):
    """The F.expr fast-construction path must produce identical buckets to
    the Column-API form (same hyperplanes, same arithmetic)."""
    from pyspark.sql import functions as F

    from bicis_spark.extensions.similarity import lsh_bucket, quantize
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(200)
    q = emb.select(F.col("vec_id"), quantize("embedding").alias("qv"))
    both = q.select(
        "vec_id",
        lsh_bucket("qv", 8, 64).alias("fast"),
        lsh_bucket(F.col("qv"), 8, 64).alias("slow"),
    )
    assert both.where(F.col("fast") != F.col("slow")).count() == 0


def test_minhash_expr_path_equals_signature_fn(spark, sf_dir):
    """minhash_lsh_pairs' SQL-string signature must equal minhash_signature
    (the Column-API reference implementation) element-wise, in both hash
    modes."""
    from pyspark.sql import functions as F

    from bicis_spark.extensions.dedup import (
        MINHASH_P,
        _minhash_coeffs,
        minhash_signature,
        shingles,
    )
    from bicis_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents").limit(100)
    sh = docs.select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    ).where(F.size("sh") > 0)
    for hash_mode in ("xxhash64", "poly"):
        if hash_mode == "xxhash64":
            hs_sql = f"transform(sh, s -> pmod(xxhash64(s), {MINHASH_P}))"
        else:
            hs_sql = (
                f"transform(sh, s -> aggregate(regexp_extract_all(s, '(.)', 1), "
                f"0L, (acc, c) -> (acc * 31 + ascii(c)) % {MINHASH_P}))"
            )
        sig_sql = "array(" + ", ".join(
            f"array_min(transform(_hs, h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
            for a, b in _minhash_coeffs(32)
        ) + ")"
        both = (
            sh.withColumn("_hs", F.expr(hs_sql))
            .withColumn("fast", F.expr(sig_sql))
            .withColumn("slow", minhash_signature(F.col("sh"), 32, hash_mode))
        )
        assert both.where(F.col("fast") != F.col("slow")).count() == 0, hash_mode


def test_connected_components_min_label(spark):
    """Chain, clique, and isolated-pair components all labeled with their
    minimum id; convergence requires multi-hop propagation for the chain."""
    from bicis_spark.extensions.dedup import connected_components_min_label

    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_min_label(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_pointer_doubling_log_rounds(spark):
    """A 60-node chain must converge well inside 8 rounds — only possible
    with the pointer-doubling hop (plain neighbor-min needs 59)."""
    from bicis_spark.extensions.dedup import connected_components_min_label

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["doc_a", "doc_b"]
    )
    got = connected_components_min_label(pairs, max_iter=8).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 61


def test_char_entropy_known_values(spark):
    from bicis_spark.extensions.text import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaa"),        # one symbol: H = 0
            (2, "aabb"),        # two equiprobable: H = 1 bit
            (3, "abcd"),        # four equiprobable: H = 2 bits
            (4, "aab"),         # H = log2(3) - (2/3)  ~ 0.9183
            (5, None),          # dropped
            (6, ""),            # dropped
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["entropy_bits"] == 0.0 and got[1]["n_distinct_chars"] == 1
    assert got[2]["entropy_bits"] == 1.0
    assert got[3]["entropy_bits"] == 2.0
    # doc 4: quantized H = (floor(3*log2(3)*1e6) - floor(2*log2(2)*1e6)) / 3e6
    import math

    expect = (math.floor(3 * math.log2(3) * 1e6) - 2_000_000) / 3e6
    assert got[4]["entropy_q"] == math.floor(3 * math.log2(3) * 1e6) - 2_000_000
    assert got[4]["entropy_bits"] == expect
    # collision probs are exact rationals: aabb -> (2*1+2*1)/(4*3) = 1/3
    assert got[2]["collision_prob"] == 4 / 12
    assert got[1]["collision_prob"] == 1.0


def test_bpe_train_merges_and_greedy_overlap(spark):
    from bicis_spark.extensions.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "abab"), (2, "ab")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=2).collect()]
    # round 1: (a,b) appears 3x (beats (b,a) 1x); round 2: (ab,ab) once
    assert got == [(1, "a", "b", 3), (2, "ab", "ab", 1)]

    # greedy leftmost merge: "aaa" -> (aa, a), not (a, aa)
    tri = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train(tri, n_merges=2).collect()]
    assert got == [(1, "a", "a", 2), (2, "aa", "a", 1)]


def test_bpe_handles_newline_symbols(spark):
    """Newlines must be wrapped like every other symbol ((?s) DOTALL —
    a bare `.` skips them): otherwise pair counting sees (a, \\n) pairs
    that the literal-replace merge can never rewrite, burning every
    remaining round on the same no-op merge."""
    from bicis_spark.extensions.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [(1, "a\na\na")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=2).collect()]
    # round 1: ties (a,\n) 2x vs (\n,a) 2x -> binary order picks ("\n","a");
    # round 2 must APPLY round 1's merge, not re-learn it
    assert got[0] == (1, "\n", "a", 2)
    assert got[1][1:3] != ("\n", "a")

    enc = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(docs, [("\n", "a")]).collect()
    }
    assert enc[1] == ["a", "\na", "\na"]


def test_bpe_encode_applies_merges_in_order(spark):
    from bicis_spark.extensions.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(1, "abab"), (2, "aba")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(docs, [("a", "b"), ("ab", "ab")]).collect()
    }
    assert got[1] == ["abab"]
    assert got[2] == ["ab", "a"]


def test_bmp_wav_codec_roundtrip_pure():
    """The round-5 REAL codecs: encode→decode must invert exactly, and the
    decoder must come from header fields (magic, offsets, strides), not the
    generator's arithmetic."""
    from bicis_spark.extensions.multimodal import (
        decode_bmp,
        decode_wav,
        synth_bmp,
        synth_wav,
    )

    for d in (0, 1, 2, 13, 100, 501, 9999):
        got = decode_bmp(synth_bmp(d))
        w, h = 1 + d % 7, 1 + d % 5
        assert got == {
            "width": w,
            "height": h,
            "n_pixels": w * h,
            "pixel_sum": sum((d * 31 + i) % 256 for i in range(w * h * 3)),
        }
        got = decode_wav(synth_wav(d))
        n, rate = 16 + d % 32, 8000 + (d % 4) * 4000
        assert got == {
            "sample_rate": rate,
            "n_samples": n,
            "duration_us": n * 1_000_000 // rate,
            "sample_abs_sum": sum(
                abs(((d * 7919 + i * 104729) % 65536) - 32768) for i in range(n)
            ),
        }


def test_bmp_padding_is_stripped_not_summed():
    """Width 1 rows carry 1 byte of pixels + 1 byte of 0xAA padding per
    row-stride; a parser that sums the raw pixel area would be off by
    h * pad_bytes * 0xAA. doc_id=7 → w=1 (3 bytes/row, 1 pad byte)."""
    from bicis_spark.extensions.multimodal import decode_bmp, synth_bmp

    d = 7  # w=1+7%7=1, h=1+7%5=3 → stride 4, 1 pad byte per row
    payload = synth_bmp(d)
    assert payload.count(b"\xaa") >= 3  # poison present in the payload
    got = decode_bmp(payload)
    assert got["pixel_sum"] == sum((d * 31 + i) % 256 for i in range(1 * 3 * 3))


def test_wav_decoder_walks_chunks():
    """Insert an unknown RIFF chunk before 'data' — a fixed-offset parser
    would misread; the chunk walker must skip it (incl. odd-size 2-byte
    alignment)."""
    import struct

    from bicis_spark.extensions.multimodal import decode_wav, synth_wav

    base = synth_wav(3)
    # splice a 5-byte 'LIST' chunk (odd size → 1 alignment byte) after fmt
    fmt_end = 12 + 8 + 16
    extra = struct.pack("<4sI", b"LIST", 5) + b"junk!" + b"\x00"
    payload = base[:fmt_end] + extra + base[fmt_end:]
    # patch RIFF size
    payload = payload[:4] + struct.pack("<I", len(payload) - 8) + payload[8:]
    assert decode_wav(payload) == decode_wav(base)


def _malformed_headers():
    """(name, decoder, payload) triples: synthesized payloads with one
    header field patched so that, unchecked, it drives a decoder into a
    near-endless row loop (BMP height), a ZeroDivisionError (WAV channels
    and rate, JPEG sampling factor), a KeyError (JPEG scan component), a
    32 GiB plane allocation (JPEG frame size) or a Huffman table that
    silently drops the codes its values list lacks (JPEG DHT counts).
    The BMP height is 10^6 rather than 2^31 so an unchecked decoder fails
    the test in about a second instead of stalling it."""
    import struct

    from bicis_spark.extensions.jpeg import decode_jpeg, synth_jpeg
    from bicis_spark.extensions.multimodal import (
        decode_bmp,
        decode_wav,
        synth_bmp,
        synth_wav,
    )

    def patch(payload, off, fmt, *values):
        return payload[:off] + struct.pack(fmt, *values) + payload[off + struct.calcsize(fmt):]

    jpeg = synth_jpeg(3)
    sof, sos = jpeg.index(b"\xff\xc0"), jpeg.index(b"\xff\xda")
    dht = jpeg.index(b"\xff\xc4")
    return [
        ("bmp_height_1e6", decode_bmp, patch(synth_bmp(2), 22, "<i", 10**6)),
        ("wav_zero_channels", decode_wav, patch(synth_wav(3), 22, "<H", 0)),
        ("wav_zero_rate", decode_wav, patch(synth_wav(3), 24, "<I", 0)),
        ("jpeg_scan_component_not_in_frame", decode_jpeg, patch(jpeg, sos + 5, "B", 0xEE)),
        ("jpeg_zero_sampling_factor", decode_jpeg, patch(jpeg, sof + 11, "B", 0x01)),
        ("jpeg_frame_exceeds_data", decode_jpeg, patch(jpeg, sof + 5, ">HH", 65535, 65535)),
        # the DC table's count of 16-bit codes: 5 more codes than values
        ("jpeg_dht_counts_exceed_values", decode_jpeg, patch(jpeg, dht + 20, "B", 5)),
    ]


@pytest.mark.parametrize(
    "decoder,payload",
    [pytest.param(decoder, payload, id=name) for name, decoder, payload in _malformed_headers()],
)
def test_malformed_header_raises_value_error(decoder, payload):
    with pytest.raises(ValueError):
        decoder(payload)


def test_codec_features_lenient_vs_strict(spark):
    """Garbage payloads: lenient mode yields NULL-feature rows (a bad object
    must not abort a 100 TB scan); strict mode raises."""
    import pytest as _pytest

    from bicis_spark.extensions.multimodal import decode_codec_features

    schema = "doc_id long, media_type string, content binary, n_bytes long"
    malformed = [
        (10 + i, name, bytearray(payload), len(payload))
        for i, (name, _, payload) in enumerate(_malformed_headers())
    ]
    rows = [
        (1, "image/bmp", bytearray(b"not a bmp at all"), 16),
        (2, "audio/wav", None, 0),
    ] + malformed
    binary = spark.createDataFrame(rows, schema)
    feats = {r["doc_id"]: r for r in decode_codec_features(binary).collect()}
    assert feats[1]["width"] is None and feats[1]["sample_rate"] is None
    assert feats[2]["pixel_sum"] is None
    for doc_id, *_ in malformed:
        assert all(
            v is None for k, v in feats[doc_id].asDict().items()
            if k not in ("doc_id", "media_type")
        ), feats[doc_id]
    with _pytest.raises(Exception, match="ValueError|unknown|NULL"):
        decode_codec_features(binary, strict=True).collect()
    for row in malformed:
        with _pytest.raises(Exception, match="ValueError"):
            decode_codec_features(
                spark.createDataFrame([row], schema), strict=True
            ).collect()


def test_decoders_reject_mutated_payloads_with_decode_errors():
    """Seeded byte-mutation loop over all eight decoders: flip 1-3 bytes,
    truncate, or splice 1-8 random bytes into synthesized payloads. A
    decoder may accept a mutant or reject it, but only with one of the
    error types the decode stage turns into a NULL-feature row; anything
    else (KeyError, ZeroDivisionError, OverflowError) aborts a Spark job,
    and a header field that sizes an unbounded loop stalls its task."""
    import random

    from bicis_spark.extensions.avi import decode_avi_features, synth_avi
    from bicis_spark.extensions.gif import decode_gif, synth_gif
    from bicis_spark.extensions.jpeg import decode_jpeg, synth_jpeg
    from bicis_spark.extensions.mpeg_audio import decode_layer1, synth_layer1
    from bicis_spark.extensions.mpeg_layer3 import decode_layer3, synth_layer3
    from bicis_spark.extensions.multimodal import (
        _DECODE_ERRORS,
        decode_bmp,
        decode_wav,
        synth_bmp,
        synth_wav,
    )
    from bicis_spark.extensions.png import decode_png, synth_png

    def mutate(rng, payload):
        p = bytearray(payload)
        op = rng.randrange(3)
        if op == 0:
            for _ in range(rng.randint(1, 3)):
                p[rng.randrange(len(p))] = rng.randrange(256)
        elif op == 1:
            del p[rng.randrange(len(p)):]
        else:
            i = rng.randrange(len(p) + 1)
            p[i:i] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 8)))
        return bytes(p)

    codecs = [
        (synth_bmp, decode_bmp),
        (synth_wav, decode_wav),
        (synth_jpeg, decode_jpeg),
        (synth_png, decode_png),
        (synth_gif, decode_gif),
        (synth_avi, decode_avi_features),
        (synth_layer1, decode_layer1),
        (synth_layer3, decode_layer3),
    ]
    for synth, decode in codecs:
        rng = random.Random(7)
        for doc_id in range(150):
            try:
                decode(mutate(rng, synth(doc_id)))
            except _DECODE_ERRORS:
                pass


def test_bm25_ranks_rare_term_docs_first(spark):
    """BM25 sanity on a staged corpus: the doc stuffed with the rare
    query term outranks one with a single occurrence; a doc with only the
    ubiquitous term scores ≤ 0 (negative idf, Robertson's real behavior);
    n_terms counts matched query terms only."""
    from bicis_spark.extensions.text import bm25_scores

    common = "the " * 30
    rows = [
        (1, "filler words " * 10 + "zebra zebra zebra"),
        (2, "filler words " * 10 + "zebra"),
        (3, common.strip()),
        (4, "unrelated words only here"),
        (5, "more filler about nothing at all"),
        (6, "and another plain document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bm25_scores(df, ["zebra", "the"]).collect()}
    # zebra: df=2 of N=6 -> idf = flog2(9) - flog2(5) > 0 (rare term)
    # the: df=1 but doc 3 is ALL "the": tf saturation still caps its score
    assert got[1]["score"] > got[2]["score"] > 0
    assert got[1]["n_terms"] == 1 and got[3]["n_terms"] == 1
    assert 4 not in got and 5 not in got  # no query term -> no row


def test_two_level_semdedup_block_containment(spark):
    """Two-level SemDeDup invariants: every vector appears exactly once;
    every flagged dup's survivor shares its (super, sub) block and has a
    smaller id; sub-centroid count per super never exceeds the cap."""
    from bicis_spark.extensions.dedup import semantic_dedup_two_level
    from bicis_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = semantic_dedup_two_level(
        emb, threshold=0.45, super_mod=100, max_super=8,
        sub_mod=25, max_sub_per_super=5,
    ).collect()
    assert len({r["vec_id"] for r in rows}) == len(rows) == emb.count()
    blocks = {r["vec_id"]: (r["super_id"], r["sub_id"]) for r in rows}
    for r in rows:
        if r["is_semantic_dup"]:
            assert r["dup_of"] < r["vec_id"]
            assert blocks[r["dup_of"]] == blocks[r["vec_id"]]
    from collections import defaultdict

    subs = defaultdict(set)
    for r in rows:
        subs[r["super_id"]].add(r["sub_id"])
    assert all(len(s) <= 5 for s in subs.values())


def test_rrf_fuse_semantics(spark):
    """A doc in both lists outranks single-list docs at comparable ranks;
    absent-list contribution is exactly 0; ties break on doc_id."""
    from bicis_spark.extensions.text import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank long"
    )
    got = {r["doc_id"]: r for r in rrf_fuse(a, b, k=60, topn=10).collect()}
    assert got[2]["rrf_score"] == 1.0 / 62 + 1.0 / 61  # both lists
    assert got[1]["rrf_score"] == 1.0 / 61  # list-a only
    assert got[4]["rrf_score"] == 1.0 / 62 and got[4]["rank_a"] is None
    order = [
        r["doc_id"]
        for r in sorted(
            got.values(), key=lambda r: (-r["rrf_score"], r["doc_id"])
        )
    ]
    assert order[0] == 2  # fusion wins over any single-list rank-1


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    """The prefix-filtered join must find EXACTLY the pairs brute-force
    Jaccard finds — zero false negatives is the operator's theorem."""
    from itertools import combinations

    from bicis_spark.extensions.dedup import prefix_filtered_jaccard_pairs

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e f"),       # J(1,2)=5/6 >= 4/5
        (3, "a b c d x"),         # J(1,3)=4/6 < 4/5
        (4, "q r s t u"),
        (5, "q r s t u"),         # exact dup of 4
        (6, "z"),
    ]
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filtered_jaccard_pairs(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    sets = {i: set(t.split()) for i, t in rows}
    want = {
        (i, j)
        for i, j in combinations(sorted(sets), 2)
        if 5 * len(sets[i] & sets[j]) >= 4 * len(sets[i] | sets[j])
    }
    assert got == want == {(1, 2), (4, 5)}


def test_prefix_filter_jaccard_shingle_mode(spark):
    """Shingle mode flags a near-copy (one appended clause) and ignores
    docs that merely share vocabulary; short docs yield no grams."""
    from bicis_spark.extensions.dedup import prefix_filtered_jaccard_pairs

    a = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, a),
        (2, a + " extra"),  # shares all 11 of a's grams, adds 1: J = 11/12
        (3, "dog fox the brown over quick lazy jumps again the and today"),
        (4, "to short"),
    ]
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filtered_jaccard_pairs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            shingle_n=3,
        ).collect()
    }
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 11 / 12) < 1e-12


def test_phrase_search_consecutive_only(spark):
    """Matches require consecutive positions: scrambled or gapped tokens
    must not match; overlapping occurrences each count."""
    from bicis_spark.extensions.text import phrase_search

    rows = [
        (1, "x a b c y a b c"),   # two occurrences
        (2, "a x b c"),           # gapped: no
        (3, "c b a"),             # scrambled: no
        (4, "a b"),               # too short: no
        (5, "a a b c"),           # one occurrence, prefix noise
    ]
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(
            spark.createDataFrame(rows, "doc_id long, text string"), "a b c"
        ).collect()
    }
    assert got == {1: 2, 5: 1}


def test_edit_distance_pairs_blocking_complete(spark):
    """FastSS edit<=1 join vs a quadratic python reference on a staged
    set covering every edit kind (substitution, deletion, insertion),
    an exact duplicate string pair, a distance-2 pair that blocking may
    admit but verify must drop, and an empty-ish 1-char string."""
    from bicis_spark.extensions.dedup import edit_distance_pairs

    rows = [
        (1, "kitten"), (2, "sitten"),   # substitution
        (3, "kitte"),                   # deletion of 1
        (4, "kittens"),                 # insertion into 1
        (5, "mitten"),                  # substitution of 1 (and of 2)
        (6, "abc"), (7, "abc"),         # exact duplicate
        (8, "xyz"),                     # isolated
        (9, "a"), (10, "b"),            # 1-char: substitution via empty variant
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, "id", "t").collect()
    )

    def lev(s, t):
        m, n = len(s), len(t)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (s[i - 1] != t[j - 1])
                )
        return d[n]

    want = sorted(
        (ia, ib, lev(ta, tb))
        for ia, ta in rows
        for ib, tb in rows
        if ia < ib and lev(ta, tb) <= 1
    )
    assert got == want
    assert (1, 2, 1) in got and (6, 7, 0) in got and (9, 10, 1) in got
    assert not any(p[:2] == (3, 4) for p in got)  # kitte↔kittens: dist 2


def test_pq_rejects_vectors_of_the_wrong_width(spark):
    """PQ needs every vector to hold exactly n_subspaces * sub_dims
    elements. A short last sub-vector would give a NULL L2 distance that
    sorts first and silently wins code assignment; a long vector would
    be truncated. Both fail the job with the width in the message."""
    from bicis_spark.extensions.similarity import ann_topk_pq, pq_subvectors

    qv = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6, 7, 8]), (2, [1, 2, 3, 4, 5, 6])],
        "vec_id long, qv array<int>",
    )
    ok = pq_subvectors(qv.where("vec_id = 1"), n_subspaces=2, sub_dims=4)
    assert sorted((r["sub"], r["sv"]) for r in ok.collect()) == [
        (0, [1, 2, 3, 4]), (1, [5, 6, 7, 8])
    ]
    for n_subspaces, sub_dims in ((2, 4), (2, 3)):
        with pytest.raises(Exception, match="n_subspaces \\* sub_dims"):
            pq_subvectors(qv, n_subspaces=n_subspaces, sub_dims=sub_dims).collect()

    rows = [(i, [float((i * 7 + d * 13) % 19 - 9) for d in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="n_subspaces \\* sub_dims = 12"):
        ann_topk_pq(
            df, df.where("vec_id % 20 = 0"), k=3, n_subspaces=3, sub_dims=4,
            seed_mod=4, train_iters=1,
        ).collect()
