"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The container has no codec libraries, so every decoder is pure Python and
parses the real byte layout: BMP (24bpp struct layout) and WAV (RIFF PCM16)
here, baseline JPEG (extensions/jpeg.py), MPEG-1 Layer I audio
(extensions/mpeg_audio.py), MPEG-1 Layer III / "MP3"
(extensions/mpeg_layer3.py, with its entropy-codebook seam documented
there), PNG (extensions/png.py), animated GIF (extensions/gif.py) and MJPEG
AVI video (extensions/avi.py). Each format is hash-gated by a SQL oracle
that replays the expected features arithmetically from doc_id, so a MATCH
proves the decoder inverts the encoder's byte layout.

The Spark side is two stages shared by every format: ``_synthesize`` builds
a binary media table from document ids, and ``_decode`` maps one
``bytes -> dict`` decoder over the payload column into an explicit schema.
Both are Arrow-batched ``mapInPandas``; metadata columns stay separate from
the payload so filters and projections never touch bytes. An undecodable
payload becomes a NULL-feature row, or raises when ``strict``: a bad object
must not abort a 100 TB scan, so the decoders check the header fields that
size a loop or an allocation and reject bad ones with ``ValueError``.

At 100 TB: payloads live in parquet binary columns (or object-store URIs for
>>1 MB assets); ``mapInPandas`` keeps the decode pipeline streaming —
one Arrow batch in flight per task, never a full-partition materialization.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("byte_sum_16", LongType()),
    ]
)

BINARY_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

# What a decoder raises for a payload it cannot parse: ``_decode`` turns
# these into NULL-feature rows unless strict. Any other exception is a
# decoder bug, and it aborts the job.
_DECODE_ERRORS = (ValueError, struct.error, IndexError, zlib.error)


def _synthesize(
    docs: DataFrame, id_col: str, synth: Callable[[int], tuple[str, bytes]]
) -> DataFrame:
    """Binary media table with one ``synth(doc_id) -> (media_type,
    payload)`` row per document. Distributed synthesis; at scale this
    stage is replaced by the arriving binary column.

    The ids are repartitioned to full parallelism first. The codec work
    behind this table is CPU-bound Python and the documents scan is
    typically ONE parquet split at test SFs; without the exchange the
    whole encode+decode chain runs on a single core (measured on the
    sf0.1 MPEG-1 row: 2.7s single-threaded; spread across 32 cores it is
    job-overhead bound). The partition count is pinned EXPLICITLY: AQE
    coalesces a ~40 KB id shuffle to one partition (its advisory size is
    byte-based) and cannot see the CPU-bound Python behind it."""
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id")).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )

    def synth_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                media_type, content = synth(d)
                out.append((d, media_type, content, len(content)))
            yield pd.DataFrame(out, columns=BINARY_TABLE_SCHEMA.fieldNames())

    return ids.mapInPandas(synth_batches, BINARY_TABLE_SCHEMA)


def _decode(
    binary_df: DataFrame,
    schema: StructType,
    decode: Callable[[bytes], dict],
    strict: bool,
) -> DataFrame:
    """Map ``decode(payload) -> dict`` over the payload column into
    ``schema``. ``doc_id``, and ``media_type`` where the schema has it,
    pass through; the other columns come from the decoder's dict (keys
    outside the schema are dropped) and are cast to nullable Int64, which
    carries NULLs through Arrow. A NULL or undecodable payload gives a
    NULL-feature row that stays visible downstream, or raises when
    ``strict``."""
    cols = schema.fieldNames()
    keys = [c for c in ("doc_id", "media_type") if c in cols]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for content, *vals in zip(pdf["content"], *(pdf[k] for k in keys)):
                row = dict(zip(keys, vals))
                try:
                    if content is None:
                        raise ValueError("NULL payload")
                    row.update(decode(bytes(content)))
                except _DECODE_ERRORS:
                    if strict:
                        raise
                out.append(row)
            yield pd.DataFrame(out, columns=cols).astype(
                {c: "Int64" for c in cols if c != "media_type"}
            )

    return binary_df.mapInPandas(decode_batches, schema)


def to_binary_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Wrap a text corpus as a binary-payload media table (the test-data
    stand-in for real image/audio payloads)."""
    content = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("text/plain").alias("media_type"),
        content.alias("content"),
        F.length(content).cast("long").alias("n_bytes"),
    )


def _byte_features(payload: bytes) -> dict:
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else -1,
        "byte_sum_16": sum(payload[:16]),
    }


def _no_codec(payload: bytes) -> dict:
    raise ValueError(
        "strict decode reached the generic byte-features stage: "
        "no registered codec claimed this payload class — route "
        "BMP/WAV/JPEG/MPEG-1 Layer I/III payloads through "
        "decode_codec_features (extensions/jpeg.py, "
        "extensions/mpeg_audio.py, extensions/mpeg_layer3.py)"
    )


def decode_media(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """The GENERIC decode stage for payloads with NO registered decoder:
    format-agnostic byte features (payload length, first byte (-1 when
    empty), sum of the first 16 bytes). Every synthesized format here has
    a real decoder, so ``strict=True`` raises ValueError on the first
    payload that reaches this byte-features fallback instead of a codec."""
    return _decode(
        binary_df, DECODED_SCHEMA, _no_codec if strict else _byte_features, strict
    )


def frame_sample(binary_df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' plumbing demo: slice payloads at fixed strides
    (stands in for video frame extraction — same batch/slice shape)."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:
                    continue  # no payload -> no frames (not a crash)
                for off in range(0, len(content), every_n_bytes):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_no": off // every_n_bytes,
                            "frame_byte": int(content[off]),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_no", "frame_byte"]
            ).astype({"doc_id": "int64", "frame_no": "int64", "frame_byte": "int64"})

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_no", LongType()),
            StructField("frame_byte", LongType()),
        ]
    )
    return binary_df.mapInPandas(sample_batches, schema)


# ---------------------------------------------------------------------------
# BMP / WAV codecs and the magic-dispatched codec stage.
#
# BMP (BITMAPINFOHEADER, 24bpp) and WAV (RIFF PCM16) are plain struct
# layouts a few dozen lines of stdlib parse. The encode side synthesizes
# payloads deterministically from doc_id so a SQL oracle can replay the
# expected features arithmetically: the hash gate then proves the decoder
# inverts the byte layout (BMP padding rows are poisoned 0xAA, so a decoder
# that sums them is caught).
#
# At 100 TB the synthesize step disappears (payloads arrive in the binary
# column); decode_codec_features is the production path.
# ---------------------------------------------------------------------------

_BMP_PAD = 0xAA  # poison value: decoders must SKIP padding, not sum it


def synth_bmp(doc_id: int) -> bytes:
    """Deterministic 24bpp bottom-up BMP: width 1+id%7, height 1+id%5,
    pixel byte stream p_i = (id*31 + i) % 256 laid out row-major with
    rows padded to 4 bytes using 0xAA."""
    w = 1 + doc_id % 7
    h = 1 + doc_id % 5
    stride = (w * 3 + 3) // 4 * 4
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = bytearray()
    i = 0
    for _ in range(h):
        for _ in range(w * 3):
            rows.append((doc_id * 31 + i) % 256)
            i += 1
        rows.extend(bytes([_BMP_PAD]) * (stride - w * 3))
    return header + bytes(rows)


def synth_wav(doc_id: int) -> bytes:
    """Deterministic RIFF/PCM16 mono WAV: rate 8000+(id%4)*4000,
    n = 16+id%32 samples, s_i = ((id*7919 + i*104729) % 65536) - 32768."""
    rate = 8000 + (doc_id % 4) * 4000
    n = 16 + doc_id % 32
    samples = [((doc_id * 7919 + i * 104729) % 65536) - 32768 for i in range(n)]
    data = struct.pack("<%dh" % n, *samples)
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_bmp(payload: bytes) -> dict:
    """Parse a BITMAPINFOHEADER 24bpp uncompressed BMP from raw bytes:
    header fields via struct, pixel rows summed with padding stripped."""
    magic, _fsize, _r1, _r2, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP")
    hdr_size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or planes != 1 or bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant")
    if w <= 0 or h == 0:
        raise ValueError(f"BMP dimensions {w}x{h} out of range")
    h_abs = abs(h)  # negative height = top-down; same pixel payload
    stride = (w * 3 + 3) // 4 * 4
    # the header's height drives the row loop: bound it by the payload
    if off + (h_abs - 1) * stride + w * 3 > len(payload):
        raise ValueError("BMP pixel rows exceed the payload")
    pixel_sum = 0
    for row in range(h_abs):
        start = off + row * stride
        pixel_sum += sum(payload[start : start + w * 3])
    return {
        "width": w,
        "height": h_abs,
        "n_pixels": w * h_abs,
        "pixel_sum": pixel_sum,
    }


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE PCM16 payload by walking chunks (fmt /data ) —
    not by assuming fixed offsets — then integer-sum |samples|."""
    riff, _size, wave = struct.unpack_from("<4sI4s", payload, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV")
    pos = 12
    rate = bits = channels = None
    n_samples = abs_sum = None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt_tag != 1 or bits != 16:
                raise ValueError("unsupported WAV encoding")
            if channels < 1 or rate < 1:
                raise ValueError(f"WAV channels={channels} rate={rate} out of range")
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            n_samples = csize // (2 * channels)
            samples = struct.unpack_from("<%dh" % (csize // 2), body, 0)
            abs_sum = sum(abs(s) for s in samples)
        pos += 8 + csize + (csize & 1)  # RIFF chunks are 2-byte aligned
    if n_samples is None:
        raise ValueError("no data chunk")
    return {
        "sample_rate": rate,
        "n_samples": n_samples,
        "duration_us": n_samples * 1_000_000 // rate,
        "sample_abs_sum": abs_sum,
    }


CODEC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_abs_sum", LongType()),
    ]
)


def synth_media(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real binary media table from the corpus: even doc_ids get a BMP
    payload, odd get a WAV."""
    return _synthesize(
        docs,
        id_col,
        lambda d: ("image/bmp", synth_bmp(d))
        if d % 2 == 0
        else ("audio/wav", synth_wav(d)),
    )


def _codec_features(payload: bytes) -> dict:
    """Dispatch on the payload's magic bytes (BMP / RIFF WAV / JPEG SOI /
    PNG signature / MPEG audio sync, the header's layer bits telling Layer
    I from Layer III) to the real codec; CODEC_SCHEMA keeps the image or
    the audio columns of its result. MPEG audio maps onto the audio
    columns: Layer I n_samples = coded subband samples and sample_abs_sum
    = the integer requantization-lattice |c| sum; Layer III n_samples =
    2·big_values + 4·count1 coded frequency lines and sample_abs_sum = the
    Huffman-value |X| sum. Each branch imports only its own codec, since
    these imports run on every row."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    if payload[:2] == b"\xff\xd8":
        from bicis_spark.extensions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from bicis_spark.extensions.png import decode_png

        return decode_png(payload)
    # length-safe: a 0- or 1-byte payload must fall through to "unknown
    # magic", not raise IndexError
    if len(payload) >= 4 and payload[0] == 0xFF and (payload[1] & 0xF0) == 0xF0:
        if (payload[1] >> 1) & 0b11 == 0b01:  # layer bits: 11 = I, 01 = III
            from bicis_spark.extensions.mpeg_layer3 import decode_layer3

            d = decode_layer3(payload)
            return {
                "sample_rate": d["sample_rate"],
                "n_samples": 2 * d["big_values_sum"] + 4 * d["count1_sum"],
                "sample_abs_sum": d["huff_abs_sum"],
            }
        from bicis_spark.extensions.mpeg_audio import decode_layer1

        d = decode_layer1(payload)
        return {
            "sample_rate": d["sample_rate"],
            "n_samples": d["n_samples_coded"],
            "sample_abs_sum": d["requant_abs_sum"],
        }
    raise ValueError("unknown magic")


def decode_codec_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Production decode path: parse each payload with the real pure-Python
    codec its magic bytes name (see ``_codec_features``) and emit typed
    features, NULL for the fields of the other modality. Unknown or
    undecodable payloads become NULL-feature rows, or raise when strict."""
    return _decode(binary_df, CODEC_SCHEMA, _codec_features, strict)


# ---------------------------------------------------------------------------
# JPEG feature surface: full-feature decode of the synthetic baseline-JPEG
# corpus — see extensions/jpeg.py for the codec and the determinism
# contract that lets the SQL oracle replay pixel sums through the
# fixed-point IDCT.
# ---------------------------------------------------------------------------

JPEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_blocks", LongType()),
        StructField("dc_dequant_sum", LongType()),
        StructField("coef_abs_sum", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def synth_media_jpeg(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic grayscale baseline JPEGs, one
    per document (extensions/jpeg.py:synth_jpeg)."""
    from bicis_spark.extensions.jpeg import synth_jpeg

    return _synthesize(docs, id_col, lambda d: ("image/jpeg", synth_jpeg(d)))


def decode_jpeg_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Full JPEG feature extraction over a binary column: width/height
    (SOF0), block count, integer-exact dequantized-coefficient sums
    (proves the Huffman + zigzag + dequant inversion), and the decoded
    first-component pixel sum through the fixed-point IDCT (proves the
    transform + level shift + clamp). Undecodable payloads → NULL-feature
    rows unless strict."""
    from bicis_spark.extensions.jpeg import decode_jpeg

    return _decode(binary_df, JPEG_SCHEMA, decode_jpeg, strict)


# ---------------------------------------------------------------------------
# MPEG-1 Layer I audio surface: full-bitstream decode of the synthetic
# Layer I corpus — see extensions/mpeg_audio.py for the codec and the
# determinism contract (integer requantization lattice + pinned 20-bit
# scalefactor table) that lets the SQL oracle replay every feature.
# ---------------------------------------------------------------------------

MPEG1_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bitrate_kbps", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_alloc", LongType()),
        StructField("scf_sum", LongType()),
        StructField("n_samples_coded", LongType()),
        StructField("requant_abs_sum", LongType()),
        StructField("pcm_fix_sum", LongType()),
    ]
)


def synth_media_mpeg1(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic MPEG-1 Layer I streams, one per
    document (extensions/mpeg_audio.py:synth_layer1)."""
    from bicis_spark.extensions.mpeg_audio import synth_layer1

    return _synthesize(docs, id_col, lambda d: ("audio/mpeg", synth_layer1(d)))


def decode_mpeg1_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Full MPEG-1 Layer I feature extraction over a binary column: frame
    walk (sync + header-implied lengths), bit-allocation and scalefactor
    parse, and the integer requantization lattice — every feature an
    exact function of the bitstream. Undecodable payloads → NULL-feature
    rows unless strict."""
    from bicis_spark.extensions.mpeg_audio import decode_layer1

    return _decode(binary_df, MPEG1_SCHEMA, decode_layer1, strict)


# ---------------------------------------------------------------------------
# MPEG-1 Layer III ("MP3") feature surface — see extensions/mpeg_layer3.py
# for the codec, the bit-reservoir mechanics, and the entropy-codebook
# seam.
# ---------------------------------------------------------------------------

MP3_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bitrate_kbps", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_granules", LongType()),
        StructField("big_values_sum", LongType()),
        StructField("count1_sum", LongType()),
        StructField("global_gain_sum", LongType()),
        StructField("scalefac_sum", LongType()),
        StructField("scfsi_sum", LongType()),
        StructField("table_select_sum", LongType()),
        StructField("region_count_sum", LongType()),
        StructField("side_flags_sum", LongType()),
        StructField("main_begin_sum", LongType()),
        StructField("huff_abs_sum", LongType()),
        StructField("xr_fix_sum", LongType()),
    ]
)


def synth_media_mp3(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic MPEG-1 Layer III streams, one
    per document (extensions/mpeg_layer3.py:synth_layer3) — multi-frame
    with a real bit reservoir (nonzero main_data_begin on follow-on
    frames)."""
    from bicis_spark.extensions.mpeg_layer3 import synth_layer3

    return _synthesize(
        docs, id_col, lambda d: ("audio/mpeg; layer=3", synth_layer3(d))
    )


def decode_mp3_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Full MPEG-1 Layer III feature extraction over a binary column:
    header/side-info walk, bit-reservoir offset arithmetic, scfsi
    scalefactor decode, region/table-dispatched Huffman pairs (linbits
    escapes, sign bits), budget-terminated count1 quadruples, and the
    POW43_Q/GAIN_Q fixed-point requantization lattice — every feature an
    exact function of the bitstream. Undecodable payloads → NULL-feature
    rows unless strict."""
    from bicis_spark.extensions.mpeg_layer3 import decode_layer3

    return _decode(binary_df, MP3_SCHEMA, decode_layer3, strict)


# ---------------------------------------------------------------------------
# Video surface: RIFF/AVI MJPEG demux + per-frame JPEG decode
# (extensions/avi.py) — a container walk composing the real JPEG codec,
# where frame_sample only slices bytes.
# ---------------------------------------------------------------------------

VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("us_per_frame", LongType()),
        StructField("duration_us", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("dc_dequant_sum", LongType()),
        StructField("coef_abs_sum", LongType()),
    ]
)

VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("dc_dequant_sum", LongType()),
    ]
)


def synth_media_video(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic MJPEG AVI videos, one per
    document (extensions/avi.py:synth_avi — 2 + id%4 JPEG frames, full
    hdrl/strl headers, idx1 index)."""
    from bicis_spark.extensions.avi import synth_avi

    return _synthesize(docs, id_col, lambda d: ("video/x-msvideo", synth_avi(d)))


def decode_video_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Per-video feature extraction: RIFF walk, avih/strh/strf parse,
    idx1 verification, then the real JPEG decode of every movi frame —
    aggregate integer-exact features. Undecodable payloads →
    NULL-feature rows unless strict."""
    from bicis_spark.extensions.avi import decode_avi_features

    return _decode(binary_df, VIDEO_SCHEMA, decode_avi_features, strict)


def video_frame_features(
    binary_df: DataFrame, every_n: int = 2, strict: bool = False
) -> DataFrame:
    """REAL frame sampling: demux the container, keep every ``every_n``-th
    frame, and decode ONLY the kept frames (the training-pipeline shape —
    skipped frames cost a chunk-walk skip, never an entropy decode).
    Emits one row per sampled frame."""
    from bicis_spark.extensions.avi import demux_avi
    from bicis_spark.extensions.jpeg import decode_jpeg

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                try:
                    if content is None:
                        raise ValueError("NULL payload")
                    v = demux_avi(bytes(content))
                    for f, frame in enumerate(v["frames"]):
                        if f % every_n:
                            continue
                        d = decode_jpeg(frame)
                        rows.append(
                            {
                                "doc_id": int(doc_id),
                                "frame_no": f,
                                "pixel_sum": d["pixel_sum"],
                                "dc_dequant_sum": d["dc_dequant_sum"],
                            }
                        )
                except _DECODE_ERRORS:
                    if strict:
                        raise
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_no", "pixel_sum", "dc_dequant_sum"],
            ).astype("int64")

    return binary_df.mapInPandas(sample_batches, VIDEO_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# PNG surface: wire-format PNG via stdlib zlib DEFLATE — chunk/CRC walk,
# inflate, all five scanline defilters (extensions/png.py).
# ---------------------------------------------------------------------------

PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("color_type", LongType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("filter_type_sum", LongType()),
    ]
)


def synth_media_png(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic PNGs, one per document
    (extensions/png.py:synth_png — grayscale/truecolor alternating, all
    five scanline filters cycled)."""
    from bicis_spark.extensions.png import synth_png

    return _synthesize(docs, id_col, lambda d: ("image/png", synth_png(d)))


def decode_png_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Full PNG feature extraction over a binary column: signature and
    chunk walk with CRC32 verification, DEFLATE inflate, per-scanline
    defiltering (None/Sub/Up/Average/Paeth) — features are functions of
    the reconstructed pixels, never of the compressed bytes.
    Undecodable payloads → NULL-feature rows unless strict."""
    from bicis_spark.extensions.png import decode_png

    return _decode(binary_df, PNG_SCHEMA, decode_png, strict)


# ---------------------------------------------------------------------------
# GIF surface: wire-format GIF89a via from-the-stream LZW — screen
# descriptor, global color table, graphic-control extensions,
# variable-width code stream with KwKwK and clear resets
# (extensions/gif.py). Animated GIFs are the second animation container
# beside MJPEG AVI.
# ---------------------------------------------------------------------------

GIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_colors", LongType()),
        StructField("n_frames", LongType()),
        StructField("delay_cs_sum", LongType()),
        StructField("index_sum", LongType()),
        StructField("rgb_sum", LongType()),
    ]
)


def synth_media_gif(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Binary media table of deterministic animated GIFs, one per
    document (extensions/gif.py:synth_gif)."""
    from bicis_spark.extensions.gif import synth_gif

    return _synthesize(docs, id_col, lambda d: ("image/gif", synth_gif(d)))


def decode_gif_features(binary_df: DataFrame, strict: bool = False) -> DataFrame:
    """Full GIF feature extraction over a binary column: screen
    descriptor, global color table, extension/sub-block walk, per-frame
    variable-width LZW decode, and the index→palette mapping — features
    are pixel/palette-determined, never compressed-length-determined.
    Undecodable payloads → NULL-feature rows unless strict."""
    from bicis_spark.extensions.gif import decode_gif

    return _decode(binary_df, GIF_SCHEMA, decode_gif, strict)
