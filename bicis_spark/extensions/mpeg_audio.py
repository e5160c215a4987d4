"""Pure-Python MPEG-1 Audio Layer I (ISO/IEC 11172-3) encode/decode for
the multimodal decode surface, plus the single-channel MPEG-1 header
writer and frame walk (``write_header`` / ``walk_frames``) that Layer III
(``mpeg_layer3.py``) shares. Bit I/O is ``extensions/bitstream.py``.
Reference analogue: none (the bicis reference has no multimodal surface).

Layer I's whole bitstream layer follows from closed-form public-spec
math: sync/header walk, 4-bit-per-subband bit allocation, 6-bit
scalefactors and linear requantization, with one spec table, the
63-entry scalefactor geometric series ``sf(i) = 2^(1 - i/3)`` (ISO
11172-3 Table B.1), which is a formula, not data.

Determinism contract (what lets a DuckDB oracle replay the decode):
every stage is integer-exact or a pinned fixed-point tree.

* Header fields, bit allocation, scalefactor indices and raw sample
  codes are integers by definition — ``decode(encode(...))`` returns
  them exactly (tests pin the round-trip).
* Requantization is kept on the INTEGER lattice: a raw ``nb``-bit code
  maps to ``c = raw + 1 - 2^(nb-1)`` (the spec's
  ``s'' = 2c/(2^nb - 1)`` numerator; the denominator is folded into the
  fixed-point sample value below). |c| ≤ 2^(nb-1), exact int64.
* The fixed-point sample value uses the pinned table
  ``SF_Q[i] = floor(2^(1 - i/3) · 2^20 + 0.5)`` (computed at import,
  golden-pinned by tests) and ONE float tree:
  ``vq = floor(SF_Q[scf] · 2c / (2^nb - 1))`` — the product ≤ 2^37 is
  exact in double, the division and floor are correctly-rounded IEEE —
  so the oracle replays vq bit-for-bit with the same literals.

Scale shape: identical to the other codecs (extensions/jpeg.py) — the
decoder runs row-at-a-time inside Arrow-batched ``mapInPandas``, one
batch in flight per task; a corrupt payload yields a NULL-feature row
instead of aborting a 100 TB scan.
"""

from __future__ import annotations

import math

from bicis_spark.extensions.bitstream import BitReader, BitWriter

#: Layer I bitrate table (kbit/s), index 1..14; 0 = free format (not
#: supported here), 15 = forbidden. ISO 11172-3 Table B.2 (Layer I row).
BITRATE_KBPS: dict[int, int] = {
    i: rate
    for i, rate in enumerate(
        [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448]
    )
    if i > 0
}

#: Sampling-rate table, index 0..2 (3 = reserved). ISO 11172-3 header.
SAMPLE_RATE: dict[int, int] = {0: 44100, 1: 48000, 2: 32000}

#: Fixed-point scalefactors, 20-bit: SF_Q[i] = floor(2^(1-i/3)·2^20+0.5).
#: The spec table is the geometric series sf(i) = 2·2^(-i/3) (Table B.1);
#: computed once at import, golden-pinned by tests, inlined as literals
#: into the oracle SQL.
SF_Q: list[int] = [
    math.floor(math.pow(2.0, 1.0 - i / 3.0) * (1 << 20) + 0.5) for i in range(63)
]


#: Header ``layer`` field per layer name (ISO 11172-3 §2.4.2.3).
_LAYER_CODE: dict[str, int] = {"I": 0b11, "III": 0b01}


def write_header(w: BitWriter, layer: str, bitrate_index: int, samplerate_index: int) -> None:
    """Append one single-channel MPEG-1 frame header: no CRC, no padding."""
    w.write(0xFFF, 12)  # sync
    w.write(1, 1)  # ID = MPEG-1
    w.write(_LAYER_CODE[layer], 2)
    w.write(1, 1)  # no CRC
    w.write(bitrate_index, 4)
    w.write(samplerate_index, 2)
    w.write(0, 1)  # padding
    w.write(0, 1)  # private
    w.write(0b11, 2)  # mode = single channel
    w.write(0, 2)  # mode extension
    w.write(0, 1)  # copyright
    w.write(1, 1)  # original
    w.write(0, 2)  # emphasis


def walk_frames(payload: bytes, layer: str, bitrates: dict[int, int], frame_len):
    """Walk a fixed-rate single-channel MPEG-1 stream of ``layer``: yield
    (reader just past the header, bitrate kbit/s, sample rate Hz, frame
    start, frame length) per frame, sized by ``frame_len(bitrate,
    sample_rate, padding)``. Rejects a lost sync, another layer or mode,
    an unlisted bitrate or sample rate, a mid-stream rate change and
    bytes after the last frame."""
    if len(payload) < 4 or payload[0] != 0xFF or (payload[1] & 0xF0) != 0xF0:
        raise ValueError("not an MPEG audio stream")
    pos = 0
    rates = None
    while pos + 4 <= len(payload):
        r = BitReader(payload, pos)
        if r.read(12) != 0xFFF:
            raise ValueError("lost frame sync")
        if r.read(1) != 1:
            raise ValueError("not MPEG-1")
        if r.read(2) != _LAYER_CODE[layer]:
            raise ValueError(f"not Layer {layer}")
        r.read(1)  # protection
        bidx = r.read(4)
        sidx = r.read(2)
        padding = r.read(1)
        r.read(1)  # private
        mode = r.read(2)
        r.read(6)  # mode_ext(2)/copyright(1)/original(1)/emphasis(2)
        if bidx not in bitrates or sidx not in SAMPLE_RATE:
            raise ValueError("forbidden bitrate/samplerate index")
        if mode != 0b11:
            raise ValueError("only single_channel supported")
        if rates is None:
            rates = (bitrates[bidx], SAMPLE_RATE[sidx])
        elif rates != (bitrates[bidx], SAMPLE_RATE[sidx]):
            raise ValueError("mid-stream rate change")
        flen = frame_len(*rates, padding)
        yield r, *rates, pos, flen
        pos += flen
    if pos != len(payload):
        raise ValueError("trailing bytes after last frame")


def frame_bytes(bitrate_kbps: int, sample_rate: int, padding: int = 0) -> int:
    """Layer I frame length: slots = floor(12·bitrate/fs) (+padding),
    4 bytes per slot."""
    return ((12 * bitrate_kbps * 1000) // sample_rate + padding) * 4


def encode_layer1_frame(
    bitrate_index: int,
    samplerate_index: int,
    alloc: list[int],
    scf: list[int],
    samples: list[list[int]],
) -> bytes:
    """Encode one single-channel MPEG-1 Layer I frame. ``alloc`` is the
    32-entry allocation-code vector (0 = silent, 1..14 → nb = code+1
    bits), ``scf`` the scalefactor index per subband (used only where
    allocated), ``samples[s][sb]`` the raw nb-bit codes for s in 0..11.
    Payload is zero-padded to the header-implied slot length, so the
    decoder's frame walk is exercised for real."""
    w = BitWriter()
    write_header(w, "I", bitrate_index, samplerate_index)
    for sb in range(32):
        if not 0 <= alloc[sb] <= 14:
            raise ValueError("allocation code 15 is forbidden")
        w.write(alloc[sb], 4)
    for sb in range(32):
        if alloc[sb]:
            w.write(scf[sb], 6)
    for s in range(12):
        for sb in range(32):
            if alloc[sb]:
                w.write(samples[s][sb], alloc[sb] + 1)
    w.pad_to_byte(0)
    n_bytes = frame_bytes(BITRATE_KBPS[bitrate_index], SAMPLE_RATE[samplerate_index])
    if len(w.buf) > n_bytes:
        raise ValueError("frame overflows its slot length")
    return bytes(w.buf.ljust(n_bytes, b"\x00"))


def decode_layer1(payload: bytes) -> dict:
    """Walk and decode every Layer I frame in ``payload``; trusts ONLY
    the bitstream (sync, header-implied frame lengths, allocation-driven
    field widths). Returns integer-exact features:

    * ``sample_rate`` / ``bitrate_kbps`` — from the first header (all
      frames must agree, as in any fixed-rate stream)
    * ``n_frames``
    * ``n_alloc`` — total allocated subband slots across frames
    * ``scf_sum`` — sum of scalefactor indices over allocated subbands
    * ``n_samples_coded`` — 12·n_alloc
    * ``requant_abs_sum`` — Σ|c|, c = raw + 1 − 2^(nb−1)
    * ``pcm_fix_sum`` — Σ floor(SF_Q[scf]·2c/(2^nb − 1)), the pinned
      fixed-point requantized value (see module docstring)
    """
    n_frames = n_alloc = scf_sum = requant_abs = pcm_fix = 0
    for r, bitrate, sample_rate, _, _ in walk_frames(payload, "I", BITRATE_KBPS, frame_bytes):
        alloc = []
        for _ in range(32):
            code = r.read(4)
            if code == 15:
                raise ValueError("allocation code 15 is forbidden")
            alloc.append(code)
        scf = [r.read(6) if alloc[sb] else 0 for sb in range(32)]
        for s in range(12):
            for sb in range(32):
                code = alloc[sb]
                if not code:
                    continue
                nb = code + 1
                raw = r.read(nb)
                c = raw + 1 - (1 << (nb - 1))
                requant_abs += abs(c)
                pcm_fix += math.floor(SF_Q[scf[sb]] * 2.0 * c / ((1 << nb) - 1))
        n_alloc += sum(1 for a in alloc if a)
        scf_sum += sum(scf[sb] for sb in range(32) if alloc[sb])
        n_frames += 1
    return {
        "sample_rate": sample_rate,
        "bitrate_kbps": bitrate,
        "n_frames": n_frames,
        "n_alloc": n_alloc,
        "scf_sum": scf_sum,
        "n_samples_coded": 12 * n_alloc,
        "requant_abs_sum": requant_abs,
        "pcm_fix_sum": pcm_fix,
    }


# --- deterministic synthesis (the test-data encoder the oracle replays) ---

#: samplerate index pinned to 32 kHz so every bitrate in 224..448 kbps
#: gives a frame with room for the worst-case field payload (see synth).
_SYNTH_SR_INDEX = 2


def synth_alloc(doc_id: int, f: int, sb: int) -> int:
    """Allocation-code formula: ~1/3 of subbands active per frame,
    codes 1..14. Frame-dependent so the per-frame walk is exercised."""
    if (doc_id + f + sb) % 3 != 0:
        return 0
    return 1 + (doc_id * 7 + sb * 5 + f) % 14


def synth_scf(doc_id: int, f: int, sb: int) -> int:
    return (doc_id * 11 + sb * 3 + f * 17) % 63


def synth_raw(doc_id: int, f: int, sb: int, s: int, nb: int) -> int:
    return (doc_id * 13 + sb * 7 + s * 3 + f * 19) % (1 << nb)


def synth_layer1(doc_id: int) -> bytes:
    """Deterministic Layer I stream: 1 + id%3 frames at 32 kHz,
    bitrate index 7 + id%8 (224..448 kbps), fields from the synth_*
    formulas — the same formulas the SQL oracle replays arithmetically,
    so a hash MATCH proves the decoder inverts the bit layout."""
    nf = 1 + doc_id % 3
    bidx = 7 + doc_id % 8
    frames = []
    for f in range(nf):
        alloc = [synth_alloc(doc_id, f, sb) for sb in range(32)]
        scf = [synth_scf(doc_id, f, sb) for sb in range(32)]
        samples = [
            [
                synth_raw(doc_id, f, sb, s, alloc[sb] + 1) if alloc[sb] else 0
                for sb in range(32)
            ]
            for s in range(12)
        ]
        frames.append(
            encode_layer1_frame(bidx, _SYNTH_SR_INDEX, alloc, scf, samples)
        )
    return b"".join(frames)
