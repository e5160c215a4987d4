"""Pure-Python MPEG-1 Audio Layer III ("MP3", ISO/IEC 11172-3)
encode/decode for the multimodal decode surface. The frame header comes
from ``mpeg_audio.py``, bit I/O and prefix-code tables from
``extensions/bitstream.py``. Reference analogue: none (the bicis
reference has no multimodal surface).

What is spec-EXACT here (implementable from closed-form public-spec
structure, same standard as Layer I in ``mpeg_audio.py``):

* header walk (sync/ID/layer=01/bitrate/samplerate/padding/mode) and the
  Layer III frame length ``slots = 144·bitrate/fs (+padding)`` bytes;
* the full 17-byte single-channel side info — main_data_begin(9),
  private(5), scfsi(4), and per granule part2_3_length(12),
  big_values(9), global_gain(8), scalefac_compress(4),
  window_switching(1), table_select(3×5), region0_count(4),
  region1_count(3), preflag(1), scalefac_scale(1),
  count1table_select(1);
* the BIT RESERVOIR: physical frames carry header+side info at fixed
  positions while the logical main-data stream flows through the
  concatenated slot areas, each frame's granule data located
  ``main_data_begin`` bytes BEFORE its own slot area (decoded here for
  real, with stuffing/ancillary bits skipped by offset arithmetic, not
  assumed zero);
* scalefactor decode: slen1/slen2 from the 16-entry scalefac_compress
  table (a spec table small enough to state exactly: see ``SLEN``),
  long-block layout (bands 0–10 × slen1, 11–20 × slen2), and scfsi
  group-copy semantics for granule 1 (groups 0–5 / 6–10 / 11–15 /
  16–20);
* part2_3_length bit accounting: the count1 region has no transmitted
  length — quadruples are decoded until the granule's bit budget is
  exhausted, and a budget that doesn't land exactly on a quadruple
  boundary is a loud error;
* the entropy-decode MACHINERY: prefix-code lookup, linbits escape
  extension for max-valued codes, per-nonzero sign bits, the three
  region partitions of the big_values area with per-region
  table_select, count1 (v,w,x,y) quadruples;
* requantization kept on an integer-auditable lattice:
  ``POW43_Q[v] = floor(v^(4/3)·2^20 + 0.5)`` and
  ``GAIN_Q[g] = floor(2^((g−210)/4)·2^20 + 0.5)`` (the spec's
  ``xr = is^(4/3)·2^((global_gain−210)/4)`` global-gain factor), each
  sample contributing ``sign · ((POW43_Q[|is|]·GAIN_Q[gg]) >> 20)`` —
  exact int arithmetic both sides, tables inlined as literals into the
  oracle SQL.

What is PARAMETERIZED (and why, stated honestly): the spec's 32
big-values Huffman code tables and count1 table A are pure DATA
(ISO 11172-3 Table B.7) that cannot be reproduced or verified in this
container (no network, no spec copy). The codec therefore uses
CANONICAL-HUFFMAN codebooks built deterministically from documented
weights over the same symbol alphabets the spec tables cover
(pair (x,y) with linbits escapes; count1 quadruples) — see
``build_pair_codebook`` / ``build_quad_codebook``. The decode algorithm
is the real one; the code-to-symbol assignment is a drop-in seam: load
the ISO B.7 (hlen, hcod) data into the same ``{symbol: (code, length)}``
shape and this decoder reads wire-format MP3 granule data unchanged. The
oracle never sees the entropy layer either way — it replays the synth
VALUE formulas, so a hash MATCH proves decode∘encode is the identity
through the reservoir walk, the side-info layout, the scalefactor/scfsi
logic, the region/table dispatch, the escape+sign machinery, and the
requantization lattice.

Remaining honest gap vs wire MP3: the ISO B.7 code assignments, the
scalefactor-band boundary tables (fs-dependent spec data; region
boundaries here are measured in PAIRS via a documented uniform rule,
see ``encode_granule``), short-block window switching (parsed
structurally, rejected in decode), and the synthesis filterbank/IMDCT
(out of feature scope, as Layer I's filterbank is). Everything else is
the standard's actual bitstream layer.

Scale shape: identical to the other codecs — row-at-a-time decode
inside Arrow-batched ``mapInPandas``, one batch in flight per task; a
corrupt payload yields a NULL-feature row instead of aborting a 100 TB
scan.
"""

from __future__ import annotations

import heapq
import math

from bicis_spark.extensions.bitstream import BitReader, BitWriter, PrefixCode, canonical_codes
from bicis_spark.extensions.mpeg_audio import SAMPLE_RATE, walk_frames, write_header

#: Layer III bitrate table (kbit/s), index 1..14. ISO 11172-3 Table B.2
#: (Layer III column): 32..320 kbps.
BITRATE_KBPS_L3: dict[int, int] = {
    i: rate
    for i, rate in enumerate(
        [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    )
    if i > 0
}

#: scalefac_compress → (slen1, slen2). ISO 11172-3 §2.4.2.7 — the one
#: Huffman-adjacent spec table small and widely-stated enough to pin.
SLEN: list[tuple[int, int]] = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]

#: scfsi band groups over the 21 long-block scalefactor bands.
SCFSI_GROUPS: list[range] = [range(0, 6), range(6, 11), range(11, 16), range(16, 21)]

#: Fixed-point x^(4/3) table, 20-bit: POW43_Q[v] = floor(v^(4/3)·2^20+0.5).
#: Domain covers the synth codebooks' max escaped value (15 + 2^4 − 1 = 30)
#: with headroom; decode extends on demand for larger linbits.
POW43_Q: list[int] = [
    math.floor(math.pow(v, 4.0 / 3.0) * (1 << 20) + 0.5) if v else 0
    for v in range(64)
]

#: Fixed-point global-gain factor, 20-bit:
#: GAIN_Q[g] = floor(2^((g−210)/4)·2^20 + 0.5), g in 0..255.
GAIN_Q: list[int] = [
    math.floor(math.pow(2.0, (g - 210) / 4.0) * (1 << 20) + 0.5)
    for g in range(256)
]


def _pow43_q(v: int) -> int:
    if v < len(POW43_Q):
        return POW43_Q[v]
    return math.floor(math.pow(v, 4.0 / 3.0) * (1 << 20) + 0.5)


# ---------------------------------------------------------------------------
# Canonical codebooks (the documented stand-in for ISO Table B.7 data —
# drop-in seam: the spec data loads into the same {symbol: (code, length)}
# shape)
# ---------------------------------------------------------------------------


def _canonical_from_weights(symbols: list[int], weights: list[int]) -> dict[int, tuple[int, int]]:
    """Deterministic Huffman lengths from integer weights (heap merge,
    ties broken by smallest symbol index), then CANONICAL code
    assignment (by (length, symbol)). Kraft-complete by construction, so
    every peek of a valid stream decodes."""
    if len(symbols) == 1:
        return {symbols[0]: (0, 1)}
    heap: list[tuple[int, int, list[int]]] = [
        (w, s, [s]) for s, w in zip(symbols, weights)
    ]
    heapq.heapify(heap)
    depth = {s: 0 for s in symbols}
    while len(heap) > 1:
        w1, t1, m1 = heapq.heappop(heap)
        w2, t2, m2 = heapq.heappop(heap)
        for s in m1 + m2:
            depth[s] += 1
        heapq.heappush(heap, (w1 + w2, min(t1, t2), m1 + m2))
    counts = [0] * max(depth.values())
    for s in symbols:
        counts[depth[s] - 1] += 1
    return canonical_codes(counts, sorted(symbols, key=lambda s: (depth[s], s)))


#: Big-values codebook shapes actually used by the synthesizer:
#: table id → (max coded value m, linbits). Escape: a coded value equal
#: to m is extended by a ``linbits``-bit field (spec semantics — only
#: meaningful when linbits > 0).
PAIR_TABLES: dict[int, tuple[int, int]] = {1: (3, 0), 2: (7, 0), 3: (15, 4)}


def build_pair_codebook(m: int) -> dict[int, tuple[int, int]]:
    """Canonical codebook over pair symbols x·(m+1)+y, x,y ∈ 0..m, with
    weights (m+1−x)·(m+1−y) — small values get short codes, the shape
    property the spec data also has."""
    syms = [x * (m + 1) + y for x in range(m + 1) for y in range(m + 1)]
    wts = [(m + 1 - x) * (m + 1 - y) for x in range(m + 1) for y in range(m + 1)]
    return _canonical_from_weights(syms, wts)


def build_quad_codebook(table: int) -> dict[int, tuple[int, int]]:
    """count1 codebooks over quadruple symbols 0..15 (bits v,w,x,y).
    Table 1 is the fixed 4-bit raw code (the stand-in for spec table B,
    which is also fixed-4-bit); table 0 is canonical-Huffman with
    popcount weights (the stand-in for spec table A)."""
    if table == 1:
        return {q: (q, 4) for q in range(16)}
    syms = list(range(16))
    wts = [1 << (8 - 2 * bin(q).count("1")) for q in syms]
    return _canonical_from_weights(syms, wts)


_PAIR_BOOKS = {t: build_pair_codebook(m) for t, (m, _) in PAIR_TABLES.items()}
_QUAD_BOOKS = {t: build_quad_codebook(t) for t in (0, 1)}
_PAIR_CODES = {t: PrefixCode(book) for t, book in _PAIR_BOOKS.items()}
_QUAD_CODES = {t: PrefixCode(book) for t, book in _QUAD_BOOKS.items()}


# ---------------------------------------------------------------------------
# Frame / granule structures
# ---------------------------------------------------------------------------


def frame_bytes_l3(bitrate_kbps: int, sample_rate: int, padding: int = 0) -> int:
    """Layer III frame length: 144·bitrate/fs (+padding) bytes."""
    return (144 * bitrate_kbps * 1000) // sample_rate + padding


_SIDE_INFO_BYTES = 17  # single_channel, MPEG-1


class GranuleSpec:
    """One granule's side-info fields + its main-data content (the
    encoder's input; the decoder reproduces an equivalent view)."""

    def __init__(
        self,
        big_values: int,
        global_gain: int,
        scalefac_compress: int,
        table_select: tuple[int, int, int],
        region0_count: int,
        region1_count: int,
        preflag: int,
        scalefac_scale: int,
        count1table_select: int,
        scalefacs: list[int],
        pairs: list[tuple[int, int]],
        quads: list[tuple[int, int, int, int]],
    ) -> None:
        self.big_values = big_values
        self.global_gain = global_gain
        self.scalefac_compress = scalefac_compress
        self.table_select = table_select
        self.region0_count = region0_count
        self.region1_count = region1_count
        self.preflag = preflag
        self.scalefac_scale = scalefac_scale
        self.count1table_select = count1table_select
        self.scalefacs = scalefacs  # 21 signed-free ints (long block)
        self.pairs = pairs  # signed (X, Y) per big-values pair
        self.quads = quads  # signed (v, w, x, y) per count1 quadruple


def _region_of_pair(p: int, region0_count: int, region1_count: int) -> int:
    """Region of big-values pair index ``p``. Spec region boundaries are
    scalefactor-band offsets from fs-dependent tables (spec DATA); the
    documented stand-in rule here is a uniform 2-pairs-per-band width:
    region0 = first 2·(region0_count+1) pairs, region1 the next
    2·(region1_count+1), region2 the rest. Swapping in the spec boundary
    tables changes only this function."""
    r0 = 2 * (region0_count + 1)
    r1 = r0 + 2 * (region1_count + 1)
    return 0 if p < r0 else (1 if p < r1 else 2)


def _write_granule(w: BitWriter, g: GranuleSpec) -> int:
    """Append one granule's main data (scalefactors + Huffman data) and
    return the bit count (= part2_3_length). ``scalefacs`` entries for
    scfsi-copied bands must already be EXCLUDED by the caller (pass
    None in their slots)."""
    start = w.n_bits
    slen1, slen2 = SLEN[g.scalefac_compress]
    for b in range(21):
        sf = g.scalefacs[b]
        if sf is None:
            continue  # scfsi copy — not transmitted
        slen = slen1 if b < 11 else slen2
        if slen:
            w.write(sf, slen)
        elif sf:
            raise ValueError("nonzero scalefactor with slen=0")
    for p, (X, Y) in enumerate(g.pairs):
        region = _region_of_pair(p, g.region0_count, g.region1_count)
        table = g.table_select[region]
        m, linbits = PAIR_TABLES[table]
        ax, ay = abs(X), abs(Y)
        cx, cy = min(ax, m), min(ay, m)
        if (ax > m or ay > m) and not linbits:
            raise ValueError("value exceeds table range and table has no linbits")
        code, ln = _PAIR_BOOKS[table][cx * (m + 1) + cy]
        w.write(code, ln)
        if linbits and cx == m:
            w.write(ax - m, linbits)
        if ax:
            w.write(1 if X < 0 else 0, 1)
        if linbits and cy == m:
            w.write(ay - m, linbits)
        if ay:
            w.write(1 if Y < 0 else 0, 1)
    for quad in g.quads:
        bits = 0
        for v in quad:
            bits = (bits << 1) | (1 if v else 0)
        code, ln = _QUAD_BOOKS[g.count1table_select][bits]
        w.write(code, ln)
        for v in quad:
            if v:
                w.write(1 if v < 0 else 0, 1)
    return w.n_bits - start


def _write_side_info(
    w: BitWriter, main_data_begin: int, scfsi: list[int],
    granules: list[tuple[GranuleSpec, int]],
) -> None:
    w.write(main_data_begin, 9)
    w.write(0, 5)  # private_bits (mono)
    for k in range(4):
        w.write(scfsi[k], 1)
    for g, part23 in granules:
        w.write(part23, 12)
        w.write(g.big_values, 9)
        w.write(g.global_gain, 8)
        w.write(g.scalefac_compress, 4)
        w.write(0, 1)  # windows_switching_flag = 0 (long blocks)
        for t in g.table_select:
            w.write(t, 5)
        w.write(g.region0_count, 4)
        w.write(g.region1_count, 3)
        w.write(g.preflag, 1)
        w.write(g.scalefac_scale, 1)
        w.write(g.count1table_select, 1)


def encode_layer3_stream(
    bitrate_index: int,
    samplerate_index: int,
    frames: list[tuple[int, list[int], list[GranuleSpec]]],
) -> bytes:
    """Encode a Layer III stream with a REAL bit reservoir. Each frame is
    (main_data_begin_target, scfsi[4], [granule0, granule1]); granule
    data flows through the logical main-data stream, stuffed so frame
    f's data starts exactly ``main_data_begin`` bytes before f's own
    slot area (byte-aligned between frames, bit-continuous within, per
    spec)."""
    fb = frame_bytes_l3(
        BITRATE_KBPS_L3[bitrate_index], SAMPLE_RATE[samplerate_index]
    )
    capacity = fb - 4 - _SIDE_INFO_BYTES
    stream = BitWriter()
    side_infos: list[bytes] = []
    consumed_capacity = 0
    for f, (begin, scfsi, granules) in enumerate(frames):
        if f == 0 and begin != 0:
            raise ValueError("first frame cannot reach back into the reservoir")
        if begin > 511:
            raise ValueError("main_data_begin exceeds 9 bits")
        # stuff the logical stream so this frame's data begins at byte
        # offset (consumed_capacity - begin)
        stream.pad_to_byte(0)
        target = consumed_capacity - begin
        if target < len(stream.buf):
            raise ValueError(
                "reservoir target behind already-written data "
                f"(target {target}, written {len(stream.buf)})"
            )
        stream.buf.extend(b"\x00" * (target - len(stream.buf)))
        gspecs: list[tuple[GranuleSpec, int]] = []
        for g_idx, g in enumerate(granules):
            scalefacs: list[int | None] = list(g.scalefacs)
            if g_idx == 1:
                for k, grp in enumerate(SCFSI_GROUPS):
                    if scfsi[k]:
                        for b in grp:
                            scalefacs[b] = None
            g2 = GranuleSpec(
                g.big_values, g.global_gain, g.scalefac_compress,
                g.table_select, g.region0_count, g.region1_count,
                g.preflag, g.scalefac_scale, g.count1table_select,
                scalefacs, g.pairs, g.quads,
            )
            part23 = _write_granule(stream, g2)
            gspecs.append((g, part23))
        w = BitWriter()
        write_header(w, "III", bitrate_index, samplerate_index)
        _write_side_info(w, begin, scfsi, gspecs)
        if w.n_bits != 8 * (4 + _SIDE_INFO_BYTES):
            raise AssertionError("side info must be exactly 17 bytes")
        side_infos.append(bytes(w.buf))
        consumed_capacity += capacity
    stream.pad_to_byte(0)
    if len(stream.buf) > consumed_capacity:
        raise ValueError("main data overflows total reservoir capacity")
    stream.buf.extend(b"\x00" * (consumed_capacity - len(stream.buf)))
    out = bytearray()
    for f, si in enumerate(side_infos):
        out += si
        out += stream.buf[f * capacity : (f + 1) * capacity]
    return bytes(out)


def decode_layer3(payload: bytes) -> dict:
    """Walk and decode every Layer III frame in ``payload`` — header
    sync, side info, bit-reservoir offset arithmetic, scalefactors with
    scfsi copies, region/table-dispatched Huffman pairs with linbits
    escapes and sign bits, count1 quadruples decoded against the
    part2_3_length bit budget, and the fixed-point requantization
    lattice. Returns integer-exact features:

    * ``sample_rate`` / ``bitrate_kbps`` — first header (all must agree)
    * ``n_frames`` / ``n_granules``
    * ``big_values_sum`` — Σ big_values (side info)
    * ``count1_sum`` — Σ decoded count1 quadruples (NOT transmitted:
      recovered purely from the bit budget — the real spec mechanism)
    * ``global_gain_sum``, ``scalefac_sum`` (effective, post-scfsi),
      ``scfsi_sum``, ``table_select_sum``, ``region_count_sum``,
      ``side_flags_sum`` (Σ 4·preflag + 2·scalefac_scale +
      count1table_select), ``main_begin_sum``
    * ``huff_abs_sum`` — Σ |X|+|Y| over pairs + Σ|v|+|w|+|x|+|y| quads
    * ``xr_fix_sum`` — Σ sign·((POW43_Q[|is|]·GAIN_Q[gg]) >> 20)
    """
    frames: list[tuple[int, list[int], list[dict]]] = []
    main_data = bytearray()
    area_starts: list[int] = []
    for r, bitrate, sample_rate, pos, flen in walk_frames(
        payload, "III", BITRATE_KBPS_L3, frame_bytes_l3
    ):
        if pos + flen > len(payload):
            raise ValueError("truncated frame")
        begin = r.read(9)
        r.read(5)  # private
        scfsi = [r.read(1) for _ in range(4)]
        gr: list[dict] = []
        for _ in range(2):
            part23 = r.read(12)
            big_values = r.read(9)
            if big_values > 288:
                raise ValueError("big_values exceeds 288 pairs")
            global_gain = r.read(8)
            scalefac_compress = r.read(4)
            switching = r.read(1)
            if switching:
                # structural parse of the switching layout, then reject:
                # short blocks need the fs-dependent window tables
                r.read(2)  # block_type
                r.read(1)  # mixed_block_flag
                r.read(10)  # table_select × 2
                r.read(9)  # subblock_gain × 3
                raise ValueError("window switching (short blocks) unsupported")
            table_select = tuple(r.read(5) for _ in range(3))
            region0_count = r.read(4)
            region1_count = r.read(3)
            preflag = r.read(1)
            scalefac_scale = r.read(1)
            count1table_select = r.read(1)
            gr.append(
                dict(
                    part23=part23, big_values=big_values,
                    global_gain=global_gain,
                    scalefac_compress=scalefac_compress,
                    table_select=table_select,
                    region0_count=region0_count,
                    region1_count=region1_count, preflag=preflag,
                    scalefac_scale=scalefac_scale,
                    count1table_select=count1table_select,
                )
            )
        area_starts.append(len(main_data))
        main_data += payload[pos + 4 + _SIDE_INFO_BYTES : pos + flen]
        frames.append((begin, scfsi, gr))

    feats = dict(
        sample_rate=sample_rate, bitrate_kbps=bitrate,
        n_frames=len(frames), n_granules=2 * len(frames),
        big_values_sum=0, count1_sum=0, global_gain_sum=0,
        scalefac_sum=0, scfsi_sum=0, table_select_sum=0,
        region_count_sum=0, side_flags_sum=0, main_begin_sum=0,
        huff_abs_sum=0, xr_fix_sum=0,
    )
    md = bytes(main_data)
    for f, (begin, scfsi, gr) in enumerate(frames):
        start = area_starts[f] - begin
        if start < 0:
            raise ValueError("main_data_begin reaches before the stream")
        feats["main_begin_sum"] += begin
        feats["scfsi_sum"] += sum(scfsi)
        r = BitReader(md, start)
        gr0_scalefacs: list[int] = []
        for g_idx, g in enumerate(gr):
            budget_start = r.pos
            slen1, slen2 = SLEN[g["scalefac_compress"]]
            scalefacs: list[int] = []
            for b in range(21):
                if g_idx == 1 and any(
                    scfsi[k] and b in SCFSI_GROUPS[k] for k in range(4)
                ):
                    scalefacs.append(gr0_scalefacs[b])
                    continue
                slen = slen1 if b < 11 else slen2
                scalefacs.append(r.read(slen) if slen else 0)
            if g_idx == 0:
                gr0_scalefacs = scalefacs
            gq = GAIN_Q[g["global_gain"]]
            habs = xr = 0
            for p in range(g["big_values"]):
                region = _region_of_pair(
                    p, g["region0_count"], g["region1_count"]
                )
                table = g["table_select"][region]
                if table not in PAIR_TABLES:
                    raise ValueError(f"unknown pair codebook {table}")
                m, linbits = PAIR_TABLES[table]
                sym = r.symbol(_PAIR_CODES[table])
                vx, vy = divmod(sym, m + 1)
                if linbits and vx == m:
                    vx += r.read(linbits)
                sx = -1 if (vx and r.read(1)) else 1
                if linbits and vy == m:
                    vy += r.read(linbits)
                sy = -1 if (vy and r.read(1)) else 1
                habs += vx + vy
                xr += (sx if vx else 0) * ((_pow43_q(vx) * gq) >> 20)
                xr += (sy if vy else 0) * ((_pow43_q(vy) * gq) >> 20)
            n_samples = 2 * g["big_values"]
            nquads = 0
            while r.pos - budget_start < g["part23"]:
                sym = r.symbol(_QUAD_CODES[g["count1table_select"]])
                for k in range(4):
                    v = (sym >> (3 - k)) & 1
                    if v and r.read(1):
                        v = -v
                    habs += abs(v)
                    if v:
                        xr += (1 if v > 0 else -1) * ((POW43_Q[1] * gq) >> 20)
                nquads += 1
                n_samples += 4
                if n_samples > 576:
                    raise ValueError("granule exceeds 576 samples")
            if r.pos - budget_start != g["part23"]:
                raise ValueError("granule bit budget not exactly consumed")
            feats["big_values_sum"] += g["big_values"]
            feats["count1_sum"] += nquads
            feats["global_gain_sum"] += g["global_gain"]
            feats["scalefac_sum"] += sum(scalefacs)
            feats["table_select_sum"] += sum(g["table_select"])
            feats["region_count_sum"] += g["region0_count"] + g["region1_count"]
            feats["side_flags_sum"] += (
                4 * g["preflag"] + 2 * g["scalefac_scale"]
                + g["count1table_select"]
            )
            feats["huff_abs_sum"] += habs
            feats["xr_fix_sum"] += xr
    return feats


# --- deterministic synthesis (the test-data encoder the oracle replays) ---

_SYNTH_SR_INDEX = 2  # 32 kHz — largest frames per bitrate index


def synth_gr_field(doc_id: int, f: int, g: int) -> dict:
    """Side-info field formulas per (doc, frame, granule) — replayed
    arithmetically by the SQL oracle."""
    return dict(
        big_values=8 + (doc_id * 3 + f * 5 + g * 7) % 16,
        global_gain=140 + (doc_id * 11 + f + g * 29) % 116,
        scalefac_compress=(doc_id + f * 3 + g) % 16,
        table_select=tuple(1 + (doc_id + f + g + r) % 3 for r in range(3)),
        region0_count=(doc_id + f) % 2,
        region1_count=(doc_id + g) % 2,
        preflag=(doc_id + f) % 2,
        scalefac_scale=(doc_id + g) % 2,
        count1table_select=(doc_id + f + g) % 2,
        n_quads=(doc_id + 2 * f + 3 * g) % 6,
    )


def synth_scalefac(doc_id: int, f: int, g: int, b: int) -> int:
    sc = (doc_id + f * 3 + g) % 16
    slen1, slen2 = SLEN[sc]
    slen = slen1 if b < 11 else slen2
    return (doc_id * 5 + f * 7 + g * 3 + b) % (1 << slen) if slen else 0


def synth_pair(doc_id: int, f: int, g: int, p: int, m: int, linbits: int) -> tuple[int, int]:
    """Signed big-values pair (X, Y) for pair index p against a
    (m, linbits) codebook — escape extension applies when the coded
    value hits m."""
    x = (doc_id * 7 + f * 3 + g * 11 + p * 5) % (m + 1)
    y = (doc_id * 13 + f + g * 5 + p * 3) % (m + 1)
    if linbits and x == m:
        x += (doc_id + p) % (1 << linbits)
    if linbits and y == m:
        y += (doc_id * 3 + p) % (1 << linbits)
    sx = -1 if (x and (doc_id + f + p) % 2) else 1
    sy = -1 if (y and (doc_id + g + p) % 2) else 1
    return sx * x, sy * y


def synth_quad(doc_id: int, f: int, g: int, j: int) -> tuple[int, int, int, int]:
    out = []
    for k in range(4):
        v = (doc_id + f + g + j * 3 + k) % 2
        if v and (doc_id + j + k) % 2:
            v = -v
        out.append(v)
    return tuple(out)


def synth_main_begin(doc_id: int, f: int) -> int:
    return 0 if f == 0 else (doc_id * 7 + f * 13) % 48


def synth_scfsi(doc_id: int, f: int) -> list[int]:
    return [1 if (doc_id + f + k) % 4 == 0 else 0 for k in range(4)]


def synth_layer3(doc_id: int) -> bytes:
    """Deterministic Layer III stream: 1 + id%3 frames at 32 kHz,
    bitrate index 9 + id%5 (128..256 kbps), two granules per frame, all
    fields from the synth_* formulas — the same formulas the SQL oracle
    replays, so a hash MATCH proves the decoder inverts the reservoir
    walk and the whole granule bit layout."""
    nf = 1 + doc_id % 3
    bidx = 9 + doc_id % 5
    frames = []
    for f in range(nf):
        granules = []
        for g in range(2):
            fld = synth_gr_field(doc_id, f, g)
            m_by_region = {
                r: PAIR_TABLES[fld["table_select"][r]] for r in range(3)
            }
            pairs = []
            for p in range(fld["big_values"]):
                region = _region_of_pair(
                    p, fld["region0_count"], fld["region1_count"]
                )
                m, linbits = m_by_region[region]
                pairs.append(synth_pair(doc_id, f, g, p, m, linbits))
            quads = [
                synth_quad(doc_id, f, g, j) for j in range(fld["n_quads"])
            ]
            scalefacs = [synth_scalefac(doc_id, f, g, b) for b in range(21)]
            granules.append(
                GranuleSpec(
                    fld["big_values"], fld["global_gain"],
                    fld["scalefac_compress"], fld["table_select"],
                    fld["region0_count"], fld["region1_count"],
                    fld["preflag"], fld["scalefac_scale"],
                    fld["count1table_select"], scalefacs, pairs, quads,
                )
            )
        frames.append((synth_main_begin(doc_id, f), synth_scfsi(doc_id, f), granules))
    return encode_layer3_stream(bidx, _SYNTH_SR_INDEX, frames)
