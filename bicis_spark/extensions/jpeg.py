"""Pure-Python baseline JPEG (ITU-T T.81) encode/decode for the multimodal
decode surface, with no PIL/libjpeg: a marker walk (SOI/APPn/DQT/SOF0/DHT/
DRI/SOS/RSTn/EOI), canonical Huffman coding over the shared bit I/O of
``extensions/bitstream.py``, zigzag + dequantization, and an 8×8 IDCT, all
from the public spec. Entropy-coded data is split at its markers and
un-stuffed (0xFF00 → 0xFF) once per restart interval before it is read.
Reference analogue: none (the bicis reference has no multimodal surface).

Determinism contract (what lets a DuckDB oracle replay the decode): every
stage is integer-exact.

* Huffman/zigzag/dequant are integer by definition — decode(encode(C)) == C
  for any legal coefficient block (tests pin this round-trip exactly).
* The IDCT is FIXED-POINT with a pinned constant table
  ``IDCT_T[k][t] = floor(α(k)·cos((2t+1)kπ/16)·4096 + 0.5)`` (α(0)=1/√2):
  sample(x,y) = clamp(((Σ_r Σ_c F[r][c]·T[c][x]·T[r][y] + 2²⁵) >> 26)
  + 128, 0, 255), all int64 — so the decoded pixels of ANY payload are an
  integer-exact function of its coefficients, replayable in SQL with the
  same table constants. Accuracy: within ±1 of the exact float IDCT on
  legal coefficient ranges (tests assert this), the standard tolerance
  class for integer IDCTs.

Scale shape: codecs run row-at-a-time inside Arrow-batched ``mapInPandas``
(see extensions/multimodal.py) — one batch in flight per task, a corrupt
payload yields a NULL-feature row instead of aborting a 100 TB scan. The
per-block IDCT is a pair of 8×8 int64 numpy matmuls, not a Python loop.
"""

from __future__ import annotations

import functools
import math
import struct

from bicis_spark.extensions.bitstream import BitReader, BitWriter, PrefixCode, canonical_codes


def _zigzag_order() -> list[tuple[int, int]]:
    """Zigzag scan index → (row, col) of the 8×8 coefficient matrix,
    generated by the diagonal walk rather than a typed-in table."""
    order = []
    r = c = 0
    for _ in range(64):
        order.append((r, c))
        if (r + c) % 2 == 0:
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


ZIGZAG: list[tuple[int, int]] = _zigzag_order()

#: Fixed-point IDCT basis, 12-bit: T[k][t] = floor(α(k)·cos((2t+1)kπ/16)
#: ·4096 + 0.5). Computed once at import; the oracle inlines the rows it
#: needs as literals (they are pinned by tests/test_extensions goldens).
IDCT_T: list[list[int]] = [
    [
        math.floor(
            (1 / math.sqrt(2) if k == 0 else 1.0)
            * math.cos((2 * t + 1) * k * math.pi / 16)
            * 4096
            + 0.5
        )
        for t in range(8)
    ]
    for k in range(8)
]

#: Quantization table (natural order) used by the synthetic payloads:
#: Q[k] = 8 + (k·3) % 24. The DECODER never assumes it — it reads DQT.
SYNTH_QTAB: list[int] = [8 + (k * 3) % 24 for k in range(64)]

# Huffman table specs: (bits[1..16] code-length counts, symbol values in
# canonical order). Self-chosen flat tables — both encoder and decoder
# derive codes canonically from the DHT payload, so any legal table works;
# flat lengths keep Kraft slack (no all-ones max-length code is assigned).
_DC_SYMBOLS = list(range(12))  # DC size categories 0..11
_DC_BITS = [0, 0, 0, 12] + [0] * 12  # all 12 symbols at 4 bits (12/16 < 1)
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]  # EOB, ZRL, and every (run 0-15, size 1-10) pair: 162 symbols
_AC_BITS = [0] * 7 + [162] + [0] * 8  # all at 8 bits (162/256 < 1)


def _extend(bits: int, size: int) -> int:
    """T.81 EXTEND: map the raw ``size`` magnitude bits to a signed value."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _size_of(v: int) -> int:
    return abs(v).bit_length()


def _stuffed(writer: BitWriter) -> bytes:
    """One entropy-coded segment on the wire: padded with 1-bits to a
    byte (T.81 F.1.2.3), each 0xFF data byte stuffed to 0xFF00."""
    writer.pad_to_byte(1)
    return writer.buf.replace(b"\xff", b"\xff\x00")


def _entropy_segments(data: bytes, pos: int):
    """Yield (un-stuffed bytes, marker code) for each run of entropy-coded
    data from ``pos``: a run ends at a marker (0xFF, then anything but
    0x00). The marker code is None where the data ends instead, a lone
    trailing 0xFF included."""
    while True:
        end = data.find(b"\xff", pos)
        while end >= 0 and data[end + 1 : end + 2] == b"\x00":
            end = data.find(b"\xff", end + 2)
        if end < 0:
            end = len(data)
        marker = data[end + 1] if end + 1 < len(data) else None
        yield data[pos:end].replace(b"\xff\x00", b"\xff"), marker
        if marker is None:
            return
        pos = end + 2


# ---------------------------------------------------------------------------
# Encoder (used by the synthetic-payload builders; fully generic baseline)
# ---------------------------------------------------------------------------


def encode_baseline_jpeg(
    width: int,
    height: int,
    component_blocks: list[list[list[int]]],
    qtab: list[int] | None = None,
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Assemble a baseline JPEG from QUANTIZED coefficient blocks.

    ``component_blocks[ci]`` is that component's blocks in MCU traversal
    order, each a 64-list in ZIGZAG order of quantized values. One shared
    quant table and one DC/AC Huffman table pair (written as DHT, read
    back generically). ``sampling[ci] = (H, V)`` factors (default 1×1)."""
    qtab = qtab or SYNTH_QTAB
    ncomp = len(component_blocks)
    sampling = sampling or [(1, 1)] * ncomp
    dc_codes = canonical_codes(_DC_BITS, _DC_SYMBOLS)
    ac_codes = canonical_codes(_AC_BITS, _AC_SYMBOLS)

    out = bytearray(b"\xff\xd8")  # SOI
    zz_q = bytes(qtab[r * 8 + c] for r, c in ZIGZAG)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q  # DQT
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for ci in range(ncomp):
        h, v = sampling[ci]
        sof += struct.pack(">BBB", ci + 1, (h << 4) | v, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof  # SOF0
    for cls, bits, vals in (
        (0, _DC_BITS, _DC_SYMBOLS),
        (1, _AC_BITS, _AC_SYMBOLS),
    ):
        body = bytes([cls << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body  # DHT
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos  # SOS

    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    n_mcus = mcus_x * mcus_y

    writer = BitWriter()
    dc_pred = [0] * ncomp
    idx = [0] * ncomp
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            out += _stuffed(writer) + bytes([0xFF, 0xD0 + (rst % 8)])
            writer = BitWriter()
            rst += 1
            dc_pred = [0] * ncomp
        for ci in range(ncomp):
            h, v = sampling[ci]
            for _ in range(h * v):
                zz = component_blocks[ci][idx[ci]]
                idx[ci] += 1
                diff = zz[0] - dc_pred[ci]
                dc_pred[ci] = zz[0]
                size = _size_of(diff)
                code, length = dc_codes[size]
                writer.write(code, length)
                if size:
                    bits = diff if diff > 0 else diff + (1 << size) - 1
                    writer.write(bits, size)
                run = 0
                for k in range(1, 64):
                    val = zz[k]
                    if val == 0:
                        run += 1
                        continue
                    while run > 15:
                        c0, l0 = ac_codes[0xF0]  # ZRL
                        writer.write(c0, l0)
                        run -= 16
                    size = _size_of(val)
                    c1, l1 = ac_codes[(run << 4) | size]
                    writer.write(c1, l1)
                    bits = val if val > 0 else val + (1 << size) - 1
                    writer.write(bits, size)
                    run = 0
                if run:
                    c2, l2 = ac_codes[0x00]  # EOB
                    writer.write(c2, l2)
    out += _stuffed(writer)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _idct_block(coef) -> "object":
    """Fixed-point 8×8 IDCT + level shift + clamp → uint8 samples.

    ``coef`` is the 8×8 int64 dequantized coefficient matrix F[r][c]
    (r = vertical frequency, c = horizontal). Two int64 matmuls compute
    P[y][x] = Σ_r Σ_c F[r][c]·T[c][x]·T[r][y]; sample = clamp(((P + 2²⁵)
    >> 26) + 128). Everything is int64-exact — no float enters."""
    import numpy as np

    t = _idct_matrix()  # t[k][x]
    p = t.T @ (coef @ t)  # p[y][x]
    return np.clip(((p + (1 << 25)) >> 26) + 128, 0, 255)


@functools.cache
def _idct_matrix():
    """``IDCT_T`` as a read-only int64 array, built once per process."""
    import numpy as np

    t = np.array(IDCT_T, dtype=np.int64)
    t.flags.writeable = False
    return t


@functools.lru_cache(maxsize=64)
def _prefix_code(bits: bytes, values: bytes) -> PrefixCode:
    """Decode table of one DHT table. Cached on the table's bytes: every
    frame of an MJPEG stream carries the same DHT segments. Callers only
    read the table."""
    return PrefixCode(canonical_codes(bits, values))


def decode_jpeg(payload: bytes) -> dict:
    """Decode a baseline JPEG and return integer-exact features:

    ``width, height, n_blocks`` (all components), ``dc_dequant_sum``
    (Σ dequantized DC over blocks), ``coef_abs_sum`` (Σ |dequantized
    coefficient| over every block), and ``pixel_sum`` (Σ of the decoded
    FIRST-component samples over the width×height image — luma for
    YCbCr, the image itself for grayscale).

    Supports: multiple DQT/DHT segments and tables, APPn/COM skip, DRI +
    restart markers, arbitrary sampling factors (4:2:0 included),
    interleaved single-scan baseline. Rejects progressive (SOF2) and
    arithmetic-coded streams loudly."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], PrefixCode] = {}
    restart_interval = 0
    width = height = None
    comps: list[dict] = []  # id, h, v, tq per SOF order
    scan = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                o += 1
                if pq:  # 16-bit table
                    vals = list(struct.unpack_from(">64H", body, o))
                    o += 128
                else:
                    vals = list(body[o : o + 64])
                    o += 64
                nat = [0] * 64
                for k, (r, c) in enumerate(ZIGZAG):
                    nat[r * 8 + c] = vals[k]
                qtabs[tq] = nat
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(body):
                cls, tid = body[o] >> 4, body[o] & 0xF
                bits = bytes(body[o + 1 : o + 17])
                n = sum(bits)
                if o + 17 + n > len(body):  # 16 counts, then sum(counts) values
                    raise ValueError("DHT code counts exceed the segment")
                htabs[(cls, tid)] = _prefix_code(bits, bytes(body[o + 17 : o + 17 + n]))
                o += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            _prec, height, width, nc = struct.unpack_from(">BHHB", body, 0)
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):  # T.81 B.2.2
                    raise ValueError(f"sampling factors {hv >> 4}x{hv & 0xF} not in 1..4")
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tda = body[1 + 2 * i], body[2 + 2 * i]
                scan.append((cs, tda >> 4, tda & 0xF))
            pos += seglen
            break  # entropy data follows
        # APPn / COM / anything else: skip
        pos += seglen
    if width is None or scan is None:
        raise ValueError("missing SOF/SOS")

    by_id = {c["id"]: c for c in comps}
    # a scan may only name frame components, and tables defined before it
    for cs, td, ta in scan:
        if cs not in by_id:
            raise ValueError(f"scan component {cs} not in frame")
        tables = (by_id[cs]["tq"] in qtabs, (0, td) in htabs, (1, ta) in htabs)
        if not all(tables):
            raise ValueError(f"scan component {cs} names an undefined table")
    scomps = [
        {**by_id[cs], "td": td, "ta": ta} for cs, td, ta in scan
    ]
    hmax = max(c["h"] for c in scomps)
    vmax = max(c["v"] for c in scomps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    segments = _entropy_segments(payload, pos)
    segment, marker = next(segments)
    reader = BitReader(segment)
    dc_pred = {c["id"]: 0 for c in scomps}
    n_blocks = 0
    dc_dequant_sum = 0
    coef_abs_sum = 0
    pixel_sum = 0
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            # the interval must end in its segment's last byte, at RST(rst mod 8)
            if (reader.pos + 7) >> 3 != len(segment) or marker != 0xD0 + rst % 8:
                raise ValueError("expected restart marker")
            segment, marker = next(segments)
            reader = BitReader(segment)
            rst += 1
            dc_pred = {c["id"]: 0 for c in scomps}
        my, mx = divmod(m, mcus_x)
        for si, c in enumerate(scomps):
            q = qtabs[c["tq"]]
            dct = htabs[(0, c["td"])]
            act = htabs[(1, c["ta"])]
            for bi in range(c["h"] * c["v"]):
                size = reader.symbol(dct)
                if size > 15:  # DC difference categories stop at 15 (T.81 F.1.2.1)
                    raise ValueError(f"DC magnitude category {size} > 15")
                diff = _extend(reader.read(size), size)
                dc_pred[c["id"]] += diff
                zz = [0] * 64
                zz[0] = dc_pred[c["id"]]
                k = 1
                while k < 64:
                    sym = reader.symbol(act)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    run, size = sym >> 4, sym & 0xF
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    zz[k] = _extend(reader.read(size), size)
                    k += 1
                coef = np.zeros((8, 8), dtype=np.int64)
                for kk, (r, cc) in enumerate(ZIGZAG):
                    coef[r, cc] = zz[kk] * q[r * 8 + cc]
                n_blocks += 1
                dc_dequant_sum += int(coef[0, 0])
                coef_abs_sum += int(np.abs(coef).sum())
                if si == 0:  # first component's samples inside the image
                    bv, bh = divmod(bi, c["h"])
                    y0 = (my * c["v"] + bv) * 8
                    x0 = (mx * c["h"] + bh) * 8
                    if y0 < height and x0 < width:
                        block = _idct_block(coef)[: height - y0, : width - x0]
                        pixel_sum += int(block.sum())

    return {
        "width": width,
        "height": height,
        "n_blocks": n_blocks,
        "dc_dequant_sum": dc_dequant_sum,
        "coef_abs_sum": coef_abs_sum,
        "pixel_sum": pixel_sum,
    }


# ---------------------------------------------------------------------------
# Synthetic payload builders (the testdata stand-in for arriving binaries;
# the formulas below are replayed arithmetically by the SQL oracle)
# ---------------------------------------------------------------------------

#: Zigzag positions carrying the synthetic AC coefficients, chosen to
#: exercise distinct runs (0, 3, and 11 zeros) and EOB: zz 1 → (r0,c1),
#: zz 5 → (r0,c2), zz 17 → (r2,c3) in the natural matrix.
SYNTH_AC_POSITIONS = (1, 5, 17)


def synth_jpeg_coeffs(doc_id: int) -> tuple[int, int, list[list[int]]]:
    """(width, height, blocks) for the deterministic grayscale payload:
    width 8·(1+id%3), height 8·(1+id%2); block b (raster order) carries
    quantized DC ((id·13 + b·11) % 63) − 31 and ACs at zigzag 1/5/17 of
    ((id·5 + b·3) % 21) − 10, ((id·3 + b·7) % 15) − 7,
    ((id·11 + b·5) % 9) − 4. Values may be 0 — the encoder then extends
    the zero run, so run lengths genuinely vary across the corpus."""
    bx = 1 + doc_id % 3
    by = 1 + doc_id % 2
    blocks = []
    for b in range(bx * by):
        zz = [0] * 64
        zz[0] = (doc_id * 13 + b * 11) % 63 - 31
        zz[1] = (doc_id * 5 + b * 3) % 21 - 10
        zz[5] = (doc_id * 3 + b * 7) % 15 - 7
        zz[17] = (doc_id * 11 + b * 5) % 9 - 4
        blocks.append(zz)
    return bx * 8, by * 8, blocks


def synth_jpeg(doc_id: int, restart_interval: int = 0) -> bytes:
    """Deterministic grayscale baseline JPEG for ``doc_id``."""
    w, h, blocks = synth_jpeg_coeffs(doc_id)
    return encode_baseline_jpeg(w, h, [blocks], restart_interval=restart_interval)


def synth_jpeg_color_420(doc_id: int) -> bytes:
    """Deterministic 16×16 YCbCr 4:2:0 payload (unit-test surface for the
    subsampled interleave): 4 luma blocks (DC-only, dc = (id+j) % 21 − 10
    for j = 0..3) + one Cb (dc = id % 11 − 5) + one Cr (dc = id % 9 − 4)."""
    y_blocks = [[((doc_id + j) % 21 - 10)] + [0] * 63 for j in range(4)]
    cb = [[(doc_id % 11 - 5)] + [0] * 63]
    cr = [[(doc_id % 9 - 4)] + [0] * 63]
    return encode_baseline_jpeg(
        16, 16, [y_blocks, cb, cr], sampling=[(2, 2), (1, 1), (1, 1)]
    )
