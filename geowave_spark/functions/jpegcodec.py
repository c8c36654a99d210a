"""Real baseline JPEG codec, from the public ITU-T T.81 spec, pure numpy.

The engine's lossy codec for fmt="jpeg":
encoder and decoder are both from scratch (no libjpeg/PIL in this
container), implementing baseline sequential DCT — JFIF headers, Annex K
quantization tables scaled by the IJG quality rule, Annex K Huffman
tables, 4:4:4 or 4:2:0 subsampling, restart intervals, byte stuffing.

Scale design (the graft's axis-A mandate: vectorized Arrow/pandas UDFs,
no per-row Python): the ENCODER's hot path is fully vectorized numpy —
color transform, DCT (matmul), quantization, zigzag, run-length symbol
construction (nonzero scatter + cumsum offsets), Huffman code lookup
(table LUT), and bit packing (np.repeat bit-plane expansion → packbits).
The decoder's entropy loop is inherently serial (each Huffman code's
length is unknown until decoded) and runs as a lean Python loop over a
16-bit-peek LUT, with everything after entropy decode (dequant, IDCT,
upsample, color transform) vectorized per component.

The decoder accepts any baseline-sequential JPEG (parsed DQT/DHT/SOF0/
DRI/SOS, arbitrary sampling factors), not just this encoder's output.

PSNR contract (BASELINE.json input_hint: "decoded-pixel allclose,
PSNR>=40dB for lossy"): at the default quality=98 the worst-case payload
(uniform random noise — the synthetic fixture content) round-trips at
~44 dB; natural/smooth content lands 45-55 dB.  Pinned in
tests/test_jpeg.py.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU T.81 Annex K)
# ---------------------------------------------------------------------------

_QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    np.int32,
)

_QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    np.int32,
)

_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """zigzag position k → natural (row-major) index, per T.81 figure 5."""
    order = np.empty(64, np.int64)
    r = c = 0
    for k in range(64):
        order[k] = r * 8 + c
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


_ZIGZAG = _zigzag_order()  # zigzag k → natural idx
_UNZIGZAG = np.argsort(_ZIGZAG)  # natural idx → zigzag k


def _dct_matrix(n: int = 8) -> np.ndarray:
    """Orthonormal n-point DCT-II basis."""
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_D = _dct_matrix()

# |v| → JPEG magnitude category (bit length); DC diffs bounded by ±2047
_SIZE_LUT = np.zeros(4096, np.int64)
for _s in range(1, 12):
    _SIZE_LUT[1 << (_s - 1) : 1 << _s] = _s


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 → table, 50 = Annex K verbatim."""
    q = min(100, max(1, quality))
    s = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * s + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _huff_codes(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Canonical Huffman assignment → (code, length) arrays indexed by symbol."""
    codes = np.zeros(256, np.int64)
    lens = np.zeros(256, np.int64)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            sym = vals[k]
            codes[sym] = code
            lens[sym] = ln
            code += 1
            k += 1
        code <<= 1
    return codes, lens


_ENC_DC = (_huff_codes(_DC_LUMA_BITS, _DC_LUMA_VALS), _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
_ENC_AC = (_huff_codes(_AC_LUMA_BITS, _AC_LUMA_VALS), _huff_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _pad_to(chan: np.ndarray, mult: int) -> np.ndarray:
    h, w = chan.shape
    ph = -(-h // mult) * mult
    pw = -(-w // mult) * mult
    if ph == h and pw == w:
        return chan
    out = np.empty((ph, pw), chan.dtype)
    out[:h, :w] = chan
    out[h:, :w] = chan[-1:, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def _quantized_blocks(chan: np.ndarray, qt_zz: np.ndarray) -> np.ndarray:
    """Channel plane → (bh, bw, 64) int32 quantized coefficients in ZIGZAG
    order.  qt_zz is the quant table already in zigzag order."""
    p = _pad_to(chan, 8) - 128.0
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    f = (_D @ blocks) @ _D.T  # forward DCT, all blocks at once
    zz = f.reshape(bh, bw, 64)[:, :, _ZIGZAG]
    # round-half-away like libjpeg's integer divide
    return np.round(zz / qt_zz[None, None, :]).astype(np.int32)


def _entropy_encode(seq: np.ndarray, chan_of: np.ndarray) -> bytes:
    """Vectorized baseline Huffman coding.

    seq: (N, 64) int32 zigzag blocks in MCU scan order.
    chan_of: (N,) 0 = luma tables, 1 = chroma tables.
    Returns the byte-stuffed entropy-coded segment.

    Strategy: build per-event (value, nbits) arrays entirely in numpy —
    DC events, ZRL events, AC events, EOB events — each with a sort key
    (block, zigzag position, kind), lexsort into stream order, expand to a
    bit plane with np.repeat, and packbits.  No per-symbol Python loop.
    """
    n = len(seq)
    tabsel = np.minimum(chan_of, 1)
    dc_codes = np.stack([_ENC_DC[0][0], _ENC_DC[1][0]])
    dc_lens = np.stack([_ENC_DC[0][1], _ENC_DC[1][1]])
    ac_codes = np.stack([_ENC_AC[0][0], _ENC_AC[1][0]])
    ac_lens = np.stack([_ENC_AC[0][1], _ENC_AC[1][1]])

    # ---- DC: differential per channel id (0,1,2), in seq order
    dc = seq[:, 0].astype(np.int64)
    diff = np.empty(n, np.int64)
    for c in np.unique(chan_of):
        m = chan_of == c
        v = dc[m]
        diff[m] = v - np.concatenate([[0], v[:-1]])
    dsize = _SIZE_LUT[np.abs(diff)]
    damp = np.where(diff >= 0, diff, diff + (1 << dsize) - 1)
    dc_code = dc_codes[tabsel, dsize]
    dc_len = dc_lens[tabsel, dsize]

    # ---- AC nonzeros
    ac = seq[:, 1:].astype(np.int64)  # zigzag positions 1..63
    b_nz, p_nz = np.nonzero(ac)
    p_nz = p_nz + 1  # true zigzag position
    v_nz = ac[b_nz, p_nz - 1]
    # run of zeros before each nonzero: distance from previous nonzero in
    # the same block (or from position 0)
    prev_p = np.concatenate([[0], p_nz[:-1]])
    new_block = np.concatenate([[True], b_nz[1:] != b_nz[:-1]])
    prev_p = np.where(new_block, 0, prev_p)
    run = p_nz - prev_p - 1
    nzrl = run >> 4
    r = run & 15
    s = _SIZE_LUT[np.abs(v_nz)]
    sym = (r << 4) | s
    amp = np.where(v_nz >= 0, v_nz, v_nz + (1 << s) - 1)
    ac_sel = tabsel[b_nz]
    a_code = ac_codes[ac_sel, sym]
    a_len = ac_lens[ac_sel, sym]

    # ---- ZRL events (run >= 16): nzrl copies before each such nonzero
    z_from = np.repeat(np.arange(len(b_nz)), nzrl)
    z_blocks = b_nz[z_from]
    z_pos = p_nz[z_from]
    # order multiple ZRLs for one coefficient by their copy index
    z_sub = np.concatenate([np.arange(k) for k in nzrl if k]) if nzrl.any() else np.empty(0, np.int64)
    z_sel = tabsel[z_blocks]
    z_code = ac_codes[z_sel, 0xF0]
    z_len = ac_lens[z_sel, 0xF0]

    # ---- EOB events: blocks whose last nonzero zigzag pos < 63
    last_nz = np.zeros(n, np.int64)
    np.maximum.at(last_nz, b_nz, p_nz)
    eob_blocks = np.nonzero(last_nz < 63)[0]
    e_sel = tabsel[eob_blocks]
    e_code = ac_codes[e_sel, 0x00]
    e_len = ac_lens[e_sel, 0x00]

    # ---- assemble (value, nbits) event pairs with lexsort keys
    # kinds: DC=0 at pos 0; ZRL=0 at pos p (before the AC, sub<16); AC=1
    # at pos p; EOB at pos 64.  Each event contributes a Huffman pair and
    # an amplitude pair (amplitude nbits=0 collapses to nothing).
    blk = np.concatenate([np.arange(n), z_blocks, b_nz, eob_blocks])
    pos = np.concatenate([np.zeros(n, np.int64), z_pos, p_nz, np.full(len(eob_blocks), 64)])
    sub = np.concatenate([np.zeros(n, np.int64), z_sub, np.full(len(b_nz), 16), np.zeros(len(eob_blocks), np.int64)])
    hcode = np.concatenate([dc_code, z_code, a_code, e_code])
    hlen = np.concatenate([dc_len, z_len, a_len, e_len])
    aval = np.concatenate([damp, np.zeros(len(z_blocks), np.int64), amp, np.zeros(len(eob_blocks), np.int64)])
    albits = np.concatenate([dsize, np.zeros(len(z_blocks), np.int64), s, np.zeros(len(eob_blocks), np.int64)])

    order = np.lexsort((sub, pos, blk))
    # interleave: huffman pair then amplitude pair per event
    vals = np.empty(2 * len(order), np.int64)
    nbits = np.empty(2 * len(order), np.int64)
    vals[0::2] = hcode[order]
    nbits[0::2] = hlen[order]
    vals[1::2] = aval[order]
    nbits[1::2] = albits[order]
    keep = nbits > 0
    vals = vals[keep]
    nbits = nbits[keep]

    # ---- bit-plane expansion → bytes
    total = int(nbits.sum())
    starts = np.cumsum(nbits) - nbits
    k = np.arange(total) - np.repeat(starts, nbits)  # bit index within value
    rep_v = np.repeat(vals, nbits)
    rep_n = np.repeat(nbits, nbits)
    bits = (rep_v >> (rep_n - 1 - k)) & 1
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.int64)])  # pad with 1s
    payload = np.packbits(bits.astype(np.uint8))
    # byte stuffing: 0xFF → 0xFF 0x00
    ff = np.nonzero(payload == 0xFF)[0]
    if len(ff):
        payload = np.insert(payload, ff + 1, 0)
    return payload.tobytes()


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 98,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """HxWx3 uint8 RGB → baseline JFIF JPEG bytes.

    subsampling: "444" (default — per-pixel chroma, highest PSNR) or
    "420" (2x2 chroma, the common photographic layout).
    restart_interval: MCUs per restart segment (0 = none).  Each segment
    entropy-codes independently (DC predictors reset), joined by RSTn
    markers — the spec's error-resilience / parallel-decode hook."""
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h, w, _ = arr.shape
    ycc = _rgb_to_ycbcr(arr)
    # NB: quant tables are stored/applied in zigzag order
    qly = _scaled_qt(_QT_LUMA, quality).reshape(64)[_ZIGZAG]
    qch = _scaled_qt(_QT_CHROMA, quality).reshape(64)[_ZIGZAG]

    if subsampling == "444":
        planes = [ycc[:, :, 0], ycc[:, :, 1], ycc[:, :, 2]]
        samp = [(1, 1), (1, 1), (1, 1)]
    else:
        y = ycc[:, :, 0]
        # 2x2 box-average chroma on the padded-to-even plane
        cbp = _pad_to(ycc[:, :, 1], 2)
        crp = _pad_to(ycc[:, :, 2], 2)
        cb = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean(axis=(1, 3))
        cr = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean(axis=(1, 3))
        planes = [y, cb, cr]
        samp = [(2, 2), (1, 1), (1, 1)]

    blk = []
    for ci, (plane, (sh, sv)) in enumerate(zip(planes, samp)):
        qt = qly if ci == 0 else qch
        # pad the plane so the per-component block grid tiles the MCU grid
        b = _quantized_blocks(_pad_to(plane, 8 * sh), qt)
        # ensure block-grid dims are multiples of the sampling factors
        bh, bw = b.shape[0], b.shape[1]
        tbh = -(-bh // sv) * sv
        tbw = -(-bw // sh) * sh
        if (tbh, tbw) != (bh, bw):
            nb = np.zeros((tbh, tbw, 64), b.dtype)
            nb[:bh, :bw] = b
            nb[bh:, :bw] = b[-1:, :, :]
            nb[:, bw:] = nb[:, bw - 1 : bw, :]
            b = nb
        blk.append(b)

    # MCU-interleave block sequence
    if subsampling == "444":
        n = blk[0].shape[0] * blk[0].shape[1]
        seq = np.empty((3 * n, 64), np.int32)
        chan_of = np.tile(np.array([0, 1, 2]), n)
        for c in range(3):
            seq[c::3] = blk[c].reshape(n, 64)
    else:
        ybh, ybw = blk[0].shape[:2]
        # Y grid padded to even dims above (sh=sv=2)
        my, mx = ybh // 2, ybw // 2
        yb = blk[0].reshape(my, 2, mx, 2, 64).transpose(0, 2, 1, 3, 4).reshape(my * mx, 4, 64)
        cbb = blk[1][:my, :mx].reshape(my * mx, 1, 64)
        crb = blk[2][:my, :mx].reshape(my * mx, 1, 64)
        seq = np.concatenate([yb, cbb, crb], axis=1).reshape(my * mx * 6, 64).astype(np.int32)
        chan_of = np.tile(np.array([0, 0, 0, 0, 1, 2]), my * mx)

    mcu_blocks = 3 if subsampling == "444" else 6
    if restart_interval:
        step = restart_interval * mcu_blocks
        parts = []
        for gi, start in enumerate(range(0, len(seq), step)):
            if gi:
                parts.append(bytes([0xFF, 0xD0 + (gi - 1) % 8]))
            parts.append(_entropy_encode(seq[start : start + step], chan_of[start : start + step]))
        entropy = b"".join(parts)
    else:
        entropy = _entropy_encode(seq, chan_of)

    # ---- headers
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qly), (1, qch)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid) + bytes(int(x) for x in qt)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, (sh, sv), tq in zip((1, 2, 3), samp, (0, 1, 1)):
        out += bytes([cid, (sh << 4) | sv, tq])
    for tc_th, bits, vals in (
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
        (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tabs])
    out += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


@lru_cache(maxsize=64)
def _decode_lut(bits: bytes, vals: bytes) -> list[int]:
    """(BITS, HUFFVAL) → fused 16-bit-peek LUT: lut[peek] = (len << 8) | sym.

    Returned as a Python list: one C-speed index yields both the code
    length and the symbol for the serial entropy loop (a fused list entry
    halves the lookups vs separate sym/len tables)."""
    fused = np.zeros(1 << 16, np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            fused[lo:hi] = (length << 8) | vals[k]
            code += 1
            k += 1
        code <<= 1
    return fused.tolist()


from .imagecodec import corrupt_guard as _corrupt_guard


@_corrupt_guard("jpeg")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline sequential JFIF/JPEG bytes → HxWx3 uint8 RGB.

    Accepts arbitrary baseline streams: any sampling factors, multiple
    DQT/DHT segments, 16-bit quant tables, restart intervals."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    comps: list[dict] = []
    h = w = 0
    dri = 0
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1  # optional 0xFF fill bytes before a marker (T.81 B.1.1.2)
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    t = np.frombuffer(seg, ">u2", 64, p).astype(np.int32)
                    p += 128
                else:
                    t = np.frombuffer(seg, np.uint8, 64, p).astype(np.int32)
                    p += 64
                qt[tq] = t  # zigzag order
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline)
            _prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"non-baseline SOF marker 0xFF{marker:02X} unsupported")
        elif marker == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = seg[p + 1 : p + 17]
                cnt = sum(bits)
                vals = seg[p + 17 : p + 17 + cnt]
                huff[tc_th] = _decode_lut(bytes(bits), bytes(vals))
                p += 17 + cnt
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS → entropy data follows
            ns = seg[0]
            for ci in range(ns):
                cid, tabs = seg[1 + 2 * ci], seg[2 + 2 * ci]
                for comp in comps:
                    if comp["id"] == cid:
                        comp["dc"] = tabs >> 4
                        comp["ac"] = tabs & 15
            pos += seglen
            return _decode_scan(data, pos, comps, qt, huff, h, w, dri)
        pos += seglen
    raise ValueError("no SOS segment found")


def _decode_scan(data, pos, comps, qt, huff, h, w, dri) -> np.ndarray:
    # destuff entropy bytes up to the next marker (RSTn removed, EOI stops)
    out = bytearray()
    n = len(data)
    i = pos
    while i < n:
        b = data[i]
        if b != 0xFF:
            out.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            out.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            i += 2  # restart marker: boundary handled by MCU counting
        else:
            break  # real marker (EOI or next segment)
    # pad past the data end by one block's worst-case read (64 coefficients
    # x 27 bits = 216 bytes) so a truncated stream can NEVER index win out
    # of range mid-block; the per-block bitlimit guard below then reports
    # it as the module's descriptive ValueError instead of an IndexError
    bitlimit = len(out) * 8
    buf = bytes(out) + b"\x00" * 221
    # precompute the 40-bit window at every BYTE offset, once, vectorized:
    # win[i] = buf[i..i+5) big-endian.  One list index then replaces five
    # byte loads + four shift/or ops per symbol in the serial loop below.
    bb = np.frombuffer(buf, np.uint8).astype(np.int64)
    win = (
        (bb[:-4] << 32) | (bb[1:-3] << 24) | (bb[2:-2] << 16) | (bb[3:-1] << 8) | bb[4:]
    ).tolist()

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # flat plan: one (component, coef-row) entry per block of one MCU, so
    # the hot loop has no nested component/sampling conditionals
    plan = []
    for ci, c in enumerate(comps):
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        for by in range(c["v"]):
            for bx in range(c["h"]):
                plan.append((ci, huff[0x00 | c["dc"]], huff[0x10 | c["ac"]], by, bx))
    # coefficient sink: one packed ((row*64+k) << 12 | value+2048) int per
    # nonzero, per component — coefficients are 11-bit categories so the
    # biased value always fits 12 bits; unpacked vectorized after the loop
    sink: list[list[int]] = [[] for _ in comps]

    preds = [0] * len(comps)
    bitpos = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                bitpos = (bitpos + 7) & ~7
                preds = [0] * len(comps)
            mcu_count += 1
            for ci, dlut, alut, by, bx in plan:
                if bitpos >= bitlimit:
                    raise ValueError("truncated entropy data")
                c = comps[ci]
                base = ((my * c["v"] + by) * c["bw"] + (mx * c["h"] + bx)) * 64
                acc = sink[ci]
                # one 40-bit window serves the ≤16-bit Huffman peek AND the
                # ≤11-bit amplitude that follows (16+11+7 offset ≤ 34 bits)
                off = bitpos & 7
                chunk = win[bitpos >> 3]
                fused = dlut[(chunk >> (24 - off)) & 0xFFFF]
                ln = fused >> 8
                if ln == 0:
                    raise ValueError("invalid DC Huffman code")
                s = fused & 255
                if s > 11:  # baseline DC categories are 0..11 (T.81 F.1.2.1)
                    raise ValueError("corrupt DC category")
                bitpos += ln
                if s:
                    v = (chunk >> (40 - off - ln - s)) & ((1 << s) - 1)
                    bitpos += s
                    if v < (1 << (s - 1)):
                        v -= (1 << s) - 1
                    preds[ci] += v
                acc.append((base << 12) | (preds[ci] + 2048))
                k = 1
                while k < 64:
                    off = bitpos & 7
                    chunk = win[bitpos >> 3]
                    fused = alut[(chunk >> (24 - off)) & 0xFFFF]
                    ln = fused >> 8
                    if ln == 0:
                        raise ValueError("invalid AC Huffman code")
                    bitpos += ln
                    s = fused & 15
                    if s == 0:
                        if fused & 255 == 0xF0:
                            k += 16
                            continue
                        break  # EOB
                    k += (fused >> 4) & 15
                    if k > 63:
                        raise ValueError("AC run overflow")
                    v = (chunk >> (40 - off - ln - s)) & ((1 << s) - 1)
                    bitpos += s
                    if v < (1 << (s - 1)):
                        v -= (1 << s) - 1
                    acc.append(((base + k) << 12) | (v + 2048))
                    k += 1

    for ci, c in enumerate(comps):
        coef = np.zeros(c["bh"] * c["bw"] * 64, np.int32)
        if sink[ci]:
            packed = np.array(sink[ci], np.int64)
            coef[packed >> 12] = (packed & 4095) - 2048
        c["coef"] = coef.reshape(-1, 64)

    # dequant + un-zigzag + IDCT per component (vectorized)
    planes = []
    for c in comps:
        q = qt[c["tq"]].astype(np.float64)  # zigzag order
        # _ZIGZAG maps zigzag k → natural idx; scatter accordingly
        nat = np.zeros((len(c["coef"]), 64), np.float64)
        nat[:, _ZIGZAG] = c["coef"].astype(np.float64) * q[None, :]
        blocks = nat.reshape(-1, 8, 8)
        img = (_D.T @ blocks) @ _D
        bh, bw = c["bh"], c["bw"]
        plane = img.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        # upsample to full MCU-grid resolution
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
