"""Pure-numpy/stdlib image codecs for the binary `bytes` column.

The container has no PIL/libjpeg, so the engine ships its own deterministic
codecs.  BMP and PNG are REAL, spec-conformant encoders/decoders
(lossless); TIFF decodes the full classic spec (strips/tiles, LZW/deflate/
PackBits, predictor 2).  fmt="jpeg" is the REAL baseline ITU T.81 codec
(jpegcodec.py — JFIF markers, Annex K tables, Huffman entropy coding,
4:4:4/4:2:0), satisfying the BASELINE.json per-row invariant
("decoded-pixel allclose, PSNR>=40dB for lossy") against an actual lossy
format.

All functions take/return HxWx3 uint8 numpy arrays.  They run inside
Arrow-batched pandas UDFs (see sources/images.py and functions/geo_udfs.py);
nothing here touches Spark.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed, bottom-up rows, BGR)
# ---------------------------------------------------------------------------


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w = struct.unpack_from("<i", data, 18)[0]
    h = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24:
        raise ValueError(f"unsupported BMP bpp {bpp}")
    # negative biHeight = spec-conformant TOP-DOWN row order (no flip)
    top_down = h < 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if top_down:
        return rows[:, :, ::-1].copy()
    return rows[::-1, :, ::-1].copy()


# ---------------------------------------------------------------------------
# PNG (8-bit RGB, filter 0, single zlib IDAT)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = np.concatenate([np.zeros((h, 1), np.uint8), arr.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(kind: int, cur: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Undo PNG row filter (all 5 types, so foreign PNGs also decode)."""
    if kind not in (0, 1, 2, 3, 4):
        raise ValueError(f"invalid PNG filter type {kind}")
    out = cur.astype(np.int32)
    n = cur.size
    if kind == 0:
        return cur.copy()
    if kind == 2:  # Up
        return ((out + prev) & 0xFF).astype(np.uint8)
    res = np.empty(n, np.uint8)
    for i in range(n):
        a = res[i - bpp] if i >= bpp else 0
        b = prev[i]
        if kind == 1:
            v = out[i] + a
        elif kind == 3:
            v = out[i] + ((int(a) + int(b)) >> 1)
        else:  # Paeth
            c = prev[i - bpp] if i >= bpp else 0
            p = int(a) + int(b) - int(c)
            pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = out[i] + pred
        res[i] = v & 0xFF
    return res


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = 0
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bit, color, _comp, _filt, interlace = struct.unpack_from(
                ">IIBBBBB", payload
            )
            if bit != 8 or color != 2 or interlace != 0:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    out = np.empty((h, w * 3), np.uint8)
    prev = np.zeros(w * 3, np.uint8)
    for r in range(h):
        prev = _unfilter(int(raw[r, 0]), raw[r, 1:], prev, 3)
        out[r] = prev
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# TIFF / GeoTIFF (decode only — the reference ingests rasters, it does not
# write TIFFs back).  From the public TIFF 6.0 spec: classic (non-Big)
# TIFF, both byte orders, strip and tile layouts, compressions none /
# deflate (8, 32946) / LZW (5, with the spec's early-change rule) /
# PackBits (32773), horizontal-differencing predictor (317=2), sample
# formats uint/int/float at 8/16/32/64 bits, chunky planar config.
# Geo tags (ModelPixelScale/Tiepoint, GeoKeyDirectory, GDAL_NODATA) are
# parsed by sources/geotiff.py on top of `tiff_tags`.
# ---------------------------------------------------------------------------

_TIFF_TYPE = {
    1: ("B", 1), 2: ("c", 1), 3: ("H", 2), 4: ("I", 4), 5: ("II", 8),
    6: ("b", 1), 7: ("B", 1), 8: ("h", 2), 9: ("i", 4), 10: ("ii", 8),
    11: ("f", 4), 12: ("d", 8),
}


def tiff_tags(data: bytes) -> tuple[str, dict[int, list]]:
    """First-IFD tag table of a classic TIFF → (endianness, {tag: values}).
    RATIONALs come back as floats; ASCII as one str."""
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic, off = struct.unpack(e + "HI", data[2:8])
    if magic == 43:
        raise NotImplementedError("BigTIFF is not supported")
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    n = struct.unpack(e + "H", data[off : off + 2])[0]
    tags: dict[int, list] = {}
    for i in range(n):
        ent = data[off + 2 + 12 * i : off + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(e + "HHI", ent[:8])
        if typ not in _TIFF_TYPE:
            continue
        fmt, sz = _TIFF_TYPE[typ]
        total = sz * cnt
        raw = ent[8 : 8 + total] if total <= 4 else None
        if raw is None:
            voff = struct.unpack(e + "I", ent[8:12])[0]
            raw = data[voff : voff + total]
        if typ == 2:  # ASCII
            tags[tag] = [raw.split(b"\x00")[0].decode("latin-1")]
        elif typ in (5, 10):  # RATIONAL
            parts = struct.unpack(e + ("I" if typ == 5 else "i") * 2 * cnt, raw)
            tags[tag] = [parts[2 * k] / (parts[2 * k + 1] or 1) for k in range(cnt)]
        else:
            tags[tag] = list(struct.unpack(e + fmt * cnt, raw))
    return e, tags


def _lzw_decode(buf: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first codes, early change)."""
    out = bytearray()
    acc = nbits = pos = 0
    width = 9
    CLEAR, EOI = 256, 257
    table: list[bytes] = []
    prev: bytes | None = None
    n = len(buf)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # missing EOI: tolerate (some writers)
            acc = (acc << 8) | buf[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == EOI:
            return bytes(out)
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # early change, adjusted for the decoder's one-entry lag behind the
        # writer's table (the writer assigns an entry after EVERY emitted
        # code; the decoder only from the second code of a run)
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1


def _packbits_decode(buf: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(buf)
    while i < n:
        c = buf[i]
        i += 1
        if c < 128:
            out += buf[i : i + c + 1]
            i += c + 1
        elif c > 128:
            out += buf[i : i + 1] * (257 - c)
            i += 1
    return bytes(out)


def _tiff_segment(raw: bytes, comp: int) -> bytes:
    if comp == 1:
        return raw
    if comp in (8, 32946):
        return zlib.decompress(raw)
    if comp == 5:
        return _lzw_decode(raw)
    if comp == 32773:
        return _packbits_decode(raw)
    raise NotImplementedError(f"TIFF compression {comp} not supported")


def decode_tiff_raw(data: bytes) -> np.ndarray:
    """TIFF bytes → native-dtype array, shape (h, w) or (h, w, bands)."""
    e, t = tiff_tags(data)
    w, h = t[256][0], t[257][0]
    spp = t.get(277, [1])[0]
    bits = t.get(258, [8] * spp)
    if len(set(bits)) != 1:
        raise NotImplementedError("mixed BitsPerSample")
    bits = bits[0]
    comp = t.get(259, [1])[0]
    fmt = t.get(339, [1] * spp)[0]  # 1 uint, 2 int, 3 float
    pred = t.get(317, [1])[0]
    if t.get(284, [1])[0] != 1:
        raise NotImplementedError("planar (non-chunky) TIFF not supported")
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred} not supported")
    kind = {1: "u", 2: "i", 3: "f"}.get(fmt)
    if kind is None or (kind == "f" and bits < 32) or bits not in (8, 16, 32, 64):
        raise NotImplementedError(f"sample format {fmt}/{bits}bits not supported")
    dt = np.dtype(f"{e}{kind}{bits // 8}")

    def undiff(a: np.ndarray) -> np.ndarray:
        # horizontal differencing is per SAMPLE along x (mod 2^bits):
        # cumsum in int64 then cast back — the cast truncates = the wrap
        if pred == 2:
            if kind == "f":
                raise NotImplementedError("predictor 2 on float samples")
            a = np.cumsum(a.astype(np.int64), axis=1).astype(a.dtype)
        return a

    out = np.zeros((h, w, spp), dt)
    if 322 in t:  # tiled layout
        tw, th = t[322][0], t[323][0]
        offs, cnts = t[324], t[325]
        ntx = (w + tw - 1) // tw
        for k, (o, c) in enumerate(zip(offs, cnts)):
            seg = _tiff_segment(data[o : o + c], comp)
            a = np.frombuffer(seg, dt, count=tw * th * spp).reshape(th, tw, spp)
            a = undiff(a)
            ty, tx = divmod(k, ntx)
            y0, x0 = ty * th, tx * tw
            ys, xs = min(th, h - y0), min(tw, w - x0)
            out[y0 : y0 + ys, x0 : x0 + xs] = a[:ys, :xs]
    else:  # strips
        rps = t.get(278, [h])[0]
        offs, cnts = t[273], t[279]
        for k, (o, c) in enumerate(zip(offs, cnts)):
            y0 = k * rps
            rows = min(rps, h - y0)
            seg = _tiff_segment(data[o : o + c], comp)
            a = np.frombuffer(seg, dt, count=rows * w * spp).reshape(rows, w, spp)
            a = undiff(a)
            out[y0 : y0 + rows] = a
    return out[:, :, 0] if spp == 1 else out


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF → HxWx3 uint8 (the tile/mosaic pixel contract): gray
    replicates to 3 bands, 16-bit scales down, float clips to [0, 255]."""
    a = decode_tiff_raw(data)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.dtype == np.uint16:
        a = (a >> 8).astype(np.uint8)
    elif a.dtype.kind in "fi":
        a = np.clip(np.round(a.astype(np.float64)), 0, 255).astype(np.uint8)
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    return np.ascontiguousarray(a[:, :, :3])


# ---------------------------------------------------------------------------
# Dispatch + metrics
# ---------------------------------------------------------------------------


def _encode_jpeg(arr: np.ndarray) -> bytes:
    from . import jpegcodec

    return jpegcodec.encode_jpeg(arr)


def _decode_jpeg(data: bytes) -> np.ndarray:
    from . import jpegcodec

    return jpegcodec.decode_jpeg(data)


_ENCODERS = {"png": encode_png, "bmp": encode_bmp, "jpeg": _encode_jpeg}
_DECODERS = {"png": decode_png, "bmp": decode_bmp, "jpeg": _decode_jpeg,
             "tiff": decode_tiff}
LOSSLESS = {"png", "bmp"}


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    try:
        enc = _ENCODERS[fmt]
    except KeyError:
        raise NotImplementedError(f"no codec for format {fmt!r} in this container")
    return enc(arr)


def corrupt_guard(fmt: str):
    """Decorator: decode entry points raise the module's DESCRIPTIVE
    ValueError contract on ANY corrupt/truncated payload (r5, extending
    the r4 ADVICE fix beyond the entropy stage): a truncation inside
    header parsing otherwise leaks IndexError / struct.error / KeyError,
    whose text is useless in a 10^12-row decode_health audit column.
    Deliberate ValueErrors and NotImplementedError stubs pass through."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrap(*a, **k):
            try:
                return fn(*a, **k)
            except (ValueError, NotImplementedError):
                raise
            except (IndexError, KeyError, struct.error, OverflowError,
                    ZeroDivisionError, TypeError, zlib.error) as e:
                raise ValueError(
                    f"truncated or corrupt {fmt} data "
                    f"({type(e).__name__}: {e})"
                ) from e
        return wrap
    return deco


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    try:
        dec = _DECODERS[fmt]
    except KeyError:
        raise NotImplementedError(f"no codec for format {fmt!r} in this container")
    # ONE exception-contract definition (corrupt_guard) covers the
    # dispatch path too — no second copy of the exception list to drift
    return corrupt_guard(fmt)(dec)(data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))
