"""Image normalization metadata (SURVEY §2.1 S4) — the reference's
``_prepare_image`` semantics (app.py:1470-1520) over the FULL supported
image whitelist (app.py:101-102: png/jpg/jpeg/bmp/tif/tiff/webp) with
the stdlib only.

The reference opens the image with Pillow, reads the DPI metadata
(default 150), normalizes it through ``_normalize_dpi_value`` (accepted
range [20, 1200], else 150 — app.py:3911-3918), and derives the single
prepared page's point size as ``px * 72.0 / dpi``.  All of that is
METADATA work for every whitelisted format:

- JPEG: dimensions in the SOF marker, density in the JFIF APP0 header;
- PNG: dimensions in IHDR, density in pHYs (pixels/metre);
- BMP: dimensions + pixels/metre density in BITMAPINFOHEADER;
- TIFF: IFD0 tags 256/257 (dims), 282/283 (resolution rationals),
  296 (unit: 2=inch, 3=cm — unit 1/absent means "no dpi", like Pillow's
  TiffImagePlugin which only fills ``info["dpi"]`` for units 2 and 3);
- WebP: dimensions in the VP8X/VP8/VP8L chunk headers; the format
  carries no density metadata, so the 150 dpi default always applies
  (Pillow's WebPImagePlugin exposes no "dpi" either).

None of it needs a codec.  Only pixel DECODE would need an imaging
library; that stays behind the honest stub in operators/multimodal.py.

Pillow-parity conversions (the reference reads ``im.info["dpi"]``):
pixels/metre → dpi uses Pillow's ``ppm / 39.3701`` (BmpImagePlugin) for
BMP and ``ppm * 0.0254`` (PngImagePlugin) for PNG — the two plugins
genuinely use those two different constants, and the oracle arithmetic
mirrors each exactly.
"""

from __future__ import annotations

import struct
from typing import Dict, Optional

DEFAULT_IMAGE_DPI = 150.0  # app.py:91


class ImageParseError(ValueError):
    """Structurally unreadable image (reference: '画像の読み込みに失敗'
    → RuntimeError, app.py:1494)."""


def normalize_dpi_value(value) -> float:
    """app.py:3911-3918 exactly."""
    try:
        v = float(value)
    except Exception:
        return DEFAULT_IMAGE_DPI
    if v < 20 or v > 1200:
        return DEFAULT_IMAGE_DPI
    return v


def _jpeg_meta(data: bytes) -> Dict[str, float]:
    w = h = None
    dpi_x: Optional[float] = None
    dpi_y: Optional[float] = None
    i = 2
    n = len(data)
    while i + 4 <= n and data[i] == 0xFF:
        marker = data[i + 1]
        if marker in (0xD8, 0xD9):  # SOI/EOI have no length
            i += 2
            continue
        if i + 4 > n:
            break
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        seg = data[i + 4:i + 2 + seg_len]
        if marker == 0xE0 and seg[:5] == b"JFIF\x00" and len(seg) >= 12:
            units = seg[7]
            xd = int.from_bytes(seg[8:10], "big")
            yd = int.from_bytes(seg[10:12], "big")
            if units == 1:        # dots per inch
                dpi_x, dpi_y = float(xd), float(yd)
            elif units == 2:      # dots per cm (Pillow converts the same)
                dpi_x, dpi_y = xd * 2.54, yd * 2.54
            # units == 0: aspect ratio only → no dpi info (default applies)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            break
        i += 2 + seg_len
    if not w or not h:
        raise ImageParseError("jpeg: no SOF frame header")
    return {"format": "jpeg", "width_px": w, "height_px": h,
            "dpi_x": dpi_x, "dpi_y": dpi_y}


def _png_meta(data: bytes) -> Dict[str, float]:
    if len(data) < 33 or data[12:16] != b"IHDR":
        raise ImageParseError("png: missing IHDR")
    w, h = struct.unpack(">II", data[16:24])
    if not w or not h:
        raise ImageParseError("png: zero dimension")
    dpi_x = dpi_y = None
    i = 8
    while i + 8 <= len(data):
        length = int.from_bytes(data[i:i + 4], "big")
        ctype = data[i + 4:i + 8]
        # bound-check the declared length against the REAL buffer: a
        # download truncated mid-chunk must parse as "no density", not
        # raise struct.error past the ImageParseError contract
        if ctype == b"pHYs" and length >= 9 and i + 17 <= len(data):
            px_m, py_m, unit = struct.unpack(
                ">IIB", data[i + 8:i + 17])
            if unit == 1:  # pixels per metre → dpi (Pillow does the same)
                dpi_x, dpi_y = px_m * 0.0254, py_m * 0.0254
            break
        if ctype == b"IDAT" or ctype == b"IEND":
            break
        i += 12 + length
    return {"format": "png", "width_px": w, "height_px": h,
            "dpi_x": dpi_x, "dpi_y": dpi_y}


# DIB header sizes a real BMP can open with (BITMAPCOREHEADER through
# BITMAPV5HEADER).  The `BM` magic alone is two ASCII letters — requiring
# a known header size keeps text that happens to start with "BM" from
# sniffing as an image (routing is by magic here, not by the reference's
# file extension, so the sniff must be stricter than two bytes).
_BMP_DIB_SIZES = frozenset({12, 40, 52, 56, 64, 108, 124})


def _bmp_meta(data: bytes) -> Dict[str, float]:
    if len(data) < 26 or data[:2] != b"BM":
        raise ImageParseError("bmp: truncated header")
    dib = int.from_bytes(data[14:18], "little")
    if dib == 12:  # BITMAPCOREHEADER: 16-bit dims, no density fields
        w = int.from_bytes(data[18:20], "little")
        h = int.from_bytes(data[20:22], "little")
        xppm = yppm = 0
    elif dib in _BMP_DIB_SIZES:
        if len(data) < 46:
            raise ImageParseError("bmp: truncated BITMAPINFOHEADER")
        w = int.from_bytes(data[18:22], "little", signed=True)
        # negative height = top-down row order; |h| is the pixel height
        h = abs(int.from_bytes(data[22:26], "little", signed=True))
        xppm = int.from_bytes(data[38:42], "little", signed=True)
        yppm = int.from_bytes(data[42:46], "little", signed=True)
    else:
        raise ImageParseError(f"bmp: unknown DIB header size {dib}")
    if w <= 0 or h <= 0:
        raise ImageParseError("bmp: zero dimension")
    # Pillow BmpImagePlugin: info["dpi"] = pixels_per_meter / 39.3701;
    # ppm 0 (density unset, the common case) parses as dpi 0, which
    # normalize_dpi_value rejects into the 150 default downstream.
    dpi_x = xppm / 39.3701 if xppm > 0 else None
    dpi_y = yppm / 39.3701 if yppm > 0 else None
    return {"format": "bmp", "width_px": w, "height_px": h,
            "dpi_x": dpi_x, "dpi_y": dpi_y}


def _tiff_rational(data: bytes, off: int, end: str) -> Optional[float]:
    if off + 8 > len(data):
        return None
    num = int.from_bytes(data[off:off + 4], end)
    den = int.from_bytes(data[off + 4:off + 8], end)
    if den == 0:
        return None
    return num / den


def _tiff_meta(data: bytes) -> Dict[str, float]:
    if data[:4] == b"II\x2a\x00":
        end = "little"
    elif data[:4] == b"MM\x00\x2a":
        end = "big"
    else:
        raise ImageParseError("tiff: bad byte-order header")
    ifd = int.from_bytes(data[4:8], end)
    if ifd + 2 > len(data):
        raise ImageParseError("tiff: truncated IFD offset")
    n_entries = int.from_bytes(data[ifd:ifd + 2], end)
    w = h = None
    xres = yres = None
    res_unit = None
    for i in range(n_entries):
        e = ifd + 2 + 12 * i
        if e + 12 > len(data):
            break
        tag = int.from_bytes(data[e:e + 2], end)
        ftype = int.from_bytes(data[e + 2:e + 4], end)
        val = data[e + 8:e + 12]
        if ftype == 3:   # SHORT: left-justified in the 4-byte value field
            iv = int.from_bytes(val[:2], end)
        else:            # LONG / offset
            iv = int.from_bytes(val, end)
        if tag == 256:
            w = iv
        elif tag == 257:
            h = iv
        elif tag == 282 and ftype == 5:
            xres = _tiff_rational(data, iv, end)
        elif tag == 283 and ftype == 5:
            yres = _tiff_rational(data, iv, end)
        elif tag == 296:
            res_unit = iv
    if not w or not h:
        raise ImageParseError("tiff: missing dimension tags")
    # Pillow TiffImagePlugin parity: unit 2 (inch) → resolution IS dpi;
    # unit 3 (cm) → ×2.54; an ABSENT 296 tag → the TIFF spec default unit
    # is inch, and Pillow's "resunit is None" branch fills info["dpi"] =
    # (xres, yres); only unit 1 (EXPLICIT "no absolute unit") leaves
    # info["dpi"] unset, so the reference's im.info.get("dpi", (150, 150))
    # default applies there alone.
    if res_unit == 2 or res_unit is None:
        dpi_x, dpi_y = xres, yres
    elif res_unit == 3:
        dpi_x = xres * 2.54 if xres is not None else None
        dpi_y = yres * 2.54 if yres is not None else None
    else:
        dpi_x = dpi_y = None
    return {"format": "tiff", "width_px": int(w), "height_px": int(h),
            "dpi_x": dpi_x, "dpi_y": dpi_y}


def _webp_meta(data: bytes) -> Dict[str, float]:
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ImageParseError("webp: bad RIFF container")
    i = 12
    w = h = None
    while i + 8 <= len(data):
        fourcc = data[i:i + 4]
        size = int.from_bytes(data[i + 4:i + 8], "little")
        body = data[i + 8:i + 8 + size]
        if fourcc == b"VP8X" and len(body) >= 10:
            # extended header: 24-bit canvas dims, minus-one coded
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            break
        if fourcc == b"VP8 " and len(body) >= 10:
            # lossy: key-frame start code 9D 01 2A, then 14-bit dims
            if body[3:6] != b"\x9d\x01\x2a":
                raise ImageParseError("webp: bad VP8 key frame")
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
            break
        if fourcc == b"VP8L" and len(body) >= 5:
            # lossless: 0x2F signature, then 2×14-bit minus-one dims
            if body[0] != 0x2F:
                raise ImageParseError("webp: bad VP8L signature")
            bits = int.from_bytes(body[1:5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            break
        i += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if not w or not h:
        raise ImageParseError("webp: no VP8/VP8L/VP8X bitstream chunk")
    # WebP carries no density metadata — the 150 default always applies
    return {"format": "webp", "width_px": w, "height_px": h,
            "dpi_x": None, "dpi_y": None}


def sniff_image(data: bytes) -> Optional[str]:
    """Magic-byte detection for the reference's full image whitelist
    (app.py:101-102).  BMP additionally requires a known DIB header size
    (see _BMP_DIB_SIZES) because `BM` alone is plausible text."""
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:2] == b"BM" and len(data) >= 18 \
            and int.from_bytes(data[14:18], "little") in _BMP_DIB_SIZES:
        return "bmp"
    if data[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        return "tiff"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    return None


def prepare_image(data: bytes) -> Dict[str, float]:
    """The reference's prepared single page: dimensions, normalized dpi,
    and the px→pt projection (app.py:1482-1492).  Missing density metadata
    takes the 150 dpi default BEFORE normalization, exactly like
    ``im.info.get("dpi", (150, 150))``."""
    kind = sniff_image(bytes(data or b""))
    try:
        if kind == "jpeg":
            meta = _jpeg_meta(bytes(data))
        elif kind == "png":
            meta = _png_meta(bytes(data))
        elif kind == "bmp":
            meta = _bmp_meta(bytes(data))
        elif kind == "tiff":
            meta = _tiff_meta(bytes(data))
        elif kind == "webp":
            meta = _webp_meta(bytes(data))
        else:
            raise ImageParseError("not a supported image")
    except struct.error as exc:
        # a payload that sniffed as an image but ends mid-structure:
        # truncated bytes ARE a parse error, for every format parser
        raise ImageParseError(f"{kind}: truncated ({exc})") from exc
    dpi_x = normalize_dpi_value(
        meta["dpi_x"] if meta["dpi_x"] is not None else DEFAULT_IMAGE_DPI)
    dpi_y = normalize_dpi_value(
        meta["dpi_y"] if meta["dpi_y"] is not None else dpi_x)
    w, h = meta["width_px"], meta["height_px"]
    return {
        "format": meta["format"],
        "width_px": w, "height_px": h,
        "dpi_x": dpi_x, "dpi_y": dpi_y,
        "width_pt": w * 72.0 / dpi_x,
        "height_pt": h * 72.0 / dpi_y,
        "page_count": 1,
    }


# ---------------------------------------------------------------------------
# Synthesis helpers (tests/corpus only): minimal-but-real image headers with
# deterministic fake pixel bodies.
# ---------------------------------------------------------------------------


def make_fake_jpeg(width: int, height: int, dpi: Optional[int] = None,
                   units: int = 1) -> bytes:
    """SOI + JFIF APP0 (+density) + SOF0 + fake scan + EOI."""
    d = dpi if dpi is not None else 0
    app0 = (b"JFIF\x00\x01\x02" + bytes([units if dpi is not None else 0])
            + d.to_bytes(2, "big") + d.to_bytes(2, "big") + b"\x00\x00")
    sof = (b"\x08" + height.to_bytes(2, "big") + width.to_bytes(2, "big")
           + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    return (b"\xff\xd8"
            + b"\xff\xe0" + (len(app0) + 2).to_bytes(2, "big") + app0
            + b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
            + b"fakescan" * 4 + b"\xff\xd9")


def make_fake_png(width: int, height: int,
                  dpi: Optional[float] = None) -> bytes:
    """Signature + IHDR (+pHYs) + IEND; CRCs are zeroed (the metadata
    parser doesn't verify them, matching crawl tolerance)."""
    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (len(body).to_bytes(4, "big") + ctype + body
                + b"\x00\x00\x00\x00")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if dpi is not None:
        ppm = round(dpi / 0.0254)
        out += chunk(b"pHYs", struct.pack(">IIB", ppm, ppm, 1))
    return out + chunk(b"IEND", b"")


def make_fake_bmp(width: int, height: int,
                  dpi: Optional[float] = None,
                  top_down: bool = False) -> bytes:
    """File header + BITMAPINFOHEADER (no pixel array — metadata only).
    ``dpi`` is stored as round(dpi * 39.3701) pixels/metre, so the parsed
    value survives the same round trip Pillow would read back."""
    ppm = round(dpi * 39.3701) if dpi is not None else 0
    h_field = -height if top_down else height
    dib = struct.pack("<IiiHHIIiiII", 40, width, h_field, 1, 24, 0, 0,
                      ppm, ppm, 0, 0)
    file_hdr = b"BM" + (14 + len(dib)).to_bytes(4, "little") \
        + b"\x00\x00\x00\x00" + (14 + len(dib)).to_bytes(4, "little")
    return file_hdr + dib


def make_fake_tiff(width: int, height: int,
                   dpi: Optional[float] = None,
                   unit: Optional[int] = 2,
                   big_endian: bool = False) -> bytes:
    """Header + one IFD with tags 256/257 (+282/283/296 when ``dpi``).
    ``unit=2`` stores dpi directly; ``unit=3`` stores dpi/2.54 (i.e. the
    resolution value is per-cm, parsing back as value*2.54); ``unit=1``
    stores the rationals with the explicit no-absolute-unit marker →
    parser yields no dpi; ``unit=None`` writes 282/283 but OMITS tag 296
    (scanner-style output — spec default inch, parses back as dpi)."""
    end = "big" if big_endian else "little"

    def u16(v):
        return int(v).to_bytes(2, end)

    def u32(v):
        return int(v).to_bytes(4, end)

    entries = []

    def entry(tag, ftype, count, value_bytes):
        entries.append(u16(tag) + u16(ftype) + u32(count)
                       + value_bytes.ljust(4, b"\x00"))

    # dims as LONG (type 4)
    entry(256, 4, 1, u32(width))
    entry(257, 4, 1, u32(height))
    rationals = b""
    if dpi is not None:
        # store as num/den with den=100 so fractional per-cm values
        # round-trip exactly for the unit-3 case
        res = dpi / 2.54 if unit == 3 else dpi
        num = round(res * 100)
        # rational data sits after the IFD; offsets computed below
        n_res = 3 if unit is not None else 2  # 282, 283 (+296 if a unit)
        n_base = len(entries) + n_res
        ifd_size = 2 + 12 * n_base + 4
        data_off = 8 + ifd_size
        entry(282, 5, 1, u32(data_off))
        entry(283, 5, 1, u32(data_off + 8))
        if unit is not None:
            entry(296, 3, 1, u16(unit))
        rationals = (u32(num) + u32(100)) * 2
    hdr = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + u32(8)
    ifd = u16(len(entries)) + b"".join(entries) + u32(0)
    return hdr + ifd + rationals


def make_fake_webp(width: int, height: int,
                   variant: str = "vp8") -> bytes:
    """RIFF container with a VP8 (lossy), VP8L (lossless), or VP8X
    (extended) header chunk carrying real dimensions and a fake
    bitstream body."""
    if variant == "vp8l":
        bits = (width - 1) | ((height - 1) << 14)
        body = b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 8
        fourcc = b"VP8L"
    elif variant == "vp8x":
        body = (b"\x00\x00\x00\x00"
                + (width - 1).to_bytes(3, "little")
                + (height - 1).to_bytes(3, "little"))
        fourcc = b"VP8X"
    else:
        body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                + width.to_bytes(2, "little")
                + height.to_bytes(2, "little") + b"\x00" * 8)
        fourcc = b"VP8 "
    chunk = fourcc + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunk += b"\x00"
    return (b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP"
            + chunk)
