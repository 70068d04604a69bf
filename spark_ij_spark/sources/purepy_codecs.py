"""Pure-stdlib image codecs: PNG, baseline TIFF, and netpbm.

The target container has no PIL/tifffile, but the formats a real image
user hits first are implementable with nothing beyond ``zlib`` /
``struct`` / numpy — so these are REAL codec bodies, not stubs
(closing the reference-parity gap around `Spiji.java:1571-1614`'s
opener, which this engine reaches through
``sources/codecs.py``'s suffix dispatch).

Scope (documented, checked, and raising clear errors outside it):

- PNG — decode: 8/16-bit, gray / RGB / palette / gray+alpha / RGBA
  (alpha stripped on ingest), all five scanline filters, Adam7
  interlace (byte-aligned depths). Encode: filter-0 scanlines,
  8/16-bit gray and 8-bit RGB. CRCs written and verified with
  ``zlib.crc32``.
- TIFF — decode both byte orders: uncompressed, LZW (early-change,
  with horizontal-differencing predictor), Deflate (8 and old-style
  32946; per-strip zlib streams) and PackBits strips, gray
  uint8/uint16/uint32/int16/float32 and 8-bit RGB; multi-page IFD
  chains map to the image model's slice axis both directions.
  Encode: uncompressed little-endian baseline.
- PGM/PPM — binary P5/P6, 8/16-bit (16-bit is big-endian per spec).
- BMP — uncompressed BI_RGB: 8-bit palette / 24-bit / 32-bit decode
  (bottom-up and top-down), 8-bit gray / 24-bit encode.

Everything decodes to the [h][w] / [h][w][3] shapes ``ensure_3d``
normalizes, so the rest of the engine is format-agnostic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def _codec_errors(fmt: str):
    """Normalize a decoder's failure contract to ValueError: a corrupt
    or truncated stream must never escape as IndexError, KeyError,
    StopIteration, struct.error, zlib.error or an arithmetic error —
    a crawl-scale ingest quarantines on the documented ValueError and
    should not have to enumerate every internal slip a mangled byte
    can trigger (fuzzing with 3-byte mutations of valid streams
    surfaced 4 distinct non-ValueError types). The original
    exception stays chained for debugging; real resource errors
    (MemoryError, KeyboardInterrupt, ...) pass through untouched."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(data, *args, **kwargs):
            try:
                return fn(data, *args, **kwargs)
            except (
                IndexError,
                KeyError,
                StopIteration,
                EOFError,
                struct.error,
                zlib.error,
                ZeroDivisionError,
                OverflowError,
                RecursionError,  # data-controlled nesting (AVI/DICOM)
            ) as e:
                raise ValueError(
                    f"{fmt}: malformed stream ({type(e).__name__}: {e})"
                ) from e

        return wrapped

    return deco


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering → (height, stride) uint8."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f = raw[pos]
        pos += 1
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).astype(
            np.int32
        )
        pos += stride
        if f == 0:  # None
            cur = row
        elif f == 1:  # Sub: per-byte-lane cumulative sum mod 256
            lanes = row.reshape(-1, bpp)
            cur = (np.cumsum(lanes, axis=0) % 256).reshape(-1)
        elif f == 2:  # Up
            cur = (row + prev) % 256
        elif f == 3:  # Average (left-sequential)
            if bpp > 1:
                # vectorize across the bpp byte-lanes: width iterations
                # instead of width*bpp (the left-dependency chains per
                # PIXEL, not per byte — decode hot path)
                cur = row.reshape(-1, bpp).copy()
                pl = prev.reshape(-1, bpp)
                cur[0] = (cur[0] + pl[0] // 2) % 256
                for x in range(1, cur.shape[0]):
                    cur[x] = (cur[x] + (cur[x - 1] + pl[x]) // 2) % 256
                cur = cur.reshape(-1)
            else:
                cur = row.copy()
                for i in range(stride):
                    left = int(cur[i - 1]) if i >= 1 else 0
                    cur[i] = (row[i] + (left + prev[i]) // 2) % 256
        elif f == 4:  # Paeth (left-sequential)
            if bpp > 1:
                # same lane vectorization; np.where branch order
                # mirrors _paeth's a-then-b-then-c tie-breaking
                cur = row.reshape(-1, bpp).copy()
                pl = prev.reshape(-1, bpp)
                a = np.zeros(bpp, dtype=np.int32)
                c = np.zeros(bpp, dtype=np.int32)
                for x in range(cur.shape[0]):
                    b = pl[x]
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                    cur[x] = (cur[x] + pred) % 256
                    a, c = cur[x], b
                cur = cur.reshape(-1)
            else:
                cur = row.copy()
                for i in range(stride):
                    a0 = int(cur[i - 1]) if i >= 1 else 0
                    c0 = int(prev[i - 1]) if i >= 1 else 0
                    cur[i] = (row[i] + _paeth(a0, int(prev[i]), c0)) % 256
        else:
            raise ValueError(f"PNG: unknown filter type {f} on row {y}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


# Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _deinterlace_adam7(
    raw: bytes, width: int, height: int, bpp: int
) -> np.ndarray:
    """Adam7: seven independently-filtered sub-images, scattered back
    onto the full raster. Byte-aligned depths only (8/16-bit, which is
    all decode_png accepts), so each pass is a plain _unfilter over its
    own reduced stride followed by a strided numpy scatter."""
    out = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        if x0 >= width or y0 >= height:
            continue
        w_p = (width - x0 + dx - 1) // dx
        h_p = (height - y0 + dy - 1) // dy
        if w_p == 0 or h_p == 0:
            continue
        stride_p = w_p * bpp
        span = h_p * (stride_p + 1)
        sub = _unfilter(raw[pos : pos + span], h_p, stride_p, bpp)
        pos += span
        out[y0::dy, x0::dx, :] = sub.reshape(h_p, w_p, bpp)
    if pos != len(raw):
        raise ValueError("PNG: Adam7 data size mismatch")
    return out.reshape(height, width * bpp)


@_codec_errors("PNG")
def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != PNG_SIG:
        raise ValueError("PNG: bad signature")
    pos = 8
    ihdr = None
    plte = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: CRC mismatch in {ctype!r}")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG: missing IHDR or IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("PNG: nonstandard compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"PNG: unknown interlace method {interlace}")
    if depth not in (8, 16):
        raise ValueError(f"PNG: bit depth {depth} not supported (8/16 only)")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"PNG: color type {color} not supported")
    ch = _PNG_CHANNELS[color]
    bpp = ch * depth // 8
    stride = width * bpp
    raw = zlib.decompress(b"".join(idat))
    if interlace == 1:
        flat = _deinterlace_adam7(raw, width, height, bpp)
    else:
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG: decompressed size mismatch")
        flat = _unfilter(raw, height, stride, bpp)
    if depth == 16:
        arr = flat.reshape(height, stride).view(">u2").astype(np.uint16)
        arr = arr.reshape(height, width, ch)
    else:
        arr = flat.reshape(height, width, ch)
    if color == 3:  # palette index → RGB
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        arr = plte[arr[:, :, 0]]
    elif color == 4:  # gray+alpha → gray
        arr = arr[:, :, :1]
    elif color == 6:  # RGBA → RGB
        arr = arr[:, :, :3]
    if arr.shape[2] == 1:
        arr = arr[:, :, 0]
    return arr


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Filter-0 PNG. Accepts (h,w[,1]) uint8/uint16 gray, (h,w,3) or
    (h,w,1,3) uint8 RGB."""
    a = np.asarray(arr)
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.ndim == 2:
        if a.dtype == np.uint8:
            depth, color = 8, 0
            payload = a
        elif a.dtype == np.uint16:
            depth, color = 16, 0
            payload = a.astype(">u2")
        else:
            raise ValueError(
                f"PNG encode: gray dtype {a.dtype} unsupported (uint8/uint16; "
                "use .tif for float/int32 data)"
            )
    elif a.ndim == 3 and a.shape[2] == 3 and a.dtype == np.uint8:
        depth, color = 8, 2
        payload = a
    else:
        raise ValueError(f"PNG encode: unsupported shape/dtype {a.shape}/{a.dtype}")
    h, w = a.shape[0], a.shape[1]
    body = payload.tobytes()
    stride = len(body) // h
    scan = b"".join(
        b"\x00" + body[y * stride : (y + 1) * stride] for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan, 6))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# TIFF (little-endian baseline)
# ---------------------------------------------------------------------------

_T_WIDTH, _T_HEIGHT, _T_BITS, _T_COMP = 256, 257, 258, 259
_T_PHOTO, _T_STRIP_OFF, _T_SPP, _T_ROWS_PER_STRIP = 262, 273, 277, 278
_T_STRIP_CNT, _T_SAMPLE_FMT = 279, 339

_FMT_UINT, _FMT_INT, _FMT_FLOAT = 1, 2, 3

_TIFF_DTYPES = {
    (8, _FMT_UINT): np.uint8,
    (16, _FMT_UINT): np.uint16,
    (32, _FMT_UINT): np.uint32,
    (16, _FMT_INT): np.int16,
    (32, _FMT_FLOAT): np.float32,
}


def _read_ifd(data: bytes, off: int, bo: str = "<") -> tuple[dict[int, list], int]:
    (n,) = struct.unpack_from(f"{bo}H", data, off)
    tags: dict[int, list] = {}
    for i in range(n):
        tag, ttype, count = struct.unpack_from(f"{bo}HHI", data, off + 2 + 12 * i)
        voff = off + 2 + 12 * i + 8
        size = {1: 1, 3: 2, 4: 4, 11: 4}.get(ttype)
        if size is None:
            continue  # tag type we don't need (rationals etc.)
        total = size * count
        if total > 4:
            (pos,) = struct.unpack_from(f"{bo}I", data, voff)
        else:
            pos = voff
        fmt = {1: "B", 3: "H", 4: "I", 11: "f"}[ttype]
        tags[tag] = list(struct.unpack_from(f"{bo}{count}{fmt}", data, pos))
    (nxt,) = struct.unpack_from(f"{bo}I", data, off + 2 + 12 * n)
    return tags, nxt


def _lzw_decode(buf: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, codes
    start at 9 bits, ClearCode=256, EOI=257, first table entry 258,
    and the TIFF "early change" — the code width grows one code EARLIER
    than generic LZW, when the table reaches 2^width - 1."""
    table: list[bytes] = []
    width = 9

    def reset() -> None:
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    out = bytearray()
    prev: bytes | None = None
    bitpos, nbits = 0, len(buf) * 8
    while bitpos + width <= nbits:
        byte0 = bitpos // 8
        chunk = int.from_bytes(buf[byte0 : byte0 + 3].ljust(3, b"\x00"), "big")
        code = (chunk >> (24 - (bitpos % 8) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == 256:
            reset()
            prev = None
            continue
        if code == 257:
            break
        if prev is None:
            if code > 255:
                raise ValueError("TIFF LZW: literal expected after clear")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
            else:
                raise ValueError("TIFF LZW: code out of range")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        if len(table) >= (1 << width) - 1 and width < 12:  # early change
            width += 1
        if expected and len(out) >= expected:
            break
    return bytes(out)


def _packbits_decode(buf: bytes) -> bytes:
    """TIFF PackBits (compression 32773): run-length byte scheme."""
    out = bytearray()
    i = 0
    while i < len(buf):
        n = buf[i]
        i += 1
        if n < 128:
            out += buf[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([buf[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    return bytes(out)


_T_PREDICTOR = 317


def tiff_is_color(data: bytes) -> bool:
    """True when the first IFD's SamplesPerPixel is 3 (RGB) — the
    disambiguator ``codecs.decode_bytes`` needs: a ``(h, w, 3)`` TIFF
    decode is otherwise indistinguishable from a 3-page grayscale
    stack (both are legal and both occur)."""
    if data[:4] not in (b"MM\x00*", b"II*\x00"):
        raise ValueError("TIFF: bad header")
    bo = ">" if data[:4] == b"MM\x00*" else "<"
    (off,) = struct.unpack_from(f"{bo}I", data, 4)
    tags, _ = _read_ifd(data, off, bo)
    return tags.get(_T_SPP, [1])[0] == 3


@_codec_errors("TIFF")
def decode_tiff(data: bytes) -> np.ndarray:
    if data[:4] == b"MM\x00*":
        bo = ">"
    elif data[:4] == b"II*\x00":
        bo = "<"
    else:
        raise ValueError("TIFF: bad header")
    (off,) = struct.unpack_from(f"{bo}I", data, 4)
    pages = []
    while off:
        tags, off = _read_ifd(data, off, bo)
        w = tags[_T_WIDTH][0]
        h = tags[_T_HEIGHT][0]
        comp = tags.get(_T_COMP, [1])[0]
        if comp not in (1, 5, 8, 32773, 32946):
            raise ValueError(
                f"TIFF: compression {comp} not supported"
                " (none/LZW/Deflate/PackBits)"
            )
        spp = tags.get(_T_SPP, [1])[0]
        bits = tags.get(_T_BITS, [8])[0]
        fmt = tags.get(_T_SAMPLE_FMT, [_FMT_UINT])[0]
        predictor = tags.get(_T_PREDICTOR, [1])[0]
        dt = _TIFF_DTYPES.get((bits, fmt))
        if dt is None:
            raise ValueError(f"TIFF: {bits}-bit sample format {fmt} not supported")
        offs = tags[_T_STRIP_OFF]
        cnts = tags.get(_T_STRIP_CNT, [h * w * spp * bits // 8])
        rows_per = tags.get(_T_ROWS_PER_STRIP, [h])[0]
        row_bytes = w * spp * bits // 8
        strips = []
        for i, (o, c) in enumerate(zip(offs, cnts)):
            chunk = data[o : o + c]
            if comp == 5:
                nrows = min(rows_per, h - i * rows_per)
                chunk = _lzw_decode(chunk, nrows * row_bytes)
            elif comp in (8, 32946):
                # Deflate (8 = TIFF 6.0 "Adobe", 32946 = old-style):
                # each strip is an independent zlib stream
                chunk = zlib.decompress(chunk)
            elif comp == 32773:
                chunk = _packbits_decode(chunk)
            strips.append(chunk)
        buf = b"".join(strips)
        arr = np.frombuffer(buf, dtype=np.dtype(dt).newbyteorder(bo)).astype(dt)
        arr = arr.reshape((h, w) if spp == 1 else (h, w, spp))
        if predictor == 2:
            # horizontal differencing: rows stored as per-channel deltas
            arr = np.cumsum(
                arr.astype(np.int64), axis=1, dtype=np.int64
            ).astype(dt)
        elif predictor != 1:
            raise ValueError(f"TIFF: predictor {predictor} not supported")
        pages.append(arr)
    if not pages:
        raise ValueError("TIFF: no pages")
    if len(pages) == 1:
        return pages[0]
    if any(p.shape != pages[0].shape or p.ndim != 2 for p in pages):
        raise ValueError("TIFF: multi-page stacks must be same-shape grayscale")
    return np.stack(pages, axis=-1)  # [h][w][slices]


def _tiff_entry(tag: int, ttype: int, count: int, value: int) -> bytes:
    return struct.pack("<HHII", tag, ttype, count, value)


def encode_tiff(arr: np.ndarray) -> bytes:
    """Baseline little-endian TIFF. Gray [h][w] / stack [h][w][s] in
    uint8/uint16/uint32/int16/float32, or 8-bit RGB (h,w,1,3)/(h,w,3)."""
    a = np.asarray(arr)
    rgb = False
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 3 and a.dtype == np.uint8:
        rgb = True
        pages = [a]
    elif a.ndim == 2:
        pages = [a]
    elif a.ndim == 3:
        pages = [a[:, :, i] for i in range(a.shape[2])]
    else:
        raise ValueError(f"TIFF encode: unsupported shape {a.shape}")
    rev = {v: k for k, v in _TIFF_DTYPES.items()}
    key = rev.get(a.dtype.type)
    if key is None:
        raise ValueError(f"TIFF encode: unsupported dtype {a.dtype}")
    bits, fmt = key
    spp = 3 if rgb else 1
    h, w = pages[0].shape[0], pages[0].shape[1]

    out = bytearray(b"II*\x00")
    out += struct.pack("<I", 8)  # first IFD offset placeholder target
    ifd_off = 8
    blobs = []
    # layout: header(8) | per page: [IFD][extra values][pixel data]
    n_entries = 10
    for i, page in enumerate(pages):
        body = np.ascontiguousarray(page, dtype=np.dtype(a.dtype).newbyteorder("<")).tobytes()
        strip_len = len(body)
        if strip_len & 1:
            # TIFF 6.0: IFDs and out-of-line values begin on WORD
            # boundaries — an odd pixel body would put the next page's
            # IFD at an odd offset (strict readers reject the file;
            # StripByteCounts below keeps the true unpadded length)
            body += b"\x00"
        ifd_size = 2 + n_entries * 12 + 4
        extra_off = ifd_off + ifd_size
        extras = bytearray()
        if spp == 3:  # BitsPerSample needs 3 shorts → out-of-line
            bits_val = extra_off + len(extras)
            extras += struct.pack("<HHH", bits, bits, bits) + b"\x00\x00"
        else:
            bits_val = bits
        data_off = extra_off + len(extras)
        nxt = data_off + len(body) if i + 1 < len(pages) else 0
        ifd = struct.pack("<H", n_entries)
        ifd += _tiff_entry(_T_WIDTH, 4, 1, w)
        ifd += _tiff_entry(_T_HEIGHT, 4, 1, h)
        ifd += _tiff_entry(_T_BITS, 3, spp, bits_val)
        ifd += _tiff_entry(_T_COMP, 3, 1, 1)
        ifd += _tiff_entry(_T_PHOTO, 3, 1, 2 if rgb else 1)
        ifd += _tiff_entry(_T_STRIP_OFF, 4, 1, data_off)
        ifd += _tiff_entry(_T_SPP, 3, 1, spp)
        ifd += _tiff_entry(_T_ROWS_PER_STRIP, 4, 1, h)
        ifd += _tiff_entry(_T_STRIP_CNT, 4, 1, strip_len)
        ifd += _tiff_entry(_T_SAMPLE_FMT, 3, 1, fmt)
        ifd += struct.pack("<I", nxt)
        blobs.append(bytes(ifd) + bytes(extras) + body)
        ifd_off = nxt
    return bytes(out) + b"".join(blobs)


# ---------------------------------------------------------------------------
# DICOM (uncompressed little-endian; the format the reference's RDD
# tests exercise, IjRDDTests.scala:83-99)
# ---------------------------------------------------------------------------

_DCM_EXPLICIT_LE = "1.2.840.10008.1.2.1"
_DCM_IMPLICIT_LE = "1.2.840.10008.1.2"

# VRs whose explicit-VR encoding uses a 2-byte reserved field + 4-byte
# length instead of a 2-byte length.
_DCM_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UT", b"UN"}


def _dcm_skip_undefined(data: bytes, pos: int, depth: int = 0) -> int:
    """Skip an undefined-length sequence: scan item-by-item to the
    Sequence Delimitation Item (FFFE,E0DD). Nesting depth is
    data-controlled, so it is capped: a real DICOM SQ tree is a few
    levels deep, while a corrupt stream of repeated undefined-length
    item headers would otherwise recurse to RecursionError."""
    if depth > 32:
        raise ValueError("DICOM: sequence nesting too deep (corrupt stream)")
    while pos < len(data):
        group, elem = struct.unpack_from("<HH", data, pos)
        (length,) = struct.unpack_from("<I", data, pos + 4)
        pos += 8
        if (group, elem) == (0xFFFE, 0xE0DD):
            return pos
        if (group, elem) == (0xFFFE, 0xE000) and length == 0xFFFFFFFF:
            pos = _dcm_skip_undefined(data, pos, depth + 1)
        else:
            pos += length
    raise ValueError("DICOM: unterminated undefined-length sequence")


@_codec_errors("DICOM")
def decode_dicom(data: bytes) -> np.ndarray:
    """Minimal single-frame DICOM: 128-byte preamble + 'DICM', explicit
    or implicit VR little endian, uncompressed PixelData. Returns raw
    stored pixels (uint8/uint16/int16; MONOCHROME); rescale slope/
    intercept are NOT applied — the engine's float-converting
    ``applyOffset`` op (CT −1024) is the explicit path for that."""
    if data[128:132] != b"DICM":
        raise ValueError("DICOM: missing DICM marker")
    pos = 132
    explicit = True
    syntax = _DCM_EXPLICIT_LE
    attrs: dict[tuple[int, int], bytes] = {}
    while pos + 8 <= len(data):
        group, elem = struct.unpack_from("<HH", data, pos)
        if group == 0x0002 or explicit:
            vr = data[pos + 4 : pos + 6]
            if vr in _DCM_LONG_VRS:
                (length,) = struct.unpack_from("<I", data, pos + 8)
                body_off = pos + 12
            elif vr.isalpha() and vr.isupper():
                (length,) = struct.unpack_from("<H", data, pos + 6)
                body_off = pos + 8
            else:  # not a VR → actually implicit encoding
                (length,) = struct.unpack_from("<I", data, pos + 4)
                body_off = pos + 8
                vr = b"UN"
        else:
            (length,) = struct.unpack_from("<I", data, pos + 4)
            body_off = pos + 8
            vr = b"UN"
        if length == 0xFFFFFFFF:
            if (group, elem) == (0x7FE0, 0x0010):
                raise ValueError("DICOM: encapsulated PixelData not supported")
            pos = _dcm_skip_undefined(data, body_off)
            continue
        body = data[body_off : body_off + length]
        pos = body_off + length
        attrs[(group, elem)] = body
        if (group, elem) == (0x0002, 0x0010):
            syntax = body.rstrip(b"\x00").decode("ascii", "ignore")
            if syntax == _DCM_IMPLICIT_LE:
                explicit = False
            elif syntax != _DCM_EXPLICIT_LE:
                raise ValueError(
                    f"DICOM: transfer syntax {syntax} not supported "
                    "(uncompressed little-endian only)"
                )
        if (group, elem) == (0x7FE0, 0x0010):
            break  # PixelData is last in practice; stop scanning

    def us(tag, default=None):
        b = attrs.get(tag)
        if b is None:
            if default is None:
                raise ValueError(f"DICOM: missing required tag {tag}")
            return default
        return struct.unpack_from("<H", b, 0)[0]

    rows, cols = us((0x0028, 0x0010)), us((0x0028, 0x0011))
    bits = us((0x0028, 0x0100), 16)
    signed = us((0x0028, 0x0103), 0) == 1
    spp = us((0x0028, 0x0002), 1)
    if spp != 1:
        raise ValueError("DICOM: only single-sample (MONOCHROME) supported")
    pix = attrs.get((0x7FE0, 0x0010))
    if pix is None:
        raise ValueError("DICOM: no PixelData")
    if bits == 8:
        dt = np.int8 if signed else np.uint8
    elif bits == 16:
        dt = np.int16 if signed else np.uint16
    else:
        raise ValueError(f"DICOM: BitsAllocated {bits} not supported")
    arr = np.frombuffer(pix, dtype=np.dtype(dt).newbyteorder("<"), count=rows * cols)
    return arr.astype(dt).reshape(rows, cols)


def _dcm_elem(group: int, elem: int, vr: bytes, body: bytes) -> bytes:
    if len(body) % 2:
        body += b"\x00"
    if vr in _DCM_LONG_VRS:
        return struct.pack("<HH2sHI", group, elem, vr, 0, len(body)) + body
    return struct.pack("<HH2sH", group, elem, vr, len(body)) + body


def encode_dicom(arr: np.ndarray) -> bytes:
    """Minimal secondary-capture-style Explicit VR LE file (enough for
    the decoder and for ImageJ-class readers): preamble, file meta with
    transfer syntax, Rows/Columns/Bits*, PixelData."""
    a = np.asarray(arr)
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.ndim != 2:
        raise ValueError(f"DICOM encode: single-frame 2D only, got {a.shape}")
    if a.dtype in (np.dtype(np.uint8), np.dtype(np.int8)):
        bits = 8
    elif a.dtype in (np.dtype(np.uint16), np.dtype(np.int16)):
        bits = 16
    else:
        raise ValueError(f"DICOM encode: unsupported dtype {a.dtype}")
    signed = a.dtype in (np.dtype(np.int8), np.dtype(np.int16))
    meta = _dcm_elem(0x0002, 0x0010, b"UI", _DCM_EXPLICIT_LE.encode())
    h, w = a.shape

    def short(group, elem, v):
        return _dcm_elem(group, elem, b"US", struct.pack("<H", v))

    body = (
        short(0x0028, 0x0002, 1)
        + _dcm_elem(0x0028, 0x0004, b"CS", b"MONOCHROME2")
        + short(0x0028, 0x0010, h)
        + short(0x0028, 0x0011, w)
        + short(0x0028, 0x0100, bits)
        + short(0x0028, 0x0101, bits)
        + short(0x0028, 0x0102, bits - 1)
        + short(0x0028, 0x0103, 1 if signed else 0)
        + _dcm_elem(
            0x7FE0,
            0x0010,
            b"OW",
            np.ascontiguousarray(a, dtype=a.dtype.newbyteorder("<")).tobytes(),
        )
    )
    return b"\x00" * 128 + b"DICM" + meta + body


# ---------------------------------------------------------------------------
# netpbm (P5 gray / P6 RGB, binary)
# ---------------------------------------------------------------------------


@_codec_errors("PNM")
def decode_pnm(data: bytes) -> np.ndarray:
    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("PNM: only binary P5/P6 supported")
    rgb = data[:2] == b"P6"
    # header = magic, width, height, maxval separated by whitespace
    # (comment lines start with '#')
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while data[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    dt = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    ch = 3 if rgb else 1
    arr = np.frombuffer(data, dtype=dt, count=h * w * ch, offset=pos)
    arr = arr.astype(np.uint16 if maxval > 255 else np.uint8)
    return arr.reshape(h, w, ch)[:, :, 0] if ch == 1 else arr.reshape(h, w, ch)


def encode_pnm(arr: np.ndarray) -> bytes:
    a = np.asarray(arr)
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    rgb = a.ndim == 3 and a.shape[2] == 3
    if not rgb and a.ndim != 2:
        raise ValueError(f"PNM encode: unsupported shape {a.shape}")
    if a.dtype == np.uint8:
        maxval, body = 255, a.tobytes()
    elif a.dtype == np.uint16 and not rgb:
        maxval, body = 65535, a.astype(">u2").tobytes()
    else:
        raise ValueError(f"PNM encode: unsupported dtype {a.dtype}")
    magic = b"P6" if rgb else b"P5"
    head = magic + b"\n%d %d\n%d\n" % (a.shape[1], a.shape[0], maxval)
    return head + body


# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER, BI_RGB uncompressed)
# ---------------------------------------------------------------------------


@_codec_errors("BMP")
def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed BI_RGB Windows bitmaps: 24-bit BGR and 32-bit BGRA
    (alpha stripped) to RGB, 8-bit paletted (grayscale palettes become
    gray, color palettes expand to RGB). Bottom-up rows (the common
    case) and top-down (negative height) both handled; rows are padded
    to 4-byte boundaries per spec."""
    if data[:2] != b"BM":
        raise ValueError("BMP: bad signature")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("BMP: BITMAPCOREHEADER (OS/2) not supported")
    w, h = struct.unpack_from("<ii", data, 18)
    bpp, comp = struct.unpack_from("<HI", data, 28)
    (clr_used,) = struct.unpack_from("<I", data, 46)
    if comp != 0:
        raise ValueError(f"BMP: compression {comp} not supported (BI_RGB only)")
    topdown = h < 0
    h = abs(h)
    stride = ((bpp * w + 31) // 32) * 4
    rows = np.frombuffer(data, np.uint8, count=h * stride, offset=pix_off)
    rows = rows.reshape(h, stride)
    if not topdown:
        rows = rows[::-1]
    if bpp == 24:
        arr = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    elif bpp == 32:
        arr = rows[:, : w * 4].reshape(h, w, 4)[:, :, 2::-1]  # BGRA → RGB
    elif bpp == 8:
        n_pal = clr_used or 256
        pal = np.frombuffer(
            data, np.uint8, count=n_pal * 4, offset=14 + hdr_size
        ).reshape(n_pal, 4)[:, 2::-1]  # BGRX → RGB
        idx = rows[:, :w]
        if np.all(pal[:, 0] == pal[:, 1]) and np.all(pal[:, 1] == pal[:, 2]):
            arr = pal[idx, 0]  # grayscale palette → gray
        else:
            arr = pal[idx]
    else:
        raise ValueError(f"BMP: {bpp}-bit not supported (8/24/32)")
    return np.ascontiguousarray(arr)


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit BI_RGB for RGB uint8; 8-bit grayscale-palette for gray
    uint8. Rows bottom-up, 4-byte padded."""
    a = np.asarray(arr)
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.dtype != np.uint8:
        raise ValueError(f"BMP encode: dtype {a.dtype} unsupported (uint8 only)")
    h, w = a.shape[0], a.shape[1]
    if a.ndim == 3 and a.shape[2] == 3:
        bpp, pal = 24, b""
        body_rows = a[:, :, ::-1].reshape(h, w * 3)  # RGB → BGR
    elif a.ndim == 2:
        bpp = 8
        pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
        body_rows = a
    else:
        raise ValueError(f"BMP encode: unsupported shape {a.shape}")
    stride = ((bpp * w + 31) // 32) * 4
    padded = np.zeros((h, stride), np.uint8)
    padded[:, : body_rows.shape[1]] = body_rows
    body = padded[::-1].tobytes()  # bottom-up
    pix_off = 14 + 40 + len(pal)
    header = struct.pack("<2sIHHI", b"BM", pix_off + len(body), 0, 0, pix_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(body), 2835, 2835,
        256 if bpp == 8 else 0, 0,
    )
    return header + info + pal + body


# --------------------------------------------------------------------------
# GIF (87a/89a) — pure stdlib
# --------------------------------------------------------------------------

def _gif_lzw_decode(buf: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (GIF89a spec, appendix F): LSB-first bit
    packing, initial width = min_code_size + 1, ClearCode =
    2^min_code_size, EOI = Clear + 1, and (unlike TIFF) NO early
    change — the width grows when the table reaches 2^width, cap 12."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh() -> list[bytes]:
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, nbits = 0, len(buf) * 8
    while bitpos + width <= nbits:
        byte0 = bitpos // 8
        chunk = int.from_bytes(buf[byte0 : byte0 + 3].ljust(3, b"\x00"), "little")
        code = (chunk >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = fresh()
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: literal expected after clear")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
            else:
                raise ValueError("GIF LZW: code out of range")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _gif_deinterlace(idx: np.ndarray) -> np.ndarray:
    """GIF 4-pass row interlace: rows 0::8, 4::8, 2::4, 1::2."""
    h = idx.shape[0]
    out = np.empty_like(idx)
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        n = len(range(start, h, step))
        out[start::step] = idx[src : src + n]
        src += n
    return out


@_codec_errors("GIF")
def decode_gif(data: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a stream: global or local color
    table, optional interlace; grayscale palettes become gray (h, w),
    color palettes expand to RGB (h, w, 3) — same convention as the
    BMP/PNG palette paths."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad signature")
    sw, sh, flags = struct.unpack_from("<HHB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, count=n * 3, offset=pos).reshape(n, 3)
        pos += n * 3
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unexpected block 0x{block:02x}")
        _, _, w, h, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = np.frombuffer(data, np.uint8, count=n * 3, offset=pos).reshape(n, 3)
            pos += n * 3
        if pal is None:
            raise ValueError("GIF: no color table")
        min_code_size = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos]:
            ln = data[pos]
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        raw = _gif_lzw_decode(bytes(lzw), min_code_size)
        if len(raw) < w * h:
            raise ValueError("GIF: truncated pixel data")
        idx = np.frombuffer(raw[: w * h], np.uint8).reshape(h, w)
        if iflags & 0x40:
            idx = _gif_deinterlace(idx)
        if np.all(pal[:, 0] == pal[:, 1]) and np.all(pal[:, 1] == pal[:, 2]):
            return np.ascontiguousarray(pal[idx, 0])  # grayscale palette
        return np.ascontiguousarray(pal[idx])
    raise ValueError("GIF: no image descriptor found")


def encode_gif(arr: np.ndarray) -> bytes:
    """Grayscale GIF87a: 256-gray palette, literal LZW codes with a
    Clear emitted before the 9-bit width would grow (valid,
    modestly-compressed output every decoder accepts). RGB input would
    need palette quantization — out of scope, raise like the other
    palette encoders."""
    a = np.asarray(arr)
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.ndim != 2:
        raise ValueError(f"GIF encode: grayscale only, got shape {a.shape}")
    if a.dtype != np.uint8:
        raise ValueError(f"GIF encode: dtype {a.dtype} unsupported (uint8 only)")
    h, w = a.shape
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # GCT, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([8])  # min code size
    # LSB-first bit writer, all codes 9 bits wide
    bits = bytearray()
    acc = n_acc = 0

    def emit(code: int) -> None:
        nonlocal acc, n_acc
        acc |= code << n_acc
        n_acc += 9
        while n_acc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            n_acc -= 8

    emit(256)  # initial clear
    pending = 0  # decoder table entries added since last clear
    for p in a.tobytes():
        # decoder grows past 9 bits once its table hits 512 entries
        # (258 base + 253 adds); clear first so every code stays 9-bit
        if pending == 253:
            emit(256)
            pending = 0
        emit(p)
        pending += 1
    emit(257)  # EOI
    if n_acc:
        bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


# --------------------------------------------------------------------------
# WAV (RIFF PCM — stdlib `wave` container I/O)
# --------------------------------------------------------------------------


@_codec_errors("WAV")
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM to (samples[n][channels] int16, sample_rate).

    8-bit unsigned PCM is centered to signed (x−128, then scaled ×256
    so amplitudes share the int16 domain); 16-bit little-endian PCM is
    taken verbatim. Compressed WAVE formats (ADPCM, float, mu-law) are
    out of scope and raise via the stdlib parser.
    """
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            nch, sw, sr, nf = (
                w.getnchannels(),
                w.getsampwidth(),
                w.getframerate(),
                w.getnframes(),
            )
            raw = w.readframes(nf)
    except (wave.Error, EOFError, RuntimeError) as e:
        # the stdlib parser's corrupt-stream vocabulary (incl. a bare
        # RuntimeError from its internal chunk seek) → the documented
        # ValueError, same failure contract as the native decoders
        raise ValueError(
            f"WAV: malformed stream ({str(e) or type(e).__name__})"
        ) from e
    if sw == 1:
        arr = (np.frombuffer(raw, np.uint8).astype(np.int16) - 128) * 256
    elif sw == 2:
        arr = np.frombuffer(raw, "<i2")
    else:
        raise ValueError(f"WAV: {8 * sw}-bit PCM not supported (8/16)")
    return arr.reshape(-1, nch).copy(), sr


def encode_wav(arr: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(samples[, channels]) int16 → 16-bit PCM RIFF/WAVE bytes."""
    import io
    import wave

    a = np.asarray(arr)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError(f"WAV encode: unsupported shape {a.shape}")
    if a.dtype != np.int16:
        if not np.issubdtype(a.dtype, np.integer):
            raise ValueError(f"WAV encode: dtype {a.dtype} unsupported (int16)")
        if a.min() < -32768 or a.max() > 32767:
            raise ValueError("WAV encode: samples exceed the int16 domain")
        a = a.astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(a.shape[1])
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.ascontiguousarray(a, "<i2").tobytes())
    return buf.getvalue()


# --------------------------------------------------------------------------
# AVI (RIFF container, uncompressed 8-bit-palette DIB frames)
# --------------------------------------------------------------------------
# The video sibling of the BMP codec: frames are the same bottom-up
# 4-byte-padded 8-bit grayscale-palette DIBs, wrapped in the RIFF
# 'AVI ' container (hdrl: avih + one strl; movi: one '00db' chunk per
# frame). Lossy codecs (mpeg4/h264) stay environment-gated — this
# covers the uncompressed container path end-to-end.


@_codec_errors("AVI")
def decode_avi(data: bytes) -> np.ndarray:
    """Uncompressed 8-bit-palette AVI → [h][w][frames] uint8.

    Lenient RIFF walk: reads dims/bpp from the stream-format
    BITMAPINFOHEADER ('strf'), collects every '00db'/'00dc' chunk in
    the 'movi' list. Grayscale palettes collapse to gray; color
    palettes raise (out of scope)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("AVI: bad RIFF signature")
    w = h = bpp = None
    pal = None
    bottom_up = True
    frames: list[np.ndarray] = []

    def walk(start: int, end: int, depth: int = 0) -> None:
        nonlocal w, h, bpp, pal, bottom_up
        if depth > 16:
            # LIST nesting is data-controlled; a real AVI is ~3 levels
            # (hdrl/strl, movi/rec) — a corrupt stream of repeated LIST
            # headers would otherwise recurse to RecursionError
            raise ValueError("AVI: LIST nesting too deep (corrupt stream)")
        pos = start
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + size, depth + 1)  # skip the 4-byte list type
            elif cid == b"strf" and w is None:
                w_, h_ = struct.unpack_from("<ii", data, body + 4)
                (bpp_,) = struct.unpack_from("<H", data, body + 14)
                (compression,) = struct.unpack_from("<I", data, body + 16)
                # negative biHeight = top-down DIB rows (same convention
                # decode_bmp handles); only bottom-up frames get flipped
                w, h, bpp = w_, abs(h_), bpp_
                bottom_up = h_ > 0
                if bpp != 8:
                    raise ValueError(f"AVI: {bpp}-bit not supported (8-bit only)")
                if compression != 0:
                    # '00dc' chunks are accepted below only because this
                    # guarantees BI_RGB — a compressed stream must raise,
                    # not decode adjacent bytes as pixels
                    raise ValueError(
                        f"AVI: compression {compression} not supported"
                        " (uncompressed BI_RGB only)"
                    )
                # honor biClrUsed (offset 32 in BITMAPINFOHEADER) and
                # the strf chunk's declared size: a fixed 256-entry
                # read overran a biClrUsed<256 chunk into the next
                # chunk's header bytes, failing the equal-channel
                # check on decodable grayscale files (decode_bmp
                # honors clr_used the same way)
                (clr_used,) = struct.unpack_from("<I", data, body + 32)
                n_pal = min(clr_used or 256, max(0, (size - 40) // 4))
                pal_ = np.frombuffer(
                    data, np.uint8, count=n_pal * 4, offset=body + 40
                ).reshape(n_pal, 4)[:, 2::-1]
                if not (
                    np.all(pal_[:, 0] == pal_[:, 1]) and np.all(pal_[:, 1] == pal_[:, 2])
                ):
                    raise ValueError("AVI: color palettes not supported")
                # entries past biClrUsed are undefined by the spec (and
                # a paletteless 8-bit strf is malformed-but-seen) — the
                # identity ramp is the benign grayscale completion and
                # keeps out-of-range indices from crashing the lookup
                pal = np.arange(256, dtype=np.uint8)
                pal[:n_pal] = pal_[:, 0]
            elif cid in (b"00db", b"00dc") and size:
                if w is None:
                    # a frame chunk before (or with a corrupted) strf:
                    # dims unknown — malformed, not a TypeError site
                    raise ValueError("AVI: frame chunk before stream format")
                stride = ((8 * w + 31) // 32) * 4
                if size < h * stride or body + h * stride > len(data):
                    # respect the chunk's declared size: a short chunk
                    # would otherwise silently decode the NEXT chunk's
                    # headers/idx1 bytes as pixels
                    raise ValueError(
                        f"AVI: truncated frame chunk ({size} bytes,"
                        f" need {h * stride})"
                    )
                rows = np.frombuffer(data, np.uint8, count=h * stride, offset=body)
                grid = rows.reshape(h, stride)
                frames.append(grid[::-1, :w] if bottom_up else grid[:, :w])
            pos = body + size + (size & 1)  # RIFF chunks are word-aligned

    walk(12, len(data))
    if not frames:
        raise ValueError("AVI: no frames found")
    stack = np.stack(frames, axis=2)  # [h][w][frames]
    return pal[stack] if pal is not None else stack


def encode_avi(arr: np.ndarray, fps: int = 30) -> bytes:
    """[h][w] or [h][w][frames] uint8 → uncompressed 8-bit AVI."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.dtype != np.uint8:
        raise ValueError(f"AVI encode: need [h][w][frames] uint8, got {a.shape} {a.dtype}")
    h, w, nf = a.shape
    stride = ((8 * w + 31) // 32) * 4
    frame_bytes = []
    for f in range(nf):
        padded = np.zeros((h, stride), np.uint8)
        padded[:, :w] = a[:, :, f]
        frame_bytes.append(padded[::-1].tobytes())  # bottom-up DIB rows
    frame_size = h * stride

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_size * fps, 0, 0x10,  # us/frame, byterate, pad, HASINDEX
        nf, 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, nf, frame_size, 0, 0,
        0, 0, w, h,
    )
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, frame_size, 2835, 2835, 256, 0
    ) + pal
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00db", fb) for fb in frame_bytes)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame (AVIIF_KEYFRAME, offset from 'movi' tag)
    idx = bytearray()
    off = 4
    for fb in frame_bytes:
        idx += b"00db" + struct.pack("<III", 0x10, off, len(fb))
        off += 8 + len(fb) + (len(fb) & 1)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# --------------------------------------------------------------------------
# MP4 (ISO/IEC 14496-12 ISO base media file format) — MJPEG video track
# --------------------------------------------------------------------------
# A minimal BMFF container walk whose samples are whole JFIF streams
# ('jpeg' VisualSampleEntry, the MJPEG-in-MP4 convention) decoded by
# decode_jpeg. H.264/H.265 bitstream decode stays out of scope — that
# is a codec, not a container, and the reference reads AVI, not MP4
# (ImageJ 1.x AVI_Reader); this parser makes the video family
# container-complete with the same pure-stdlib rules as the rest.


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, box_end) for ISO BMFF boxes in
    [start, end); handles 64-bit largesize and size-0 (to end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        cc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("MP4: truncated largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"MP4: bad box size at {pos}")
        yield cc, body, pos + size
        pos += size


def _mp4_find(data: bytes, start: int, end: int, path: str):
    """(body_start, box_end) of the first box matching the
    '/'-separated fourcc path under [start, end), else None."""
    head, _, rest = path.partition("/")
    for cc, b, e in _mp4_boxes(data, start, end):
        if cc == head.encode("ascii"):
            if not rest:
                return b, e
            r = _mp4_find(data, b, e, rest)
            if r is not None:
                return r
    return None


def _mp4_table_fits(
    box: tuple[int, int], hdr: int, count: int, width: int, name: str
) -> None:
    """Entry tables must fit inside their declaring box. unpack_from
    against the whole file would otherwise silently read neighboring
    boxes' bytes as table entries when a corrupt count overruns the
    box, deferring the failure to an arbitrary later check.
    `count * width` is computed in Python ints — no overflow."""
    if box[0] + hdr > box[1] or count * width > box[1] - box[0] - hdr:
        raise ValueError(f"MP4: {name} entry count exceeds its box (corrupt)")


@_codec_errors("MP4")
def decode_mp4(data: bytes) -> np.ndarray:
    """MJPEG-in-MP4 → [h][w][frames] uint8 (grayscale frames; color
    JPEG samples raise, matching decode_avi's palette rule). Container
    walk: moov → trak → mdia/minf/stbl with a 'jpeg' sample entry in
    stsd; sample byte ranges from stsz + stsc + stco/co64; every
    sample is a complete JFIF stream handed to decode_jpeg."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("MP4: missing ftyp box")
    moov = _mp4_find(data, 0, len(data), "moov")
    if moov is None:
        raise ValueError("MP4: missing moov box")
    for cc, tb, te in _mp4_boxes(data, *moov):
        if cc != b"trak":
            continue
        stbl = _mp4_find(data, tb, te, "mdia/minf/stbl")
        if stbl is None:
            continue
        stsd = _mp4_find(data, *stbl, "stsd")
        if stsd is None or stsd[0] + 16 > stsd[1]:
            continue
        # stsd: fullbox(4) + entry_count(4), first entry: size(4)+format(4)
        fmt = data[stsd[0] + 12 : stsd[0] + 16]
        if fmt != b"jpeg":
            continue
        stsz = _mp4_find(data, *stbl, "stsz")
        if stsz is None:
            raise ValueError("MP4: jpeg track missing stsz")
        if stsz[0] + 12 > stsz[1]:
            raise ValueError("MP4: stsz box too short")
        _, fixed, count = struct.unpack_from(">III", data, stsz[0])
        if fixed:
            # bound BEFORE materializing: a corrupt count near 2^32
            # would allocate a multi-GB list here; count*fixed can
            # never exceed the file's own size
            if count > len(data) // max(1, fixed):
                raise ValueError(
                    "MP4: stsz sample count exceeds file size (corrupt)"
                )
            sizes = [fixed] * count
        else:
            _mp4_table_fits(stsz, 12, count, 4, "stsz")
            sizes = list(struct.unpack_from(f">{count}I", data, stsz[0] + 12))
        stco = _mp4_find(data, *stbl, "stco")
        if stco is not None:
            (_, nchunks) = struct.unpack_from(">II", data, stco[0])
            _mp4_table_fits(stco, 8, nchunks, 4, "stco")
            offsets = list(
                struct.unpack_from(f">{nchunks}I", data, stco[0] + 8)
            )
        else:
            co64 = _mp4_find(data, *stbl, "co64")
            if co64 is None:
                raise ValueError("MP4: jpeg track missing stco/co64")
            (_, nchunks) = struct.unpack_from(">II", data, co64[0])
            _mp4_table_fits(co64, 8, nchunks, 8, "co64")
            offsets = list(
                struct.unpack_from(f">{nchunks}Q", data, co64[0] + 8)
            )
        stsc = _mp4_find(data, *stbl, "stsc")
        if stsc is None:
            raise ValueError("MP4: jpeg track missing stsc")
        (_, nruns) = struct.unpack_from(">II", data, stsc[0])
        _mp4_table_fits(stsc, 8, nruns, 12, "stsc")
        runs = [
            struct.unpack_from(">III", data, stsc[0] + 8 + 12 * i)[:2]
            for i in range(nruns)
        ]  # (first_chunk 1-based, samples_per_chunk)
        # ISO 14496-12 §8.7.4: runs start at chunk 1 with strictly
        # increasing first_chunk — validate once, then walk runs and
        # chunks in LOCKSTEP. A per-chunk rescan of the whole run
        # list would be O(nchunks x nruns): quadratic on a
        # chunk-heavy or crafted file.
        if nchunks and (not runs or runs[0][0] != 1):
            raise ValueError("MP4: stsc first run must start at chunk 1")
        if any(b[0] <= a[0] for a, b in zip(runs, runs[1:])):
            raise ValueError("MP4: stsc first_chunk not strictly increasing")
        frames: list[np.ndarray] = []
        si = 0
        ri = 0
        for ci in range(nchunks):
            while ri + 1 < len(runs) and runs[ri + 1][0] <= ci + 1:
                ri += 1
            spc = runs[ri][1]
            off = offsets[ci]
            for _ in range(spc):
                if si >= count:
                    break
                frame = decode_jpeg(bytes(data[off : off + sizes[si]]))
                if frame.ndim != 2:
                    raise ValueError(
                        "MP4: color MJPEG frames not supported (grayscale only)"
                    )
                frames.append(frame)
                off += sizes[si]
                si += 1
        if si != count:
            raise ValueError("MP4: sample tables cover fewer samples than stsz")
        if not frames:
            raise ValueError("MP4: jpeg track has no samples")
        if len({f.shape for f in frames}) != 1:
            raise ValueError("MP4: frames disagree on dimensions")
        return np.stack(frames, axis=2)
    raise ValueError("MP4: no MJPEG ('jpeg') video track found")


def _mp4_box(cc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + cc + payload


def _mp4_full(cc: bytes, ver: int, flags: int, payload: bytes) -> bytes:
    return _mp4_box(cc, struct.pack(">I", (ver << 24) | flags) + payload)


_MP4_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def encode_mp4_mjpeg(arr: np.ndarray, fps: int = 30, quality: int = 90) -> bytes:
    """[h][w] or [h][w][frames] uint8 grayscale → MJPEG-in-MP4: one
    'jpeg' VisualSampleEntry video track, each sample a complete JFIF
    stream from encode_jpeg; one chunk holding all samples (stsc run
    of 1), media timescale = fps so every frame is one tick."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.dtype != np.uint8:
        raise ValueError(
            f"MP4 encode: need [h][w][frames] uint8, got {a.shape} {a.dtype}"
        )
    h, w, nf = a.shape
    if nf == 0:
        # fail at the producing site: a zero-frame blob is structurally
        # valid MP4 (stsz count 0) but decode_mp4 rejects it with
        # "jpeg track has no samples", far from this code
        raise ValueError("MP4 encode: zero frames (shape (h, w, 0))")
    samples = [encode_jpeg(a[:, :, i], quality=quality) for i in range(nf)]
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat_payload = b"".join(samples)
    # sample data starts right after the mdat header, after ftyp
    data_off = len(ftyp) + 8

    name = b"spark_ij_spark MJPEG"
    compressor = bytes([len(name)]) + name + b"\x00" * (31 - len(name))
    jpeg_entry = _mp4_box(
        b"jpeg",
        b"\x00" * 6 + struct.pack(">H", 1)        # data_reference_index
        + b"\x00" * 16                              # pre_defined/reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)                      # frame_count
        + compressor
        + struct.pack(">Hh", 24, -1),               # depth, pre_defined
    )
    stbl = (
        _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + jpeg_entry)
        + _mp4_full(b"stts", 0, 0, struct.pack(">III", 1, nf, 1))
        + _mp4_full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, nf, 1))
        + _mp4_full(
            b"stsz",
            0, 0,
            struct.pack(">II", 0, nf)
            + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        + _mp4_full(b"stco", 0, 0, struct.pack(">II", 1, data_off))
    )
    dinf = _mp4_box(
        b"dinf",
        _mp4_full(
            b"dref", 0, 0,
            struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b""),
        ),
    )
    minf = _mp4_box(
        b"minf",
        _mp4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        + dinf
        + _mp4_box(b"stbl", stbl),
    )
    mdhd = _mp4_full(
        b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, fps, nf, 0x55C4, 0)
    )
    hdlr = _mp4_full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"MJPEG\x00",
    )
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    tkhd = _mp4_full(
        b"tkhd", 0, 3,
        struct.pack(">IIIII", 0, 0, 1, 0, nf)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_UNITY_MATRIX
        + struct.pack(">II", w << 16, h << 16),
    )
    trak = _mp4_box(b"trak", tkhd + mdia)
    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, fps, nf)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + _mp4_box(b"mdat", mdat_payload) + moov


# --------------------------------------------------------------------------
# JPEG (baseline JFIF) — sequential DCT, 8-bit, Huffman
# --------------------------------------------------------------------------
# The last reference capability that was import-gated (the reference
# opens JPEG through ImageJ's readers via its temp-file hop,
# Spiji.java:1571-1614). Scope: decode baseline/extended-sequential
# Huffman JPEG (SOF0/SOF1) — grayscale and YCbCr with h/v sampling
# factors 1-2 (4:4:4 / 4:2:2 / 4:2:0), restart markers, multi-table
# DQT/DHT segments — AND progressive Huffman JPEG (SOF2: spectral
# selection + successive approximation, EOBn run lengths; decoder at
# decode_jpeg below, multi-scan encoder at encode_jpeg_progressive);
# arithmetic coding (SOF9/SOF10) raises a clear error. Encode:
# baseline 4:4:4, standard Annex K quantization (quality-scaled) and
# Huffman tables, grayscale and RGB uint8; progressive grayscale via
# encode_jpeg_progressive (round trip bit-identical to baseline at
# equal quality — proven by the media_jpeg_progressive oracle query).


def _zigzag_pairs() -> list[tuple[int, int]]:
    out = []
    for s in range(15):
        rs = range(max(0, s - 7), min(s, 7) + 1)
        for r in (rs if s % 2 == 1 else reversed(list(rs))):
            out.append((r, s - r))
    return out


#: flat (row-major) index of each zigzag position: natural[_ZZ[i]] = zz[i]
_ZZ = np.array([r * 8 + c for r, c in _zigzag_pairs()], dtype=np.int64)

# orthonormal DCT-II matrix: dct2(B) = M @ B @ M.T, idct2(C) = M.T @ C @ M
_DCT_M = np.array(
    [
        [
            (np.sqrt(1.0 / 8.0) if k == 0 else np.sqrt(2.0 / 8.0))
            * np.cos((2 * n + 1) * k * np.pi / 16.0)
            for n in range(8)
        ]
        for k in range(8)
    ],
    dtype=np.float64,
)

# Annex K base quantization tables (natural row-major order)
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_Q_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Huffman tables: (BITS[1..16], HUFFVAL)
_HUFF_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                bytes(range(12)))
_HUFF_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                bytes(range(12)))
_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes((
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    )),
)
_HUFF_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    bytes((
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    )),
)


# Flat 9-bit AC table for the progressive encoder: the Annex K
# sequential tables carry no EOBn symbols (0x10..0xE0 — run lengths of
# 2..16384 end-of-band blocks), which progressive AC scans need. 176
# symbols all at length 9 is a valid canonical code (< 2^9, so the
# reserved all-ones code is unused) — wasteful, but this codec is
# correctness-first and real progressive files ship custom DHTs anyway.
_HUFF_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0],
    bytes(
        [(r << 4) | s for r in range(16) for s in range(1, 11)]
        + [r << 4 for r in range(16)]  # EOB0..EOB14 + ZRL (0xF0)
    ),
)


def _huff_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment: value → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _huff_decoder(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """(length, code) → value lookup for bit-serial decoding."""
    return {(ln, c): v for v, (c, ln) in _huff_codes(bits, vals).items()}


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K base tables (libjpeg
    jpeg_quality_scaling): q<50 → 5000/q, else 200-2q; entries clamped
    to [1, 255]. quality=100 ⇒ all-ones tables (near-lossless: the only
    loss left is DCT/IDCT float rounding)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    mk = lambda base: np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)
    return mk(_Q_LUM), mk(_Q_CHR)


class _JpegBitWriter:
    """MSB-first bit packer with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _dct2_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial → (n, 8, 8) DCT-II coefficients."""
    return np.einsum("ij,njk,lk->nil", _DCT_M, blocks, _DCT_M)


def _idct2_blocks(coefs: np.ndarray) -> np.ndarray:
    return np.einsum("ji,njk,kl->nil", _DCT_M, coefs, _DCT_M)


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """Category (bit length of |v|) and the ssss-bit code for v."""
    s = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _encode_component(
    w: _JpegBitWriter,
    qblocks: np.ndarray,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Huffman-encode one component's quantized blocks (zigzag order
    rows) with DC prediction; returns the new predictor."""

    magnitude = _jpeg_magnitude

    for zz in qblocks:
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s, bitsv = magnitude(diff)
        c, ln = dc_tab[s]
        w.write(c, ln)
        if s:
            w.write(bitsv, s)
        run = 0
        last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
        for i in range(1, last_nz + 1):
            v = int(zz[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_tab[0xF0]  # ZRL
                w.write(c, ln)
                run -= 16
            s, bitsv = magnitude(v)
            c, ln = ac_tab[(run << 4) | s]
            w.write(c, ln)
            w.write(bitsv, s)
            run = 0
        if last_nz < 63:
            c, ln = ac_tab[0x00]  # EOB
            w.write(c, ln)
    return pred


def _component_qblocks(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """uint8 plane → (nblocks, 64) quantized zigzag coefficients,
    blocks in raster order; plane is edge-padded to multiples of 8."""
    h, wd = plane.shape
    ph, pw = -h % 8, -wd % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coefs = _dct2_blocks(blocks).reshape(-1, 64)
    # half-away-from-zero (np.rint would be banker's)
    q = np.trunc(coefs / qt.astype(np.float64) + np.copysign(0.5, coefs))
    return q[:, _ZZ].astype(np.int64)


def _jpeg_prep(arr: np.ndarray) -> tuple[list[np.ndarray], int, int]:
    """Normalize encoder input to uint8 Y or Y/Cb/Cr planes: accepts
    [h][w], [h][w][1], [h][w][3] and the image model's single-slice
    RGB [h][w][1][3] (what decode_bytes returns for a color JPEG)."""
    a = np.asarray(arr)
    if a.ndim == 4 and a.shape[2] == 1 and a.shape[3] == 3:
        a = a[:, :, 0, :]
    if a.ndim == 3 and a.shape[2] == 1:
        a = a[:, :, 0]
    if a.dtype != np.uint8 or a.ndim not in (2, 3) or (
        a.ndim == 3 and a.shape[2] != 3
    ):
        raise ValueError(
            f"JPEG encode: need [h][w], [h][w][3] or [h][w][1][3] uint8,"
            f" got {np.asarray(arr).shape} {a.dtype}"
        )
    h, wd = a.shape[:2]
    if a.ndim == 2:
        return [a], h, wd
    r, g, b = (a[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    planes = [
        np.clip(np.trunc(p + 0.5), 0, 255).astype(np.uint8)
        for p in (y, cb, cr)
    ]
    return planes, h, wd


def _jpeg_headers(
    h: int, wd: int, ncomp: int, qlum: np.ndarray, qchr: np.ndarray,
    sof_marker: int,
) -> bytearray:
    """SOI + APP0 + DQT(s) + SOF + DHT(s) shared by the baseline and
    progressive encoders (4:4:4, Annex K quality-scaled tables,
    standard Huffman)."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    # DQT (tables stored in zigzag order)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([0x00]) + bytes(int(v) for v in qlum[_ZZ])
    if ncomp == 3:
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([0x01]) + bytes(int(v) for v in qchr[_ZZ])
    sof = struct.pack(">BHHB", 8, h, wd, ncomp)
    for i in range(ncomp):
        sof += bytes([i + 1, 0x11, 0 if i == 0 else 1])
    out += bytes([0xFF, sof_marker]) + struct.pack(">H", 2 + len(sof)) + sof
    tabs = [(0x00, _HUFF_DC_LUM), (0x10, _HUFF_AC_LUM)]
    if ncomp == 3:
        tabs += [(0x01, _HUFF_DC_CHR), (0x11, _HUFF_AC_CHR)]
    for tid, (bits, vals) in tabs:
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
        out += bytes([tid]) + bytes(bits) + vals
    return out


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """uint8 [h][w] / [h][w][1] grayscale or [h][w][3] RGB → baseline
    JFIF (4:4:4, Annex K tables quality-scaled, standard Huffman)."""
    planes, h, wd = _jpeg_prep(arr)
    qlum, qchr = _quality_tables(quality)
    ncomp = len(planes)
    out = _jpeg_headers(h, wd, ncomp, qlum, qchr, 0xC0)
    # SOS
    sos = bytes([ncomp])
    for i in range(ncomp):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # Entropy-coded data: 4:4:4 non-interleaved-equivalent MCU order —
    # with all sampling factors 1x1 the interleaved MCU is one block
    # per component, raster order.
    qb = [
        _component_qblocks(planes[i], qlum if i == 0 else qchr)
        for i in range(ncomp)
    ]
    writer = _JpegBitWriter()
    dct = _huff_codes(*_HUFF_DC_LUM)
    act = _huff_codes(*_HUFF_AC_LUM)
    dcc = _huff_codes(*_HUFF_DC_CHR)
    acc = _huff_codes(*_HUFF_AC_CHR)
    preds = [0] * ncomp
    nblocks = qb[0].shape[0]
    for bi in range(nblocks):
        for ci in range(ncomp):
            preds[ci] = _encode_component(
                writer,
                qb[ci][bi : bi + 1],
                dct if ci == 0 else dcc,
                act if ci == 0 else acc,
                preds[ci],
            )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _emit_eobrun(
    w: _JpegBitWriter, ac_tab: dict[int, tuple[int, int]], state: dict
) -> None:
    """Flush a pending EOB run symbol plus the correction bits buffered
    for already-nonzero coefficients inside the run (G.1.2.3: the bits
    trail the EOBn symbol in block order)."""
    if state["eobrun"]:
        n = state["eobrun"].bit_length() - 1
        c, ln = ac_tab[n << 4]
        w.write(c, ln)
        if n:
            w.write(state["eobrun"] - (1 << n), n)
        state["eobrun"] = 0
    for b in state["bits"]:
        w.write(b, 1)
    state["bits"] = []


def _encode_ac_first(
    w: _JpegBitWriter,
    ac_tab: dict[int, tuple[int, int]],
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    state: dict,
) -> None:
    """One block of an AC spectral-selection first scan (G.1.2.2):
    point transform truncates toward zero; trailing zeros join the
    cross-block EOB run in ``state``."""
    run = 0
    for k in range(ss, se + 1):
        t = int(blk[k])
        t = -((-t) >> al) if t < 0 else t >> al
        if t == 0:
            run += 1
            continue
        _emit_eobrun(w, ac_tab, state)
        while run > 15:
            c, ln = ac_tab[0xF0]  # ZRL
            w.write(c, ln)
            run -= 16
        s, bitsv = _jpeg_magnitude(t)
        c, ln = ac_tab[(run << 4) | s]
        w.write(c, ln)
        w.write(bitsv, s)
        run = 0
    if run:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:  # EOBn caps at 14 extension bits
            _emit_eobrun(w, ac_tab, state)


def _encode_ac_refine(
    w: _JpegBitWriter,
    ac_tab: dict[int, tuple[int, int]],
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    state: dict,
) -> None:
    """One block of an AC successive-approximation refinement scan
    (G.1.2.3): newly-nonzero coefficients (|v|>>Al == 1) emit a
    run/size-1 symbol + sign bit; every already-nonzero coefficient
    contributes one correction bit, buffered until the next emitted
    symbol (or the block's EOB run)."""
    absv = [0] * (se + 1 - ss)
    eobpos = ss - 1  # index of the LAST newly-nonzero coefficient
    for k in range(ss, se + 1):
        t = abs(int(blk[k])) >> al
        absv[k - ss] = t
        if t == 1:
            eobpos = k
    run = 0
    pend: list[int] = []  # correction bits since the last emitted symbol
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            run += 1
            continue
        # drain oversized zero runs at the FIRST nonzero coefficient of
        # either kind (only while a later newly-nonzero one exists —
        # zeros after eobpos fold into the EOB run): the decoder's ZRL
        # span covers the buffered correction coefficients, so their
        # bits must flush right after the ZRL symbol, before any bit
        # this coefficient contributes
        while run > 15 and k <= eobpos:
            _emit_eobrun(w, ac_tab, state)
            c, ln = ac_tab[0xF0]
            w.write(c, ln)
            run -= 16
            for b in pend:
                w.write(b, 1)
            pend = []
        if t > 1:  # already nonzero at the previous precision
            pend.append(t & 1)
            continue
        _emit_eobrun(w, ac_tab, state)
        c, ln = ac_tab[(run << 4) | 1]
        w.write(c, ln)
        run = 0
        w.write(1 if int(blk[k]) >= 0 else 0, 1)
        for b in pend:
            w.write(b, 1)
        pend = []
    if run or pend:
        state["eobrun"] += 1
        state["bits"] += pend
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(w, ac_tab, state)


def encode_jpeg_progressive(
    arr: np.ndarray, quality: int = 90, dri: int = 0
) -> bytes:
    """uint8 grayscale/RGB → progressive (SOF2) JFIF, 4:4:4, with a
    libjpeg-shaped scan script exercising both spectral selection and
    successive approximation: DC first (Al=1) + DC refine, per
    component AC bands 1-5 and 6-63 at Al=2, then two full-band AC
    refinement passes (Al=2→1→0). Decodes to the SAME pixels as the
    baseline encoder at equal quality (identical quantized
    coefficients, delivered across scans). ``dri`` > 0 emits restart
    markers every ``dri`` MCUs/blocks in every scan."""
    planes, h, wd = _jpeg_prep(arr)
    qlum, qchr = _quality_tables(quality)
    ncomp = len(planes)
    out = _jpeg_headers(h, wd, ncomp, qlum, qchr, 0xC2)
    # override the sequential AC tables with the EOBn-capable flat
    # table (a later DHT legally redefines a table id)
    for tid in (0x10, 0x11)[: (2 if ncomp == 3 else 1)]:
        bits, vals = _HUFF_AC_PROG
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
        out += bytes([tid]) + bytes(bits) + vals
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    qb = [
        _component_qblocks(planes[i], qlum if i == 0 else qchr)
        for i in range(ncomp)
    ]
    nblocks = qb[0].shape[0]  # 4:4:4 → MCU grid == every block grid
    dc_tabs = [
        _huff_codes(*(_HUFF_DC_LUM if i == 0 else _HUFF_DC_CHR))
        for i in range(ncomp)
    ]
    ac_prog = _huff_codes(*_HUFF_AC_PROG)
    ac_tabs = [ac_prog for _ in range(ncomp)]

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        sos = bytes([len(comp_ids)])
        for i in comp_ids:
            sos += bytes([i + 1, (0x00 if i == 0 else 0x11)])
        sos += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    scans: list[tuple[str, list[int], int, int, int, int]] = [
        ("dc_first", list(range(ncomp)), 0, 0, 0, 1),
        ("dc_refine", list(range(ncomp)), 0, 0, 1, 0),
    ]
    for ci in range(ncomp):
        scans += [("ac_first", [ci], 1, 5, 0, 2), ("ac_first", [ci], 6, 63, 0, 2)]
    for al in (1, 0):
        for ci in range(ncomp):
            scans.append(("ac_refine", [ci], 1, 63, al + 1, al))

    for kind, cis, ss, se, ah, al in scans:
        out += sos_header(cis, ss, se, ah, al)
        w = _JpegBitWriter()
        state = {"eobrun": 0, "bits": []}
        preds = [0] * ncomp
        rstn = 0

        def restart() -> None:
            nonlocal rstn, preds
            _emit_eobrun(w, ac_tabs[cis[0]], state)
            w.flush()
            w.out += bytes([0xFF, 0xD0 + rstn])
            rstn = (rstn + 1) & 7
            preds = [0] * ncomp

        for u in range(nblocks):
            if dri and u and u % dri == 0:
                restart()
            if kind == "dc_first":
                for ci in cis:
                    dc = int(qb[ci][u][0]) >> al  # arithmetic shift (G.1.2.1)
                    s, bitsv = _jpeg_magnitude(dc - preds[ci])
                    preds[ci] = dc
                    c, ln = dc_tabs[ci][s]
                    w.write(c, ln)
                    if s:
                        w.write(bitsv, s)
            elif kind == "dc_refine":
                for ci in cis:
                    w.write((int(qb[ci][u][0]) >> al) & 1, 1)
            elif kind == "ac_first":
                _encode_ac_first(w, ac_tabs[cis[0]], qb[cis[0]][u], ss, se, al, state)
            else:
                _encode_ac_refine(w, ac_tabs[cis[0]], qb[cis[0]][u], ss, se, al, state)
        _emit_eobrun(w, ac_tabs[cis[0]], state)
        w.flush()
        out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment: 0xFF00
    stuffing removed on the fly; a bare 0xFF-marker byte ends the
    stream (the scan decode loop stops by MCU count, so trailing pad
    bits never reach a marker)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self._rst = 0  # next expected RSTn sequence number (cycles 0..7)

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG: truncated entropy-coded data")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is None:
                # stream ends on a trailing 0xFF with no marker code —
                # that's a truncation, not an embedded marker
                raise ValueError("JPEG: truncated entropy-coded data")
            else:
                raise ValueError("JPEG: marker inside entropy-coded block")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def expect_rst(self) -> None:
        """Byte-align and consume the next RSTn marker (restart
        interval boundary). Strict per ISO/IEC 10918-1 E.2.4/B.1.1.2:
        after byte alignment the VERY NEXT bytes must be the marker
        (any number of 0xFF fill bytes allowed before the code), and
        its sequence number must cycle 0..7 — a desynced or corrupt
        restart stream raises instead of decoding wrong pixels (a scan
        forward to ANY FF Dn would resync on the wrong marker)."""
        self.acc = 0
        self.nbits = 0
        # optional 0xFF fill bytes before the marker code
        while (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0xFF
        ):
            self.pos += 1
        if self.pos + 1 >= len(self.data):
            raise ValueError("JPEG: missing restart marker")
        code = self.data[self.pos + 1]
        if self.data[self.pos] != 0xFF or not (0xD0 <= code <= 0xD7):
            raise ValueError(
                "JPEG: expected restart marker at byte "
                f"{self.pos}, found "
                f"{self.data[self.pos]:#04x}{code:#04x}"
            )
        if code - 0xD0 != self._rst:
            raise ValueError(
                f"JPEG: restart marker out of sequence (got RST{code - 0xD0}, "
                f"expected RST{self._rst})"
            )
        self._rst = (self._rst + 1) & 7
        self.pos += 2


def _jpeg_extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_huff(r: _JpegBitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read(1)
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("JPEG: invalid Huffman code")


def _decode_block(
    r: _JpegBitReader,
    dc_dec: dict[tuple[int, int], int],
    ac_dec: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int64)
    s = _decode_huff(r, dc_dec)
    diff = _jpeg_extend(r.read(s), s) if s else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = _decode_huff(r, ac_dec)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("JPEG: AC run past end of block")
        zz[k] = _jpeg_extend(r.read(size), size)
        k += 1
    return zz, pred


def _jpeg_reconstruct(
    coef: dict[int, np.ndarray],
    comps: list[dict],
    qts: dict[int, np.ndarray],
    h: int,
    w: int,
    hmax: int,
    vmax: int,
) -> np.ndarray:
    """Dequantize + IDCT the per-component zigzag coefficient grids,
    upsample/crop to the frame, and color-convert — shared by the
    baseline (single-scan) and progressive (accumulated-scans) paths."""
    planes = []
    for i, c in enumerate(comps):
        qt = qts[c["tq"]]
        zzc = coef[i].reshape(-1, 64)
        nat = np.zeros_like(zzc)
        nat[:, _ZZ] = zzc
        nat = nat * qt[None, :]
        sp = _idct2_blocks(nat.reshape(-1, 8, 8).astype(np.float64)) + 128.0
        by, bx = coef[i].shape[:2]
        plane = (
            sp.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        cw = -(-w * c["h"] // hmax)
        chh = -(-h * c["v"] // vmax)
        plane = plane[:chh, :cw]
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0),
            hmax // c["h"],
            axis=1,
        )[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.trunc(planes[0] + 0.5), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise ValueError(f"JPEG: {len(planes)}-component frames not supported")
    y, cb, cr = planes
    rch = y + 1.402 * (cr - 128.0)
    gch = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    bch = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.trunc(p + 0.5), 0, 255) for p in (rch, gch, bch)],
        axis=2,
    )
    return rgb.astype(np.uint8)


def _refine_ac_block(
    r: _JpegBitReader,
    acd: dict[tuple[int, int], int],
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """AC successive-approximation refinement for one block (ISO/IEC
    10918-1 G.1.2.3): newly-nonzero coefficients arrive as ±(1<<Al),
    every already-nonzero coefficient in the band carries one
    correction bit — including inside zero runs, ZRLs and EOB runs.
    Returns the remaining EOB run."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(r, acd)
            run, size = rs >> 4, rs & 0x0F
            val = 0
            if size == 0:
                if run != 15:
                    # NOT the AC-first "-1" convention: the current
                    # block's remaining coefficients still carry
                    # correction bits, read in the eobrun tail below
                    # (which then decrements for this block)
                    eobrun = 1 << run
                    if run:
                        eobrun += r.read(run)
                    break
                # ZRL: skip 16 zero-HISTORY coefficients
            else:
                if size != 1:
                    raise ValueError("JPEG: invalid AC refinement magnitude")
                val = p1 if r.read(1) else m1
            while k <= se:
                if blk[k] != 0:
                    if r.read(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                if r.read(1) and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _progressive_scan(
    data: bytes,
    pos: int,
    scomps: list[tuple[dict, int, int]],
    huffs: dict[tuple[int, int], dict[tuple[int, int], int]],
    coef: dict[int, np.ndarray],
    comps: list[dict],
    h: int,
    w: int,
    hmax: int,
    vmax: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    dri: int,
) -> int:
    """Decode one progressive SOS (ISO/IEC 10918-1 G.2) into the
    per-component zigzag coefficient grids in place; returns the byte
    position just past this scan's entropy-coded data. Scan kinds: DC
    first (Ss=0, Ah=0, may be interleaved), DC refine (Ss=0, Ah>0, one
    raw bit per block), AC first (band Ss..Se, EOB runs) and AC refine
    (correction bits) — AC scans are single-component per G.1.1.1.1."""
    ns = len(scomps)
    if ss == 0:
        if se != 0:
            raise ValueError("JPEG: progressive DC scan with Se != 0")
    elif ns != 1:
        raise ValueError("JPEG: progressive AC scan must be single-component")
    if ns == 1:
        comp = scomps[0][0]
        ci = comps.index(comp)
        cw = -(-w * comp["h"] // hmax)
        chh = -(-h * comp["v"] // vmax)
        bx = -(-cw // 8)
        n_units = bx * -(-chh // 8)

        def blocks_of(u: int):
            uy, ux = divmod(u, bx)
            return ((ci, coef[ci][uy, ux]),)

    else:
        mcux = -(-w // (8 * hmax))
        n_units = mcux * -(-h // (8 * vmax))

        def blocks_of(u: int):
            uy, ux = divmod(u, mcux)
            out = []
            for comp, _, _ in scomps:
                i = comps.index(comp)
                cv, chf = comp["v"], comp["h"]
                for vy in range(cv):
                    for hx in range(chf):
                        out.append((i, coef[i][uy * cv + vy, ux * chf + hx]))
            return out

    dcds = {comps.index(c): huffs.get((0, td)) for c, td, _ in scomps}
    acd = huffs.get((1, scomps[0][2])) if ns == 1 else None
    r = _JpegBitReader(data, pos)
    preds = {comps.index(c): 0 for c, _, _ in scomps}
    eobrun = 0
    for u in range(n_units):
        if dri and u and u % dri == 0:
            r.expect_rst()
            preds = {i: 0 for i in preds}
            eobrun = 0
        if ss == 0 and ah == 0:  # DC first
            for i, blk in blocks_of(u):
                dcd = dcds[i]
                if dcd is None:
                    raise ValueError("JPEG: scan references undefined DC table")
                s = _decode_huff(r, dcd)
                preds[i] += _jpeg_extend(r.read(s), s) if s else 0
                blk[0] = preds[i] << al
        elif ss == 0:  # DC refine: one raw bit per block
            for i, blk in blocks_of(u):
                blk[0] = int(blk[0]) | (r.read(1) << al)
        elif ah == 0:  # AC first
            if eobrun:
                eobrun -= 1
                continue
            if acd is None:
                raise ValueError("JPEG: scan references undefined AC table")
            ((_, blk),) = blocks_of(u)
            k = ss
            while k <= se:
                rs = _decode_huff(r, acd)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += r.read(run)
                    break
                k += run
                if k > se:
                    raise ValueError("JPEG: AC run past end of band")
                blk[k] = _jpeg_extend(r.read(size), size) << al
                k += 1
        else:  # AC refine
            if acd is None:
                raise ValueError("JPEG: scan references undefined AC table")
            ((_, blk),) = blocks_of(u)
            eobrun = _refine_ac_block(r, acd, blk, ss, se, al, eobrun)
    # resync to the next marker segment — STRICT, mirroring the
    # E.2.4-strict expect_rst (skipping arbitrary non-marker bytes
    # would let garbage injected between two SOS segments decode
    # silently). Legal bytes here are only: an unread
    # stuffed pad byte FF 00 (pad bits of the last entropy byte made it
    # 0xFF and the MCU loop finished without reading it), 0xFF fill
    # bytes (B.1.1.2), and a stray restart after the last interval.
    pos = r.pos
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError(
                f"JPEG: garbage byte {data[pos]:#04x} between scans "
                f"at offset {pos}"
            )
        nxt = data[pos + 1]
        if nxt == 0x00:
            pos += 2  # stuffed pad byte
        elif 0xD0 <= nxt <= 0xD7:
            pos += 2  # stray restart after the final interval
        elif nxt == 0xFF:
            pos += 1  # fill byte before the marker code
        else:
            break  # next marker segment
    return pos


@_codec_errors("JPEG")
def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline/extended-sequential AND progressive (SOF0/SOF1/SOF2)
    Huffman JFIF → uint8 [h][w] (gray) or [h][w][3] (RGB). Supports
    h/v sampling factors 1-2 (4:4:4 / 4:2:2 / 4:2:0 / 4:4:0), restart
    intervals, multi-table DQT/DHT segments, spectral-selection +
    successive-approximation progressive scans; hierarchical and
    arithmetic-coded frames raise."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("JPEG: bad SOI")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    pcoef: dict[int, np.ndarray] | None = None
    dri = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        # ISO/IEC 10918-1 B.1.1.2: any number of 0xFF fill bytes may
        # precede a marker code — skip them (some encoders/cameras pad;
        # treating the fill byte as the marker misreads the real marker
        # as a segment length)
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            # a trailing run of 0xFF with no marker code after it
            raise ValueError("JPEG: truncated stream inside marker segment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0x0F
                o += 1
                if pq:
                    tbl = np.frombuffer(body, dtype=">u2", count=64, offset=o).astype(np.int64)
                    o += 128
                else:
                    tbl = np.frombuffer(body, dtype=np.uint8, count=64, offset=o).astype(np.int64)
                    o += 64
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZZ] = tbl  # stored zigzag → natural
                qts[tq] = nat
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1 : o + 17])
                n = sum(bits)
                vals = bytes(body[o + 17 : o + 17 + n])
                huffs[(tc, th)] = _huff_decoder(bits, vals)
                o += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"JPEG: {prec}-bit precision not supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 2 and 1 <= cv <= 2):
                    raise ValueError(f"JPEG: sampling {ch}x{cv} not supported")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            frame = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"JPEG: SOF{marker - 0xC0} frames not supported")
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            h, w, comps = frame
            ns = body[0]
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if progressive:
                scomps = []
                for i in range(ns):
                    cs, tdta = body[1 + 2 * i : 3 + 2 * i]
                    comp = next(c for c in comps if c["id"] == cs)
                    scomps.append((comp, tdta >> 4, tdta & 0x0F))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                if pcoef is None:
                    mcux = -(-w // (8 * hmax))
                    mcuy = -(-h // (8 * vmax))
                    pcoef = {
                        i: np.zeros(
                            (mcuy * c["v"], mcux * c["h"], 64), np.int64
                        )
                        for i, c in enumerate(comps)
                    }
                pos = _progressive_scan(
                    data, pos, scomps, huffs, pcoef, comps, h, w,
                    hmax, vmax, ss, se, ahal >> 4, ahal & 0x0F, dri,
                )
                continue
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i : 3 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                scan.append((comp, huffs[(0, tdta >> 4)], huffs[(1, tdta & 0x0F)]))
            if ns != len(comps):
                raise ValueError("JPEG: multi-scan sequential not supported")
            r = _JpegBitReader(data, pos)
            preds = {c["id"]: 0 for c in comps}
            if ns == 1:
                comp, dcd, acd = scan[0]
                cw = -(-w * comp["h"] // hmax)
                chh = -(-h * comp["v"] // vmax)
                bx, by = -(-cw // 8), -(-chh // 8)
                coef = {comps.index(comp): np.zeros((by, bx, 64), np.int64)}
                n_units, grid_x = by * bx, bx
                order = [(comps.index(comp), dcd, acd, 1, 1)]
            else:
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                coef = {
                    i: np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int64)
                    for i, c in enumerate(comps)
                }
                n_units, grid_x = mcux * mcuy, mcux
                order = [
                    (comps.index(c), dcd, acd, c["h"], c["v"])
                    for c, dcd, acd in scan
                ]
            for u in range(n_units):
                if dri and u and u % dri == 0:
                    r.expect_rst()
                    preds = {c["id"]: 0 for c in comps}
                uy, ux = divmod(u, grid_x)
                for ci, dcd, acd, chf, cvf in order:
                    for vy in range(cvf):
                        for hx in range(chf):
                            zz, preds[comps[ci]["id"]] = _decode_block(
                                r, dcd, acd, preds[comps[ci]["id"]]
                            )
                            coef[ci][uy * cvf + vy, ux * chf + hx] = zz
            return _jpeg_reconstruct(coef, comps, qts, h, w, hmax, vmax)
        # all other markers (APPn, COM): skipped via seglen
    if progressive and pcoef is not None:
        h, w, comps = frame
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        return _jpeg_reconstruct(pcoef, comps, qts, h, w, hmax, vmax)
    raise ValueError("JPEG: no SOS marker found")
