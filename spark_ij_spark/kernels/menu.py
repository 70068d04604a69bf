"""ImageJ menu staples beyond the core set: Process>Math bitwise and
clamp ops, Shadows directional convolutions, Unsharp Mask / Top Hat /
background subtraction, contrast enhancement, arbitrary-angle rotate
and scale, stack slice ops and Z-projection, 3D filters, FFT ops, and
the standard color LUT tables.

The reference dispatches these by name through ImageJ's plugin menu
(PortableImagePlus.scala:352-388) and asserts a >100-command registry
(DDLTests.scala:34); this module carries the registry past that bar
with real numpy kernels under the same [h][w][slices](+[3]) layout as
the rest of ``kernels/``.
"""

from __future__ import annotations

import json

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from spark_ij_spark.kernels.core import _CLAMP, _seed_for
from spark_ij_spark.kernels.filters import (
    _clamped,
    _convolve2d,
    _gaussian_1d,
    _per_slice,
    _rank_filter,
)
from spark_ij_spark.registry import get_float, get_int, register_op


def _info(meta: dict) -> dict:
    try:
        return json.loads(meta.get("info") or "{}")
    except (ValueError, TypeError):
        return {}


def _set_info(meta: dict, key, value) -> None:
    info = _info(meta)
    info[key] = value
    meta["info"] = json.dumps(info)


# ---------------------------------------------------------------------------
# Process > Math
# ---------------------------------------------------------------------------


@register_op("Min...")
def op_min_clamp(arr, args, meta):
    """Pixels below ``value`` are set to value (lower clamp)."""
    v = get_float(args, "value", 0.0)
    return np.maximum(arr, np.asarray(v).astype(arr.dtype))


@register_op("Max...")
def op_max_clamp(arr, args, meta):
    """Pixels above ``value`` are set to value (upper clamp)."""
    v = get_float(args, "value", 255.0)
    return np.minimum(arr, np.asarray(v).astype(arr.dtype))


@register_op("Set...")
def op_set(arr, args, meta):
    return np.full_like(arr, np.asarray(get_float(args, "value", 0.0)).astype(arr.dtype))


@register_op("Reciprocal")
def op_reciprocal(arr, args, meta):
    """1/pixel as float32; 1/0 follows IEEE (inf), like ImageJ."""
    with np.errstate(divide="ignore"):
        return (1.0 / arr.astype("float64")).astype("float32")


@register_op("NaN Background")
def op_nan_background(arr, args, meta):
    """Out-of-threshold pixels → NaN (float output). Threshold bounds
    come from meta.info (stashed by setThreshold / Auto Threshold)."""
    info = _info(meta)
    lo, hi = (info.get("threshold") or [None, None])[:2]
    lo = -np.inf if lo is None else lo
    hi = np.inf if hi is None else hi
    a = arr.astype("float32")
    return np.where((a >= lo) & (a <= hi), a, np.float32(np.nan))


def _bitwise(arr, args, fn):
    if arr.dtype.kind not in "ui":
        raise ValueError("bitwise ops require an integer image")
    v = get_int(args, "value", 0)
    return fn(arr.astype("int64"), v).astype(arr.dtype)


@register_op("AND...")
def op_and(arr, args, meta):
    return _bitwise(arr, args, np.bitwise_and)


@register_op("OR...")
def op_or(arr, args, meta):
    return _bitwise(arr, args, np.bitwise_or)


@register_op("XOR...")
def op_xor(arr, args, meta):
    return _bitwise(arr, args, np.bitwise_xor)


# ---------------------------------------------------------------------------
# Process > Shadows (directional 3x3 emboss kernels; each sums to 1 so
# flat regions are preserved)
# ---------------------------------------------------------------------------

_SHADOW_KERNELS = {
    "North": [[1, 2, 1], [0, 1, 0], [-1, -2, -1]],
    "South": [[-1, -2, -1], [0, 1, 0], [1, 2, 1]],
    "East": [[-1, 0, 1], [-2, 1, 2], [-1, 0, 1]],
    "West": [[1, 0, -1], [2, 1, -2], [1, 0, -1]],
    "Northeast": [[0, 1, 2], [-1, 1, 1], [-2, -1, 0]],
    "Northwest": [[2, 1, 0], [1, 1, -1], [0, -1, -2]],
    "Southeast": [[-2, -1, 0], [-1, 1, 1], [0, 1, 2]],
    "Southwest": [[0, -1, -2], [1, 1, -1], [2, 1, 0]],
}


def _make_shadow(name: str, kern: np.ndarray):
    def op(arr, args, meta):
        return _clamped(arr, _per_slice(arr, lambda sl: _convolve2d(sl, kern)))

    op.__name__ = f"op_shadow_{name.lower()}"
    register_op(name)(op)


for _name, _k in _SHADOW_KERNELS.items():
    _make_shadow(_name, np.array(_k, dtype="float64"))


# ---------------------------------------------------------------------------
# Process > Filters / enhancement
# ---------------------------------------------------------------------------


def _gaussian2d(sl: np.ndarray, sigma: float) -> np.ndarray:
    k = _gaussian_1d(sigma)
    return _convolve2d(_convolve2d(sl, k[np.newaxis, :]), k[:, np.newaxis])


@register_op("Unsharp Mask...")
def op_unsharp(arr, args, meta):
    """out = (img − w·gaussian(img)) / (1 − w); radius = gaussian sigma,
    ImageJ defaults radius=1, mask weight=0.6."""
    sigma = get_float(args, "radius", 1.0)
    w = get_float(args, "mask", 0.6)

    def one(sl):
        s = sl.astype("float64")
        return (s - w * _gaussian2d(s, sigma)) / (1.0 - w)

    return _clamped(arr, _per_slice(arr, one))


def _gray_open(arr: np.ndarray, radius: float) -> np.ndarray:
    """Grayscale opening with ImageJ's circular kernel: erode then
    dilate (rank-min then rank-max)."""
    er = _rank_filter(arr, radius, np.min)
    return _rank_filter(er, radius, np.max)


@register_op("Top Hat...")
def op_top_hat(arr, args, meta):
    """White top-hat: img − opening(img). ``light`` selects the black
    top-hat (closing − img) for dark features on bright ground."""
    radius = get_float(args, "radius", 5.0)
    a = arr.astype("float64")
    if args.get("light"):
        di = _rank_filter(a, radius, np.max)
        closing = _rank_filter(di, radius, np.min)
        out = closing - a
    else:
        out = a - _gray_open(a, radius)
    return _clamped(arr, out)


@register_op("Subtract Background...")
def op_subtract_background(arr, args, meta):
    """Rolling-ball background subtraction, implemented as the
    grayscale-opening approximation of Sternberg's rolling ball
    (opening with a disk of ``rolling`` radius estimates the
    background; subtract it). ``light`` inverts for dark backgrounds."""
    radius = get_float(args, "rolling", 50.0)
    a = arr.astype("float64")
    if args.get("light"):
        di = _rank_filter(a, radius, np.max)
        bg = _rank_filter(di, radius, np.min)
        out = a - bg + bg.max()
    else:
        out = a - _gray_open(a, radius)
    return _clamped(arr, out)


@register_op("Remove Outliers...")
def op_remove_outliers(arr, args, meta):
    """Replace a pixel by the circular median when it deviates from it
    by more than ``threshold``; ``which=Bright|Dark`` selects the
    deviation sign (ImageJ's despeckle-with-threshold)."""
    radius = get_float(args, "radius", 2.0)
    thr = get_float(args, "threshold", 50.0)
    which = str(args.get("which", "Bright")).lower()
    med = _rank_filter(arr.astype("float64"), radius, np.median)
    a = arr.astype("float64")
    if which == "dark":
        mask = (med - a) > thr
    else:
        mask = (a - med) > thr
    return np.where(mask, med, a).astype(arr.dtype)


@register_op("Remove NaNs...")
def op_remove_nans(arr, args, meta):
    """Replace NaN pixels by the mean of non-NaN neighbors within the
    box radius (float images)."""
    r = get_int(args, "radius", 2)
    a = arr.astype("float64")

    def one(sl):
        nan = np.isnan(sl)
        if not nan.any():
            return sl
        filled = np.where(nan, 0.0, sl)
        cnt = (~nan).astype("float64")
        k = 2 * r + 1
        pad_f = np.pad(filled, r, mode="constant")
        pad_c = np.pad(cnt, r, mode="constant")
        wins_f = sliding_window_view(pad_f, (k, k)).sum(axis=(2, 3))
        wins_c = sliding_window_view(pad_c, (k, k)).sum(axis=(2, 3))
        with np.errstate(invalid="ignore"):
            mean = wins_f / wins_c
        return np.where(nan, mean, sl)

    return _per_slice(a, one).astype("float32")


@register_op("Enhance Contrast...")
def op_enhance_contrast(arr, args, meta):
    """Percentile contrast stretch: clip ``saturated``% of pixels
    (half at each tail) and stretch to the dtype range. ``equalize``
    selects histogram equalization instead (ImageJ's two modes)."""
    a = arr.astype("float64")
    lo_t, hi_t = (0.0, 255.0) if arr.dtype != np.uint16 else (0.0, 65535.0)
    if arr.dtype.kind == "f":
        lo_t, hi_t = float(a.min()), float(a.max())
    if args.get("equalize"):
        hist, edges = np.histogram(a.ravel(), bins=256)
        cdf = np.cumsum(hist).astype("float64")
        cdf = (cdf - cdf[0]) / max(cdf[-1] - cdf[0], 1)
        idx = np.clip(np.searchsorted(edges[1:], a, side="left"), 0, 255)
        out = lo_t + cdf[idx] * (hi_t - lo_t)
    else:
        sat = get_float(args, "saturated", 0.35)
        plo, phi = np.percentile(a, [sat / 2.0, 100.0 - sat / 2.0])
        if phi <= plo:
            return arr
        out = (np.clip(a, plo, phi) - plo) / (phi - plo) * (hi_t - lo_t) + lo_t
    if arr.dtype.kind in "ui":
        out = np.rint(out)
    return out.astype(arr.dtype)


@register_op("Apply LUT")
def op_apply_lut(arr, args, meta):
    """Bake the display range into the pixels: stretch
    meta.info.display_range (default data min..max) to the dtype
    range. Resets the stashed range afterwards, like ImageJ."""
    a = arr.astype("float64")
    info = _info(meta)
    lo, hi = (info.get("display_range") or [float(a.min()), float(a.max())])[:2]
    hi_t = 65535.0 if arr.dtype == np.uint16 else 255.0
    if hi <= lo:
        return arr
    out = np.clip((a - lo) / (hi - lo), 0.0, 1.0) * hi_t
    _set_info(meta, "display_range", None)
    if arr.dtype.kind == "f":
        return out.astype(arr.dtype)
    return np.rint(out).astype(arr.dtype)


@register_op("Find Maxima...")
def op_find_maxima(arr, args, meta):
    """Single-point local maxima with ``prominence`` tolerance: a pixel
    survives if it is the strict max of its 3x3 neighborhood and rises
    at least prominence above the image minimum. Output mask (255 at
    maxima) + count table, like output=[Single Points]."""
    prom = get_float(args, "prominence", 10.0)

    def one(sl):
        a = sl.astype("float64")
        p = np.pad(a, 1, mode="constant", constant_values=-np.inf)
        h, w = a.shape
        neigh = np.stack(
            [
                p[dy : dy + h, dx : dx + w]
                for dy in (0, 1, 2)
                for dx in (0, 1, 2)
                if not (dy == 1 and dx == 1)
            ]
        )
        is_max = (a > neigh.max(axis=0)) & (a >= a.min() + prom)
        return np.where(is_max, 255, 0).astype(np.uint8)

    out = _per_slice(arr, one)
    return out, {"count": [float((out > 0).sum())]}


# ---------------------------------------------------------------------------
# Image > Transform / Adjust (geometry)
# ---------------------------------------------------------------------------


def _bilinear(sl: np.ndarray, yy: np.ndarray, xx: np.ndarray) -> np.ndarray:
    """Sample ``sl`` at float coordinate grids (yy, xx) with bilinear
    interpolation; out-of-bounds samples are 0 (ImageJ zero-fills)."""
    h, w = sl.shape
    valid = (yy >= 0) & (yy <= h - 1) & (xx >= 0) & (xx <= w - 1)
    y0 = np.clip(np.floor(yy).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xx).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    fy = np.clip(yy - y0, 0.0, 1.0)
    fx = np.clip(xx - x0, 0.0, 1.0)
    a = sl.astype("float64")
    top = a[y0, x0] * (1 - fx) + a[y0, x1] * fx
    bot = a[y1, x0] * (1 - fx) + a[y1, x1] * fx
    return np.where(valid, top * (1 - fy) + bot * fy, 0.0)


@register_op("Scale...")
def op_scale(arr, args, meta):
    """Scale by (x, y) factors — or to width=/height= — with bilinear
    interpolation (Image>Scale)."""
    h, w = arr.shape[0], arr.shape[1]
    sx = get_float(args, "x", 0.0)
    sy = get_float(args, "y", sx or 0.0)
    tw = get_int(args, "width", int(round(w * sx)) if sx else w)
    th = get_int(args, "height", int(round(h * sy)) if sy else h)
    if tw <= 0 or th <= 0:
        raise ValueError("Scale...: target size must be positive")
    # centers-aligned mapping, ImageJ ImageProcessor.scale convention
    xx = (np.arange(tw) + 0.5) * (w / tw) - 0.5
    yy = (np.arange(th) + 0.5) * (h / th) - 0.5
    gyy, gxx = np.meshgrid(yy, xx, indexing="ij")

    def one(sl):
        out = _bilinear(sl, gyy, gxx)
        if arr.dtype.kind in "ui":
            out = np.rint(out)
        return out.astype(arr.dtype)

    return _per_slice(arr, one)


@register_op("Rotate...")
def op_rotate(arr, args, meta):
    """Arbitrary-angle rotation about the image center, bilinear,
    zero-filled corners, same canvas (Image>Transform>Rotate...)."""
    angle = get_float(args, "angle", 0.0)
    rad = np.deg2rad(angle)
    c, s = np.cos(rad), np.sin(rad)
    h, w = arr.shape[0], arr.shape[1]
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    gy, gx = np.meshgrid(np.arange(h, dtype="float64"), np.arange(w, dtype="float64"), indexing="ij")
    # inverse map: rotate output coords by -angle around the center
    yy = cy + (gy - cy) * c - (gx - cx) * s
    xx = cx + (gy - cy) * s + (gx - cx) * c

    def one(sl):
        out = _bilinear(sl, yy, xx)
        if arr.dtype.kind in "ui":
            out = np.rint(out)
        return out.astype(arr.dtype)

    return _per_slice(arr, one)


@register_op("Canvas Size...")
def op_canvas_size(arr, args, meta):
    """Grow/shrink the canvas to width × height with centered content,
    zero-filling new border (Image>Adjust>Canvas Size)."""
    h, w = arr.shape[0], arr.shape[1]
    tw = get_int(args, "width", w)
    th = get_int(args, "height", h)
    out_shape = (th, tw) + arr.shape[2:]
    out = np.zeros(out_shape, dtype=arr.dtype)
    oy, ox = max(0, (th - h) // 2), max(0, (tw - w) // 2)
    sy, sx = max(0, (h - th) // 2), max(0, (w - tw) // 2)
    ch, cw = min(h, th), min(w, tw)
    out[oy : oy + ch, ox : ox + cw] = arr[sy : sy + ch, sx : sx + cw]
    return out


def _stack3d(arr: np.ndarray) -> np.ndarray:
    return arr[:, :, np.newaxis] if arr.ndim == 2 else arr


@register_op("Reverse")
def op_reverse(arr, args, meta):
    """Reverse stack slice order (Image>Stacks>Tools>Reverse)."""
    return _stack3d(arr)[:, :, ::-1].copy()


@register_op("Flip Z")
def op_flip_z(arr, args, meta):
    return _stack3d(arr)[:, :, ::-1].copy()


@register_op("Delete Slice")
def op_delete_slice(arr, args, meta):
    """Remove slice ``number`` (1-based; default last)."""
    a = _stack3d(arr)
    s = a.shape[2]
    if s <= 1:
        raise ValueError("Delete Slice: stack has a single slice")
    k = get_int(args, "number", s)
    k = max(1, min(k, s))
    return np.delete(a, k - 1, axis=2)


@register_op("Add Slice")
def op_add_slice(arr, args, meta):
    """Append a blank slice (Image>Stacks>Add Slice)."""
    a = _stack3d(arr)
    blank = np.zeros(a.shape[:2] + (1,) + a.shape[3:], dtype=a.dtype)
    return np.concatenate([a, blank], axis=2)


_PROJECTIONS = {
    "max intensity": lambda a: a.max(axis=2),
    "min intensity": lambda a: a.min(axis=2),
    "average intensity": lambda a: a.mean(axis=2),
    "sum slices": lambda a: a.sum(axis=2),
    "median": lambda a: np.median(a, axis=2),
    "standard deviation": lambda a: a.std(axis=2, ddof=1),
}


@register_op("Z Project...")
def op_z_project(arr, args, meta):
    """Project the stack along Z (Image>Stacks>Z Project...):
    projection=[Max Intensity|Min Intensity|Average Intensity|
    Sum Slices|Median|Standard Deviation], optional start=/stop=."""
    a = _stack3d(arr).astype("float64")
    s = a.shape[2]
    # clamp BOTH ends into [1, s] with start <= stop (same rule as
    # Make Substack...): an out-of-range start previously produced an
    # empty slab and an opaque zero-size-reduction crash
    stop = max(1, min(get_int(args, "stop", s), s))
    start = max(1, min(get_int(args, "start", 1), stop))
    a = a[:, :, start - 1 : stop]
    how = str(args.get("projection", "Max Intensity")).strip().lower()
    fn = _PROJECTIONS.get(how)
    if fn is None:
        raise ValueError(f"unknown projection {how!r}; one of {sorted(_PROJECTIONS)}")
    out = fn(a)
    if how in ("max intensity", "min intensity", "median") and arr.dtype.kind in "ui":
        return np.rint(out).astype(arr.dtype)
    return out.astype("float32")


# ---------------------------------------------------------------------------
# 3D filters (Process>Filters>... 3D): box neighborhoods over [h][w][s]
# ---------------------------------------------------------------------------


def _box3d(arr: np.ndarray, rx: int, ry: int, rz: int, reducer) -> np.ndarray:
    a = _stack3d(arr).astype("float64")
    pad = np.pad(a, ((ry, ry), (rx, rx), (rz, rz)), mode="edge")
    win = sliding_window_view(pad, (2 * ry + 1, 2 * rx + 1, 2 * rz + 1))
    return reducer(win, axis=(3, 4, 5))


def _filter3d(arr, args, reducer, int_round=True):
    rx = get_int(args, "x", 2)
    ry = get_int(args, "y", 2)
    rz = get_int(args, "z", 2)
    out = _box3d(arr, rx, ry, rz, reducer)
    if int_round and arr.dtype.kind in "ui":
        out = np.rint(out)
    return out.astype(arr.dtype)


@register_op("Median 3D...")
def op_median3d(arr, args, meta):
    return _filter3d(arr, args, np.median)


@register_op("Mean 3D...")
def op_mean3d(arr, args, meta):
    return _filter3d(arr, args, np.mean)


@register_op("Minimum 3D...")
def op_min3d(arr, args, meta):
    return _filter3d(arr, args, np.min, int_round=False)


@register_op("Maximum 3D...")
def op_max3d(arr, args, meta):
    return _filter3d(arr, args, np.max, int_round=False)


@register_op("Gaussian Blur 3D...")
def op_gaussian3d(arr, args, meta):
    """Separable gaussian along x, y, z with per-axis sigmas."""
    sx = get_float(args, "x", 2.0)
    sy = get_float(args, "y", 2.0)
    sz = get_float(args, "z", 2.0)
    a = _stack3d(arr).astype("float64")

    def conv_axis(v, sigma, axis):
        if sigma <= 0 or v.shape[axis] == 1:
            return v
        k = _gaussian_1d(sigma)
        r = k.size // 2
        pads = [(0, 0)] * v.ndim
        pads[axis] = (r, r)
        p = np.pad(v, pads, mode="edge")
        out = np.zeros_like(v)
        for i, kv in enumerate(k):
            sl = [slice(None)] * v.ndim
            sl[axis] = slice(i, i + v.shape[axis])
            out += kv * p[tuple(sl)]
        return out

    a = conv_axis(a, sy, 0)
    a = conv_axis(a, sx, 1)
    a = conv_axis(a, sz, 2)
    if arr.dtype.kind in "ui":
        a = np.rint(a)
    return a.astype(arr.dtype)


# ---------------------------------------------------------------------------
# Process > FFT
# ---------------------------------------------------------------------------


@register_op("FFT")
def op_fft(arr, args, meta):
    """8-bit log power spectrum, origin centered (Process>FFT)."""

    def one(sl):
        f = np.fft.fftshift(np.fft.fft2(sl.astype("float64")))
        mag = np.log1p(np.abs(f))
        hi = mag.max()
        if hi <= 0:
            return np.zeros_like(sl, dtype=np.uint8)
        return np.rint(mag / hi * 255.0).astype(np.uint8)

    return _per_slice(arr, one)


@register_op("Bandpass Filter...")
def op_bandpass(arr, args, meta):
    """Gaussian bandpass in the frequency domain: suppress structures
    larger than ``filter_large`` px and smaller than ``filter_small``
    px (Process>FFT>Bandpass Filter...)."""
    large = get_float(args, "filter_large", 40.0)
    small = get_float(args, "filter_small", 3.0)

    def one(sl):
        a = sl.astype("float64")
        h, w = a.shape
        fy = np.fft.fftfreq(h)[:, np.newaxis]
        fx = np.fft.fftfreq(w)[np.newaxis, :]
        r2 = fy * fy + fx * fx
        # pass band between 1/large and 1/small cycles/px
        lo = 1.0 / max(large, 1e-9)
        hi = 1.0 / max(small, 1e-9)
        keep = np.exp(-r2 / (2.0 * hi * hi)) * (1.0 - np.exp(-r2 / (2.0 * lo * lo)))
        out = np.fft.ifft2(np.fft.fft2(a) * keep).real
        return out

    return _clamped(arr, _per_slice(arr, one))


# ---------------------------------------------------------------------------
# noise + color
# ---------------------------------------------------------------------------


@register_op("Salt and Pepper")
def op_salt_pepper(arr, args, meta):
    """Set a random 2.5% of pixels to the dtype max and 2.5% to 0
    (Process>Noise>Salt and Pepper). Seeded from the pixel bytes so
    retries/speculative tasks reproduce the identical image."""
    rng = np.random.default_rng(_seed_for(arr, {"_op": "salt-pepper"}))
    u = rng.random(arr.shape)
    hi = _CLAMP.get(arr.dtype.name, (0, 255))[1]
    out = arr.copy()
    out[u < 0.025] = hi
    out[u > 0.975] = 0
    return out


_LUT_NAMES = [
    "Fire",
    "Grays",
    "Ice",
    "Spectrum",
    "3-3-2 RGB",
    "Red",
    "Green",
    "Blue",
    "Cyan",
    "Magenta",
    "Yellow",
    "Red/Green",
]


def lut_table(name: str) -> np.ndarray:
    """256×3 uint8 color table for the named ImageJ LUT."""
    i = np.arange(256, dtype="float64")
    if name == "Grays":
        t = np.stack([i, i, i], axis=1)
    elif name == "Fire":
        r = np.clip(i * 3.0, 0, 255)
        g = np.clip(i * 3.0 - 255.0, 0, 255)
        b = np.clip(i * 3.0 - 510.0, 0, 255)
        t = np.stack([r, g, b], axis=1)
    elif name == "Ice":
        t = np.stack([np.clip(i * 1.5 - 128, 0, 255), np.clip(i, 0, 255), 255 - i / 4.0], axis=1)
    elif name == "Spectrum":
        # hue sweep 0..360 at full saturation/value
        h6 = (i / 256.0) * 6.0
        x = 255.0 * (1.0 - np.abs(h6 % 2 - 1.0))
        r = np.select([h6 < 1, h6 < 2, h6 < 3, h6 < 4, h6 < 5], [255, x, 0, 0, x], 255)
        g = np.select([h6 < 1, h6 < 2, h6 < 3, h6 < 4, h6 < 5], [x, 255, 255, x, 0], 0)
        b = np.select([h6 < 1, h6 < 2, h6 < 3, h6 < 4, h6 < 5], [0, 0, x, 255, 255], x)
        t = np.stack([r, g, b], axis=1)
    elif name == "3-3-2 RGB":
        t = np.stack(
            [(i.astype(int) >> 5) * 255 / 7, ((i.astype(int) >> 2) & 7) * 255 / 7, (i.astype(int) & 3) * 255 / 3],
            axis=1,
        )
    elif name == "Red/Green":
        t = np.stack([np.clip(255 - 2 * i, 0, 255), np.clip(2 * i - 255, 0, 255), np.zeros(256)], axis=1)
    else:
        chans = {
            "Red": (1, 0, 0),
            "Green": (0, 1, 0),
            "Blue": (0, 0, 1),
            "Cyan": (0, 1, 1),
            "Magenta": (1, 0, 1),
            "Yellow": (1, 1, 0),
        }[name]
        t = np.stack([i * c for c in chans], axis=1)
    return np.clip(np.rint(t), 0, 255).astype(np.uint8)


def _make_lut(name: str):
    def op(arr, args, meta):
        _set_info(meta, "lut", name)
        return arr

    op.__name__ = f"op_lut_{name.lower().replace('/', '_').replace(' ', '_').replace('-', '_')}"
    register_op(name)(op)


for _n in _LUT_NAMES:
    _make_lut(_n)


@register_op("RGB Color")
def op_rgb_color(arr, args, meta):
    """Convert to RGB: gray data maps through the active LUT
    (meta.info.lut, default Grays) after an 8-bit range scale;
    already-RGB images pass through (Image>Type>RGB Color).

    Inside kernels a 3D array is ALWAYS a slice stack — true RGB
    arrives 4D ([h][w][s][3], color declared by the decoder; CLAUDE.md
    kernel-side RGB rule) — so only ndim==4 passes through: a shape/dtype
    heuristic here silently no-opped on uint8 3-slice stacks."""
    if arr.ndim == 4:
        return arr
    from spark_ij_spark.kernels.core import op_to_8bit

    a8 = op_to_8bit(arr, {}, meta)
    table = lut_table(_info(meta).get("lut") or "Grays")
    return table[a8]
