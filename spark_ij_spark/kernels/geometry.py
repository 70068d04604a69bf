"""Geometry + binary-morphology named ops.

Reference surface: ImageJ menu commands the plugin engine dispatches by
name (run/run2, PortableImagePlus.scala:116-121; registry listing
asserted >100 commands in DDLTests.scala:34). These are the standard
geometry (rotate/flip/translate/crop/bin/resize) and binary morphology
(erode/dilate/open/close, fill holes, outline) commands, as vectorized
numpy over the [h][w][slices] convention.

Morphology uses the ImageJ binary convention: foreground = 255,
3x3 square structuring element, edge-replicate padding.
"""

from __future__ import annotations

import numpy as np

from spark_ij_spark.registry import get_float, get_int, register_op

# The 4D-aware helper (RGB images are [h][w][s][3] inside kernels): a
# private 2D/3D-only copy here would make every geometry/morphology op
# crash on RGB input.
from spark_ij_spark.kernels.filters import _per_slice


# --- geometry ---------------------------------------------------------


@register_op("Rotate 90 Degrees Right")
def rotate_right(arr, args, meta):
    return _per_slice(arr, lambda s: np.rot90(s, k=-1)), None


@register_op("Rotate 90 Degrees Left")
def rotate_left(arr, args, meta):
    return _per_slice(arr, lambda s: np.rot90(s, k=1)), None


@register_op("Flip Horizontally")
def flip_h(arr, args, meta):
    return _per_slice(arr, lambda s: s[:, ::-1]), None


@register_op("Flip Vertically")
def flip_v(arr, args, meta):
    return _per_slice(arr, lambda s: s[::-1, :]), None


@register_op("Translate...")
def translate(arr, args, meta):
    """Shift by (x, y) pixels, zero-filling exposed regions."""
    dx = get_int(args, "x", 0)
    dy = get_int(args, "y", 0)

    def sh(s):
        out = np.zeros_like(s)
        h, w = s.shape
        if abs(dy) >= h or abs(dx) >= w:
            return out  # fully shifted out of frame → blank
        ys, yd = (slice(0, h - dy), slice(dy, h)) if dy >= 0 else (slice(-dy, h), slice(0, h + dy))
        xs, xd = (slice(0, w - dx), slice(dx, w)) if dx >= 0 else (slice(-dx, w), slice(0, w + dx))
        out[yd, xd] = s[ys, xs]
        return out

    return _per_slice(arr, sh), None


@register_op("Crop")
def crop(arr, args, meta):
    """Crop to [x, x+width) × [y, y+height) (defaults: whole image)."""
    h, w = arr.shape[0], arr.shape[1]
    x = get_int(args, "x", 0)
    y = get_int(args, "y", 0)
    cw = get_int(args, "width", w - x)
    ch = get_int(args, "height", h - y)
    return arr[y : y + ch, x : x + cw], None


@register_op("Bin...")
def bin_op(arr, args, meta):
    """Downsample by integer factors (x, y) using the selected
    reduction (average|sum|min|max), ImageJ Image>Transform>Bin."""
    fx = max(get_int(args, "x", 2), 1)
    fy = max(get_int(args, "y", 2), 1)
    how = str(args.get("bin", "average")).lower()

    def red(s):
        h, w = s.shape
        th, tw = (h // fy) * fy, (w // fx) * fx
        v = s[:th, :tw].reshape(th // fy, fy, tw // fx, fx).astype("float64")
        if how == "sum":
            r = v.sum(axis=(1, 3))
        elif how == "min":
            r = v.min(axis=(1, 3))
        elif how == "max":
            r = v.max(axis=(1, 3))
        else:
            r = v.mean(axis=(1, 3))
        return r.astype(s.dtype if how in ("min", "max") else "float32")

    return _per_slice(arr, red), None


@register_op("Size...")
def resize(arr, args, meta):
    """Nearest-neighbor resize to width × height (Image>Adjust>Size)."""
    h, w = arr.shape[0], arr.shape[1]
    tw = get_int(args, "width", w)
    th = get_int(args, "height", h)
    yi = (np.arange(th) * h) // th
    xi = (np.arange(tw) * w) // tw
    return arr[yi][:, xi], None


# --- binary morphology ------------------------------------------------


def _pad(s: np.ndarray) -> np.ndarray:
    return np.pad(s, 1, mode="edge")


def _erode2d(s: np.ndarray) -> np.ndarray:
    p = _pad(s > 0)
    out = np.ones_like(s, dtype=bool)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            out &= p[dy : dy + s.shape[0], dx : dx + s.shape[1]]
    return np.where(out, 255, 0).astype(s.dtype)


def _dilate2d(s: np.ndarray) -> np.ndarray:
    p = _pad(s > 0)
    out = np.zeros_like(s, dtype=bool)
    for dy in (0, 1, 2):
        for dx in (0, 1, 2):
            out |= p[dy : dy + s.shape[0], dx : dx + s.shape[1]]
    return np.where(out, 255, 0).astype(s.dtype)


@register_op("Erode")
def erode(arr, args, meta):
    n = get_int(args, "iterations", 1)
    out = arr
    for _ in range(n):
        out = _per_slice(out, _erode2d)
    return out, None


@register_op("Dilate")
def dilate(arr, args, meta):
    n = get_int(args, "iterations", 1)
    out = arr
    for _ in range(n):
        out = _per_slice(out, _dilate2d)
    return out, None


@register_op("Open")
def open_op(arr, args, meta):
    return _per_slice(_per_slice(arr, _erode2d), _dilate2d), None


@register_op("Close-")
def close_op(arr, args, meta):
    return _per_slice(_per_slice(arr, _dilate2d), _erode2d), None


@register_op("Fill Holes")
def fill_holes(arr, args, meta):
    """Flood-fill background from the border; unreached background
    pixels are holes → foreground. Iterative BFS via dilation masked to
    background (pure numpy, no scipy)."""

    def fill(s):
        bg = ~(s > 0)
        reach = np.zeros_like(bg)
        reach[0, :] = bg[0, :]
        reach[-1, :] = bg[-1, :]
        reach[:, 0] = bg[:, 0]
        reach[:, -1] = bg[:, -1]
        while True:
            p = np.pad(reach, 1, mode="constant")
            grown = (
                p[:-2, 1:-1] | p[2:, 1:-1] | p[1:-1, :-2] | p[1:-1, 2:] | reach
            ) & bg
            if (grown == reach).all():
                break
            reach = grown
        return np.where(bg & ~reach, 255, s).astype(s.dtype)

    return _per_slice(arr, fill), None


@register_op("Outline")
def outline(arr, args, meta):
    """Foreground minus its erosion: 1-px boundary of binary objects."""

    def ol(s):
        er = _erode2d(s)
        return np.where((s > 0) & ~(er > 0), 255, 0).astype(s.dtype)

    return _per_slice(arr, ol), None


@register_op("Make Substack...")
def make_substack(arr, args, meta):
    """Extract slices [first..last] of a stack (1-based, like the
    ImageJ command; getDoubleSlice analog is first=last=k,
    Spiji.java:751-762)."""
    # normalize 2D intermediates (e.g. a preceding Z Project in a fused
    # chain) to 3D before slicing — the sibling stack ops all guard
    from spark_ij_spark.kernels.menu import _stack3d

    arr = _stack3d(arr)
    s = arr.shape[2]
    first = get_int(args, "first", 1)
    last = get_int(args, "last", s)
    first = max(1, min(first, s))
    last = max(first, min(last, s))
    return arr[:, :, first - 1 : last], None


@register_op("Distance Map")
def distance_map(arr, args, meta):
    """Chamfer 3-4 distance transform of the binary foreground
    (Process>Binary>Distance Map): two sequential raster passes,
    vectorized across each row. Distances are in chamfer units / 3,
    a standard Euclidean approximation."""

    def _hscan(row: np.ndarray) -> np.ndarray:
        """min over k of row[k] + 3·|x−k|, both directions, vectorized:
        running-min of (row − 3·idx) + 3·idx and its mirror."""
        idx = np.arange(row.size, dtype="float64") * 3.0
        left = np.minimum.accumulate(row - idx) + idx
        right = (np.minimum.accumulate((row + idx)[::-1]) [::-1]) - idx
        return np.minimum(left, right)

    def dt(s):
        fg = s > 0
        h, w = s.shape
        d = np.where(fg, 1e9, 0.0)
        # forward pass: rows top→bottom (vertical 3, diagonal 4)
        for y in range(1, h):
            up = d[y - 1]
            row = np.minimum(d[y], up + 3.0)
            row[1:] = np.minimum(row[1:], up[:-1] + 4.0)
            row[:-1] = np.minimum(row[:-1], up[1:] + 4.0)
            d[y] = _hscan(row)
        d[0] = _hscan(d[0])
        # backward pass: rows bottom→top
        for y in range(h - 2, -1, -1):
            dn = d[y + 1]
            row = np.minimum(d[y], dn + 3.0)
            row[1:] = np.minimum(row[1:], dn[:-1] + 4.0)
            row[:-1] = np.minimum(row[:-1], dn[1:] + 4.0)
            d[y] = _hscan(row)
        return (d / 3.0).astype("float32")

    return _per_slice(arr, dt), None


@register_op("Skeletonize")
def skeletonize(arr, args, meta):
    """Zhang-Suen thinning (Process>Binary>Skeletonize): iteratively
    peel border pixels that don't break connectivity until stable.
    All conditions evaluated as vectorized boolean grids per pass."""

    def _neighbors(p):
        # P2..P9 clockwise from north, on a zero-padded copy
        z = np.pad(p, 1, mode="constant")
        h, w = p.shape
        return [
            z[0:h, 1 : w + 1],      # P2 N
            z[0:h, 2 : w + 2],      # P3 NE
            z[1 : h + 1, 2 : w + 2],  # P4 E
            z[2 : h + 2, 2 : w + 2],  # P5 SE
            z[2 : h + 2, 1 : w + 1],  # P6 S
            z[2 : h + 2, 0:w],      # P7 SW
            z[1 : h + 1, 0:w],      # P8 W
            z[0:h, 0:w],            # P9 NW
        ]

    def sk(s):
        p = (s > 0).astype(np.uint8)
        while True:
            changed = False
            for step in (0, 1):
                n = _neighbors(p)
                b = sum(x.astype(np.int32) for x in n)
                seq = n + [n[0]]
                a = sum(
                    ((seq[i] == 0) & (seq[i + 1] == 1)).astype(np.int32)
                    for i in range(8)
                )
                if step == 0:
                    c1 = (n[0] * n[2] * n[4]) == 0  # P2·P4·P6
                    c2 = (n[2] * n[4] * n[6]) == 0  # P4·P6·P8
                else:
                    c1 = (n[0] * n[2] * n[6]) == 0  # P2·P4·P8
                    c2 = (n[0] * n[4] * n[6]) == 0  # P2·P6·P8
                kill = (p == 1) & (b >= 2) & (b <= 6) & (a == 1) & c1 & c2
                if kill.any():
                    p[kill] = 0
                    changed = True
            if not changed:
                break
        return np.where(p > 0, 255, 0).astype(s.dtype)

    return _per_slice(arr, sk), None


@register_op("Ultimate Points")
def ultimate_points(arr, args, meta):
    """Ultimate eroded points (Process>Binary>Ultimate Points): local
    maxima of the chamfer distance map — one marker per convex blob,
    the classic seed set for watershed splitting."""

    def up(s):
        d, _ = distance_map(s[:, :, np.newaxis] if s.ndim == 2 else s, {}, meta)
        d2 = d[:, :, 0] if d.ndim == 3 else d
        return np.where(_ultimate_from_dist(d2), 255, 0).astype(s.dtype)

    return _per_slice(arr, up), None


def _ultimate_from_dist(d2: np.ndarray) -> np.ndarray:
    """Local maxima of an ALREADY-computed distance map (bool mask).
    Shared by ultimate_points and watershed so watershed reuses its
    own DT instead of paying the O(h)-Python-loop chamfer pass twice
    per slice."""
    p = np.pad(d2, 1, mode="constant")
    h, w = d2.shape
    neigh_max = np.max(
        np.stack(
            [
                p[dy : dy + h, dx : dx + w]
                for dy in (0, 1, 2)
                for dx in (0, 1, 2)
                if not (dy == 1 and dx == 1)
            ]
        ),
        axis=0,
    )
    return (d2 > 0) & (d2 >= neigh_max)


@register_op("Watershed")
def watershed(arr, args, meta):
    """Marker-based watershed split (Process>Binary>Watershed):
    markers = connected components of the ultimate points; regions
    grow outward through the foreground in descending distance-map
    order; pixels reached by two different regions become 1-px
    watershed lines (set to background) so touching convex objects
    separate before Analyze Particles."""
    from spark_ij_spark.kernels.particles import label_components

    def ws(s):
        fg = s > 0
        d, _ = distance_map(s[:, :, np.newaxis], {}, meta)
        d2 = d[:, :, 0]
        # markers from the DT just computed (ultimate_points would
        # re-run the chamfer pass on the same slice)
        markers, n = label_components(_ultimate_from_dist(d2))
        if n <= 1:
            return s  # single basin → nothing to split
        labels = markers.astype(np.int32)
        h, w = s.shape
        # flood by descending distance levels
        levels = np.unique(d2[fg])[::-1]
        for lev in levels:
            frontier = True
            while frontier:
                z = np.pad(labels, 1, mode="constant")
                neigh = np.stack(
                    [
                        z[dy : dy + h, dx : dx + w]
                        for dy in (0, 1, 2)
                        for dx in (0, 1, 2)
                        if not (dy == 1 and dx == 1)
                    ]
                )
                pos = np.where(neigh > 0, neigh, np.iinfo(np.int32).max)
                nmin = pos.min(axis=0)
                nmax = neigh.max(axis=0)
                cand = fg & (labels == 0) & (d2 >= lev) & (nmax > 0)
                conflict = cand & (nmin != nmax)
                grow = cand & ~conflict
                labels[conflict] = -1  # watershed line
                labels[grow] = nmin[grow].astype(np.int32)
                frontier = bool(grow.any() or conflict.any())
        # boundary pass: where two regions ended up adjacent without a
        # conflict pixel (asymmetric fronts), carve the line out of the
        # higher-label side so regions are never 8-connected
        z = np.pad(labels, 1, mode="constant")
        neigh = np.stack(
            [
                z[dy : dy + h, dx : dx + w]
                for dy in (0, 1, 2)
                for dx in (0, 1, 2)
                if not (dy == 1 and dx == 1)
            ]
        )
        pos = np.where(neigh > 0, neigh, np.iinfo(np.int32).max)
        nmin = pos.min(axis=0)
        labels[(labels > 0) & (nmin < labels)] = -1
        out = np.where(fg & (labels > 0), 255, 0)
        return out.astype(s.dtype)

    return _per_slice(arr, ws), None


@register_op("Invert LUT")
def invert_lut(arr, args, meta):
    """For binary images: swap foreground/background (255 ↔ 0)."""
    return np.where(arr > 0, 0, 255).astype(arr.dtype), None
