"""Particle analysis: connected-component labeling + per-component
shape/intensity measurements.

Rebuilds ``analyzeParticles`` (reference: PortableImagePlus.scala:153-155
→ ImageJ's ParticleAnalyzer with the measurement set of
IJResultsTable.scala:95-97: area mean standard modal min centroid center
perimeter bounding integrated median skewness kurtosis). Output is the
dynamic results table — ``{column: array<double>}`` — exactly the wire
shape of IJResultsTableUDT (IJResultsTableUDT.scala:32-38).

Pure numpy (no scipy in the runtime): labeling is two-pass union-find
with 8-connectivity (ImageJ's default); perimeter uses the exposed-edge
count approximation (documented divergence from ImageJ's weighted
boundary walk); Feret is the max pairwise distance over all of a
component's pixels, or over an evenly spaced 1,500-pixel sample of them
in raster order when the component is larger.

Feret only pairs each row's first and last point: for any pair (a, b),
moving a along its row to the end farther from b keeps dy and never
shrinks |dx|, and every float step of ``d2`` (scale, subtract, square,
add) is monotone, so the max over row ends is the max over all points,
bit for bit — at O(rows²) instead of O(pixels²).
"""

from __future__ import annotations

import numpy as np

from spark_ij_spark.registry import register_op


def label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """8-connected two-pass union-find labeling of a 2D boolean mask.

    Returns (labels int32 [h][w] with 0 = background, n_components);
    component ids are assigned in raster order of each component's
    first pixel (the ImageJ results-table row order).

    Run-based: rows decompose into foreground RUNS (vectorized
    ``np.diff`` edge detection), union-find runs over runs — O(runs)
    Python work instead of the per-pixel double loop this replaces
    (CLAUDE.md: vectorize per Arrow batch, not per pixel; ~1M
    interpreter iterations per 1024² image before)."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int32)
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    d = np.diff(padded.astype(np.int8), axis=1)
    run_rows, run_starts = np.nonzero(d == 1)
    run_ends = np.nonzero(d == -1)[1] - 1  # inclusive, aligned with starts
    n_runs = run_rows.size
    if n_runs == 0:
        return labels, 0

    parent = np.arange(n_runs)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    # rows are emitted in order by np.nonzero; per-row run slices
    row_bounds = np.searchsorted(run_rows, np.arange(h + 1))
    for i in range(1, h):
        a0, a1 = row_bounds[i], row_bounds[i + 1]  # runs in row i
        p0, p1 = row_bounds[i - 1], row_bounds[i]  # runs in row i-1
        if a0 == a1 or p0 == p1:
            continue
        # 8-connectivity: run [s,e] touches prev-row run [ps,pe] when
        # ps <= e+1 and s <= pe+1. Two-pointer sweep over the sorted
        # runs of both rows — O(runs in the two rows).
        pi = p0
        for ai in range(a0, a1):
            s, e = run_starts[ai], run_ends[ai]
            while pi < p1 and run_ends[pi] + 1 < s:
                pi += 1
            pj = pi
            while pj < p1 and run_starts[pj] <= e + 1:
                ra, rb = find(ai), find(pj)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                pj += 1

    # compress roots to consecutive ids in first-run (raster) order
    roots = np.array([find(i) for i in range(n_runs)])
    first = {}
    remap = np.zeros(n_runs, dtype=np.int32)
    out_n = 0
    for i in range(n_runs):
        r = roots[i]
        if r not in first:
            out_n += 1
            first[r] = out_n
        remap[i] = first[r]
    for i in range(n_runs):
        labels[run_rows[i], run_starts[i] : run_ends[i] + 1] = remap[i]
    return labels, out_n


def _component_measurements(
    values: np.ndarray,
    labels: np.ndarray,
    n: int,
    pixel_width: float = 1.0,
    pixel_height: float = 1.0,
) -> dict[str, list[float]]:
    """ImageJ-style measurement columns for each labeled component."""
    cols: dict[str, list[float]] = {
        k: []
        for k in (
            "Area Mean StdDev Mode Min Max X Y XM YM Perim. BX BY Width Height "
            "Circ. Feret IntDen Median Skew Kurt RawIntDen".split()
        )
    }
    px_area = pixel_width * pixel_height
    # ONE foreground scan, pixels grouped by label via stable argsort —
    # the per-label ``labels == lab`` rescan this replaces was
    # O(n_components × h × w)
    ys_all, xs_all = np.nonzero(labels)
    lab_all = labels[ys_all, xs_all]
    order = np.argsort(lab_all, kind="stable")
    ys_all, xs_all, lab_all = ys_all[order], xs_all[order], lab_all[order]
    bounds = np.searchsorted(lab_all, np.arange(1, n + 2))
    for lab in range(1, n + 1):
        lo_i, hi_i = bounds[lab - 1], bounds[lab]
        ys, xs = ys_all[lo_i:hi_i], xs_all[lo_i:hi_i]
        vals = values[ys, xs].astype("float64")
        cnt = vals.size
        mean = vals.mean()
        sd = vals.std(ddof=1) if cnt > 1 else 0.0
        # mode: most frequent value (ImageJ: histogram peak)
        uniq, freq = np.unique(vals, return_counts=True)
        mode = uniq[int(np.argmax(freq))]
        tot = vals.sum()
        cx = (xs.mean() + 0.5) * pixel_width
        cy = (ys.mean() + 0.5) * pixel_height
        if tot != 0:
            cxm = ((xs + 0.5) * vals).sum() / tot * pixel_width
            cym = ((ys + 0.5) * vals).sum() / tot * pixel_height
        else:
            cxm, cym = cx, cy
        bx, by = xs.min(), ys.min()
        bw, bh = xs.max() - bx + 1, ys.max() - by + 1
        # perimeter: exposed 4-neighbor edges (approximation), computed
        # on a zero-padded bounding-box crop — O(component), not
        # O(image); the padding preserves the image-border edge counts
        comp = np.zeros((bh + 2, bw + 2), dtype=bool)
        comp[ys - by + 1, xs - bx + 1] = True
        per = 0
        per += np.count_nonzero(comp[1:, :] != comp[:-1, :])
        per += np.count_nonzero(comp[:, 1:] != comp[:, :-1])
        per = per * (pixel_width + pixel_height) / 2.0
        area = cnt * px_area
        circ = float(4.0 * np.pi * area / (per * per)) if per > 0 else 0.0
        # Feret over the component's pixels in raster order (an evenly
        # spaced 1,500-pixel sample above that), reduced to each row's
        # first and last point before the pairwise max — see the
        # module docstring for why the max is unchanged
        fy, fx = ys, xs
        if cnt > 1500:
            sel = np.linspace(0, cnt - 1, 1500).astype(int)
            fy, fx = fy[sel], fx[sel]
        cut = np.flatnonzero(np.diff(fy))
        ends = np.union1d(np.r_[0, cut + 1], np.r_[cut, len(fy) - 1])
        pts = np.stack([fx[ends] * pixel_width, fy[ends] * pixel_height], axis=1)
        if len(pts) > 1:
            d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
            feret = float(np.sqrt(d2.max()))
        else:
            feret = float(max(pixel_width, pixel_height))
        if cnt > 2 and sd > 0:
            z = (vals - mean) / sd
            skew = float((z**3).mean())
            kurt = float((z**4).mean() - 3.0)
        else:
            skew, kurt = 0.0, 0.0
        row = {
            "Area": area,
            "Mean": mean,
            "StdDev": sd,
            "Mode": float(mode),
            "Min": float(vals.min()),
            "Max": float(vals.max()),
            "X": cx,
            "Y": cy,
            "XM": cxm,
            "YM": cym,
            "Perim.": float(per),
            "BX": float(bx * pixel_width),
            "BY": float(by * pixel_height),
            "Width": float(bw * pixel_width),
            "Height": float(bh * pixel_height),
            "Circ.": min(circ, 1.0),
            "Feret": feret,
            "IntDen": float(area * mean),
            "Median": float(np.median(vals)),
            "Skew": skew,
            "Kurt": kurt,
            "RawIntDen": float(tot),
        }
        for k, v in row.items():
            cols[k].append(float(v))
    return cols


def analyze_particles(
    arr: np.ndarray,
    pixel_width: float = 1.0,
    pixel_height: float = 1.0,
    min_size: float = 0.0,
    max_size: float = np.inf,
) -> dict[str, list[float]]:
    """Label foreground (nonzero) per slice and measure each component.

    Components are filtered by calibrated area in [min_size, max_size]
    (the ``size=`` option of Analyze Particles...). Slices are analyzed
    independently and their rows concatenated, with a ``Slice`` column
    when the stack has >1 slice (ImageJ behavior with ``stack``).
    """
    if arr.ndim == 2:
        arr = arr[:, :, np.newaxis]
    if arr.ndim == 4:  # RGB → first channel for masking purposes
        arr = arr[..., 0]
    out: dict[str, list[float]] = {}
    nslices = arr.shape[2]
    for k in range(nslices):
        sl = arr[:, :, k]
        labels, n = label_components(sl != 0)
        cols = _component_measurements(sl, labels, n, pixel_width, pixel_height)
        if min_size > 0 or np.isfinite(max_size):
            keep = [
                i
                for i, a in enumerate(cols["Area"])
                if min_size <= a <= max_size
            ]
            cols = {c: [v[i] for i in keep] for c, v in cols.items()}
        if nslices > 1:
            cols["Slice"] = [float(k + 1)] * len(cols["Area"])
        for c, v in cols.items():
            out.setdefault(c, []).extend(v)
    return out


@register_op("Analyze Particles...")
def op_analyze_particles(arr, args, meta):
    """Registry entry: returns (image unchanged, results table)."""
    size = str(args.get("size", "0-Infinity"))
    try:
        lo_s, _, hi_s = size.partition("-")
        lo = float(lo_s or 0.0)
        hi = np.inf if hi_s in ("", "Infinity") else float(hi_s)
    except ValueError:
        lo, hi = 0.0, np.inf
    table = analyze_particles(
        arr,
        pixel_width=float(meta.get("pixel_width", 1.0) or 1.0),
        pixel_height=float(meta.get("pixel_height", 1.0) or 1.0),
        min_size=lo,
        max_size=hi,
    )
    return arr, table
