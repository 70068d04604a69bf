"""Image data model: plain StructType columns instead of UDTs.

The reference carries images as a ``PortableImagePlus`` UDT whose wire
format is ``struct<jsonlog string, fullimage binary>`` with
Java-serialized pixels (reference: PipUDT.scala:28-35,
SerDeserHelper.scala:14-35). PySpark UDTs are private API, and opaque
Java blobs defeat columnar execution — so the rebuild stores images as
an explicit struct Spark can shuffle, persist, and prune natively:

    image: struct<
        data   binary,        -- raw C-order ndarray bytes
        dtype  string,        -- numpy dtype name (uint8, uint16, float32, ...)
        shape  array<int>,    -- [height, width, slices] (+[3] for RGB)
        meta   struct<...>,   -- spatial calibration (IJCalibration.java:17-56)
        log    array<struct>  -- lineage (ImagePlusIO.scala:16-18)
    >

Dimension convention is [height][width][slices], matching the
reference's tested contract (SpijiTests.scala:250-255).

The pixel-type lattice and lossy coercion rules mirror
TImgTools.java:24-43 (type ids) and convertArrayType (:102-180):
integer→float subtracts a signed offset then multiplies by a scale
factor; float→integer divides by the scale then adds the offset;
RGB→gray reduces via a strategy enum defaulting to MEAN
(TImgTools.java:311-315). Ingest coercions follow Spiji.createImage
(Spiji.java:955-1205): byte/short/float verbatim, int→16-bit (lossy),
double→float32 (lossy).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------------

META_SCHEMA = StructType(
    [
        StructField("pixel_width", DoubleType()),
        StructField("pixel_height", DoubleType()),
        StructField("pixel_depth", DoubleType()),
        StructField("x_origin", DoubleType()),
        StructField("y_origin", DoubleType()),
        StructField("z_origin", DoubleType()),
        StructField("unit", StringType()),
        StructField("info", StringType()),
    ]
)

# Lineage entry; ``children_json`` JSON-encodes nested child logs because
# Spark types cannot recurse (the reference JSON-encodes the whole log for
# the same reason, PipUDT.scala:43).
LOG_ENTRY_SCHEMA = StructType(
    [
        StructField("optype", StringType()),
        StructField("optool", StringType()),
        StructField("opval", StringType()),
        StructField("opargs", ArrayType(StringType())),
        StructField("children_json", StringType()),
    ]
)

IMAGE_SCHEMA = StructType(
    [
        StructField("data", BinaryType()),
        StructField("dtype", StringType()),
        StructField("shape", ArrayType(IntegerType())),
        StructField("meta", META_SCHEMA),
        StructField("log", ArrayType(LOG_ENTRY_SCHEMA)),
    ]
)

#: The NULL image: every field NULL. A permissive read keeps an
#: undecodable file as this, and every per-row image op passes it
#: through unchanged (no new lineage entry).
NULL_IMAGE: dict[str, Any] = dict.fromkeys(IMAGE_SCHEMA.fieldNames())

DEFAULT_META: dict[str, Any] = {
    "pixel_width": 1.0,
    "pixel_height": 1.0,
    "pixel_depth": 1.0,
    "x_origin": 0.0,
    "y_origin": 0.0,
    "z_origin": 0.0,
    "unit": "pixel",
    "info": "",
}

# Statistics struct (reference: ImageStatistics.scala:9-10)
STATS_SCHEMA = StructType(
    [
        StructField("min", DoubleType()),
        StructField("mean", DoubleType()),
        StructField("stdDev", DoubleType()),
        StructField("max", DoubleType()),
        StructField("pts", DoubleType()),
    ]
)

# Histogram struct (reference: IJHistogram.scala:10, types/stats.scala:10-12)
HIST_SCHEMA = StructType(
    [
        StructField("bin_centers", ArrayType(DoubleType())),
        StructField("bin_counts", ArrayType(IntegerType())),
    ]
)

# Results table: dynamic column set → map<string, array<double>>
# (reference: IJResultsTableUDT.scala:32-38)
from pyspark.sql.types import MapType  # noqa: E402

TABLE_SCHEMA = MapType(StringType(), ArrayType(DoubleType()))


# ---------------------------------------------------------------------------
# ingest coercion (Spiji.createImage semantics, Spiji.java:955-1205)
# ---------------------------------------------------------------------------

#: dtypes stored verbatim
_VERBATIM = {"uint8", "uint16", "int16", "float32"}


def coerce_ingest(arr: np.ndarray) -> np.ndarray:
    """Apply the reference's lossy ingest coercions.

    int32/int64 → uint16 (reference warns "lossy", Spiji.java:995-996;
    read-back uses unsigned ``&0xffff`` widening so we store unsigned);
    float64 → float32 (Spiji.java:1032-1034); bool → uint8 {0,255}.
    """
    name = arr.dtype.name
    if name in _VERBATIM:
        return arr
    if name == "bool":
        return arr.astype(np.uint8) * np.uint8(255)
    if name in ("int32", "int64", "uint32", "uint64"):
        return (arr & 0xFFFF).astype(np.uint16)
    if name == "float64":
        return arr.astype(np.float32)
    if name == "int8":
        return arr.astype(np.uint8)
    raise TypeError(f"unsupported image dtype: {name}")


def ensure_3d(arr: np.ndarray, rgb: bool | None = None) -> np.ndarray:
    """Normalize to [h][w][slices] (or [h][w][slices][3] for RGB).

    A 3D ``[h][w][3]`` array is genuinely ambiguous — an RGB image OR
    a 3-slice grayscale stack — so the CALLER that knows must say:
    ``rgb=True`` (color decoders: PNG/BMP/GIF/PNM color, PIL, 3-sample
    TIFF) lifts it to ``[h][w][1][3]`` for ANY dtype (8- and 16-bit
    color); ``rgb=False`` (stack producers: multi-page TIFF, AVI,
    createEmptyImages/assemble/op outputs) keeps it a 3-slice stack;
    ``rgb=None`` applies the legacy uint8-ONLY heuristic — only for
    arrays whose provenance is unknown (``.npy`` blobs, bare user
    arrays), where a color guess is the lesser evil. The heuristic
    must never grow dtype cases (a uint16 case would flip existing
    3-slice uint16 .npy stacks into RGB): 16-bit color from the real
    decoders arrives with an explicit rgb=True."""
    if arr.ndim == 2:
        return arr[:, :, np.newaxis]
    if (
        arr.ndim == 3
        and arr.shape[-1] == 3
        and (rgb is True or (rgb is None and arr.dtype == np.uint8))
    ):
        return arr[:, :, np.newaxis, :]
    if arr.ndim in (3, 4):
        return arr
    raise ValueError(f"image must be 2D-4D, got shape {arr.shape}")


# ---------------------------------------------------------------------------
# struct <-> numpy
# ---------------------------------------------------------------------------


def np_to_image(
    arr: np.ndarray,
    meta: dict[str, Any] | None = None,
    log: list[dict[str, Any]] | None = None,
    rgb: bool | None = False,
) -> dict[str, Any]:
    """Build an image-struct dict (pandas-UDF output row) from an array.

    ``rgb`` defaults to False: internal callers (op outputs, stack
    assembly, createEmptyImages) preserve stack semantics — a 3-slice
    uint8 stack must NOT be reinterpreted as an RGB image. Color
    arrays from the decoders arrive here already lifted to 4D by
    ``codecs.decode_bytes``, which passes the per-format rgb flag to
    ``ensure_3d`` itself."""
    arr = ensure_3d(coerce_ingest(np.asarray(arr)), rgb=rgb)
    arr = np.ascontiguousarray(arr)
    m = dict(DEFAULT_META)
    if meta:
        m.update({k: v for k, v in meta.items() if k in DEFAULT_META})
    return {
        "data": arr.tobytes(),
        "dtype": arr.dtype.name,
        "shape": [int(s) for s in arr.shape],
        "meta": m,
        "log": list(log or []),
    }


def image_frame(rows: list[dict[str, Any]]) -> pd.DataFrame:
    """Image dicts → the frame an ``IMAGE_SCHEMA`` pandas UDF returns."""
    return pd.DataFrame(rows, columns=IMAGE_SCHEMA.fieldNames())


def is_null_image(img: Any) -> bool:
    """True for the NULL image (a dict, Row or namedtuple whose data is
    NULL, or a NULL struct)."""
    return img is None or (img["data"] if isinstance(img, dict) else img.data) is None


def map_images(
    fn: Callable[..., Any], *images: Any, args: Iterable = (), null: Any = None
) -> list[Any]:
    """``fn(*row_images, *row_args)`` for each row, or ``null`` where any
    of the row's images is NULL — the one NULL rule of every per-image
    op: NULL in gives NULL out, with no lineage entry. ``images`` are
    image frames (pandas UDF inputs) or iterables of image structs;
    ``args`` are columns of per-row values."""
    cols = [i.itertuples(index=False) if isinstance(i, pd.DataFrame) else i for i in images]
    n = len(cols)
    return [
        null if any(is_null_image(r) for r in row[:n]) else fn(*row)
        for row in zip(*cols, *args)
    ]


def image_to_np(img: Any) -> np.ndarray:
    """Zero-copy ndarray view of an image struct (dict, Row, or namedtuple
    from ``DataFrame.itertuples``)."""
    if isinstance(img, dict):
        data, dtype, shape = img["data"], img["dtype"], img["shape"]
    else:  # Row / namedtuple
        data, dtype, shape = img.data, img.dtype, img.shape
    arr = np.frombuffer(bytes(data), dtype=np.dtype(str(dtype)))
    return arr.reshape([int(s) for s in shape])


def _coerce_meta_dict(m: Any, keys: Any) -> dict[str, Any]:
    """dict / pyspark Row / namedtuple / positional tuple → dict.
    dict(Row) and dict(namedtuple) both raise TypeError, and the DSv2
    serializer stores metadata as a bare positional tuple — so every
    shape the documented Row-compatibility contract admits is handled
    here."""
    if isinstance(m, dict):
        return dict(m)
    if hasattr(m, "asDict"):
        return m.asDict()
    if hasattr(m, "_asdict"):
        return dict(m._asdict())
    if isinstance(m, (tuple, list)):
        return dict(zip(keys, m))
    return dict(m)


def meta_of(img: Any) -> dict[str, Any]:
    m = img["meta"] if isinstance(img, dict) else img.meta
    if m is None:
        return dict(DEFAULT_META)
    return _coerce_meta_dict(m, DEFAULT_META)


#: LOG_ENTRY_SCHEMA field order, for positional log tuples
_LOG_FIELDS = ("optype", "optool", "opval", "opargs", "children_json")


def log_of(img: Any) -> list[dict[str, Any]]:
    """The image's lineage log as a new list of plain LOG_ENTRY_SCHEMA
    dicts with ``opargs`` a list — the one log normaliser. Entries arrive
    as dicts, Rows or positional tuples, and Arrow hands ``opargs`` over
    as a numpy array; a NULL log is the empty log."""
    lg = img["log"] if isinstance(img, dict) else img.log
    if lg is None:
        return []
    out = []
    for e in lg:
        d = _coerce_meta_dict(e, _LOG_FIELDS)
        entry = {f: d.get(f) for f in _LOG_FIELDS}
        entry["opargs"] = [] if entry["opargs"] is None else list(entry["opargs"])
        out.append(entry)
    return out


# ---------------------------------------------------------------------------
# pixel-type lattice conversion (TImgTools.convertArrayType semantics)
# ---------------------------------------------------------------------------

#: (numpy target, signed offset used when is_signed) per lattice kind
_LATTICE: dict[str, tuple[str, float]] = {
    "bool": ("bool", 0.0),
    "uint8": ("uint8", 127.0),  # CHAR; offset maxVal=127 (TImgTools.java:128)
    "int16": ("int16", 32768.0),  # SHORT (TImgTools.java:394)
    "uint16": ("uint16", 32768.0),
    "int32": ("int32", 65536.0),  # INT (TImgTools.java:162)
    "int64": ("int64", 65536.0),  # LONG
    "float32": ("float32", 0.0),
    "float64": ("float64", 0.0),
}


def convert_array_type(
    arr: np.ndarray,
    out_kind: str,
    is_signed: bool = False,
    scale: float = 1.0,
) -> np.ndarray:
    """any→any lattice conversion with the reference's sign/scale rules
    (TImgTools.java:102-180):

    - integer → float:  ``(v - (is_signed ? offset/2 : 0)) * scale``
    - float → integer:  ``v / scale + (is_signed ? offset : 0)``
    - anything → bool:  ``v > 0``
    - bool → numeric:   ``True → 127`` (TImgTools.java:185-222)
    """
    if out_kind not in _LATTICE:
        raise ValueError(f"unknown lattice kind {out_kind!r}; one of {sorted(_LATTICE)}")
    src = arr.dtype.name
    if src == out_kind:
        return arr
    if out_kind == "bool":
        return arr > 0
    if src == "bool":
        return arr.astype(_LATTICE[out_kind][0]) * np.asarray(127).astype(
            _LATTICE[out_kind][0]
        )
    src_is_float = src.startswith("float")
    dst_is_float = out_kind.startswith("float")
    if src_is_float and not dst_is_float:
        off = _LATTICE[out_kind][1] if is_signed else 0.0
        return (arr / scale + off).astype(_LATTICE[out_kind][0])
    if not src_is_float and dst_is_float:
        off = (_LATTICE[src][1] / 2.0) if is_signed else 0.0
        return ((arr.astype("float64") - off) * scale).astype(_LATTICE[out_kind][0])
    return arr.astype(_LATTICE[out_kind][0])


# RGB → gray reduction strategies (TImgTools.java:311-315, default MEAN)
_RGB_REDUCERS = {
    "MEAN": lambda a: a.mean(axis=-1),
    "SUM": lambda a: a.sum(axis=-1),
    "MIN": lambda a: a.min(axis=-1),
    "MAX": lambda a: a.max(axis=-1),
    "INT": lambda a: a[..., 0] * 65536.0 + a[..., 1] * 256.0 + a[..., 2],
    "RED": lambda a: a[..., 0],
    "GREEN": lambda a: a[..., 1],
    "BLUE": lambda a: a[..., 2],
}


def rgb_to_gray(arr: np.ndarray, method: str = "MEAN") -> np.ndarray:
    """Channel reduction for [h][w][s][3] arrays."""
    if arr.ndim != 4:
        return arr
    try:
        red = _RGB_REDUCERS[method.upper()]
    except KeyError:
        raise ValueError(f"unknown RGB reduction {method!r}; one of {sorted(_RGB_REDUCERS)}")
    return red(arr.astype("float64"))


def stats_of_rows(a: np.ndarray) -> list[dict[str, float]]:
    """min/mean/stdDev/max/pts of each row of a 2-D float64 value array
    — ImageJ's ImageStatistics convention (SAMPLE stddev, n−1
    denominator), the one stats body: ``operators.images.stats_rows``
    (the ``image_stats`` column, SQL ``stats``/``strstats``/``mean``)
    passes same-size images as rows, ``stats_of_values`` one array as
    one row. Each row is one contiguous reduction, so its stats do not
    depend on the other rows (``np.add.reduceat``'s sequential sums
    would). 0 values give all zeros, 1 value a stdDev of 0."""
    rows, n = a.shape
    if n == 0:
        return [dict.fromkeys(STATS_SCHEMA.fieldNames(), 0.0) for _ in range(rows)]
    std = a.std(axis=1, ddof=1) if n > 1 else np.zeros(rows)
    cols = (a.min(axis=1), a.mean(axis=1), std, a.max(axis=1))
    return [
        {"min": mn, "mean": mean, "stdDev": sd, "max": mx, "pts": float(n)}
        for mn, mean, sd, mx in zip(*(c.tolist() for c in cols))
    ]


def stats_of_values(a: np.ndarray) -> dict[str, float]:
    """``stats_of_rows`` of one float64 value array of any shape: one
    ROI (``roi_measure``) or image (SQL ``roistats`` without a ROI)."""
    return stats_of_rows(a.reshape(1, -1))[0]


def gray_to_rgb(arr: np.ndarray) -> np.ndarray:
    """Duplicate a gray channel into 3 (TImgTools.java:253-261).
    Non-uint8 input takes the standard 8-bit display scale (min-max →
    0..255, like ImageJ's RGB conversion) — a raw astype(uint8)
    would silently wrap 16-bit/float values modulo 256."""
    if arr.ndim == 4:
        return arr
    if arr.dtype == np.uint8:
        a8 = arr
    else:
        a = arr.astype("float64")
        lo, hi = float(a.min()), float(a.max())
        if hi > lo:
            a8 = np.rint((a - lo) / (hi - lo) * 255.0).astype(np.uint8)
        else:
            a8 = np.zeros(arr.shape, np.uint8)
    return np.stack([a8, a8, a8], axis=-1)


# ---------------------------------------------------------------------------
# calibration / metadata dumps (Spiji showcalibration/showmetadata analogs)
# ---------------------------------------------------------------------------


def format_calibration(meta: dict[str, Any]) -> str:
    return (
        f"pixel_width={meta.get('pixel_width')} pixel_height={meta.get('pixel_height')} "
        f"pixel_depth={meta.get('pixel_depth')} origin=({meta.get('x_origin')},"
        f"{meta.get('y_origin')},{meta.get('z_origin')}) unit={meta.get('unit')}"
    )


def format_metadata(img: Any) -> str:
    shape = img["shape"] if isinstance(img, dict) else img.shape
    dtype = img["dtype"] if isinstance(img, dict) else img.dtype
    return json.dumps(
        {
            "dtype": str(dtype),
            "shape": [int(s) for s in shape],
            "meta": meta_of(img),
            "ops": len(log_of(img)),
        },
        sort_keys=True,
    )
