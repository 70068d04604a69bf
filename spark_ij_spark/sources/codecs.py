"""Byte-stream image codecs (suffix-dispatched).

The reference decodes byte streams by writing a temp file and calling
the ImageJ opener (`Spiji.java:1571-1614` — its own comment calls this
a "pyspark-style ugly hack"); encode likewise round-trips a temp file
(`Spiji.java:1623-1634`). This rebuild is in-memory, and the common
formats have REAL pure-stdlib codec bodies (``purepy_codecs``):

- ``.npy``            — numpy native container.
- ``.png``            — zlib inflate + scanline unfilter (all five
  filters), 8/16-bit gray / RGB / palette; filter-0 encode.
- ``.tif`` / ``.tiff``— little-endian baseline TIFF; multi-page IFD
  chains ↔ the image model's slice axis.
- ``.pgm`` / ``.ppm`` — binary netpbm, 8/16-bit.
- ``.bmp``            — uncompressed BI_RGB (8-bit palette / 24-bit).
- ``.gif``            — GIF87a/89a first frame (LSB-first LZW, global/
  local palettes, interlace); grayscale literal-LZW encode.
- ``.avi``            — uncompressed 8-bit-palette DIB frames in the
  RIFF container; frames ↔ the image model's slice axis.
- ``.dcm`` / ``.dicom``— uncompressed little-endian DICOM (the format
  the reference's RDD tests exercise, IjRDDTests.scala:83-99).
- ``.jpg`` / ``.jpeg``— native JFIF: decode sequential-DCT and
  progressive Huffman (SOF0/SOF1/SOF2, 4:4:4/4:2:2/4:2:0, restart
  markers); encode baseline 4:4:4 with quality-scaled Annex K tables.
  No library is needed.
"""

from __future__ import annotations

import io
import os

import numpy as np

from spark_ij_spark.datamodel import coerce_ingest, ensure_3d
from spark_ij_spark.sources import purepy_codecs as pp

#: suffixes with a real in-container codec
NATIVE_SUFFIXES = (
    ".npy", ".png", ".tif", ".tiff", ".pgm", ".ppm", ".bmp", ".gif",
    ".avi", ".dcm", ".dicom", ".jpg", ".jpeg", ".mp4",
)


def _suffix(path: str) -> str:
    return os.path.splitext(path)[1].lower()


def decode_bytes(data: bytes, path: str) -> np.ndarray:
    """bytes → ndarray ([h][w][slices] after ingest coercion), suffix-
    dispatched like the reference's opener (`scOps.scala:90-91`)."""
    sfx = _suffix(path)
    # rgb flag: each format KNOWS whether a trailing dim of 3 means
    # color — PNG/PNM/BMP/GIF only produce (h,w,3) for color; TIFF is
    # ambiguous (3-sample page vs 3-page gray stack) and carries spp in
    # its header; AVI is grayscale frames; .npy provenance is unknown,
    # so only it keeps the uint8/uint16 heuristic (rgb=None).
    if sfx == ".npy":
        try:
            arr = np.load(io.BytesIO(data), allow_pickle=False)
        except (EOFError, OSError) as e:
            # np.load's corrupt/truncated-stream vocabulary → the same
            # ValueError contract every other format honors (an empty
            # payload would escape as EOFError)
            raise ValueError(f"npy: malformed stream ({e})") from e
        return ensure_3d(coerce_ingest(arr))
    if sfx == ".png":
        return ensure_3d(coerce_ingest(pp.decode_png(data)), rgb=True)
    if sfx in (".tif", ".tiff"):
        return ensure_3d(
            coerce_ingest(pp.decode_tiff(data)), rgb=pp.tiff_is_color(data)
        )
    if sfx in (".pgm", ".ppm"):
        return ensure_3d(coerce_ingest(pp.decode_pnm(data)), rgb=True)
    if sfx == ".bmp":
        return ensure_3d(coerce_ingest(pp.decode_bmp(data)), rgb=True)
    if sfx == ".gif":
        return ensure_3d(coerce_ingest(pp.decode_gif(data)), rgb=True)
    if sfx == ".avi":
        return ensure_3d(coerce_ingest(pp.decode_avi(data)), rgb=False)
    if sfx == ".mp4":
        return ensure_3d(coerce_ingest(pp.decode_mp4(data)), rgb=False)
    if sfx in (".dcm", ".dicom"):
        return ensure_3d(coerce_ingest(pp.decode_dicom(data)), rgb=False)
    if sfx in (".jpg", ".jpeg"):
        return ensure_3d(coerce_ingest(pp.decode_jpeg(data)), rgb=True)
    raise ValueError(
        f"unsupported image suffix {sfx!r} for {path!r}; supported: "
        f"{', '.join(NATIVE_SUFFIXES)}"
    )


def encode_array(arr: np.ndarray, suffix: str = ".npy") -> bytes:
    """ndarray → bytes for the given container format."""
    if suffix == ".npy":
        buf = io.BytesIO()
        np.save(buf, arr, allow_pickle=False)
        return buf.getvalue()
    if suffix == ".png":
        return pp.encode_png(arr)
    if suffix in (".tif", ".tiff"):
        return pp.encode_tiff(arr)
    if suffix in (".pgm", ".ppm"):
        return pp.encode_pnm(arr)
    if suffix == ".bmp":
        return pp.encode_bmp(arr)
    if suffix == ".gif":
        return pp.encode_gif(arr)
    if suffix == ".avi":
        return pp.encode_avi(arr)
    if suffix in (".dcm", ".dicom"):
        return pp.encode_dicom(arr)
    if suffix in (".jpg", ".jpeg"):
        return pp.encode_jpeg(arr)
    if suffix == ".mp4":
        return pp.encode_mp4_mjpeg(arr)
    raise ValueError(f"unsupported encode suffix {suffix!r}")
