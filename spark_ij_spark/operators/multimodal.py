"""Multimodal columns: image/audio/video as opaque binary + typed meta.

North-star op family (SURVEY.md §7.1 M7): media travels as a struct
column ``media: struct<data binary, mime string, meta struct<...>>``
so Spark shuffles/persists it natively and kernels view it zero-copy.
Decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas UDFs (mapInPandas-style plumbing). Every modality has a REAL
in-container codec path: npy/png/tiff/gif/bmp/jpeg/dicom images, PCM
WAV audio, uncompressed-DIB AVI and MJPEG-in-MP4 video (all
pure-stdlib, ``sources/purepy_codecs``, including baseline and
progressive JFIF and the MP4 container — no stubs remain).

Scale: all ops are map-only over binary payloads; the only shuffles
are the analyst's own groupBys. Arrow batch size bounds executor
memory per batch (spark.sql.execution.arrow.maxRecordsPerBatch);
at 100 TB you lower it for large media so a batch of blobs fits.
"""

from __future__ import annotations

import io
from collections.abc import Callable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_ij_spark.datamodel import image_to_np, map_images
from spark_ij_spark.operators.image_queries import order_quantity_images
from spark_ij_spark.operators.relational import dsum_sql
from spark_ij_spark.sources.codecs import encode_array

MEDIA_META_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", DoubleType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("data", BinaryType()),
        StructField("mime", StringType()),
        StructField("meta", MEDIA_META_SCHEMA),
    ]
)

NPY_MIME = "application/x-npy"
WAV_MIME = "audio/wav"
_MIME_SUFFIX = {
    "image/png": ".png",
    "image/tiff": ".tif",
    "image/gif": ".gif",
    "image/bmp": ".bmp",
    "image/jpeg": ".jpg",
    "application/dicom": ".dcm",
    "video/x-msvideo": ".avi",
    "video/mp4": ".mp4",
}


def _media_frame(
    fn: Callable[[Any], dict[str, Any]], media: pd.DataFrame, schema: StructType
) -> pd.DataFrame:
    """``schema``-shaped result frame of ``fn(row)`` per media (or image)
    row, through ``datamodel.map_images``: a NULL input gives a NULL
    struct. Object columns keep int64 features exact next to a NULL."""
    cols = schema.fieldNames()
    rows = map_images(fn, media, null=dict.fromkeys(cols))
    return pd.DataFrame(rows, columns=cols, dtype=object)


def decode_media_bytes(data: bytes, mime: str) -> np.ndarray:
    """Decode one media payload to ndarray [h][w][frames]. Images
    (png/tiff/gif/bmp/jpeg/dicom) and video (AVI, MJPEG-in-MP4)
    decode via the pure-stdlib codecs (multi-page TIFF pages and
    video frames land on the frame axis); WAV audio decodes to
    [channels][1][samples]. No format is stubbed."""
    if mime == NPY_MIME:
        try:
            return np.load(io.BytesIO(bytes(data)), allow_pickle=False)
        except (EOFError, OSError) as e:
            # same ValueError failure contract as every codec path
            raise ValueError(f"npy: malformed stream ({e})") from e
    if mime == WAV_MIME:
        from spark_ij_spark.sources.purepy_codecs import decode_wav

        samples, _sr = decode_wav(bytes(data))
        # [channels][1][samples]: the sample axis is the frame axis, so
        # frame_sample() subsamples audio exactly like video frames
        return samples.T[:, None, :]
    if mime in _MIME_SUFFIX:
        from spark_ij_spark.sources.codecs import decode_bytes

        return decode_bytes(bytes(data), f"payload{_MIME_SUFFIX[mime]}")
    raise ValueError(f"unknown mime {mime!r}")


def media_from_image(image_col: str | Column, frame_axis: bool = True) -> Column:
    """Pack an image struct into a media value (npy container). With
    ``frame_axis`` the width axis becomes the frame axis ([1][n][1] →
    [1][1][n]) so 1-D pixel rows act as frame sequences for video ops."""

    def to_media(r):
        arr = image_to_np(r)
        if frame_axis and arr.shape[0] == 1 and arr.shape[2] == 1:
            arr = arr.reshape(1, 1, -1)
        h, w, nf = arr.shape
        return {
            "data": encode_array(arr, ".npy"),
            "mime": NPY_MIME,
            "meta": {
                "width": int(w),
                "height": int(h),
                "n_frames": int(nf),
                "sample_rate": 0,
                "duration_ms": float(nf) * (1000.0 / 30.0),
            },
        }

    @F.pandas_udf(MEDIA_SCHEMA)
    def pack(imgs: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(to_media, imgs, MEDIA_SCHEMA)

    col = F.col(image_col) if isinstance(image_col, str) else image_col
    return pack(col)


def frame_sample(media_col: str | Column, stride: int) -> Column:
    """Keep every ``stride``-th frame (frames 0, stride, 2·stride, …);
    meta updated to the sampled frame count. ``duration_ms`` is NOT
    touched: sampling thins frames, it doesn't shorten the clip's
    wall-clock span — and a 30 fps assumption here would clobber the
    sample-rate-derived duration of audio media (whose "frames" are
    samples) while leaving a now-contradictory sample_rate in meta."""

    def sampled(r):
        arr = decode_media_bytes(r.data, r.mime)[:, :, ::stride]
        meta = dict(r.meta)
        meta["n_frames"] = int(arr.shape[2])
        # payload is re-encoded as npy, whatever it decoded from
        return {"data": encode_array(arr, ".npy"), "mime": NPY_MIME, "meta": meta}

    @F.pandas_udf(MEDIA_SCHEMA)
    def sample(media: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(sampled, media, MEDIA_SCHEMA)

    col = F.col(media_col) if isinstance(media_col, str) else media_col
    return sample(col)


def resize_media(media_col: str | Column, width: int, height: int) -> Column:
    """Nearest-neighbor spatial resize (deterministic index sampling —
    no interpolation library needed)."""

    def resized(r):
        arr = decode_media_bytes(r.data, r.mime)
        h, w, nf = arr.shape
        yi = (np.arange(height) * h) // height
        xi = (np.arange(width) * w) // width
        out = arr[yi][:, xi]
        meta = dict(r.meta)
        meta["width"], meta["height"] = int(width), int(height)
        return {"data": encode_array(out, ".npy"), "mime": NPY_MIME, "meta": meta}

    @F.pandas_udf(MEDIA_SCHEMA)
    def resize(media: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(resized, media, MEDIA_SCHEMA)

    col = F.col(media_col) if isinstance(media_col, str) else media_col
    return resize(col)


FEATURE_SCHEMA = StructType(
    [
        StructField("mean", DoubleType()),
        StructField("std", DoubleType()),
        StructField("p_min", DoubleType()),
        StructField("p_max", DoubleType()),
        StructField("n_px", IntegerType()),
    ]
)


def media_features(media_col: str | Column) -> Column:
    """Per-media scalar feature extraction (decode → numpy reduce)."""

    def features(r):
        arr = decode_media_bytes(r.data, r.mime).astype("float64")
        if arr.size == 0:
            # a valid 0-sample payload (empty WAV/AVI) decodes to a
            # zero-size array; min/max have no identity and would
            # kill the whole Arrow batch — emit NaN features instead
            nan = float("nan")
            return {"mean": nan, "std": nan, "p_min": nan, "p_max": nan, "n_px": 0}
        return {
            "mean": float(arr.mean()),
            "std": float(arr.std()),
            "p_min": float(arr.min()),
            "p_max": float(arr.max()),
            "n_px": int(arr.size),
        }

    @F.pandas_udf(FEATURE_SCHEMA)
    def feats(media: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(features, media, FEATURE_SCHEMA)

    col = F.col(media_col) if isinstance(media_col, str) else media_col
    return feats(col)


# --- audio ------------------------------------------------------------

AUDIO_SAMPLE_RATE = 16000

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("n_samples", IntegerType()),
        StructField("energy", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("peak", LongType()),
    ]
)


def media_from_samples(
    samples_col: str | Column, sample_rate: int = AUDIO_SAMPLE_RATE
) -> Column:
    """Pack an ``array<int>`` int16-domain sample column into a media
    value whose payload is REAL RIFF/WAVE PCM bytes (pure-stdlib
    encoder) — the audio sibling of ``media_from_image``."""
    from spark_ij_spark.sources.purepy_codecs import encode_wav

    @F.pandas_udf(MEDIA_SCHEMA)
    def pack(samples: pd.Series) -> pd.DataFrame:
        rows = []
        for s in samples:
            x = np.asarray(s, dtype=np.int16)
            rows.append(
                {
                    "data": encode_wav(x, sample_rate),
                    "mime": WAV_MIME,
                    "meta": {
                        "width": 0,
                        "height": 0,
                        "n_frames": int(x.size),
                        "sample_rate": int(sample_rate),
                        "duration_ms": float(x.size) * 1000.0 / sample_rate,
                    },
                }
            )
        return pd.DataFrame(rows, columns=["data", "mime", "meta"])

    col = F.col(samples_col) if isinstance(samples_col, str) else samples_col
    return pack(col)


AVI_MIME = "video/x-msvideo"
SCENE_W = SCENE_H = 2  # tiny real frames; 2-px rows exercise DIB padding

SCENE_FEATURE_SCHEMA = StructType(
    [
        StructField("n_frames", LongType()),
        StructField("n_cuts", LongType()),
        StructField("max_jump", LongType()),
        StructField("sad_total", LongType()),
    ]
)

# Adjacent-frame SAD above this = a scene cut (max possible SAD for
# 2x2 uint8 frames is 4*255 = 1020).
SCENE_CUT_SAD = 512


def video_from_frames(pixels_col: str | Column) -> Column:
    """Pack a flattened ``array<int>`` of per-frame 2x2 uint8 pixels
    (frame-major, 4 values per frame) into REAL uncompressed-DIB AVI
    bytes — the video sibling of ``media_from_samples``."""
    from spark_ij_spark.sources.purepy_codecs import encode_avi

    @F.pandas_udf(MEDIA_SCHEMA)
    def pack(pixels: pd.Series) -> pd.DataFrame:
        rows = []
        for s in pixels:
            x = np.asarray(s, dtype=np.uint8)
            n = x.size // (SCENE_W * SCENE_H)
            # truncate a partial trailing frame: reshape requires an
            # exact multiple and would raise on stray pixels
            arr = (
                x[: n * SCENE_W * SCENE_H]
                .reshape(n, SCENE_H, SCENE_W)
                .transpose(1, 2, 0)
            )
            rows.append(
                {
                    "data": encode_avi(arr),
                    "mime": AVI_MIME,
                    "meta": {
                        "width": SCENE_W,
                        "height": SCENE_H,
                        "n_frames": int(n),
                        "sample_rate": 0,
                        "duration_ms": 0.0,
                    },
                }
            )
        return pd.DataFrame(rows, columns=["data", "mime", "meta"])

    col = F.col(pixels_col) if isinstance(pixels_col, str) else pixels_col
    return pack(col)


def scene_cut_features(media_col: str | Column) -> Column:
    """Scene-cut detection on decoded AVI frames: per adjacent frame
    pair the sum of absolute pixel differences (SAD); emits frame
    count, cuts (SAD > SCENE_CUT_SAD), the largest jump, and total
    SAD. Vectorized per clip, integer arithmetic end-to-end."""
    from spark_ij_spark.sources.purepy_codecs import decode_avi

    def features(r):
        arr = decode_avi(bytes(r.data)).astype(np.int64)
        f = arr.reshape(SCENE_H * SCENE_W, arr.shape[2])
        d = np.abs(f[:, 1:] - f[:, :-1]).sum(axis=0)
        return {
            "n_frames": int(arr.shape[2]),
            "n_cuts": int((d > SCENE_CUT_SAD).sum()),
            "max_jump": int(d.max()) if d.size else 0,
            "sad_total": int(d.sum()),
        }

    @F.pandas_udf(SCENE_FEATURE_SCHEMA)
    def feats(media: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(features, media, SCENE_FEATURE_SCHEMA)

    col = F.col(media_col) if isinstance(media_col, str) else media_col
    return feats(col)


def audio_features(media_col: str | Column) -> Column:
    """Per-clip audio features from the decoded PCM waveform (first
    channel): sample count, integer energy (Σx², exact in int64),
    zero-crossing count (strict sign flips), and peak amplitude.
    Integer arithmetic end-to-end so results are order- and
    batch-independent."""
    from spark_ij_spark.sources.purepy_codecs import decode_wav

    # int64 np.dot wraps SILENTLY past 2^63 (clip energy grows with
    # clip length: x² ≤ ~1.07e9, so ~8.6e9 samples overflow) while
    # the DuckDB oracle's HUGEINT sum stays exact — chunk the dot
    # so each partial stays < 2^53 and accumulate in a Python int
    # (arbitrary precision). A clip whose TOTAL exceeds int64 then
    # fails loudly at the Arrow LongType cast, like the oracle's
    # out-of-range CAST, instead of silently wrapping.
    chunk = 1 << 23

    def features(r):
        x = decode_wav(bytes(r.data))[0][:, 0].astype(np.int64)
        energy = 0
        for i in range(0, x.size, chunk):
            c = x[i : i + chunk]
            energy += int(np.dot(c, c))
        return {
            "n_samples": int(x.size),
            "energy": energy,
            "zero_crossings": int(np.count_nonzero(x[:-1] * x[1:] < 0)),
            "peak": int(np.abs(x).max()) if x.size else 0,
        }

    @F.pandas_udf(AUDIO_FEATURE_SCHEMA)
    def feats(media: pd.DataFrame) -> pd.DataFrame:
        return _media_frame(features, media, AUDIO_FEATURE_SCHEMA)

    col = F.col(media_col) if isinstance(media_col, str) else media_col
    return feats(col)


# --- oracle-checked query ---------------------------------------------


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: lineitem-quantity images → media (frames =
    lineitems ordered by (linenumber, quantity, price, partkey)) →
    frame_sample(stride 2) → features. Sampled-frame sum/count have an
    exact SQL oracle: quantities at odd row_number positions."""
    imgs = order_quantity_images(spark, sf_dir)
    media = imgs.select(
        "l_orderkey", media_from_image("image").alias("media")
    )
    sampled = media.select(
        "l_orderkey", frame_sample("media", 2).alias("media")
    )
    # n_sampled is the features' pixel count (one pixel per frame of
    # these [1][1][n] media): reading media.meta.n_frames as well would
    # give the Python node two outputs that each evaluate pack → sample
    return sampled.select("l_orderkey", media_features("media").alias("f")).select(
        "l_orderkey",
        F.col("f.n_px").alias("n_sampled"),
        F.expr("round(f.mean * f.n_px, 2)").alias("sum_sampled"),
    )


Q_MEDIA_FRAME_SAMPLE_SQL = f"""
WITH ordered AS (
  SELECT l_orderkey, l_quantity,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey
         ) AS rn
  FROM lineitem)
SELECT l_orderkey,
       CAST(COUNT(*) AS INT) AS n_sampled,
       round({dsum_sql('l_quantity', 2)}, 2) AS sum_sampled
FROM ordered
WHERE rn % 2 = 1
GROUP BY l_orderkey
"""


def q_media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline over REAL WAV bytes: per event_type, a synthetic
    int16 waveform (sample_i = (event_id·7919) mod 65536 − 32768 in
    event_id order) is packed into genuine RIFF/WAVE PCM, then decoded
    back and reduced to integer features (energy Σx², zero crossings,
    peak). The oracle recomputes the closed form relationally — the
    hash match proves the encode→decode round trip is lossless.

    Scale shape: clip assembly is a collect_list per key (clips are
    per-key bounded in production — session/user keyed, like
    PACK_SHARD_DOCS bounds packing); pack/decode/reduce are map-only
    Arrow-batched hops over the clip table, one shuffle total.
    """
    from spark_ij_spark.session import load_tables

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    samples = (
        "transform(array_sort(collect_list(event_id)),"
        " i -> CAST((i * 7919) % 65536 - 32768 AS INT))"
    )
    clips = ev.groupBy("event_type").agg(F.expr(samples).alias("samples"))
    media = clips.select("event_type", media_from_samples("samples").alias("media"))
    return (
        media.select("event_type", audio_features("media").alias("f"))
        .select(
            "event_type",
            F.col("f.n_samples").cast("bigint").alias("n_samples"),
            F.col("f.energy").alias("energy"),
            F.col("f.zero_crossings").alias("zero_crossings"),
            F.col("f.peak").alias("peak"),
        )
        .orderBy("event_type")
    )


Q_MEDIA_AUDIO_ENERGY_SQL = """
WITH s AS (
  SELECT event_type, event_id,
         (event_id * 7919) % 65536 - 32768 AS x
  FROM events),
w AS (
  SELECT event_type, x,
         LAG(x) OVER (PARTITION BY event_type ORDER BY event_id) AS px
  FROM s)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(x * x) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN px IS NOT NULL AND px * x < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(MAX(ABS(x)) AS BIGINT) AS peak
FROM w GROUP BY event_type ORDER BY event_type
"""


# --- feature retrieval (media → embedding → top-k) --------------------

RETRIEVAL_BINS = 10  # quantity histogram bins (1..50 → width 5)
RETRIEVAL_PROBE_MOD = 997  # ~1/997 of orders pre-select as probe candidates
# The probe BATCH is capped at a fixed size (smallest-hash-first among
# the pre-selected candidates, k tie-break): a fixed FRACTION of the
# corpus is not "tiny by construction" — at 10x data the uncapped
# batch made the scoring pass |probes| x |corpus| ~ N^2/997, measured
# 97.7x per 10x data, and put a corpus-scaling side behind
# an explicit broadcast. With the cap, the batch is a constant-size
# deterministic sample (the LSH candidate-budget discipline), the
# broadcast is provably bounded, and scoring is linear in the corpus.
RETRIEVAL_PROBE_CAP = 64
RETRIEVAL_TOPK = 3
# Per-probe top-k runs as a salted two-stage window: stage 1 ranks
# within (probe, k % SALTS) buckets, stage 2 merges the <= SALTS*TOPK
# survivors per probe — without the salt, each probe's full corpus
# candidate list lands on ONE reducer (the global-window straggler
# class from the calibrate-then-apply rule). Exact: the global top-k
# is inside its salt bucket's top-k, and the rank order is total
# (score desc, k asc), so the two-stage result is identical.
RETRIEVAL_SALTS = 32


def _capped_probes(feats: DataFrame) -> DataFrame:
    """Production probe selection, single-sourced for the injected-data
    identity test: %-predicate pre-select over a frame carrying a
    BIGINT `k` column, then the RETRIEVAL_PROBE_CAP smallest (hash60,
    k). orderBy().limit() plans as TakeOrderedAndProject (partial
    per-partition top-K, bounded driver state), so the result is
    <= RETRIEVAL_PROBE_CAP rows and the broadcast downstream is
    policy-legal. The cutoff only FIRES when > CAP candidates survive
    the % predicate (sf0.1+ organically; the dormant-branch rule says
    the suite must fire it with injected data — see
    test_retrieval_probe_cap_spark_duckdb_identity, which matches this
    exact path against `_capped_probes_duck`)."""
    from spark_ij_spark.operators.text import hash60_spark

    probe_h = hash60_spark("concat('r:', CAST(k AS STRING))")
    probe_pred = f"({probe_h}) % {RETRIEVAL_PROBE_MOD} = 0"
    return (
        feats.where(F.expr(probe_pred))
        .withColumn("ph", F.expr(probe_h))
        .orderBy("ph", "k")
        .limit(RETRIEVAL_PROBE_CAP)
    )


def _capped_probes_duck(from_clause: str) -> str:
    """DuckDB mirror of `_capped_probes` (same % predicate, same
    (hash60, k) ascending cutoff — the shared 60-bit hash rule makes
    the selected sets identical). Spliced into the graded oracle AND
    exercised by the injected-data identity test."""
    from spark_ij_spark.operators.text import hash60_duck

    probe_h = hash60_duck("'r:' || CAST(k AS VARCHAR)")
    return (
        f"SELECT k FROM {from_clause} "
        f"WHERE ({probe_h}) % {RETRIEVAL_PROBE_MOD} = 0 "
        f"ORDER BY ({probe_h}), k LIMIT {RETRIEVAL_PROBE_CAP}"
    )


def q_media_feature_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-to-embedding retrieval, end to end: decode each order's
    quantity image (real bytes→numpy via the pandas UDF), reduce it to
    a 10-bin integer histogram feature vector, then rank the corpus
    against a capped hash-selected probe batch by cosine and keep the
    top-3 positive matches per probe.

    Determinism: features are integer counts, the dot product and
    norms are exact int64s (JVM-side codegen), and the cosine² score
    is ONE double division of identical int64s in both engines —
    bit-identical, no quantization step needed. Ties break on
    candidate key; zero-overlap candidates are excluded so rank is
    total. The probe batch is the RETRIEVAL_PROBE_CAP smallest
    (hash60, k) among the %-selected candidates — the same 60-bit
    hash on both engines, so the set is identical.

    Scale shape: the probe batch is capped at a
    CONSTANT size, so the broadcast is provably bounded (the policy's
    requirement for an explicit hint) and the scoring pass is map-only
    and LINEAR in the corpus. The uncapped version sampled a fixed
    1/997 FRACTION — measured 97.7x per 10x data (SCALING.md
    "media_feature_retrieval: fixed-fraction probe batch was
    quadratic") with
    a corpus-scaling broadcast. Per-probe top-k is a salted two-stage
    window (see RETRIEVAL_SALTS) so no reducer ever sees one probe's
    full corpus candidate list. The image decode happens once per
    order on the flat projected data column (struct→Python conversion
    avoided).
    """
    from pyspark.sql.types import ArrayType

    imgs = order_quantity_images(spark, sf_dir).select(
        "l_orderkey", F.col("image.data").alias("data")
    )

    @F.pandas_udf(ArrayType(LongType()))
    def hist(data: pd.Series) -> pd.Series:
        out = []
        for b in data:
            q = np.frombuffer(b, dtype=np.float32).astype(np.int64)
            bins = np.clip((q - 1) // 5, 0, RETRIEVAL_BINS - 1)
            out.append(np.bincount(bins, minlength=RETRIEVAL_BINS).tolist())
        return pd.Series(out)

    # The histogram array is expanded to scalar columns h0..h9 right
    # after the UDF: per-pair dot products via zip_with/aggregate are
    # CodegenFallback (interpreted per row — measured 10x slower over
    # the probe×corpus pairs), while a literal sum of products stays
    # inside whole-stage codegen. persist(): the corpus branch AND the
    # probe branch both read feats — without it the image decode +
    # histogram UDF runs twice end to end.
    hcols = [
        F.expr(f"element_at(h, {b + 1})").alias(f"h{b}")
        for b in range(RETRIEVAL_BINS)
    ]
    nn = " + ".join(f"h{b} * h{b}" for b in range(RETRIEVAL_BINS))
    feats = (
        imgs.select(F.col("l_orderkey").alias("k"), hist("data").alias("h"))
        .select("k", *hcols)
        .withColumn("nn", F.expr(nn))
        .persist()
    )
    probes = _capped_probes(feats).select(
        F.col("k").alias("pk"),
        *[F.col(f"h{b}").alias(f"p{b}") for b in range(RETRIEVAL_BINS)],
        F.col("nn").alias("pn"),
    )
    from pyspark.sql import Window

    dot = " + ".join(f"h{b} * p{b}" for b in range(RETRIEVAL_BINS))
    scored = (
        feats.crossJoin(F.broadcast(probes))
        .where(F.col("k") != F.col("pk"))
        .withColumn("dot", F.expr(dot))
        .where(F.col("dot") > 0)
        .withColumn(
            "score", F.expr("round(CAST(dot * dot AS DOUBLE) / (nn * pn), 6)")
        )
    )
    # rank on the unrounded score expression; emit the rounded value.
    # Two-stage salted top-k (exact — see RETRIEVAL_SALTS note): the
    # stage-1 window keys on (pk, k % SALTS) so a probe's corpus-sized
    # candidate list spreads over SALTS reducers; stage 2 merges the
    # <= SALTS*TOPK survivors per probe.
    rank_expr = F.expr("CAST(dot * dot AS DOUBLE) / (nn * pn)")
    w1 = Window.partitionBy(
        "pk", F.pmod(F.col("k"), F.lit(RETRIEVAL_SALTS))
    ).orderBy(rank_expr.desc(), F.col("k").asc())
    w2 = Window.partitionBy("pk").orderBy(rank_expr.desc(), F.col("k").asc())
    return (
        scored.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= RETRIEVAL_TOPK)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= RETRIEVAL_TOPK)
        .select(
            F.col("pk").alias("probe"),
            F.col("k").alias("cand"),
            F.col("dot"),
            F.col("score"),
            F.col("rn").cast("bigint").alias("rn"),
        )
        .orderBy("probe", "rn")
    )


def _retrieval_sql() -> str:
    # probe selection is the shared `_capped_probes_duck` fragment —
    # the exact mirror of the Spark `_capped_probes` path, so the
    # identity test and the graded oracle exercise ONE rule
    # h (3 refs) and norms (3 refs) are MATERIALIZED: DuckDB inlines
    # plain CTEs and re-runs the lineitem group-by per reference (the
    # pagerank sym/deg rule)
    return f"""
WITH h AS MATERIALIZED (
  SELECT l_orderkey AS k,
         CAST(LEAST((CAST(l_quantity AS BIGINT) - 1) // 5,
                    {RETRIEVAL_BINS - 1}) AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2),
norms AS MATERIALIZED (SELECT k, SUM(c * c) AS nn FROM h GROUP BY k),
probes AS ({_capped_probes_duck("norms")}),
dots AS (
  -- probes joined FIRST, not `p.k IN (subquery)`: DuckDB does not
  -- push the IN filter below the bin join, and bin has only 10
  -- distinct values, so the IN-form explodes to |h|^2/10 pairs
  -- before filtering (measured at the 10x replica: >450 s vs 90 s
  -- for this form, identical rows — r11)
  SELECT p.k AS pk, c.k AS ck, CAST(SUM(p.c * c.c) AS BIGINT) AS dot
  FROM probes pr JOIN h p ON p.k = pr.k JOIN h c USING (bin)
  WHERE c.k <> p.k
  GROUP BY 1, 2),
scored AS (
  SELECT pk, ck, dot,
         CAST(dot * dot AS DOUBLE) / (cn.nn * pn.nn) AS raw
  FROM dots
  JOIN norms cn ON cn.k = ck
  JOIN norms pn ON pn.k = pk
  WHERE dot > 0),
ranked AS (
  SELECT pk, ck, dot, raw,
         ROW_NUMBER() OVER (PARTITION BY pk ORDER BY raw DESC, ck) AS rn
  FROM scored)
SELECT pk AS probe, ck AS cand, dot, round(raw, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {RETRIEVAL_TOPK}
ORDER BY probe, rn
"""


def _scene_pixels_spark() -> str:
    px = ", ".join(f"(e * 31 + {17 * p}) % 256" for p in range(SCENE_W * SCENE_H))
    return (
        "flatten(transform(array_sort(collect_list(event_id)),"
        f" e -> array({px})))"
    )


def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline over REAL AVI bytes: per event_type, a synthetic
    2x2-pixel frame sequence (pixel p of frame e = (e·31 + 17p) mod
    256, event_id order) is packed into a genuine uncompressed-DIB
    RIFF/AVI container, decoded back, and reduced to scene-cut
    features (adjacent-frame SAD > threshold). The oracle recomputes
    the closed form relationally — the hash match proves the video
    encode→decode round trip (incl. DIB row padding on 2-px rows) is
    lossless, the AVI sibling of ``q_media_audio_energy``'s WAV proof.

    Scale shape: clip assembly is one per-type shuffle (clips are
    per-key bounded in production); pack/decode/reduce are map-only
    Arrow hops; features are integer-exact."""
    from spark_ij_spark.session import load_tables

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    clips = ev.groupBy("event_type").agg(
        F.expr(_scene_pixels_spark()).alias("pixels")
    )
    media = clips.select("event_type", video_from_frames("pixels").alias("media"))
    return (
        media.select("event_type", scene_cut_features("media").alias("f"))
        .select(
            "event_type",
            F.col("f.n_frames").alias("n_frames"),
            F.col("f.n_cuts").alias("n_cuts"),
            F.col("f.max_jump").alias("max_jump"),
            F.col("f.sad_total").alias("sad_total"),
        )
        .orderBy("event_type")
    )


def _scene_cuts_sql() -> str:
    sad = " + ".join(
        f"ABS((event_id * 31 + {17 * p}) % 256 - (pe * 31 + {17 * p}) % 256)"
        for p in range(SCENE_W * SCENE_H)
    )
    return f"""
WITH o AS (
  SELECT event_type, event_id,
         LAG(event_id) OVER (PARTITION BY event_type ORDER BY event_id) AS pe
  FROM events),
d AS (
  SELECT event_type,
         CASE WHEN pe IS NULL THEN NULL ELSE {sad} END AS sad
  FROM o)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN sad > {SCENE_CUT_SAD} THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(MAX(COALESCE(sad, 0)) AS BIGINT) AS max_jump,
       CAST(SUM(COALESCE(sad, 0)) AS BIGINT) AS sad_total
FROM d GROUP BY event_type ORDER BY event_type
"""


Q_MEDIA_SCENE_CUTS_SQL = _scene_cuts_sql()


# --- perceptual-hash image dedup --------------------------------------

PHASH_SIDE = 8          # 8×8 grayscale fingerprint image
PHASH_BITS = 60         # hash uses pixels 0..59 (BIGINT-sign-safe);
                        # all 64 pixels feed the mean threshold
PHASH_PIX_GAIN = 16     # pixel = min(255, 16·bucket_count)


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) image dedup over REAL PNG bytes — the
    bridge between the image family and the dedup family: each
    document renders to an 8×8 grayscale fingerprint image (pixel p =
    clamped count of tokens hashing to bucket p — a visual bag-of-
    words), the image round-trips through the pure-stdlib PNG codec,
    and the DECODED pixels produce the classic average-hash: bit p set
    iff pixel_p > mean. Documents with near-identical token bags
    collapse to the same 60-bit aHash — exactly how image dedup
    pipelines bucket screenshots/memes at scale (aHash/pHash→ exact
    group-by, no pairwise compare).

    The oracle recomputes the closed form relationally (bucket counts
    → clamp → mean threshold → bit sum) WITHOUT touching PNG bytes, so
    the hash match proves the encode→decode round trip is lossless —
    the PNG sibling of the WAV/AVI proofs.

    Scale shape: histogram = tokenize→explode→two keyed aggregates;
    the Python hop is an Arrow-batched map carrying only (doc_id, 64
    ints); dedup grouping is ONE hash-agg on the 60-bit hash. No pair
    joins anywhere.
    """

    from spark_ij_spark.operators.text import (
        TOKENS_SPARK,
        _docs,
        hash60_spark,
    )
    from spark_ij_spark.sources.purepy_codecs import decode_png, encode_png

    n_pix = PHASH_SIDE * PHASH_SIDE
    pixels = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .select("doc_id", F.expr(f"{hash60_spark('tok')} % {n_pix}").alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.expr("map_from_entries(collect_list(struct(b, n)))").alias("m")
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {n_pix - 1}), i -> CAST(least(255,"
                f" {PHASH_PIX_GAIN} * coalesce(m[CAST(i AS BIGINT)], 0)) AS INT))"
            ).alias("pix"),
        )
    )

    def ahash_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            hashes = []
            for arr in pdf["pix"]:
                img = np.asarray(list(arr), dtype=np.uint8).reshape(
                    PHASH_SIDE, PHASH_SIDE
                )
                dec = decode_png(encode_png(img))  # the round-trip proof
                flat = dec.astype(np.int64).reshape(-1)
                total = int(flat.sum())
                h = 0
                for p in range(PHASH_BITS):
                    if int(flat[p]) * n_pix > total:
                        h |= 1 << p
                hashes.append(h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "ahash": hashes})

    return (
        pixels.mapInPandas(ahash_batches, "doc_id BIGINT, ahash BIGINT")
        .groupBy("ahash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


from spark_ij_spark.operators.text import TOKENS_DUCK, hash60_duck  # noqa: E402

Q_MEDIA_PHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents),
b AS (
  SELECT doc_id, {hash60_duck('tok')} % {PHASH_SIDE * PHASH_SIDE} AS b FROM tok),
cnt AS (
  SELECT doc_id, b, COUNT(*) AS n FROM b GROUP BY doc_id, b),
pix AS (
  SELECT doc_id, b, least(255, {PHASH_PIX_GAIN} * n) AS p FROM cnt),
tot AS (
  SELECT doc_id, SUM(p) AS total FROM pix GROUP BY doc_id),
hashes AS (
  SELECT pix.doc_id,
         CAST(SUM(CASE WHEN pix.b < {PHASH_BITS}
                        AND pix.p * {PHASH_SIDE * PHASH_SIDE} > tot.total
                       THEN (CAST(1 AS BIGINT) << CAST(pix.b AS INT))
                       ELSE 0 END) AS BIGINT) AS ahash
  FROM pix JOIN tot ON pix.doc_id = tot.doc_id
  GROUP BY pix.doc_id)
SELECT ahash, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc_id
FROM hashes GROUP BY ahash
"""


# --- JPEG round-trip proof ---------------------------------------------

JPEG_RT_SCHEMA = StructType(
    [
        StructField("sum_left", LongType()),
        StructField("sum_right", LongType()),
    ]
)


def jpeg_roundtrip_features(
    doc_id_col: str | Column, progressive: bool = False
) -> Column:
    """Per-doc JPEG codec proof payload: a 16x8 grayscale image of two
    flat 8x8 blocks (left value v1 = (id·37+11) mod 256, right
    v2 = (id·53+29) mod 256) is encoded to REAL baseline-JFIF bytes
    (quality=100 → all-ones quantization) and decoded back through the
    media mime path; emits the per-half pixel sums. Flat blocks make
    the lossy DCT path EXACT — a constant block has one integer DC
    coefficient and the orthonormal IDCT returns the constant — so the
    sums are closed-form (64·v) and any drift anywhere in the codec
    (headers, Huffman, bit-stuffing, cross-block DC prediction,
    dequantize, IDCT, clip) breaks the hash. With ``progressive`` the
    bytes are a SOF2 multi-scan stream (DC first/refine + spectral
    bands + two successive-approximation passes) and doc_id alternates
    the restart cadence (dri = doc_id % 2), so restart handling inside
    refinement scans is graded too."""
    from spark_ij_spark.sources.purepy_codecs import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    @F.pandas_udf(JPEG_RT_SCHEMA)
    def feats(ids: pd.Series) -> pd.DataFrame:
        rows = []
        for i in ids:
            v1 = int((int(i) * 37 + 11) % 256)
            v2 = int((int(i) * 53 + 29) % 256)
            img = np.empty((8, 16), np.uint8)
            img[:, :8] = v1
            img[:, 8:] = v2
            if progressive:
                blob = encode_jpeg_progressive(
                    img, quality=100, dri=int(i) % 2
                )
            else:
                blob = encode_jpeg(img, quality=100)
            arr = decode_media_bytes(blob, "image/jpeg")
            a = arr[:, :, 0].astype(np.int64)
            rows.append(
                {
                    "sum_left": int(a[:, :8].sum()),
                    "sum_right": int(a[:, 8:].sum()),
                }
            )
        return pd.DataFrame(rows, columns=["sum_left", "sum_right"])

    col = F.col(doc_id_col) if isinstance(doc_id_col, str) else doc_id_col
    return feats(col)


def _jpeg_sums(spark: SparkSession, sf_dir: str, progressive: bool) -> DataFrame:
    """Per-doc half sums of the JPEG codec proof
    (``jpeg_roundtrip_features``), baseline or progressive bytes; the
    scan filter is explained on ``q_media_jpeg_roundtrip``."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(
            F.expr("doc_id IS NOT NULL AND doc_id >= 0 AND doc_id < 281474976710656")
        )
    )
    return (
        docs.select(
            "doc_id",
            jpeg_roundtrip_features("doc_id", progressive=progressive).alias("f"),
        )
        .select(
            "doc_id",
            F.col("f.sum_left").alias("sum_left"),
            F.col("f.sum_right").alias("sum_right"),
        )
        .orderBy("doc_id")
    )


def q_media_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG pipeline over REAL baseline-JFIF bytes (the native
    codec): per document, encode → decode →
    per-half pixel sums, hash-matched against the closed form. The
    JPEG sibling of ``q_media_scene_cuts``' AVI proof and
    ``q_media_audio_energy``'s WAV proof. Map-only Arrow hop, no
    shuffle (the per-row codec cost is the point being graded).
    Scan filter (mirrored in the oracle): doc_id non-null (make_nulls
    hygiene) AND in [0, 2^48) — Spark's Python modulo is always
    non-negative while DuckDB's follows the dividend's sign, and a
    doc_id past ~2^58 would overflow DuckDB's checked BIGINT multiply
    where Python is arbitrary-precision, so the closed form is only
    engine-identical on that domain."""
    return _jpeg_sums(spark, sf_dir, progressive=False)


def q_media_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG twin of ``q_media_jpeg_roundtrip``: the same
    closed-form flat-block proof, but the bytes are a real SOF2
    multi-scan stream (spectral selection + successive approximation,
    restart cadence alternating by doc_id) — the format gap the
    reference covers via ImageIO (Spiji.java:1571-1614) and this
    package decodes natively. Identical oracle: at quality=100 a flat
    block is a single DC coefficient, which the progressive DC
    first+refine scans deliver exactly."""
    return _jpeg_sums(spark, sf_dir, progressive=True)


Q_MEDIA_JPEG_ROUNDTRIP_SQL = """
SELECT doc_id,
       CAST(64 * ((doc_id * 37 + 11) % 256) AS BIGINT) AS sum_left,
       CAST(64 * ((doc_id * 53 + 29) % 256) AS BIGINT) AS sum_right
FROM documents
WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id < 281474976710656
ORDER BY doc_id
"""


MP4_FRAMES_SCHEMA = StructType(
    [
        StructField("sum_f0", LongType()),
        StructField("sum_f1", LongType()),
    ]
)


def q_media_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-MP4 codec proof (the native container parse): per
    document, a 2-frame 8x16 flat-gray video
    (frame 0 value v1 = (id·41+17) mod 256, frame 1 v2 = (id·59+31)
    mod 256) is encoded to a REAL ISO BMFF stream (sample tables +
    per-frame JFIF samples at quality=100) and decoded back through
    the media mime path; emits per-frame pixel sums. Flat frames make
    the DCT path exact, so the sums are closed-form (128·v) and any
    drift in the container walk (stsz/stsc/stco, box sizes) or the
    JPEG codec breaks the hash. Map-only Arrow hop; same doc_id
    domain guard as the JPEG proofs (see q_media_jpeg_roundtrip)."""
    from spark_ij_spark.sources.purepy_codecs import encode_mp4_mjpeg

    @F.pandas_udf(MP4_FRAMES_SCHEMA)
    def feats(ids: pd.Series) -> pd.DataFrame:
        rows = []
        for i in ids:
            v1 = int((int(i) * 41 + 17) % 256)
            v2 = int((int(i) * 59 + 31) % 256)
            vid = np.stack(
                [np.full((8, 16), v1, np.uint8), np.full((8, 16), v2, np.uint8)],
                axis=2,
            )
            arr = decode_media_bytes(
                encode_mp4_mjpeg(vid, quality=100), "video/mp4"
            )
            a = arr.astype(np.int64)
            rows.append(
                {"sum_f0": int(a[:, :, 0].sum()), "sum_f1": int(a[:, :, 1].sum())}
            )
        return pd.DataFrame(rows, columns=["sum_f0", "sum_f1"])

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(
            F.expr("doc_id IS NOT NULL AND doc_id >= 0 AND doc_id < 281474976710656")
        )
    )
    return (
        docs.select("doc_id", feats("doc_id").alias("f"))
        .select(
            "doc_id",
            F.col("f.sum_f0").alias("sum_f0"),
            F.col("f.sum_f1").alias("sum_f1"),
        )
        .orderBy("doc_id")
    )


Q_MEDIA_MP4_FRAMES_SQL = """
SELECT doc_id,
       CAST(128 * ((doc_id * 41 + 17) % 256) AS BIGINT) AS sum_f0,
       CAST(128 * ((doc_id * 59 + 31) % 256) AS BIGINT) AS sum_f1
FROM documents
WHERE doc_id IS NOT NULL AND doc_id >= 0 AND doc_id < 281474976710656
ORDER BY doc_id
"""


QUERIES = {
    "media_jpeg_roundtrip": q_media_jpeg_roundtrip,
    "media_jpeg_progressive": q_media_jpeg_progressive,
    "media_mp4_frames": q_media_mp4_frames,
    "media_phash_dedup": q_media_phash_dedup,
    "media_frame_sample": q_media_frame_sample,
    "media_audio_energy": q_media_audio_energy,
    "media_scene_cuts": q_media_scene_cuts,
    "media_feature_retrieval": q_media_feature_retrieval,
}
ORACLES = {
    "media_jpeg_roundtrip": Q_MEDIA_JPEG_ROUNDTRIP_SQL,
    "media_jpeg_progressive": Q_MEDIA_JPEG_ROUNDTRIP_SQL,
    "media_mp4_frames": Q_MEDIA_MP4_FRAMES_SQL,
    "media_phash_dedup": Q_MEDIA_PHASH_SQL,
    "media_frame_sample": Q_MEDIA_FRAME_SAMPLE_SQL,
    "media_audio_energy": Q_MEDIA_AUDIO_ENERGY_SQL,
    "media_scene_cuts": Q_MEDIA_SCENE_CUTS_SQL,
    "media_feature_retrieval": _retrieval_sql(),
}
