"""Multimodal binary-column ops: pack/sample/resize/features + oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_ij_spark.operators import multimodal as mm
from spark_ij_spark.operators.images import create_empty_images

from .conftest import assert_oracle_match


def test_media_query_matches_oracle(spark, duck):
    assert_oracle_match(
        spark,
        duck,
        mm.QUERIES["media_frame_sample"],
        mm.ORACLES["media_frame_sample"],
    )


@pytest.fixture(scope="module")
def media_df(spark):
    imgs = create_empty_images(
        spark, "m", 6, width=8, height=4, value_fn=lambda i: float(i)
    )
    return imgs.select(
        "sample", mm.media_from_image("image", frame_axis=False).alias("media")
    )


def test_pack_meta_and_mime(media_df):
    r = media_df.collect()[0]
    assert r.media.mime == mm.NPY_MIME
    assert (r.media.meta.width, r.media.meta.height) == (8, 4)
    arr = mm.decode_media_bytes(r.media.data, r.media.mime)
    assert arr.shape == (4, 8, 1)


def test_resize_is_deterministic_nearest_neighbor(spark, media_df):
    out = media_df.select("sample", mm.resize_media("media", 4, 2).alias("m2"))
    for r in out.collect():
        assert (r.m2.meta.width, r.m2.meta.height) == (4, 2)
        arr = mm.decode_media_bytes(r.m2.data, r.m2.mime)
        assert arr.shape == (2, 4, 1)


def test_features_match_numpy(spark, media_df):
    out = media_df.select("sample", mm.media_features("media").alias("f"))
    for r in out.collect():
        i = float(r.sample.lstrip("m"))
        assert r.f.mean == i and r.f.std == 0.0
        assert r.f.n_px == 8 * 4


def test_frame_sample_stride(spark):
    imgs = create_empty_images(
        spark, "v", 2, width=10, height=1, value_fn=lambda i: 1.0
    )
    media = imgs.select("sample", mm.media_from_image("image").alias("media"))
    r = media.select(mm.frame_sample("media", 3).alias("m")).collect()[0]
    assert r.m.meta.n_frames == 4  # frames 0,3,6,9 of 10


def test_null_image_and_media_give_null_structs_in_one_batch(spark):
    """One partition, so one Arrow batch, holds a NULL row and a good
    row: every media UDF gives the NULL row a NULL struct and the good
    row what it gives without the NULL row."""
    from spark_ij_spark.datamodel import IMAGE_SCHEMA

    imgs = create_empty_images(
        spark, "v", 2, width=6, height=1, value_fn=lambda i: i + 1.0, partitions=1
    )
    is_null = F.col("sample") == "v0"

    def run(null_row: bool):
        def nulled(col, schema):
            return F.when(is_null, F.lit(None).cast(schema)).otherwise(col) if null_row else col

        df = imgs.withColumn("image", nulled(F.col("image"), IMAGE_SCHEMA)).select(
            "sample",
            mm.media_from_image("image").alias("m"),
            nulled(mm.media_from_samples(F.array(*map(F.lit, (3, -5, 7)))), mm.MEDIA_SCHEMA)
            .alias("wav"),
            nulled(mm.video_from_frames(F.array(*map(F.lit, range(8)))), mm.MEDIA_SCHEMA)
            .alias("avi"),
        )
        out = df.select(
            "sample",
            "m",
            mm.frame_sample("m", 2).alias("fs"),
            mm.resize_media("m", 2, 1).alias("rs"),
            mm.media_features("m").alias("f"),
            mm.audio_features("wav").alias("au"),
            mm.scene_cut_features("avi").alias("sc"),
        )
        assert out.rdd.getNumPartitions() == 1
        return {r.sample: r for r in out.collect()}

    with_null, good = run(True), run(False)
    for col in ("m", "fs", "rs", "f", "au", "sc"):
        assert all(v is None for v in with_null["v0"][col].asDict().values()), col
        assert good["v0"][col].asDict() != with_null["v0"][col].asDict(), col
    assert with_null["v1"] == good["v1"]
    assert good["v1"].f.n_px == 6 and good["v1"].au.n_samples == 3


def test_no_stubbed_mimes_remain_and_unknown_mime_raises():
    """A malformed payload of a documented mime fails with a clear
    ValueError from its parser, and unknown mimes still raise."""
    with pytest.raises(ValueError, match="MP4"):
        mm.decode_media_bytes(b"xx", "video/mp4")
    with pytest.raises(ValueError):
        mm.decode_media_bytes(b"xx", "application/unknown")


def test_mp4_mime_decodes_natively():
    """video/mp4 went native in round 10: an MJPEG-in-MP4
    payload decodes through the pure-stdlib BMFF container parse and
    frames land on the frame axis like AVI."""
    import numpy as np

    from spark_ij_spark.sources.purepy_codecs import encode_mp4_mjpeg

    vid = np.stack(
        [np.full((6, 9), v, np.uint8) for v in (5, 128, 250)], axis=2
    )
    arr = mm.decode_media_bytes(encode_mp4_mjpeg(vid, quality=100), "video/mp4")
    assert arr.shape == (6, 9, 3)
    assert np.array_equal(arr, vid)


def test_jpeg_mime_decodes_natively():
    """image/jpeg went native in round 9: a baseline-JFIF
    payload decodes through the pure-stdlib codec like any other
    native mime."""
    import numpy as np

    from spark_ij_spark.sources.purepy_codecs import encode_jpeg

    img = (np.arange(16 * 16, dtype=np.uint8).reshape(16, 16) % 200)
    arr = mm.decode_media_bytes(encode_jpeg(img, quality=100), "image/jpeg")
    assert arr.shape[:2] == (16, 16)
    assert np.abs(arr[:, :, 0].astype(int) - img.astype(int)).max() <= 1


def test_native_mime_decoders_are_real():
    """PNG / multi-page TIFF / DICOM media payloads decode via the
    pure-stdlib codecs — multi-page TIFF lands on the frame axis."""
    import numpy as np

    from spark_ij_spark.sources import purepy_codecs as pp

    png = pp.encode_png(np.arange(12, dtype=np.uint8).reshape(3, 4))
    assert mm.decode_media_bytes(png, "image/png").shape == (3, 4, 1)

    stack = np.arange(24, dtype=np.uint16).reshape(3, 4, 2)
    tif = pp.encode_tiff(stack)
    out = mm.decode_media_bytes(tif, "image/tiff")
    assert out.shape == (3, 4, 2)  # pages → frames
    np.testing.assert_array_equal(out, stack)

    dcm = pp.encode_dicom((np.arange(12, dtype=np.int16) - 6).reshape(3, 4))
    assert mm.decode_media_bytes(dcm, "application/dicom").shape == (3, 4, 1)


def test_audio_query_matches_oracle(spark, duck):
    assert_oracle_match(
        spark,
        duck,
        mm.QUERIES["media_audio_energy"],
        mm.ORACLES["media_audio_energy"],
    )


def test_audio_pack_roundtrip_and_features(spark):
    """media_from_samples writes genuine WAV bytes; decode + features
    agree with direct numpy on the same waveform."""
    import pandas as pd

    x = [0, 100, -100, 200, -300, 0, 50]
    df = spark.createDataFrame(pd.DataFrame({"samples": [x]}))
    row = df.select(mm.media_from_samples("samples").alias("m")).collect()[0]
    assert row.m.mime == mm.WAV_MIME
    assert bytes(row.m.data[:4]) == b"RIFF"
    assert row.m.meta.n_frames == len(x)
    assert row.m.meta.sample_rate == mm.AUDIO_SAMPLE_RATE
    arr = mm.decode_media_bytes(row.m.data, mm.WAV_MIME)
    assert arr.shape == (1, 1, len(x))  # [channels][1][samples]
    np.testing.assert_array_equal(arr[0, 0], x)

    feats = (
        df.select(mm.media_from_samples("samples").alias("m"))
        .select(mm.audio_features("m").alias("f"))
        .collect()[0]
        .f
    )
    xs = np.array(x, dtype=np.int64)
    assert feats.n_samples == len(x)
    assert feats.energy == int((xs * xs).sum())
    assert feats.zero_crossings == int(np.count_nonzero(xs[:-1] * xs[1:] < 0))
    assert feats.peak == int(np.abs(xs).max())


def test_frame_sample_subsamples_audio_like_video(spark):
    """The WAV frame axis is the sample axis: stride-2 sampling halves
    the clip, and the resampled payload is npy-tagged (re-encoded)."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"samples": [list(range(10))]}))
    media = df.select(mm.media_from_samples("samples").alias("media"))
    r = media.select(mm.frame_sample("media", 2).alias("m")).collect()[0]
    assert r.m.meta.n_frames == 5
    assert r.m.mime == mm.NPY_MIME
    out = mm.decode_media_bytes(r.m.data, mm.NPY_MIME)
    np.testing.assert_array_equal(out[0, 0], [0, 2, 4, 6, 8])


def test_retrieval_query_matches_oracle(spark, duck):
    assert_oracle_match(
        spark,
        duck,
        mm.QUERIES["media_feature_retrieval"],
        mm.ORACLES["media_feature_retrieval"],
    )


def test_retrieval_topk_properties(spark, sf_dir):
    """Per probe: ≤ k results, ranks contiguous from 1, scores
    non-increasing, candidate never equals probe, score ∈ (0, 1]."""
    rows = mm.q_media_feature_retrieval(spark, sf_dir).collect()
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        by_probe.setdefault(r.probe, []).append(r)
    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= mm.RETRIEVAL_TOPK
        assert all(r.cand != probe for r in rs)
        assert all(0 < r.score <= 1.000001 for r in rs)
        assert all(a.score >= b.score for a, b in zip(rs, rs[1:]))


def test_scene_cuts_query_matches_oracle(spark, duck):
    assert_oracle_match(
        spark,
        duck,
        mm.QUERIES["media_scene_cuts"],
        mm.ORACLES["media_scene_cuts"],
    )


def test_avi_pack_roundtrip_and_scene_features(spark):
    """video_from_frames emits genuine RIFF/AVI bytes; decode recovers
    every 2x2 frame exactly (incl. DIB row padding), and the features
    match a direct numpy recount."""
    import pandas as pd

    pixels = [int(x) for x in np.arange(40) * 37 % 256]  # 10 frames
    df = spark.createDataFrame(pd.DataFrame({"pixels": [pixels]}))
    row = df.select(mm.video_from_frames("pixels").alias("m")).collect()[0].m
    assert bytes(row.data[:4]) == b"RIFF" and bytes(row.data[8:12]) == b"AVI "
    assert row.mime == mm.AVI_MIME and row.meta.n_frames == 10

    from spark_ij_spark.sources.purepy_codecs import decode_avi

    arr = decode_avi(bytes(row.data))
    want = np.asarray(pixels, dtype=np.uint8).reshape(10, 2, 2).transpose(1, 2, 0)
    assert arr.shape == (2, 2, 10) and (arr == want).all()

    feats = (
        df.select(mm.scene_cut_features(mm.video_from_frames("pixels")).alias("f"))
        .collect()[0]
        .f
    )
    f = want.astype(np.int64).reshape(4, 10)
    d = np.abs(f[:, 1:] - f[:, :-1]).sum(axis=0)
    assert feats.n_frames == 10
    assert feats.n_cuts == int((d > mm.SCENE_CUT_SAD).sum())
    assert feats.max_jump == int(d.max())
    assert feats.sad_total == int(d.sum())


def test_phash_groups_cover_corpus_and_exact_dups_collide(spark, sf_dir):
    """Group sizes sum to the corpus; byte-identical documents MUST
    share an aHash (identical token bags → identical fingerprint
    image); hash values fit in PHASH_BITS."""
    from spark_ij_spark.operators import dedup, multimodal

    rows = multimodal.q_media_phash_dedup(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.ahash < (1 << multimodal.PHASH_BITS) for r in rows)
    # documents with identical token BAGS must collide under the
    # perceptual hash (the fingerprint image is a function of the bag)
    from pyspark.sql import functions as SF

    from spark_ij_spark.operators.text import TOKENS_SPARK

    bags = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            SF.md5(
                SF.expr(f"concat_ws(' ', array_sort({TOKENS_SPARK}))")
            ).alias("bag")
        )
        .groupBy("bag")
        .count()
        .where("count > 1")
        .collect()
    )
    if bags:  # tiny SFs may have no duplicate bags — invariant is vacuous
        multi = sum(r.n_docs for r in rows if r.n_docs > 1)
        assert multi >= sum(b["count"] for b in bags)
    del dedup  # imported for parity with other tests; silence linters


def test_phash_dedup_matches_oracle(spark, duck):
    """media_phash_dedup is driver-graded; the closed-form oracle must
    also be gated locally (a one-sided PHASH_PIX_GAIN/threshold retune
    would otherwise pass the suite and only fail at grading time)."""
    assert_oracle_match(
        spark,
        duck,
        mm.QUERIES["media_phash_dedup"],
        mm.ORACLES["media_phash_dedup"],
    )
