"""IO surface: binaryFile load, local/parquet sinks, DDL data source."""

from __future__ import annotations

import os

import numpy as np
import pytest

from spark_ij_spark.datamodel import image_to_np
from spark_ij_spark.operators.images import create_empty_images
from spark_ij_spark.sources import codecs
from spark_ij_spark.sources.images import (
    ImageJDataSource,
    load_images,
    load_images_driver,
    load_images_locally,
    read_images_parquet,
    register_image_source,
    save_images_local,
    save_images_parquet,
)


def test_npy_codec_roundtrip():
    arr = np.arange(24, dtype=np.float32).reshape(2, 4, 3)
    b = codecs.encode_array(arr, ".npy")
    back = codecs.decode_bytes(b, "x.npy")
    np.testing.assert_array_equal(arr, back)


def test_jpeg_native_and_unknown_suffix_errors():
    """JPEG went native in round 9 (no PIL gate left in the image
    path): a truncated stream is a decode ValueError, not a stub
    NotImplementedError; unknown suffixes still fail clearly."""
    with pytest.raises(ValueError, match="JPEG"):
        codecs.decode_bytes(b"\xff\xd8\xff", "x.jpg")
    with pytest.raises(ValueError, match="unsupported"):
        codecs.decode_bytes(b"", "x.xyz")


def test_png_codec_roundtrip():
    arr = np.arange(48, dtype=np.uint8).reshape(6, 8)
    b = codecs.encode_array(arr, ".png")
    back = codecs.decode_bytes(b, "x.png")
    np.testing.assert_array_equal(back[:, :, 0], arr)


def test_tiff_codec_roundtrip():
    arr = np.arange(24, dtype=np.uint16).reshape(4, 6)
    back = codecs.decode_bytes(codecs.encode_array(arr, ".tif"), "x.tif")
    np.testing.assert_array_equal(back[:, :, 0], arr)


def test_save_load_roundtrip_local(spark, tmp_path):
    imgs = create_empty_images(spark, "img", 5, width=6, height=4, value_fn=lambda i: 7.5)
    out = str(tmp_path / "imgs")
    save_images_local(imgs, out, path_col="sample")
    files = sorted(os.listdir(out))
    assert len(files) == 5 and all(f.endswith(".npy") for f in files)

    back = load_images(spark, out, pattern="*.npy")
    rows = back.collect()
    assert len(rows) == 5
    for r in rows:
        arr = image_to_np(r.image)
        assert arr.shape == (4, 6, 1)
        assert float(arr.mean()) == 7.5
        assert r.image.log[0].optype == "LOAD"


def test_load_images_locally_explicit_paths(spark, tmp_path):
    imgs = create_empty_images(spark, "img", 3, width=3, height=2, value_fn=lambda i: 1.0)
    out = str(tmp_path / "imgs2")
    save_images_local(imgs, out, path_col="sample")
    paths = [os.path.join(out, f) for f in sorted(os.listdir(out))]
    back = load_images_locally(spark, paths, partitions=2)
    assert back.count() == 3
    assert {os.path.basename(r.path) for r in back.collect()} == {
        os.path.basename(p) for p in paths
    }


def test_save_load_roundtrip_png_distributed(spark, tmp_path):
    """End-to-end PNG through the executors: save_images_local encodes
    one .png per image (pure codec), load_images decodes them back via
    the binaryFile scan."""
    imgs = create_empty_images(spark, "img", 3, width=5, height=4, value_fn=lambda i: 0.0)
    from spark_ij_spark.operators.images import run_all

    u8 = run_all(imgs.withColumnRenamed("sample", "path"), "8-bit")
    out = str(tmp_path / "pngs")
    save_images_local(u8, out, suffix=".png")
    files = sorted(os.listdir(out))
    assert len(files) == 3 and all(f.endswith(".png") for f in files)
    back = load_images(spark, out, pattern="*.png")
    rows = back.collect()
    assert len(rows) == 3
    for r in rows:
        arr = image_to_np(r.image)
        assert arr.shape == (4, 5, 1) and arr.dtype.name == "uint8"


@pytest.mark.parametrize("parallel", [True, False])
def test_load_images_driver_small_data_path(spark, tmp_path, parallel):
    """Opt-in driver-side decode (scOps.scala:134-151): decodes on the
    driver, ships rows via createDataFrame; content + lineage intact."""
    imgs = create_empty_images(spark, "img", 3, width=4, height=2, value_fn=lambda i: 3.5)
    out = str(tmp_path / "imgs3")
    save_images_local(imgs, out, path_col="sample")
    paths = [os.path.join(out, f) for f in sorted(os.listdir(out))]
    back = load_images_driver(spark, paths, partitions=2, parallel=parallel)
    rows = back.collect()
    assert len(rows) == 3
    assert back.rdd.getNumPartitions() == 2
    for r in rows:
        arr = image_to_np(r.image)
        assert arr.shape == (2, 4, 1)
        assert float(arr.mean()) == 3.5
        assert r.image.log[0].optype == "LOAD"


def test_load_images_malformed_modes(spark, tmp_path):
    """Corrupt files: failfast raises, permissive nulls the image,
    dropmalformed removes the row."""
    imgs = create_empty_images(spark, "img", 2, width=3, height=2, value_fn=lambda i: 1.0)
    out = str(tmp_path / "mixed")
    save_images_local(imgs, out, suffix=".tif", path_col="sample")
    with open(os.path.join(out, "broken.tif"), "wb") as fh:
        fh.write(b"II*\x00 but not really")

    with pytest.raises(Exception):
        load_images(spark, out, pattern="*.tif").collect()

    perm = load_images(spark, out, pattern="*.tif", mode="permissive").collect()
    assert len(perm) == 3
    null_rows = [r for r in perm if r.image.dtype is None]
    assert len(null_rows) == 1 and null_rows[0].path.endswith("broken.tif")

    kept = load_images(spark, out, pattern="*.tif", mode="dropmalformed").collect()
    assert len(kept) == 2 and all(r.image.dtype is not None for r in kept)

    # The NULL image passes through every engine surface: it stays NULL
    # with no new lineage entry, and the good rows equal a failfast
    # load of the good files alone.
    from spark_ij_spark.functions.sql import register_imagej
    from spark_ij_spark.operators.images import image_stats, run_all

    register_imagej(spark)

    def through_engine(df):
        df = run_all(df, "Multiply...", "value=2").withColumn(
            "stats", image_stats("image")
        )
        df.createOrReplaceTempView("_perm_imgs")
        sql = spark.sql(
            "SELECT path, stats(run2(image, 'Add...', 'value=1')) AS s FROM _perm_imgs"
        )
        return {r.path: r for r in df.collect()}, {r.path: r.s for r in sql.collect()}

    perm_rows, perm_sql = through_engine(
        load_images(spark, out, pattern="*.tif", mode="permissive")
    )
    good_rows, good_sql = through_engine(load_images(spark, out, pattern="img*.tif"))
    broken = null_rows[0].path
    assert perm_rows[broken].image.data is None and perm_rows[broken].image.log is None
    assert all(v is None for v in perm_rows[broken].stats.asDict().values())
    assert perm_sql[broken] is None
    assert len(good_rows) == 2
    for p, r in good_rows.items():
        assert perm_rows[p].image == r.image and perm_rows[p].stats == r.stats
        assert perm_sql[p] == good_sql[p]

    # The per-image ops outside the engine and the histograms follow the
    # same rule, also when one Arrow batch holds the NULL image and a
    # good one (one partition): NULL in gives NULL out, and
    # explode_pixels gives the NULL image no rows.
    from spark_ij_spark.operators.images import (
        explode_pixels,
        image_histogram,
        processor_for_each,
    )
    from pyspark.sql import functions as F

    def per_image_ops(df):
        df = df.repartition(1).withColumn("hist_col", image_histogram("image"))
        df = df.withColumn("proc", processor_for_each("image", lambda sl: sl + 1))
        df.createOrReplaceTempView("_perm_imgs")
        sql = spark.sql(
            "SELECT path, hist_col, proc, hist(image) AS h, "
            "hist3(image, 0.0, 4.0, 4) AS h3, mean(image) AS m, "
            "nslices(image) AS n, toarray(image) AS a, scale(image, 2.0) AS sc, "
            "hist_compare(image, image) AS hc, showmetadata(image) AS md, "
            "roistats(image) AS rs, "
            "setroi(image, 'RECTANGLE', array(0, 1), array(0, 1)) AS roi, "
            "showcalibration(image) AS cal, makeimage(toarray(image)) AS mk, "
            "getroi(setroi(image, 'RECTANGLE', array(0, 1), array(0, 1)), false) AS gr "
            "FROM _perm_imgs"
        )
        pixels = explode_pixels(df.select(F.col("path").alias("sample"), "image"))
        return {r.path: r for r in sql.collect()}, sorted(pixels.collect())

    perm_ops, perm_pixels = per_image_ops(
        load_images(spark, out, pattern="*.tif", mode="permissive")
    )
    good_ops, good_pixels = per_image_ops(load_images(spark, out, pattern="img*.tif"))
    b = perm_ops[broken]
    assert all(v is None for v in b.hist_col.asDict().values())
    assert all(v is None for v in b.h.asDict().values())
    assert all(v is None for v in b.h3.asDict().values())
    assert b.proc.data is None and b.proc.log is None
    assert b.sc.data is None and b.sc.log is None
    assert b.roi.data is None and b.roi.log is None
    assert b.mk.data is None and b.mk.log is None
    assert (b.m, b.n, b.a, b.hc, b.md, b.rs, b.cal, b.gr) == (None,) * 8
    for p, r in good_ops.items():
        assert perm_ops[p] == r and r.h.bin_counts and r.n == 1 and r.cal and r.gr
    assert perm_pixels == good_pixels and len(good_pixels) == 2 * 3 * 2

    # The group reductions skip a NULL image the way SQL aggregates skip
    # NULLs: a group of NULL and good images equals the group of the good
    # ones, and an all-NULL group yields one NULL image.
    from spark_ij_spark.operators.images import assemble_stacks, reduce_images

    def grouped(df):
        df = df.withColumn("all", F.lit("all")).repartition(1)
        out = {}
        for key in ("all", "path"):
            for r in reduce_images(df, key, how="sum").collect():
                out["reduce", r.group_key] = r.image
            for r in assemble_stacks(df, key, order_col="path").collect():
                out["stack", r.sample] = r.image
        return out

    perm_grouped = grouped(load_images(spark, out, pattern="*.tif", mode="permissive"))
    good_grouped = grouped(load_images(spark, out, pattern="img*.tif"))
    for kind in ("reduce", "stack"):
        null = perm_grouped.pop((kind, broken))
        assert null.data is None and null.log is None
    assert perm_grouped == good_grouped and len(good_grouped) == 6
    assert good_grouped["stack", "all"].shape[2] == 2

    # The sinks carry the NULL image too: the local sink and the DDL
    # writer write no file for it, the parquet sink writes NULL content,
    # and the read-back gives the NULL image and the good images
    # unchanged.
    perm = load_images(spark, out, pattern="*.tif", mode="permissive")
    local_out = str(tmp_path / "local_sink")
    save_images_local(perm, local_out, suffix=".tif")
    assert sorted(os.listdir(local_out)) == sorted(
        f for f in os.listdir(out) if f != "broken.tif"
    )
    register_image_source(spark)
    ddl_out = str(tmp_path / "ddl_sink")
    perm.write.format("imagej").option("path", ddl_out).option(
        "suffix", ".tif"
    ).mode("append").save()
    assert sorted(os.listdir(ddl_out)) == sorted(os.listdir(local_out))
    pq_out = str(tmp_path / "parquet_sink")
    save_images_parquet(perm, pq_out, suffix=".tif")
    back = {r.path: r.image for r in read_images_parquet(spark, pq_out, ".tif").collect()}
    assert len(back) == 3
    assert back.pop(broken) == null_rows[0].image
    good = {r.path: r.image for r in kept}
    assert back.keys() == good.keys()
    for p, img in back.items():
        np.testing.assert_array_equal(image_to_np(img), image_to_np(good[p]))


def test_imagej_stream_source_incremental_batches(spark, tmp_path):
    """Directory-watch streaming read with a checkpointed file sink:
    files present at start arrive in the first run; restarting from the
    checkpoint after a new file lands decodes ONLY the new file (offset
    = file-listing high-water mark)."""
    register_image_source(spark)
    land = tmp_path / "landing"
    land.mkdir()
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    imgs = create_empty_images(spark, "img", 2, width=3, height=2, value_fn=lambda i: 5.0)
    save_images_local(imgs, str(land), suffix=".npy", path_col="sample")

    def run_once():
        q = (
            spark.readStream.format("imagej")
            .option("path", str(land))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 2

    import numpy as np

    from spark_ij_spark.sources.codecs import encode_array

    with open(os.path.join(str(land), "late_arrival.npy"), "wb") as fh:
        fh.write(encode_array(np.full((2, 3), 7.0, dtype=np.float32)))
    run_once()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 3  # exactly one new row — earlier files not re-read
    by_name = {os.path.basename(r.path): r for r in rows}
    assert "late_arrival.npy" in by_name
    arr = image_to_np(by_name["late_arrival.npy"].image)
    assert arr.shape == (2, 3, 1) and float(arr.mean()) == 7.0


def test_parquet_byte_sink_keeps_keys(spark, tmp_path):
    imgs = create_empty_images(spark, "img", 4, width=3, height=3, value_fn=lambda i: 2.0)
    out = str(tmp_path / "bytes.parquet")
    save_images_parquet(imgs, out, path_col="sample")
    back = read_images_parquet(spark, out)
    rows = {r.path: image_to_np(r.image) for r in back.collect()}
    assert len(rows) == 4  # names preserved (unlike reference caveat)
    for arr in rows.values():
        assert float(arr.mean()) == 2.0


@pytest.fixture(scope="module")
def imagej_source(spark):
    register_image_source(spark)
    return spark


def test_ddl_debug_simple_schema(imagej_source):
    spark = imagej_source
    df = (
        spark.read.format("imagej")
        .option("debug", "true")
        .option("count", "7")
        .load()
    )
    assert df.columns == ["path", "image"]
    rows = df.collect()
    assert len(rows) == 7
    vals = sorted(float(image_to_np(r.image).mean()) for r in rows)
    assert vals == [float(i) for i in range(7)]  # constant-i debug images


def test_ddl_abstract_wide_schema(imagej_source):
    spark = imagej_source
    df = (
        spark.read.format("imagej")
        .option("debug", "true")
        .option("count", "3")
        .option("table", "abstract")
        .option("width", "5")
        .option("height", "4")
        .load()
    )
    assert df.columns == [
        "path",
        "name",
        "parent",
        "fullpath",
        "width",
        "height",
        "slices",
        "image",
    ]
    r = df.orderBy("path").collect()[0]
    assert (r.width, r.height, r.slices) == (5, 4, 1)
    # metadata-only query never fails on pixel decode
    assert df.select("width").distinct().count() == 1


def test_ddl_create_temporary_view_sql(imagej_source):
    spark = imagej_source
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW DebugImages "
        "USING imagej OPTIONS (debug 'true', count '5', table 'simple')"
    )
    assert spark.sql("SELECT COUNT(*) c FROM DebugImages").collect()[0].c == 5
    names = [r.tableName for r in spark.sql("SHOW TABLES").collect()]
    assert any(n.lower() == "debugimages" for n in names)


def test_ddl_write_path_roundtrip(imagej_source, tmp_path):
    """df.write.format('imagej') → per-image files → read back equal."""
    spark = imagej_source
    src = (
        spark.read.format("imagej")
        .option("debug", "true")
        .option("count", "4")
        .load()
    )
    out = str(tmp_path / "written")
    src.write.format("imagej").option("path", out).mode("append").save()
    files = sorted(os.listdir(out))
    assert len(files) == 4 and all(f.endswith(".npy") for f in files)
    back = load_images(spark, out, pattern="*.npy")
    vals = sorted(float(image_to_np(r.image).mean()) for r in back.collect())
    assert vals == [0.0, 1.0, 2.0, 3.0]


def test_ddl_path_required_without_debug(imagej_source):
    spark = imagej_source
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises((Py4JJavaError, AnalysisException, Exception)):
        spark.read.format("imagej").load().collect()


def test_save_images_url_dispatch(spark, tmp_path):
    """'://' targets route to the keyed-parquet byte sink, bare paths
    to one-file-per-image local save (scOps.scala:251-256)."""
    from spark_ij_spark.sources.images import save_images

    imgs = create_empty_images(spark, "img", 3, width=3, height=2, value_fn=lambda i: 2.0)
    local = str(tmp_path / "plain")
    save_images(imgs, local, path_col="sample")
    assert sorted(os.listdir(local))[0].endswith(".npy")

    url = "file://" + str(tmp_path / "keyed")
    save_images(imgs, url, path_col="sample")
    back = read_images_parquet(spark, url)
    rows = back.collect()
    assert len(rows) == 3
    assert image_to_np(rows[0].image).shape == (2, 3, 1)


def test_ddl_abstract_table_reads_rgb_file(imagej_source, tmp_path):
    """An RGB file decodes to a 4D [h][w][1][3] array; the abstract
    table's dimension unpack must handle it (round-7 review: a 3-way
    shape unpack crashed on every RGB input), and lineage must carry
    the LOAD entry instead of an empty log."""
    import numpy as np

    from spark_ij_spark.sources.codecs import encode_array

    rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    (tmp_path / "a.png").write_bytes(encode_array(rgb, ".png"))
    spark = imagej_source
    df = (
        spark.read.format("imagej")
        .option("table", "abstract")
        .option("path", str(tmp_path))
        .load()
    )
    r = df.collect()[0]
    assert (r.width, r.height, r.slices) == (3, 2, 1)
    assert [int(s) for s in r.image.shape] == [2, 3, 1, 3]
    assert len(r.image.log) == 1 and r.image.log[0].optype == "LOAD"


def test_ddl_reader_skips_marker_files_and_dirs(imagej_source, tmp_path):
    """'_SUCCESS' markers and subdirectories in the source directory
    must be skipped like the stream reader does — an unfiltered entry
    reaches decode_bytes and kills the scan."""
    import numpy as np

    from spark_ij_spark.sources.codecs import encode_array

    (tmp_path / "img.png").write_bytes(
        encode_array(np.zeros((2, 2), dtype=np.uint8), ".png")
    )
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / "subdir").mkdir()
    spark = imagej_source
    df = spark.read.format("imagej").option("path", str(tmp_path)).load()
    assert df.count() == 1


def test_save_images_local_rejects_basename_collisions(spark, tmp_path):
    """'a/x' and 'b/x' map to the same output file; executor partitions
    would race on it (last write wins, one image silently lost) — the
    save must fail loudly instead (round-8 sources review)."""
    from pyspark.sql import functions as F

    imgs = create_empty_images(spark, "img", 2, width=2, height=2)
    clash = imgs.withColumn(
        "sample", F.expr("CASE WHEN sample LIKE '%0' THEN 'a/x.png' ELSE 'b/x.png' END")
    )
    with pytest.raises(ValueError, match="basename"):
        save_images_local(clash, str(tmp_path / "out"), path_col="sample")


def test_save_images_local_is_all_or_nothing(spark, tmp_path):
    """One partition failing to encode (PNG rejects float32) leaves the
    target empty: the other partition's staged files never land, and
    the job's staging directory is removed."""
    from spark_ij_spark.datamodel import np_to_image
    from spark_ij_spark.sources.images import NAMED_IMAGE_SCHEMA

    good = [(f"good{i}.png", np_to_image(np.full((2, 3), i, np.uint8))) for i in range(3)]
    bad = [("bad.png", np_to_image(np.zeros((2, 3), np.float32)))]
    parts = spark.sparkContext.parallelize([good, bad], 2).flatMap(lambda rows: rows)
    df = spark.createDataFrame(parts, NAMED_IMAGE_SCHEMA)
    assert df.rdd.getNumPartitions() == 2
    out = tmp_path / "all_or_nothing"
    with pytest.raises(Exception):
        save_images_local(df, str(out), suffix=".png")
    assert not (out / "_temporary").exists()
    assert os.listdir(out) == []


def test_imagej_writer_overwrite_semantics(imagej_source, tmp_path):
    """mode('overwrite') clobbers per-file; any other mode refuses to
    replace an existing target instead of silently last-write-wins."""
    spark = imagej_source
    src = (
        spark.read.format("imagej")
        .option("debug", "true")
        .option("count", "2")
        .load()
    )
    out = str(tmp_path / "w")
    src.write.format("imagej").option("path", out).mode("append").save()
    first = sorted(os.listdir(out))
    # overwrite: same files land again without error
    src.write.format("imagej").option("path", out).mode("overwrite").save()
    assert sorted(os.listdir(out)) == first
    # append onto existing names must fail loudly, at driver-side
    # commit with nothing renamed into the target dir (the r8 per-file
    # exists() precheck also broke task retries; round-9 ADVICE)
    with pytest.raises(Exception, match="already exist"):
        src.write.format("imagej").option("path", out).mode("append").save()
    # the failed job left no partial writes or staging litter behind
    assert sorted(os.listdir(out)) == first


def test_imagej_stream_skips_subdirectories_and_keeps_lineage(spark, tmp_path):
    """A subdirectory in the landing dir (uploader temp dir) must not
    wedge the stream, and stream-loaded images must carry the same
    LOAD lineage entry as batch-loaded ones (round-8 sources review:
    the stream serializer hard-coded an empty log)."""
    register_image_source(spark)
    land = tmp_path / "landing"
    land.mkdir()
    (land / "tempdir").mkdir()  # must be skipped, not open()ed
    imgs = create_empty_images(spark, "img", 1, width=3, height=2)
    save_images_local(imgs, str(land), suffix=".npy", path_col="sample")
    sink = str(tmp_path / "sink")
    q = (
        spark.readStream.format("imagej")
        .option("path", str(land))
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1
    log = rows[0].image.log
    assert len(log) == 1 and log[0].optype == "LOAD"


def test_imagej_writer_commit_rejects_cross_partition_collisions(
    imagej_source, tmp_path
):
    """Two input paths sharing an output basename must fail the job at
    driver-side commit with NOTHING moved into the target dir — the r8
    per-file exists() check was a check-then-write race that could let
    both partitions land before either noticed (round-9 ADVICE)."""
    from pyspark.sql import functions as F

    spark = imagej_source
    imgs = create_empty_images(spark, "img", 2, width=2, height=2)
    clash = imgs.select(
        F.expr(
            "CASE WHEN sample LIKE '%0' THEN 'a/x.png' ELSE 'b/x.png' END"
        ).alias("path"),
        F.col("image"),
    ).repartition(2, "path")
    out = str(tmp_path / "clash")
    with pytest.raises(Exception, match="basename"):
        clash.write.format("imagej").option("path", out).mode("append").save()
    assert not os.path.exists(out) or os.listdir(out) == []


def test_collision_precheck_catches_newline_basenames(spark, tmp_path):
    """A \\n inside a basename must not hide a collision: 'x\\ny.png'
    and 'x\\ny.jpg' both name the output file 'x\\ny' + suffix."""
    from pyspark.sql import functions as F

    imgs = create_empty_images(spark, "img", 2, width=2, height=2)
    clash = imgs.withColumn(
        "sample",
        F.expr(
            "CASE WHEN sample LIKE '%0' THEN concat('a/x', char(10), 'y.png')"
            " ELSE concat('b/x', char(10), 'y.jpg') END"
        ),
    )
    with pytest.raises(ValueError, match="basename"):
        save_images_local(clash, str(tmp_path / "out"), path_col="sample")


def test_imagej_writer_staging_is_job_scoped(imagej_source, tmp_path):
    """Cleanup must only remove THIS job's staging root: a concurrent
    job's staged files under <path>/_temporary/<other-job> survive a
    commit (round-9 review: a shared rmtree deleted them)."""
    spark = imagej_source
    out = tmp_path / "w2"
    other = out / "_temporary" / "other-job-staging"
    other.mkdir(parents=True)
    (other / "staged.npy").write_bytes(b"concurrent job's staged bytes")
    src = (
        spark.read.format("imagej")
        .option("debug", "true")
        .option("count", "2")
        .load()
    )
    src.write.format("imagej").option("path", str(out)).mode("append").save()
    assert (other / "staged.npy").exists(), "concurrent staging deleted"
    assert len([f for f in os.listdir(out) if not f.startswith("_")]) == 2


def test_imagej_writer_commit_rolls_back_on_midloop_rename_failure(tmp_path):
    """A mid-loop os.replace failure must leave the TARGET free of any
    partially-committed files (already-renamed ones roll back to
    staging) and a subsequent abort() must PRESERVE the staging dir for
    recovery instead of deleting the only surviving copy (round-9
    ADVICE: partial commit + abort cleanup was unreconstructable)."""
    from spark_ij_spark.sources.images import ImageJWriter, _ImageJCommit

    out = tmp_path / "w3"
    out.mkdir()
    w = ImageJWriter({"path": str(out)}, overwrite=True)
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "a.npy").write_bytes(b"payload-a")
    (stage / "b.npy").write_bytes(b"payload-b")
    # make the SECOND rename fail: target b.npy is a non-empty directory
    (out / "b.npy").mkdir()
    (out / "b.npy" / "block").write_bytes(b"x")
    with pytest.raises(OSError, match="commit failed mid-rename"):
        w.commit([_ImageJCommit(str(stage), ["a.npy", "b.npy"])])
    # a.npy was renamed first, then rolled back — target holds no files
    assert not (out / "a.npy").exists()
    assert (stage / "a.npy").read_bytes() == b"payload-a"
    assert (stage / "b.npy").read_bytes() == b"payload-b"
    # abort after the failed commit keeps staging intact
    w.abort([])
    assert (stage / "a.npy").exists() and (stage / "b.npy").exists()
