"""SQL UDF surface end-to-end: compose UDFs in SQL text over temp views
(reference: IJSqlTest.scala:76-247 — projection, nested UDFs,
multi-stage pipelines via temp tables, CTAS)."""

from __future__ import annotations

import json

import pytest

from spark_ij_spark.functions.sql import register_imagej
from spark_ij_spark.operators.images import create_empty_images


@pytest.fixture(scope="module")
def images_view(spark):
    register_imagej(spark)
    df = create_empty_images(
        spark, "img:", 5, width=20, height=10, value_fn=lambda i: 1000.0 * (i + 1)
    )
    df.createOrReplaceTempView("Images")
    return df


def test_nested_udf_stats_run(spark, images_view):
    """SELECT stats(run(image,'Add Noise')) — IJSqlTest.scala:129-131."""
    rows = spark.sql(
        "SELECT sample, stats(run(image, 'Add Noise')) AS s FROM Images"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["s"]["stdDev"] > 1.0
        assert r["s"]["pts"] == 200.0


def test_mean_and_scale(spark, images_view):
    rows = spark.sql(
        "SELECT sample, mean(image) AS m, mean(scale(image, 2.0)) AS m2 FROM Images"
    ).collect()
    for r in rows:
        assert r["m2"] == pytest.approx(2.0 * r["m"])


def test_mean_is_the_stats_mean(spark, images_view):
    """SQL ``mean`` returns the engine's stats mean: equal to
    ``stats(image)['mean']`` on random float images, NULL for a NULL
    image."""
    import numpy as np

    from spark_ij_spark.datamodel import NULL_IMAGE, np_to_image
    from spark_ij_spark.sources.images import NAMED_IMAGE_SCHEMA

    rng = np.random.default_rng(5)
    imgs = [np_to_image((rng.standard_normal((9, 13)) * 1e3).astype("float32")) for _ in range(4)]
    spark.createDataFrame(
        [(f"m{i}", img) for i, img in enumerate([*imgs, NULL_IMAGE])], NAMED_IMAGE_SCHEMA
    ).createOrReplaceTempView("_mean_imgs")
    rows = spark.sql(
        "SELECT path, mean(image) AS m, stats(image)['mean'] AS s FROM _mean_imgs"
    ).collect()
    got = {r["path"]: (r["m"], r["s"]) for r in rows}
    assert got.pop("m4") == (None, None)
    assert len(got) == 4 and all(m == s and m is not None for m, s in got.values())


def test_subtract_self_zero(spark, images_view):
    rows = spark.sql("SELECT mean(subtract(image, image)) AS z FROM Images").collect()
    assert all(r["z"] == 0.0 for r in rows)


def test_nslices_and_toarray(spark, images_view):
    r = spark.sql(
        "SELECT nslices(image) AS n, toarray(image) AS a FROM Images LIMIT 1"
    ).first()
    assert r["n"] == 1
    assert len(r["a"]) == 10  # height rows
    assert len(r["a"][0]) == 20  # width cols
    assert len(r["a"][0][0]) == 1  # slices


def test_hist3_analytic(spark, images_view):
    """Constant image: all counts in the bin at its value."""
    r = spark.sql(
        "SELECT sample, hist3(image, 0.0, 10000.0, 11) AS h FROM Images "
        "WHERE sample = 'img:0'"
    ).first()
    h = r["h"]
    assert h["bin_centers"][1] == 1000.0
    assert h["bin_counts"][1] == 200
    assert sum(h["bin_counts"]) == 200


def test_hist_compare_identity(spark, images_view):
    r = spark.sql("SELECT hist_compare(image, image) AS d FROM Images LIMIT 1").first()
    assert r["d"] == 0.0


def test_runtable_runrow_fromtable(spark, images_view):
    rows = spark.sql(
        """
        SELECT sample,
               runtable(run2(image, 'Auto Threshold', 'method=IsoData white'),
                        'Analyze Particles...', '') AS t
        FROM Images
        """
    ).collect()
    # constant images threshold to a single full-frame particle or none;
    # the map shape must be present either way
    assert all(r["t"] is not None for r in rows)
    r1 = spark.sql(
        """
        SELECT fromtable(runtable(run2(image, 'applyThreshold', 'lower=500 upper=1e9'),
                         'Analyze Particles...', ''), 'Area') AS areas
        FROM Images LIMIT 1
        """
    ).first()
    assert r1["areas"] == [200.0]  # whole frame is one particle


def test_runrow_empty_map_when_no_particles(spark, images_view):
    r = spark.sql(
        """
        SELECT runrow(run2(image, 'applyThreshold', 'lower=1e8 upper=1e9'),
                      'Analyze Particles...', '') AS m
        FROM Images LIMIT 1
        """
    ).first()
    assert r["m"] == {}


def test_listcommands(spark, images_view):
    r = spark.sql("SELECT listcommands() AS c").first()
    assert len(r["c"]) >= 25


def test_showcalibration_showmetadata(spark, images_view):
    r = spark.sql(
        "SELECT showcalibration(image) AS c, showmetadata(image) AS m FROM Images LIMIT 1"
    ).first()
    assert "pixel_width=1.0" in r["c"]
    meta = json.loads(r["m"])
    assert meta["shape"] == [10, 20, 1]


def test_multi_stage_temp_tables_and_ctas(spark, images_view):
    """Pipelines across temp views + CTAS (IJSqlTest.scala:150-199)."""
    spark.sql(
        "SELECT sample, run(image, 'Add Noise') AS image FROM Images"
    ).createOrReplaceTempView("Noisy")
    spark.sql(
        "SELECT sample, run2(image, 'applyThreshold', 'lower=0 upper=1e9') AS image "
        "FROM Noisy"
    ).createOrReplaceTempView("Masked")
    rows = spark.sql("SELECT sample, mean(image) AS m FROM Masked").collect()
    assert all(r["m"] == 255.0 for r in rows)
    # CTAS into spark_catalog (uses warehouse dir)
    spark.sql("DROP TABLE IF EXISTS masked_stats")
    spark.sql(
        "CREATE TABLE masked_stats AS SELECT sample, mean(image) AS m FROM Masked"
    )
    assert spark.table("masked_stats").count() == 5
    assert "masked_stats" in [t.name for t in spark.catalog.listTables()]
    spark.sql("DROP TABLE masked_stats")


def test_makeimage_inverts_toarray(spark, images_view):
    """makeimage(toarray(img)) reproduces the pixel values (array↔image
    closure, Spiji.java:801-921 / :955-1205)."""
    rows = spark.sql(
        "SELECT mean(image) AS m0, mean(makeimage(toarray(image))) AS m1, "
        "nslices(image) AS s0, nslices(makeimage(toarray(image))) AS s1 "
        "FROM Images"
    ).collect()
    for r in rows:
        assert r.m0 == r.m1 and r.s0 == r.s1


def test_insert_into_image_table(spark, images_view):
    """INSERT INTO over an image-bearing table (IJSqlTest.scala:225-229)
    — the image struct round-trips through warehouse parquet."""
    from spark_ij_spark.datamodel import image_to_np

    spark.sql("DROP TABLE IF EXISTS imgs_copy")
    spark.sql("CREATE TABLE imgs_copy AS SELECT sample, image FROM Images")
    spark.sql(
        "INSERT INTO imgs_copy "
        "SELECT concat('dup_', sample) AS sample, run(image, 'Invert') AS image "
        "FROM Images"
    )
    assert spark.table("imgs_copy").count() == 10
    r = spark.sql(
        "SELECT image FROM imgs_copy WHERE sample LIKE 'dup_%' LIMIT 1"
    ).first()
    assert image_to_np(r.image).ndim == 3  # decodes after the round-trip
    spark.sql("DROP TABLE imgs_copy")


def test_full_morphology_pipeline_through_sql(spark):
    """Reference-style end-to-end workflow chained through temp views:
    synthesize blobs → threshold → Fill Holes → Open → Analyze
    Particles → stats. Each stage is a registered SQL function over the
    image column; the particle count is known by construction."""
    import numpy as np

    from spark_ij_spark.datamodel import np_to_image
    from spark_ij_spark.functions.sql import register_imagej

    register_imagej(spark)

    # two 4x4 blobs (one with a hole) + one 1-px speck, on a 16x16 field
    s = np.zeros((16, 16), dtype="float32")
    s[2:6, 2:6] = 100.0
    s[3, 3] = 0.0  # hole
    s[9:13, 9:13] = 100.0
    s[14, 2] = 100.0  # speck — removed by Open
    from pyspark.sql.types import StringType, StructField, StructType

    from spark_ij_spark.datamodel import IMAGE_SCHEMA

    img = np_to_image(s[:, :, np.newaxis])
    schema = StructType(
        [StructField("sample", StringType()), StructField("image", IMAGE_SCHEMA)]
    )
    df = spark.createDataFrame([("blobs", img)], schema)
    df.createOrReplaceTempView("Raw")

    spark.sql(
        "SELECT sample, run2(image, 'applyThreshold', 'lower=50 upper=1e9') AS image FROM Raw"
    ).createOrReplaceTempView("Mask")
    spark.sql(
        "SELECT sample, run(image, 'Fill Holes') AS image FROM Mask"
    ).createOrReplaceTempView("Filled")
    spark.sql(
        "SELECT sample, run(image, 'Open') AS image FROM Filled"
    ).createOrReplaceTempView("Opened")
    row = spark.sql(
        "SELECT sample,"
        " cardinality(runmap(image, 'Analyze Particles...', '')['Area']) AS n,"
        " stats(image)['max'] AS mx,"
        " runmap(image, 'Analyze Particles...', '')['Area'] AS areas "
        "FROM Opened"
    ).first()
    assert row.n == 2  # speck gone, hole filled → two blobs
    assert row.mx == 255.0
    assert sorted(row.areas) == [16.0, 16.0]  # both blobs fully 4x4


def test_explode_cardinality(spark, images_view):
    """Explode over int arrays — cardinality from first principles
    (IJSqlTest.scala:40-74: sum of (i+1))."""
    from pyspark.sql import functions as F

    df = spark.range(11).select(
        F.concat(F.lit("SQ:"), F.col("id")).alias("sample"),
        F.sequence(F.lit(0), F.col("id")).alias("intArray"),
    )
    df.createOrReplaceTempView("NamedArrays")
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM (SELECT explode(intArray) FROM NamedArrays)"
    ).first()["n"]
    assert n == sum(i + 1 for i in range(11))
    lateral = spark.sql(
        "SELECT COUNT(DISTINCT nums) AS n FROM NamedArrays "
        "LATERAL VIEW explode(intArray) splod AS nums"
    ).first()["n"]
    assert lateral == 11


def test_tostring_null_propagation_incl_nat(spark, images_view):
    """tostring maps SQL NULL of ANY type to NULL, not the literal
    text 'None'/'nan'/'NaT' — null timestamps arrive in the UDF as
    pd.NaT through Arrow, the case the None/NaN-only check missed
    (round-9 ADVICE)."""
    rows = spark.sql(
        "SELECT tostring(ts) AS s_ts, tostring(d) AS s_d, tostring(x) AS s_x"
        " FROM VALUES"
        "  (TIMESTAMP '2021-03-04 05:06:07', CAST(1.5 AS DOUBLE), 'ok'),"
        "  (CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE), NULL)"
        " AS t(ts, d, x)"
    ).collect()
    by_null = {r.s_x is None: r for r in rows}
    ok = by_null[False]
    assert ok.s_ts.startswith("2021-03-04") and ok.s_d == "1.5" and ok.s_x == "ok"
    nulls = by_null[True]
    assert nulls.s_ts is None and nulls.s_d is None and nulls.s_x is None
