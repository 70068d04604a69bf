"""Image data model + kernels, following the reference's test strategy
(SURVEY.md §5): analytic expectations for single ops, statistical
invariants for noise, dimension-convention checks, lineage round-trips."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from spark_ij_spark.kernels.histogram import hist_distance, histogram
from spark_ij_spark.kernels.particles import analyze_particles, label_components
from spark_ij_spark.operators.images import (
    assemble_stacks,
    combine_images,
    create_empty_images,
    explode_pixels,
    get_statistics,
    image_histogram,
    run_all,
    run_with_table,
)
from spark_ij_spark.registry import list_commands, run_op


@pytest.fixture(scope="module")
def images5(spark):
    # 5 constant images, value = 1000*i + 1000 (SpijiTests.scala:33-34 flavor)
    return create_empty_images(
        spark, "img:", 5, width=20, height=10, value_fn=lambda i: 1000.0 * i + 1000.0
    ).cache()


def test_registry_has_expected_ops():
    cmds = list_commands()
    for expected in [
        "Add Noise",
        "Median...",
        "Auto Threshold",
        "Convert to Mask",
        "Analyze Particles...",
        "applyThreshold",
        "setThreshold",
        "8-bit",
        "32-bit",
    ]:
        assert expected in cmds
    assert len(cmds) >= 25


def test_create_empty_images_schema_and_values(spark, images5):
    rows = get_statistics(images5).select("sample", "stats.*").collect()
    assert len(rows) == 5
    by_key = {r["sample"]: r for r in rows}
    for i in range(5):
        r = by_key[f"img:{i}"]
        assert r["mean"] == 1000.0 * i + 1000.0
        assert r["stdDev"] == 0.0
        assert r["pts"] == 200.0


def test_dimension_convention(spark, images5):
    img = images5.first()["image"]
    assert list(img["shape"]) == [10, 20, 1]  # [height][width][slices]


def test_noise_invariants(spark, images5):
    """stddev(noise twice) > stddev(noise) > stddev(const) ≈ 0
    (SpijiTests.scala:297-310)."""
    base = get_statistics(images5).select("stats.stdDev").first()[0]
    once = get_statistics(run_all(images5, "Add Noise")).select("stats.stdDev").first()[0]
    twice = get_statistics(
        run_all(run_all(images5, "Add Noise"), "Add Noise")
    ).select("stats.stdDev").first()[0]
    assert base == pytest.approx(0.0)
    assert once > 1.0
    assert twice > once


def test_threshold_pipeline_drives_mean_to_255(spark, images5):
    """applyThreshold with an all-inclusive range → all pixels 255
    (SpijiTests.scala:345-371)."""
    noisy = run_all(images5, "Add Noise")
    masked = run_all(noisy, "applyThreshold", "lower=0 upper=1e9")
    stats = get_statistics(masked).select("stats.*").collect()
    for r in stats:
        assert r["mean"] == 255.0
        assert r["stdDev"] == 0.0


def test_stats_match_exploded_pixels(spark, images5):
    """Cross-check the UDF reduce against the relational pixel view."""
    noisy = run_all(images5, "Add Noise").cache()
    from pyspark.sql import functions as F

    udf_stats = {
        r["sample"]: r
        for r in get_statistics(noisy).select("sample", "stats.*").collect()
    }
    rel_stats = {
        r["sample"]: r
        for r in explode_pixels(noisy)
        .groupBy("sample")
        .agg(
            F.min("value").alias("min"),
            F.avg("value").alias("mean"),
            F.max("value").alias("max"),
            F.count("value").alias("pts"),
        )
        .collect()
    }
    for k, u in udf_stats.items():
        rdata = rel_stats[k]
        assert u["min"] == rdata["min"]
        assert u["mean"] == pytest.approx(rdata["mean"], rel=1e-12)
        assert u["max"] == rdata["max"]
        assert u["pts"] == rdata["pts"]


@pytest.mark.parametrize("stack_bytes", [None, 64])
def test_stats_rows_equal_one_image_reductions(monkeypatch, stack_bytes):
    """The batch reduction stacks same-size rows and reduces the stack
    along its rows; every row must equal min/mean/std/max of that image
    alone, bit for bit, whether its group is one stack or cut into
    many (a 64-byte cap gives one row per stack), with the 0- and
    1-pixel rules kept and a NULL image giving None."""
    from spark_ij_spark.datamodel import NULL_IMAGE, image_to_np, np_to_image
    from spark_ij_spark.operators import images

    if stack_bytes:
        monkeypatch.setattr(images, "STATS_STACK_BYTES", stack_bytes)
    rng = np.random.default_rng(3)
    imgs = []
    for dtype in ("float32", "uint16"):
        for shape, rgb in (((1, 1), False), ((1, 7), False), ((64, 64), False), ((33, 21, 3), True)):
            for _ in range(3):  # three rows per (dtype, size) group
                values = rng.standard_normal(shape) * 1e3 if dtype == "float32" else rng.random(shape) * 6e4
                imgs.append(np_to_image(values.astype(dtype), rgb=rgb))
    imgs += [np_to_image(np.zeros((0, 4), "float32")), NULL_IMAGE]
    got = images.stats_rows([i["data"] for i in imgs], [i["dtype"] for i in imgs])
    assert got[-1] is None
    assert got[-2] == {"min": 0.0, "mean": 0.0, "stdDev": 0.0, "max": 0.0, "pts": 0.0}
    for img, s in zip(imgs[:-2], got):
        a = image_to_np(img).astype("float64")
        want = {
            "min": float(a.min()),
            "mean": float(a.mean()),
            "stdDev": float(a.std(ddof=1)) if a.size > 1 else 0.0,
            "max": float(a.max()),
            "pts": float(a.size),
        }
        assert s == want, img["shape"]


def test_stats_rows_memory_is_one_stack_not_the_batch():
    """A batch of same-size images is reduced a few rows at a time: the
    Python-side peak stays near STATS_STACK_BYTES, where one stack of
    the whole batch (here 12x the cap in float64) would need twice
    that again for std's temporaries."""
    import tracemalloc

    from spark_ij_spark.operators.images import STATS_STACK_BYTES, stats_rows

    n = STATS_STACK_BYTES // 8 // 2  # two images per stack
    data = [np.full(n, i, "uint8").tobytes() for i in range(24)]
    tracemalloc.start()
    try:
        stats_rows(data, ["uint8"] * len(data))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 3 * STATS_STACK_BYTES


def test_histogram_constant_image_analytic(spark):
    """Constant-5 image, bins=3 on [0,10]: middle bin holds all pixels
    (SpijiTests.scala:176-186)."""
    centers, counts = histogram(np.full((10, 20), 5.0), (0.0, 10.0), 3)
    assert centers.tolist() == [0.0, 5.0, 10.0]
    assert counts.tolist() == [0, 200, 0]


def test_histogram_distance_identities():
    """self=0, disjoint=1, noisy in between (SpijiTests.scala:209-231)."""
    # fixed-range histograms share a center lattice (as ImageJ's uint8
    # histograms do) — the discrete converter only overlaps aligned bins
    rng = np.random.default_rng(42)
    a = np.full((50, 50), 100.0)
    b = np.full((50, 50), 200.0)
    noisy = a + rng.normal(0, 10, a.shape)
    fixed = (0.0, 255.0)
    ca, na = histogram(a, fixed, 256)
    cb, nb = histogram(b, fixed, 256)
    cn, nn = histogram(noisy, fixed, 256)
    assert hist_distance(ca, na, ca, na) == pytest.approx(0.0)
    assert hist_distance(ca, na, cb, nb) == pytest.approx(1.0)
    d = hist_distance(ca, na, cn, nn)
    assert 0.0 < d < 1.0


def test_image_histogram_column(spark, images5):
    row = images5.select(
        image_histogram("image", (0.0, 10000.0), 5).alias("h")
    ).first()["h"]
    assert len(row["bin_centers"]) == 5
    assert sum(row["bin_counts"]) == 200


def test_subtract_self_is_zero(spark, images5):
    paired = images5.withColumn("img2", images5["image"])
    diff = paired.withColumn("image", combine_images("image", "img2", "subtract"))
    stats = get_statistics(diff).select("stats.*").collect()
    for r in stats:
        assert r["mean"] == 0.0 and r["min"] == 0.0 and r["max"] == 0.0


def test_merge_lineage_nesting(spark, images5):
    paired = images5.withColumn("img2", images5["image"])
    diff = paired.withColumn("image", combine_images("image", "img2", "subtract"))
    log = diff.select("image.log").first()[0]
    assert len(log) == 1
    entry = log[0]
    assert entry["optype"] == "MERGE"
    children = json.loads(entry["children_json"])
    assert len(children) == 2
    assert children[0][0]["opval"] == "createEmptyImages"


def test_run_appends_lineage(spark, images5):
    out = run_all(run_all(images5, "Add Noise"), "Median...", "radius=2")
    log = out.select("image.log").first()[0]
    assert [e["opval"] for e in log] == ["createEmptyImages", "Add Noise", "Median..."]


def test_stack_assembly_dimension(spark):
    """Stack build: n images of w×h → [h][w][n] (SpijiTests.scala:232-256)."""
    df = create_empty_images(
        spark, "s", 4, width=30, height=20, value_fn=lambda i: float(i)
    ).withColumn("group", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("g"))
    stacked = assemble_stacks(df, "group").first()["image"]
    assert list(stacked["shape"]) == [20, 30, 4]


def test_label_components_two_blobs():
    mask = np.zeros((20, 20), dtype=bool)
    mask[2:5, 2:5] = True
    mask[10:15, 10:18] = True
    labels, n = label_components(mask)
    assert n == 2
    assert (labels > 0).sum() == 9 + 40


def test_analyze_particles_measurements():
    img = np.zeros((20, 20), dtype=np.uint8)
    img[2:5, 2:5] = 10
    img[10:15, 10:18] = 20
    table = analyze_particles(img)
    assert len(table["Area"]) == 2
    assert sorted(table["Area"]) == [9.0, 40.0]
    assert sorted(table["Mean"]) == [10.0, 20.0]
    # particle invariants (SpijiTests.scala:88-108)
    assert sum(table["Area"]) < img.size
    assert all(mn <= mx for mn, mx in zip(table["Min"], table["Max"]))


def _feret_all_pairs(sl, pixel_width, pixel_height):
    """Brute-force Feret per component: the max over EVERY pair of the
    point set the kernel uses (the component's pixels in raster order,
    or its evenly spaced 1,500-pixel sample when larger)."""
    labels, n = label_components(sl != 0)
    out = []
    for lab in range(1, n + 1):
        ys, xs = np.nonzero(labels == lab)
        if len(ys) > 1500:
            sel = np.linspace(0, len(ys) - 1, 1500).astype(int)
            ys, xs = ys[sel], xs[sel]
        if len(ys) == 1:
            out.append(float(max(pixel_width, pixel_height)))
            continue
        pts = np.stack([xs * pixel_width, ys * pixel_height], axis=1)
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
        out.append(float(np.sqrt(d2.max())))
    return out


def test_feret_equals_all_pairs_max():
    """Feret reduced to row ends equals the all-pairs max exactly, on
    concave, holed, thin, single-pixel and over-cap components, under
    a non-square calibration, and per slice of a stack."""
    img = np.zeros((140, 140), dtype=np.uint8)
    yy, xx = np.mgrid[:140, :140]
    r2 = (yy - 25) ** 2 + (xx - 25) ** 2
    img[(r2 <= 20**2) & (r2 >= 12**2)] = 1  # ring: concave, with a hole
    img[5:40, 55:60] = 2  # L: vertical stroke
    img[35:40, 55:80] = 2  # L: foot
    img[3, 100] = 3  # single pixel
    img[10, 90:130] = 4  # 1-row bar
    img[50:75, 120] = 5  # 1-column bar
    for i in range(30):  # diagonal line (8-connected, one pixel a row)
        img[50 + i, 80 + i] = 6
    blob = ((yy - 105) ** 2 + (xx - 45) ** 2 <= 28**2) & ~(
        (yy > 100) & (xx > 50) & (xx < 60)
    )
    img[blob] = 7  # over the 1,500-pixel cap, with a notch
    assert (label_components(img == 7)[0] > 0).sum() > 1500
    for pw, ph in ((1.0, 1.0), (0.37, 1.9)):
        table = analyze_particles(img, pixel_width=pw, pixel_height=ph)
        assert len(table["Feret"]) == 7
        assert table["Feret"] == _feret_all_pairs(img, pw, ph)
    stack = np.stack([img, img.T, np.flipud(img)], axis=2)
    table = analyze_particles(stack, pixel_width=0.37, pixel_height=1.9)
    want = [f for k in range(3) for f in _feret_all_pairs(stack[:, :, k], 0.37, 1.9)]
    assert table["Feret"] == want
    assert table["Slice"] == [1.0] * 7 + [2.0] * 7 + [3.0] * 7


def test_run_with_table(spark, images5):
    noisy = run_all(images5, "Add Noise")
    masked = run_all(noisy, "Auto Threshold", "method=IsoData white")
    out = run_with_table(masked, "Analyze Particles...", "display clear")
    row = out.select("table").first()["table"]
    assert "Area" in row and len(row["Area"]) > 0


def test_op_surfaces_agree(spark):
    """One op through every surface — run_all with a string and with a
    one-element list, the matching run_range variant and SQL run2 — gives
    identical pixel bytes and identical last lineage entries, and
    run_with_table's table equals SQL runtable's."""
    from spark_ij_spark.datamodel import np_to_image
    from spark_ij_spark.functions.sql import register_imagej
    from spark_ij_spark.operators.sweep import run_range
    from spark_ij_spark.sources.images import NAMED_IMAGE_SCHEMA

    rng = np.random.default_rng(7)
    blobs = (rng.random((3, 12, 10)) > 0.7).astype("uint8") * 200
    df = spark.createDataFrame(
        [(f"s{i}", np_to_image(b)) for i, b in enumerate(blobs)], NAMED_IMAGE_SCHEMA
    ).withColumnRenamed("path", "sample")
    register_imagej(spark)
    df.createOrReplaceTempView("_surface_imgs")

    def by_sample(out, suffix=""):
        return {
            r.sample[: len(r.sample) - len(suffix)]: (bytes(r.image.data), r.image.log[-1])
            for r in out.select("sample", "image").collect()
            if r.sample.endswith(suffix)
        }

    cmd, args = "Gaussian Blur...", "sigma=2"
    want = by_sample(run_all(df, cmd, args))
    assert len(want) == 3 and all(e.opval == cmd for _, e in want.values())
    assert by_sample(run_all(df, [(cmd, args)])) == want
    swept = run_range(df, cmd, "sigma=1", "sigma=3", steps=3)
    assert by_sample(swept, "__sigma_2") == want
    sql = spark.sql(f"SELECT sample, run2(image, '{cmd}', '{args}') AS image FROM _surface_imgs")
    assert by_sample(sql) == want

    table = {
        r.sample: r.table
        for r in run_with_table(df, "Analyze Particles...").select("sample", "table").collect()
    }
    sql_table = {
        r.sample: r.t
        for r in spark.sql(
            "SELECT sample, runtable(image, 'Analyze Particles...', '') AS t FROM _surface_imgs"
        ).collect()
    }
    assert table == sql_table and all(len(t["Area"]) > 0 for t in table.values())


def test_calibration_preserved_through_ops(spark):
    """Calibration survives serialize → op → tabulate
    (SpijiTests.scala:109-140)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spark_ij_spark.datamodel import IMAGE_SCHEMA, np_to_image
    from pyspark.sql.types import StringType, StructField, StructType

    def gen(batches):
        for pdf in batches:
            rows = [
                {
                    "sample": f"c{int(i)}",
                    "image": np_to_image(
                        np.full((4, 6), 7.0, dtype="float32"),
                        meta={"pixel_width": 0.5, "pixel_height": 0.25, "unit": "mm"},
                    ),
                }
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    schema = StructType(
        [StructField("sample", StringType()), StructField("image", IMAGE_SCHEMA)]
    )
    df = __import__("pyspark.sql", fromlist=["SparkSession"]).SparkSession.getActiveSession().range(2).mapInPandas(gen, schema)
    out = run_all(df, "Add Noise")
    meta = out.select("image.meta").first()[0]
    assert meta["pixel_width"] == 0.5
    assert meta["pixel_height"] == 0.25
    assert meta["unit"] == "mm"


def test_convert_array_type_lattice():
    from spark_ij_spark.datamodel import convert_array_type

    a = np.array([0, 100, 255], dtype=np.uint8)
    f = convert_array_type(a, "float32", is_signed=True, scale=2.0)
    # (v - 127/2) * 2
    assert f.tolist() == pytest.approx([(v - 63.5) * 2.0 for v in [0, 100, 255]])
    back = convert_array_type(f.astype("float32"), "uint8", is_signed=True, scale=2.0)
    assert back.dtype == np.uint8
    b = convert_array_type(np.array([0.0, 1.0, -1.0]), "bool")
    assert b.tolist() == [False, True, False]


def test_rgb_reduction_strategies():
    from spark_ij_spark.datamodel import rgb_to_gray

    rgb = np.zeros((2, 2, 1, 3), dtype=np.uint8)
    rgb[..., 0] = 10
    rgb[..., 1] = 20
    rgb[..., 2] = 60
    assert rgb_to_gray(rgb, "MEAN")[0, 0, 0] == pytest.approx(30.0)
    assert rgb_to_gray(rgb, "SUM")[0, 0, 0] == pytest.approx(90.0)
    assert rgb_to_gray(rgb, "RED")[0, 0, 0] == 10.0
    assert rgb_to_gray(rgb, "BLUE")[0, 0, 0] == 60.0


def test_ingest_coercions():
    from spark_ij_spark.datamodel import coerce_ingest

    assert coerce_ingest(np.array([70000], dtype=np.int64)).dtype == np.uint16
    assert coerce_ingest(np.array([70000], dtype=np.int64))[0] == 70000 & 0xFFFF
    assert coerce_ingest(np.array([1.5], dtype=np.float64)).dtype == np.float32
    assert coerce_ingest(np.array([True])).tolist() == [255]


def test_unknown_op_suggests():
    with pytest.raises(KeyError, match="did you mean"):
        run_op(np.zeros((2, 2)), "Add Nois")


def test_run_op_rows_compiles_each_distinct_op_once_per_batch(monkeypatch):
    """The engine resolves and parses each op of a distinct chain once
    per batch, not once per row, and its images and lineage equal
    running the ops one at a time."""
    from spark_ij_spark import lineage, registry
    from spark_ij_spark.datamodel import (
        image_frame,
        image_to_np,
        log_of,
        meta_of,
        np_to_image,
    )
    from spark_ij_spark.operators.images import run_op_rows

    chain_a = [("Multiply...", "value=2"), ("Add...", "value=1"), ("Square", "")]
    chain_b = [("Gaussian Blur...", "sigma=1")]
    imgs = [np_to_image(np.full((3, 4, 1), i, "float32")) for i in range(200)]
    chains = [chain_a if i % 2 else chain_b for i in range(200)]
    calls = {"get_op": [], "parse_args": []}
    for name in calls:
        real = getattr(registry, name)
        monkeypatch.setattr(
            registry, name, lambda x, real=real, name=name: calls[name].append(x) or real(x)
        )
    out, _ = run_op_rows(image_frame(imgs), chains)
    assert sorted(calls["get_op"]) == sorted(c for c, _ in chain_a + chain_b)
    assert sorted(calls["parse_args"]) == sorted(a for _, a in chain_a + chain_b)

    for img, chain, got in zip(imgs, chains, out):
        arr, meta, log = image_to_np(img), meta_of(img), log_of(img)
        for cmd, args in chain:
            arr, _ = run_op(arr, cmd, args, meta)
            log.append(lineage.log_entry(lineage.OP_RUN, cmd, [args]))
        assert got == np_to_image(arr, meta=meta, log=log)


def test_unknown_op_on_null_rows_raises_nothing():
    """Ops compile on the first non-NULL row: a batch of NULL images
    with an unknown command passes through, and one good row raises."""
    from spark_ij_spark.datamodel import NULL_IMAGE, image_frame, np_to_image
    from spark_ij_spark.operators.images import run_op_rows

    out, tables = run_op_rows(image_frame([NULL_IMAGE] * 3), [[("Add Nois", "")]] * 3)
    assert out == [NULL_IMAGE] * 3 and tables == [None] * 3
    good = image_frame([NULL_IMAGE, np_to_image(np.zeros((2, 2, 1)))])
    with pytest.raises(KeyError, match="did you mean"):
        run_op_rows(good, [[("Add Nois", "")]] * 2)


def test_kernels_leave_the_shared_parsed_args_unchanged(monkeypatch):
    """A compiled op hands every call the one parsed-args dict, so no
    kernel may write to it: run every command with a broad arg string
    on a gray and an RGB stack and compare the dict after each."""
    from spark_ij_spark import registry

    argstr = (
        "value=2 radius=1 sigma=1 x=1 y=1 z=1 width=2 height=2 first=1 last=2 "
        "number=1 angle=10 prominence=1 saturated=0 mask=0.5 threshold=1 "
        "filter_large=4 filter_small=1 lower=1 upper=9 white clear"
    )
    parsed = []
    real = registry.parse_args
    monkeypatch.setattr(registry, "parse_args", lambda a: parsed.append(real(a)) or parsed[-1])
    inputs = (
        np.arange(48, dtype=np.float32).reshape(4, 4, 3),
        np.arange(48, dtype=np.uint8).reshape(4, 4, 1, 3),
    )
    ran = 0
    for cmd in list_commands():
        op = registry.compile_op(cmd, argstr)
        for arr in inputs:
            try:
                op(arr, {})
                ran += 1
            except (ValueError, TypeError, IndexError, KeyError):
                pass  # an op may reject a shape; only its args matter here
        assert parsed[-1] == real(argstr), cmd
    assert ran >= len(list_commands())


@pytest.mark.parametrize(
    "first",
    [
        "registry",
        "kernels.core",
        "kernels.filters",
        "kernels.geometry",
        "kernels.menu",
        "kernels.particles",
        "operators.images",
        "functions.sql",
    ],
)
def test_menu_loads_whatever_module_a_process_imports_first(first):
    """The kernel menu loads once per process on first lookup; a fresh
    process that imports any engine module first sees every command."""
    import subprocess
    import sys

    from .conftest import REPO

    code = (
        f"import spark_ij_spark.{first}\n"
        "from spark_ij_spark.registry import list_commands\n"
        "print('\\n'.join(list_commands()))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split("\n")[:-1] == list_commands()


def test_python_workers_skip_zip_index_rereads(spark):
    """Every pandas-UDF task starts with importlib.invalidate_caches();
    on CPython < 3.12 that re-parsed pyspark.zip and the Spark jar in
    every worker task (150-210 ms on a 4-core box). Once a worker has
    imported the engine, as every engine UDF does, the call must be
    cheap. The first call in a fresh worker may still re-read each
    archive once, so the body makes one untimed call first."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def invalidate_ms(ids: pd.Series) -> pd.Series:
        import importlib
        import time

        import spark_ij_spark.registry  # noqa: F401

        importlib.invalidate_caches()
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return pd.Series([(time.perf_counter() - t0) * 1e3] * len(ids))

    rows = (
        spark.range(0, 64, 1, numPartitions=8)
        .select(F.spark_partition_id().alias("p"), invalidate_ms("id").alias("ms"))
        .groupBy("p")
        .agg(F.max("ms").alias("ms"))
        .collect()
    )
    ms = sorted(r["ms"] for r in rows)
    assert len(ms) == 8
    assert ms[len(ms) // 2] < 20.0, f"invalidate_caches() ms per task: {ms}"


def test_workers_fork_from_the_engine_daemon(spark):
    """get_spark sessions fork every Python worker from
    spark_ij_spark.worker_daemon, which has imported the engine, stamped
    the zip import indexes and frozen its GC heap, and runs the driver's
    own installed pyspark rather than $SPARK_HOME's pyspark.zip. The UDF
    here names no engine module, so it is pickled by value and imports
    nothing of the engine itself: whatever the worker holds came from
    the daemon."""
    import pyspark
    from pyspark.sql import functions as F

    @F.pandas_udf(
        "engine boolean, frozen boolean, stamped boolean, pyspark string, version string"
    )
    def probe(ids: pd.Series) -> pd.DataFrame:
        import gc
        import sys
        import zipimport

        import pyspark

        return pd.DataFrame(
            {
                "engine": "spark_ij_spark.operators.images" in sys.modules,
                "frozen": gc.get_freeze_count() > 0,
                # CPython >= 3.12 reads zip indexes lazily; nothing to stamp
                "stamped": getattr(zipimport, "_spark_ij_stamped", False)
                or sys.version_info >= (3, 12),
                "pyspark": pyspark.__file__,
                "version": pyspark.__version__,
            },
            index=ids.index,
        )

    rows = spark.range(0, 32, 1, numPartitions=4).select(probe("id").alias("p")).collect()
    assert len(rows) == 32
    want = (True, True, True, pyspark.__file__, spark.version)
    assert all(tuple(r["p"]) == want for r in rows), {tuple(r["p"]) for r in rows}
