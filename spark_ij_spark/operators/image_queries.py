"""Oracle-checked image-operator queries.

The reference's core correctness oracle is distributed-equals-local
(SpijiTests.scala:312-343). The driver's analog is the DuckDB hash
match — but DuckDB has no image kernels, so these queries build images
FROM relational data (lineitem quantities grouped per order, ordered by
linenumber) and express the kernel's semantics in ANSI SQL:

- image statistics  ≡ MIN/AVG/MAX/COUNT  (exact: quantities are
  integral doubles, so sums are order-independent)
- scale/subtract    ≡ arithmetic on aggregates
- histogram         ≡ GROUP BY on integer bin centers
- threshold + particle analysis on a 1-pixel-high image ≡
  gaps-and-islands (runs of consecutive qualifying pixels)

This gives every image kernel a hash-checked oracle instead of the
weaker rows-only check.

Scale: one shuffle per query (groupBy l_orderkey → collect_list, then
pandas UDFs over Arrow batches of whole images); each group is tiny
(≤7 lineitems), so skew is impossible and the pattern holds at any SF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from spark_ij_spark.kernels.histogram import histogram
from spark_ij_spark.session import load_tables


def _segments(data: pd.Series, dtype: pd.Series):
    """A batch's flat pixel payload as one array: returns the
    concatenated pixels, each image's pixel count and each image's start
    offset (the ``reduceat`` bounds)."""
    pix = [np.frombuffer(d, dtype=t) for d, t in zip(data, dtype)]
    lens = np.fromiter((len(p) for p in pix), dtype=np.int64, count=len(pix))
    bounds = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return np.concatenate(pix), lens, bounds


def order_quantity_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One [1][n][1] float32 image per order: pixel j = quantity of the
    j-th lineitem (ordered by l_linenumber)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]

    # Grouping + in-group ordering happen JVM-side (collect_list +
    # sort_array with a full tiebreak — l_linenumber is NOT unique per
    # order in the synthetic data); Python only assembles pixel arrays,
    # one Arrow batch at a time. ~100x fewer Python calls than a
    # per-group applyInPandas.
    grouped = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice", "l_partkey")
            )
        ).alias("pix")
    )
    # Flatten to a bare float array JVM-side: Arrow then hands Python
    # contiguous float32 buffers (near zero-copy) instead of lists of
    # structs — the per-element dict access was the build hot spot.
    flat = grouped.select(
        "l_orderkey",
        F.expr("transform(pix, e -> CAST(e.l_quantity AS FLOAT))").alias("q"),
    )

    from spark_ij_spark.datamodel import DEFAULT_META, LOG_ENTRY_SCHEMA

    # Python returns ONLY the packed float32 bytes (one tobytes per
    # order, no per-row dicts, no nested struct through Arrow on the
    # return side); dtype/shape/meta/log are constant JVM-side struct
    # fields (guide §4.2 — shrink what crosses the boundary). Measured
    # (OPTIMIZATION_r12.md, identical results asserted): cold build
    # 1.26 -> 0.98 s at sf0.1; a zero-copy mapInArrow offsets-reslice
    # variant measured 1.10 s and was rejected.
    @F.pandas_udf(BinaryType())
    def pack_pixels(q: pd.Series) -> pd.Series:
        return pd.Series(
            [np.ascontiguousarray(vals, dtype=np.float32).tobytes() for vals in q]
        )

    meta_lit = F.struct(
        *[
            (F.lit(v).cast("double") if isinstance(v, float) else F.lit(v)).alias(k)
            for k, v in DEFAULT_META.items()
        ]
    )
    empty_log = F.expr("array()").cast(ArrayType(LOG_ENTRY_SCHEMA))
    return (
        flat.select(
            "l_orderkey",
            pack_pixels("q").alias("data"),
            F.size("q").alias("n"),
        )
        .select(
            "l_orderkey",
            F.struct(
                F.col("data").alias("data"),
                F.lit("float32").alias("dtype"),
                F.array(F.lit(1), F.col("n"), F.lit(1)).alias("shape"),
                meta_lit.alias("meta"),
                empty_log.alias("log"),
            ).alias("image"),
        )
    )


def q_img_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-statistics kernel (``images.image_stats``) vs SQL
    aggregates per order. The quantities are integral, so the image
    mean's sum is exact in any summation order."""
    from spark_ij_spark.operators.images import image_stats

    imgs = order_quantity_images(spark, sf_dir)
    return imgs.select("l_orderkey", image_stats("image").alias("s")).select(
        "l_orderkey",
        F.col("s.min").alias("min_qty"),
        F.col("s.mean").alias("mean_qty"),
        F.col("s.max").alias("max_qty"),
        F.col("s.pts").cast("bigint").alias("n_pixels"),
    )


Q_IMG_ORDER_STATS_SQL = """
SELECT l_orderkey,
       MIN(l_quantity) AS min_qty,
       SUM(l_quantity) / COUNT(*) AS mean_qty,
       MAX(l_quantity) AS max_qty,
       COUNT(*) AS n_pixels
FROM lineitem
GROUP BY l_orderkey
"""


def q_img_scale_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale(img, 3) − img − img  ⇒ per-order mean equals mean quantity
    (exercises the scale and subtract kernels against an exact oracle)."""
    imgs = order_quantity_images(spark, sf_dir)

    # Same vectorized flat-payload form as q_img_order_stats: the
    # scale/subtract arithmetic is elementwise (bit-identical batched
    # or per-image) and the residuals are integral float32 quantities,
    # so the segmented sum is exact regardless of summation order.
    @F.pandas_udf(DoubleType())
    def pipeline_mean(data: pd.Series, dtype: pd.Series) -> pd.Series:
        if not len(data):
            return pd.Series([], dtype="float64")
        a, lens, bounds = _segments(data, dtype)
        a = a.astype("float64")
        residual = a * 3.0 - a - a
        return pd.Series(np.add.reduceat(residual, bounds) / lens)

    return imgs.select(
        "l_orderkey",
        pipeline_mean(F.col("image.data"), F.col("image.dtype")).alias(
            "residual_mean"
        ),
    )


Q_IMG_SCALE_SUBTRACT_SQL = """
SELECT l_orderkey,
       SUM(l_quantity * 3.0 - l_quantity - l_quantity) / COUNT(*) AS residual_mean
FROM lineitem
GROUP BY l_orderkey
"""


def q_img_quantity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hist3 kernel (fixed range 0..50, 51 integer bin centers) over the
    global quantity distribution vs GROUP BY count."""
    imgs = order_quantity_images(spark, sf_dir)

    hist_schema = StructType(
        [
            StructField("bin_center", DoubleType()),
            StructField("bin_count", LongType()),
        ]
    )

    def to_hist(batches):
        # Histograms are additive, so bin the whole Arrow batch at once
        # (one kernel call per batch instead of one per image — the
        # per-image loop was the entire cost at sf0.1).
        for pdf in batches:
            if not len(pdf):
                continue
            dt = pdf["dtype"].iloc[0]
            allpix = np.concatenate(
                [np.frombuffer(d, dtype=dt) for d in pdf["data"]]
            )
            centers, counts = histogram(allpix, (0.0, 50.0), 51)
            nz = counts > 0
            yield pd.DataFrame(
                {
                    "bin_center": centers[nz],
                    "bin_count": counts[nz].astype("int64"),
                }
            )

    # Project to the raw pixel payload before the Python hop: Arrow
    # moves two flat columns instead of the nested image struct (the
    # struct→Python conversion dominated the runtime), and partial
    # per-batch histograms → final groupBy sum keeps the shuffle at
    # O(bins) — the classic scalable histogram plan.
    flat = imgs.select(
        F.col("image.data").alias("data"), F.col("image.dtype").alias("dtype")
    )
    partial = flat.mapInPandas(to_hist, schema=hist_schema)
    return (
        partial.groupBy("bin_center")
        .agg(F.sum("bin_count").alias("n"))
        .orderBy("bin_center")
    )


Q_IMG_HISTOGRAM_SQL = """
SELECT CAST(l_quantity AS DOUBLE) AS bin_center, COUNT(*) AS n
FROM lineitem
GROUP BY l_quantity
ORDER BY bin_center
"""


def q_img_threshold_particles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyThreshold + Analyze Particles... on 1-D images ≡
    gaps-and-islands: particles are maximal runs of quantity ≥ 25."""
    imgs = order_quantity_images(spark, sf_dir)

    out_schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("n_particles", LongType()),
            StructField("total_area", DoubleType()),
        ]
    )

    def analyze(batches):
        # Vectorized batch form of applyThreshold + analyze_particles
        # for 1-pixel-high images: particles are maximal runs of
        # qualifying pixels, so one boolean pass over the concatenated
        # batch replaces 150k per-image kernel calls. Equivalence with
        # the general kernel is asserted in
        # tests/test_image_queries.py::test_vectorized_particles_equal_kernel.
        for pdf in batches:
            if not len(pdf):
                continue
            allpix, _, bounds = _segments(pdf["data"], pdf["dtype"])
            mask = allpix >= 25.0
            prev = np.concatenate([[False], mask[:-1]])
            prev[bounds] = False  # runs never span image boundaries
            starts = mask & ~prev
            yield pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"].to_numpy(),
                    "n_particles": np.add.reduceat(
                        starts.astype(np.int64), bounds
                    ),
                    "total_area": np.add.reduceat(
                        mask.astype(np.float64), bounds
                    ),
                }
            )

    flat = imgs.select(
        "l_orderkey",
        F.col("image.data").alias("data"),
        F.col("image.dtype").alias("dtype"),
    )
    return flat.mapInPandas(analyze, schema=out_schema)


Q_IMG_PARTICLES_SQL = """
WITH seq AS (
  SELECT l_orderkey, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey) AS rn
  FROM lineitem
), marks AS (
  SELECT l_orderkey,
         CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS f,
         CASE WHEN l_quantity >= 25
              AND COALESCE(LAG(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY rn), -1) < 25
              THEN 1 ELSE 0 END AS island_start
  FROM seq
)
SELECT l_orderkey,
       CAST(SUM(island_start) AS BIGINT) AS n_particles,
       CAST(SUM(f) AS DOUBLE) AS total_area
FROM marks
GROUP BY l_orderkey
"""


def q_img_sweep_multiply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """runRange parameter sweep (scOps.scala:207-224) over order images:
    Multiply value=1..3 in 3 steps fans each image to 3 variants in-stage
    (one constant-folded ``Generate inline``); per-variant mean has an
    exact SQL oracle."""
    from spark_ij_spark.operators.sweep import run_range

    imgs = order_quantity_images(spark, sf_dir).withColumnRenamed(
        "l_orderkey", "sample"
    )

    # Fan out WITHOUT applying the op, then run op + mean fused in ONE
    # Arrow hop (op-fusion): two dependent pandas UDFs would plan as
    # two ArrowEvalPython nodes, serializing every fanned image struct
    # twice — the dominant cost of this query at sf0.1.
    fanned = run_range(
        imgs.withColumn("sample", F.col("sample").cast("string")),
        "Multiply...",
        "value=1",
        "value=3",
        steps=3,
        apply_op=False,
    )

    # One run_op call PER DISTINCT SWEEP ARG per batch over the
    # concatenated pixel payload, not one per image (Multiply is
    # elementwise, so running it on the concatenation of a batch's
    # images is pixel-identical to per-image calls — and the products
    # stay integral in float32, so the segmented means are exact).
    # Flat (data, dtype) inputs per the Arrow-boundary rule.
    @F.pandas_udf(DoubleType())
    def op_mean(data: pd.Series, dtype: pd.Series, args: pd.Series) -> pd.Series:
        from spark_ij_spark.registry import run_op

        if not len(data):
            return pd.Series([], dtype="float64")
        allpix, lens, bounds = _segments(data, dtype)
        arg_arr = args.to_numpy()
        out = np.empty(len(allpix), dtype="float64")
        for a in pd.unique(args):
            sel = np.repeat(arg_arr == a, lens)
            arr, _ = run_op(
                allpix[sel].reshape(1, -1, 1), "Multiply...", str(a or ""), {}
            )
            out[sel] = arr.ravel()
        return pd.Series(np.add.reduceat(out, bounds) / lens)

    return fanned.select(
        F.col("sample").alias("sweep_key"),
        op_mean(
            F.col("image.data"), F.col("image.dtype"), "_sweep_args"
        ).alias("mean_val"),
    )


Q_IMG_SWEEP_SQL = """
SELECT CAST(l_orderkey AS VARCHAR) || '__value_' || CAST(v AS VARCHAR) AS sweep_key,
       SUM(l_quantity * v) / COUNT(*) AS mean_val
FROM lineitem CROSS JOIN (VALUES (1), (2), (3)) AS sweep(v)
GROUP BY l_orderkey, v
"""


def q_img_roi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROI pipeline through the registered SQL surface: setroi attaches
    a RECTANGLE covering the first 3 pixels (x∈[0,3)), roistats measures
    inside it — mean/pts equal the first-3-lineitems aggregate, which
    is the exact SQL oracle. Exercises setroi → roistats composition
    (Spiji.java:515-613) inside Catalyst."""
    from spark_ij_spark.functions.sql import register_imagej

    register_imagej(spark)
    order_quantity_images(spark, sf_dir).createOrReplaceTempView("_roi_imgs")
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(s['pts'] AS BIGINT) AS roi_pts,
               round(s['mean'], 6) AS roi_mean
        FROM (
          SELECT l_orderkey,
                 roistats(setroi(image, 'RECTANGLE',
                                 array(0.0D, 3.0D), array(0.0D, 1.0D))) AS s
          FROM _roi_imgs
        )
        """
    )


Q_IMG_ROI_SQL = """
WITH ordered AS (
  SELECT l_orderkey, l_quantity,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey
         ) AS rn
  FROM lineitem)
SELECT l_orderkey,
       COUNT(*) AS roi_pts,
       round(SUM(l_quantity) / COUNT(*), 6) AS roi_mean
FROM ordered
WHERE rn <= 3
GROUP BY l_orderkey
"""


def q_img_group_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped image reduction (§2.6): average the order images within
    each width class (orders with the same lineitem count), then view
    the mean image relationally — pixel j of the class-n mean equals
    AVG(j-th quantity) over n-lineitem orders, the exact SQL oracle."""
    from spark_ij_spark.operators.images import explode_pixels, reduce_images

    imgs = order_quantity_images(spark, sf_dir).withColumn(
        "n_pixels", F.col("image.shape")[1].cast("string")
    )
    mean_imgs = reduce_images(imgs, "n_pixels", how="average")
    return explode_pixels(mean_imgs, sample_col="group_key").select(
        F.col("sample").cast("long").alias("n_pixels"),
        F.col("x").cast("long").alias("pixel_idx"),
        F.col("value").alias("avg_qty"),
    )


Q_IMG_GROUP_AVG_SQL = """
WITH ordered AS (
  SELECT l_orderkey, l_quantity,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey
         ) AS rn,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem)
SELECT n AS n_pixels, rn - 1 AS pixel_idx,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS STRING) AS DOUBLE) / COUNT(*) AS avg_qty
FROM ordered GROUP BY n, rn
"""


def q_img_lineage_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage contract under op-fusion (SURVEY §1.1; reference
    ImagePlusIO.scala:16-18 attaches an append-only log per image):
    a 3-op fused registry chain (Multiply → Add → Square in ONE Arrow
    hop, operators/images.py run_image_ops) must append one RUN entry
    PER op, identical to running them separately — fusion is a physical
    optimization, not a semantic one.

    The audit itself is pure Catalyst: the log is a real
    ``array<struct>`` column, so entry count, op names, and op args
    are JVM-side expressions over ``image.log`` — lineage at 100 TB is
    queryable without decoding a single pixel. ``chain_mean`` (the
    engine's ``image_stats``) proves the ops actually ran: mean((2q+5)²)
    per order, integer-exact in float32 (values ≤ 11025 < 2²⁴) so the
    SQL oracle matches bit-for-bit."""
    from spark_ij_spark.operators.images import image_stats, run_all

    imgs = order_quantity_images(spark, sf_dir)
    chained = run_all(
        imgs,
        [("Multiply...", "value=2"), ("Add...", "value=5"), ("Square", "")],
    )
    return chained.select(
        "l_orderkey",
        F.expr("CAST(size(image.log) AS INT)").alias("n_ops"),
        F.expr(
            "concat_ws(';', transform(image.log, e -> e.opval))"
        ).alias("op_chain"),
        F.expr(
            "concat_ws(';', transform(image.log, e -> e.optype))"
        ).alias("op_types"),
        image_stats("image")["mean"].alias("chain_mean"),
    )


Q_IMG_LINEAGE_SQL = """
SELECT l_orderkey,
       CAST(3 AS INTEGER) AS n_ops,
       'Multiply...;Add...;Square' AS op_chain,
       'RUN;RUN;RUN' AS op_types,
       SUM((l_quantity * 2 + 5) * (l_quantity * 2 + 5)) / COUNT(*) AS chain_mean
FROM lineitem
GROUP BY l_orderkey
"""


QUERIES = {
    "img_lineage_chain": q_img_lineage_chain,
    "img_order_stats": q_img_order_stats,
    "img_group_average": q_img_group_average,
    "img_roi_stats": q_img_roi_stats,
    "img_sweep_multiply": q_img_sweep_multiply,
    "img_scale_subtract": q_img_scale_subtract,
    "img_quantity_histogram": q_img_quantity_histogram,
    "img_threshold_particles": q_img_threshold_particles,
}

ORACLES = {
    "img_lineage_chain": Q_IMG_LINEAGE_SQL,
    "img_order_stats": Q_IMG_ORDER_STATS_SQL,
    "img_group_average": Q_IMG_GROUP_AVG_SQL,
    "img_roi_stats": Q_IMG_ROI_SQL,
    "img_sweep_multiply": Q_IMG_SWEEP_SQL,
    "img_scale_subtract": Q_IMG_SCALE_SUBTRACT_SQL,
    "img_quantity_histogram": Q_IMG_HISTOGRAM_SQL,
    "img_threshold_particles": Q_IMG_PARTICLES_SQL,
}
