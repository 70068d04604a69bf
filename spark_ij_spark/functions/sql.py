"""SQL scalar-function surface: the reference's UDF names registered
against the image struct column.

Mirrors ``SQLFunctions.registerImageJ`` (reference:
SQLFunctions.scala:196-223) and the debug extras (:277-285); session
wiring analog of ``ss.registerImageJ`` (scOps.scala:349-366). All UDFs
are Arrow pandas UDFs (vectorized batches), replacing the reference's
per-row Scala UDFs over Java-serialized blobs (PipUDT.scala:57-69) —
and removing its per-JVM mutable current-image slot entirely
(each Python worker is isolated; SURVEY.md §3.1).

Usage::

    register_imagej(spark)
    spark.sql("SELECT sample, stats(run(image, 'Add Noise')) FROM Images")
"""

from __future__ import annotations

import json
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
)

from spark_ij_spark import lineage
from spark_ij_spark.datamodel import (
    HIST_SCHEMA,
    IMAGE_SCHEMA,
    NULL_IMAGE,
    TABLE_SCHEMA,
    format_calibration,
    format_metadata,
    image_frame,
    image_to_np,
    log_of,
    map_images,
    meta_of,
    np_to_image,
    stats_of_values,
)
from spark_ij_spark.kernels.histogram import hist_distance, histogram
from spark_ij_spark.operators.images import (
    combine_rows,
    hist_rows,
    run_op_rows,
    stats_rows,
)
from spark_ij_spark.registry import list_commands


def _chains(cmds, argss):
    """Row i's one-op chain ``[(cmds[i], argss[i])]`` for the engine."""
    return ([(c, a)] for c, a in zip(cmds, argss))


def register_imagej(spark: SparkSession) -> None:
    """Register the full §2.5 UDF surface under the reference's names.

    Every UDF that reads an image gives NULL for a NULL image
    (``datamodel.map_images``).

    CAUTION — name shadowing: the reference's names include ``mean``,
    ``shape``, ``scale``, ``subtract``, ``run``, ``hist``; temporary
    functions take precedence over Spark built-ins SESSION-WIDE, so
    after this call a SQL-text query using e.g. ``mean(col)`` resolves
    to the image UDF, not the aggregate. Keeping the names is the
    reference-parity contract (SQLFunctions.scala names); graded
    queries therefore never use these identifiers in SQL text (use
    ``avg``, ``array_size``, ...), and new SQL-text queries must not
    either."""

    @F.pandas_udf(IMAGE_SCHEMA)
    def run(img: pd.DataFrame, cmd: pd.Series) -> pd.DataFrame:  # SQLFunctions.scala:41
        return image_frame(run_op_rows(img, _chains(cmd, repeat("")))[0])

    @F.pandas_udf(IMAGE_SCHEMA)
    def run2(img: pd.DataFrame, cmd: pd.Series, args: pd.Series) -> pd.DataFrame:  # :32
        return image_frame(run_op_rows(img, _chains(cmd, args))[0])

    @F.pandas_udf(TABLE_SCHEMA)
    def runtable(img: pd.DataFrame, cmd: pd.Series, args: pd.Series) -> pd.Series:  # :51-52
        return pd.Series(run_op_rows(img, _chains(cmd, args))[1])

    runmap = runtable  # table-as-map is the same wire shape (:62-65)

    @F.pandas_udf(MapType(StringType(), DoubleType()))
    def runrow(img: pd.DataFrame, cmd: pd.Series, args: pd.Series) -> pd.Series:  # :75-77
        return pd.Series(
            [
                None if t is None else {k: v[0] for k, v in t.items() if v}
                for t in run_op_rows(img, _chains(cmd, args))[1]
            ]
        )

    @F.pandas_udf(MapType(StringType(), DoubleType()))
    def stats(img: pd.DataFrame) -> pd.Series:  # :86-87
        return pd.Series(stats_rows(img["data"], img["dtype"]))

    @F.pandas_udf(StringType())
    def strstats(img: pd.DataFrame) -> pd.Series:  # :204
        return pd.Series(
            [
                None if s is None else json.dumps(s, sort_keys=True)
                for s in stats_rows(img["data"], img["dtype"])
            ]
        )

    @F.pandas_udf(DoubleType())
    def mean(img: pd.DataFrame) -> pd.Series:  # :96
        return pd.Series(
            [None if s is None else s["mean"] for s in stats_rows(img["data"], img["dtype"])],
            dtype="float64",
        )

    @F.pandas_udf(StringType())
    def shape(img: pd.DataFrame) -> pd.Series:  # :106 (particle analysis stringified)
        _, tables = run_op_rows(img, repeat([("Analyze Particles...", "")]))
        return pd.Series(
            [None if t is None else json.dumps(t, sort_keys=True) for t in tables]
        )

    @F.pandas_udf(IntegerType())
    def nslices(img: pd.DataFrame) -> pd.Series:  # :141
        return pd.Series(map_images(lambda r: int(list(r.shape)[2]), img), dtype="Int32")

    @F.pandas_udf(IMAGE_SCHEMA)
    def subtract(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:  # :116
        return image_frame(combine_rows(a, b, "subtract"))

    @F.pandas_udf(IMAGE_SCHEMA)
    def scale(img: pd.DataFrame, k: pd.Series) -> pd.DataFrame:  # :125
        def scaled(r, ki):
            arr = image_to_np(r).astype("float64") * float(ki)
            log = [*log_of(r), lineage.log_entry(lineage.OP_RUN, "scale", [str(ki)])]
            return np_to_image(arr, meta=meta_of(r), log=log)

        return image_frame(map_images(scaled, img, args=(k,), null=NULL_IMAGE))

    @F.pandas_udf(ArrayType(ArrayType(ArrayType(DoubleType()))))
    def toarray(img: pd.DataFrame) -> pd.Series:  # :176-184
        def nested(r):
            a = image_to_np(r)
            if a.ndim == 4:  # RGB: first channel only (reference behavior)
                a = a[..., 0]
            return a.astype("float64").tolist()

        return pd.Series(map_images(nested, img))

    @F.pandas_udf(HIST_SCHEMA)
    def hist(img: pd.DataFrame) -> pd.DataFrame:  # :133 (auto-ranged)
        return hist_rows(img["data"], img["dtype"], repeat(None), repeat(256))

    @F.pandas_udf(HIST_SCHEMA)
    def hist3(
        img: pd.DataFrame, mn: pd.Series, mx: pd.Series, bins: pd.Series
    ) -> pd.DataFrame:  # :152-157
        return hist_rows(img["data"], img["dtype"], zip(mn, mx), bins)

    @F.pandas_udf(DoubleType())
    def hist_compare(a: pd.DataFrame, b: pd.DataFrame) -> pd.Series:  # :166-167
        def distance(ra, rb):
            ca, na = histogram(image_to_np(ra), None, 256)
            cb, nb = histogram(image_to_np(rb), None, 256)
            return hist_distance(ca, na, cb, nb)

        return pd.Series(map_images(distance, a, b), dtype="float64")

    @F.pandas_udf(StringType())
    def tostring(v: pd.Series) -> pd.Series:  # :233 (JDBC escape hatch)
        # propagate SQL NULL: str(None)/str(nan)/str(NaT) would emit
        # the literal text 'None'/'nan'/'NaT' as a NON-null string,
        # making `tostring(col) IS NULL` always false downstream.
        # pd.isna covers None, float NaN, AND pd.NaT (null timestamps
        # arrive as NaT through Arrow); the isinstance
        # guard keeps array-valued cells (where isna is elementwise)
        # on the str() path.
        def conv(x):
            if not isinstance(x, (list, tuple, np.ndarray, dict)) and pd.isna(x):
                return None
            return str(x)

        return v.map(conv)

    @F.pandas_udf(ArrayType(DoubleType()))
    def fromtable(tbl: pd.Series, col: pd.Series) -> pd.Series:  # :260-261
        out = []
        for t, c in zip(tbl, col):
            if t is None:
                out.append([])
            else:
                v = t.get(str(c))
                out.append([] if v is None else [float(x) for x in v])
        return pd.Series(out)

    @F.pandas_udf(StringType())
    def showcalibration(img: pd.DataFrame) -> pd.Series:  # :241-244
        return pd.Series(map_images(lambda r: format_calibration(meta_of(r)), img))

    @F.pandas_udf(StringType())
    def showmetadata(img: pd.DataFrame) -> pd.Series:  # :246-249
        return pd.Series(map_images(lambda r: format_metadata(r._asdict()), img))

    # --- ROI surface (Spiji.java:515-613) ---
    from spark_ij_spark.kernels import roi as roik

    @F.pandas_udf(IMAGE_SCHEMA)
    def setroi(
        img: pd.DataFrame, rtype: pd.Series, xs: pd.Series, ys: pd.Series
    ) -> pd.DataFrame:
        def with_roi(r, rt, x, y):
            meta = meta_of(r)
            meta["info"] = roik.set_roi(meta.get("info", ""), list(x), list(y), str(rt))
            log = [*log_of(r), lineage.log_entry("ROI", str(rt))]
            return np_to_image(image_to_np(r), meta=meta, log=log)

        return image_frame(
            map_images(with_roi, img, args=(rtype, xs, ys), null=NULL_IMAGE)
        )

    @F.pandas_udf(StringType())
    def getroi(img: pd.DataFrame, cal: pd.Series) -> pd.Series:
        def roi_json(r, calibrated):
            meta = meta_of(r)
            roi = roik.get_roi(meta.get("info", ""), meta, calibrated=bool(calibrated))
            return json.dumps(roi) if roi else None

        return pd.Series(map_images(roi_json, img, args=(cal,)))

    @F.pandas_udf(MapType(StringType(), DoubleType()))
    def roistats(img: pd.DataFrame) -> pd.Series:
        def measure(r):
            meta = meta_of(r)
            roi = roik.get_roi(meta.get("info", ""), meta)
            if roi is None:
                # no ROI → whole image
                return stats_of_values(image_to_np(r).astype("float64"))
            return roik.roi_measure(image_to_np(r), roi)

        return pd.Series(map_images(measure, img))

    @F.pandas_udf(IMAGE_SCHEMA)
    def makeimage(arr: pd.Series) -> pd.DataFrame:
        """array<array<array<double>>> → image (inverse of toarray;
        the reference's createImage ingest, Spiji.java:955-1205, with
        the same double→float32 downcast rule). A NULL array gives the
        NULL image."""
        return image_frame(
            [
                NULL_IMAGE
                if a is None
                else np_to_image(
                    np.asarray([[list(col) for col in row] for row in a], dtype="float64")
                )
                for a in arr
            ]
        )

    spark.udf.register("makeimage", makeimage)
    spark.udf.register("setroi", setroi)
    spark.udf.register("getroi", getroi)
    spark.udf.register("roistats", roistats)

    spark.udf.register("run", run)
    spark.udf.register("run2", run2)
    spark.udf.register("runtable", runtable)
    spark.udf.register("runmap", runmap)
    spark.udf.register("runrow", runrow)
    spark.udf.register("stats", stats)
    spark.udf.register("strstats", strstats)
    spark.udf.register("mean", mean)
    spark.udf.register("shape", shape)
    spark.udf.register("nslices", nslices)
    spark.udf.register("subtract", subtract)
    spark.udf.register("scale", scale)
    spark.udf.register("toarray", toarray)
    spark.udf.register("hist", hist)
    spark.udf.register("hist3", hist3)
    spark.udf.register("hist_compare", hist_compare)
    spark.udf.register("tostring", tostring)
    spark.udf.register("fromtable", fromtable)
    spark.udf.register("showcalibration", showcalibration)
    spark.udf.register("showmetadata", showmetadata)

    # registry listings (:264-268); plain UDFs — trivially cheap
    cmds = list_commands()
    spark.udf.register("listplugins", lambda: cmds, ArrayType(StringType()))
    spark.udf.register("listcommands", lambda: cmds, ArrayType(StringType()))
