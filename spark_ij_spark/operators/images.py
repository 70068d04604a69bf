"""DataFrame-level image operators — the rebuild of the reference's
RDD combinator surface (scOps.scala) as idiomatic PySpark.

Reference shape: ``RDD[(String, PortableImagePlus)]`` with implicit
combinators (runAll, getStatistics, runRange...). Rebuild: a DataFrame
with ``sample: string, image: struct`` columns; every combinator is a
column expression over Arrow pandas UDFs, so Catalyst fuses chains of
ops into single stages and the whole pipeline stays embarrassingly
parallel (the reference's own operators induce no shuffles either —
SURVEY.md §3.2).

Scale notes: image payloads ride inside Arrow batches; batch size is
bounded by spark.sql.execution.arrow.maxRecordsPerBatch — for 100 TB of
large images, lower that (or repartition by bytes) so a batch fits in
worker memory. No driver-side collect anywhere (the reference's
driver-side filename collect, scOps.scala:78-80, is not carried over).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_ij_spark import lineage
from spark_ij_spark.datamodel import (
    HIST_SCHEMA,
    IMAGE_SCHEMA,
    NULL_IMAGE,
    STATS_SCHEMA,
    TABLE_SCHEMA,
    image_frame,
    image_to_np,
    is_null_image,
    log_of,
    map_images,
    meta_of,
    np_to_image,
    stats_of_rows,
)
from spark_ij_spark.kernels.histogram import histogram
from spark_ij_spark.registry import compile_op

# ---------------------------------------------------------------------------
# sources (reference: scOps.scala:63-73 createEmptyImages)
# ---------------------------------------------------------------------------


def create_empty_images(
    spark: SparkSession,
    prefix: str,
    imgs: int,
    width: int,
    height: int,
    value_fn: Callable[[int], float] | None = None,
    dtype: str = "float32",
    slices: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Synthetic image table: ``imgs`` constant-valued images keyed
    ``prefix + i``. Distributed via spark.range → mapInPandas (images are
    materialized on executors, never on the driver)."""
    value_fn = value_fn or (lambda i: 0.0)

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                arr = np.full((height, width, slices), value_fn(i), dtype=dtype)
                img = np_to_image(
                    arr,
                    log=[
                        lineage.log_entry(
                            lineage.OP_CREATE,
                            "createEmptyImages",
                            [prefix, str(width), str(height)],
                        )
                    ],
                )
                rows.append({"sample": f"{prefix}{i}", "image": img})
            yield pd.DataFrame(rows)

    out_schema = StructType(
        [StructField("sample", StringType()), StructField("image", IMAGE_SCHEMA)]
    )
    rng = spark.range(imgs, numPartitions=partitions or min(imgs, 32))
    return rng.mapInPandas(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# the per-row engine: run_all, run_with_table, the sweep and the SQL
# UDFs all run their rows through these functions
# ---------------------------------------------------------------------------


def run_op_rows(
    img_frame: pd.DataFrame, chains: Iterable[Iterable[tuple[str, str]]]
) -> tuple[list[dict], list[dict | None]]:
    """Run row i's ``(cmd, args)`` chain, in order, on image i — the
    reference's PortableImagePlus.run, which appends to the image's
    ImageLog. Meta is shared through the chain, so what a stateful op
    stashes (setThreshold, LUTs) reaches the next op and the output.
    Each op appends one RUN entry.

    Each distinct chain is compiled (``registry.compile_op``, plus its
    RUN entries) the first time a non-NULL row needs it, and reused for
    the rest of the batch; per row only the kernels run.

    Returns the output image dicts and, per row, the last op's results
    table as ``{column: [float]}`` (``{}`` if it gave none). A NULL
    image passes through as the NULL image with a NULL table."""
    compiled: dict[tuple, tuple[list[Callable], list[dict]]] = {}

    def run_chain(r, chain):
        key = tuple((str(cmd), str(args or "")) for cmd, args in chain)
        if key not in compiled:
            compiled[key] = (
                [compile_op(cmd, args) for cmd, args in key],
                [lineage.log_entry(lineage.OP_RUN, cmd, [args]) for cmd, args in key],
            )
        ops, entries = compiled[key]
        arr, meta, table = image_to_np(r), meta_of(r), None
        for op in ops:
            arr, table = op(arr, meta)
        table = {k: [float(x) for x in v] for k, v in (table or {}).items()}
        return np_to_image(arr, meta=meta, log=[*log_of(r), *entries]), table

    pairs = map_images(run_chain, img_frame, args=(chains,), null=(NULL_IMAGE, None))
    return [p[0] for p in pairs], [p[1] for p in pairs]


STATS_STACK_BYTES = 4 << 20


def stats_rows(data: Iterable, dtype: Iterable) -> list[dict[str, float] | None]:
    """min/mean/stdDev/max/pts per image from its pixel bytes and dtype
    (reference: getImageStatistics, PortableImagePlus.scala:143-146,
    which delegates to ImageJ's ImageStatistics — SAMPLE stddev, n−1
    denominator); None for a NULL image.

    Rows of one (dtype, byte length) are stacked into 2-D float64
    arrays of at most ``STATS_STACK_BYTES`` (or one image, if larger)
    and reduced by ``stats_of_rows``: a batch of 10,000 images of 1-7
    pixels is one numpy call, not 10,000, and a worker holds one stack,
    not the batch, whatever ``maxRecordsPerBatch`` is."""
    data, dtype = list(data), [str(t) for t in dtype]
    groups: dict[tuple[str, int], list[int]] = {}
    for i, (d, t) in enumerate(zip(data, dtype)):
        if d is not None:
            groups.setdefault((t, len(d)), []).append(i)
    out: list[dict[str, float] | None] = [None] * len(data)
    for (t, nbytes), rows in groups.items():
        n = nbytes // np.dtype(t).itemsize
        step = max(1, STATS_STACK_BYTES // (8 * max(n, 1)))
        for k in range(0, len(rows), step):
            part = rows[k : k + step]
            a = np.frombuffer(b"".join([data[i] for i in part]), t).reshape(len(part), n)
            for i, s in zip(part, stats_of_rows(a.astype("float64"))):
                out[i] = s
    return out


def hist_rows(
    data: Iterable,
    dtype: Iterable,
    ranges: Iterable[tuple[float, float] | None],
    bins: Iterable[int],
) -> pd.DataFrame:
    """HIST_SCHEMA frame: row i's histogram of its pixel bytes over
    ``ranges[i]`` (None: auto-ranged) with ``bins[i]`` bins; NULL for a
    NULL image. ``histogram`` ravels, so the shape is never needed."""
    fields = HIST_SCHEMA.fieldNames()

    def hist(d, t, value_range, n):
        if d is None:
            return dict.fromkeys(fields)
        centers, counts = histogram(np.frombuffer(d, dtype=str(t)), value_range, int(n))
        return {"bin_centers": centers.tolist(), "bin_counts": counts.tolist()}

    return pd.DataFrame(map(hist, data, dtype, ranges, bins), columns=fields)


# binary (two-image) ops (reference: PortableImagePlus.scala:217-270).
# append keeps numpy's promoted dtype, so a mixed-dtype append never
# wraps the second parent's pixels into the first parent's dtype.
_BINARY_KERNELS = {
    "subtract": lambda a, b: a.astype("float64") - b.astype("float64"),
    "average": lambda a, b: (a.astype("float64") + b.astype("float64")) / 2.0,
    "add": lambda a, b: a.astype("float64") + b.astype("float64"),
    "append": lambda a, b: np.concatenate([a, b], axis=2),
}


def combine_rows(a: pd.DataFrame, b: pd.DataFrame, how: str) -> list[dict]:
    """Pixel-wise binary op per row pair; the lineage logs of both
    parents merge into one nested MERGE entry (ImagePlusIO.scala:175-183
    semantics). A NULL parent gives the NULL image."""
    kern = _BINARY_KERNELS[how]

    def combine(ra, rb):
        arr = kern(image_to_np(ra), image_to_np(rb))
        log = lineage.merge_logs(log_of(ra), log_of(rb), how)
        return np_to_image(arr, meta=meta_of(ra), log=log)

    return map_images(combine, a, b, null=NULL_IMAGE)


# ---------------------------------------------------------------------------
# per-row op application (reference: scOps.scala:192-198 runAll)
# ---------------------------------------------------------------------------


def run_image_ops(
    image_col: str | Column, ops: list[tuple[str, str]]
) -> Column:
    """Fused op chain: apply registry ops IN SEQUENCE inside ONE Arrow
    pandas-UDF hop (SURVEY §4.2 op-fusion). Chained single-op UDFs are
    dependent Python UDFs, which Spark plans as one ArrowEvalPython
    node PER op — each paying a full image-struct serialize/deserialize
    round trip. Fusing keeps the ndarray in Python between ops, so a
    k-op chain costs one round trip instead of k. Lineage is appended
    per op, identical to running the ops separately."""
    ops = list(ops)

    @F.pandas_udf(IMAGE_SCHEMA)
    def _udf(img: pd.DataFrame) -> pd.DataFrame:
        return image_frame(run_op_rows(img, repeat(ops))[0])

    return _udf(image_col)


def run_all(
    df: DataFrame,
    cmd: str | list[tuple[str, str]],
    args: str = "",
    image_col: str = "image",
) -> DataFrame:
    """Map a named op over every row (the reference's runAll). Pass a
    list of ``(cmd, args)`` pairs to run a fused chain in one Arrow
    hop (see run_image_ops)."""
    ops = cmd if isinstance(cmd, list) else [(cmd, args)]
    return df.withColumn(image_col, run_image_ops(image_col, ops))


def run_with_table(
    df: DataFrame, cmd: str, args: str = "", image_col: str = "image"
) -> DataFrame:
    """Run op and keep (image, results-table) — reference runWithTable
    (PortableImagePlus.scala:130-136). Table is a per-row functional
    value, NOT process-global state (risk §7.3-3 of SURVEY.md)."""
    pair_schema = StructType(
        [StructField("image", IMAGE_SCHEMA), StructField("table", TABLE_SCHEMA)]
    )

    @F.pandas_udf(pair_schema)
    def _udf(img: pd.DataFrame) -> pd.DataFrame:
        images, tables = run_op_rows(img, repeat([(cmd, args)]))
        return pd.DataFrame({"image": images, "table": tables})

    tmp = df.withColumn("_pair", _udf(image_col))
    return tmp.withColumn(image_col, F.col("_pair.image")).withColumn(
        "table", F.col("_pair.table")
    ).drop("_pair")


# ---------------------------------------------------------------------------
# per-image reductions and binary ops as columns
# ---------------------------------------------------------------------------


def _pixel_fields(image_col: str | Column) -> tuple[Column, Column]:
    """The image's ``data`` and ``dtype`` fields, all a reduction reads,
    as two UDF arguments (never re-wrapped in a struct): a field read
    off an op UDF's output keeps Spark from chaining the op into the
    reduction's Python node, where it would run once per consumer."""
    col = F.col(image_col) if isinstance(image_col, str) else image_col
    return col["data"], col["dtype"]


def image_stats(image_col: str | Column) -> Column:
    """min/mean/stdDev/max/pts struct column (see stats_rows)."""

    @F.pandas_udf(STATS_SCHEMA)
    def _udf(data: pd.Series, dtype: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [s or {} for s in stats_rows(data, dtype)], columns=STATS_SCHEMA.fieldNames()
        )

    return _udf(*_pixel_fields(image_col))


def get_statistics(df: DataFrame, image_col: str = "image") -> DataFrame:
    return df.withColumn("stats", image_stats(image_col))


def image_histogram(
    image_col: str | Column,
    value_range: tuple[float, float] | None = None,
    bins: int = 256,
) -> Column:
    """Histogram struct column (hist/hist3 SQL surface; see hist_rows)."""

    @F.pandas_udf(HIST_SCHEMA)
    def _udf(data: pd.Series, dtype: pd.Series) -> pd.DataFrame:
        return hist_rows(data, dtype, repeat(value_range), repeat(bins))

    return _udf(*_pixel_fields(image_col))


def combine_images(a_col: str | Column, b_col: str | Column, how: str) -> Column:
    """Pixel-wise binary op column (see combine_rows)."""
    if how not in _BINARY_KERNELS:
        raise KeyError(how)

    @F.pandas_udf(IMAGE_SCHEMA)
    def _udf(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        return image_frame(combine_rows(a, b, how))

    return _udf(a_col, b_col)


# ---------------------------------------------------------------------------
# pixel explode — images as relational data (enables SQL/DuckDB oracles)
# ---------------------------------------------------------------------------

_PIXEL_SCHEMA = StructType(
    [
        StructField("sample", StringType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("z", IntegerType()),
        StructField("value", DoubleType()),
    ]
)


def processor_for_each(
    image_col: str | Column,
    slice_fn: Callable[[np.ndarray], np.ndarray],
    op_label: str = "processorForEach",
) -> Column:
    """Apply a 2-D kernel to every slice of a 3-D stack independently
    (PortableImagePlus.scala:163-180), appending one lineage entry.

    ``slice_fn`` receives [h][w] and returns [h][w]; slices are
    re-stacked on axis 2 (RGB images iterate per slice AND channel via
    the shared 4D-aware helper — a bare ``arr[:, :, k]`` on a 4D image
    handed [h][w][3] planes to the 2-D kernel). Runs batch-at-a-time
    in the pandas UDF, so per-slice Python overhead is amortized
    across the Arrow batch.
    """
    from spark_ij_spark.kernels.filters import _per_slice

    def proc(r):
        out = _per_slice(image_to_np(r), slice_fn)
        log = [*log_of(r), lineage.log_entry("PROC", op_label)]
        return np_to_image(out, meta=meta_of(r), log=log)

    @F.pandas_udf(IMAGE_SCHEMA)
    def _udf(img: pd.DataFrame) -> pd.DataFrame:
        return image_frame(map_images(proc, img, null=NULL_IMAGE))

    col = F.col(image_col) if isinstance(image_col, str) else image_col
    return _udf(col)


def explode_pixels(df: DataFrame, image_col: str = "image", sample_col: str = "sample") -> DataFrame:
    """Flatten images into (sample, y, x, z, value) rows — the relational
    view of pixel data (`toarray` SQL surface made queryable). A NULL
    image gives no rows."""

    def gen(batches):
        # accumulate numpy arrays per batch and concatenate ONCE — the
        # per-pixel list extends this replaces boxed ~5 Python objects
        # per pixel before pandas re-converted them to Arrow (CLAUDE.md:
        # vectorize per Arrow batch, not per row/image)
        for pdf in batches:
            samples, ys, xs, zs, vs = [], [], [], [], []
            pairs = map_images(
                lambda img, sample: (sample, image_to_np(img)),
                pdf[image_col],
                args=(pdf[sample_col],),
            )
            for sample, arr in filter(None, pairs):
                if arr.ndim == 4:
                    arr = arr[..., 0]
                h, w, s = arr.shape
                yy, xx, zz = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(s), indexing="ij"
                )
                samples.append(np.repeat(np.asarray([sample]), arr.size))
                ys.append(yy.ravel())
                xs.append(xx.ravel())
                zs.append(zz.ravel())
                vs.append(arr.astype("float64").ravel())
            if not samples:
                continue
            yield pd.DataFrame(
                {
                    "sample": np.concatenate(samples),
                    "y": np.concatenate(ys),
                    "x": np.concatenate(xs),
                    "z": np.concatenate(zs),
                    "value": np.concatenate(vs),
                }
            )

    return df.select(sample_col, image_col).mapInPandas(gen, schema=_PIXEL_SCHEMA)


def reduce_images(
    df: DataFrame, key_col: str, how: str = "average", image_col: str = "image"
) -> DataFrame:
    """groupBy(key).applyInPandas reduce of same-shape images — the
    group form of the pairwise `average`/`subtract` ops (SURVEY §2.6;
    reference pairwise average `PortableImagePlus.scala:217-232`).

    ``how``: average | sum | min | max. The result image is float64 so
    integral pixel sums stay exact (order-independent) regardless of
    the reduction tree — required for oracle-grade determinism.

    Map-side combine: a ``mapInPandas`` pass partial-reduces each Arrow
    batch in place (per group within the batch), so the only thing that
    ever shuffles is one partial image per (batch, group) — the full
    pixel payload never crosses the wire. This is the aggregation shape
    a groupBy gets for free from Catalyst, hand-built here because the
    combine runs in numpy. It also dissolves the low-cardinality-key
    straggler problem (7 width classes here) without salting: partials
    parallelize with the input partitioning, and the final per-key
    merge touches only batch-count-sized data. Average carries (sum, n)
    through the tree so the merge is associative.

    NULL images are skipped the way SQL aggregates skip NULLs; a group
    whose images are all NULL yields ``NULL_IMAGE``."""
    if how not in ("average", "sum", "min", "max"):
        raise ValueError(f"unknown reduction {how!r}")
    out_schema = StructType(
        [StructField("group_key", StringType()), StructField("image", IMAGE_SCHEMA)]
    )
    # Both Python hops move FLAT columns (binary payload + shape), not
    # the nested image struct — struct<binary,...> → Python conversion
    # dominates the hop cost otherwise (same projection the histogram /
    # particles hot paths use). meta/log are rebuilt at the end.
    partial_schema = StructType(
        [
            StructField("group_key", StringType()),
            StructField("n", LongType()),
            StructField("data", BinaryType()),
            StructField("shape", ArrayType(IntegerType())),
        ]
    )
    from spark_ij_spark.datamodel import DEFAULT_META

    def _pack(out: np.ndarray, n: int) -> dict:
        return {
            "data": np.ascontiguousarray(out).tobytes(),
            "dtype": "float64",
            "shape": [int(s) for s in out.shape],
            "meta": dict(DEFAULT_META),
            "log": [
                lineage.log_entry(
                    lineage.OP_MERGE, f"reduce_images:{how}", [str(n)]
                )
            ],
        }

    def _combine(arrs: np.ndarray) -> np.ndarray:
        return arrs.sum(axis=0) if how in ("average", "sum") else (
            arrs.min(axis=0) if how == "min" else arrs.max(axis=0)
        )

    def partial(batches):
        for pdf in batches:
            rows = []
            for gk, sub in pdf.groupby("group_key", sort=False):
                sub = sub[sub["data"].notna()]
                if sub.empty:  # keeps the all-NULL group alive
                    rows.append({"group_key": gk, "n": 0, "data": None, "shape": None})
                    continue
                arrs = np.stack(
                    [
                        np.frombuffer(d, dtype=dt).reshape(list(sh)).astype("float64")
                        for d, dt, sh in zip(sub["data"], sub["dtype"], sub["shape"])
                    ]
                )
                out = _combine(arrs)
                rows.append(
                    {
                        "group_key": gk,
                        "n": len(arrs),
                        "data": np.ascontiguousarray(out).tobytes(),
                        "shape": [int(s) for s in out.shape],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        gk = str(pdf["group_key"].iloc[0])
        pdf = pdf[pdf["n"] > 0]
        if pdf.empty:
            return pd.DataFrame([{"group_key": gk, "image": NULL_IMAGE}])
        arrs = np.stack(
            [
                np.frombuffer(d, dtype="float64").reshape(list(sh))
                for d, sh in zip(pdf["data"], pdf["shape"])
            ]
        )
        n = int(pdf["n"].sum())
        out = _combine(arrs)
        if how == "average":
            out = out / n
        return pd.DataFrame([{"group_key": gk, "image": _pack(out, n)}])

    flat = df.select(
        F.col(key_col).cast("string").alias("group_key"),
        F.col(f"{image_col}.data").alias("data"),
        F.col(f"{image_col}.dtype").alias("dtype"),
        F.col(f"{image_col}.shape").alias("shape"),
    )
    partials = flat.mapInPandas(partial, schema=partial_schema)
    return partials.groupBy("group_key").applyInPandas(final, schema=out_schema)


# ---------------------------------------------------------------------------
# grouped stack assembly (reference: Spiji.java:769-792 via groupBy)
# ---------------------------------------------------------------------------


def assemble_stacks(
    df: DataFrame, key_col: str, image_col: str = "image", order_col: str = "sample"
) -> DataFrame:
    """groupBy(key).applyInPandas: concatenate each group's images into
    one stack along the slice axis (deterministic order by order_col).
    NULL images are skipped like NULLs in a SQL aggregate; a group whose
    images are all NULL yields ``NULL_IMAGE``."""
    out_schema = StructType(
        [StructField("sample", StringType()), StructField("image", IMAGE_SCHEMA)]
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        key = str(pdf[key_col].iloc[0])
        imgs = [i for i in pdf.sort_values(order_col)[image_col] if not is_null_image(i)]
        if not imgs:
            return pd.DataFrame([{"sample": key, "image": NULL_IMAGE}])
        img = np_to_image(
            np.concatenate([image_to_np(i) for i in imgs], axis=2),
            meta=meta_of(imgs[0]),
            log=[lineage.log_entry(lineage.OP_MERGE, "assemble_stacks", [str(len(imgs))])],
        )
        return pd.DataFrame([{"sample": key, "image": img}])

    return df.groupBy(key_col).applyInPandas(build, schema=out_schema)
