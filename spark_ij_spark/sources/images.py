"""Image sources and sinks.

Rebuild of the reference's IO surface (SURVEY.md §2.1/§2.2):

- ``load_images``       ≡ `loadImages` (scOps.scala:75-97): Spark's
  built-in binaryFile source + per-batch decode pandas UDF — replaces
  the reference's custom Hadoop input format and its driver-side
  filename collect (scOps.scala:78-80), which does not scale.
- ``load_images_locally`` ≡ `loadImagesLocally` (scOps.scala:107-122):
  parallelize a path list, workers open from shared FS.
- ``save_images_local`` ≡ `saveImagesLocal` (scOps.scala:262-271):
  one encoded file per image key, through ``ImageJWriter``'s
  two-phase commit.
- ``save_images_parquet`` ≡ Hadoop byte save (scOps.scala:281-300 +
  ByteOutputFormat.java) — but keyed: (path, bytes) parquet keeps
  names, fixing the reference's documented name-loss caveat.
- ``ImageJDataSource``  ≡ the DDL relation provider
  (AbstractImageSource.scala:20-84): Python DataSource V2 with the
  same OPTIONS contract (path, count, table simple|abstract, debug),
  so ``spark.read.format("imagej")`` and
  ``CREATE TEMPORARY VIEW ... USING imagej OPTIONS (...)`` both work.

Scale: decode happens executor-side per Arrow batch; binaryFile scans
list files distributed; no driver collects. Column pruning beats the
reference: the abstract (wide) schema computes metadata from the
decoded array once at scan, and the DSv2 reader only decodes pixels
when the ``image`` column is actually required.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spark_ij_spark.datamodel import (
    IMAGE_SCHEMA,
    NULL_IMAGE,
    image_frame,
    image_to_np,
    is_null_image,
    map_images,
    np_to_image,
)
from spark_ij_spark.lineage import OP_LOAD, log_entry
from spark_ij_spark.sources.codecs import decode_bytes, encode_array

NAMED_IMAGE_SCHEMA = StructType(
    [StructField("path", StringType()), StructField("image", IMAGE_SCHEMA)]
)

# FullSQLImage wide schema (images.scala:27-34): metadata denormalized
# into queryable scalars so metadata-only queries never touch pixels.
FULL_IMAGE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("name", StringType()),
        StructField("parent", StringType()),
        StructField("fullpath", ArrayType(StringType())),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("slices", IntegerType()),
        StructField("image", IMAGE_SCHEMA),
    ]
)


def _load_entry(path: str) -> dict:
    return log_entry(OP_LOAD, path, optool="spark_ij_spark.sources")


def _decoded(blob: bytes, path: str, suffix: str = "") -> dict:
    """Decode a file's bytes (codec chosen by ``path + suffix``) into an
    image dict whose lineage starts with one LOAD entry for ``path``."""
    return np_to_image(decode_bytes(bytes(blob), path + suffix), log=[_load_entry(path)])


def _read_file(path: str) -> dict:
    """Open and decode one image file (codec chosen by its suffix)."""
    with open(path, "rb") as fh:
        return _decoded(fh.read(), path)


def _list_images(directory: str) -> list[str]:
    """Sorted names of the image files in ``directory``. Hidden names,
    Hadoop-marker names ('_SUCCESS', the writer's '_temporary') and
    subdirectories are skipped: an unfiltered entry would reach
    ``_read_file`` and fail the scan, or wedge a stream on every replay."""
    return sorted(
        f
        for f in os.listdir(directory)
        if not f.startswith((".", "_")) and os.path.isfile(os.path.join(directory, f))
    )


def _decode_udf(mode: str = "failfast", suffix: str = ""):
    """The (path, bytes) -> image pandas UDF of both byte readers. NULL
    bytes give the NULL image; an undecodable file raises under
    ``failfast`` and gives the NULL image under the other modes."""

    @F.pandas_udf(IMAGE_SCHEMA)
    def decode(paths: pd.Series, blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for p, b in zip(paths, blobs):
            try:
                rows.append(NULL_IMAGE if b is None else _decoded(b, p, suffix))
            except Exception:
                if mode == "failfast":
                    raise
                rows.append(NULL_IMAGE)
        return image_frame(rows)

    return decode


def load_images(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    mode: str = "failfast",
) -> DataFrame:
    """Read image files under ``path`` via the binaryFile source and
    decode per batch (suffix-dispatched codec). Returns (path, image).

    ``mode`` follows the Spark reader convention: ``failfast`` raises
    on the first undecodable file; ``permissive`` keeps the row with a
    null image (join back on ``path`` to quarantine); ``dropmalformed``
    drops it. At 100 TB a single corrupt file must not kill a
    multi-hour job — the reference's opener had no such policy."""
    if mode not in ("failfast", "permissive", "dropmalformed"):
        raise ValueError(f"unknown mode {mode!r}")
    reader = spark.read.format("binaryFile")
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    raw = reader.load(path).select("path", "content")
    out = raw.select("path", _decode_udf(mode)("path", "content").alias("image"))
    if mode == "dropmalformed":
        out = out.filter(F.col("image.dtype").isNotNull())
    return out


def load_images_locally(
    spark: SparkSession, paths: list[str], partitions: int | None = None
) -> DataFrame:
    """Parallelize an explicit path list; each worker opens its file
    from shared storage (scOps.scala:107-122 semantics)."""
    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    if partitions:
        pdf = pdf.repartition(partitions)

    @F.pandas_udf(IMAGE_SCHEMA)
    def open_file(ps: pd.Series) -> pd.DataFrame:
        return image_frame([_read_file(p) for p in ps])

    return pdf.select("path", open_file("path").alias("image"))


def load_images_driver(
    spark: SparkSession,
    paths: list[str],
    partitions: int | None = None,
    parallel: bool = True,
) -> DataFrame:
    """Opt-in driver-side decode (loadImagesDriver, scOps.scala:134-151):
    the driver opens and decodes every file — concurrently when
    ``parallel`` (the reference's `.par` collection) — then ships the
    decoded rows to the cluster through ``spark.createDataFrame``.

    This is deliberately NOT the default load path: every byte funnels
    through one machine, so it only fits data that exists *only* on the
    driver (no shared filesystem / object store). For anything at scale
    use ``load_images`` (distributed binaryFile scan) or
    ``load_images_locally`` (workers open from shared storage)."""

    def _one(p: str) -> tuple[str, dict]:
        return p, _read_file(p)

    if parallel and len(paths) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
            rows = list(pool.map(_one, paths))
    else:
        rows = [_one(p) for p in paths]

    df = spark.createDataFrame(rows, NAMED_IMAGE_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def _save_basename(path: str) -> str:
    """Output-file key: extension-stripped basename (the reference's
    saveImagesLocal naming, scOps.scala:262-271)."""
    return os.path.splitext(os.path.basename(path))[0]


def save_images_local(
    df: DataFrame,
    out_dir: str,
    suffix: str = ".npy",
    path_col: str = "path",
    image_col: str = "image",
) -> None:
    """Write one encoded file per image: basename(key) + suffix
    (saveImagesLocal, scOps.scala:262-271). A NULL image writes no file.

    One Spark job runs ``ImageJWriter.write`` on every partition and
    collects the commit messages; this driver process then commits, or
    aborts if anything failed. That is the two-phase commit of
    ``df.write.format("imagej").mode("overwrite")``: the target gets
    every image or none. Basename keying maps 'a/x.png' and 'b/x.png'
    to one file, and the commit rejects that before any file moves.
    Committing here rather than in a DSv2 commit keeps the errors plain
    Python exceptions (a DSv2 commit runs in a Python worker, whose
    errors come back wrapped)."""
    rows = df.select(F.col(path_col).alias("path"), F.col(image_col).alias("image"))
    writer = ImageJWriter({"path": out_dir, "suffix": suffix}, overwrite=True)
    try:
        writer.commit(rows.rdd.mapPartitions(lambda it: [writer.write(it)]).collect())
    except BaseException:
        writer.abort([])
        raise


def save_images(
    df: DataFrame,
    out_path: str,
    suffix: str = ".npy",
    path_col: str = "path",
    image_col: str = "image",
) -> None:
    """saveImage dispatch (scOps.scala:251-256): a URL-style target
    (contains '://') routes to the keyed-parquet byte sink — the
    rebuild of the reference's Hadoop save — while a bare filesystem
    path routes to one-file-per-image local save."""
    if "://" in out_path:
        save_images_parquet(df, out_path, suffix, path_col, image_col)
    else:
        save_images_local(df, out_path, suffix, path_col, image_col)


def save_images_parquet(
    df: DataFrame,
    out_path: str,
    suffix: str = ".npy",
    path_col: str = "path",
    image_col: str = "image",
) -> None:
    """Keyed byte sink: (path, bytes) parquet. Unlike the reference's
    `saveAsHadoopFile` (names lost in part-0000 files, its documented
    caveat) the key column preserves identity. A NULL image is written
    as NULL ``content``."""

    @F.pandas_udf("binary")
    def encode(imgs: pd.DataFrame) -> pd.Series:
        return pd.Series(map_images(lambda r: encode_array(image_to_np(r), suffix), imgs))

    (
        df.select(F.col(path_col).alias("path"), encode(image_col).alias("content"))
        .write.mode("overwrite")
        .parquet(out_path)
    )


def read_images_parquet(
    spark: SparkSession, path: str, suffix: str = ".npy"
) -> DataFrame:
    """Inverse of save_images_parquet: decode the byte column back.
    ``suffix`` must match the one the save side encoded with (the
    blobs carry no filename, so the codec is chosen by this hint).
    NULL ``content`` reads back as the NULL image."""
    raw = spark.read.parquet(path)
    return raw.select("path", _decode_udf(suffix=suffix)("path", "content").alias("image"))


# ---------------------------------------------------------------------------
# Python DataSource V2: the DDL OPTIONS contract
# ---------------------------------------------------------------------------


def _synthetic_array(i: int, width: int, height: int) -> np.ndarray:
    """Debug image i: constant value i (matches the reference debug
    source's deterministic content so SQL assertions are possible)."""
    return np.full((height, width, 1), float(i), dtype=np.float32)


class _ImagePartition(InputPartition):
    def __init__(self, index: int, items: list):
        self.index = index
        self.items = items


class ImageJReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        # option keys arrive lowercased, like AbstractImageSource.scala:42-46
        self.debug = str(options.get("debug", "false")).lower() == "true"
        self.count = int(options.get("count", "5"))
        self.table = str(options.get("table", "simple")).lower()
        self.path = options.get("path")
        self.width = int(options.get("width", "10"))
        self.height = int(options.get("height", "10"))
        self.partitions_n = int(options.get("partitions", "4"))
        if not self.debug and not self.path:
            raise ValueError(
                "imagej source requires OPTIONS path unless debug=true "
                "(AbstractImageSource.scala:36 contract)"
            )

    def partitions(self):
        if self.debug:
            # no leading underscore: Hadoop input formats treat _/.-
            # prefixed files as hidden, which would break write→read
            # round-trips of debug tables
            items = [("debug_%d" % i, i) for i in range(self.count)]
        else:
            names = _list_images(self.path)
            items = [(os.path.join(self.path, f), i) for i, f in enumerate(names)]
        n = max(1, min(self.partitions_n, len(items)))
        chunks = [items[i::n] for i in range(n)]
        return [_ImagePartition(i, c) for i, c in enumerate(chunks) if c]

    def read(self, partition: _ImagePartition) -> Iterator[tuple]:
        simple = self.table != "abstract"
        for path, i in partition.items:
            if self.debug:
                arr = _synthetic_array(i, self.width, self.height)
                img = np_to_image(arr, log=[_load_entry(path)])
            else:
                img = _read_file(path)
            image_row = _serialize_image_struct(img)
            if simple:
                yield (path, image_row)
            else:
                # RGB decodes are 4D [h][w][s][c] after ensure_3d's
                # normalization — unpack the spatial dims positionally
                h, w, s = img["shape"][:3]
                parts = path.split("/")
                yield (
                    path,
                    parts[-1],
                    "/".join(parts[:-1]),
                    parts,
                    int(w),
                    int(h),
                    int(s),
                    image_row,
                )


def _serialize_image_struct(img: dict) -> tuple:
    """Image dict → DSv2 struct tuple, INCLUDING the lineage log
    (LOG_ENTRY_SCHEMA field order). One shared serializer for the
    batch and stream readers: a hand-rolled copy in the stream path
    once hard-coded an empty log and silently dropped provenance for
    every stream-loaded image."""
    return (
        img["data"],
        img["dtype"],
        img["shape"],
        tuple(img["meta"].values()),
        [
            (
                e["optype"],
                e["optool"],
                e["opval"],
                e["opargs"],
                e["children_json"],
            )
            for e in img["log"]
        ],
    )


class _ImageJCommit(WriterCommitMessage):
    """Per-partition commit message: the staging dir plus the staged
    basenames, so the driver-side commit can validate collisions and
    rename files into place."""

    def __init__(self, stage_dir: str, names: list[str]):
        self.stage_dir = stage_dir
        self.names = names


class ImageJWriter(DataSourceWriter):
    """Executor-side writer: each partition encodes its (path, image)
    rows to one file per image under OPTIONS path. A real write path —
    the reference's `CreatableRelationProvider` just re-read from path
    (AbstractImageSource.scala:47-54, effectively read-only).
    ``save_images_local`` drives the same writer from the driver.

    Two-phase commit (the Hadoop FileOutputCommitter shape): each task
    ATTEMPT writes into its own uuid staging dir under the JOB's
    staging root ``<path>/_temporary/<job uuid>`` (hidden to the
    reader's listing rule; job-scoped so commit/abort cleanup can
    never delete a CONCURRENT job's staged files) and reports the
    staged basenames in its commit message; the driver ``commit``
    validates and renames into place. This makes task
    retries/speculation idempotent — a failed attempt's orphan dir is
    never committed (a per-file exists() precheck would raise
    FileExistsError on the SAME task's retry, permanently failing the
    job) — and makes collision handling WITHIN one job a guarantee:

    - cross-partition basename collisions fail the job at commit, with
      nothing moved into the target dir;
    - mode('overwrite') clobbers per-file; any other mode refuses to
      replace existing target files — checked once, driver-side, before
      any rename (never silent last-write-wins). ACROSS concurrently-committing jobs this remains
      a best-effort check-then-rename (same semantics as Hadoop's
      FileOutputCommitter without a coordination service); concurrent
      non-overwrite writers to one directory need external locking."""

    def __init__(self, options: dict, overwrite: bool = False):
        import uuid

        self.path = options.get("path")
        self.suffix = options.get("suffix", ".npy")
        self.overwrite = overwrite
        # driver-side, once per job; serialized into every task
        self.job_id = uuid.uuid4().hex
        if not self.path:
            raise ValueError("imagej write requires OPTIONS path")
        # Only the driver creates the staging root; a task attempt makes
        # just its own dir under it. After abort removes the root, a
        # cancelled task still running cannot recreate it and leave
        # staging litter behind.
        os.makedirs(self._staging_root(), exist_ok=True)

    def _staging_root(self) -> str:
        return os.path.join(self.path, "_temporary", self.job_id)

    def write(self, iterator):
        import uuid

        stage_dir = os.path.join(self._staging_root(), uuid.uuid4().hex)
        os.mkdir(stage_dir)
        names: list[str] = []
        for row in iterator:
            if is_null_image(row.image):
                continue  # a NULL image writes no file
            name = _save_basename(row.path) + self.suffix
            with open(os.path.join(stage_dir, name), "wb") as fh:
                fh.write(encode_array(image_to_np(row.image), self.suffix))
            names.append(name)
        return _ImageJCommit(stage_dir, names)

    def commit(self, messages):
        from collections import Counter

        msgs = [m for m in messages if isinstance(m, _ImageJCommit)]
        counts = Counter(n for m in msgs for n in m.names)
        dupes = sorted(n for n, c in counts.items() if c > 1)
        if dupes:
            raise ValueError(
                "imagej write: distinct input paths share output "
                f"basename(s) {dupes[:5]} — writes would overwrite each "
                "other; disambiguate the path column first"
            )
        if not self.overwrite:
            existing = sorted(
                n for n in counts if os.path.exists(os.path.join(self.path, n))
            )
            if existing:
                raise FileExistsError(
                    f"imagej write: target file(s) {existing[:5]} already "
                    "exist and save mode is not 'overwrite'"
                )
        # The rename loop is all-or-nothing up to I/O failure: if any
        # os.replace fails mid-loop, roll the already-renamed files BACK
        # into their staging dirs so the target directory never holds a
        # partial commit, then re-raise with staging intact for retry or
        # manual recovery (a mid-loop failure followed by abort's
        # staging cleanup would leave an unreconstructable partial
        # directory). Rollback itself is best-effort: a file whose
        # roll-back rename also fails stays in the target and is named
        # in the raised error.
        done: list[tuple[str, str]] = []
        try:
            for m in msgs:
                for n in m.names:
                    os.replace(
                        os.path.join(m.stage_dir, n), os.path.join(self.path, n)
                    )
                    done.append((m.stage_dir, n))
        except OSError as exc:
            stuck: list[str] = []
            for stage_dir, n in done:
                try:
                    os.replace(
                        os.path.join(self.path, n), os.path.join(stage_dir, n)
                    )
                except OSError:
                    stuck.append(n)
            detail = (
                f"; {len(stuck)} file(s) could not be rolled back and "
                f"remain in the target: {stuck[:5]}"
                if stuck
                else "; all partially-committed files were rolled back "
                "to staging"
            )
            self._commit_failed = True  # abort() must preserve staging
            raise OSError(
                f"imagej write: commit failed mid-rename ({exc}){detail}; "
                f"staged output preserved under {self._staging_root()}"
            ) from exc
        self._cleanup_staging()

    def abort(self, messages):
        # after a commit-phase rename failure the staged files are the
        # only surviving copy of the job's output — keep them for
        # manual recovery instead of cleaning
        if getattr(self, "_commit_failed", False):
            return
        self._cleanup_staging()

    def _cleanup_staging(self) -> None:
        """Drop THIS job's staging root (including orphan dirs from
        failed/speculative attempts that never produced a committed
        message); remove the shared _temporary parent only if empty —
        a concurrent job's staged files must survive."""
        import shutil

        shutil.rmtree(self._staging_root(), ignore_errors=True)
        try:
            os.rmdir(os.path.join(self.path, "_temporary"))
        except OSError:
            pass  # not empty (another job is staging) or already gone


class ImageJStreamReader(SimpleDataSourceStreamReader):
    """Directory-watch image stream: each micro-batch decodes the files
    that appeared since the last offset. Offset = the full sorted
    seen-file set (correct for ARBITRARY filenames; replay after
    failure is deterministic), so each checkpointed offset is O(files
    in the landing dir) — fine for an instrument dropping thousands of
    images, and the honest tradeoff vs a name high-water mark, which
    is O(1) per offset but silently drops files whose names do not
    arrive in sorted order. At scale with monotone shard names, swap
    the seen-set for a max-name high-water mark. Decode happens in
    ``read`` per batch; size ``maxFilesPerBatch`` for the landing
    zone."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("imagej stream read requires OPTIONS path")
        self.max_files = int(options.get("maxfilesperbatch", "0")) or None

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict):
        seen = set(start.get("seen", []))
        fresh = [f for f in _list_images(self.path) if f not in seen]
        if self.max_files:
            fresh = fresh[: self.max_files]
        end = {"seen": sorted(seen | set(fresh))}
        return iter(self._rows(fresh)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("seen", []))
        fresh = [f for f in end.get("seen", []) if f not in seen]
        return iter(self._rows(fresh))

    def _rows(self, names: list[str]):
        paths = [os.path.join(self.path, n) for n in names]
        return [(p, _serialize_image_struct(_read_file(p))) for p in paths]


class ImageJDataSource(DataSource):
    """`CREATE TEMPORARY VIEW t USING imagej OPTIONS (...)` provider
    with the reference's OPTIONS contract (path, count, table
    simple|abstract, debug) — AbstractImageSource.scala:20-84 — plus
    a real write path (``df.write.format("imagej")``) and a streaming
    read path (``spark.readStream.format("imagej")``, directory-watch)
    the RDD-era reference could not express."""

    @classmethod
    def name(cls) -> str:
        return "imagej"

    def schema(self):
        table = str(self.options.get("table", "simple")).lower()
        return FULL_IMAGE_SCHEMA if table == "abstract" else NAMED_IMAGE_SCHEMA

    def reader(self, schema: StructType) -> ImageJReader:
        return ImageJReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ImageJWriter:
        return ImageJWriter(dict(self.options), overwrite=overwrite)

    def simpleStreamReader(self, schema: StructType) -> ImageJStreamReader:
        return ImageJStreamReader(dict(self.options))


def register_image_source(spark: SparkSession) -> None:
    """Register the 'imagej' format for read.format() and SQL DDL."""
    spark.dataSource.register(ImageJDataSource)
