"""The benchmark's two workloads.

Each workload makes its inputs (``prepare``), scans them once during
set-up (``scan``) and hands out the items of one pass (``items``). An
item is one timed unit: ``build`` calls into the engine and returns a
DataFrame, ``run`` executes it completely (a noop-sink write or the
workload's real sink, never ``count()``), and ``check`` compares the
output with the pinned or recomputed answer after the clock stops.

- ``image_files``: the paper's pipeline over generated image files.
- ``query_mix``: LLM-data-pipeline and table queries on generated
  tables, one per heavy layer.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Item:
    name: str
    layer: str  # the engine module whose public function ``build`` calls
    build: Callable[[], Any]
    run: Callable[[Any], None]
    check: Callable[[Any], bool]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------

#: One query for each of the layers the LLM-data-pipeline and table
#: operators load hardest. The TPC-H query is stock Spark scan, join and
#: aggregate work that bypasses the Python side.
QUERY_MIX = (
    "img_order_stats",  # image_queries: many tiny images through Arrow UDFs
    "embed_kmeans",  # clustering: driver-side eager build (k-means loop)
    "dedup_ngram_jaccard",  # dedup: shuffle-heavy pair generation
    "q3_shipping_priority",  # relational: scans, joins and top-k
)
#: the tables those queries read
QUERY_MIX_TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")

def digest_exprs(df):
    """Row count and an order-insensitive digest of every output value:
    the exact sum of each row's xxhash64 over the columns in name
    order. Computed by Spark while the action runs, via ``observe``."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("digest"),
    )


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


class QueryWorkload:
    isolate_items = True  # empty the cache before every item

    def __init__(self, name: str, queries: tuple[str, ...], tables: tuple[str, ...], sf: float):
        self.name = name
        self.queries = queries
        self.tables = tables
        self.sf = sf
        self.sf_dir = ""

    def prepare(self, work: str, run_dir: str, seed: int) -> dict:
        from tables import ensure_tables

        self.sf_dir = ensure_tables(os.path.join(work, "tables"), self.sf)
        with open(os.path.join(self.sf_dir, "_DONE")) as fh:
            rows = json.load(fh)
        return {
            "sf": self.sf,
            "tables": list(self.tables),
            "rows": sum(rows[t] for t in self.tables),
            "bytes": sum(
                os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in self.tables
            ),
            "queries": len(self.queries),
        }

    def scan(self, spark) -> None:
        from spark_ij_spark.session import load_tables

        for df in load_tables(spark, self.sf_dir, list(self.tables)).values():
            noop(df)

    def items(self, spark, rng: np.random.Generator) -> list[Item]:
        import __spark_entry__ as entry

        fns = entry.queries()
        expected = load_expected()[f"sf{self.sf:g}"]
        order = [self.queries[i] for i in rng.permutation(len(self.queries))]
        return [self._item(spark, q, fns[q], expected[q]) for q in order]

    def _item(self, spark, name: str, fn, exp: dict) -> Item:
        from pyspark.sql import Observation

        obs = Observation(f"perfbench.{name}")

        def build():
            df = fn(spark, self.sf_dir)
            return df.observe(obs, *digest_exprs(df))

        def check(_df) -> bool:
            got = obs.get
            return got["rows"] == exp["rows"] and str(got["digest"]) == exp["digest"]

        module = fn.__module__.rsplit(".", 1)[-1]
        return Item(name, f"operators.{module}", build, noop, check)


# ---------------------------------------------------------------------------
# image_files: the paper's own workload
# ---------------------------------------------------------------------------

CHAIN = [("Gaussian Blur...", "sigma=2"), ("Median...", "radius=2")]
THRESHOLD = ("Auto Threshold", "method=IsoData white")
PARTICLES = "Analyze Particles..."
SWEEP = ("Gaussian Blur...", "sigma=1.0", "sigma=3.0", 5)
SWEEP_SIGMAS = (1.0, 1.5, 2.0, 2.5, 3.0)
SQL_STAGE = (
    "SELECT path, stats(run2(image, 'Gaussian Blur...', 'sigma=1')) AS s "
    "FROM perfbench_ops"
)
#: (suffix, dtype, full scale): 16-bit TIFF, 8-bit PNG, 16-bit DICOM
FORMATS = ((".tif", "uint16", 4095), (".png", "uint8", 255), (".dcm", "uint16", 4095))
SIZE = 256


def microscopy_image(rng: np.random.Generator, size: int, dtype: str, scale: int) -> np.ndarray:
    """Gaussian blobs (cells) of random size and brightness on a noisy
    background, quantized to ``dtype``."""
    yy, xx = np.mgrid[0:size, 0:size]
    img = rng.normal(0.08, 0.03, (size, size))
    for _ in range(int(rng.integers(8, 20))):
        cy, cx = rng.uniform(0, size, 2)
        s = rng.uniform(3.0, 9.0)
        img += rng.uniform(0.3, 0.9) * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * s * s))
    return np.round(np.clip(img, 0.0, 1.0) * scale).astype(dtype)[:, :, None]


def _sha(a: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(a).tobytes() + str(a.dtype).encode()).hexdigest()


class ImageWorkload:
    """load → fused op chain + stats + histogram → threshold + particle
    table → 5-variant parameter sweep → SQL-text stage → TIFF sink →
    read back. Each stage persists its output with ``cache()`` for the
    stages after it, and is one item; the cache is emptied before each
    pass. ``check`` recomputes a sample of images on the driver with
    ``registry.run_op``."""

    name = "image_files"
    isolate_items = False

    def __init__(self, n_images: int, n_sample: int = 3):
        self.n_images = n_images
        self.n_sample = n_sample
        self.arrays: dict[str, np.ndarray] = {}  # input path -> generated pixels
        self.sample: list[str] = []  # paths recomputed on the driver
        self._truth: dict[str, dict] = {}
        self.in_dir = self.out_dir = ""
        self.layer_counts: dict[str, float] = {}

    def prepare(self, work: str, run_dir: str, seed: int) -> dict:
        from spark_ij_spark.sources.codecs import encode_array

        rng = np.random.default_rng(seed)
        self.in_dir = os.path.join(run_dir, "images")
        self.out_dir = os.path.join(run_dir, "sink")
        os.makedirs(self.in_dir, exist_ok=True)
        size = 0
        for i in range(self.n_images):
            sfx, dtype, scale = FORMATS[i % len(FORMATS)]
            arr = microscopy_image(rng, SIZE, dtype, scale)
            path = os.path.join(self.in_dir, f"img{i:03d}{sfx}")
            blob = encode_array(arr, sfx)
            with open(path, "wb") as fh:
                fh.write(blob)
            self.arrays["file:" + path] = arr
            size += len(blob)
        self.sample = sorted(self.arrays)[:: max(1, self.n_images // self.n_sample)][: self.n_sample]
        self._truth = self._recompute(self.sample)
        return {
            "images": self.n_images,
            "pixels": self.n_images * SIZE * SIZE,
            "bytes": size,
            "formats": [f[0] for f in FORMATS],
        }

    def _recompute(self, paths: list[str]) -> dict[str, dict]:
        """Driver-side answers for the sampled images."""
        from spark_ij_spark.datamodel import stats_of_values
        from spark_ij_spark.kernels.histogram import histogram
        from spark_ij_spark.registry import run_op

        out = {}
        for p in paths:
            arr, meta = self.arrays[p], {}
            for cmd, args in CHAIN:
                arr, _ = run_op(arr, cmd, args, meta)
            _, counts = histogram(arr, None, 256)
            mask, _ = run_op(arr, *THRESHOLD, {})
            _, table = run_op(mask, PARTICLES, "", {})
            out[p] = {
                "ops": _sha(arr),
                "stats": stats_of_values(arr.astype("float64")),
                "hist": [int(c) for c in counts],
                "areas": [float(a) for a in table["Area"]],
                "sweep": sorted(
                    _sha(run_op(arr, SWEEP[0], f"sigma={s}", {})[0]) for s in SWEEP_SIGMAS
                ),
                "sql": stats_of_values(
                    run_op(arr, "Gaussian Blur...", "sigma=1", {})[0].astype("float64")
                ),
            }
        return out

    def scan(self, spark) -> None:
        noop(spark.read.format("binaryFile").load(self.in_dir))

    def items(self, spark, rng: np.random.Generator) -> list[Item]:
        from pyspark.sql import functions as F

        from spark_ij_spark.datamodel import image_to_np
        from spark_ij_spark.operators import images as ops
        from spark_ij_spark.operators.sweep import run_range
        from spark_ij_spark.sources import images as src

        st: dict[str, Any] = {}
        truth, sample = self._truth, self.sample

        def rows(df, *cols):
            return df.filter(F.col("path").isin(sample)).select(*cols).collect()

        def stage(key, make):
            """Build step that persists the stage's output for later stages."""
            def build():
                st[key] = make().cache()
                return st[key]
            return build

        def check_load(df) -> bool:
            got = {r.path: image_to_np(r.image) for r in df.collect()}
            return len(got) == self.n_images and all(
                _sha(a) == _sha(self.arrays[p]) for p, a in got.items()
            )

        def check_ops(df) -> bool:
            ok = True
            for r in rows(df, "path", "image", "stats", "hist"):
                t = truth[r.path]
                ok &= _sha(image_to_np(r.image)) == t["ops"]
                ok &= r.stats.asDict() == t["stats"]
                ok &= list(r.hist.bin_counts) == t["hist"]
            return ok and df.count() == self.n_images

        def check_particles(df) -> bool:
            ok = True
            logs = []
            for r in rows(df, "path", "image", "table"):
                ok &= list(r.table["Area"]) == truth[r.path]["areas"]
                logs.append(len(r.image.log))
            self.layer_counts["lineage.entries_per_image"] = float(np.mean(logs))
            return ok and len(logs) == len(sample)

        def check_sweep(df) -> bool:
            got: dict[str, list[str]] = {}
            for r in df.select("path", "image").collect():
                got.setdefault(r.path.split("__")[0], []).append(_sha(image_to_np(r.image)))
            return len(got) == self.n_images and all(
                len(v) == len(SWEEP_SIGMAS) for v in got.values()
            ) and all(sorted(got[p]) == truth[p]["sweep"] for p in sample)

        def check_sql(df) -> bool:
            got = {r.path: dict(r.s) for r in df.collect()}
            return len(got) == self.n_images and all(
                got[p] == truth[p]["sql"] for p in sample
            )

        def save(_df) -> None:
            src.save_images_parquet(st["ops"].select("path", "image"), self.out_dir, ".tif")

        def check_save(_df) -> bool:
            files = glob.glob(os.path.join(self.out_dir, "*.parquet"))
            written = sum(os.path.getsize(f) for f in files)
            pixels = sum(
                len(r.image.data) for r in st["ops"].select("image").collect()
            )
            self.layer_counts["sources.bytes_written"] = float(written)
            self.layer_counts["sink_bytes_per_pixel_byte"] = written / pixels
            return written > 0

        def check_read_back(df) -> bool:
            want = {r.path: _sha(image_to_np(r.image)) for r in st["ops"].select("path", "image").collect()}
            got = {r.path: _sha(image_to_np(r.image)) for r in df.collect()}
            return got == want

        def sql_stage():
            st["ops"].select("path", "image").createOrReplaceTempView("perfbench_ops")
            return spark.sql(SQL_STAGE)

        return [
            Item("load_images", "sources.images",
                 stage("load", lambda: src.load_images(spark, self.in_dir)), noop, check_load),
            Item("ops_stage", "operators.images",
                 stage("ops", lambda: ops.run_all(st["load"], CHAIN)
                              .withColumn("stats", ops.image_stats("image"))
                              .withColumn("hist", ops.image_histogram("image"))),
                 noop, check_ops),
            Item("particles_stage", "operators.images",
                 stage("particles", lambda: ops.run_with_table(
                     ops.run_all(st["ops"].select("path", "image"), *THRESHOLD), PARTICLES)),
                 noop, check_particles),
            Item("run_range", "operators.sweep",
                 stage("sweep", lambda: run_range(
                     st["ops"].select("path", "image"), SWEEP[0], SWEEP[1], SWEEP[2],
                     steps=SWEEP[3], key_col="path")),
                 noop, check_sweep),
            Item("sql_stage", "functions.sql", stage("sql", sql_stage), noop, check_sql),
            Item("save_images", "sources.images", lambda: None, save, check_save),
            Item("read_back", "sources.images",
                 stage("back", lambda: src.read_images_parquet(spark, self.out_dir, ".tif")),
                 noop, check_read_back),
        ]
