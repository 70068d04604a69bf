"""spark_ij_spark — a PySpark-native rebuild of the capabilities of
kmader/spark-ij (reference at /root/reference), extended with
large-scale data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis).

Design stance (see SURVEY.md §7):
- DataFrame/SQL only at the API surface; Catalyst does the relational work.
- Images are plain StructType columns (binary payload + dtype + shape +
  calibration meta + lineage log) — the wire format of the reference's
  UDTs (reference: PipUDT.scala:28-35) without private UDT APIs.
- All pixel kernels are Arrow pandas UDFs over numpy.
- Everything is designed for multi-executor scale: no driver-side
  collects in operators, broadcast hints for small dims, AQE on.
"""

from spark_ij_spark import zipstamp

# First, so a Python worker unpickling an engine UDF patches zipimport
# before its next task's importlib.invalidate_caches().
zipstamp.install()
# Before pyspark is imported: the engine daemon (``python -m
# spark_ij_spark.worker_daemon`` runs this first) and the workers it
# forks then import the installed, bytecode-cached pyspark.
zipstamp.prefer_installed()

from spark_ij_spark.session import get_spark, load_tables  # noqa: E402

__all__ = ["get_spark", "load_tables"]

__version__ = "0.1.0"
