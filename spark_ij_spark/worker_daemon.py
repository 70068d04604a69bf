"""Python-worker daemon of every ``get_spark`` session
(``spark.python.daemon.module``).

Spark forks one Python worker per task from a daemon. The stock
``pyspark.daemon`` has imported only pyspark and numpy, so each worker
imports pandas, pyarrow and the engine into its own private pages and
re-reads the zip import indexes once. This daemon does that work once,
before any fork, then freezes its GC heap: a worker inherits the engine
as shared copy-on-write pages, and its per-task ``gc.collect()`` neither
walks nor writes to the frozen objects. The package ``__init__``, which
``python -m`` runs first, has already swapped Spark's source zips on
``sys.path`` for the installed pyspark and py4j of the same release
(``zipstamp.prefer_installed``), so the daemon loads bytecode instead
of compiling pyspark.

Importing this module starts no thread, JVM or session; only running
it as ``__main__`` enters the daemon loop.
"""

import gc
import importlib

import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

import spark_ij_spark.operators.images  # noqa: F401  (installs zipstamp too)
from spark_ij_spark.registry import list_commands

list_commands()  # loads the kernel menu
importlib.invalidate_caches()  # stamps the zip indexes still on the path
gc.collect()
gc.freeze()

if __name__ == "__main__":
    daemon.manager()
