"""Pin the query workloads' expected outputs in ``expected.json``.

    python3 perfbench/pin.py

For each query of the ``query_mix`` workload, at the benchmark's scale
and at the smoke run's, this runs the query twice on the generated
tables: once exactly as the
benchmark does (observed row count and xxhash64 digest through a noop
write) and once collected, to take the same sorted-row SHA-256 digest
the repository's oracle comparison uses. Where ``oracle_sql()`` has the
query, the DuckDB answer on the same parquet files must give that
digest too, or nothing is written.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402  (sets paths and the environment helpers)


def vhash(cols, rows) -> str:
    """Sorted-row digest, normalised as the repository's oracle check
    does (floats by ``repr``, NULL and NaN spelled out)."""

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(float(v))
        return str(v)

    body = "\n".join(sorted("|".join(norm(v) for v in r) for r in rows))
    return hashlib.sha256(body.encode()).hexdigest()[:12]


def pin(spark, sf: float, names: list[str], work: str) -> dict:
    import duckdb
    from pyspark.sql import Observation

    import __spark_entry__ as entry
    from spark_ij_spark.session import TABLE_NAMES
    from tables import ensure_tables
    from workloads import digest_exprs, noop

    sf_dir = ensure_tables(os.path.join(work, "tables"), sf)
    fns, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        spark.catalog.clearCache()
        obs = Observation(f"pin.{name}")
        df = fns[name](spark, sf_dir)
        noop(df.observe(obs, *digest_exprs(df)))
        got = obs.get
        spark.catalog.clearCache()
        df = fns[name](spark, sf_dir)
        cols = sorted(df.columns)
        rows = [tuple(r[c] for c in cols) for r in df.collect()]
        rec = {"rows": len(rows), "digest": str(got["digest"]), "vhash": vhash(cols, rows)}
        if got["rows"] != len(rows):
            raise SystemExit(f"{name}: observed {got['rows']} rows, collected {len(rows)}")
        if name in oracles:
            d = con.execute(oracles[name]).df()
            dc = sorted(d.columns)
            want = vhash(dc, list(d[dc].itertuples(index=False, name=None)))
            if dc != cols or want != rec["vhash"]:
                raise SystemExit(f"{name} sf{sf:g}: Spark {rec['vhash']} != DuckDB {want}")
            rec["oracle"] = "duckdb"
        else:
            rec["oracle"] = None
        out[name] = rec
        print(f"sf{sf:g} {name} {rec}", flush=True)
    return out


def main() -> int:
    from workloads import QUERY_MIX

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(run.REPO, ".perfbench_work")
    run.prepare_env(work, cpus)
    from spark_ij_spark.session import get_spark

    spark = get_spark("perfbench-pin", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        expected = {f"sf{sf:g}": pin(spark, sf, list(QUERY_MIX), work)
                    for sf in (run.SF, run.SMOKE_SF)}
    finally:
        run.shut_down(spark)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
