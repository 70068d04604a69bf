"""Driver-style correctness simulation: run every `queries()` entry on
Spark and compare it with its DuckDB oracle exactly the way the
grading driver does (pandas `.df()` fetch, columns sorted by name,
value-normalized row renders — equal exactly when the driver's sha256
of them is). A MISMATCH prints the first differing row pair, or both
column lists when the columns or row counts differ.

Variants (all proven green in round 8 — re-run after relevant changes):

  python tools/oracle_sim.py                      # sf0.01, get_spark session
  python tools/oracle_sim.py --sf sf0.001         # off-grade scale (sentinels)
  python tools/oracle_sim.py --sf sf0.1           # off-grade scale (caps/overflow)
  python tools/oracle_sim.py --partitions 7 --cpus 5   # partition independence
  python tools/oracle_sim.py --bare               # driver-like default session
  python tools/oracle_sim.py --only name1 name2   # subset (the fast inner loop)

Exit code = number of mismatches/errors (0 = green).
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render(v) -> str:
    """The driver's value normaliser."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # repr(float(v)), not repr(v): pandas yields np.float64
        # scalars, and numpy>=2 reprs those as 'np.float64(0.5)'
        # — a silent mass-MISMATCH the day numpy is upgraded.
        return "NaN" if math.isnan(v) else repr(float(v))
    return str(v)


def driver_rows(sdf, con, sql: str):
    """Fetch a query's Spark frame and its DuckDB oracle the way the
    grading driver does, and render both with its normaliser.

    Spark: columns sorted by name, ``collect``. DuckDB: pandas ``.df()``
    (NOT fetchall(): HUGEINT -> float64 etc. — the exact typing the
    driver's hasher sees), columns sorted by name. Returns
    ``(spark_cols, spark_rows, duck_cols, duck_rows)``; each row is one
    '|'-joined render and each side is sorted, so the two sides match
    exactly when the driver's hashes do."""
    scols = sorted(sdf.columns)
    srows = [tuple(r[c] for c in scols) for r in sdf.collect()]
    dpdf = con.execute(sql).df()
    dcols = sorted(dpdf.columns)
    drows = list(dpdf[dcols].itertuples(index=False, name=None))

    def rendered(rows):
        return sorted("|".join(render(v) for v in r) for r in rows)

    return scols, rendered(srows), dcols, rendered(drows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.01")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local cores (default: $SPARK_GRAFT_CPUS or all)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--bare", action="store_true",
                    help="bare default SparkSession (driver-like)")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--skip", nargs="*", default=None,
                    help="exclude queries (e.g. the labeled quadratic "
                         "exactness baselines on 10x+ replicas, where "
                         "their all-pairs DuckDB oracles are the cost)")
    ap.add_argument("--skip-quadratic", action="store_true",
                    help="exclude __spark_entry__.QUADRATIC_BASELINES "
                         "(the single-sourced at-volume skip list)")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as mod
    from spark_ij_spark.session import TABLE_NAMES, get_spark, local_cpus

    if args.bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-sim-bare")
            .master(f"local[{args.cpus or local_cpus()}]")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-sim", cpus=args.cpus)
    if args.partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = args.sf if os.path.isdir(args.sf) else f"/root/testdata/{args.sf}"
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table = a DIRECTORY of part files; DuckDB
            # needs the glob (testdata ships single files instead)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, osql = mod.queries(), mod.oracle_sql()
    names = args.only or list(qs)
    skip = list(args.skip or [])
    if args.skip_quadratic:
        missing = sorted(set(mod.QUADRATIC_BASELINES) - set(qs))
        if missing:
            # the single-sourced list drifted from queries() — fail
            # loudly rather than sweep with a stale exclusion set
            print(f"QUADRATIC_BASELINES not in queries(): {' '.join(missing)}")
            return 2
        skip += list(mod.QUADRATIC_BASELINES)
    if skip:
        sset = set(skip)
        unknown = sorted(sset - set(qs))
        if unknown:
            # a typo'd skip name would silently leave the quadratic
            # baseline IN the sweep — the exact stall the flag exists
            # to prevent (r11 review)
            print(f"UNKNOWN --skip names: {' '.join(unknown)}")
            return 2
        skipped = [n for n in names if n in sset]
        names = [n for n in names if n not in sset]
        print(f"  (skipped by request: {' '.join(skipped)})")
    bad = 0
    for name in names:
        if name not in qs:
            print(f"  {name}: UNKNOWN"); bad += 1; continue
        try:
            sdf = qs[name](spark, sf_dir)
            if name not in osql:
                print(f"  {name}: rows-only {len(sdf.collect())}")
                continue
            scols, srows, dcols, drows = driver_rows(sdf, con, osql[name])
            ok = scols == dcols and srows == drows
            print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} "
                  f"rows={len(srows)}/{len(drows)}")
            if ok:
                continue
            bad += 1
            if scols == dcols and len(srows) == len(drows):
                a, b = next((a, b) for a, b in zip(srows, drows) if a != b)
                print(f"    spark  {a}\n    duckdb {b}")
            else:
                print(f"    spark cols  {scols}\n    duckdb cols {dcols}")
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            bad += 1
            print(f"  {name}: ERROR {str(e)[:160]}")
    print(f"checked: {len(names)}  bad: {bad}")
    spark.stop()
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
