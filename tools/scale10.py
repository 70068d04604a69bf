"""10x scale-up experiment: replicate sf0.1 into an sf~1 dataset and
measure how the heaviest queries scale across the next data decade.

The driver benches at sf0.1; the 100 TB question is whether each plan's
cost curve stays ~linear one decade up. This tool builds a K-replica
dataset under .scratch/ (gitignored — derived data, rebuilt on demand)
with key offsets chosen so the replicas SHARD rather than collide:

- relational keys (orderkey/custkey/partkey/suppkey), event ids/users,
  doc ids, vec ids: +i*OFFSET per replica i — joins stay valid inside a
  replica and never match across replicas, so join fan-out scales
  linearly like adding new customers/days/documents would.
- documents.text: replica 0 keeps the original corpus; replica i>0
  prefixes every token with "r{i}x". Within-replica near-dup structure
  is byte-identical to the original, cross-replica token overlap is
  zero — the corpus shards into K independent copies instead of turning
  every document into a K-clique of exact dups (which would measure a
  pathological 90%-duplicate crawl, a different experiment).
- embeddings.embedding: rotated by i positions per replica — norms and
  within-replica pairwise cosines are preserved exactly; cross-replica
  vectors decorrelate so ANN buckets grow ~K-fold in count, not K-fold
  in collision depth.

Timing protocol is bench.py's own (`bench.session_warmup` once per
dataset, then `bench.warm_time` per query: one untimed warm pass,
plan-build + count() min-of-REPS, cache cleared after each query).
Output: one JSON line with both SFs' timings and their ratios.

Usage:
    python tools/scale10.py            # build (if absent) + run
    python tools/scale10.py --rebuild  # force dataset rebuild
    python tools/scale10.py --k 10 --reps 2 --queries q1_pricing_summary,...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_SF = "/root/testdata/sf0.1"
OFFSET = 10_000_000  # > every sf0.1 max key; lpad-20 / 2^63 safe at K=10

# Heaviest + one representative per family (BENCH_FULL.json top costs).
DEFAULT_QUERIES = [
    "dedup_prefix_filter",
    "dedup_lsh_audit",
    "dedup_aligned_spans",
    "dedup_keeper_quality",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_exact",
    "dedup_clusters",
    "dedup_pagerank",
    "ann_ivf",
    "ann_lsh",
    "ann_pq",
    "text_tfidf",
    "text_bm25",
    "media_phash_dedup",
    # in the sample since r11: its fixed-fraction probe batch was
    # 97.7x/decade for 4 rounds and NO sweep ever sampled it — the
    # capped version must stay observed (4.36x/decade measured r11)
    "media_feature_retrieval",
    "layout_bloom_prejoin",
    "pipeline_leakage_split",
    "pipeline_pack_sequences",
    "q1_pricing_summary",
    "q9_profit_by_nation",
    "q21_sole_blame_supplier",
    "events_session",
    "events_ohlc",
    "events_asof_join",
    "embed_covariance",
    "embed_drift",
]


def build_dataset(spark, out_dir: str, k: int) -> None:
    from pyspark.sql import functions as F

    from spark_ij_spark.session import load_tables

    os.makedirs(out_dir, exist_ok=True)
    t = load_tables(spark, SRC_SF)

    def replicate(df, exprs_fn):
        parts = []
        for i in range(k):
            parts.append(df.select(*exprs_fn(i)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def off(col, i):
        return F.expr(f"{col} + CAST({i} AS BIGINT) * {OFFSET}").alias(col)

    plans = {
        # dimensions stay fixed — the realistic shape (nations don't 10x)
        "region": lambda df: df,
        "nation": lambda df: df,
        "customer": lambda df: replicate(
            df, lambda i: [off("c_custkey", i), "c_name", "c_nationkey",
                           "c_acctbal", "c_mktsegment"]),
        "supplier": lambda df: replicate(
            df, lambda i: [off("s_suppkey", i), "s_name", "s_nationkey",
                           "s_acctbal"]),
        "part": lambda df: replicate(
            df, lambda i: [off("p_partkey", i), "p_name", "p_brand",
                           "p_type", "p_size", "p_retailprice"]),
        "orders": lambda df: replicate(
            df, lambda i: [off("o_orderkey", i), off("o_custkey", i),
                           "o_orderstatus", "o_totalprice", "o_orderdate",
                           "o_orderpriority"]),
        "lineitem": lambda df: replicate(
            df, lambda i: [off("l_orderkey", i), off("l_partkey", i),
                           off("l_suppkey", i), "l_linenumber", "l_quantity",
                           "l_extendedprice", "l_discount", "l_tax",
                           "l_returnflag", "l_linestatus", "l_shipdate"]),
        "events": lambda df: replicate(
            df, lambda i: [off("event_id", i), "ts", off("user_id", i),
                           "event_type", "value", "props"]),
        "documents": lambda df: replicate(
            df, lambda i: [
                off("doc_id", i),
                (F.col("text") if i == 0 else F.expr(
                    "array_join(transform(split(text, ' '),"
                    f" t -> concat('r{i}x', t)), ' ')")).alias("text"),
                "lang", "source", "n_chars"]),
        "embeddings": lambda df: replicate(
            df, lambda i: [
                off("vec_id", i),
                # rotate by i (mod dims); past one full cycle (K > 64)
                # also negate so replicas stay pairwise distinct — a
                # repeat rotation would clone vectors across replicas
                # and double ANN bucket collision depth artificially
                (F.col("embedding") if i == 0 else F.expr(
                    ("transform({0}, x -> -x)" if (i // 64) % 2 else "{0}")
                    .format(
                        f"concat(slice(embedding, {i % 64} + 1, 64 - {i % 64}),"
                        f" slice(embedding, 1, {i % 64}))"
                    ))).alias("embedding"),
                "label"]),
    }
    for name, fn in plans.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        fn(t[name]).repartition(8 if name in
                                ("lineitem", "events", "orders") else 2
                                ).write.mode("overwrite").parquet(path)
        print(f"  built {name}", flush=True)


def time_queries(spark, qs, names, sf_dir: str, reps: int) -> dict[str, float]:
    from bench import session_warmup, warm_time

    session_warmup(spark, qs, sf_dir)
    out: dict[str, float] = {}
    for name in names:
        out[name] = round(warm_time(spark, qs[name], sf_dir, reps), 4)
        print(f"  {sf_dir.split('/')[-1]} {name}: {out[name]}s", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", type=str, default="")
    args = ap.parse_args()

    names = [q for q in args.queries.split(",") if q] or DEFAULT_QUERIES
    out_dir = os.path.join(REPO, ".scratch", f"sf1_k{args.k}")

    from spark_ij_spark.session import get_spark

    spark = get_spark("scale10")
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild or not os.path.exists(
        os.path.join(out_dir, "embeddings.parquet")
    ):
        print(f"building {out_dir} (k={args.k})...", flush=True)
        build_dataset(spark, out_dir, args.k)

    import __spark_entry__ as mod

    qs = mod.queries()
    names = [n for n in names if n in qs]
    base = time_queries(spark, qs, names, SRC_SF, args.reps)
    big = time_queries(spark, qs, names, out_dir, args.reps)
    ratios = {n: round(big[n] / base[n], 2) if base[n] > 0 else None
              for n in names}
    print(json.dumps({"k": args.k, "base_total": round(sum(base.values()), 2),
                      "big_total": round(sum(big.values()), 2),
                      "base": base, "big": big, "ratio": ratios}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
