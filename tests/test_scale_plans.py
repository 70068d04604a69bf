"""Scale utilities: bucketed shuffle-free joins, salted skew joins,
per-slice stack processing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_ij_spark.plans import scale
from spark_ij_spark.session import load_tables

from .conftest import SF_DIR


def test_broadcast_policy_is_runtime_size_only(spark):
    """The round-8 scale rule: no static auto-broadcast (plan-time
    size estimates of derived frames lie — a corpus-sized postings
    frame was estimated broadcastable at sf~10 and OOMed the driver),
    broadcasts come only from explicit hints or AQE's runtime-measured
    sizes. A refactor of get_spark that restores static auto-broadcast
    reintroduces the OOM class silently — fail here instead."""
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    assert (
        int(spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
        > 0
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # runtime skew-join splitting is the other half of the runtime-
    # truth story (hot keys split into subpartitions at shuffle time)
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )


def test_bucketed_join_has_no_exchange(spark):
    t = load_tables(spark, SF_DIR, ["orders", "lineitem"])
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    scale.write_bucketed(
        t["orders"].withColumnRenamed("o_orderkey", "okey"), "b_orders", "okey", 8
    )
    scale.write_bucketed(
        t["lineitem"].withColumnRenamed("l_orderkey", "okey"),
        "b_lineitem",
        "okey",
        8,
    )
    joined = scale.bucketed_join(spark, "b_orders", "b_lineitem", "okey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    assert joined.count() == t["lineitem"].count()
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")


def test_salted_join_equals_plain_join(spark):
    t = load_tables(spark, SF_DIR, ["lineitem", "part"])
    fact = t["lineitem"].select(
        F.col("l_partkey").alias("pk"), "l_quantity", "l_orderkey", "l_linenumber"
    )
    dim = t["part"].select(F.col("p_partkey").alias("pk"), "p_name")
    plain = fact.join(dim, "pk")
    salted = scale.salted_join(fact, dim, "pk", salt=4)
    assert salted.count() == plain.count()
    cols = sorted(plain.columns)
    a = sorted(tuple(r[c] for c in cols) for r in plain.collect())
    b = sorted(tuple(r[c] for c in cols) for r in salted.collect())
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    # one pathological key: every fact row hits pk=1
    fact = spark.range(1000).select(
        F.lit(1).alias("pk"), F.col("id").alias("v")
    )
    dim = spark.range(3).select(F.col("id").cast("int").alias("pk"), F.lit("x").alias("t"))
    out = scale.salted_join(fact, dim, "pk", salt=8)
    assert out.count() == 1000
    # salt column never leaks into the result
    assert "__salt" not in out.columns


def test_partitioned_layout_prunes_at_scan(spark, tmp_path):
    """A filter on the partition column must prune directories at the
    scan (PartitionFilters), reading only the matching partition."""
    ev = load_tables(spark, SF_DIR, ["events"])["events"].withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    scale.write_partitioned(ev, path, ["day"])
    got = scale.read_pruned(spark, path).filter(F.col("day") == "2024-01-02")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(day" in plan
    # correctness: pruned read equals the filtered full read
    want = ev.filter(F.col("day") == "2024-01-02").count()
    assert got.count() == want and want > 0


def test_processor_for_each_per_slice(spark):
    from spark_ij_spark.datamodel import image_to_np
    from spark_ij_spark.operators.images import create_empty_images, processor_for_each

    imgs = create_empty_images(
        spark, "s", 2, width=4, height=3, value_fn=lambda i: 1.0, slices=3
    )
    out = imgs.select(
        "sample",
        processor_for_each(
            "image", lambda sl: sl + np.float32(2.0), "add2"
        ).alias("image"),
    )
    for r in out.collect():
        arr = image_to_np(r.image)
        assert arr.shape == (3, 4, 3)
        assert float(arr.mean()) == 3.0
        assert r.image.log[-1].opval == "add2"


def test_embed_blocks_bounds_tile_size():
    """The dense-matmul tile cover must GROW with the vector count so
    no single cogroup tile's score matrix outruns memory (the sf~10
    JVM-death class). Floor at the oracle SFs (plans unchanged),
    proportional above the per-block target."""
    from spark_ij_spark.operators import dedup

    assert dedup.embed_blocks(0) == dedup.EMBED_BLOCKS
    assert dedup.embed_blocks(2_000) == dedup.EMBED_BLOCKS  # sf0.1
    big = dedup.embed_blocks(200_000)  # the sf~10 replica corpus
    assert big * dedup.EMBED_BLOCK_TARGET_ROWS >= 200_000
    # 10x the vectors -> ~10x the blocks (tile row-count stays bounded)
    assert dedup.embed_blocks(2_000_000) >= 10 * big * 0.9


def test_semdedup_chunked_matmul_matches_full():
    """The row-chunked within-cell matmul (bounded-memory slab path,
    only exercised above 1024 rows — cells at test SF are ~50) must
    produce the exact kill set the full n x n matrix does."""
    import numpy as np

    rng = np.random.RandomState(7)
    n, dims, tau = 2500, 16, 0.35
    A = rng.randint(-1000, 1000, size=(n, dims)).astype(np.int64)
    ids = rng.permutation(n).astype(np.int64)
    nrm = np.sqrt((A * A).sum(axis=1).astype(np.float64))
    # full-matrix reference
    cos_full = (A @ A.T).astype(np.float64) / (nrm[:, None] * nrm[None, :])
    ref = ((cos_full >= tau) & (ids[:, None] < ids[None, :])).any(axis=0)
    # slab path, identical to clustering.cell_kill's loop
    chunk = 1024
    got = np.zeros(n, dtype=bool)
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        cos = (A[s:e] @ A.T).astype(np.float64) / (
            nrm[s:e, None] * nrm[None, :]
        )
        got |= ((cos >= tau) & (ids[s:e, None] < ids[None, :])).any(axis=0)
    assert (got == ref).all()


@pytest.mark.parametrize(
    "query", ["q_dedup_clusters", "q_dedup_kcore", "q_dedup_pagerank"]
)
def test_graph_loops_ignore_the_partition_count(spark, query):
    """The loop frames take their partition count from the session
    (spark.sql.shuffle.partitions, AQE-coalesced): the same rows come
    back at 3 and at 11 shuffle partitions. The cache is cleared before
    each run so neither run reads the other's cached edge frames."""
    from spark_ij_spark.operators import dedup

    old = spark.conf.get("spark.sql.shuffle.partitions")
    rows = {}
    try:
        for n in ("3", "11"):
            spark.catalog.clearCache()
            spark.conf.set("spark.sql.shuffle.partitions", n)
            rows[n] = sorted(getattr(dedup, query)(spark, SF_DIR).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows["3"] == rows["11"]
    assert rows["3"]


def test_checkpoint_probes_ride_the_checkpoint_job(spark):
    """session.checkpoint measures its probes inside the checkpoint's own
    job: the probe values equal separate count()s, and the job count
    equals that of a bare localCheckpoint() of the same frame."""
    from perfbench.probes import job_counts
    from spark_ij_spark.session import checkpoint

    sc = spark.sparkContext
    grouped = (
        spark.range(1000)
        .groupBy((F.col("id") % 37).alias("k"))
        .agg(F.count("*").alias("n"))
    )

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            return build(), job_counts(sc, group)[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    (cp, probe), with_probes = jobs(
        "checkpoint-probes",
        lambda: checkpoint(
            grouped,
            rows=F.count(F.lit(1)),
            big=F.count(F.when(F.col("n") > 27, 1)),
        ),
    )
    _, bare = jobs("checkpoint-bare", grouped.localCheckpoint)
    assert probe == {
        "rows": grouped.count(),
        "big": grouped.filter(F.col("n") > 27).count(),
    }
    assert probe == {"rows": 37, "big": 1}
    assert with_probes == bare > 0
    assert sorted(cp.collect()) == sorted(grouped.collect())


@pytest.mark.parametrize(
    "query", ["q_dedup_clusters", "q_dedup_kcore", "q_dedup_pagerank"]
)
def test_graph_loops_on_an_empty_near_dup_graph(spark, monkeypatch, query):
    """No pair reaches the threshold: every loop frame is empty, each
    checkpoint probe reads 0 (a count, never a NULL sum), and the query
    returns 0 rows instead of raising."""
    from spark_ij_spark.operators import dedup

    monkeypatch.setattr(dedup, "JACCARD_THRESHOLD", 1.01)
    assert getattr(dedup, query)(spark, SF_DIR).count() == 0


def test_cc_raises_when_fixpoint_not_reached(spark, monkeypatch):
    """The CC loop needs 2 rounds at SF_DIR; capped at 1 it must raise,
    not return the intermediate labels — a fixpoint probe that always
    read 0 would pass silently here."""
    from spark_ij_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not reach fixpoint"):
        dedup.q_dedup_clusters(spark, SF_DIR)


def test_plan_signatures_match_committed(spark):
    """Every graded query's pre-AQE physical plan, reduced to operator
    counts (tools/plan_sweep.py), equals its committed PLANS.json line,
    and none holds a CartesianProduct (under the runtime-size-only
    broadcast policy, a non-equi join whose bounded side loses its
    F.broadcast() hint degrades to one), a BatchEvalPython (a
    row-at-a-time Python UDF) or a RepeatedPythonCall (a Python node
    that evaluates one UDF call for two of its outputs). The second
    check is a hard rule that no regenerated PLANS.json can accept.
    Plans are built, never executed (driver-side calibration actions
    inside query composition still run — sub-second at SF_DIR). A plan
    that moved on purpose is committed with
    `python tools/plan_sweep.py > PLANS.json` and its diff reviewed
    like code."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_sweep import diff, forbidden, load, sweep

    got = sweep(spark, SF_DIR)
    bad = {name: ops for name, sig in got.items() if (ops := forbidden(sig))}
    assert not bad, f"forbidden plan operators: {bad}"
    moved = diff(load(), got)
    assert not moved, f"plans differ from PLANS.json (expected → got):\n{moved}"
