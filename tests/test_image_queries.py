"""Image-kernel queries against their DuckDB oracles (the driver gate)."""

from __future__ import annotations

import pytest

from spark_ij_spark.operators import image_queries

from .conftest import assert_oracle_match


@pytest.mark.parametrize("name", sorted(image_queries.QUERIES))
def test_image_query_matches_oracle(spark, duck, name):
    assert_oracle_match(
        spark, duck, image_queries.QUERIES[name], image_queries.ORACLES[name]
    )


def test_vectorized_particles_equal_kernel(spark, sf_dir):
    """The batch-vectorized run detection in q_img_threshold_particles
    must agree image-for-image with the general applyThreshold +
    analyze_particles kernel path."""
    from spark_ij_spark.datamodel import image_to_np
    from spark_ij_spark.kernels.particles import analyze_particles
    from spark_ij_spark.registry import run_op

    imgs = image_queries.order_quantity_images(spark, sf_dir).limit(200).collect()
    got = {
        r.l_orderkey: (r.n_particles, r.total_area)
        for r in image_queries.q_img_threshold_particles(spark, sf_dir).collect()
    }
    for row in imgs:
        arr = image_to_np(row.image)
        masked, _ = run_op(arr, "applyThreshold", "lower=25 upper=1e9", {})
        areas = analyze_particles(masked).get("Area", [])
        assert got[row.l_orderkey] == (len(areas), float(sum(areas)))


def test_vectorized_batch_means_equal_per_image_kernel(spark, sf_dir):
    """The batch-wise stats (the engine's ``image_stats`` in order
    stats; concatenate + segmented reduceat in the scale/subtract
    residual and the sweep op+mean) must agree image-for-image with
    the per-image kernel path: batching is only a physical rewrite
    (sums of integral float32 quantities are order-exact), never a
    semantic one."""
    from spark_ij_spark.datamodel import image_to_np
    from spark_ij_spark.registry import run_op

    imgs = image_queries.order_quantity_images(spark, sf_dir).limit(200).collect()

    stats = {
        r.l_orderkey: (r.min_qty, r.mean_qty, r.max_qty, r.n_pixels)
        for r in image_queries.q_img_order_stats(spark, sf_dir).collect()
    }
    resid = {
        r.l_orderkey: r.residual_mean
        for r in image_queries.q_img_scale_subtract(spark, sf_dir).collect()
    }
    sweep = {
        r.sweep_key: r.mean_val
        for r in image_queries.q_img_sweep_multiply(spark, sf_dir).collect()
    }
    for row in imgs:
        a = image_to_np(row.image).astype("float64")
        assert stats[row.l_orderkey] == (
            float(a.min()),
            float(a.sum() / a.size),
            float(a.max()),
            int(a.size),
        )
        assert resid[row.l_orderkey] == float(
            (a * 3.0 - a - a).sum() / a.size
        )
        for step, arg in enumerate(["value=1", "value=2", "value=3"]):
            out, _ = run_op(
                image_to_np(row.image), "Multiply...", arg, {}
            )
            key = f"{row.l_orderkey}__value_{step + 1}"
            assert sweep[key] == float(out.astype("float64").mean())
