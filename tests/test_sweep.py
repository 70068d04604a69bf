"""Parameter sweep semantics (reference: ParameterSweep.scala,
scOps.scala:207-224 runRange)."""

from __future__ import annotations

import numpy as np
import pytest

from spark_ij_spark.operators.images import create_empty_images, image_stats
from spark_ij_spark.operators.sweep import (
    fixed_range,
    history_to_sweep,
    linear_range,
    log_range,
    macro_parse_args,
    macro_steps_to_sweep,
    parse_args_with_delim,
    run_range,
    sweep_to_path,
)


class TestGrammar:
    def test_parse_kv_and_flags(self):
        assert parse_args_with_delim("-radius=3 -white", "-") == {
            "radius": "3",
            "white": "true",
        }

    def test_space_delim(self):
        assert parse_args_with_delim("radius=3 white", " ") == {
            "radius": "3",
            "white": "true",
        }

    def test_join_fills_false(self):
        m = macro_parse_args(["radius=1", "radius=5 white"], " ")
        assert m == {"radius": ["1", "5"], "white": ["false", "true"]}


class TestInterpolation:
    def test_int_preserving(self):
        # 1..5 in 5 steps → exact integer lattice (ParameterSweep.scala:246-252)
        out = macro_steps_to_sweep(["radius=1", "radius=5"], steps=5, delim=" ")
        assert out == ["radius=1", "radius=2", "radius=3", "radius=4", "radius=5"]

    def test_int_dedupe(self):
        # 1..2 in 5 steps → integer dedupe collapses repeats
        out = macro_steps_to_sweep(["radius=1", "radius=2"], steps=5, delim=" ")
        assert out == ["radius=1", "radius=2"]

    def test_float_interpolation(self):
        out = macro_steps_to_sweep(["sigma=1.0", "sigma=2.0"], steps=3, delim=" ")
        assert out == ["sigma=1.0", "sigma=1.5", "sigma=2.0"]

    def test_constant_args_collapse(self):
        out = macro_steps_to_sweep(
            ["radius=1 white", "radius=3 white"], steps=3, delim=" "
        )
        assert out == ["radius=1 white", "radius=2 white", "radius=3 white"]

    def test_cartesian_cross(self):
        out = macro_steps_to_sweep(
            ["a=1 b=10", "a=3 b=30"], steps=3, delim=" "
        )
        # 3 × 3 = 9 combos
        assert len(out) == 9
        assert "a=1 b=10" in out and "a=3 b=30" in out and "a=2 b=20" in out

    def test_zipped_cross(self):
        out = macro_steps_to_sweep(
            ["a=1 b=10", "a=3 b=30"], steps=3, cartesian=False, delim=" "
        )
        assert out == ["a=1 b=10", "a=2 b=20", "a=3 b=30"]

    def test_steps_guard(self):
        with pytest.raises(ValueError):
            macro_steps_to_sweep(["a=1", "a=5"], steps=1, delim=" ")

    def test_cartesian_cap(self):
        with pytest.raises(ValueError):
            macro_steps_to_sweep(
                ["a=1 b=1 c=1 d=1", "a=99999 b=99999 c=99999 d=99999"],
                steps=100,
                delim=" ",
            )


class TestSweepToPath:
    def test_static_elision(self):
        paths = sweep_to_path(
            ["radius=1 white", "radius=2 white"], new_directories=False, delim=" "
        )
        # "white" never varies → elided (ParameterSweep.scala:160-170)
        assert paths == ["radius_1", "radius_2"]

    def test_multi_key_join(self):
        paths = sweep_to_path(
            ["a=1 b=10", "a=2 b=20"], new_directories=False, delim=" "
        )
        assert paths == ["a_1__b_10", "a_2__b_20"]

    def test_directory_sep(self):
        paths = sweep_to_path(["a=1 b=10", "a=2 b=20"], new_directories=True, delim=" ")
        assert paths == ["a_1/b_10", "a_2/b_20"]


class TestNamedRanges:
    def test_linear(self):
        r = linear_range("rad", "radius", 0.0, 10.0, 5)
        assert [p for _, p in r] == [
            "-radius=0.0",
            "-radius=2.0",
            "-radius=4.0",
            "-radius=6.0",
            "-radius=8.0",
        ]

    def test_log(self):
        r = log_range("s", "sigma", 1.0, 100.0, 2)
        vals = [float(p.split("=")[1]) for _, p in r]
        assert vals == pytest.approx([1.0, 10.0])

    def test_fixed_names(self):
        r = fixed_range("rad", "radius", [1.5])
        assert r == [("rad:1.5", "-radius=1.5")]


class TestHistoryToSweep:
    def test_run_entries(self):
        # build the log the way PRODUCTION does (lineage.log_entry
        # stores the command in opval and the tool enum in optool) —
        # the old hand-crafted dicts put the command in optool, a
        # shape no engine code path ever creates, and masked
        # history_to_sweep reading the wrong field
        from spark_ij_spark import lineage

        log = [
            lineage.log_entry(lineage.OP_RUN, "Median...", ["radius=3"]),
            lineage.log_entry(lineage.OP_RUN, "Multiply...", ["value=2"]),
        ]
        assert (
            history_to_sweep(log)
            == "Median...:radius=3_Multiply...:value=2"
        )

    def test_empty_raises(self):
        with pytest.raises(ValueError):
            history_to_sweep([])


class TestRunRange:
    def test_fanout_and_values(self, spark):
        imgs = create_empty_images(
            spark, "img", 3, width=4, height=4, value_fn=lambda i: 10.0
        )
        swept = run_range(imgs, "Multiply...", "value=1", "value=3", steps=3)
        rows = swept.select("sample", image_stats("image").alias("s")).collect()
        # 3 images × 3 variants
        assert len(rows) == 9
        by_sample = {r["sample"]: r["s"]["mean"] for r in rows}
        assert by_sample["img0__value_1"] == pytest.approx(10.0)
        assert by_sample["img0__value_2"] == pytest.approx(20.0)
        assert by_sample["img2__value_3"] == pytest.approx(30.0)

    def test_bracketed_projection_sweep(self, spark):
        """A sweep over the recorder's bracketed values runs exactly the
        two projections it names: per image one row each, equal to
        registry.run_op with that projection and logging the rendered
        variant as its args."""
        from spark_ij_spark import registry
        from spark_ij_spark.datamodel import image_to_np, log_of, np_to_image
        from spark_ij_spark.sources.images import NAMED_IMAGE_SCHEMA

        stacks = np.random.default_rng(3).random((2, 5, 4, 3)).astype("float32")
        df = spark.createDataFrame(
            [(f"s{i}", np_to_image(a)) for i, a in enumerate(stacks)], NAMED_IMAGE_SCHEMA
        ).withColumnRenamed("path", "sample")
        swept = run_range(
            df, "Z Project...", "projection=[Max Intensity]", "projection=[Sum Slices]", steps=2
        )
        rows = swept.select("sample", "image").collect()
        projections = ("Max Intensity", "Sum Slices")
        assert sorted(r.sample for r in rows) == sorted(
            f"s{i}__projection_{p}" for i in range(len(stacks)) for p in projections
        )
        got = {r.sample: r.image for r in rows}
        for i, a in enumerate(stacks):
            for p in projections:
                img = got[f"s{i}__projection_{p}"]
                want, _ = registry.run_op(a, "Z Project...", f"projection=[{p}]")
                np.testing.assert_array_equal(image_to_np(img), image_to_np(np_to_image(want)))
                assert log_of(img)[-1]["opargs"] == [f"projection=[{p}]"]

    def test_broadcast_no_shuffle(self, spark):
        """The fan-out is one in-stage generate over a constant-folded
        parameter list: no broadcast, no exchange, no parallelized-list
        scan."""
        imgs = create_empty_images(spark, "img", 2, width=2, height=2)
        swept = run_range(imgs, "Multiply...", "value=1", "value=2", steps=2)
        plan = swept._jdf.queryExecution().executedPlan().toString()
        assert "Generate inline" in plan
        for node in (
            "BroadcastExchange",
            "BroadcastNestedLoopJoin",
            "Exchange",
            "Scan ExistingRDD",
        ):
            assert node not in plan, node

    def test_fanout_runs_one_job(self, spark):
        """A sweep over a cached, materialized frame is one Spark job
        under a noop write: no job collects the parameter list and no
        adaptive query stage re-reads the cache."""
        from perfbench.probes import job_counts

        sc = spark.sparkContext
        imgs = create_empty_images(spark, "img", 4, width=8, height=8).cache()
        imgs.count()
        swept = run_range(imgs, "Gaussian Blur...", "sigma=1", "sigma=3", steps=3)
        sc.setJobGroup("run-range-jobs", "run-range-jobs")
        try:
            swept.write.format("noop").mode("overwrite").save()
            jobs, _ = job_counts(sc, "run-range-jobs")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            imgs.unpersist()
        assert jobs == 1


class TestRound8ReviewRegressions:
    def test_delimiter_inside_value_is_preserved(self):
        assert parse_args_with_delim("-size=0-Infinity -white", "-") == {
            "size": "0-Infinity",
            "white": "true",
        }
        assert parse_args_with_delim("-x=-3", "-") == {"x": "-3"}

    def test_zipped_steps2_pads_constant_keys(self):
        out = macro_steps_to_sweep(
            ["radius=1 white", "radius=5 white"],
            steps=2,
            cartesian=False,
            delim=" ",
        )
        assert out == ["radius=1 white", "radius=5 white"]

    def test_integer_lattice_is_direction_symmetric(self):
        fwd = macro_steps_to_sweep(["radius=1", "radius=10"], steps=4, delim=" ")
        rev = macro_steps_to_sweep(["radius=10", "radius=1"], steps=4, delim=" ")
        assert fwd == ["radius=1", "radius=4", "radius=7", "radius=10"]
        assert sorted(rev) == sorted(fwd)
