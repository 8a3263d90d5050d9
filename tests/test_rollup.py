"""Rollup cascade: every level must equal a direct GROUP BY over the
raw rows at that resolution (the cascade is an optimization, never a
semantic change), plus validation and scan-reuse plan shape."""

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import rollup_cascade


@pytest.fixture(scope="module")
def raw(spark):
    rng = random.Random(31)
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            base + dt.timedelta(seconds=rng.randint(0, 3 * 86400)),
            rng.choice(["a", "b"]),
            round(rng.uniform(0, 10), 3),
        )
        for _ in range(800)
    ]
    # null values exercise count/avg null semantics
    rows += [(base + dt.timedelta(seconds=50), "a", None)] * 3
    return spark.createDataFrame(
        rows, "ts timestamp, k string, v double"
    ).cache()


MEASURES = {
    "n": ("count", "*"),
    "v_sum": ("sum", "v"),
    "v_avg": ("avg", "v"),
    "v_min": ("min", "v"),
    "v_max": ("max", "v"),
}
LEVELS = [60.0, 3600.0, 86400.0]
LEVELS_5 = [60.0, 300.0, 3600.0, 21600.0, 86400.0]


def direct_level(df, width):
    """The semantic definition: one GROUP BY over raw at this width."""
    b = (F.floor(F.unix_micros(F.col("ts")) / F.lit(1e6) / F.lit(width)) * F.lit(
        int(width)
    )).cast("long")
    return (
        df.groupBy(b.alias("bucket_start"), "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").alias("v_sum"),
            F.avg("v").alias("v_avg"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
    )


def by_key(rows):
    """(bucket_start, k) → the measures, floats rounded to 6 places."""
    return {
        (r["bucket_start"], r["k"]): (
            r["n"],
            round(r["v_sum"] or 0, 6),
            round(r["v_avg"], 6) if r["v_avg"] is not None else None,
            r["v_min"],
            r["v_max"],
        )
        for r in rows
    }


class TestCascadeExactness:
    @pytest.fixture(scope="class")
    def rolled(self, raw):
        return rollup_cascade(
            raw, ts="ts", keys="k", measures=MEASURES, levels=LEVELS
        ).cache()

    @pytest.mark.parametrize("width", LEVELS)
    def test_level_equals_direct_groupby(self, raw, rolled, width):
        got = by_key(rolled.filter(F.col("level_sec") == width).collect())
        assert got == by_key(direct_level(raw, width).collect())

    def test_avg_is_not_average_of_averages(self, spark):
        # two 1m buckets with very different counts inside one hour:
        # a naive avg-of-avgs would give 5.5, the exact hourly avg is 1.9
        base = dt.datetime(2024, 1, 1)
        rows = [(base, "k", 1.0)] * 9 + [(base + dt.timedelta(minutes=5), "k", 10.0)]
        df = spark.createDataFrame(rows, "ts timestamp, k string, v double")
        out = rollup_cascade(
            df, ts="ts", keys="k",
            measures={"v_avg": ("avg", "v")}, levels=[60.0, 3600.0],
        )
        hourly = out.filter(F.col("level_sec") == 3600.0).collect()
        assert len(hourly) == 1
        assert abs(hourly[0]["v_avg"] - 1.9) < 1e-9

    def test_null_only_bucket_has_null_avg(self, spark):
        base = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(base, "k", None)], "ts timestamp, k string, v double"
        )
        rows = rollup_cascade(
            df, ts="ts", keys="k",
            measures={"n": ("count", "*"), "v_avg": ("avg", "v")},
            levels=[60.0, 3600.0],
        ).collect()
        assert all(r["n"] == 1 and r["v_avg"] is None for r in rows)


class TestValidation:
    def test_rejects_non_nesting_levels(self, raw):
        with pytest.raises(ValueError, match="divide the next"):
            rollup_cascade(raw, keys="k", measures=MEASURES, levels=[60, 90])

    def test_rejects_non_increasing_levels(self, raw):
        with pytest.raises(ValueError, match="strictly increasing"):
            rollup_cascade(raw, keys="k", measures=MEASURES, levels=[3600, 60])

    def test_rejects_non_cascadable_aggregate(self, raw):
        with pytest.raises(ValueError, match="not cascadable"):
            rollup_cascade(
                raw, keys="k",
                measures={"u": ("count_distinct", "v")}, levels=[60],
            )

    def test_rejects_empty_measures(self, raw):
        with pytest.raises(ValueError, match="at least one"):
            rollup_cascade(raw, keys="k", measures={}, levels=[60])

    def test_rejects_measure_colliding_with_avg_physical_name(self, raw):
        """A user measure named like an avg's generated (sum, cnt)
        physical column would be silently clobbered in the physical
        map — wrong numbers with no error — so it must be refused."""
        with pytest.raises(ValueError, match="collides with the physical"):
            rollup_cascade(
                raw, keys="k",
                measures={"_x_sum": ("sum", "v"), "x": ("avg", "v")},
                levels=[60],
            )

    def test_many_levels_each_equal_direct(self, raw):
        """Ten levels in one call: the level count is unbounded, and
        every level still equals a direct GROUP BY over raw."""
        levels = [60 * 2 ** i for i in range(10)]
        rows = rollup_cascade(
            raw, ts="ts", keys="k", measures=MEASURES, levels=levels
        ).collect()
        assert sorted({r["level_sec"] for r in rows}) == levels
        for w in levels:
            got = by_key(r for r in rows if r["level_sec"] == w)
            want = by_key(direct_level(raw, w).collect())
            assert got.keys() == want.keys(), w
            # summation order differs between the paths, so a 6-place
            # rounding can land on either side of a tie
            for k, row in want.items():
                assert got[k] == pytest.approx(row, abs=2e-6), (w, k)


def _shuffle_plan(out):
    """Run ``out`` and return (shuffle-stage count, parquet scans in
    the final plan, the plan text)."""
    import re

    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", final))
    return len(stages), final.count("FileScan parquet"), plan


@pytest.fixture(scope="module")
def parquet_raw(spark, tmp_path_factory):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(seconds=i * 37), "k", float(i % 100 + 1))
        for i in range(400)
    ]
    path = str(tmp_path_factory.mktemp("rollup") / "raw")
    spark.createDataFrame(rows, "ts timestamp, k string, v double").write.parquet(path)
    return spark.read.parquet(path)


class TestPlanShape:
    def test_raw_input_aggregated_once(self, parquet_raw):
        """Every level comes from one finest aggregate: the raw table
        is scanned once and the plan has exactly two aggregate
        shuffles (finest, then all levels at once) for any number of
        levels, with nothing persisted."""
        for levels in (LEVELS, LEVELS_5):
            out = rollup_cascade(
                parquet_raw, ts="ts", keys="k", measures=MEASURES, levels=levels
            )
            stages, scans, plan = _shuffle_plan(out)
            assert stages == 2, plan
            assert scans == 1, plan
            assert "InMemoryTableScan" not in plan


class TestDistinctCascade:
    """distinct / approx_distinct measures: the carried state (key set /
    HLL sketch) must merge EXACTLY up the cascade — every level equals a
    direct COUNT(DISTINCT) over raw at that resolution."""

    @pytest.fixture(scope="class")
    def udf_raw(self, spark):
        rng = random.Random(77)
        base = dt.datetime(2024, 1, 1)
        rows = [
            (
                base + dt.timedelta(seconds=rng.randint(0, 3 * 86400)),
                rng.choice(["a", "b"]),
                rng.randint(0, 40),
            )
            for _ in range(1500)
        ]
        rows += [(base + dt.timedelta(seconds=10), "a", None)] * 4  # nulls
        return spark.createDataFrame(
            rows, "ts timestamp, k string, uid int"
        ).cache()

    @pytest.fixture(scope="class")
    def rolled(self, udf_raw):
        return rollup_cascade(
            udf_raw,
            ts="ts",
            keys="k",
            measures={"u": ("distinct", "uid"), "ua": ("approx_distinct", "uid")},
            levels=LEVELS,
        ).cache()

    @pytest.mark.parametrize("width", LEVELS)
    def test_exact_distinct_equals_direct(self, udf_raw, rolled, width):
        b = (
            F.floor(F.unix_micros(F.col("ts")) / F.lit(1e6) / F.lit(width))
            * F.lit(int(width))
        ).cast("long")
        want = {
            (r["bucket_start"], r["k"]): r["u"]
            for r in udf_raw.groupBy(b.alias("bucket_start"), "k")
            .agg(F.count_distinct(F.col("uid")).alias("u"))
            .collect()
        }
        got = {
            (r["bucket_start"], r["k"]): r["u"]
            for r in rolled.filter(F.col("level_sec") == width).collect()
        }
        assert got == want

    @pytest.mark.parametrize("width", LEVELS)
    def test_hll_estimate_within_bound(self, udf_raw, rolled, width):
        """DataSketches HLL at Spark's default lgConfigK=12 has ~1.6%
        standard error; at these cardinalities (≤ 41, far below the
        sparse→dense transition) it is exact — bound at 5% to stay
        robust to implementation changes."""
        b = (
            F.floor(F.unix_micros(F.col("ts")) / F.lit(1e6) / F.lit(width))
            * F.lit(int(width))
        ).cast("long")
        want = {
            (r["bucket_start"], r["k"]): r["u"]
            for r in udf_raw.groupBy(b.alias("bucket_start"), "k")
            .agg(F.count_distinct(F.col("uid")).alias("u"))
            .collect()
        }
        for r in rolled.filter(F.col("level_sec") == width).collect():
            exact = want[(r["bucket_start"], r["k"])]
            assert abs(r["ua"] - exact) <= max(1, 0.05 * exact), (
                r["bucket_start"], r["k"], r["ua"], exact,
            )

    def test_all_null_group_counts_zero(self, spark):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1), "a", None)],
            "ts timestamp, k string, uid int",
        )
        out = rollup_cascade(
            df, ts="ts", keys="k",
            measures={"u": ("distinct", "uid"), "ua": ("approx_distinct", "uid")},
            levels=[60.0],
        ).collect()
        assert len(out) == 1 and out[0]["u"] == 0 and out[0]["ua"] == 0

    def test_rejects_star_column(self, udf_raw):
        with pytest.raises(ValueError, match="concrete column"):
            rollup_cascade(
                udf_raw, keys="k",
                measures={"u": ("distinct", "*")}, levels=[60],
            )

    def test_rejects_collision_with_generated_set_name(self, udf_raw):
        with pytest.raises(ValueError, match="collides with the physical"):
            rollup_cascade(
                udf_raw, keys="k",
                measures={"_u_set": ("sum", "uid"), "u": ("distinct", "uid")},
                levels=[60],
            )


class TestPercentileRollup:
    """DDSketch-style log-histogram percentile cascade: every level's
    estimate must be within alpha relative error of the EXACT quantile
    (lower-rank definition) computed over raw rows at that resolution,
    including negative / zero / null values."""

    ALPHA = 0.02

    @pytest.fixture(scope="class")
    def pct_raw(self, spark):
        rng = random.Random(5150)
        base = dt.datetime(2024, 1, 1)
        rows = []
        for _ in range(3000):
            r = rng.random()
            if r < 0.03:
                v = 0.0
            elif r < 0.08:
                v = -rng.lognormvariate(1, 1.5)
            elif r < 0.10:
                v = None
            else:
                v = rng.lognormvariate(3, 2)
            rows.append(
                (base + dt.timedelta(seconds=rng.randint(0, 3 * 86400)),
                 rng.choice(["a", "b"]), v)
            )
        return spark.createDataFrame(
            rows, "ts timestamp, k string, v double"
        ).cache()

    @pytest.fixture(scope="class")
    def rolled(self, pct_raw):
        from opentelemetry_collector_spark.operators import percentile_rollup

        return percentile_rollup(
            pct_raw, ts="ts", keys="k", value="v", levels=LEVELS,
            percentiles=(0.5, 0.95, 0.99), alpha=self.ALPHA,
        ).cache()

    @pytest.mark.parametrize("width", LEVELS)
    def test_every_group_within_alpha(self, pct_raw, rolled, width):
        import math

        groups = {}
        for r in pct_raw.filter(F.col("v").isNotNull()).collect():
            b = int(r["ts"].replace(tzinfo=dt.timezone.utc).timestamp() // width * width)
            groups.setdefault((b, r["k"]), []).append(r["v"])
        got = {
            (r["bucket_start"], r["k"]): r
            for r in rolled.filter(F.col("level_sec") == width).collect()
        }
        assert set(got) == set(groups)
        for key, vals in groups.items():
            vals.sort()
            row = got[key]
            assert row["n"] == len(vals)
            for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
                true = vals[math.ceil(q * len(vals)) - 1]
                est = row[col]
                if true == 0:
                    assert est == 0, (key, q, est)
                else:
                    assert abs(est - true) <= self.ALPHA * abs(true) * 1.0001, (
                        key, q, true, est,
                    )

    def test_cascade_matches_direct_finest_restart(self, pct_raw):
        """Coarser levels re-aggregate the finer histogram; the result
        must be IDENTICAL to running the sketch directly over raw at
        the coarse resolution (histogram merge is exact)."""
        from opentelemetry_collector_spark.operators import percentile_rollup

        casc = percentile_rollup(
            pct_raw, ts="ts", keys="k", value="v",
            levels=[60.0, 86400.0], alpha=self.ALPHA,
        ).filter(F.col("level_sec") == 86400.0)
        direct = percentile_rollup(
            pct_raw, ts="ts", keys="k", value="v",
            levels=[86400.0], alpha=self.ALPHA,
        )
        key = lambda r: (r["bucket_start"], r["k"])
        assert sorted(map(tuple, casc.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_raw_scanned_once(self, parquet_raw):
        """Same two-aggregate-shuffle shape as rollup_cascade, plus one
        for the quantile extraction: the cumsum window's exchange over
        the histogram, whose partitioning on (level_sec, bucket_start,
        keys) the extraction aggregate reuses because ``level_sec`` is
        an integer there. The count does not grow with the number of
        levels."""
        from opentelemetry_collector_spark.operators import percentile_rollup

        for levels in (LEVELS, LEVELS_5):
            out = percentile_rollup(
                parquet_raw, ts="ts", keys="k", value="v", levels=levels, alpha=0.01,
            )
            stages, scans, plan = _shuffle_plan(out)
            assert stages == 2 + 1, plan
            assert scans == 1, plan
            assert "InMemoryTableScan" not in plan

    def test_validation(self, pct_raw):
        from opentelemetry_collector_spark.operators import percentile_rollup

        with pytest.raises(ValueError, match="alpha"):
            percentile_rollup(pct_raw, keys="k", value="v", alpha=1.5)
        with pytest.raises(ValueError, match="fractions"):
            percentile_rollup(pct_raw, keys="k", value="v", percentiles=[50.0])
        with pytest.raises(ValueError, match="divide the next"):
            percentile_rollup(pct_raw, keys="k", value="v", levels=[60, 90])
        with pytest.raises(ValueError, match="unique"):
            percentile_rollup(
                pct_raw, keys="k", value="v",
                percentiles=[0.5, 0.9], names=["p", "p"],
            )
