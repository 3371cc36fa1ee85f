"""Salted two-stage aggregation: result parity with plain groupBy and the
two-exchange physical shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from ot_spark import skew


def _skewed(spark):
    # one mega-key (90% of rows) + a long tail
    return spark.range(0, 20000).select(
        F.col("id").alias("rid"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3 % 1000).alias("v"),
    )


def test_salted_equals_plain_groupby(spark):
    df = _skewed(spark)
    plain = {
        (r.k): (r.n, r.s, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").alias("s"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s, r.mx)
        for r in skew.salted_agg(
            df,
            ["k"],
            counts={"n": F.lit(1)},
            sums={"s": F.col("v")},
            maxs={"mx": F.col("v")},
            n_salt=8,
            unique_col="rid",
        ).collect()
    }
    assert salted == plain


def test_salt_spreads_hot_key(spark):
    df = skew.with_salt(_skewed(spark), n_salt=8, unique_col="rid")
    per_salt = (
        df.where("k = 7").groupBy(skew.SALT_COL).count().collect()
    )
    assert len(per_salt) == 8                 # hot key hits every salt bucket
    counts = [r["count"] for r in per_salt]
    assert max(counts) < 2 * min(counts)      # roughly even spread


def test_two_stage_plan_shape(spark):
    out = skew.salted_agg(
        _skewed(spark), ["k"], counts={"n": F.lit(1)}, n_salt=8, unique_col="rid"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two hash aggregates per stage (partial+final) -> 4 HashAggregate nodes
    assert plan.count("HashAggregate") >= 4
