"""Skew handling: the session's AQE configuration splits a skewed join."""


def test_aqe_splits_skewed_join(spark):
    """The session's AQE config actually splits a skewed join at runtime:
    the final adaptive plan marks the join skew=true and reads the hot
    partition through a skew-aware AQEShuffleRead (north-rule requirement:
    'AQE skew-join handling')."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # thresholds scaled down so the test corpus triggers the optimizer
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(400000).select(
            F.when(F.col("id") < 380000, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(20000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 380000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # the hot key was split, not serialized
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
