"""Native Spark bucketed tables (bucketBy + saveAsTable): the co-located
join path the brief's 100 TB posture calls for — both fact tables
pre-bucketed on the join key mean the join runs with ZERO Exchange nodes,
the shuffle paid once at write time instead of on every query.

This pins the PLAN property: bucketed scan → SortMergeJoin with no
Exchange on either side.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    """Two tables bucketed 8-ways on the shared key, registered in the
    session catalog with external paths under tmp_path."""
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    for name, df in (("bkt_left", left), ("bkt_right", right)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / name))
         .mode("overwrite").saveAsTable(name))
    yield "bkt_left", "bkt_right"
    for name in ("bkt_left", "bkt_right"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    """Equi-join of two co-bucketed tables must not shuffle either side:
    bucket pruning feeds the SortMergeJoin directly. Broadcast is
    disabled for the assertion so the small fixtures take the same path
    a 100 TB fact-fact join would."""
    lname, rname = bucketed_pair
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(lname).join(spark.table(rname), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_aggregation_skips_shuffle(spark, bucketed_pair):
    """groupBy on the bucket key reuses the write-time partitioning: no
    Exchange before the final aggregate either."""
    lname, _ = bucketed_pair
    agg = spark.table(lname).groupBy("k").agg(F.sum("a").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert agg.count() == 1000
