"""Bucketed co-located joins: no Exchange in the joined plan."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from geolake_spark.write import write_bucketed

from conftest import ROOT


def _cleanup(spark):
    for t in ("b_left", "b_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(os.path.join(ROOT, "spark-warehouse"),
                  ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, pages):
    _cleanup(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the sort-merge path (broadcast would hide the bucketing effect);
    # the claim under test: same-bucketed tables SMJ with NO shuffle Exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = pages.select("url", "lat", "lon")
        right = pages.select("url", "lang")
        write_bucketed(left, "b_left", ["url"], n_buckets=8)
        write_bucketed(right, "b_right", ["url"], n_buckets=8)
        j = spark.table("b_left").join(spark.table("b_right"), "url")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        assert j.count() == pages.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        _cleanup(spark)
