"""``with_global_seq``: dense global ranks from ``start``, equal to a
driver-side sort, at any range-partition count — including skewed keys that
leave range partitions empty, and when the output is read through a union
behind another frame with no pin in between — stamped without a Python
stage."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.plans import with_global_seq
from crawler_service_spark.plans.bucketing import plan_string

START = 1_000


def skewed(spark, n_rows=400):
    """Key 0 holds 90% of the rows; ``id`` is the unique tiebreak. With fewer
    rows than range partitions, some partitions are necessarily empty."""
    rows = [(0 if i % 10 else i, i, f"r{i}") for i in range(n_rows)]
    return spark.createDataFrame(rows, "k long, id long, tag string")


def expected(df):
    ordered = sorted(df.collect(), key=lambda r: (r["k"], r["id"]))
    return {r["id"]: START + i for i, r in enumerate(ordered)}


def stamp(df, n):
    return with_global_seq(
        df, [F.col("k").asc(), F.col("id").asc()], seq_col="seq", start=START,
        num_partitions=n,
    )


@pytest.mark.parametrize("n_rows", [400, 6])
@pytest.mark.parametrize("n", [1, 3, 8, 17])
def test_seqs_equal_driver_side_rank(spark, n, n_rows):
    df = skewed(spark, n_rows)
    out = stamp(df, n)
    assert out.columns == ["k", "id", "tag", "seq"]
    got = {r["id"]: r["seq"] for r in out.collect()}
    assert got == expected(df)
    assert sorted(got.values()) == list(range(START, START + n_rows))


@pytest.mark.parametrize("n_rows", [400, 6])
@pytest.mark.parametrize("n", [1, 3, 8, 17])
def test_seqs_hold_through_an_unpinned_union(spark, n, n_rows):
    df = skewed(spark, n_rows)
    head = spark.createDataFrame(
        [(-1, -i, "head", -i) for i in range(1, 30)], "k long, id long, tag string, seq long"
    ).repartition(5)
    out = head.unionByName(stamp(df, n))
    got = {r["id"]: r["seq"] for r in out.collect() if r["tag"] != "head"}
    assert got == expected(df)


def test_empty_input_gives_no_rows(spark):
    df = spark.createDataFrame([], "k long, id long, tag string")
    assert stamp(df, 4).collect() == []


def test_stamp_runs_in_the_jvm(spark):
    plan = plan_string(stamp(skewed(spark), 4))
    assert not re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan, re.IGNORECASE), plan
