"""The registry's f4/f2 rounding equals DuckDB ROUND bit for bit.

DuckDB rounds a DOUBLE as ``round_half_away(x·10^d) / 10^d`` on the
binary value; Spark's ``round(x, d)`` rounds the shortest decimal form
HALF_UP, so the two disagree on values such as 37.76275 (binary
37.762749999…). ``shape()`` spells out DuckDB's arithmetic instead."""

from __future__ import annotations

import os
import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.plans.registry import REGISTRY, shape

from .conftest import SF_DIR
from .oracle_compare import assert_matches_oracle, duckdb_con

# Mean temperatures whose 5th decimal is a tie in print but not in binary;
# the first two are the devices the sf0.1 fixture's summary_by_device
# used to round off by one in the 4th decimal.
TIES = [37.76275, 31.53375, 38.12875, 38.56625]

SF01_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF01_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.1")
)


def _sample() -> list[float]:
    rng = random.Random(20261017)
    five_dp = [round(rng.uniform(-100, 100), 5) for _ in range(3000)]
    three_dp = [round(rng.uniform(-1e4, 1e4), 3) for _ in range(1000)]
    raw = [rng.uniform(-1e6, 1e6) for _ in range(1000)]
    return TIES + [-t for t in TIES] + five_dp + three_dp + raw


def test_shape_rounds_like_duckdb(spark):
    xs = _sample()
    pdf = pd.DataFrame({"id": range(len(xs)), "x": xs, "y": xs})
    df = spark.createDataFrame(pdf)
    got = shape(df, [("id", ""), ("x", "f4"), ("y", "f2")]).orderBy("id").toPandas()
    want = duckdb.sql(
        "SELECT id, ROUND(x, 4) AS x, ROUND(y, 2) AS y FROM pdf ORDER BY id"
    ).df()
    bad = [
        (xs[i], got.x[i], want.x[i], got.y[i], want.y[i])
        for i in range(len(xs))
        if got.x[i] != want.x[i] or got.y[i] != want.y[i]
    ]
    assert not bad, bad[:10]
    # The ties exercise the defect: Spark's own round(x, 4) misses them.
    spark_round = df.orderBy("id").limit(len(TIES)).select(F.round("x", 4)).toPandas()
    assert list(spark_round.iloc[:, 0]) != list(want.x[: len(TIES)])


@pytest.mark.skipif(not os.path.isdir(SF01_DIR), reason="sf0.1 fixture not present")
@pytest.mark.parametrize("name", ["summary_by_device", "mart_readings"])
def test_mart_rows_match_oracles_at_sf01(spark, name):
    """The two mart-derived rows the old rounding broke on the sf0.1
    fixture (summary_by_device: DEV_305, DEV_919), read in place."""
    con = duckdb_con(SF01_DIR)
    try:
        spec = REGISTRY[name]
        assert_matches_oracle(spec.spark(spark, SF01_DIR), con, spec.oracle)
    finally:
        con.close()
