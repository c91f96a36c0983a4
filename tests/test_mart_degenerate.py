"""Degenerate marts through the summaries whose distinct counts use
``size(collect_set)``: an empty mart, all-NULL location/environment_type
and a single device must each give their DuckDB oracle's answer
(COUNT(DISTINCT) and size(collect_set) both skip NULLs and both give 0
on empty input)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.operators.anomalies import int_temperature_anomalies
from iot_temp_data_pipeline_spark.operators.marts import (
    device_level_stats,
    load_level_stats,
    mart_temperature_readings,
    pipeline_run_report,
    pipeline_summary,
)
from iot_temp_data_pipeline_spark.operators.staging import stg_raw_temperature_readings
from iot_temp_data_pipeline_spark.plans import registry as reg
from iot_temp_data_pipeline_spark.plans.registry import shape, sql_select
from iot_temp_data_pipeline_spark.sources.readings import raw_readings

from .oracle_compare import assert_matches_oracle

SUMMARIES = {
    "summary_by_load": (load_level_stats, reg.SUMMARY_BY_LOAD_SPEC, reg._SUMMARY_BY_LOAD_SQL),
    "summary_by_device": (device_level_stats, reg.SUMMARY_BY_DEVICE_SPEC, reg._SUMMARY_BY_DEVICE_SQL),
    "summary_overall": (pipeline_summary, reg.SUMMARY_OVERALL_SPEC, reg._SUMMARY_OVERALL_SQL),
}


def _single_device(mart):
    first = mart.agg(F.min("device_id")).first()[0]
    return mart.filter(F.col("device_id") == first)


CASES = {
    "empty": lambda m: m.limit(0),
    "null_location_environment": lambda m: m.withColumn(
        "location", F.lit(None).cast("string")
    ).withColumn("environment_type", F.lit(None).cast("string")),
    "single_device": _single_device,
}


@pytest.fixture(scope="module")
def layers(spark, sf_dir, tmp_path_factory):
    """raw, staging and the mart of one case each, written once as parquet
    so Spark and DuckDB read the same rows."""
    root = tmp_path_factory.mktemp("degenerate")
    raw = raw_readings(spark, sf_dir)
    stg = stg_raw_temperature_readings(raw, with_processing_timestamp=False)
    mart = mart_temperature_readings(int_temperature_anomalies(stg, threshold=reg.ACTIVE_THRESHOLD))
    paths = {"raw_readings": str(root / "raw"), "staged": str(root / "staged")}
    raw.write.parquet(paths["raw_readings"])
    stg.write.parquet(paths["staged"])
    for case, make in CASES.items():
        paths[case] = str(root / case)
        make(mart).write.parquet(paths[case])
    return paths


def _con(layers, case):
    con = duckdb.connect()
    for view, key in (("raw_readings", "raw_readings"), ("staged", "staged"), ("mart", case)):
        con.sql(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{layers[key]}/*.parquet')")
    return con


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("name", list(SUMMARIES))
def test_summary_matches_oracle(spark, layers, case, name):
    fn, spec, sql = SUMMARIES[name]
    con = _con(layers, case)
    try:
        got = shape(fn(spark.read.parquet(layers[case])), spec)
        assert_matches_oracle(got, con, sql_select(spec, sql))
    finally:
        con.close()


@pytest.mark.parametrize("case", list(CASES))
def test_run_report_matches_oracle(spark, layers, case):
    con = _con(layers, case)
    try:
        got = shape(
            pipeline_run_report(
                spark.read.parquet(layers["raw_readings"]),
                spark.read.parquet(layers["staged"]),
                spark.read.parquet(layers[case]),
            ),
            reg.RUN_REPORT_SPEC,
        )
        assert_matches_oracle(got, con, sql_select(reg.RUN_REPORT_SPEC, reg._RUN_REPORT_SQL))
    finally:
        con.close()
