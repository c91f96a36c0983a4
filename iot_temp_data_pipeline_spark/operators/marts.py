"""Mart models: enriched readings + pipeline summary statistics.

Re-expresses `dbt_transform/models/marts/mart_temperature_readings.sql`
and `dbt_transform/models/marts/mart_pipeline_summary.sql`.

The reference materializes the readings mart as a Postgres table with 5
B-tree indexes (`mart_temperature_readings.sql:4-12`); the Spark analog
(see ``write_mart``) is parquet partitioned by ``reading_date`` — partition
pruning + row-group min/max stats replace the indexes at scale.

Two rules serve the mart's readers (the five summaries and the run
report):

- **Rebalance by the partition column before a partitioned write.** Each
  write task otherwise leaves one small file per date it holds (tasks ×
  dates files, every footer parsed by every later read); a rebalance on
  ``reading_date`` sends each date to one task, and AQE still splits a
  date larger than the advisory size into several files.
- **Distinct counts: bounded domain → ``collect_set``, unbounded key →
  ``countDistinct``.** Spark plans two or more distinct aggregates in one
  ``agg`` with an ``Expand`` that copies every row once per distinct
  column, plus two extra aggregation levels. Each summary therefore keeps
  at most one ``countDistinct``, on ``device_id``, and counts the columns
  whose values per group are few (location, environment, load id, a
  device's days) as ``size(collect_set(x))`` — NULLs ignored and 0 on
  empty input, exactly as ``COUNT(DISTINCT x)``.

The summary model's CTEs `load_level_stats`, `device_level_stats`,
`location_level_stats`, `anomaly_analysis` are DEAD CODE in the reference
(`final_summary` selects only from `overall_stats` —
`mart_pipeline_summary.sql:138-153`; SURVEY.md §2.5 note). They are the
most operator-dense part of the model, so here each is a first-class
query (A5-A9), and ``pipeline_summary`` reproduces the reference's actual
output (A8 overall + A10 percentages).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import (
    data_freshness,
    environment_condition,
    temperature_category,
)
from ..functions.stats import exact_avg, exact_stddev

# Frozen "today" for deterministic freshness bucketing (the fixture's
# events span 2024; SURVEY.md §7.4 item 3). Pass run_date=None for
# wall-clock reference behavior.
DEFAULT_RUN_DATE = datetime.date(2024, 3, 1)


def mart_temperature_readings(
    anomalies: DataFrame, run_date: datetime.date | None = DEFAULT_RUN_DATE
) -> DataFrame:
    """Row-level enrichment — `mart_temperature_readings.sql:18-107`.

    P9 temperature buckets, time dims (note the Postgres `extract(dow)`
    0=Sunday vs Spark `dayofweek` 1=Sunday off-by-one, SURVEY.md §2.9),
    P10 environment condition, P11 freshness buckets.
    """
    ts = F.col("reading_timestamp")
    t = F.col("temperature_celsius")
    rd = F.current_date() if run_date is None else F.lit(run_date)
    return (
        anomalies.withColumn("temperature_category", temperature_category(t))
        .withColumn("reading_hour", F.hour(ts).cast("long"))
        .withColumn("reading_day_of_week", (F.dayofweek(ts) - 1).cast("long"))
        .withColumn("reading_date", F.to_date(ts))
        .withColumn("reading_month", F.month(ts).cast("long"))
        .withColumn("reading_year", F.year(ts).cast("long"))
        .withColumn(
            "environment_condition",
            environment_condition(F.col("environment_type"), t),
        )
        .withColumn("data_freshness", data_freshness(ts, rd))
    )


def write_mart(mart: DataFrame, path: str) -> None:
    """Materialization analog of the indexed Postgres mart table: parquet
    partitioned by reading_date (point/range scans prune partitions), the
    `is_anomaly`/`device_id` filters use row-group min-max stats.

    Layout rule: rebalance by the partition column first, so each
    ``reading_date=`` directory gets one file (tasks × dates tiny files
    without it), and AQE splits only a date above the advisory size."""
    mart.hint("rebalance", "reading_date").write.mode("overwrite").partitionBy(
        "reading_date"
    ).parquet(path)


def _n_distinct(col) -> Column:
    """``COUNT(DISTINCT col)`` for a column with few values per group, with
    no ``Expand`` in the plan (module docstring, distinct-count rule)."""
    return F.size(F.collect_set(col)).cast("long")


def load_level_stats(mart: DataFrame) -> DataFrame:
    """A5 — `mart_pipeline_summary.sql:10-29` (dead CTE made live).

    The nondeterministic min/max(dbt_processing_timestamp) columns are
    excluded from the oracle-facing surface.
    """
    return mart.groupBy("_dlt_load_id").agg(
        F.count("*").alias("total_records"),
        F.sum(F.when(F.col("is_valid_record"), 1).otherwise(0)).alias("valid_records"),
        F.sum(F.when(~F.col("is_valid_record"), 1).otherwise(0)).alias(
            "invalid_records"
        ),
        F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("anomaly_records"),
        exact_avg(F.col("data_quality_score"), 10).alias("avg_data_quality_score"),
        F.min("data_quality_score").alias("min_data_quality_score"),
        F.max("data_quality_score").alias("max_data_quality_score"),
        F.countDistinct("device_id").alias("unique_devices"),
        _n_distinct("location").alias("unique_locations"),
        _n_distinct("environment_type").alias("unique_environments"),
        F.min("reading_timestamp").alias("earliest_reading"),
        F.max("reading_timestamp").alias("latest_reading"),
    )


def device_level_stats(mart: DataFrame) -> DataFrame:
    """A6 — `mart_pipeline_summary.sql:31-49` (dead CTE made live).

    `extract(epoch from max-min)/3600` keeps Postgres's fractional-second
    semantics via microsecond arithmetic (SURVEY.md §2.9 epoch row).
    """
    ts = F.col("reading_timestamp")
    t = F.col("temperature_celsius")
    return mart.groupBy("device_id").agg(
        F.count("*").alias("total_readings"),
        F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("anomaly_count"),
        exact_avg(t).alias("avg_temperature"),
        F.min(t).alias("min_temperature"),
        F.max(t).alias("max_temperature"),
        exact_stddev(t).alias("temperature_stddev"),
        exact_avg(F.col("data_quality_score"), 10).alias("avg_quality_score"),
        F.min(ts).alias("first_reading"),
        F.max(ts).alias("last_reading"),
        ((F.unix_micros(F.max(ts)) - F.unix_micros(F.min(ts))) / 3.6e9).alias(
            "reading_span_hours"
        ),
        _n_distinct(F.date_trunc("day", ts)).alias("active_days"),
        _n_distinct("location").alias("locations_visited"),
        _n_distinct("environment_type").alias("environments_recorded"),
    )


def location_level_stats(mart: DataFrame) -> DataFrame:
    """A7 — `mart_pipeline_summary.sql:51-66` (dead CTE made live)."""
    t = F.col("temperature_celsius")
    return (
        mart.filter(
            F.col("location").isNotNull() & F.col("environment_type").isNotNull()
        )
        .groupBy("location", "environment_type")
        .agg(
            F.count("*").alias("total_readings"),
            F.countDistinct("device_id").alias("unique_devices"),
            exact_avg(t).alias("avg_temperature"),
            F.min(t).alias("min_temperature"),
            F.max(t).alias("max_temperature"),
            exact_stddev(t).alias("temperature_stddev"),
            F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("anomaly_count"),
            exact_avg(F.col("data_quality_score"), 10).alias("avg_quality_score"),
        )
    )


def overall_stats(mart: DataFrame) -> DataFrame:
    """A8 — `mart_pipeline_summary.sql:68-104` (the live CTE), minus the
    wall-clock `summary_generated_at`."""
    ts = F.col("reading_timestamp")
    t = F.col("temperature_celsius")
    return mart.agg(
        F.count("*").alias("total_processed_records"),
        F.sum(F.when(F.col("is_valid_record"), 1).otherwise(0)).alias(
            "total_valid_records"
        ),
        F.sum(F.when(~F.col("is_valid_record"), 1).otherwise(0)).alias(
            "total_invalid_records"
        ),
        F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("total_anomalies"),
        exact_avg(t).alias("global_avg_temperature"),
        F.min(t).alias("global_min_temperature"),
        F.max(t).alias("global_max_temperature"),
        exact_stddev(t).alias("global_temperature_stddev"),
        exact_avg(F.col("data_quality_score"), 10).alias("global_avg_quality_score"),
        F.min("data_quality_score").alias("global_min_quality_score"),
        F.max("data_quality_score").alias("global_max_quality_score"),
        F.countDistinct("device_id").alias("total_unique_devices"),
        _n_distinct("location").alias("total_unique_locations"),
        _n_distinct("environment_type").alias("total_environment_types"),
        _n_distinct("_dlt_load_id").alias("total_load_batches"),
        F.min(ts).alias("earliest_reading_timestamp"),
        F.max(ts).alias("latest_reading_timestamp"),
        ((F.unix_micros(F.max(ts)) - F.unix_micros(F.min(ts))) / 86400e6).alias(
            "data_span_days"
        ),
        F.sum(F.when(F.col("environment_type") == "Indoor", 1).otherwise(0)).alias(
            "indoor_readings"
        ),
        F.sum(F.when(F.col("environment_type") == "Outdoor", 1).otherwise(0)).alias(
            "outdoor_readings"
        ),
        F.sum(F.when(F.col("environment_type") == "Unknown", 1).otherwise(0)).alias(
            "unknown_environment_readings"
        ),
    )


def anomaly_analysis(mart: DataFrame) -> DataFrame:
    """A9 — `mart_pipeline_summary.sql:106-136` (dead CTE made live): four
    single-row conditional aggregates stacked with UNION ALL.

    Computed as ONE pass with 8 conditional aggregates then unpivoted via
    ``stack`` — one scan instead of the reference's four (same result set;
    at 100 TB this is 1× the input read instead of 4×).
    """
    kinds = [
        ("Global Anomalies", "is_global_anomaly", "global_z_score"),
        ("Device Anomalies", "is_device_anomaly", "device_z_score"),
        ("Location Anomalies", "is_location_anomaly", "location_z_score"),
        ("Environment Anomalies", "is_environment_anomaly", "environment_z_score"),
    ]
    aggs = []
    for i, (_, flag, zcol) in enumerate(kinds):
        aggs.append(
            F.sum(F.when(F.col(flag), 1).otherwise(0)).alias(f"cnt_{i}")
        )
        aggs.append(F.avg(F.when(F.col(flag), F.col(zcol))).alias(f"avg_{i}"))
    wide = mart.agg(*aggs)
    stack_args = ", ".join(
        f"'{label}', cnt_{i}, avg_{i}" for i, (label, _, _) in enumerate(kinds)
    )
    return wide.selectExpr(
        f"stack(4, {stack_args}) AS (anomaly_type, anomaly_count, avg_z_score)"
    )


def pipeline_summary(mart: DataFrame) -> DataFrame:
    """A8 + A10 percentages — the reference's actual materialized summary
    (`mart_pipeline_summary.sql:138-153`), minus wall-clock/invocation
    metadata columns."""
    os_ = overall_stats(mart)
    total = F.col("total_processed_records")
    return (
        os_.withColumn(
            "valid_record_percentage",
            F.round(F.col("total_valid_records") / total * 100, 2),
        )
        .withColumn(
            "anomaly_percentage", F.round(F.col("total_anomalies") / total * 100, 2)
        )
        .withColumn(
            "indoor_percentage", F.round(F.col("indoor_readings") / total * 100, 2)
        )
        .withColumn(
            "outdoor_percentage", F.round(F.col("outdoor_readings") / total * 100, 2)
        )
    )


def pipeline_run_report(
    raw: DataFrame, stg: DataFrame, mart: DataFrame
) -> DataFrame:
    """The DAG's run report as a QUERY
    (`airflow/dags/iot_temperature_dag.py:165-195` formats upstream task
    counts into a per-run report): one long-format row per
    (stage, metric), assembling the ingestion / staging / transform
    counts the reference prints. All metrics are exact integer counts,
    so the report is oracle-checkable; three 1-row aggregates (one per
    upstream stage) stacked — no extra passes beyond what each stage's
    own summary already pays."""
    rep_ing = raw.agg(F.count("*").alias("raw_records")).selectExpr(
        "'ingestion' AS stage",
        "stack(1, 'raw_records', raw_records) AS (metric, value)",
    )
    rep_stg = stg.agg(
        F.count("*").alias("staged_records"),
        F.sum(F.when(F.col("is_valid_record"), 1).otherwise(0)).alias(
            "valid_records"
        ),
        F.sum(F.when(~F.col("is_valid_record"), 1).otherwise(0)).alias(
            "invalid_records"
        ),
    ).selectExpr(
        "'staging' AS stage",
        "stack(3, 'staged_records', staged_records, "
        "'valid_records', valid_records, "
        "'invalid_records', invalid_records) AS (metric, value)",
    )
    rep_mart = mart.agg(
        F.count("*").alias("mart_rows"),
        F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias(
            "anomaly_records"
        ),
        F.countDistinct("device_id").alias("unique_devices"),
        _n_distinct("_dlt_load_id").alias("load_batches"),
    ).selectExpr(
        "'transform' AS stage",
        "stack(4, 'mart_rows', mart_rows, "
        "'anomaly_records', anomaly_records, "
        "'unique_devices', unique_devices, "
        "'load_batches', load_batches) AS (metric, value)",
    )
    return (
        rep_ing.unionByName(rep_stg)
        .unionByName(rep_mart)
        .select("stage", "metric", F.col("value").cast("long").alias("value"))
    )
