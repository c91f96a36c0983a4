"""Named query registry: every entry pairs a Spark callable
``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle SQL string.

A shared column-spec layer shapes BOTH sides, so column names, order,
types, and float rounding are identical by construction (the driver's
compare sorts columns by name and hashes values — see
`__spark_entry__.py` contract):

  kind ""      pass through unchanged
  kind "f4"    cast double + ROUND(…, 4)  — float aggregates whose last
               ~4 bits may differ between engines (summation order)
  kind "f2"    cast double + ROUND(…, 2)  — large money-style sums
  kind "long"  cast BIGINT  — DuckDB SUM(int)=HUGEINT, Spark hour()=int,
               both normalized to 64-bit
  kind "str"   cast VARCHAR — dates (pandas dtype drift) and similar

DuckDB's ROUND(x, d) on a DOUBLE is ``round_half_away(x·10^d) / 10^d``
on the binary value, while Spark's ``round(x, d)`` rounds HALF_UP on the
shortest decimal form of x — they differ on values such as 37.76275
(binary 37.762749999…, printed 37.76275). The Spark side therefore
spells out DuckDB's arithmetic: ``round(x * 10000D) / 10000D``. At scale
0 the two roundings agree, because the shortest decimal form of a double
ends in exactly .5 only when the double is exactly a half, and both round
halves away from zero.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.anomalies import (
    anomaly_stats_digest,
    deduplicated_valid_readings,
    deduplicated_valid_readings_aggform,
    int_temperature_anomalies,
)
from ..operators.marts import (
    anomaly_analysis,
    device_level_stats,
    load_level_stats,
    location_level_stats,
    mart_temperature_readings,
    overall_stats,
    pipeline_run_report,
    pipeline_summary,
)
from ..checks import check_violations, check_violations_sql
from ..operators.staging import stg_raw_temperature_readings
from ..sources.readings import raw_readings
from ..functions.stats import sql_exact_avg, sql_exact_stddev
from .oracles import oracle_prelude

_T_AVG = sql_exact_avg("temperature_celsius")
_T_STD = sql_exact_stddev("temperature_celsius")
_Q_AVG = sql_exact_avg("data_quality_score", 10)

ColSpec = list[tuple[str, str]]


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check


def shape(df: DataFrame, spec: ColSpec) -> DataFrame:
    # selectExpr with pre-rendered strings, not per-column Column
    # objects: a 30-column spec as F.col().cast().alias() chains costs
    # ~120 py4j round trips (~0.1 s of driver latency PER QUERY BUILD);
    # one selectExpr call parses everything JVM-side (round/cast are the
    # SQL functions F.round/F.cast resolve to). f4/f2 use DuckDB's ROUND
    # arithmetic, see the module docstring.
    exprs = []
    for name, kind in spec:
        q = f"`{name}`"
        if kind == "f4":
            exprs.append(f"round(CAST({q} AS DOUBLE) * 10000D) / 10000D AS {q}")
        elif kind == "f2":
            exprs.append(f"round(CAST({q} AS DOUBLE) * 100D) / 100D AS {q}")
        elif kind == "long":
            exprs.append(f"CAST({q} AS BIGINT) AS {q}")
        elif kind == "str":
            exprs.append(f"CAST({q} AS STRING) AS {q}")
        else:
            exprs.append(q)
    return df.selectExpr(*exprs)


def sql_select(spec: ColSpec, from_clause: str, tail: str = "") -> str:
    parts = []
    for name, kind in spec:
        if kind == "f4":
            parts.append(f"ROUND(CAST({name} AS DOUBLE), 4) AS {name}")
        elif kind == "f2":
            parts.append(f"ROUND(CAST({name} AS DOUBLE), 2) AS {name}")
        elif kind == "long":
            parts.append(f"CAST({name} AS BIGINT) AS {name}")
        elif kind == "str":
            parts.append(f"CAST({name} AS VARCHAR) AS {name}")
        else:
            parts.append(name)
    return f"SELECT {', '.join(parts)} FROM {from_clause} {tail}"


# ---------------------------------------------------------------- column specs

STAGING_SPEC: ColSpec = [
    ("record_id", ""),
    ("device_id", ""),
    ("reading_timestamp", ""),
    ("temperature_celsius", ""),
    ("location", ""),
    ("environment_type", ""),
    ("_dlt_load_id", ""),
    ("_dlt_id", ""),
    ("is_valid_record", ""),
    ("data_quality_score", ""),
]

VALID_SPEC: ColSpec = STAGING_SPEC + [("rn", "long")]

ANOM_SPEC: ColSpec = VALID_SPEC + [
    ("global_mean_temp", "f4"),
    ("global_stddev_temp", "f4"),
    ("device_mean_temp", "f4"),
    ("device_stddev_temp", "f4"),
    ("device_reading_count", "long"),
    ("location_mean_temp", "f4"),
    ("location_stddev_temp", "f4"),
    ("environment_mean_temp", "f4"),
    ("environment_stddev_temp", "f4"),
    ("global_z_score", "f4"),
    ("device_z_score", "f4"),
    ("location_z_score", "f4"),
    ("environment_z_score", "f4"),
    ("is_global_anomaly", ""),
    ("is_device_anomaly", ""),
    ("is_location_anomaly", ""),
    ("is_environment_anomaly", ""),
    ("is_anomaly", ""),
    ("anomaly_score", "f4"),
]

MART_SPEC: ColSpec = ANOM_SPEC + [
    ("temperature_category", ""),
    ("reading_hour", "long"),
    ("reading_day_of_week", "long"),
    ("reading_date", "str"),
    ("reading_month", "long"),
    ("reading_year", "long"),
    ("environment_condition", ""),
    ("data_freshness", ""),
]

SUMMARY_BY_LOAD_SPEC: ColSpec = [
    ("_dlt_load_id", ""),
    ("total_records", "long"),
    ("valid_records", "long"),
    ("invalid_records", "long"),
    ("anomaly_records", "long"),
    ("avg_data_quality_score", "f4"),
    ("min_data_quality_score", "f4"),
    ("max_data_quality_score", "f4"),
    ("unique_devices", "long"),
    ("unique_locations", "long"),
    ("unique_environments", "long"),
    ("earliest_reading", ""),
    ("latest_reading", ""),
]

SUMMARY_BY_DEVICE_SPEC: ColSpec = [
    ("device_id", ""),
    ("total_readings", "long"),
    ("anomaly_count", "long"),
    ("avg_temperature", "f4"),
    ("min_temperature", "f4"),
    ("max_temperature", "f4"),
    ("temperature_stddev", "f4"),
    ("avg_quality_score", "f4"),
    ("first_reading", ""),
    ("last_reading", ""),
    ("reading_span_hours", "f4"),
    ("active_days", "long"),
    ("locations_visited", "long"),
    ("environments_recorded", "long"),
]

SUMMARY_BY_LOCATION_SPEC: ColSpec = [
    ("location", ""),
    ("environment_type", ""),
    ("total_readings", "long"),
    ("unique_devices", "long"),
    ("avg_temperature", "f4"),
    ("min_temperature", "f4"),
    ("max_temperature", "f4"),
    ("temperature_stddev", "f4"),
    ("anomaly_count", "long"),
    ("avg_quality_score", "f4"),
]

SUMMARY_OVERALL_SPEC: ColSpec = [
    ("total_processed_records", "long"),
    ("total_valid_records", "long"),
    ("total_invalid_records", "long"),
    ("total_anomalies", "long"),
    ("global_avg_temperature", "f4"),
    ("global_min_temperature", "f4"),
    ("global_max_temperature", "f4"),
    ("global_temperature_stddev", "f4"),
    ("global_avg_quality_score", "f4"),
    ("global_min_quality_score", "f4"),
    ("global_max_quality_score", "f4"),
    ("total_unique_devices", "long"),
    ("total_unique_locations", "long"),
    ("total_environment_types", "long"),
    ("total_load_batches", "long"),
    ("earliest_reading_timestamp", ""),
    ("latest_reading_timestamp", ""),
    ("data_span_days", "f4"),
    ("indoor_readings", "long"),
    ("outdoor_readings", "long"),
    ("unknown_environment_readings", "long"),
    ("valid_record_percentage", "f4"),
    ("anomaly_percentage", "f4"),
    ("indoor_percentage", "f4"),
    ("outdoor_percentage", "f4"),
]

ANOMALY_BREAKDOWN_SPEC: ColSpec = [
    ("anomaly_type", ""),
    ("anomaly_count", "long"),
    ("avg_z_score", "f4"),
]

OPS_ANOMALY_COUNT_SPEC: ColSpec = [
    ("device_id", ""),
    ("anomaly_count", "long"),
]

# The reference's default anomaly threshold (dbt var) and the
# non-default variant used for the summary queries: at threshold 3.0 the
# fixture's range-filtered temperature distribution has max |z| ≈ 2.49,
# so no flags fire (faithful but degenerate); threshold 2.0 exercises
# every flag/branch. Both are registered.
REF_THRESHOLD = 3.0
ACTIVE_THRESHOLD = 2.0

# ----------------------------------------------------------- spark callables


def _staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(stg, STAGING_SPEC)


DQ_CHECK_SPEC: ColSpec = [("check_name", ""), ("violations", "long")]


def _dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt test suite (§5) as one query: every schema.yml check's
    violation count over staging."""
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(check_violations(stg), DQ_CHECK_SPEC)


def _valid_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(deduplicated_valid_readings(stg), VALID_SPEC)


def _valid_readings_aggform(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    return shape(deduplicated_valid_readings_aggform(stg), VALID_SPEC)


def _vr_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached deduplicated-valid-readings materialization, the
    dedup analog of the mart table (`dbt_project.yml:28-30` shape): dbt
    evaluates the `valid_readings` CTE once per model BUILD, while a
    per-query re-derivation pays the staging scan + dedup exchange on
    every anomaly/mart consumer. One ``localCheckpoint`` per (session,
    sf_dir) — deterministic derivation, so cold and warm results are
    identical (the parity suite and the DuckDB oracle both rebuild from
    scratch and still hash-match). At 100 TB this is a written table
    refreshed per load, not per query (VERDICT r6 #1)."""
    from ..sources.catalog import session_cache

    cache = session_cache(spark, "_sg_vr_cache")
    key = os.path.abspath(sf_dir)
    hit = cache.get(key)
    if hit is None:
        stg = stg_raw_temperature_readings(
            raw_readings(spark, sf_dir), with_processing_timestamp=False
        )
        # Spread the materialization across the executor cores before
        # checkpointing: the dedup exchange AQE-coalesces to ~5
        # partitions at sf0.1, which would cap every downstream serve
        # at 5-way parallelism (the embeddings one-row-group precedent,
        # sources/catalog.py). One extra exchange at BUILD time, paid
        # once per (session, sf_dir).
        par = spark.sparkContext.defaultParallelism
        vr = (
            deduplicated_valid_readings_aggform(stg)
            .repartition(par)
            .localCheckpoint(eager=True)
        )
        # The GROUPING SETS stats digest is a table statistic of the vr
        # materialization (anomaly_stats_digest docstring) — cache it
        # WITH the table so warm calls run zero stats jobs.
        hit = (vr, anomaly_stats_digest(vr))
        cache[key] = hit
    return hit


def _anomalies(threshold: float):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        vr, stats = _vr_cached(spark, sf_dir)
        return shape(
            int_temperature_anomalies(
                None, threshold=threshold, vr=vr, stats=stats
            ),
            ANOM_SPEC,
        )

    return run


def _mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(_mart_df(spark, sf_dir), MART_SPEC)


def _mart_df_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    vr, stats = _vr_cached(spark, sf_dir)
    return mart_temperature_readings(
        int_temperature_anomalies(
            None, threshold=ACTIVE_THRESHOLD, vr=vr, stats=stats
        )
    )


# Materialized-mart cache: the reference materializes the mart as a TABLE
# (`dbt_project.yml:28-30` — marts are `materialized: table`) and every
# summary model SELECTs from that table. The Spark analog: the first
# mart-derived query in a process writes the full-precision mart to a
# process-local parquet path; the other six (5 summaries + ops count)
# scan it instead of recomputing the staging → dedup → anomaly chain.
# At 100 TB this is exactly the right shape — you build the mart once per
# load, not once per downstream query. Parquet round-trips every mart
# column type (double/timestamp/date/bool/string) bit-exactly, and the
# oracle-parity suite hash-checks all seven queries against DuckDB.
_MART_CACHE: dict[tuple[str, float], str] = {}


def _cleanup_mart_cache() -> None:
    for p in _MART_CACHE.values():
        shutil.rmtree(p, ignore_errors=True)
    _MART_CACHE.clear()


atexit.register(_cleanup_mart_cache)


def _mart_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Resolved-DataFrame cache over the mart parquet, session-attached
    # (same rationale and lifetime rules as sources/catalog
    # session_cache: re-reading the path per query re-lists files and
    # re-reads footers driver-side; the mart file is immutable once
    # written; the cache dies with its session).
    from ..sources.catalog import session_cache

    key = (os.path.abspath(sf_dir), ACTIVE_THRESHOLD)
    df_cache = session_cache(spark, "_sg_mart_df_cache")
    cached = df_cache.get(key)
    if cached is not None:
        return cached
    path = _MART_CACHE.get(key)
    if path is None:
        scratch = os.environ.get("SPARK_GRAFT_SCRATCH") or (
            "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        )
        path = os.path.join(
            scratch,
            f"spark_mart_{os.getpid()}_{hashlib.md5(str(key).encode()).hexdigest()[:10]}.parquet",
        )
        # Size the mart's output files for its readers: the fixture-scale
        # mart is ~10^5 rows, and a 32-file layout makes every downstream
        # summary pay 32 scan-task launches for ~3k rows each — measured
        # 0.85 s → 0.55 s per summary at 8 files. The repartition (not
        # coalesce) keeps the expensive staging→anomaly build fully
        # parallel and only exchanges the final (small) mart rows. At
        # production scale the writer sizes by bytes instead
        # (maintenance.compact_small_files' target_bytes rule) and this
        # constant is irrelevant — file count tracks data volume.
        _mart_df_compute(spark, sf_dir).repartition(8).write.mode(
            "overwrite"
        ).parquet(path)
        _MART_CACHE[key] = path
    df = spark.read.parquet(path)
    df_cache[key] = df
    return df


def _summary(fn, spec):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return shape(fn(_mart_df(spark, sf_dir)), spec)

    return run


def _summary_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shape(pipeline_summary(_mart_df(spark, sf_dir)), SUMMARY_OVERALL_SPEC)


RUN_REPORT_SPEC: ColSpec = [
    ("stage", ""),
    ("metric", ""),
    ("value", "long"),
]


def _run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAG's run report (`airflow/dags/iot_temperature_dag.py:
    165-195`) as an oracle-checked query: per-stage counts assembled
    from the raw/staging/mart layers (operators/marts.py
    pipeline_run_report)."""
    raw = raw_readings(spark, sf_dir)
    stg = stg_raw_temperature_readings(raw, with_processing_timestamp=False)
    return shape(
        pipeline_run_report(raw, stg, _mart_df(spark, sf_dir)),
        RUN_REPORT_SPEC,
    )


def _ops_anomaly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops query `README.md:120-127`: anomaly count per device."""
    mart = _mart_df(spark, sf_dir)
    return shape(
        mart.filter(F.col("is_anomaly")).groupBy("device_id").agg(
            F.count("*").alias("anomaly_count")
        ),
        OPS_ANOMALY_COUNT_SPEC,
    )


# ------------------------------------------------------------------ oracles


def _oracle(spec: ColSpec, from_clause: str, threshold: float = ACTIVE_THRESHOLD, tail: str = "") -> str:
    return oracle_prelude(threshold) + sql_select(spec, from_clause, tail)


_SUMMARY_BY_LOAD_SQL = f"""(
    SELECT _dlt_load_id,
        COUNT(*) AS total_records,
        SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) AS valid_records,
        SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) AS invalid_records,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_records,
        {_Q_AVG} AS avg_data_quality_score,
        MIN(data_quality_score) AS min_data_quality_score,
        MAX(data_quality_score) AS max_data_quality_score,
        COUNT(DISTINCT device_id) AS unique_devices,
        COUNT(DISTINCT location) AS unique_locations,
        COUNT(DISTINCT environment_type) AS unique_environments,
        MIN(reading_timestamp) AS earliest_reading,
        MAX(reading_timestamp) AS latest_reading
    FROM mart GROUP BY _dlt_load_id
) s"""

_SUMMARY_BY_DEVICE_SQL = f"""(
    SELECT device_id,
        COUNT(*) AS total_readings,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        {_T_AVG} AS avg_temperature,
        MIN(temperature_celsius) AS min_temperature,
        MAX(temperature_celsius) AS max_temperature,
        {_T_STD} AS temperature_stddev,
        {_Q_AVG} AS avg_quality_score,
        MIN(reading_timestamp) AS first_reading,
        MAX(reading_timestamp) AS last_reading,
        (epoch_us(MAX(reading_timestamp)) - epoch_us(MIN(reading_timestamp))) / 3600000000.0
            AS reading_span_hours,
        COUNT(DISTINCT date_trunc('day', reading_timestamp)) AS active_days,
        COUNT(DISTINCT location) AS locations_visited,
        COUNT(DISTINCT environment_type) AS environments_recorded
    FROM mart GROUP BY device_id
) s"""

_SUMMARY_BY_LOCATION_SQL = f"""(
    SELECT location, environment_type,
        COUNT(*) AS total_readings,
        COUNT(DISTINCT device_id) AS unique_devices,
        {_T_AVG} AS avg_temperature,
        MIN(temperature_celsius) AS min_temperature,
        MAX(temperature_celsius) AS max_temperature,
        {_T_STD} AS temperature_stddev,
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        {_Q_AVG} AS avg_quality_score
    FROM mart
    WHERE location IS NOT NULL AND environment_type IS NOT NULL
    GROUP BY location, environment_type
) s"""

_SUMMARY_OVERALL_SQL = f"""(
    SELECT *,
        ROUND((CAST(total_valid_records AS DOUBLE) / total_processed_records) * 100, 2)
            AS valid_record_percentage,
        ROUND((CAST(total_anomalies AS DOUBLE) / total_processed_records) * 100, 2)
            AS anomaly_percentage,
        ROUND((CAST(indoor_readings AS DOUBLE) / total_processed_records) * 100, 2)
            AS indoor_percentage,
        ROUND((CAST(outdoor_readings AS DOUBLE) / total_processed_records) * 100, 2)
            AS outdoor_percentage
    FROM (
        SELECT
            COUNT(*) AS total_processed_records,
            SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) AS total_valid_records,
            SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) AS total_invalid_records,
            SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS total_anomalies,
            {_T_AVG} AS global_avg_temperature,
            MIN(temperature_celsius) AS global_min_temperature,
            MAX(temperature_celsius) AS global_max_temperature,
            {_T_STD} AS global_temperature_stddev,
            {_Q_AVG} AS global_avg_quality_score,
            MIN(data_quality_score) AS global_min_quality_score,
            MAX(data_quality_score) AS global_max_quality_score,
            COUNT(DISTINCT device_id) AS total_unique_devices,
            COUNT(DISTINCT location) AS total_unique_locations,
            COUNT(DISTINCT environment_type) AS total_environment_types,
            COUNT(DISTINCT _dlt_load_id) AS total_load_batches,
            MIN(reading_timestamp) AS earliest_reading_timestamp,
            MAX(reading_timestamp) AS latest_reading_timestamp,
            (epoch_us(MAX(reading_timestamp)) - epoch_us(MIN(reading_timestamp))) / 86400000000.0
                AS data_span_days,
            SUM(CASE WHEN environment_type = 'Indoor' THEN 1 ELSE 0 END) AS indoor_readings,
            SUM(CASE WHEN environment_type = 'Outdoor' THEN 1 ELSE 0 END) AS outdoor_readings,
            SUM(CASE WHEN environment_type = 'Unknown' THEN 1 ELSE 0 END)
                AS unknown_environment_readings
        FROM mart
    ) os
) s"""

_ANOMALY_BREAKDOWN_SQL = """(
    SELECT 'Global Anomalies' AS anomaly_type,
        SUM(CASE WHEN is_global_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
        AVG(CASE WHEN is_global_anomaly THEN global_z_score END) AS avg_z_score
    FROM mart
    UNION ALL
    SELECT 'Device Anomalies',
        SUM(CASE WHEN is_device_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_device_anomaly THEN device_z_score END)
    FROM mart
    UNION ALL
    SELECT 'Location Anomalies',
        SUM(CASE WHEN is_location_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_location_anomaly THEN location_z_score END)
    FROM mart
    UNION ALL
    SELECT 'Environment Anomalies',
        SUM(CASE WHEN is_environment_anomaly THEN 1 ELSE 0 END),
        AVG(CASE WHEN is_environment_anomaly THEN environment_z_score END)
    FROM mart
) s"""

_OPS_ANOMALY_COUNT_SQL = """(
    SELECT device_id, COUNT(*) AS anomaly_count
    FROM mart WHERE is_anomaly GROUP BY device_id
) s"""

_RUN_REPORT_SQL = """(
    SELECT 'ingestion' AS stage, 'raw_records' AS metric,
        COUNT(*) AS value FROM raw_readings
    UNION ALL
    SELECT 'staging', 'staged_records', COUNT(*) FROM staged
    UNION ALL
    SELECT 'staging', 'valid_records',
        SUM(CASE WHEN is_valid_record THEN 1 ELSE 0 END) FROM staged
    UNION ALL
    SELECT 'staging', 'invalid_records',
        SUM(CASE WHEN NOT is_valid_record THEN 1 ELSE 0 END) FROM staged
    UNION ALL
    SELECT 'transform', 'mart_rows', COUNT(*) FROM mart
    UNION ALL
    SELECT 'transform', 'anomaly_records',
        SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) FROM mart
    UNION ALL
    SELECT 'transform', 'unique_devices', COUNT(DISTINCT device_id) FROM mart
    UNION ALL
    SELECT 'transform', 'load_batches',
        COUNT(DISTINCT _dlt_load_id) FROM mart
) s"""


# ------------------------------------------------------------------ registry

REGISTRY: dict[str, QuerySpec] = {
    "staging_readings": QuerySpec(
        _staging, _oracle(STAGING_SPEC, "staged")
    ),
    "dedup_valid_readings": QuerySpec(
        _valid_readings, _oracle(VALID_SPEC, "valid_readings")
    ),
    "dedup_valid_readings_aggform": QuerySpec(
        _valid_readings_aggform, _oracle(VALID_SPEC, "valid_readings")
    ),
    "anomaly_scores": QuerySpec(
        _anomalies(REF_THRESHOLD),
        _oracle(ANOM_SPEC, "anomalies", threshold=REF_THRESHOLD),
    ),
    "anomaly_scores_t2": QuerySpec(
        _anomalies(ACTIVE_THRESHOLD),
        _oracle(ANOM_SPEC, "anomalies", threshold=ACTIVE_THRESHOLD),
    ),
    "mart_readings": QuerySpec(_mart, _oracle(MART_SPEC, "mart")),
    "summary_by_load": QuerySpec(
        _summary(load_level_stats, SUMMARY_BY_LOAD_SPEC),
        _oracle(SUMMARY_BY_LOAD_SPEC, _SUMMARY_BY_LOAD_SQL),
    ),
    "summary_by_device": QuerySpec(
        _summary(device_level_stats, SUMMARY_BY_DEVICE_SPEC),
        _oracle(SUMMARY_BY_DEVICE_SPEC, _SUMMARY_BY_DEVICE_SQL),
    ),
    "summary_by_location": QuerySpec(
        _summary(location_level_stats, SUMMARY_BY_LOCATION_SPEC),
        _oracle(SUMMARY_BY_LOCATION_SPEC, _SUMMARY_BY_LOCATION_SQL),
    ),
    "summary_overall": QuerySpec(
        _summary_overall, _oracle(SUMMARY_OVERALL_SPEC, _SUMMARY_OVERALL_SQL)
    ),
    "anomaly_breakdown": QuerySpec(
        _summary(anomaly_analysis, ANOMALY_BREAKDOWN_SPEC),
        _oracle(ANOMALY_BREAKDOWN_SPEC, _ANOMALY_BREAKDOWN_SQL),
    ),
    "ops_anomaly_count_per_device": QuerySpec(
        _ops_anomaly_counts, _oracle(OPS_ANOMALY_COUNT_SPEC, _OPS_ANOMALY_COUNT_SQL)
    ),
    "dq_check_violations": QuerySpec(
        _dq_checks, _oracle(DQ_CHECK_SPEC, check_violations_sql("staged"))
    ),
    "pipeline_run_report": QuerySpec(
        _run_report, _oracle(RUN_REPORT_SPEC, _RUN_REPORT_SQL)
    ),
}

# Merged sub-registries (imported at the bottom to avoid cycles: they use
# QuerySpec/shape/sql_select defined above).
from ..operators.asof import ASOF_SQL, last_click_before_error  # noqa: E402
from ..operators.rangejoin import RANGEJOIN_SQL, clicks_in_error_windows  # noqa: E402
from .analytics import ANALYTICS  # noqa: E402
from .extensions import EXTENSIONS  # noqa: E402
from .extensions_r7 import EXTENSIONS_R7  # noqa: E402
from .extensions_r8 import EXTENSIONS_R8  # noqa: E402
from .extensions_r9 import EXTENSIONS_R9  # noqa: E402
from .extensions_r10 import EXTENSIONS_R10  # noqa: E402
from .extensions_r11 import EXTENSIONS_R11  # noqa: E402
from .extensions_r12 import EXTENSIONS_R12  # noqa: E402
from .relational import RELATIONAL  # noqa: E402
from .streaming_specs import STREAMING  # noqa: E402
from .subqueries import SUBQUERIES  # noqa: E402
from .formats_specs import FORMATS  # noqa: E402
from .timeseries import TIMESERIES  # noqa: E402
from .tpch_extra import TPCH_EXTRA  # noqa: E402

REGISTRY.update(RELATIONAL)
REGISTRY.update(EXTENSIONS)
REGISTRY.update(STREAMING)
REGISTRY.update(SUBQUERIES)
REGISTRY.update(TPCH_EXTRA)
REGISTRY.update(FORMATS)
REGISTRY.update(TIMESERIES)
REGISTRY.update(ANALYTICS)
REGISTRY.update(EXTENSIONS_R7)
REGISTRY.update(EXTENSIONS_R8)
REGISTRY.update(EXTENSIONS_R9)
REGISTRY.update(EXTENSIONS_R10)
REGISTRY.update(EXTENSIONS_R11)
REGISTRY.update(EXTENSIONS_R12)
REGISTRY["events_asof_last_click"] = QuerySpec(last_click_before_error, ASOF_SQL)
REGISTRY["clicks_in_error_windows"] = QuerySpec(clicks_in_error_windows, RANGEJOIN_SQL)

# Driver-run ordering. The driver verifies ~50 registry entries per
# round in dict order; cumulative coverage after rounds 1+2 is 99/114
# (union of CORRECTNESS_r01/r02.json keys, frozen below). Round 3 puts
# every never-driver-verified query FIRST — the 15 known stragglers
# (all 10 streaming_* plus asof/rangejoin/pivot/profile/HLL) and any
# query newly added this round — so one 50-query sample closes driver
# verification to 114/114. Local pytest
# (`tests/test_registry_parity.py`) still checks all entries every run.
_DRIVER_VERIFIED_R0102 = {
    "ann_recall_check", "anomaly_breakdown", "anomaly_scores",
    "anomaly_scores_t2", "approx_percentile_check", "chunk_documents_cdc",
    "continuous_daily_rollup", "custom_source_device_stats", "customer_order_windows",
    "decontaminate_ngram_overlap", "dedup_chunk_overlap", "dedup_clusters_ngram",
    "dedup_clusters_star", "dedup_embedding_cosine", "dedup_exact",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash_pairs",
    "dedup_valid_readings", "dedup_valid_readings_aggform", "doc_fingerprints_bottomk",
    "domain_cap_sample", "domain_cap_threshold", "dq_check_violations",
    "event_value_percentiles", "events_hourly_tumbling", "events_json_props",
    "events_moving_avg_7d", "events_resample_hourly_ffill", "events_session_windows",
    "events_sliding_window", "funnel_ordered_stages", "ingest_audit_log",
    "ingest_kaggle_transform", "jsonl_roundtrip", "kmeans_embedding_clusters",
    "knn_brute_force_cosine", "knn_ivf_cosine", "knn_lsh_cosine",
    "lang_id_confusion", "lang_sampling_weights", "mart_readings",
    "mg_heavy_hitters_check", "multimodal_frame_sample", "multimodal_media_metadata",
    "multimodal_resize_images", "nation_priority_unpivot", "ops_anomaly_count_per_device",
    "orc_roundtrip", "pack_sequences_grid", "pagerank_dedup_graph",
    "part_setops", "pii_redaction", "quality_repetition_rules",
    "retention_filter", "revenue_cube", "revenue_rollup",
    "scd2_user_history", "schema_evolution_read", "simhash_fingerprints",
    "sql_api_regional_revenue", "staging_readings", "stratified_sample_check",
    "summary_by_device", "summary_by_load", "summary_by_location",
    "summary_overall", "synthetic_fields_contract", "text_stats",
    "tfidf_topk", "top_bigrams", "topk_orders",
    "tpch_q10_returned_items", "tpch_q11_important_stock", "tpch_q12_priority_by_returnflag",
    "tpch_q13_customer_distribution", "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts", "tpch_q17_small_quantity_revenue", "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue", "tpch_q1_pricing_summary", "tpch_q20_part_promotion",
    "tpch_q21_suppliers_who_kept_waiting", "tpch_q22_global_sales_opportunity", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_order_priority", "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_type_profit", "training_corpus_prep", "union_ops_counts",
    "upsert_merge", "value_trend_by_type", "window_temperature_deltas",
}
# Queries whose latest driver row is from round 3 (CORRECTNESS_r03.json
# keys, frozen). Together with _DRIVER_VERIFIED_R0102 this gives every
# query a last-verified round, so the ordering can rotate FRESHNESS.
# Honest restatement of the rotation bound (VERDICT r10 #1): with a
# ~50-row driver sample and ~248 registered queries, the achievable
# worst-case staleness is ⌈(N − changed) / (50 − changed)⌉ ≈ 5 rounds,
# not the 2 this comment used to promise — PROVIDED staleness actually
# dominates the rest-block ordering (fixed below: through r10 the
# global batch-first tiebreak starved streaming rows of slots).
# The local parity suite (tests/test_registry_parity.py) still
# hash-checks all queries every round, so driver staleness is about
# independent re-witness, not about anything going unverified.
_DRIVER_VERIFIED_R03 = {
    "analyze_table_stats", "anomaly_breakdown", "anomaly_scores",
    "anomaly_scores_t2", "approx_distinct_users", "clicks_in_error_windows",
    "dedup_clusters_star", "dedup_valid_readings", "dedup_valid_readings_aggform",
    "dq_check_violations", "events_asof_last_click", "ingest_audit_log",
    "jdbc_roundtrip", "kmeans_embedding_clusters", "knn_ivf_cosine",
    "mart_readings", "mg_heavy_hitters_check", "multimodal_decode_headers",
    "multimodal_media_metadata", "multimodal_resize_images", "nation_priority_pivot",
    "ops_anomaly_count_per_device", "pack_sequences_grid", "pagerank_dedup_graph",
    "profile_events_columns", "staging_readings", "streaming_cdc_upsert",
    "streaming_dedup_exact", "streaming_dedup_latest_wins", "streaming_ingest_kaggle",
    "streaming_interval_join", "streaming_outer_interval_join", "streaming_session_windows",
    "streaming_stateful_device_stats", "streaming_static_enrich", "streaming_tumbling_watermark",
    "summary_by_device", "summary_by_load", "summary_by_location",
    "summary_overall", "timetravel_upsert", "top_bigrams",
    "tpch_q10_returned_items", "tpch_q14_promo_effect", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_regional_revenue", "tpch_q6_forecast_revenue",
    "weighted_sample_topk", "zorder_events_box",
}
# Round-4 driver rows (CORRECTNESS_r04.json keys, frozen): every row
# green. Union of r01-r04 covers 170 distinct queries; the 21 still
# missing any driver row are fronted below.
_DRIVER_VERIFIED_R04 = {
    "bm25_topk", "bpe_encode_stats", "bpe_merge_table",
    "cms_frequency_check", "corpus_filter_funnel", "corpus_shuffle_manifest",
    "curriculum_score_phases", "datacard_rollup", "decontaminate_bloom_prefilter",
    "dedup_cluster_report", "dedup_exact_substrings", "dedup_incremental_delta",
    "drift_embedding_centroids", "dsir_importance_weights", "events_ohlc_hourly",
    "events_variant_props", "graph_triangle_count", "histogram_quantile_sketch",
    "hll_register_sketch", "hll_set_intersection", "join_cardinality_cms",
    "keyword_tagging", "l_diversity_audit", "mad_outlier_gate",
    "merge_error_intervals", "mmr_diverse_topk", "ndcg_retrieval_eval",
    "pack_sequences_sharded", "pipeline_run_report", "quality_classifier_filter",
    "quality_rank_fusion", "range_partition_audit", "record_linkage_blocked",
    "reshard_stability_hrw", "salted_event_type_stats", "salted_hot_key_join",
    "semantic_dedup_keep", "streaming_custom_source", "streaming_custom_source_dist",
    "streaming_histq_partials", "streaming_incremental_dedup", "streaming_incremental_mart",
    "streaming_mg_partials", "streaming_vocab_tvd", "time_weighted_avg",
    "tokenizer_fertility", "unigram_surprisal_bits", "versioned_manifest_stats",
    "versioned_table_diff", "vocab_divergence_tvd",
}
# Round-5 driver rows (CORRECTNESS_r05.json keys, frozen): every row
# green. Union of r01-r05 covers ALL registry queries — the never-
# verified backlog is empty from r6 on; ordering is pure freshness
# rotation plus changed/new fronting.
_DRIVER_VERIFIED_R05 = {
    "catalog_maintenance_report", "cluster_aware_split", "compact_versioned_files",
    "dedup_apply_substring_removal", "dedup_clusters_ngram", "dedup_clusters_star",
    "dedup_embedding_cosine", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash_pairs", "drift_value_chi2",
    "dup_source_matrix", "embedding_coverage_check", "events_hourly_tumbling",
    "events_json_props", "events_session_windows", "events_sliding_window",
    "hard_negative_mining", "ingest_audit_log", "ingest_file_log",
    "ingest_kaggle_transform", "jl_projection_recall", "k_anonymity_audit",
    "knn_brute_force_cosine", "knn_ivfpq_adc", "knn_lsh_cosine",
    "knn_pq_adc", "knn_pq_rerank", "minhash_lsh_quality",
    "mixture_token_budget", "multimodal_audio_energy", "multimodal_phash_dedup",
    "padding_waste_by_bucket", "pq_recall_check", "retention_filter",
    "simhash_fingerprints", "skew_key_diagnostics", "streaming_cms_partials",
    "streaming_hll_partials", "streaming_pq_encode", "synthetic_fields_contract",
    "text_stats", "tfidf_topk", "topk_orders",
    "tpch_q18_large_volume_customers", "union_ops_counts", "vocab_coverage_curve",
    "window_temperature_deltas", "winsorize_event_values",
}
# Round-6 changed/new set: queries whose OPERATOR code path changed
# this round and therefore need a fresh driver row. The r6 rework was
# performance-focused: session-cached index artifacts (quantized
# corpus, IVF cells, PQ codebook/codes, TF-IDF/BM25 postings — the
# build-once/serve-many materializations), the minhash inline(array)
# band generator, the anomaly single-select consolidation, and the
# PIL/soundfile-upgradeable decode_media. Every consumer of those
# paths is listed; plus the five new r6 queries (SQ8 ANN + recall,
# containment dedup, n-gram novelty, token-budget pick).
_CHANGED_R06 = [
    # new this round (no driver row yet)
    "knn_sq8_cosine",
    "sq8_recall_check",
    "dedup_containment_pairs",
    "ngram_novelty_scores",
    "token_budget_pick",
    "cluster_balanced_sample",
    "embedding_space_diagnostics",
    "knn_ivfsq8_cosine",
    "streaming_sq8_encode",
    # ANN family (quantized_corpus / ivf_index / pq codebook+codes caches)
    "knn_brute_force_cosine", "knn_ivf_cosine", "knn_lsh_cosine",
    "knn_pq_adc", "knn_pq_rerank", "knn_ivfpq_adc",
    "ann_recall_check", "pq_recall_check", "ndcg_retrieval_eval",
    "jl_projection_recall", "hard_negative_mining", "mmr_diverse_topk",
    "dedup_embedding_cosine", "semantic_dedup_keep", "streaming_pq_encode",
    # minhash band generator rework
    "dedup_minhash_lsh", "minhash_lsh_quality",
    # inverted-index caches
    "tfidf_topk", "bm25_topk",
    # anomaly single-select consolidation (+ its mart/summary consumers)
    "anomaly_scores", "anomaly_scores_t2", "mart_readings",
    "summary_by_load", "summary_by_device", "summary_by_location",
    "summary_overall", "anomaly_breakdown", "ops_anomaly_count_per_device",
    "union_ops_counts", "pipeline_run_report",
    # decode_media optional-dependency upgrade path
    "multimodal_decode_headers",
    # rank-fusion job-count rework (GROUPING SETS digest + LocalRelation
    # broadcasts replace count + per-signal windowed-bin jobs)
    "quality_rank_fusion",
    # repeated-fingerprint filter reworked to one window-count exchange
    "dedup_exact_substrings", "dedup_apply_substring_removal",
]
# Round-6 driver rows (CORRECTNESS_r06.json keys, frozen): every row
# green — the r6 sample covered the 9 new queries plus every
# changed-path consumer, exactly as ordered.
_DRIVER_VERIFIED_R06 = {
    "ann_recall_check", "anomaly_breakdown", "anomaly_scores",
    "anomaly_scores_t2", "bm25_topk", "chunk_documents_cdc",
    "cluster_balanced_sample", "dedup_apply_substring_removal", "dedup_containment_pairs",
    "dedup_embedding_cosine", "dedup_exact_substrings", "dedup_minhash_lsh",
    "doc_fingerprints_bottomk", "embedding_space_diagnostics", "hard_negative_mining",
    "jl_projection_recall", "knn_brute_force_cosine", "knn_ivf_cosine",
    "knn_ivfpq_adc", "knn_ivfsq8_cosine", "knn_lsh_cosine",
    "knn_pq_adc", "knn_pq_rerank", "knn_sq8_cosine",
    "lang_id_confusion", "mart_readings", "minhash_lsh_quality",
    "mmr_diverse_topk", "multimodal_decode_headers", "multimodal_frame_sample",
    "ndcg_retrieval_eval", "ngram_novelty_scores", "ops_anomaly_count_per_device",
    "pii_redaction", "pipeline_run_report", "pq_recall_check",
    "quality_rank_fusion", "semantic_dedup_keep", "sq8_recall_check",
    "stratified_sample_check", "streaming_pq_encode", "streaming_sq8_encode",
    "summary_by_device", "summary_by_load", "summary_by_location",
    "summary_overall", "tfidf_topk", "token_budget_pick",
    "training_corpus_prep", "union_ops_counts",
}
# Round-7 changed/new set: queries whose OPERATOR code path changed
# this round and therefore need a fresh driver row. The r7 rework:
# session-cached valid-readings table + stats digest with literal-CASE
# micro-dim enrichment (the whole anomaly/mart/summary family),
# session-cached exact ground-truth top-k (every recall/nDCG eval),
# mad_outlier_gate's checkpointed cents table, the widened streaming
# ingest landing, parameterized postings cache keys (tfidf/bm25), the
# div()-pinned ppm share (embedding diagnostics), the decode_media
# media-type wiring, and the sq8 empty-query guard. Plus the five new
# r7 queries (entropy gate, trimmed mean, SQ8 rerank, IVF sweep,
# banding design table).
_CHANGED_R07 = [
    # new this round (no driver row yet)
    "char_entropy_quality",
    "trimmed_mean_events",
    "knn_sq8_rerank",
    "ivf_recall_sweep",
    "minhash_band_tuning",
    "t_closeness_audit",
    "zipf_fit_check",
    "knn_ivfsq8_rerank",
    "streaming_mad_partials",
    # vr/stats-digest cache + literal-CASE enrichment consumers
    "anomaly_scores", "anomaly_scores_t2", "mart_readings",
    "summary_by_load", "summary_by_device", "summary_by_location",
    "summary_overall", "anomaly_breakdown", "ops_anomaly_count_per_device",
    "union_ops_counts", "pipeline_run_report",
    # shared cached ground-truth top-k
    "ann_recall_check", "pq_recall_check", "sq8_recall_check",
    "ndcg_retrieval_eval", "jl_projection_recall",
    # exchange-count / cache-key / parity reworks
    "mad_outlier_gate", "streaming_ingest_kaggle",
    "tfidf_topk", "bm25_topk", "embedding_space_diagnostics",
    "multimodal_decode_headers", "knn_sq8_cosine",
    # session-cached near-dup pair table consumers (cached_jaccard_pairs)
    "dedup_clusters_ngram", "dedup_clusters_star", "dedup_cluster_report",
    "pagerank_dedup_graph", "dup_source_matrix", "graph_triangle_count",
    "cluster_aware_split", "minhash_lsh_quality", "training_corpus_prep",
]
# Round-7 driver rows (CORRECTNESS_r07.json keys, frozen): every row
# green — the r7 sample covered the 9 new queries plus every
# changed-path consumer, exactly as ordered.
_DRIVER_VERIFIED_R07 = {
    "ann_recall_check", "anomaly_breakdown", "anomaly_scores",
    "anomaly_scores_t2", "bm25_topk", "char_entropy_quality",
    "cluster_aware_split", "decontaminate_ngram_overlap", "dedup_chunk_overlap",
    "dedup_cluster_report", "dedup_clusters_ngram", "dedup_clusters_star",
    "domain_cap_sample", "domain_cap_threshold", "dup_source_matrix",
    "embedding_space_diagnostics", "graph_triangle_count", "ivf_recall_sweep",
    "jl_projection_recall", "knn_ivfsq8_rerank", "knn_sq8_cosine",
    "knn_sq8_rerank", "lang_sampling_weights", "mad_outlier_gate",
    "mart_readings", "minhash_band_tuning", "minhash_lsh_quality",
    "multimodal_decode_headers", "ndcg_retrieval_eval", "ops_anomaly_count_per_device",
    "pagerank_dedup_graph", "pipeline_run_report", "pq_recall_check",
    "quality_repetition_rules", "sq8_recall_check", "streaming_ingest_kaggle",
    "streaming_mad_partials", "summary_by_device", "summary_by_load",
    "summary_by_location", "summary_overall", "t_closeness_audit",
    "tfidf_topk", "tpch_q13_customer_distribution", "tpch_q17_small_quantity_revenue",
    "tpch_q4_order_priority", "training_corpus_prep", "trimmed_mean_events",
    "union_ops_counts", "zipf_fit_check",
}
# Round-8 changed/new set: queries whose OPERATOR code path changed
# this round and therefore need a fresh driver row. The r8 rework:
# the shared session-cached cents-CDF table statistic (mad + trimmed
# mean serve paths, streamed MAD partials' shared helper), the
# session-cached knn_sq8 serve output (sq8 search + recall), the
# stats-digest driver-side treatment of the bounded-digest queries
# (t-closeness, Zipf fit, embedding diagnostics), the square-and-
# multiply exponent fix (banding design table), the audio-subtype
# bit-depth parse (decode headers), the empty-digest/empty-query
# guards (anomaly family, brute-force/HNM/ADC matmul kernels), and the
# pack_sharded_from_counts factoring. Plus the new r8 flagship.
_CHANGED_R08 = [
    # new this round (no driver row yet)
    "corpus_pipeline_full",
    "colbert_maxsim_topk", "maxsim_pooled_rerank", "matryoshka_recall_sweep",
    "knn_label_filtered",
    "corpus_dedup_curve", "pmi_collocations", "quality_quantile_normalize",
    "maxsim_pooled_recall", "streaming_novelty_curve",
    "dedup_prefix_filter_join", "hybrid_rrf_retrieval",
    # shared cents-CDF serve paths
    "mad_outlier_gate", "trimmed_mean_events", "streaming_mad_partials",
    # sq8 serve-output cache
    "knn_sq8_cosine", "sq8_recall_check",
    # stats-digest driver-side reworks
    "t_closeness_audit", "zipf_fit_check", "embedding_space_diagnostics",
    # ADVICE r7 fixes on live paths
    "minhash_band_tuning", "multimodal_decode_headers",
    "anomaly_scores", "anomaly_scores_t2",
    "knn_brute_force_cosine", "hard_negative_mining",
    "knn_pq_adc", "knn_pq_rerank", "knn_ivfpq_adc",
    # pack factoring
    "pack_sequences_sharded",
]
_DRIVER_VERIFIED_R08 = {
    "anomaly_scores", "anomaly_scores_t2", "colbert_maxsim_topk",
    "corpus_dedup_curve", "corpus_pipeline_full", "custom_source_device_stats",
    "dedup_prefix_filter_join", "embedding_space_diagnostics", "event_value_percentiles",
    "hard_negative_mining", "hybrid_rrf_retrieval", "jsonl_roundtrip",
    "knn_brute_force_cosine", "knn_ivfpq_adc", "knn_label_filtered",
    "knn_pq_adc", "knn_pq_rerank", "knn_sq8_cosine",
    "mad_outlier_gate", "matryoshka_recall_sweep", "maxsim_pooled_recall",
    "maxsim_pooled_rerank", "minhash_band_tuning", "multimodal_decode_headers",
    "orc_roundtrip", "pack_sequences_sharded", "pmi_collocations",
    "quality_quantile_normalize", "schema_evolution_read", "sq8_recall_check",
    "sql_api_regional_revenue", "streaming_mad_partials", "streaming_novelty_curve",
    "t_closeness_audit", "tpch_q11_important_stock", "tpch_q12_priority_by_returnflag",
    "tpch_q15_top_supplier", "tpch_q16_supplier_counts", "tpch_q19_disjunctive_revenue",
    "tpch_q20_part_promotion", "tpch_q21_suppliers_who_kept_waiting", "tpch_q22_global_sales_opportunity",
    "tpch_q2_min_cost_supplier", "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_type_profit", "trimmed_mean_events", "upsert_merge",
    "value_trend_by_type", "zipf_fit_check",
}
# Round-9 changed/new set: queries whose OPERATOR code path changed
# this round and therefore need a fresh driver row. The r9 rework
# (VERDICT r8 asks + ADVICE r8): the single-projection signal-bins
# table + literal-map rank lookup behind quality_rank_fusion, the
# session-cached tokenized corpus + repeated-span table behind the
# exact-substring family, the window-based Q21 decorrelation, the PMI
# oracle tokenizer alignment, and the maxsim strategy validation /
# IVF zero-norm-centroid guard (live on every maxsim/IVF-assignment
# consumer). Plus the new build-path query dedup_repeated_spans.
_CHANGED_R09 = [
    # new this round (no driver row yet)
    "dedup_repeated_spans",
    "doc_fingerprints_winnowing", "dedup_winnowing_overlap",
    "mixture_temperature_weights", "vocab_growth_curve",
    "span_corruption_plan", "fim_transform_plan",
    "stratified_allocation_hamilton",
    "epoch_shuffle_footrule", "seq_len_tradeoff_curve",
    "winnowing_detector_quality",
    # exhaustive-MaxSim ground truth now session-cached
    "maxsim_pooled_recall",
    # reworked serve/build paths
    "quality_rank_fusion",
    "dedup_exact_substrings", "dedup_apply_substring_removal",
    "tpch_q21_suppliers_who_kept_waiting",
    # oracle-tokenizer alignment (ADVICE r8 #1)
    "pmi_collocations",
    # CMS count-first build + word-slice hash family (sketch VALUES
    # changed — fresh driver rows required)
    "cms_frequency_check", "join_cardinality_cms", "streaming_cms_partials",
    # SemDeDup serves off the session-cached dup-corpus cell index
    "semantic_dedup_keep",
    # NOT fronted: the maxsim strategy-validation and IVF
    # zero-norm-centroid guards (ADVICE r8 #2/#3) touch only error
    # paths — outputs are bit-identical (pytest-pinned), so their nine
    # consumer queries stay in the freshness rotation instead of
    # crowding out genuinely stale rows. With 236 queries and a
    # ~50-row driver sample, the freshness cycle is
    # ⌈236 / (50 − new − changed)⌉ rounds; keeping changed ≤ ~10 holds
    # it near five.
]
# Round-9 driver rows (CORRECTNESS_r09.json keys, frozen): every row
# green — the r9 sample covered the 11 new queries plus the
# changed-path consumers and a freshness slice.
_DRIVER_VERIFIED_R09 = {
    "analyze_table_stats", "approx_percentile_check", "cms_frequency_check",
    "continuous_daily_rollup", "customer_order_windows", "dedup_apply_substring_removal",
    "dedup_exact_substrings", "dedup_repeated_spans", "dedup_valid_readings",
    "dedup_valid_readings_aggform", "dedup_winnowing_overlap", "doc_fingerprints_winnowing",
    "dq_check_violations", "epoch_shuffle_footrule", "events_moving_avg_7d",
    "events_resample_hourly_ffill", "fim_transform_plan", "funnel_ordered_stages",
    "join_cardinality_cms", "kmeans_embedding_clusters", "maxsim_pooled_recall",
    "mg_heavy_hitters_check", "mixture_temperature_weights", "multimodal_media_metadata",
    "multimodal_resize_images", "nation_priority_unpivot", "pack_sequences_grid",
    "part_setops", "pmi_collocations", "quality_rank_fusion",
    "revenue_cube", "revenue_rollup", "scd2_user_history",
    "semantic_dedup_keep", "seq_len_tradeoff_curve", "span_corruption_plan",
    "staging_readings", "stratified_allocation_hamilton", "streaming_cms_partials",
    "top_bigrams", "tpch_q10_returned_items", "tpch_q14_promo_effect",
    "tpch_q1_pricing_summary", "tpch_q21_suppliers_who_kept_waiting", "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue", "tpch_q6_forecast_revenue", "vocab_growth_curve",
    "winnowing_detector_quality", "zorder_events_box",
}
# Round-10 changed/new set: queries whose OPERATOR code path changed
# this round and therefore need a fresh driver row. The r10 rework
# (VERDICT r9 asks + ADVICE r9): the zero-exchange array-native
# winnowing fingerprint build, the winnowing pair-index build/serve
# split (report + detector quality now serve from the cached pair
# table), the SemDeDup per-cell Arrow-GEMM pairing kernel, the span
# build's 60-bit long fingerprints (representation swap — span values
# pinned identical, but kernel swaps get driver witness per VERDICT
# r9 #5), the exact-⌊n²/2⌋ footrule normalization (VALUES change for
# odd-n shards), and the boost_permille denominator guard. Plus
# matryoshka_recall_sweep — its r9 fused-kernel rework was trimmed
# from _CHANGED_R09 (VERDICT r9 #5 asks it fronted). Plus the round's
# nine new queries. 21 entries total, so a ~50-row driver sample
# leaves ~29 slots for the 54 r4-and-older stale rows (VERDICT r9 #4)
# stalest-first — the burn-down completes next round; coverage growth
# was weighted over staleness this round.
_CHANGED_R10 = [
    # new this round (no driver row yet)
    "dedup_winnowing_pair_index",
    "dedup_incremental_winnowing",
    "quality_bigram_surprisal",
    "dataloader_contamination_audit",
    "mixture_unimax_allocation",
    "bm25_impact_topk", "bm25_impact_recall",
    "streaming_winnowing_novelty",
    "streaming_bigram_lm_partials",
    # kernel/serve-path swaps needing fresh driver witness
    "doc_fingerprints_winnowing", "dedup_winnowing_overlap",
    "winnowing_detector_quality",
    "semantic_dedup_keep",
    "dedup_repeated_spans", "dedup_exact_substrings",
    "dedup_apply_substring_removal",
    "matryoshka_recall_sweep",
    # result-changing review fixes (ADVICE r9)
    "epoch_shuffle_footrule", "mixture_temperature_weights",
    # avgdl now cached with the BM25 index (serve-path change — the
    # maxsim_pooled_recall r9 precedent: cached artifacts get a fresh
    # driver row)
    "bm25_topk", "hybrid_rrf_retrieval",
]
# Round-10 driver rows (CORRECTNESS_r10.json keys, frozen): every row
# green — the 21 _CHANGED_R10 new/changed queries plus 29 staleness
# burn-down slots.
_DRIVER_VERIFIED_R10 = {
    'approx_distinct_users', 'bm25_impact_recall', 'bm25_impact_topk',
    'bm25_topk', 'bpe_encode_stats', 'bpe_merge_table',
    'clicks_in_error_windows', 'corpus_filter_funnel', 'corpus_shuffle_manifest',
    'curriculum_score_phases', 'datacard_rollup', 'dataloader_contamination_audit',
    'decontaminate_bloom_prefilter', 'dedup_apply_substring_removal', 'dedup_exact_substrings',
    'dedup_incremental_delta', 'dedup_incremental_winnowing', 'dedup_repeated_spans',
    'dedup_winnowing_overlap', 'dedup_winnowing_pair_index', 'doc_fingerprints_winnowing',
    'dsir_importance_weights', 'epoch_shuffle_footrule', 'events_asof_last_click',
    'events_variant_props', 'histogram_quantile_sketch', 'hll_register_sketch',
    'hybrid_rrf_retrieval', 'jdbc_roundtrip', 'keyword_tagging',
    'l_diversity_audit', 'matryoshka_recall_sweep', 'mixture_temperature_weights',
    'mixture_unimax_allocation', 'nation_priority_pivot', 'profile_events_columns',
    'quality_bigram_surprisal', 'quality_classifier_filter', 'range_partition_audit',
    'record_linkage_blocked', 'reshard_stability_hrw', 'semantic_dedup_keep',
    'streaming_bigram_lm_partials', 'streaming_winnowing_novelty', 'timetravel_upsert',
    'tokenizer_fertility', 'unigram_surprisal_bits', 'vocab_divergence_tvd',
    'weighted_sample_topk', 'winnowing_detector_quality',
}
# Round-11 driver sample (CORRECTNESS_r11.json keys, frozen).
_DRIVER_VERIFIED_R11 = {
    'bm25_hard_negatives', 'bm25_topk', 'catalog_maintenance_report',
    'corpus_refresh_report', 'dedup_exact', 'dedup_ngram_jaccard',
    'dedup_winnowing_overlap', 'drift_embedding_centroids', 'events_hourly_tumbling',
    'events_json_props', 'events_ohlc_hourly', 'events_session_windows',
    'events_sliding_window', 'hll_set_intersection', 'ingest_audit_log',
    'ingest_file_log', 'ingest_kaggle_transform', 'ivfpq_residual_recall',
    'knn_ivfpq_residual', 'knn_ivfpq_residual_rerank', 'merge_error_intervals',
    'quality_trigram_surprisal', 'retention_filter', 'salted_event_type_stats',
    'salted_hot_key_join', 'streaming_cdc_upsert', 'streaming_corpus_refresh',
    'streaming_custom_source', 'streaming_custom_source_dist', 'streaming_dedup_exact',
    'streaming_dedup_latest_wins', 'streaming_histq_partials', 'streaming_incremental_dedup',
    'streaming_incremental_mart', 'streaming_interval_join', 'streaming_mg_partials',
    'streaming_outer_interval_join', 'streaming_session_windows', 'streaming_stateful_device_stats',
    'streaming_static_enrich', 'streaming_trigram_lm_partials', 'streaming_tumbling_watermark',
    'streaming_vocab_tvd', 'synthetic_fields_contract', 'time_weighted_avg',
    'topk_orders', 'tpch_q18_large_volume_customers', 'versioned_manifest_stats',
    'versioned_table_diff', 'window_temperature_deltas',
}
# Round-12 changed/new set (optimization round 2: VERDICT r11 items
# #1-#6, #9): every query whose plan was restructured this round needs
# a fresh driver witness; the new build row has no row anywhere.
_CHANGED_R12 = [
    # new this round (VERDICT r11 #6): the from-scratch IVF-SQ8
    # inverted-list build row
    "ivfsq8_index_build",
    # plan-restructured this round:
    # - one-digest-pass band tuning (#2)
    # - single-train-pass decontamination (+ its corpus_pipeline_full
    #   embedding, which also gained the survivor barrier) (#1)
    # - token_budget_pick pushed-filter fix (#9)
    # - the fused MaxSim reduction (all three consumers) (#3)
    # - prefix-filter pair persist (#2)
    "minhash_band_tuning",
    "decontaminate_ngram_overlap",
    "corpus_pipeline_full",
    "token_budget_pick",
    "colbert_maxsim_topk",
    "maxsim_pooled_rerank",
    "maxsim_pooled_recall",
    "dedup_prefix_filter_join",
    # - gate-report single-pass fp counts + admission barrier; the
    #   streamed twin shares the gate kernel
    "corpus_refresh_report",
    "streaming_corpus_refresh",
]
# Round-11 changed/new set (VERDICT r10 asks #2-#4 + ADVICE r10).
# Kept deliberately SMALL: r11 is the staleness burn-down round —
# VERDICT r10 #1 requires every one of the 25 queries whose newest
# driver row is r3/r4 to get a fresh row, so changed+new must leave
# ≥25 sample slots for them.
_CHANGED_R11 = [
    # new this round (no driver row yet): the delta-crawl composite
    # (VERDICT r10 #4) in batch and streamed form, the add-one-smoothed
    # trigram LM gate (VERDICT r10 #5), and the residual IVF-PQ serve
    # (VERDICT r10 #6)
    "corpus_refresh_report",
    "streaming_corpus_refresh",
    "quality_trigram_surprisal",
    "knn_ivfpq_residual",
    "ivfpq_residual_recall",
    "knn_ivfpq_residual_rerank",
    "streaming_trigram_lm_partials",
    "bm25_hard_negatives",
    # serve-path changes needing fresh driver witness:
    # - winnowing_overlap_pairs broadcast → cost-based hint (ADVICE r10)
    # - bm25_topk registry row now cost-routes between the exact and
    #   impact-pruned serves (VERDICT r10 #2)
    # (NOT fronted: dedup_winnowing_pair_index — the VERDICT r10 #3
    # count-first prune was measured 13.8× at 100× vs the single-pass
    # form's 9.9× and REJECTED, so the build code is byte-identical to
    # its r10-verified state; the irreducibility note lives in the
    # operator docstring + SCALE.md r11)
    "dedup_winnowing_overlap",
    "bm25_topk",
]
_ROUND_SETS = [
    _DRIVER_VERIFIED_R0102,
    _DRIVER_VERIFIED_R03,
    _DRIVER_VERIFIED_R04,
    _DRIVER_VERIFIED_R05,
    _DRIVER_VERIFIED_R06,
    _DRIVER_VERIFIED_R07,
    _DRIVER_VERIFIED_R08,
    _DRIVER_VERIFIED_R09,
    _DRIVER_VERIFIED_R10,
    _DRIVER_VERIFIED_R11,
]
_last_round: dict[str, int] = {}
for _i, _s in enumerate(_ROUND_SETS):
    for _n in _s:
        _last_round[_n] = _i
_changed = [n for n in _CHANGED_R12 if n in REGISTRY]
_new_this_round = [n for n in _changed if n not in _last_round]
_changed_with_row = [n for n in _changed if n in _last_round]
# Ordering priority (driver samples ~50 entries per round, dict order):
# 1. queries added this round (no row anywhere),
# 2. changed-this-round queries (hold a green row; need a fresh one),
# 3. everything else, stalest driver row first (r1/r2 → … → r10).
# Within each block batch queries precede micro-batch streaming ones
# (fixed ~2 s harness cost each) so a time-boxed run verifies the most
# queries per second. CRITICAL ordering fix (VERDICT r10 #1): through
# r10 the batch-first tiebreak was applied to the WHOLE rest block, so
# an r3-stale streaming row sorted BEHIND every batch row including
# r9-fresh ones — exactly why the streaming family's driver rows
# stayed stale for seven rounds. Staleness now dominates: the
# batch-first preference applies only WITHIN a staleness level.


def _batch_first(names):
    return [n for n in names if not n.startswith("streaming_")] + [
        n for n in names if n.startswith("streaming_")
    ]


_rest_by_staleness = sorted(
    (n for n in REGISTRY if n not in _changed),
    key=lambda n: (_last_round.get(n, -1), n.startswith("streaming_")),
)
_order = (
    _batch_first(_new_this_round)
    + _batch_first(_changed_with_row)
    + _rest_by_staleness
)
REGISTRY = {n: REGISTRY[n] for n in _order}
