"""The four benchmark workloads. All are closed loop: one pipeline run
(or, for the stream, one micro-batch) at a time, one client.

Each workload generates its seeded inputs (``prepare``), computes the
registry's DuckDB oracle answers for them outside the timed region
(``expect``), runs one operation against the package's public functions
(``run``, the timed part, spans at each layer boundary) and compares
that operation's outputs with the oracles (``check``).
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

import gen
from compare import Diff, compare_rows, compare_spec, table_diff, value_rows
from spans import Tracer, dir_bytes

from iot_temp_data_pipeline_spark.checks import check_violations
from iot_temp_data_pipeline_spark.operators import marts
from iot_temp_data_pipeline_spark.operators.anomalies import int_temperature_anomalies
from iot_temp_data_pipeline_spark.operators.staging import stg_raw_temperature_readings
from iot_temp_data_pipeline_spark.plans import registry as reg
from iot_temp_data_pipeline_spark.plans.registry import REGISTRY, sql_select
from iot_temp_data_pipeline_spark.sources.readings import READINGS_SQL, raw_readings
from iot_temp_data_pipeline_spark.streaming import pipeline


@dataclass
class OpResult:
    """What one timed operation leaves for the check and the metrics."""

    outputs: dict = field(default_factory=dict)
    latencies_s: list[float] = field(default_factory=list)  # per micro-batch
    layer: dict[str, float] = field(default_factory=dict)  # named per-layer metrics
    recall: float | None = None  # ANN recall@k against brute force


class Workload:
    """``prepare(seed, in_dir)`` writes the inputs and sets ``in_dir`` and
    ``input_rows``; ``expect(con)`` computes the oracle answers;
    ``run(spark, tracer, out_dir)`` is one timed operation;
    ``check(result, con)`` returns one ``Diff`` per compared output."""

    name: str
    why: str
    ops_per_run = 1  # operations one ``run`` counts for in error_rate
    spans: tuple[str, ...] = ()  # the layer spans ``run`` opens
    named: tuple[str, ...] = ()  # the named per-layer metrics in ``OpResult.layer``
    end_to_end: tuple[str, ...] = ()  # end-to-end metrics beyond the common ones


class MedallionBatch(Workload):
    """The reference's product: landing readings → raw → staging → dq
    checks → dedup + z-score anomalies → mart (written) → summaries and
    the run report, in one fresh session per run."""

    name = "medallion_batch"
    why = (
        "the reference's product: the whole IoT chain cold over >= 97,606 seeded "
        "readings with re-delivered duplicates and a hot device; no stream, curation or retrieval"
    )
    # Readings and devices as in the sf0.1 events fixture (>= the paper's
    # 97,606 rows). The fixture has no re-deliveries and no hot device;
    # the two shares are chosen, see README.md.
    sizes = dict(n_readings=100_000, dup_share=0.05, hot_share=0.10, n_devices=1_500)
    spans = (
        "sources",
        "staging",
        "checks",
        "anomalies",
        "marts.write",
        "marts.summaries",
        "marts.report",
    )
    named = ("staging.valid_ratio", "anomalies.dedup_keep_ratio", "marts.bytes_written")
    summaries = (
        ("summary_by_load", marts.load_level_stats, reg.SUMMARY_BY_LOAD_SPEC),
        ("summary_by_device", marts.device_level_stats, reg.SUMMARY_BY_DEVICE_SPEC),
        ("summary_by_location", marts.location_level_stats, reg.SUMMARY_BY_LOCATION_SPEC),
        ("summary_overall", marts.pipeline_summary, reg.SUMMARY_OVERALL_SPEC),
        ("anomaly_breakdown", marts.anomaly_analysis, reg.ANOMALY_BREAKDOWN_SPEC),
    )
    specs = {
        "dq_check_violations": reg.DQ_CHECK_SPEC,
        "pipeline_run_report": reg.RUN_REPORT_SPEC,
    } | {name: spec for name, _, spec in summaries}

    def prepare(self, seed: int, in_dir: str) -> None:
        self.in_dir = in_dir
        path = gen.write_events(in_dir, seed, **self.sizes)
        self.input_rows = pq.ParquetFile(path).metadata.num_rows

    def expect(self, con) -> None:
        self.want = {n: value_rows(con.sql(REGISTRY[n].oracle).df()) for n in self.specs}
        self.want_mart = _materialize(con, "want_mart", REGISTRY["mart_readings"].oracle)

    def run(self, spark: SparkSession, tr: Tracer, out_dir: str) -> OpResult:
        mart_path = os.path.join(out_dir, "mart")
        out = {}
        with tr.span("sources"):
            raw = raw_readings(spark, self.in_dir)
        with tr.span("staging"):
            stg = stg_raw_temperature_readings(raw)
        with tr.span("checks"):
            out["dq_check_violations"] = check_violations(stg).toPandas()
        with tr.span("anomalies"):
            anomalies = int_temperature_anomalies(stg, threshold=reg.ACTIVE_THRESHOLD)
        with tr.span("marts.write"):
            marts.write_mart(marts.mart_temperature_readings(anomalies), mart_path)
        with tr.span("marts.summaries"):
            mart = spark.read.parquet(mart_path)
            for name, fn, _ in self.summaries:
                out[name] = fn(mart).toPandas()
        with tr.span("marts.report"):
            out["pipeline_run_report"] = marts.pipeline_run_report(raw, stg, mart).toPandas()
        report = {
            (r.stage, r.metric): r.value
            for r in out["pipeline_run_report"].itertuples(index=False)
        }
        valid = report.get(("staging", "valid_records"), 0)
        return OpResult(
            outputs=out | {"mart_path": mart_path},
            layer={
                "staging.valid_ratio": valid / max(report.get(("staging", "staged_records"), 0), 1),
                "anomalies.dedup_keep_ratio": report.get(("transform", "mart_rows"), 0) / max(valid, 1),
                "marts.bytes_written": float(dir_bytes(mart_path)),
            },
        )

    def check(self, res: OpResult, con) -> list[Diff]:
        diffs = [
            compare_spec(con, n, res.outputs[n], spec, self.want[n])
            for n, spec in self.specs.items()
        ]
        got = sql_select(
            reg.MART_SPEC,
            f"read_parquet('{res.outputs['mart_path']}/*/*.parquet', hive_partitioning = true)",
        )
        diffs.append(table_diff(con, "mart_readings", got, self.want_mart))
        return diffs


def _materialize(con, table: str, sql: str) -> str:
    """Evaluate a large oracle once; every check then scans the table."""
    con.sql(f"CREATE OR REPLACE TEMP TABLE {table} AS {sql}")
    return f"SELECT * FROM {table}"


RAW_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("temperature", T.DoubleType()),
        T.StructField("location", T.StringType()),
        T.StructField("_dlt_id", T.StringType()),
        T.StructField("_dlt_load_id", T.StringType()),
    ]
)


class MedallionStream(Workload):
    """The same staging and anomaly code with writes beside reads: K
    loads land as raw-readings files; ``foreach_batch_refresh`` runs
    under availableNow with one file per trigger, appending to raw and
    the audit log and fully refreshing the mart from all raw so far."""

    name = "medallion_stream"
    why = (
        "the same staging and anomaly code with writes beside reads: K loads, one "
        "file per trigger, each micro-batch fully refreshes the mart"
    )
    n_loads = 4
    ops_per_run = n_loads  # an operation is a micro-batch
    # The loads together hold the sf0.01 events fixture's 10,000 readings
    # over its 150 devices, plus the medallion workload's shares.
    sizes = dict(n_readings=2_500, dup_share=0.05, hot_share=0.10, n_devices=150)
    spans = ("streaming.batch", "streaming.refresh")
    named = ("streaming.commit_s", "streaming.rescan_ratio", "streaming.batch_slope_s")
    end_to_end = ("batch_p50_s",)

    def prepare(self, seed: int, in_dir: str) -> None:
        self.in_dir = in_dir
        self.landing = os.path.join(in_dir, "landing")
        loads_dir = os.path.join(in_dir, "loads")
        loads = gen.write_event_loads(loads_dir, seed, self.n_loads, **self.sizes)
        os.makedirs(self.landing, exist_ok=True)
        con = duckdb.connect(config={"threads": 1})
        for i, path in enumerate(loads):
            # Landing files carry the raw-readings shape of the package's
            # own ingest mapping (READINGS_SQL), timestamps UTC-adjusted
            # so the stream's TIMESTAMP schema reads them unchanged.
            con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{path}'")
            t = con.sql(f"WITH {READINGS_SQL} SELECT * FROM raw_readings").arrow()
            idx = t.schema.get_field_index("timestamp")
            t = t.set_column(
                idx, "timestamp", t.column(idx).cast(pa.timestamp("us", tz="UTC"))
            )
            pq.write_table(t, os.path.join(self.landing, f"load_{i:03d}.parquet"))
        con.close()
        union = pa.concat_tables([pq.read_table(p) for p in loads])
        pq.write_table(union, os.path.join(in_dir, "events.parquet"))
        self.input_rows = union.num_rows

    def expect(self, con) -> None:
        self.want_mart = _materialize(con, "want_mart", REGISTRY["anomaly_scores"].oracle)

    def run(self, spark: SparkSession, tr: Tracer, out_dir: str) -> OpResult:
        raw, mart, audit, ckpt = (os.path.join(out_dir, d) for d in ("raw", "mart", "audit", "ckpt"))
        process = pipeline.foreach_batch_refresh(raw, mart, audit)
        if tr.enabled:
            # Span the package's refresh step from outside: the callback
            # resolves ``refresh_marts`` through the module at call time.
            refresh = pipeline.refresh_marts

            def traced_refresh(*args):
                with tr.span("streaming.refresh"):
                    refresh(*args)

            def traced_process(batch_df, batch_id):
                with tr.span("streaming.batch"):
                    process(batch_df, batch_id)

            pipeline.refresh_marts = traced_refresh
        try:
            stream = (
                spark.readStream.schema(RAW_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.landing)
            )
            query = (
                stream.writeStream.foreachBatch(traced_process if tr.enabled else process)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
            progress = [p for p in query.recentProgress if p.numInputRows > 0]
        finally:
            if tr.enabled:
                pipeline.refresh_marts = refresh
        lat = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        commit = [
            (p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)) / 1000.0
            for p in progress
        ]
        return OpResult(
            outputs={"raw": raw, "mart": mart, "audit": audit, "batches": len(progress)},
            latencies_s=lat,
            layer={
                "streaming.commit_s": statistics.median(commit) if commit else 0.0,
                # least-squares growth of batch latency per batch index
                "streaming.batch_slope_s": (
                    statistics.linear_regression(range(len(lat)), lat).slope
                    if len(lat) > 1
                    else 0.0
                ),
            },
        )

    def check(self, res: OpResult, con) -> list[Diff]:
        o = res.outputs
        n_raw = con.sql(f"SELECT count(*) FROM read_parquet('{o['raw']}/*.parquet')").fetchone()[0]
        audit = con.sql(
            f"SELECT count(*), sum(n_rows) FROM read_parquet('{o['audit']}/*.parquet')"
        ).fetchone()
        got = sql_select(reg.ANOM_SPEC, f"read_parquet('{o['mart']}/*.parquet')")
        return [
            Diff("micro_batches", self.n_loads, min(o["batches"], self.n_loads), max(o["batches"] - self.n_loads, 0)),
            Diff("raw_rows", self.input_rows, min(n_raw, self.input_rows), max(n_raw - self.input_rows, 0)),
            Diff("audit", 1, int(audit == (self.n_loads, self.input_rows)), 0),
            # full refresh after the last load == batch chain over the union
            table_diff(con, "anomaly_scores", got, self.want_mart),
        ]


class CurationBatch(Workload):
    """ROADMAP's second flagship DAG: ``corpus_pipeline_full`` (quality
    gate → exact dedup → near dedup incl. the pair-table build →
    decontamination → domain caps → packing) from a fresh session."""

    name = "curation_batch"
    why = (
        "the second flagship DAG: corpus_pipeline_full cold, including the near-dup "
        "pair-table build; bypasses every IoT layer"
    )
    # The sf0.1 documents fixture: 5,000 documents, 5% near-duplicates.
    sizes = dict(n_docs=5_000, near_share=0.05)
    query = "corpus_pipeline_full"
    spans = ("curation.pipeline",)
    named = ("curation.survivor_ratio",)

    def prepare(self, seed: int, in_dir: str) -> None:
        self.in_dir = in_dir
        gen.write_documents(in_dir, seed, **self.sizes)
        n = self.sizes["n_docs"]
        self.input_rows = n
        # dedup_corpus injects copies of doc_id % 7 == 0 and % 11 == 0
        self.corpus_rows = n + len(range(0, n, 7)) + len(range(0, n, 11))

    def expect(self, con) -> None:
        self.want = value_rows(con.sql(REGISTRY[self.query].oracle).df())

    def run(self, spark: SparkSession, tr: Tracer, out_dir: str) -> OpResult:
        with tr.span("curation.pipeline"):
            out = REGISTRY[self.query].spark(spark, self.in_dir).toPandas()
        return OpResult(
            outputs={self.query: out},
            layer={"curation.survivor_ratio": out["doc_id"].nunique() / self.corpus_rows},
        )

    def check(self, res: OpResult, con) -> list[Diff]:
        return [compare_rows(self.query, res.outputs[self.query], self.want)]


class RetrievalBatch(Workload):
    """The ANN and BM25 family through their registry entries: each
    index is built once per run (fresh session) and served ``serves``
    times, then the registry's recall checks run."""

    name = "retrieval_batch"
    why = (
        "the ANN and BM25 family: each index built once per run and served several "
        "times, plus the registry recall checks"
    )
    # The sf0.01 embeddings and documents fixtures' sizes.
    emb_sizes = dict(n_vecs=500, n_labels=10)
    doc_sizes = dict(n_docs=500, near_share=0.05)
    serves = 3
    strategies = (
        ("retrieval.knn_brute", "knn_brute_force_cosine"),
        ("retrieval.knn_ivf", "knn_ivf_cosine"),
        ("retrieval.knn_pq", "knn_ivfpq_adc"),
        ("retrieval.knn_sq8", "knn_sq8_cosine"),
        ("retrieval.bm25", "bm25_topk"),
    )
    recall_checks = ("ann_recall_check", "pq_recall_check", "sq8_recall_check")
    ann = (("ivf", "knn_ivf_cosine"), ("pq", "knn_ivfpq_adc"), ("sq8", "knn_sq8_cosine"))
    spans = tuple(span for span, _ in strategies) + ("retrieval.recall",)
    named = tuple(f"retrieval.recall_{k}" for k, _ in ann)
    end_to_end = ("recall_at_k",)

    def prepare(self, seed: int, in_dir: str) -> None:
        self.in_dir = in_dir
        gen.write_embeddings(in_dir, seed, **self.emb_sizes)
        gen.write_documents(in_dir, seed + 1, **self.doc_sizes)
        self.input_rows = self.emb_sizes["n_vecs"] + self.doc_sizes["n_docs"]

    def expect(self, con) -> None:
        names = [q for _, q in self.strategies] + list(self.recall_checks)
        self.want = {n: value_rows(con.sql(REGISTRY[n].oracle).df()) for n in names}

    def run(self, spark: SparkSession, tr: Tracer, out_dir: str) -> OpResult:
        out = {}
        for span, name in self.strategies:
            with tr.span(span):
                out[name] = [REGISTRY[name].spark(spark, self.in_dir).toPandas() for _ in range(self.serves)]
        with tr.span("retrieval.recall"):
            for name in self.recall_checks:
                out[name] = [REGISTRY[name].spark(spark, self.in_dir).toPandas()]
        truth = _topk(out["knn_brute_force_cosine"][-1])
        recall = {key: _recall(_topk(out[name][-1]), truth) for key, name in self.ann}
        return OpResult(
            outputs=out,
            layer={f"retrieval.recall_{k}": v for k, v in recall.items()},
            recall=statistics.fmean(recall.values()),
        )

    def check(self, res: OpResult, con) -> list[Diff]:
        return [
            compare_rows(f"{name}#{i}", got, self.want[name])
            for name, serves in res.outputs.items()
            for i, got in enumerate(serves)
        ]


def _topk(pdf: pd.DataFrame) -> dict[int, set[int]]:
    return pdf.groupby("query_id")["neighbor_id"].agg(set).to_dict()


def _recall(approx: dict[int, set[int]], truth: dict[int, set[int]]) -> float:
    """Mean over the brute-force queries of |approx ∩ truth| / |truth|."""
    return statistics.fmean(len(approx.get(q, set()) & t) / len(t) for q, t in truth.items())


WORKLOADS = {w.name: w for w in (MedallionBatch, MedallionStream, CurationBatch, RetrievalBatch)}
