"""Cold end-to-end benchmark of the medallion, streaming, curation and
retrieval DAGs.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 12 --trace 0

One run, in one process: generate the workload's seeded inputs, compute
the DuckDB oracle answers, start Spark with ``session.get_spark`` and run
one cold operation (JVM, JIT and session caches all cold; ``setup_s``
ends with it), then run measured operations until ``--seconds`` have
passed (at least one). Every operation gets a fresh ``newSession()``
after the shared cache is cleared, and its outputs are checked against
the oracles outside the timed region. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (see README.md). A per-run record with the noise
fingerprint goes to stderr.

Load is sized for the host: ``local[nproc]``, DuckDB threads = nproc,
one process, one client. Every file the run writes (inputs, outputs,
Spark local dirs, JVM and Python temp files) lives under
``.perfbench/<workload>-<pid>/`` in the checkout and is removed at the
end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workloads listed in BENCHMARK.json; the others stay runnable by name.
# See README.md for why two of the four are left out.
BENCHMARKED = ("medallion_batch", "curation_batch")
RUN_SECONDS = 12
# name: (unit, better, bound) — bound is the share of the parent's median
# a metric may worsen by before a change counts as a regression. These sit
# at the 0.25 cap: hypervisor steal on the 4-vCPU host moves single
# operations by 10-40% (README.md, "Steadiness").
# Every workload prints the first three; a workload prints the others
# only if it names them in ``Workload.end_to_end``.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "input_rows_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
    "batch_p50_s": ("s", "lower", 0.25),
    "recall_at_k": ("ratio", "higher", 0.05),
}
COMMON_END_TO_END = ("setup_s", "input_rows_per_s", "peak_rss_mb")
STATS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "task_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}
# Named per-layer metrics beside the span stats. The common ones come
# from the runner; the rest from the workload that names them.
NAMED = {
    "session.start_s": ("s", "lower"),
    "staging.valid_ratio": ("ratio", "higher"),
    "anomalies.dedup_keep_ratio": ("ratio", "higher"),
    "marts.bytes_written": ("B", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.rescan_ratio": ("ratio", "lower"),
    "streaming.batch_slope_s": ("s", "lower"),
    "curation.survivor_ratio": ("ratio", "higher"),
    "retrieval.recall_ivf": ("ratio", "higher"),
    "retrieval.recall_pq": ("ratio", "higher"),
    "retrieval.recall_sq8": ("ratio", "higher"),
    "duckdb.oracle_s": ("s", "lower"),
    "host.floor_s": ("s", "lower"),
    "host.steal_ticks": ("count", "lower"),
    "trace.input_rows_per_s": ("1/s", "higher"),
    "trace.extra_jobs": ("count", "lower"),
    "error_rate": ("ratio", "lower"),
}
COMMON_NAMED = (
    "session.start_s",
    "duckdb.oracle_s",
    "host.floor_s",
    "host.steal_ticks",
    "trace.input_rows_per_s",
    "trace.extra_jobs",
    "error_rate",
)


def layer_metrics(workloads) -> dict[str, tuple[str, str]]:
    """Per-layer metrics of ``workloads``: the stats of each span they
    open, their named metrics, and the common ones."""
    names = [f"{sp}.{st}" for w in workloads for sp in w.spans for st in STATS]
    names += [n for w in workloads for n in w.named] + list(COMMON_NAMED)
    return {n: NAMED.get(n) or STATS[n.rsplit(".", 1)[1]] for n in dict.fromkeys(names)}


def end_to_end_metrics(workloads) -> dict[str, tuple[str, str, float]]:
    names = list(COMMON_END_TO_END) + [n for w in workloads for n in w.end_to_end]
    return {n: END_TO_END[n] for n in dict.fromkeys(names)}


def benchmark_json() -> dict:
    from workloads import WORKLOADS

    listed = [WORKLOADS[w] for w in BENCHMARKED]
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in listed],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in end_to_end_metrics(listed).items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in layer_metrics(listed).items()
        ],
    }


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _env(scratch: str, ncpu: int) -> dict[str, str]:
    """Environment and Spark conf that size the run to the available cores
    and keep every file it writes inside ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(ncpu),
        # Below the package's 8 GiB default: under that limit the collector
        # grows the heap in steps, so peak RSS of one workload read 2.5 GB
        # on some seeds and 4.2 GB on others (quartile spread 0.41 over ten
        # seeds), wider than any bound; 2 GiB also suits a host whose
        # memory other jobs share.
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_SCRATCH=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job of the run readable for job counts and spans
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _remove(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch))  # only if no other run uses it
    except OSError:
        pass


def _clear_shared_cache(spark) -> None:
    """Drop everything a previous operation left cached in the shared
    state: catalog-cached DataFrames and persisted or checkpointed RDDs."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--write-benchmark-json",
        action="store_true",
        help="write BENCHMARK.json at the repo root from the definitions here and exit",
    )
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.write_benchmark_json:
        text = json.dumps(benchmark_json(), indent=2) + "\n"
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(text)
        return 0
    if args.workload is None or args.seed is None:
        ap.error("--workload and --seed are required")

    # A terminated run still stops Spark and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ncpu = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    conf = _env(scratch, ncpu)
    try:
        import compare
        import spans
        from iot_temp_data_pipeline_spark.session import get_spark
        from workloads import WORKLOADS
    except ImportError as e:
        _log(f"cannot import the package under test: {e}")
        return 2
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)

    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        wl.prepare(args.seed, os.path.join(scratch, "in"))
        con = compare.connect(wl.in_dir, ncpu, os.path.join(scratch, "tmp"))
        t = time.perf_counter()
        wl.expect(con)
        oracle_s = time.perf_counter() - t

        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        pids = [os.getpid(), spans.jvm_pid(spark)]

        def one_op(i: int, traced: bool) -> dict:
            _clear_shared_cache(spark)
            session = spark.newSession()
            tr = spans.Tracer(session, traced, op=i)
            out_dir = os.path.join(scratch, "out", f"op{i}")
            jobs0 = spans.job_count(spark)
            steal0 = spans.steal_ticks()
            spans.reset_peak_rss(pids)
            t = time.perf_counter()
            res, err = None, None
            try:
                res = wl.run(session, tr, out_dir)
            except Exception:
                err = traceback.format_exc()
            wall = time.perf_counter() - t
            rec = {
                "wall_s": wall,
                "end": time.perf_counter(),
                "peak_rss_mb": spans.peak_rss_mb(pids),
                "steal_ticks": spans.steal_ticks() - steal0,
                "jobs": spans.job_count(spark) - jobs0,
                "res": res,
                "layer": tr.stats() if traced else {},
            }
            if err is None:
                try:
                    rec["diffs"] = wl.check(res, con)
                except Exception:
                    err = traceback.format_exc()
            rec["error"] = err
            rec["ok"] = err is None and all(d.ok for d in rec["diffs"])
            if err:
                _log(f"op {i} raised:\n{err}")
            elif not rec["ok"]:
                _log(f"op {i} mismatches: {[d for d in rec['diffs'] if not d.ok]}")
            shutil.rmtree(out_dir, ignore_errors=True)
            return rec

        cold = one_op(0, traced=False)
        setup_s = cold["end"] - t0

        measured = []
        t_start = time.perf_counter()
        while not measured or time.perf_counter() - t_start < args.seconds:
            rec = one_op(len(measured) + 1, traced=bool(args.trace))
            # Cold-run guard: every run starts from a fresh session and a
            # cleared shared cache, so it launches exactly the jobs the
            # cold run did. Fewer means a cache leaked across runs; with
            # tracing on, a difference means tracing launched jobs.
            if rec["jobs"] != cold["jobs"]:
                _log(
                    f"run {len(measured) + 1} launched {rec['jobs']} Spark jobs, "
                    f"the cold untraced run {cold['jobs']}"
                )
                rec["ok"] = False
            measured.append(rec)
        host_floor_s = spans.floor_s(spark)
    finally:
        if spark is not None:
            _stop(spark)
        _remove(scratch)

    ops = [cold] + measured
    attempted = wl.ops_per_run * len(ops)
    failed = wl.ops_per_run * sum(not r["ok"] for r in ops)
    med = statistics.median
    rows_per_s = [wl.input_rows / r["wall_s"] for r in measured]
    latencies = [x for r in measured if r["res"] for x in r["res"].latencies_s]
    recalls = [r["res"].recall for r in measured if r["res"] and r["res"].recall is not None]

    end_to_end = {
        "setup_s": setup_s,
        "input_rows_per_s": med(rows_per_s),
        "peak_rss_mb": med(r["peak_rss_mb"] for r in measured),
        "batch_p50_s": med(latencies) if latencies else 0.0,
        "recall_at_k": med(recalls) if recalls else 0.0,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": wl.input_rows,
        "cold_s": cold["wall_s"],
        "op_s": [r["wall_s"] for r in measured],
        "jobs": [r["jobs"] for r in ops],
        "steal_ticks": [r["steal_ticks"] for r in ops],
        "host_floor_s": host_floor_s,
        "session_start_s": session_start_s,
        "duckdb_oracle_s": oracle_s,
    }
    _log("run record " + json.dumps(record))

    # The metrics of the listed workloads, so each of them prints exactly
    # what BENCHMARK.json names, plus this workload's own.
    shown = [WORKLOADS[w] for w in BENCHMARKED] + [type(wl)]
    if args.trace:
        units = layer_metrics(shown)
        values = {
            "session.start_s": session_start_s,
            "duckdb.oracle_s": oracle_s,
            "host.floor_s": host_floor_s,
            "host.steal_ticks": med(r["steal_ticks"] for r in measured),
            "trace.input_rows_per_s": end_to_end["input_rows_per_s"],
            "trace.extra_jobs": med(r["jobs"] - cold["jobs"] for r in measured),
            "error_rate": failed / attempted,
        }
        for span in wl.spans:
            vals = [r["layer"].get(span, {}) for r in measured]
            for stat in STATS:
                values[f"{span}.{stat}"] = med(v.get(stat, 0.0) for v in vals)
        refresh_in = [r["layer"].get("streaming.refresh", {}).get("input_records", 0.0) for r in measured]
        if any(refresh_in):
            values["streaming.rescan_ratio"] = med(refresh_in) / wl.input_rows
        for key in wl.named:
            vals = [r["res"].layer[key] for r in measured if r["res"] and key in r["res"].layer]
            if vals:
                values[key] = med(vals)
    else:
        units = end_to_end_metrics(shown)
        values = end_to_end
    # A layer the workload does not run reports 0.
    metrics = {k: values.get(k, 0.0) for k in units}

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
