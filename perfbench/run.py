"""Closed-loop benchmark of the paths spark-blq users wait on.

    python3 perfbench/run.py --workload agent_reads|run_ingest \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a source checkout. One client sends each request
only after the previous reply (a closed loop, as an agent or a developer
does). The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
with `--trace 1`). The line before it is the host record. Scratch data
lives under `.perfbench/` in the checkout; the full record and, when
traced, the spans are kept in `.perfbench/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "op_mean_ms": "ms",
    "events_per_s": "1/s",
}
WORKLOAD_NAMES = ("agent_reads", "run_ingest")
TOOLS = ("status", "history", "events", "diff", "query", "run_info", "event", "context", "last")
PER_LAYER = {
    **{f"serve.{t}.p50_ms": "ms" for t in TOOLS},
    "spark.jobs_per_call": "count",
    "spark.tasks_per_call": "count",
    "sources.store.files": "count",
    "sources.store.bytes": "bytes",
    "sources.store.table_ms_per_call": "ms",
    "cli.import_s": "s",
    "session.get_spark_s": "s",
    "cli.main_s": "s",
    "cli.stderr_bytes": "bytes",
    "ext.execute_ms": "ms",
    "sources.logparse.parse_content_ms": "ms",
    "sources.store.start_attempt_ms": "ms",
    "sources.store.complete_attempt_ms": "ms",
    "sources.store.append_run_ms": "ms",
    "sources.store.write_output_ms": "ms",
    "sources.store.append_ms_per_run": "ms",
    "sources.locks.acquire_ms_per_run": "ms",
    "sources.execution.git_context_ms": "ms",
    "spark.jobs_per_run": "count",
    "sources.store.files_per_run": "count",
    "sources.store.bytes_per_log_byte": "ratio",
    "proc.peak_rss_mb": "MiB",
    "trace.overhead_ms": "ms",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    return p.parse_args(argv)


def _environment() -> None:
    """Spark gets this host's CPU count and keeps its scratch files in
    the checkout; the JVM writes no perf-data file to the system temp."""
    from procs import host_cpus

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")


def metrics_of(raw: dict, traced: bool) -> dict:
    if traced:
        layers = raw["layers"]
        return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    values = {
        "setup_s": statistics.median(raw["setup_times"]),
        "op_mean_ms": statistics.fmean(raw["op_ms"]),
        "events_per_s": raw["events_per_s"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "blq_cli_spark")):
        print(f"perfbench: no blq_cli_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _environment()
    from procs import env_record, stop_spark
    from workloads import WORKLOADS

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
    record = {**env_record(ROOT), "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke}
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        raw, spark = WORKLOADS[args.workload](args, work, tracer)
    finally:
        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    record.update(raw.pop("record"))
    record["loadavg_end"] = os.getloadavg()
    record["failed_share"] = raw["failed"] / raw["attempted"]
    result = {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": metrics_of(raw, bool(args.trace)),
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    stem = os.path.join(OUT, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump({"record": record, "raw": raw, "result": result}, fh, default=str)
    if tracer is not None:
        tracer.dump(stem + ".spans.json")
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
