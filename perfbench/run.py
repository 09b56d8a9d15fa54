#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the engine's session with
``session.build_session`` on ``local[<cores>]``, runs the workload, checks
the outputs and prints, as its last line, ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is a record of
the host and of the run's validity. Everything it writes goes under
``.bench_build/perfbench`` in the checkout. The exit code is 0 only when
every output check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("short_queries", "ingest_stream")
OTHER_JVM_WAIT_S = 20.0
MAX_GEN_LATE_S = 0.05  # one file slot of ingest_stream's schedule


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- host and validity -------------------------------------------------
def spark_jvms() -> list[int]:
    """Pids of the Spark JVMs running on this host."""
    pids = []
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(path, "rb") as fh:
                if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                    pids.append(int(path.split("/")[2]))
        except OSError:  # the process ended while we looked
            continue
    return pids


def wait_for_quiet_host() -> list[int]:
    """Wait for other Spark JVMs to end; returns the ones still running."""
    deadline = time.monotonic() + OTHER_JVM_WAIT_S
    others = spark_jvms()
    while others and time.monotonic() < deadline:
        time.sleep(0.5)
        others = spark_jvms()
    return others


def source_digest() -> str:
    h = hashlib.sha256()
    for pkg in ("kafka_s3_etl_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            # stop at the checkout: a parent directory's repository is not ours
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_record(args, spark, others: list[int]) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores(),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "commit": git_commit(),
        "source_digest": source_digest(),
        "valid": not others,
        "invalid_reason": f"other Spark JVMs running: {others}" if others else None,
    }


# -- session -------------------------------------------------------------
def prepare_env() -> str:
    """A fresh run directory in the checkout; temp files and Spark's
    local dirs go under it."""
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None
    return run_dir


def start_session(run_dir: str, event_log: str | None):
    from kafka_s3_etl_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and the workers it owns) ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# -- metrics ---------------------------------------------------------------
def percentile(values: list[float], pct: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def end_to_end(setup_s: float, ops_per_s: float, latencies: list[float], tail_pct: int, problems: list[str]) -> dict:
    if not latencies:
        raise RuntimeError(f"no operation completed; nothing to report: {problems[:3]}")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
        "latency_tail_s": (percentile(latencies, tail_pct), "s"),
    }


PER_LAYER_UNITS = {
    "session.build_s": "s",
    "plans.build_s": "s",
    "plans.build_s_p50": "s",
    "plans.build_driver_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "spark.plan_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_queue_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.peak_heap_mb": "MB",
    "operators.calls": "count",
    "operators.self_s": "s",
    "operators.checkpoints": "count",
    "operators.checkpoint_s": "s",
    "streaming.call_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.addbatch_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.idle_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.files_per_batch": "count",
    "python.bytes_sent_mb": "MB",
    "python.bytes_received_mb": "MB",
    "python.rows_received": "count",
    "ingest.gen_late_s": "s",
    "check.failed_frac": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead_frac": "ratio",
}


@dataclass
class Outcome:
    """What one workload run produced, before it is printed."""

    e2e: dict
    attempted: int
    failed: int
    problems: list[str]
    window: tuple[float, float]
    n_ops: int
    extra: dict  # per-layer numbers the workload itself measured
    detail: dict  # diagnostics for the results file


def run_workload(
    spark, name: str, seed: int, seconds: float, run_dir: str, session_s: float, tracer,
    sf: str | None = None,
) -> Outcome:
    from perfbench import catalog, ingest

    if name == "ingest_stream":
        res = ingest.run(spark, run_dir, seed, seconds, tracer)
        problems = res.check_failures + [f"{res.failed} files never committed"] * bool(res.failed)
        return Outcome(
            end_to_end(session_s + res.setup_extra_s, res.capacity_per_s, res.latencies, ingest.TAIL_PCT, problems),
            attempted=res.attempted,
            failed=res.failed + len(res.check_failures),
            problems=problems,
            window=res.window,
            n_ops=res.batches,
            extra={"ingest.gen_late_s": res.gen_late_s, "streaming.files_per_batch": res.files_per_batch},
            detail={"setup_extra_s": res.setup_extra_s, "batches": res.batches},
        )
    wl = catalog.SHORT_QUERIES
    res = catalog.run(spark, wl, os.path.join(DATA, sf or wl.sf), seed, seconds, tracer)
    return Outcome(
        end_to_end(session_s + res.warmup_s, len(res.latencies) / res.wall_s, res.latencies, wl.tail_pct, res.errors),
        attempted=len(res.latencies) + len(res.errors) + len(wl.queries),
        failed=len(res.errors) + len(res.check_failures),
        problems=res.errors + res.check_failures,
        window=res.window,
        n_ops=len(res.latencies),
        extra={"ingest.gen_late_s": 0.0, "streaming.files_per_batch": 0.0},
        detail={
            "warmup_s": res.warmup_s,
            "check_s": res.check_s,
            "measured_s": res.wall_s,
            "passes": res.passes,
            "per_query_s": {k: [round(x, 4) for x in v] for k, v in res.per_query.items()},
        },
    )


def per_layer(out: Outcome, tracer, log_dir: str, session_s: float, peak_heap: float, overhead: float) -> dict:
    from perfbench.tracing import layer_metrics, read_event_log

    values = layer_metrics(tracer, read_event_log(log_dir), out.window, out.n_ops, cores(), peak_heap)
    values.update(out.extra)
    values["session.build_s"] = session_s
    values["check.failed_frac"] = out.failed / max(out.attempted, 1)
    values["trace.overhead_frac"] = overhead
    return {k: (values[k], unit) for k, unit in PER_LAYER_UNITS.items()}


def untraced_reference(args) -> dict:
    """Run the same workload and seed untraced, in its own process."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]  # fmt: skip
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"untraced reference run failed with code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def trace_overhead(workload: str, untraced: dict, traced: dict) -> float:
    """How much worse the traced run read than the untraced one (ratio - 1)."""
    if workload == "ingest_stream":
        return traced["latency_p50_s"][0] / untraced["latency_p50_s"]["value"] - 1.0
    return untraced["ops_per_s"]["value"] / traced["ops_per_s"][0] - 1.0


def measure(args, run_dir: str, reference: dict | None) -> tuple[dict, dict, Outcome]:
    """One run in ``run_dir``: the record, the metrics and the outcome."""
    ticks = cpu_ticks()
    t0 = time.perf_counter()
    others = wait_for_quiet_host()
    quiet_s = time.perf_counter() - t0
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    spark, session_s = start_session(run_dir, log_dir)
    tracer = None
    try:
        record = host_record(args, spark, others)
        if args.trace:
            from kafka_s3_etl_spark.plans.registry import all_queries
            from perfbench.tracing import Tracer, peak_heap_mb

            all_queries()  # import every plan module before wrapping
            tracer = Tracer()
            tracer.install(spark)
        out = run_workload(spark, args.workload, args.seed, args.seconds, run_dir, session_s, tracer)
        if tracer is not None:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            tracer.uninstall()
            peak_heap = peak_heap_mb(spark)
    finally:
        stop_session(spark)
    late = out.extra["ingest.gen_late_s"]
    if late > MAX_GEN_LATE_S:
        record["valid"] = False
        record["invalid_reason"] = f"the generator ran {late:.3f} s behind schedule"
    # Time the hypervisor gave to other guests: a noisy host, not the engine.
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    record.update(
        cpu_steal_frac=delta[7] / max(sum(delta), 1),
        problems=out.problems[:20],
        session_s=session_s,
        quiet_wait_s=quiet_s,
        detail=out.detail,
    )
    if tracer is None:
        return record, out.e2e, out
    overhead = trace_overhead(args.workload, reference, out.e2e)
    record["traced_end_to_end"] = {k: v for k, (v, _) in out.e2e.items()}
    tracer.write(os.path.join(WORK, "results", f"{tag(args)}.spans.jsonl"))
    return record, per_layer(out, tracer, log_dir, session_s, peak_heap, overhead), out


def tag(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_s3_etl_spark")) or not os.path.isdir(DATA):
        print("perfbench: run from a checkout holding kafka_s3_etl_spark/ and perfbench/data/", file=sys.stderr)
        return 2
    reference = untraced_reference(args) if args.trace else None
    run_dir = prepare_env()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    try:
        record, metrics, out = measure(args, run_dir, reference)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(WORK, "results", f"{tag(args)}.json"), "w") as fh:
        json.dump({"record": record, "metrics": metrics}, fh, indent=1)

    for p in out.problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    correct = not out.problems
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
