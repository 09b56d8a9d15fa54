"""Open-loop Kafka-wire ingest: the north-star pipeline, running.

The generator (main thread) drops one file of value-only JSON ``orders``
messages, in the shape ``sources/kafka.py::to_kafka_value`` emits, into a
watched directory every ``FILE_EVERY_S`` seconds. Each file is written to
a staging directory and renamed in, so the file source never sees half a
file. The stream is ``readStream.text(dir)`` ->
``streaming/jobs.py::decode_orders_wire`` -> ``flagship_filter`` -> a
parquet sink, on a fixed processing-time trigger.

A file's event latency runs from its *scheduled* write time (so a stall
is charged to every later file) to the sink commit of the micro-batch
that holds it. The batch comes from the checkpoint's ``sources/0`` log
(lowest batch id a file appears in: ``.compact`` files repeat older
entries); the commit time is the mtime of the sink's
``_spark_metadata/<batch>`` entry. No polling thread is needed.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass

from kafka_s3_etl_spark.plans.relational import FLAGSHIP_STATUS, FLAGSHIP_THRESHOLD
from kafka_s3_etl_spark.streaming.jobs import decode_orders_wire, flagship_filter
from perfbench.tracing import Tracer

FILE_EVERY_S = 0.05
MSGS_PER_FILE = 1000  # 20,000 messages/s
TRIGGER = "500 milliseconds"
WARMUP_FILES = 20  # one batch before the clock starts, part of setup_s
LEAD_IN_S = 1.0  # scheduled but not measured: the first batches after warm-up
TAIL_PCT = 95
DRAIN_TIMEOUT_S = 60.0

_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def make_files(seed: int, n_files: int) -> tuple[list[bytes], set[int]]:
    """Seeded message files and the order keys the filter must keep."""
    rng = random.Random(seed)
    key_base = rng.randrange(1, 10**9) * 10**6
    files, keep = [], set()
    for f in range(n_files):
        lines = []
        for i in range(MSGS_PER_FILE):
            key = key_base + f * MSGS_PER_FILE + i
            status = rng.choice(_STATUSES)
            date = f"{rng.randint(1992, 1998)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            lines.append(
                json.dumps(
                    {
                        "o_orderkey": key,
                        "o_custkey": rng.randint(1, 150000),
                        "o_orderstatus": status,
                        "o_totalprice": round(rng.uniform(900.0, 500000.0), 2),
                        "o_orderdate": f"{date} 00:00:00",
                        "o_orderpriority": rng.choice(_PRIORITIES),
                    },
                    separators=(",", ":"),
                )
            )
            if status == FLAGSHIP_STATUS and date >= FLAGSHIP_THRESHOLD:
                keep.add(key)
        files.append(("\n".join(lines) + "\n").encode())
    return files, keep


def _batch_of_files(ckpt: str) -> dict[str, int]:
    """File name -> lowest micro-batch id that read it."""
    out: dict[str, int] = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for entry in os.listdir(log_dir):
        if entry.startswith(".") or entry.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, entry)) as fh:
            for line in fh.read().splitlines()[1:]:  # line 0 is the version
                rec = json.loads(line)
                name = os.path.basename(rec["path"])
                out[name] = min(out.get(name, rec["batchId"]), rec["batchId"])
    return out


def _commit_times(sink: str) -> dict[int, float]:
    """Micro-batch id -> epoch seconds its sink log entry was written."""
    out: dict[int, float] = {}
    meta = os.path.join(sink, "_spark_metadata")
    if not os.path.isdir(meta):
        return out
    for entry in os.listdir(meta):
        stem = entry.removesuffix(".compact")
        if stem.isdigit():
            out[int(stem)] = os.stat(os.path.join(meta, entry)).st_mtime_ns / 1e9
    return out


@dataclass
class IngestResult:
    setup_extra_s: float  # stream start + warm-up batch, added to setup_s
    latencies: list[float]
    window: tuple[float, float]
    gen_late_s: float
    capacity_per_s: float  # messages per second of micro-batch busy time
    batches: int
    files_per_batch: float
    attempted: int
    failed: int
    check_failures: list[str]


def run(spark, run_dir: str, seed: int, seconds: float, tracer: Tracer | None) -> IngestResult:
    n_lead = round(LEAD_IN_S / FILE_EVERY_S)
    n_measured = max(1, round(seconds / FILE_EVERY_S))
    files, keep = make_files(seed, WARMUP_FILES + n_lead + n_measured)
    paths = {k: os.path.join(run_dir, "ingest", k) for k in ("in", "stage", "sink", "ckpt")}
    for p in paths.values():
        os.makedirs(p)

    def drop(i: int) -> str:
        name = f"part-{i:06d}.json"
        staged = os.path.join(paths["stage"], name)
        with open(staged, "wb") as fh:
            fh.write(files[i])
        os.rename(staged, os.path.join(paths["in"], name))
        return name

    for i in range(WARMUP_FILES):
        drop(i)
    t0 = time.perf_counter()
    wire = spark.readStream.text(paths["in"])
    out = flagship_filter(decode_orders_wire(wire), FLAGSHIP_STATUS, FLAGSHIP_THRESHOLD)
    query = (
        out.writeStream.format("parquet")
        .option("path", paths["sink"])
        .option("checkpointLocation", paths["ckpt"])
        .trigger(processingTime=TRIGGER)
        .start()
    )
    try:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while 0 not in _commit_times(paths["sink"]):
            if time.monotonic() > deadline or query.exception() is not None:
                raise RuntimeError(f"warm-up batch never committed: {query.exception()}")
            time.sleep(0.02)
        setup_extra_s = time.perf_counter() - t0

        # Open loop: file i is due at start + i * FILE_EVERY_S, whatever
        # the stream is doing.
        start = time.time() + FILE_EVERY_S
        due: dict[str, float] = {}
        gen_late = 0.0
        for j, i in enumerate(range(WARMUP_FILES, len(files))):
            t_due = start + j * FILE_EVERY_S
            wait = t_due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = drop(i)
            gen_late = max(gen_late, time.time() - t_due)
            if j >= n_lead:
                due[name] = t_due

        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while True:
            batch_of = _batch_of_files(paths["ckpt"])
            commits = _commit_times(paths["sink"])
            if all(batch_of.get(n) in commits for n in due):
                break
            if time.monotonic() > deadline or query.exception() is not None:
                break
            time.sleep(0.1)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    finally:
        query.stop()

    latencies, failed = [], 0
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b in commits:
            latencies.append(commits[b] - t_due)
        else:
            failed += 1
    measured_batches = {batch_of[n] for n in due if n in batch_of}
    last_commit = max((commits[b] for b in measured_batches if b in commits), default=0.0)
    window = (start + n_lead * FILE_EVERY_S, last_commit or time.time())
    busy = [p for p in progress if p["batchId"] in measured_batches]
    busy_ms = sum(p["durationMs"]["triggerExecution"] for p in busy)
    capacity = sum(p["numInputRows"] for p in busy) / (busy_ms / 1e3) if busy_ms else 0.0

    check_failures = []
    got = [r[0] for r in spark.read.parquet(paths["sink"]).select("o_orderkey").collect()]
    if len(got) != len(keep) or set(got) != keep:
        check_failures.append(
            f"ingest_stream: sink has {len(got)} rows / {len(set(got))} keys, "
            f"expected {len(keep)} keys"
        )
    return IngestResult(
        setup_extra_s=setup_extra_s,
        latencies=latencies,
        window=window,
        gen_late_s=gen_late,
        capacity_per_s=capacity,
        batches=len(measured_batches),
        files_per_batch=len(due) / max(len(measured_batches), 1),
        attempted=len(due),
        failed=failed,
        check_failures=check_failures,
    )
