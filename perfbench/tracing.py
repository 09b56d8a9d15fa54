"""Tracing for the benchmark's traced run.

Everything here works through public entry points only:

* spans recorded by the benchmark's own wrappers around the public
  functions of the layers it measures (``sources.tables.load_table``,
  the public functions of ``operators.graph/dedup/similarity/linkage``
  and ``streaming.runner/late/outer_join/session_close``) and around
  ``DataFrame.localCheckpoint/checkpoint/persist`` when an operator call
  is open;
* a job group per request (one catalog query);
* a ``StreamingQueryListener`` collecting micro-batch progress;
* Spark's JSON event log, parsed after the session stops.

Spans stay in memory and are written once, at the end of the run. A
span's self time is its duration minus the time its child spans cover;
the wrappers only nest (one thread), so children never overlap.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Layer -> modules whose public functions the traced run wraps.
LAYER_MODULES = {
    "operators": [
        "kafka_s3_etl_spark.operators.graph",
        "kafka_s3_etl_spark.operators.dedup",
        "kafka_s3_etl_spark.operators.similarity",
        "kafka_s3_etl_spark.operators.linkage",
    ],
    "streaming": [
        "kafka_s3_etl_spark.streaming.runner",
        "kafka_s3_etl_spark.streaming.late",
        "kafka_s3_etl_spark.streaming.outer_join",
        "kafka_s3_etl_spark.streaming.session_close",
    ],
}
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds, comparable with event-log times
    end: float
    parent: int | None
    request: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder plus the wrappers that feed it.

    ``load_delay_s`` sleeps inside the ``load_table`` wrapper; the
    self-test uses it to show that the per-layer numbers move where the
    delay is and nowhere else.
    """

    def __init__(self, load_delay_s: float = 0.0):
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self.load_delay_s = load_delay_s
        self._stack: list[int] = []
        self._request: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None
        self._spark = None

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        sp = Span(
            len(self.spans),
            name,
            layer,
            time.time(),
            0.0,
            self._stack[-1] if self._stack else None,
            self._request,
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextmanager
    def request(self, name: str):
        """Root span of one operation; its jobs carry its job group."""
        sc = self._spark.sparkContext
        self._request = len(self.spans)
        sc.setJobGroup(f"perfbench-{self._request}", name)
        try:
            with self.span("query", name) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._request = None

    def _in_layer(self, layer: str) -> bool:
        return any(self.spans[i].layer == layer for i in self._stack)

    # -- wrappers ------------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn.__name__):
                if layer == "sources" and tracer.load_delay_s:
                    time.sleep(tracer.load_delay_s)
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_checkpoint(self, name: str, method):
        tracer = self

        @functools.wraps(method)
        def wrapper(df, *args, **kwargs):
            if not tracer._in_layer("operators"):
                return method(df, *args, **kwargs)
            with tracer.span("checkpoint", name):
                return method(df, *args, **kwargs)

        return wrapper

    def install(self, spark) -> None:
        """Swap the wrappers in everywhere the package bound the originals."""
        import importlib

        self._spark = spark
        targets: dict[int, tuple[object, object]] = {}
        tables = importlib.import_module("kafka_s3_etl_spark.sources.tables")
        targets[id(tables.load_table)] = (
            tables.load_table,
            self._wrap("sources", tables.load_table),
        )
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for name, obj in vars(mod).items():
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod_name
                        or hasattr(obj, "evalType")  # a UDF: leave it alone
                    ):
                        continue
                    targets[id(obj)] = (obj, self._wrap(layer, obj))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("kafka_s3_etl_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patches.append((mod, name, obj))
                    setattr(mod, name, hit[1])
        df_cls = type(spark.range(1))
        for name in CHECKPOINT_METHODS:
            method = getattr(df_cls, name)
            self._patches.append((df_cls, name, method))
            setattr(df_cls, name, self._wrap_checkpoint(name, method))
        self._listener = _ProgressListener(self)
        spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patches):
            setattr(owner, name, original)
        self._patches.clear()
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        # list.append is atomic; the main thread reads after the run
        self.tracer.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


# -- span arithmetic ---------------------------------------------------
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child_time: dict[int, float] = defaultdict(float)
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] += sp.dur
    return {sp.id: sp.dur - child_time[sp.id] for sp in spans}


def subtree(spans: list[Span], root: int) -> list[Span]:
    """The root span and everything below it (ids are in start order)."""
    keep = {root}
    out = []
    for sp in spans[root:]:
        if sp.id == root or sp.parent in keep:
            keep.add(sp.id)
            out.append(sp)
    return out


def iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- event log ---------------------------------------------------------
@dataclass
class Job:
    submit: float
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    input_b: int
    input_rows: int
    accums: dict[int, int]


@dataclass
class EventLog:
    jobs: list[Job]
    stage_submit: dict[int, float]  # stage id -> submission time
    tasks: list[Task]
    python_accums: dict[str, set[int]]  # metric kind -> accumulator ids


_PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "received",
}


def _scan_plan(node: dict, out: dict[str, set[int]]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if any(name in metrics for name in _PY_METRICS):
        for name, kind in _PY_METRICS.items():
            if name in metrics:
                out[kind].add(metrics[name])
        if "number of output rows" in metrics:
            out["rows"].add(metrics["number of output rows"])
    for child in node.get("children", []):
        _scan_plan(child, out)


def read_event_log(log_dir: str) -> EventLog:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[Task] = []
    py: dict[str, set[int]] = {"sent": set(), "received": set(), "rows": set()}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1e3, 0.0, ev["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _scan_plan(ev["sparkPlanInfo"], py)
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), stage_submit, tasks, py)


def _task(ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    inp = m.get("Input Metrics", {})
    accums = {}
    for a in info.get("Accumulables", []):
        upd = a.get("Update")
        if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
            accums[a["ID"]] = int(upd)
    return Task(
        stage=ev["Stage ID"],
        launch=info["Launch Time"] / 1e3,
        failed=bool(info.get("Failed")),
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
        shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_b=inp.get("Bytes Read", 0),
        input_rows=inp.get("Records Read", 0),
        accums=accums,
    )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


MB = 1024 * 1024


def layer_metrics(
    tracer: Tracer,
    log: EventLog,
    window: tuple[float, float],
    n_ops: int,
    cores: int,
    peak_heap_mb: float,
) -> dict[str, float]:
    """Per-layer metrics over the measured ``window`` (epoch seconds).

    Additive numbers are means per operation: per query for the catalog
    workloads and per micro-batch for ingest_stream (``n_ops``)."""
    lo, hi = window
    spans = [sp for sp in tracer.spans if lo <= sp.start and sp.end <= hi]
    selfs = self_times(tracer.spans)
    by_layer: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        by_layer[sp.layer].append(sp)
    jobs = [j for j in log.jobs if lo <= j.submit <= hi]
    stage_ids = {s for j in jobs for s in j.stages}
    stages = [s for s in stage_ids if s in log.stage_submit]  # skipped ones never ran
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    per = 1.0 / max(n_ops, 1)

    builds = by_layer["plans"]
    job_iv = [(j.submit, j.end or j.submit) for j in jobs]
    build_jobs = sum(
        1 for j in jobs for b in builds if b.start <= j.submit <= b.end
    )
    build_driver = sum(b.dur - _covered(job_iv, b.start, b.end) for b in builds)
    queries = by_layer["query"]
    query_time = sum(q.dur for q in queries)

    # Streaming: batches belong to the streaming call open at their start.
    calls = [sp for sp in by_layer["streaming"] if _outermost(sp, tracer, "streaming")]
    progress = [
        p for p in tracer.progress if lo <= iso_to_epoch(p["timestamp"]) <= hi
    ]
    dur = [p.get("durationMs", {}) for p in progress]
    trig = [d.get("triggerExecution", 0) for d in dur]
    call_batch_ms = 0.0
    for p, t in zip(progress, trig):
        ts = iso_to_epoch(p["timestamp"])
        if any(c.start <= ts <= c.end for c in calls):
            call_batch_ms += t
    n_batches = max(len(progress), 1)
    state_rows = [sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])) for p in progress]
    state_mem = [sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])) for p in progress]

    def py_sum(kind: str) -> int:
        ids = log.python_accums[kind]
        return sum(v for t in tasks for i, v in t.accums.items() if i in ids)

    wall = hi - lo
    run_s = sum(t.run_s for t in tasks)
    return {
        "plans.build_s": sum(b.dur for b in builds) * per,
        "plans.build_s_p50": _p50([b.dur for b in builds]),
        "plans.build_driver_s": build_driver * per,
        "plans.build_jobs": build_jobs * per,
        "plans.build_share": sum(b.dur for b in builds) / query_time if query_time else 0.0,
        "sources.load_table_calls": len(by_layer["sources"]) * per,
        "sources.load_table_s": sum(s.dur for s in by_layer["sources"]) * per,
        "sources.input_mb": sum(t.input_b for t in tasks) / MB * per,
        "sources.input_rows": sum(t.input_rows for t in tasks) * per,
        "spark.plan_s": sum(s.dur for s in by_layer["spark"] if s.name == "plan") * per,
        "spark.action_s": sum(s.dur for s in by_layer["spark"] if s.name == "action") * per,
        "spark.jobs": len(jobs) * per,
        "spark.stages": len(stages) * per,
        "spark.tasks": len(tasks) * per,
        "spark.task_run_s": run_s * per,
        "spark.task_cpu_s": sum(t.cpu_s for t in tasks) * per,
        "spark.gc_s": sum(t.gc_s for t in tasks) * per,
        "spark.task_queue_s": sum(
            max(0.0, t.launch - log.stage_submit[t.stage])
            for t in tasks
            if log.stage_submit.get(t.stage)
        )
        * per,
        "spark.core_busy_frac": run_s / (cores * wall) if wall > 0 else 0.0,
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / MB * per,
        "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / MB * per,
        "spark.spill_mb": sum(t.spill_b for t in tasks) / MB * per,
        "spark.failed_tasks": float(sum(1 for t in tasks if t.failed)),
        "spark.peak_heap_mb": peak_heap_mb,
        "operators.calls": len(by_layer["operators"]) * per,
        "operators.self_s": sum(selfs[s.id] for s in by_layer["operators"]) * per,
        "operators.checkpoints": len(by_layer["checkpoint"]) * per,
        "operators.checkpoint_s": sum(s.dur for s in by_layer["checkpoint"]) * per,
        "streaming.call_s": sum(c.dur for c in calls) * per,
        "streaming.batches": len(progress) * per,
        "streaming.batch_ms_p50": _p50(trig),
        "streaming.addbatch_ms": sum(d.get("addBatch", 0) for d in dur) / n_batches,
        "streaming.offset_ms": sum(
            d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur
        )
        / n_batches,
        "streaming.commit_ms": sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        )
        / n_batches,
        "streaming.planning_ms": sum(d.get("queryPlanning", 0) for d in dur) / n_batches,
        "streaming.idle_s": max(0.0, sum(c.dur for c in calls) - call_batch_ms / 1e3) * per,
        "streaming.state_rows": sum(state_rows) / n_batches,
        "streaming.state_mem_mb": sum(state_mem) / MB / n_batches,
        "python.bytes_sent_mb": py_sum("sent") / MB * per,
        "python.bytes_received_mb": py_sum("received") / MB * per,
        "python.rows_received": py_sum("rows") * per,
        "trace.unattributed_s": sum(selfs[q.id] for q in queries) * per,
    }


def _outermost(sp: Span, tracer: Tracer, layer: str) -> bool:
    parent = sp.parent
    while parent is not None:
        if tracer.spans[parent].layer == layer:
            return False
        parent = tracer.spans[parent].parent
    return True


def peak_heap_mb(spark) -> float:
    """Sum of the driver JVM heap pools' peak usage since start."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = spark.sparkContext._jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType() == heap
    ) / MB
