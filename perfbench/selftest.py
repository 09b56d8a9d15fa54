#!/usr/bin/env python3
"""Self-test of the benchmark, at sf0.001, in one Spark session.

    python3 perfbench/selftest.py

For every workload it makes one short untraced run and one short traced
run, then checks that:

* every metric named in BENCHMARK.json is emitted with its unit;
* within every traced request, the self times of its spans add up to
  the request's wall time (what no layer claims is the request span's
  own self time, reported as ``trace.unattributed_s``);
* a delay injected only inside the benchmark's ``load_table`` wrapper
  raises short_queries' latency and ``sources.load_table_s``, and leaves
  the self time of its operator calls where it was.

Exits non-zero when any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

DELAY_S = 0.05
SF = "sf0.001"
SECONDS = 0.5


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = bench.prepare_env()
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    spark, session_s = bench.start_session(run_dir, log_dir)
    from kafka_s3_etl_spark.plans.registry import all_queries

    from perfbench.tracing import Tracer, peak_heap_mb, self_times, subtree

    all_queries()
    failures: list[str] = []
    traced = {}  # (workload, delayed) -> (outcome, tracer)
    try:
        for i, name in enumerate(bench.WORKLOADS):
            seg = os.path.join(run_dir, f"{name}-plain")
            os.makedirs(seg)
            out = bench.run_workload(spark, name, 1, SECONDS, seg, session_s, None, sf=SF)
            failures += [f"{name}: {p}" for p in out.problems]
            for m in spec["end_to_end"]:
                got = out.e2e.get(m["name"])
                if got is None or got[1] != m["unit"] or not got[0] > 0:
                    failures.append(f"{name}: end-to-end {m['name']} missing, zero or not in {m['unit']}: {got}")
            delays = (0.0, DELAY_S) if name != "ingest_stream" else (0.0,)
            for delay in delays:
                seg = os.path.join(run_dir, f"{name}-traced-{delay}")
                os.makedirs(seg)
                tracer = Tracer(load_delay_s=delay)
                tracer.install(spark)
                try:
                    out = bench.run_workload(spark, name, 1, SECONDS, seg, session_s, tracer, sf=SF)
                finally:
                    time.sleep(1.0)
                    tracer.uninstall()
                failures += [f"{name} traced: {p}" for p in out.problems]
                traced[name, delay] = (out, tracer)
        heap = peak_heap_mb(spark)
    finally:
        bench.stop_session(spark)

    layers = {}
    for (name, delay), (out, tracer) in traced.items():
        metrics = bench.per_layer(out, tracer, log_dir, session_s, heap, 0.0)
        layers[name, delay] = {k: v for k, (v, _) in metrics.items()}
        if delay:
            continue
        for m in spec["per_layer"]:
            got = metrics.get(m["name"])
            if got is None or got[1] != m["unit"]:
                failures.append(f"{name}: per-layer {m['name']} missing or not in {m['unit']}: {got}")
        selfs = self_times(tracer.spans)
        for sp in tracer.spans:
            if sp.layer != "query":
                continue
            parts = sum(selfs[s.id] for s in subtree(tracer.spans, sp.id))
            if abs(parts - sp.dur) > 1e-6:
                failures.append(f"{name}: self times of {sp.name} add to {parts}, span took {sp.dur}")

    base, slow = traced["short_queries", 0.0][0], traced["short_queries", DELAY_S][0]
    if not slow.e2e["latency_p50_s"][0] > base.e2e["latency_p50_s"][0] + DELAY_S / 2:
        failures.append(f"short_queries latency_p50_s did not rise with the delay: {base.e2e} -> {slow.e2e}")
    lb, ls = layers["short_queries", 0.0], layers["short_queries", DELAY_S]
    if not ls["sources.load_table_s"] > lb["sources.load_table_s"] + DELAY_S / 2:
        failures.append(f"sources.load_table_s did not rise: {lb['sources.load_table_s']} -> {ls['sources.load_table_s']}")
    tb, ts = traced["short_queries", 0.0][1], traced["short_queries", DELAY_S][1]
    ob, os_ = (
        sum(s for sp, s in zip(t.spans, self_times(t.spans).values()) if sp.layer == "operators")
        for t in (tb, ts)
    )
    # Had the delay leaked into operator self time, it would have grown
    # by a share of everything injected; run-to-run noise is far smaller.
    injected = DELAY_S * sum(1 for sp in ts.spans if sp.layer == "sources")
    if ob <= 0 or os_ - ob > 0.1 * injected:
        failures.append(f"operator self time moved with a load_table delay: {ob} -> {os_} (injected {injected} s)")
    print(
        json.dumps(
            {
                "short_queries.latency_p50_s": [base.e2e["latency_p50_s"][0], slow.e2e["latency_p50_s"][0]],
                "short_queries.sources.load_table_s": [lb["sources.load_table_s"], ls["sources.load_table_s"]],
                "short_queries.operator_self_s_total": [ob, os_],
                "injected_delay_s": injected,
            }
        )
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAIL" if failures else "PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
