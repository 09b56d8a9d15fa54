"""Closed-loop catalog workloads: registered builders, noop sink.

One client (the main thread) runs whole passes over a fixed list of
catalog entries. The seed only permutes the order within each pass; the
inputs are the seed-42 testdata tables vendored in ``perfbench/data``.
A query's latency runs from calling its builder until the noop write of
every column of every row returns (``count()`` would let Catalyst prune
unread columns).
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from kafka_s3_etl_spark.plans.registry import all_queries
from perfbench.tracing import Tracer
from tests.oracle import compare


@dataclass(frozen=True)
class CatalogWorkload:
    name: str
    sf: str
    queries: tuple[str, ...]
    tail_pct: int  # the tail percentile reported as latency_tail_s



SHORT_QUERIES = CatalogWorkload(
    "short_queries",
    "sf0.01",
    (
        # relational / TPC-H shaped
        "q_filter_conj",
        "q_tpch_pricing",
        # joins
        "q_join_semi",
        "q_join_multiway",
        # windows
        "q_topk_per_group",
        # aggregates
        "q_agg_group",
        # text
        "q_text_stats",
        # ETL serialization
        "q_kafka_roundtrip",
        "q_json_extract",
        # temporal
        "q_sessionize",
        "q_window_funnel",
        # lakehouse
        "q_merge_upsert",
        # dedup operators and the bounded north-star stream
        "q_dedup_exact",
        "q_ngram_jaccard",
        "s_kafka_to_s3",
        # Arrow / Python boundary
        "q_udaf",
        "q_udaf_window",
        "q_arrow_token_stats",
        "q_multimodal_meta",
        "x_python_pushdown",
    ),
    tail_pct=75,
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_query(spark, query, sf_dir: str, tracer: Tracer | None) -> float:
    """Build one query and write every row to the noop sink; seconds."""
    if tracer is None:
        t0 = time.perf_counter()
        noop_write(query.fn(spark, sf_dir))
        return time.perf_counter() - t0
    with tracer.request(query.name) as req:
        with tracer.span("plans", query.name):
            df = query.fn(spark, sf_dir)
        with tracer.span("spark", "plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark", "action"):
            noop_write(df)
    return req.dur


def check_output(query, df, sf_dir: str) -> str | None:
    """Compare one entry's output with its oracle; None when it matches."""
    if query.oracle is None:
        return f"{query.name}: no DuckDB oracle to check against"
    res = compare(query.name, df, query.oracle, sf_dir)
    return None if res.ok else res.message()


@dataclass
class CatalogResult:
    warmup_s: float
    per_query: dict[str, list[float]]  # measured latencies by entry
    check_s: float
    wall_s: float
    window: tuple[float, float]  # epoch bounds of the measured passes
    passes: int
    errors: list[str]
    check_failures: list[str]

    @property
    def latencies(self) -> list[float]:
        return [x for xs in self.per_query.values() for x in xs]


def run(
    spark,
    wl: CatalogWorkload,
    sf_dir: str,
    seed: int,
    seconds: float,
    tracer: Tracer | None,
) -> CatalogResult:
    catalog = all_queries()
    queries = [catalog[n] for n in wl.queries]
    rng = random.Random(seed)

    # Warm-up pass, counted in setup_s: it fills the JVM codegen caches,
    # runner._SRC_CACHE and the Python workers.
    t0 = time.perf_counter()
    for q in queries:
        noop_write(q.fn(spark, sf_dir))
    warmup_s = time.perf_counter() - t0

    # Check pass, outside setup_s and the measurement: every entry against
    # its oracle. It also lets the JIT settle (a query's second run in a
    # process is still ~20% slower than its fifth).
    check_failures = []
    t0 = time.perf_counter()
    for q in queries:
        try:
            msg = check_output(q, q.fn(spark, sf_dir), sf_dir)
        except Exception as exc:  # reported as a failed check
            msg = f"{q.name}: check raised {type(exc).__name__}: {exc}"[:500]
        if msg:
            check_failures.append(msg)
    check_s = time.perf_counter() - t0

    per_query: dict[str, list[float]] = {q.name: [] for q in queries}
    errors: list[str] = []
    passes = 0
    start_epoch = time.time()
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < seconds:
        order = queries[:]
        rng.shuffle(order)
        for q in order:
            try:
                per_query[q.name].append(run_query(spark, q, sf_dir, tracer))
            except Exception as exc:  # a failed operation is counted, not fatal
                errors.append(f"{q.name}: {type(exc).__name__}: {exc}"[:500])
        passes += 1
    wall_s = time.perf_counter() - t0
    window = (start_epoch, time.time())
    return CatalogResult(
        warmup_s, per_query, check_s, wall_s, window, passes, errors, check_failures
    )
