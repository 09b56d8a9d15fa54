"""The session's generated-code cache holds a catalog-sized working set.

Spark keeps compiled whole-stage and expression classes in an LRU cache
keyed by the generated source. Its default of 100 entries is smaller
than the classes a mix of catalog entries generates, so a loop that
visits the mix in a cycle misses on nearly every class and recompiles
(and re-JITs) it on every query. ``build_session`` sizes the cache so a
warm session compiles nothing it has compiled before.
"""

from __future__ import annotations

from kafka_s3_etl_spark.plans.registry import all_queries

# Cheap, Python-free entries whose generated classes together exceed the
# old default of 100: 142 distinct classes in a fresh session at sf0.001.
CHEAP_ENTRIES = (
    "q_filter_conj",
    "q_tpch_pricing",
    "q_join_semi",
    "q_join_multiway",
    "q_topk_per_group",
    "q_agg_group",
    "q_text_stats",
    "q_kafka_roundtrip",
    "q_json_extract",
    "q_sessionize",
    "q_window_funnel",
    "q_merge_upsert",
    "q_dedup_exact",
    "q_ngram_jaccard",
)


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (every class the cache missed)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_pass_over_catalog_entries_compiles_nothing(spark, sf_dir):
    queries = all_queries()

    def one_pass() -> int:
        before = _compiles(spark)
        for name in CHEAP_ENTRIES:
            df = queries[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    one_pass()  # compiles whatever earlier tests left out of the cache
    assert one_pass() == 0
