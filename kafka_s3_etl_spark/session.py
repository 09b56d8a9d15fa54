"""SparkSession builder for the engine.

Mirrors the connectivity surface of the reference's ``.env.sample``
(Kafka bootstrap servers, S3/MinIO endpoint + path-style access —
reference ``.env.sample:10-23,52-55``, ``src/s3_json_to_xml.py:45-56``)
but expressed as Spark configs. Scale-minded defaults:

* AQE on (runtime re-planning, partition coalescing, skew-join splitting)
  so the same code survives a 1000-executor / 100 TB deployment;
* ``spark.sql.shuffle.partitions`` sized to local cores for tests —
  on a real cluster leave AQE's coalescing to right-size the shuffle;
* session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable;
* Arrow enabled for the pandas-UDF slow path;
* the generated-code cache sized to the catalog's working set, so a
  long-lived session running many entries compiles each class once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "kafka_s3_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``s3_endpoint`` configures S3A for a MinIO-style endpoint with
    path-style access, matching the reference's dev-mode client
    selection (``src/s3_json_to_xml.py:40-69``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's default of 100 compiled classes thrashes under a catalog
        # mix: the 20 perfbench short_queries entries generate 165 distinct
        # classes, so cycling through them recompiled (and re-JITed) ~155
        # classes per pass. One sweep of the whole 394-entry catalog at
        # sf0.001 generates 4410 (median 8 per entry, at most 66); holding
        # all of them pinned 259 MB of Metaspace and 157 MB of the JVM's
        # 240 MB code cache. 2000 holds any working set up to 12x the
        # short mix while bounding what cached classes keep alive.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if s3_endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", s3_endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
            .config("spark.hadoop.fs.s3a.connection.ssl.enabled", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
