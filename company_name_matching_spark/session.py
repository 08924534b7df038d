"""SparkSession factory tuned for the record-linkage workload.

Parameterized parallelism supports the N-vs-4N scaling runs (sandbox proxy:
``local[8]`` vs ``local[32]``). On a real cluster the same settings apply;
only ``master`` changes (spark-submit supplies it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "company-name-matching",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    * AQE on (incl. skew-join): the candidate-pair self-join is the skew
      hazard — hot blocking keys ("viet", "nam") produce O(n²) partitions
      that AQE splits at runtime on top of our explicit salting.
    * Arrow on: every UDF in this engine is a pandas UDF.
    * shuffle partitions default to 2× cores locally (the reference's own
      partition sweep found 2–3× cores optimal); on a real cluster AQE
      coalesces from a higher initial number.
    * codegen cache sized above the engine's generated-class set, so each
      class compiles once per session.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Spark's default 100-entry codegen cache is smaller than one search
        # call: at 100 entries a warm search_topk call recompiled 167 classes
        # and a warm run_pipeline 142 (CodegenMetrics compile count, local[4]).
        # With room for all of them, one session compiled 190 classes over
        # three search calls and 318 after three pipeline runs more, and a
        # warm unit then compiled 2-12. Static conf: read at session start.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
