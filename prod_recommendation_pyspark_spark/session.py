"""SparkSession factory.

Replaces the reference's hand-rolled SparkConf blocks
(/root/reference/src/search_ranking_peers.py:621-650,
/root/reference/src/inference_postprocess.py:171-198 — EMR + S3 SSE-KMS
specific) with a clean, environment-driven factory.  Cluster-only
settings (S3 encryption, YARN queues) belong in ``spark-defaults.conf``
on the cluster, not in code.

Scale notes
-----------
* AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast selection are the first line of defense at 100 TB.
* ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a
  real cluster AQE's coalescing makes the initial number mostly a
  ceiling — set it high (e.g. 2000+) there.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are stable across environments.
* Runtime bloom-filter join pruning
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) is ON by
  default in Spark 4 and left on: at cluster scale a selective dim
  filter is pushed as a bloom filter into the fact scan of shuffle
  joins (application side ≥ ~10 GB), cutting shuffle input before the
  join.  It never fires at local test sizes — dimension joins there
  are broadcast anyway — so no local override is needed or useful.
* Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
  default 100) is sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`).  A warm server re-runs the same
  plans cycle after cycle; one intraday cycle alone needs more than
  100 generated classes, so at the default every cycle evicts and
  recompiles its own classes with Janino, then runs them interpreted
  until the JIT catches up again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Entries of Spark's generated-code cache (a static conf: it sizes the
#: JVM-wide cache at its first use, so it is set before getOrCreate).  Rule:
#: at least 2x the largest working set measured, so that a warm session
#: never recompiles a plan it has run before.  Working sets, counted as
#: Janino compiles (``CodegenMetrics``) in perfbench on 4 cores:
#:
#: * intraday serving cycle (insert, compact, delete, batch and trickle
#:   probe): 128-134 classes, every one recompiled in every warm cycle
#:   at Spark's default of 100 (0.86-1.01 s of Janino per cycle); 0 once
#:   the cache holds them;
#: * intraday set-up (build, publish, one warm run of each op): 179-201;
#: * nightly pass (its eight ops): 495 distinct classes (an unbounded
#:   cache), in 583-586 compiles at the default.
#:
#: 2 x 495 rounds up to 1000.  Override through ``extra_conf``.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "prod_recommendation_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    ``extra_conf`` is the documented passthrough for deployment-
    specific settings the reference hard-coded in its job files —
    e.g. cloud-storage auth/encryption (``spark.hadoop.fs.s3a.*``
    including server-side-encryption algorithm/key), committer
    choices, or a metastore URI.  Passing them here (or in
    ``spark-defaults.conf``) keeps environment concerns out of query
    code; nothing in the engine reads them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # functions/exact.py documents non-ANSI overflow semantics
        # (decimal overflow → NULL, div-by-zero → NULL/NaN).  Spark 4
        # defaults ansi.enabled=true, under which those sites would
        # THROW instead — pin it off so the documented contract holds
        # regardless of the Spark version's default.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Measured (bench.py A/B, sf0.1): a 32g heap makes the ALS
        # query 2.6x SLOWER in-bench than 8g (10.7s vs 28s — bigger
        # heap => rarer but massive GC pauses landing on MLlib's
        # iteration barriers).  Keep the modest default; override via
        # SPARK_DRIVER_MEMORY.  On a real cluster this knob is
        # per-role in spark-defaults.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
