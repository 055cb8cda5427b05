"""SparkSession factory with scale-oriented defaults.

All engine code gets its session here so local tests and a real cluster share
one config surface.  The defaults are chosen for the 100 TB design point and
merely *sized down* for local runs:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  at cluster scale hot-host skew is the dominant risk (SURVEY.md §4.2).
- Arrow on — every Python-side operator in this engine is a vectorized
  pandas UDF over Arrow batches, never row-at-a-time Python.
- session timezone pinned to UTC so timestamps compare bit-for-bit against
  the DuckDB oracle and WARC-date semantics (reference stores UTC,
  /root/reference/warcit/base.py:96).
- shuffle partitions sized to cores locally; on a real cluster this is set
  to ~2-3x total executor cores via spark-submit conf, and AQE coalesces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "warcit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's config surface.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entrypoint runs under the driver harness, pytest, and the
    two-parallelism-level scaling benchmark.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce CACHED plans too: without this every cached
        # frame keeps all shuffle partitions, and at low data-per-core a
        # plan over cached frames launches hundreds of near-empty
        # cache-read tasks (a union over them runs |frames| x
        # shuffle_partitions tasks).  The cached frames are the callers'
        # inputs (the crawl's pages corpus and MIME dimension, the
        # operators' persisted frames); the crawl round's own reused
        # frames are checkpoints.  Verified: the pre-bucketed pages side
        # of the fetch SMJ still scans in place with zero added Exchange
        # (BENCH/PLANS.md).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # the default 100-entry generated-class cache is smaller than one
        # pass of the engine's query surface, so interleaved workloads
        # (the bench suite, a crawl round's ~10 distinct plans) recompile
        # WholeStageCodegen classes on every execution — measured ~0.5-1s
        # per complex query per pass.  1000 compiled classes are a few
        # hundred MB of metaspace at most; read at first-codegen time, so
        # it must be set here, not after the session is live.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local mode runs driver+executor in ONE JVM: 32 task threads of
        # short-lived columnar/codegen allocations favor the throughput
        # collector over G1's pause-oriented heuristics (measured r6:
        # headline suite ~-1s of GC drag, CC-weight crawl steady round
        # 8.5 -> 8.0s, best cc throughput observed).  Parameterised: on a
        # real cluster executors are separate JVMs where G1/ZGC pause
        # behavior usually wins — set SPARK_GRAFT_GC_OPTS="" (or your
        # collector flags) via spark-submit conf there.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
