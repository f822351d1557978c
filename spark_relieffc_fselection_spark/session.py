"""SparkSession bootstrap tuned for the engine.

Local testing runs ``local[N]``; the config choices are the ones that
matter at cluster scale too: AQE on (runtime re-plan, skew-join
handling, partition coalescing), Arrow on (every pandas-UDF boundary is
Arrow-batched), sensible shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-relieffc-fselection",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults honor the driver environment: ``SPARK_GRAFT_CPUS`` sets
    local parallelism (default 32 threads on the test box).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting,
        # broadcast conversion — the knobs that keep plans healthy when
        # the same code runs at 1000x the data.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge to shuffled-hash at runtime when
        # every post-shuffle partition is under 64 MB (r12, guide
        # §3.1): the fit paths join long tables on id/pair keys where
        # the sort dominates. The rewrite checks ACTUAL post-shuffle
        # partition sizes, so it is bounded at any scale.
        #
        # r12 additionally set preferSortMergeJoin=false (static
        # planner SHJ); r13 DROPPED it (ADVICE r12): the static choice
        # runs on size ESTIMATES, so a post-filter misestimate at
        # production scale can build an oversized local hash map and
        # OOM where SMJ would have spilled — and a 3-arm interleaved
        # same-session A/B (OPTIMIZATION_r13.md §2) measured the
        # static knob worth nothing beyond the AQE rewrite at sf0.1:
        # q108 1.33/1.36, q44 5.57/5.71, q72c 5.16/5.45, q158
        # 17.01/17.31, q161 7.31/7.44 (r12-arm/aqe-only-arm mins; all
        # inside the hour's noise band).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session timezone: naive parquet timestamps must mean
        # the same instant in Spark and in external oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Quiet local runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local[N] runs executor + driver in ONE JVM: this heap is the
        # entire engine. Measured A/B on the allocation-heavy combos
        # stage: 8g -> 2.8s, 16g -> 4.2s, 48g -> 12s (big lazily-grown
        # heaps page-fault and wreck allocation locality), so keep it
        # modest with headroom for session-accumulated state.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
    )
    # ParallelGC by default: the engine's allocation-heavy stages
    # (decimal aggregation, combination explodes, Arrow batches) are
    # throughput-bound batch work, where ParallelGC's compacting
    # collections beat G1's pause-targeted incremental behavior.
    # Measured on the full 58-query bench at sf0.1: G1 81-106 s total
    # with 4x per-query swings; ParallelGC 63-71 s with far lower
    # variance. Override via SPARK_GRAFT_JAVA_OPTS.
    #
    # MetaspaceSize raised (GC-log-driven): Janino emits one class per
    # codegen'd stage, and every default-threshold metaspace step
    # triggers a FULL GC — 10 of them in one warmed fit run at sf0.1;
    # pre-sizing removes all of them (10 -> 0). Heap geometry stays
    # ADAPTIVE on purpose: a fixed young gen + -Xms/AlwaysPreTouch won
    # the isolated fit (max young pause 1141 ms -> 48 ms, 14.5s ->
    # 10.2s) but LOST the full 90-query bench in 3/3 back-to-back runs
    # (118s adaptive vs 138-202s fixed) — the long session's cached
    # blocks and Tungsten execution pages live in the old gen, and a
    # pinned 5/12 young gen starves it; ParallelGC's adaptive resizing
    # makes the right call per phase.
    default_opts = "-XX:+UseParallelGC -XX:MetaspaceSize=512m"
    gc_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", default_opts)
    if gc_opts:
        builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
