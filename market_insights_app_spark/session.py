"""SparkSession builder tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config here is chosen to also make sense on a large multi-executor
cluster: AQE for runtime re-planning (partition coalescing, skew-join
splitting), a shuffle-partition count sized to the parallelism, and
Arrow for any Python-side exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from market_insights_app_spark import BLAS_THREAD_VARS


def get_spark(
    app_name: str = "market-insights-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or (int(cpus) if cpus.isdigit() else 32))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    # Pin BLAS thread pools to 1 in the Python workers.  Spark already
    # supplies the parallelism (one worker per core); numpy's bundled
    # OpenBLAS additionally spawns ncpu threads PER WORKER unless told
    # otherwise, so every Arrow-lane matmul (k-means assignment,
    # SemDeDup screen, dense decontaminate, hard negatives) runs
    # 32×32 = 1024 threads on 32 cores and throughput COLLAPSES —
    # measured on this box: one 10k×64×10k GEMM takes 2.96 s alone but
    # 137.9 s when 32 unpinned processes run one each (46× per-task
    # inflation; 1-min loadavg hit ~1000), which is exactly the
    # 557-vs-62 s regression the r13 1M-vector semdedup probe caught.
    # setdefault: an explicit user/operator setting wins.  Workers
    # inherit the env via the JVM gateway (captured when THIS builder
    # creates the JVM — same caveat as driver.memory); executorEnv
    # carries the same pin to real cluster executors.
    for var in BLAS_THREAD_VARS:
        os.environ.setdefault(var, "1")
    blas_pins = {
        f"spark.executorEnv.{var}": os.environ[var] for var in BLAS_THREAD_VARS
    }
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # local mode: driver heap IS the executor heap; the 1g default
        # GC-thrashes 32 concurrent window tasks (only applies when this
        # builder creates the JVM — a pre-existing session wins).
        .config("spark.driver.memory", driver_mem)
        # AQE: coalesce tiny post-shuffle partitions, split skewed ones,
        # convert to broadcast joins at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Deterministic timestamp behavior for the differential oracle.
        # No legacy nanosAsLong: Spark 4 reads the microsecond parquet
        # timestamps as TIMESTAMP_NTZ — identical to a plain default
        # session and to DuckDB's epoch_us.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow-accelerated pandas exchange for the Pandas-UDF operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for conf_key, conf_val in blas_pins.items():
        builder = builder.config(conf_key, conf_val)
    spark = builder.getOrCreate()
    # getOrCreate() silently ignores builder configs when it returns a
    # pre-existing session — but the NTZ→LTZ casts at the ts_us() choke
    # point (functions/scalars.py) are only value-preserving under UTC,
    # so pin the runtime-settable conf unconditionally.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply the session settings the differential-oracle contract needs
    on a session we did not build (the driver passes its own)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
