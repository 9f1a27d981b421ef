"""SparkSession factory tuned for the engine.

Scale notes (100 TB north star): every config here is chosen to survive a
1000-executor cluster, not just one local box:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  we do not hand-tune ``spark.sql.shuffle.partitions`` per query.
- ``nanosAsLong``: the driver testdata writes nanosecond parquet timestamps
  which Spark refuses by default; we read them as int64 nanos and convert to
  microsecond timestamps (exactly what DuckDB's µs TIMESTAMP does), keeping
  oracle parity.
- Arrow enabled for the (rare) pandas-UDF paths — sketch/multimodal ops.
- UTC session timezone so bucket arithmetic is reproducible anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cpus() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` when set, else the machine's
    own (a fixed fallback oversubscribes small boxes)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "zenodb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = _local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES; CPU-dense stages over small compressed
        # shuffles (pairwise vector math) otherwise collapse to 1 task.
        # (Advisory partition size stays at the 64 MB default: an A/B at
        # sf1.0 showed no warm-run effect — parallelismFirst=true already
        # targets core count when coalescing — while 8 MB cost the sf0.1
        # suite ~8% in pure task overhead.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Spill-friendlier unified memory split (round-4 verdict item 4:
        # a co-tenant process OOM'd a heavy sort that should have spilled).
        # 0.5 instead of the 0.6 default: operators hit the pool ceiling —
        # and start SPILLING — earlier, capping peak heap so a noisy
        # neighbor steals headroom instead of triggering
        # SparkOutOfMemoryError mid-sort. Costs nothing at bench scale
        # (sf0.1 working sets never approach the pool) and at 100 TB the
        # same setting trades bounded extra spill IO for query survival.
        .config("spark.memory.fraction", "0.5")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cluster_conf(
    data_tb: float,
    executors: int,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 192,
) -> dict[str, str]:
    """Recommended conf overrides for a REAL cluster at a given scale —
    the arithmetic behind SCALE.md's 100 TB story, as code.

    The sizing rules (each is a guardrail, not a tunable to chase):

    - **shuffle partitions**: post-filter shuffle volume is typically
      10-30% of scan volume for this engine's aggregate-heavy plans; size
      so one partition ≈ ``target_partition_mb`` at 20% selectivity, then
      clamp to ≥ 2 tasks per core (stragglers amortize) — AQE coalesces
      DOWN at runtime, so erring high is free, erring low is a spill.
    - **maxPartitionBytes**: scan splits sized so a task's columnar batch
      + aggregation hash map fit comfortably in (executor_mem /
      cores) / 4 — quarter headroom for the map side of partial
      aggregation and for codegen buffers.
    - **broadcast threshold**: stays at 64 MB (SCALE.md's O(model)
      policy) — raising it on big clusters invites corpus-sized builds;
      dimension tables that belong broadcast already fit.
    - **AQE advisory size**: matches target_partition_mb so runtime
      coalescing aims at the same task shape the static sizing chose.

    Returns a dict to pass as ``get_spark(extra_conf=...)`` (or to apply
    to spark-submit). Pure arithmetic — safe to unit test."""
    if data_tb <= 0 or executors <= 0:
        raise ValueError("data_tb and executors must be positive")
    total_cores = executors * cores_per_executor
    shuffle_bytes = data_tb * 1024**4 * 0.20
    by_size = shuffle_bytes / (target_partition_mb * 1024**2)
    shuffle_parts = int(max(by_size, total_cores * 2))
    task_mem_mb = executor_mem_gb * 1024 // cores_per_executor
    max_partition_mb = min(256, max(32, task_mem_mb // 4))
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": f"{max_partition_mb}m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": f"{target_partition_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.cores": str(cores_per_executor),
        # partial-state appends + compaction write many small-ish files;
        # keep committer v2 semantics off (atomic rename correctness) and
        # let the engine's day-partition layout handle pruning
        "spark.sql.parquet.filterPushdown": "true",
    }
