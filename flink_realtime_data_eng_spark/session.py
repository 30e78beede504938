"""SparkSession builders.

Two profiles:

- :func:`get_spark` — the scale profile. AQE on (runtime re-planning, skew-join
  splitting, partition coalescing), UTC session time zone (required for the
  DuckDB oracle comparison — DuckDB timestamps are UTC-naive), Arrow enabled
  for the Pandas-UDF paths, and ``parquet nanosAsLong`` because the driver's
  ``events`` table stores TIMESTAMP(NANOS) which Spark cannot read natively
  (loaders in :mod:`.schemas` convert nanos → TimestampType with exact integer
  arithmetic).

- :func:`get_test_spark` — deterministic test profile: tiny shuffle fan-out
  (the reference pins ``setParallelism(1)`` for deterministic output,
  /root/reference/.../chapter2/BasicStreamingOperations.java:41 — we only pin
  partition counts, never ordering semantics).

Shuffle width is two numbers, because streams and batch plans read
different confs:

- **Streaming state partitions = the session's cores**
  (``spark.sql.shuffle.partitions`` = ``defaultParallelism``). Structured
  Streaming runs with AQE off, so this is the exact number of state stores
  each stateful operator opens, updates and commits per micro-batch — one
  per core, like Flink's keyed state sharded over operator parallelism. A
  checkpoint pins the count it started with: a restarted query keeps it
  (Spark restores it from the offset log), only new queries pick up the
  session's value.
- **Batch fan-out = max(2 × cores, 32)**
  (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``). With AQE
  and coalescing on, every batch exchange plans this many partitions and
  AQE coalesces down at runtime.

Local mode honors ``SPARK_GRAFT_CPUS`` (driver contract) for ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs shared by every profile. Keys are all public Spark SQL confs.
_COMMON = {
    # Correctness-critical: DuckDB compares UTC-naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet is TIMESTAMP(NANOS); Spark has no ns type -> read long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for pandas_udf / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # dynamic join-strategy switching — the knobs that make one logical plan
    # survive sf0.001 -> 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parallelismFirst/advisoryPartitionSizeInBytes stay at Spark defaults.
    # r13 measured size-based coalescing (parallelismFirst=false, advisory
    # 256 MB — the guide §9 baseline): once the A/B rotated variant order
    # (fixed-order interleaving flattered whichever variant ran last), the
    # default was CLEARLY faster on compute-dense shuffles — the shingle/
    # Jaccard verify joins need CPU-parallelism that size-based coalescing
    # serializes at this scale (x_jaccard_sweep 2.6 s default vs 4.6 s
    # size-based; 10-query rotated panel 24.3 s vs 29.2 s). On a real
    # cluster with busy executors, set parallelismFirst=false via submit
    # conf per Spark's production guidance — partitions then land in the
    # 100 MB-1 GB band the guide sizes for.
    # session_window / window() rewrites benefit from ANSI-off default; keep
    # Spark defaults otherwise.
    "spark.ui.enabled": "false",
}


def _cpus() -> int:
    """SPARK_GRAFT_CPUS as a positive int, else 0 (→ local[*] / default
    shuffle fan-out). Unset or invalid must NOT pin the session to 1 core."""
    v = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(v) if v.isdigit() and int(v) > 0 else 0


def get_spark(app_name: str = "flink-realtime-data-eng-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Scale-profile session.

    On a real cluster the ``master`` comes from spark-submit; locally we run
    ``local[N]`` with N = SPARK_GRAFT_CPUS (default: all cores).

    ``shuffle_partitions`` (default ``max(2N, 32)``, 32 under ``local[*]``)
    is the batch fan-out: AQE plans every batch exchange at that width and
    coalesces down. Streaming state partitions are the session's cores
    (``defaultParallelism``): a stream runs with AQE off, so nothing would
    coalesce a 32-way state layout and each micro-batch would open and
    commit all 32 state stores per stateful operator. A checkpoint pins
    the state partition count it was started with. An explicit
    ``spark.sql.shuffle.partitions`` in ``extra_conf`` wins.
    """
    n = _cpus()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]" if n else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _COMMON.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 32) if n else 32
    builder = builder.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        str(shuffle_partitions))
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in extra_conf:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_test_spark(app_name: str = "frde-spark-tests") -> SparkSession:
    """Deterministic small-data profile for pytest: 4 batch shuffle
    partitions and 4 cores' worth of default parallelism, hence 4 streaming
    state partitions, whatever the host (AQE on)."""
    return get_spark(app_name, shuffle_partitions=4,
                     extra_conf={"spark.default.parallelism": "4"})
