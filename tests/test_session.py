"""Session shuffle sizing: streams and batch plans read different confs.

``session.get_spark`` sizes streaming state to the cores through
``spark.sql.shuffle.partitions`` while batch exchanges keep their 32-way
fan-out through ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
These tests pin the Spark behaviour that split rests on — streams run with
AQE off, AQE batch plans read the initial partition number, and a
checkpoint keeps the state partition count it was started with — so a
Spark upgrade that changes any of it fails here first.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F, types as T

from flink_realtime_data_eng_spark import sinks, sources
from flink_realtime_data_eng_spark.session import get_test_spark
from flink_realtime_data_eng_spark.streaming import pipelines

BASE = 1_700_000_000_000
SCHEMA = T.StructType([T.StructField("user", T.StringType()),
                       T.StructField("ts_ms", T.LongType())])


def _session(spark, state_partitions: int, fan_out: int = 32):
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
               str(fan_out))
    s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    return s


def _write(path, name: str, rows) -> None:
    path.mkdir(exist_ok=True)
    (path / name).write_text("".join(f'"{u}","{BASE + t}"\n' for u, t in rows))


def _keyed_counts(s, src):
    stream = (sources.file_csv_stream(s, str(src), SCHEMA)
              .withColumn("ts", F.timestamp_millis(F.col("ts_ms"))))
    return pipelines.tumbling_counts(stream, "ts", "5 seconds", keys=["user"])


def _state_partitions(q) -> set[int]:
    return {o["numShufflePartitions"] for p in q.recentProgress
            for o in p["stateOperators"]}


def _drain_to_parquet(s, src, out, ckpt):
    q = sinks.run_available_now(
        sinks.file_sink(_keyed_counts(s, src), str(out), str(ckpt),
                        fmt="parquet"))
    assert q.awaitTermination(120)
    return q


def _rows(s, out) -> list[tuple]:
    return sorted(tuple(r) for r in s.read.parquet(str(out)).collect())


def test_session_sizes_state_to_cores_and_keeps_batch_fan_out(spark):
    # get_spark re-applies its confs to the shared session (getOrCreate),
    # and other tests call it with other sizes: rebuild the profile first.
    s = get_test_spark()
    assert (s.conf.get("spark.sql.shuffle.partitions")
            == str(s.sparkContext.defaultParallelism) == "4")
    assert s.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4"


def test_streams_use_shuffle_partitions_batches_use_initial_num(spark,
                                                                tmp_path):
    s = _session(spark, state_partitions=2, fan_out=32)
    src = tmp_path / "src"
    _write(src, "a.csv", [("u", 1000), ("v", 2000), ("u", 9000)])
    name = "state_parts_probe"
    q = sinks.run_available_now(
        sinks.memory_sink(_keyed_counts(s, src), name))
    assert q.awaitTermination(120)
    assert _state_partitions(q) == {2}
    assert s.table(name).count() == 2  # [0,5s) finalized for u and v

    batch = (s.range(1000).select((F.col("id") % 7).alias("k"))
             .groupBy("k").count())
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(k#\d+L, 32\)", plan), plan
    assert sorted(r["count"] for r in batch.collect()) == [142] + [143] * 6


def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path):
    src = tmp_path / "src"
    run1 = [("u", 1000), ("v", 2000), ("u", 6000), ("w", 7000)]
    run2 = [("v", 8000), ("u", 12_000), ("w", 21_000)]
    _write(src, "a.csv", run1)

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    first = _drain_to_parquet(_session(spark, 8), src, out, ckpt)
    assert _state_partitions(first) == {8}

    # New input arrives; the job restarts on a session sized for 2 cores.
    _write(src, "b.csv", run2)
    narrow = _session(spark, 2)
    resumed = _drain_to_parquet(narrow, src, out, ckpt)
    assert _state_partitions(resumed) == {8}

    oracle_out = tmp_path / "oracle"
    oracle = _drain_to_parquet(narrow, src, oracle_out, tmp_path / "ock")
    assert _state_partitions(oracle) == {2}
    got, want = _rows(narrow, out), _rows(narrow, oracle_out)
    # [0,5s) and [5s,10s) for every user that had rows there, [10s,15s)
    # for u; [20s,25s) stays open behind the watermark.
    assert len(want) == 6
    assert got == want
