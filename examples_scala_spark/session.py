"""SparkSession construction with scale-oriented defaults.

The reference configures its environment per-program
(StreamExecutionEnvironment.getExecutionEnvironment +
setStreamTimeCharacteristic, see
reference chapter1/AverageSensorReadings.scala:34-39). Here a single
builder applies the settings we want on every session:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- UTC session timezone (determinism of every time expression)
- Arrow for all Python<->JVM transfer
- shuffle partitions sized to the local core count; on a real cluster
  AQE coalescing makes the initial number mostly a ceiling.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, rows: int,
                              rows_per_partition: int = 500_000,
                              floor: int = 8):
    """Clamp spark.sql.shuffle.partitions to the iterated volume for a
    driver-side loop (connected components, PageRank, BPE), restoring
    the session value after. At test scale this kills per-round
    task-scheduling overhead; at cluster scale the row count drives the
    clamp back up to the session setting, so a real run is unaffected.

    Guards (ADVICE r5): if the session value is non-numeric (e.g.
    'auto' on some runtimes) the clamp is skipped entirely rather than
    raising. Note the setting is session-global while held — callers
    should not run concurrent queries on the same session inside the
    scope (no registry query does; streaming replays use their own
    bounded sessions)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        sess = int(prev)
    except (TypeError, ValueError):
        yield
        return
    target = max(floor, min(sess,
                            (rows + rows_per_partition - 1)
                            // rows_per_partition))
    try:
        spark.conf.set(key, str(target))
        yield
    finally:
        spark.conf.set(key, prev)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the
    driver-provided one) so query semantics are deterministic."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # InferFiltersFromGenerate duplicates the generator's child
    # expression into a pre-Generate (size(..)>0 AND isnotnull(..))
    # filter that is pushed below the projection — for explode over a
    # COMPUTED array (every shingle/token pipeline here: split +
    # transform + array_join) the whole higher-order expression then
    # runs 3x per row, interpreted, inside the scan's DataFilters.
    # Measured 9x on the n-gram pipelines (6.3s -> 0.7s at sf0.1).
    # The rule only ever pays off when exploding a STORED array column
    # (prunes rows before Generate); no query in this repo does that,
    # so it is excluded wholesale.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except Exception:
        pass  # immutable under AQE in some builds; fine
    return spark


def get_spark(app_name: str = "examples-scala-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # single-JVM local mode: eager localCheckpoint materialization
        # of a corpus-sized iteration frontier (suffix-span / CC loops
        # at the 100x probe) accounts against driver.maxResultSize even
        # though the blocks never leave the process; a cluster driver
        # never sees executor-held checkpoint blocks, so the 1g default
        # is a local-mode artifact, not a plan-budget signal
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    return tune(builder.getOrCreate())
