"""SparkSession bootstrap tuned for this engine.

Two entry points:

- ``get_spark()``     — build a session (tests, bench, standalone use).
- ``prepare_session`` — apply the engine's *runtime* confs to an existing
  session (the correctness driver owns its own session; every query
  callable funnels through this so behavior is identical either way).

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- Arrow enabled: every pandas-UDF boundary is vectorized.
- Session timezone pinned to UTC so event-time bucketing (window(),
  date_trunc) is engine- and host-independent, matching the DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong``: the events table carries
  Parquet TIMESTAMP(NANOS), which Spark 4.x refuses natively; we read the
  raw nanos as LONG and convert (see sources/tables.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from gelly_streaming_spark.blas import blas_env

# Confs that are safe (and required) to set on a live session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming checkpoints go through Hadoop's FileSystem API, the
    # manager Spark already uses on object stores. The default
    # FileContext manager, on a host without libhadoop, forks a
    # `readlink` twice per checkpoint-file rename, and every trigger
    # renames offset, commit, source and state files: the state-store
    # commit p50 per trigger measured 399 -> 34 ms (perfbench
    # edge_stream, local[4]). Both managers write the same files (.crc
    # included) and refuse to rename over an existing one; HDFS rename
    # never overwrites.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}

# Confs that must be set before the session starts.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Never scan with fewer splits than cores: testdata files are far
    # smaller than maxPartitionBytes, and a 1-split scan serializes every
    # downstream self-join. At real scale files exceed the split size and
    # this floor is a no-op. openCost must drop too — the default 4 MB
    # floors maxSplitBytes and caps a 14 MB file at ~3 splits.
    "spark.sql.files.minPartitionNum": "32",
    "spark.sql.files.openCostInBytes": "262144",
    "spark.ui.enabled": "false",
    # Progress bars write \r-frames to stderr for every stage; under the
    # bench driver they flood the captured output tail and can push the
    # headline JSON line out of the parse window (BENCH_r06 failure mode).
    "spark.ui.showConsoleProgress": "false",
    # Single-threaded BLAS inside every Python worker: Spark's task-level
    # parallelism supplies the cores; a threaded OpenBLAS under 32
    # concurrent numpy-kernel tasks is multiplicative oversubscription
    # (the BENCH_r08 q23b/q17 blowout mechanism — see blas.py).
    **{f"spark.executorEnv.{k}": v for k, v in blas_env(1).items()},
}


# Production streaming confs (100 TB path). Not defaults for local tests:
# RocksDB adds per-task native-store startup that pure overhead-bound
# local runs don't amortize, but at scale it moves keyed state (dedup
# sets, degree counters, adjacency) off-heap with incremental
# checkpointing — the Spark analog of the reference's RocksDB state
# backend on Flink. Apply via get_spark(extra_confs=STREAMING_SCALE_CONFS).
STREAMING_SCALE_CONFS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — proceed with defaults
    return spark


def get_spark(
    app_name: str = "gelly-streaming-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's configuration.

    ``master`` defaults to local[*] when no cluster master is configured;
    on a real cluster the deploy environment supplies the master and this
    argument is left None.
    """
    # Set the BLAS pins in THIS process's env before the JVM launches:
    # local-mode Python workers inherit the JVM env, and the JVM inherits
    # ours — so even workers forked before executorEnv applies are pinned.
    for k, v in blas_env(1).items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())
