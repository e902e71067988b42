"""Structured-streaming plumbing shared by the T* operators.

The reference IS a stream processor — one Abaco message per container
execution, state externalized (reactor.rc REACTOR_STATEFUL=0) — so its
whole loop maps onto Structured Streaming. For the driver contract the
stream is replayed deterministically: file source over the events parquet,
``availableNow`` trigger, memory sink, and the finished batch table is
returned as a normal DataFrame.

Scale notes: the same plans run unchanged against a real source (Kafka /
file drops) with ``trigger(processingTime=...)`` + checkpointing; state
(dedupe keys, windows, FSM) lives in the executor state store and is
bounded by the watermark.
"""

from __future__ import annotations

import uuid as _uuid
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import tune

def _batch_schema(spark: SparkSession, path: str) -> StructType:
    """Probe a parquet file's batch-reader schema, memoized per
    (applicationId, path) in tables._SCHEMA_CACHE: schema inference runs
    a ~130 ms driver-side footer job per call, and every streaming-query
    construction was re-paying it (measured). Shares the batch
    loaders' cache so either side's first probe serves both."""
    from ..tables import _SCHEMA_CACHE

    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return schema


def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Streaming file sources need an explicit schema; probe it from the
    batch reader so both testdata generations work (TIMESTAMP(NANOS) read
    as long under nanosAsLong vs native TIMESTAMP(MICROS))."""
    return _batch_schema(spark, f"{sf_dir}/events.parquet")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a micro-batch stream with a proper event-time
    column (TimestampType — watermarks reject NTZ)."""
    tune(spark)
    raw = (
        spark.readStream.format("parquet")
        .schema(_events_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if raw.schema["ts"].dataType.simpleString() == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a micro-batch stream — the replay stand-in
    for a Kafka/file-drop ingest feed of corpus documents (T11). No
    event-time column: the bloom-gate consumer is stateless, so no
    watermark is involved."""
    tune(spark)
    schema = _batch_schema(spark, f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def _source_bytes(path: str) -> int:
    """Total bytes of a parquet source: file size, or the file-size sum
    for a directory-style dataset. ``os.path.getsize`` on a directory
    returns the inode size (~4 KB), which would classify any corpus-scale
    directory dataset as 'small'; summing the tree sizes it
    correctly. Raises OSError for a missing path (callers decide the
    fallback)."""
    import os as _os

    if _os.path.isdir(path):
        total = 0
        for root, _dirs, files in _os.walk(path):
            for f in files:
                try:
                    total += _os.path.getsize(_os.path.join(root, f))
                except OSError:
                    pass
        return total
    return _os.path.getsize(path)


def replay_partitions(sf_dir: str, table: str = "events") -> int:
    """Stateful-operator parallelism sized from the source bytes: every
    shuffle partition of a stateful stream carries its own state store
    (checkpoint files, maintenance, per-batch commit), so partitions
    should track state volume — ~64 MB of source per store, floor 1, cap
    session parallelism. A few-MB replay runs 1-2 stores instead of
    paying 32 stores' bookkeeping per micro-batch; a 100 TB backlog
    keeps every core busy. Sized from the replayed stream's ACTUAL
    source table (a documents replay sized from events.parquet would
    misjudge its state volume), directory-aware via _source_bytes.
    Mirrors the edge-count sizing in llm/dedup.connected_components."""
    from ..session import default_parallelism

    try:
        b = _source_bytes(f"{sf_dir}/{table}.parquet")
    except OSError:
        return default_parallelism()
    return max(1, min(default_parallelism(), 1 + b // (64 << 20)))


_STATE_STORE_PROVIDERS = {
    # Spark's own provider classes (both ship in the pyspark jars);
    # resolved from CONFIG.state_store at each replay so the env knob
    # works under the driver's bare session too.
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


@_contextmanager
def state_store_conf(spark: SparkSession):
    """Scope the configured state-store backend (CONFIG.state_store /
    SPARK_GRAFT_STATE_STORE) to one streaming replay: every
    writeStream.start() in this package runs under it — run_to_batch
    and the foreachBatch outbox queries alike — and the session conf is
    restored afterwards. The provider is fixed per query at its first
    checkpoint, so it must be set BEFORE start()."""
    from .. import config as _cfgmod

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, _STATE_STORE_PROVIDERS["hdfs"])
    spark.conf.set(key, _STATE_STORE_PROVIDERS[_cfgmod.CONFIG.state_store])
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def drain(spark: SparkSession, writer, what: str) -> None:
    """Start an availableNow ``writer`` under :func:`state_store_conf`
    and block until it has consumed its source. awaitTermination
    returns False on timeout with the query still running, and reading
    the sink it half filled would look like a real (wrong) answer — so
    a query still running after 600 s is stopped and TimeoutError
    raised."""
    with state_store_conf(spark):
        q = writer.start()
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(f"{what} replay exceeded 600s")


def run_to_batch(
    stream_df: DataFrame,
    output_mode: str,
    sf_dir: str | None = None,
    table: str = "events",
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink and return the materialized batch table. When ``sf_dir``
    is given, shuffle partitions (== state-store count, fixed at the
    query's first checkpoint) are scoped to replay_partitions() for the
    run and restored afterwards; ``table`` names the replayed source so
    the sizing reads the stream's actual input.

    The state-store backend comes from ``CONFIG.state_store``
    (SPARK_GRAFT_STATE_STORE) via :func:`state_store_conf`: the default
    in-heap HDFS-backed store, or RocksDB for corpus-scale keyed state
    that must spill — see the sizing note in config.py. Backend choice
    never changes results (parity test in tests/test_config.py)."""
    import os as _os
    import shutil as _shutil

    spark = stream_df.sparkSession
    name = f"stream_out_{_uuid.uuid4().hex}"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    # RAM-backed checkpoint for SMALL replays: the replay harness's
    # checkpoint (offset/commit logs + state snapshots) is ephemeral by
    # construction — availableNow into a driver-memory sink has nothing
    # durable to restart — yet the default temp-dir checkpoint pays real
    # ext4 fsyncs per micro-batch (~0.1 s/replay measured). Guarded by
    # source size so a corpus-scale replay's state store never lands in
    # the RAM filesystem; the guard mirrors replay_partitions' sizing.
    ckpt = None
    if sf_dir is not None and _os.path.isdir("/dev/shm"):
        try:
            small = _source_bytes(f"{sf_dir}/{table}.parquet") < (1 << 30)
        except OSError:
            small = False
        if small:
            ckpt = f"/dev/shm/spark_graft_replay_{name}"
    try:
        if sf_dir is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(replay_partitions(sf_dir, table)),
            )
        writer = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        drain(spark, writer, f"streaming {name}")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        if ckpt is not None:
            _shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)
