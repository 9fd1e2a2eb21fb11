"""Streaming sources (reference S3 parity) and the file-replay contract.

The reference ingests its item stream from a TCP socket via DStreams
(``ssc.socketTextStream`` — reference HWK_3/G029HW3.py:99,103). The
Structured Streaming equivalents here produce an untyped line stream that
is cast to the engine's ``item: long`` shape declaratively, so every
downstream operator (exact histogram, sketches, windowed aggregations)
works identically over a socket, a replayed file directory, or the rate
source — the DataFrame is the interface, the source is a config detail.

File replay is the one contract every ``streaming/`` runner rides on:
one micro-batch is one flat parquet file, and files are replayed in
modification-time order. ``write_chunk_files`` writes a directory in
that shape, ``file_item_stream`` reads it, and ``drain_file_stream``
runs a runner's ``process_batch`` over every file and stops the query.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def socket_item_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Socket text stream → (item: long), one int per line.

    Mirrors the reference's source contract (one integer per line,
    reference HWK_3/G029HW3.py:44-46,103). The socket source is
    single-receiver and non-replayable — fine for the driver-state sketch
    path, which is sequential by design (SURVEY.md §4.3.3); the scalable
    declarative paths should replay from files/Kafka instead.
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .select(F.col("value").cast("long").alias("item"))
    )


def file_item_stream(
    spark: SparkSession, source_dir: str, schema: str = "seq bigint, item bigint"
) -> DataFrame:
    """Deterministic micro-batch replay: each parquet file in ``source_dir``
    is one micro-batch of ``schema`` rows, delivered in mtime order. One
    file per trigger is what the order-sensitive runners (CDC merge, MG
    ingest, the transition counter) need, so it is not settable."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def drain_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    process_batch: Callable[[DataFrame, int], None],
) -> None:
    """Run ``process_batch(batch_df, epoch_id)`` over every file of
    ``source_dir`` (``file_item_stream``), then stop the query — also
    when a batch raises, so a failed run leaves no active query behind."""
    query = (
        file_item_stream(spark, source_dir, schema)
        .writeStream.foreachBatch(process_batch)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def write_chunk_files(df: DataFrame, out_dir: str, chunk: Column) -> int:
    """Write ``df`` as one FLAT parquet file per distinct value of
    ``chunk``, in ascending value order and with ascending mtimes, so
    ``file_item_stream`` replays the chunks as separate micro-batches in
    that order. Returns the file count. ``df`` is materialized once, so
    its plan is evaluated once whatever the chunk count."""
    df = df.localCheckpoint()
    values = sorted(r[0] for r in df.select(chunk).distinct().collect())
    staging = os.path.join(out_dir, "_staging")
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - 3600
    for i, v in enumerate(values):
        df.filter(chunk == F.lit(v)).coalesce(1).write.mode("overwrite").parquet(
            staging
        )
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(out_dir, f"{i:04d}.parquet")
        shutil.move(os.path.join(staging, part), dst)
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(staging, ignore_errors=True)
    return len(values)
