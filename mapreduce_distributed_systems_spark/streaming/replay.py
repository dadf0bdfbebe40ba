"""Finite replay of a file stream, shared by every memory-sink twin:
stage a sf-dir table as a stream source, drain the stream with an
availableNow trigger into a memory sink, return the sink table.

Only what changes no result lives here (dir placement, the sink's
query name); ts normalization, watermarks, recursiveFileLookup, the
flush sentinel and the output mode stay in each twin. Dirs go under
the per-process scratch root (scratch.py), since the returned lazy
frames may outlive the call.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

from mapreduce_distributed_systems_spark.scratch import scratch_dir

_DIR_PREFIX = "stream_replay_"
_QUERY_PREFIX = "replay_"


def stage_table(sf_dir: str, table: str, copies: int = 1) -> str:
    """A fresh source dir of `copies` symlinks to the table's single
    parquet file (FileStreamSource needs a directory). copies=2 is
    at-least-once redelivery: every record arrives twice."""
    src_dir = scratch_dir(_DIR_PREFIX)
    for i in range(copies):
        os.symlink(f"{sf_dir}/{table}.parquet", f"{src_dir}/{table}-{i}.parquet")
    return src_dir


def run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain the streaming `df` into a memory sink and return the sink
    table. A failed batch raises here (awaitTermination re-raises the
    streaming exception), never an empty or partial table."""
    name = f"{_QUERY_PREFIX}{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir(_DIR_PREFIX))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        query.stop()  # no-op once terminated; ends it on an interrupt
    return df.sparkSession.table(name)
