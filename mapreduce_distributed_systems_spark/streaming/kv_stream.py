"""Structured Streaming twin of the KV op-log replay (build plan M4).

The reference's KV service [SKEL] applies an ordered op stream to
per-key mutable state (kvraft/server.go + models/kv.go:40-54). The
streaming dual: file-source stream over the events parquet →
`applyInPandasWithState` keyed state (value, effective-op count) →
update-mode memory sink. Exactly-once across restarts (C6 snapshot ≙
state checkpoint) is Structured Streaming's checkpoint contract.

The batch replay (operators/kv.py) is the source of truth
(SURVEY.md §7 risk 4): this stream is correctness-gated against the
SAME DuckDB oracle, and tests assert stream == batch.

Scale note: state is O(live keys); payload concat grows with appends
per key — at 100 TB the production shape adds a watermark +
periodic state snapshot to a sink (the C6 compaction analogue).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_distributed_systems_spark.operators.kv import (
    KV_REPLAY_ORACLE,
    OP_CASE_SQL,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.streaming.replay import (
    run_to_memory,
    stage_table,
)

STATE_SCHEMA = "final_value string, eff long, writes_seen long"
OUTPUT_SCHEMA = (
    "key string, final_value string, n_effective_ops long, writes_seen long"
)


def _update_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key fold: put resets (value, eff=1); append concatenates.
    Mirrors models/kv.go:40-54 applied in (ts, event_id) order."""
    (k,) = key
    if state.exists:
        value, eff, seen = state.get
    else:
        value, eff, seen = "", 0, 0
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["ts", "event_id"])
    for op, payload in zip(rows["op"], rows["payload"]):
        if op == "put":
            value, eff = payload, 1
        else:  # append
            value, eff = value + payload, eff + 1
        seen += 1
    state.update((value, eff, seen))
    yield pd.DataFrame(
        {
            "key": [k],
            "final_value": [value],
            "n_effective_ops": [eff],
            "writes_seen": [seen],
        }
    )


def streamed_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the op-log stream to completion (availableNow) and return
    the final per-key state."""
    from mapreduce_distributed_systems_spark.session import ensure_session_compat

    ensure_session_compat(spark)
    # file-source needs an explicit schema; ts arrives as int64 ns
    # (spark.sql.legacy.parquet.nanosAsLong) and stays ns — only the
    # total order matters for replay
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .parquet(stage_table(sf_dir, "events"))
        .select(
            (F.col("user_id") % 20).cast("string").alias("key"),
            F.expr(OP_CASE_SQL).alias("op"),
            F.col("value").cast("string").alias("payload"),
            "ts",
            "event_id",
        )
        .where(F.col("op") != "get")
    )
    folded = stream.groupBy("key").applyInPandasWithState(
        _update_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(folded, "update")
    # several batches may each emit a row per key; final = max writes_seen
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy(F.desc("writes_seen"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("key", "final_value", "n_effective_ops")
    )


@register(
    "kv_replay_streaming",
    oracle=KV_REPLAY_ORACLE,  # same oracle as the batch twin
    tags=("kv", "stateful", "streaming"),
    doc="Streaming stateful KV replay (applyInPandasWithState), "
    "gated against the identical batch oracle.",
)
def kv_replay_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streamed_replay(spark, sf_dir)
