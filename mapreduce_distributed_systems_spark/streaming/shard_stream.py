"""Structured Streaming twin of C14 serve-during-migration.

The reference's shardkv group keeps serving a shard through a
reconfiguration until the handoff completes, then the receiver takes
over (shardkv/server.go skeleton contract; shardkv/test_test.go
exercises availability across config changes). The batch analogue
(`shard_serve_during_migration`, operators/shard.py) routes ops by a
data-derived handoff point; this streaming twin maintains the routing
as LIVE per-shard keyed state: ops stream in, each shard's state
counts how many it has served, the old owner serves the first
HANDOFF_OPS ops and the new owner everything after — a handoff point
the stream can know without seeing the future (unlike the batch
twin's midpoint, which needs the total count).

Same config transition as the batch twin (CONTROLLER_SCRIPT config 5
-> 6, leave [1]: shards 0,1,2 move off group 1; tests/test_shard.py
pins the literals to the controller algorithm's output). The oracle
replays the identical routing in SQL (row_number <= HANDOFF_OPS), so
the driver hash-checks the stream end-to-end.

Scale note: state is 3 longs per shard — O(shards), not O(ops); the
stream shuffles once on shard, exactly the partitioning a sharded
serving tier already has. Cross-batch op order per shard follows file
order (time-ordered files in production; the single events file
here), with in-batch (ts, event_id) sorting — the same ordering
contract as kv_stream.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce_distributed_systems_spark.operators.shard import (
    MIGRATION_NEW,
    MIGRATION_OLD,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.streaming.replay import (
    run_to_memory,
    stage_table,
)

# ops served by the OLD owner before the shard hands off; small enough
# that every shard at every test SF has post-handoff traffic (the
# smallest fixture has ~100 ops/shard), large enough to be non-trivial
HANDOFF_OPS = 50

STATE_SCHEMA = "ops_seen long, n_old long"
OUTPUT_SCHEMA = "shard long, ops_seen long, n_old long"

SHARD_STREAM_ORACLE = f"""
WITH routed AS (
  SELECT ascii(substring(CAST(user_id % 20 AS VARCHAR), 1, 1)) % 10 AS shard,
         ts, event_id
  FROM events
),
ranked AS (
  SELECT shard,
         row_number() OVER (PARTITION BY shard ORDER BY ts, event_id) AS rn
  FROM routed
),
served AS (
  SELECT shard,
         {list(MIGRATION_OLD)}[shard + 1] AS old_gid,
         {list(MIGRATION_NEW)}[shard + 1] AS new_gid,
         CASE WHEN rn <= {HANDOFF_OPS}
              THEN {list(MIGRATION_OLD)}[shard + 1]
              ELSE {list(MIGRATION_NEW)}[shard + 1] END AS served_gid,
         {list(MIGRATION_OLD)}[shard + 1] <> {list(MIGRATION_NEW)}[shard + 1]
           AS moved
  FROM ranked
)
SELECT shard, old_gid, new_gid, served_gid, moved,
       count(*) AS n_ops
FROM served
GROUP BY shard, old_gid, new_gid, served_gid, moved
"""


def _serve_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-shard fold: count ops served, attributing the first
    HANDOFF_OPS to the old owner. State is (ops_seen, n_old)."""
    (shard,) = key
    if state.exists:
        ops_seen, n_old = state.get
    else:
        ops_seen, n_old = 0, 0
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    n = len(rows)
    n_old += max(0, min(HANDOFF_OPS - ops_seen, n))
    ops_seen += n
    state.update((ops_seen, n_old))
    yield pd.DataFrame(
        {"shard": [shard], "ops_seen": [ops_seen], "n_old": [n_old]}
    )


def streamed_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_distributed_systems_spark.session import ensure_session_compat

    ensure_session_compat(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .parquet(stage_table(sf_dir, "events"))
        .select(
            (
                F.ascii(
                    F.substring((F.col("user_id") % 20).cast("string"), 1, 1)
                )
                % 10
            )
            .cast("long")
            .alias("shard"),
            "ts",
            "event_id",
        )
    )
    folded = stream.groupBy("shard").applyInPandasWithState(
        _serve_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(folded, "update")

    # final state per shard = the update with the highest ops_seen
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy(F.desc("ops_seen"))
    final = (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("shard", "ops_seen", "n_old")
    )
    old_arr = F.array(*[F.lit(g) for g in MIGRATION_OLD])
    new_arr = F.array(*[F.lit(g) for g in MIGRATION_NEW])
    old_gid = F.element_at(old_arr, F.col("shard").cast("int") + 1)
    new_gid = F.element_at(new_arr, F.col("shard").cast("int") + 1)
    shaped = final.select(
        "shard",
        old_gid.alias("old_gid"),
        new_gid.alias("new_gid"),
        (old_gid != new_gid).alias("moved"),
        F.col("n_old"),
        (F.col("ops_seen") - F.col("n_old")).alias("n_new"),
    )
    # one output row per (shard, serving group): stable shards fold
    # both attributions onto their single owner
    served = shaped.select(
        "shard",
        "old_gid",
        "new_gid",
        "moved",
        F.explode(
            F.when(
                F.col("moved"),
                F.array(
                    F.struct(
                        F.col("old_gid").alias("served_gid"),
                        F.col("n_old").alias("n_ops"),
                    ),
                    F.struct(
                        F.col("new_gid").alias("served_gid"),
                        F.col("n_new").alias("n_ops"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("old_gid").alias("served_gid"),
                        (F.col("n_old") + F.col("n_new")).alias("n_ops"),
                    )
                )
            )
        ).alias("s"),
    )
    return (
        served.where(F.col("s.n_ops") > 0)
        .select(
            "shard",
            "old_gid",
            "new_gid",
            F.col("s.served_gid").alias("served_gid"),
            "moved",
            F.col("s.n_ops").alias("n_ops"),
        )
    )


@register(
    "shard_serve_streaming",
    oracle=SHARD_STREAM_ORACLE,
    tags=("shard", "migration", "streaming", "stateful"),
    doc="Streaming C14 twin: per-shard keyed state routes each op to "
    "the shard's old owner for its first HANDOFF_OPS ops and the new "
    "owner after — a handoff the stream can decide without seeing "
    "the future. Same config-5 -> config-6 transition as the batch "
    "twin; the oracle replays the routing as a rank window, so the "
    "stream is hash-checked end-to-end.",
)
def shard_serve_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streamed_serve(spark, sf_dir)
