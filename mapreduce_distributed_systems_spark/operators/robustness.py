"""Error-path operators: malformed-record accounting (ROADMAP #10).

The reference aborts the whole worker on any input problem
(mr/worker.go:166-173 ``log.Fatalf("cannot read %v")``) — acceptable
for 8 Gutenberg files, fatal at 100 TB where some shard ALWAYS has a
bad record. The engine's contract instead: parse tolerantly, keep
malformed rows in-band as accounted loss, never fail the scan and
never silently drop. File-level tolerance (PERMISSIVE /
DROPMALFORMED / FAILFAST, schema drift) lives in sources/robust.py
with behavior pinned by tests/test_robust_sources.py; this module has
the query-level twin the driver can certify end-to-end.

Scale: the audit is one narrow parse pass (no UDF — get_json_object
is JVM-side) plus one map-side-combined aggregate on a low-cardinality
key. Nothing here grows with corruption rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.streaming.replay import (
    run_to_memory,
    stage_table,
)

# Deterministic corruption over the events.props JSON column: two real
# failure shapes (truncation — a torn write; leading garbage — a
# framing/encoding bug), keyed off event_id so both engines plant the
# SAME faults. ~8.7% of rows are corrupted, so the recovery branch is
# never vacuous at any SF.
_JSON_AUDIT_ORACLE = """
WITH c AS (
  SELECT event_type,
         CASE WHEN event_id % 23 = 0
                THEN substring(props, 1, length(props) - 1)
              WHEN event_id % 23 = 1
                THEN 'garbage' || props
              ELSE props END AS cp
  FROM events
), p AS (
  SELECT event_type,
         CASE WHEN json_valid(cp)
              THEN try_cast(json_extract_string(cp, '$.k') AS INT)
         END AS k
  FROM c
)
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(k) AS BIGINT) AS k_sum,
       round(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS corrupt_rate
FROM p
GROUP BY event_type
"""


@register(
    "events_json_malformed_audit",
    oracle=_JSON_AUDIT_ORACLE,
    tags=("robustness", "json", "error-paths"),
    bench=True,  # round-7 session 2: headline set tracks the error path
    doc="Tolerant-parse loss accounting: deterministically corrupt a "
    "slice of the JSON props column (truncation + leading garbage), "
    "parse without failing the scan, and report per-type totals, "
    "corrupt counts, recovered sums, and the loss rate an ingest "
    "pipeline alerts on. Narrow JVM-side parse + one small-key "
    "aggregate; the file-level PERMISSIVE/_corrupt_record twin is "
    "sources/robust.py (tests/test_robust_sources.py).",
)
def events_json_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.get_json_object(_corrupted_props(), "$.k").cast("int")
    return _audit_agg(ev.select("event_type", parsed.alias("k")))


def _corrupted_props() -> F.Column:
    """The deterministic fault-injection expression (shared by the
    batch and streaming twins so both certify the same plant)."""
    return (
        F.when(
            F.col("event_id") % 23 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        )
        .when(
            F.col("event_id") % 23 == 1,
            F.concat(F.lit("garbage"), F.col("props")),
        )
        .otherwise(F.col("props"))
    )


def _audit_agg(kframe: DataFrame) -> DataFrame:
    return kframe.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_corrupt"),
        F.sum("k").alias("k_sum"),
        F.round(
            F.sum(F.col("k").isNull().cast("double")) / F.count("*"), 6
        ).alias("corrupt_rate"),
    )


@register(
    "events_malformed_streaming",
    oracle=_JSON_AUDIT_ORACLE,  # identical oracle to the batch twin
    tags=("robustness", "json", "streaming", "error-paths"),
    doc="Streaming twin of the malformed-record audit: readStream over "
    "the events parquet, the same deterministic fault injection and "
    "tolerant JVM-side parse, running loss totals per event type in a "
    "complete-mode memory sink (availableNow) — the 24/7 ingest shape "
    "where a bad record must never kill the query and loss is "
    "accounted continuously. State is O(event types); the parse is "
    "narrow; certified against the identical batch oracle.",
    helpers=(run_to_memory,),
)
def events_malformed_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = stage_table(sf_dir, "events")
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    parsed = F.get_json_object(_corrupted_props(), "$.k").cast("int")
    agg = _audit_agg(stream.select("event_type", parsed.alias("k")))
    return run_to_memory(agg, "complete")
