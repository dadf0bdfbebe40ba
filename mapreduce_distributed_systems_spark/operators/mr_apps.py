"""Parity queries for the reference's remaining MR apps.

- nocrash/crash payload (mrapps/nocrash.go:27-47, mrapps/crash.go:20-55):
  Map emits ("a", filename), ("b", len(filename)), ("c", len(contents)),
  ("d", "xyzzy") per input; Reduce sorts values and joins with spaces.
  Chaos-injection itself (os.Exit / sleeps) is reproduced as a *test*
  (tests/test_behavior.py::test_chaos_retries_match_golden) per
  SURVEY.md §5.5 — the query here is the golden payload both twins
  must produce.
- early_exit (mrapps/early_exit.go:19-36): Map emits (filename, "1");
  Reduce counts. Atomic-commit behavior is Spark's FileOutputCommitter,
  tested separately.

doc_id stands in for the filename (FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

NOCRASH_ORACLE = """
WITH kv AS (
  SELECT 'a' AS key, doc_id::VARCHAR AS value FROM documents
  UNION ALL SELECT 'b', length(doc_id::VARCHAR)::VARCHAR FROM documents
  UNION ALL SELECT 'c', length(text)::VARCHAR FROM documents
  UNION ALL SELECT 'd', 'xyzzy' FROM documents
)
SELECT key, string_agg(value, ' ' ORDER BY value) AS out
FROM kv GROUP BY key
"""


def nocrash_payload(docs: DataFrame) -> DataFrame:
    name = F.col("doc_id").cast("string")
    kv = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("key"), name.alias("value")),
                F.struct(F.lit("b").alias("key"), F.length(name).cast("string").alias("value")),
                F.struct(F.lit("c").alias("key"), F.length("text").cast("string").alias("value")),
                F.struct(F.lit("d").alias("key"), F.lit("xyzzy").alias("value")),
            )
        ).alias("kv")
    ).select("kv.key", "kv.value")
    return kv.groupBy("key").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list("value"))).alias("out")
    )


@register(
    "nocrash",
    oracle=NOCRASH_ORACLE,
    tags=("mr-app", "aggregate"),
    doc="crash/nocrash golden payload: 4 keys, sorted space-joined values.",
)
def q_nocrash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nocrash_payload(load_table(spark, sf_dir, "documents"))


EARLY_EXIT_ORACLE = """
SELECT doc_id::VARCHAR AS key, count(*) AS cnt
FROM documents GROUP BY doc_id
"""


@register(
    "early_exit",
    oracle=EARLY_EXIT_ORACLE,
    tags=("mr-app", "aggregate"),
    doc="early_exit app: (filename, 1) -> count per file (mrapps/early_exit.go:19-36).",
)
def q_early_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
    )
