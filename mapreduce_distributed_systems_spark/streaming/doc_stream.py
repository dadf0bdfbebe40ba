"""Streaming model-inference twin of the quality classifier — the
scoring stage of a 24/7 ingestion pipeline (crawl -> score -> route),
certified against the SAME batch oracle as quality_classifier_score.

The streaming shape differs from the batch plan in the right way:
each document arrives WHOLE in one record, so the per-doc score is a
pure expression over the token array (aggregate(transform(...))) —
genuinely STATELESS map-only streaming. No watermark, no state store,
no shuffle; append mode is exact on an infinite stream, which is the
strongest 24/7 contract any stage can have (the windowed/dedup twins
all carry watermark-bounded state; inference carries none). A learned
model would broadcast its weight table into the same stateless plan.

The batch twin (operators/quality.py classifier_score) instead
explodes tokens and groupBy(doc_id)-sums — the right BATCH plan
because the explode feeds the same scan other aggregates share. Both
reduce to identical integer arithmetic, which is what lets one DuckDB
oracle certify the pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.operators.quality import (
    CLS_BUCKETS,
    CLS_ORACLE,
    _CLS_MIX,
    _CLS_WMOD,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.streaming.replay import (
    run_to_memory,
    stage_table,
)


def _score_expr() -> str:
    """Per-record score: sum of frozen bucket weights over the token
    array — the exact integer arithmetic of the batch groupBy-sum,
    evaluated inside one whole-stage-codegen projection."""
    half = (_CLS_WMOD - 1) // 2
    per_tok = (
        f"(cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) "
        f"% {CLS_BUCKETS}L) * {_CLS_MIX}L % {_CLS_WMOD}L - {half}L"
    )
    return (
        f"aggregate(transform(_toks, tok -> {per_tok}), 0L, (a, x) -> a + x)"
    )


@register(
    "quality_classifier_streaming",
    oracle=CLS_ORACLE,  # identical to the batch twin
    tags=("quality", "classifier", "streaming", "text"),
    doc="Streaming twin of quality_classifier_score: readStream over "
    "the documents parquet, score each arriving document with the "
    "frozen hashing-trick model as a PURE EXPRESSION over its token "
    "array (aggregate over transform — no explode, no groupBy), "
    "append-mode memory sink driven with availableNow. Stateless "
    "map-only streaming: zero state store, zero shuffle, zero "
    "watermark — inference is the one pipeline stage that can run "
    "24/7 with NO state bound to reason about, and append mode is "
    "exact rather than a finite-replay compromise. Gated on the same "
    "batch oracle, so the hash match certifies that the streaming "
    "expression arithmetic is bit-identical to the batch "
    "explode/groupBy plan.",
    helpers=(run_to_memory,),
)
def quality_classifier_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_dir = stage_table(sf_dir, "documents")
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)
    from mapreduce_distributed_systems_spark.functions.text import words

    scored = (
        stream.withColumn("_toks", words("text"))
        .select(
            "doc_id",
            F.coalesce(F.size("_toks"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.expr(_score_expr()).alias("score"),
        )
        .withColumn(
            "label", F.when(F.col("score") > 0, "keep").otherwise("drop")
        )
    )
    return run_to_memory(scored, "append")
