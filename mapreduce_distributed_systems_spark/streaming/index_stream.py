"""Streaming lexical-index maintenance (ROADMAP #23, staged for the
r11 gate window — the r10 window is full per plans/registry.py, so
`bm25_index_streaming_append` is NOT registered yet; its oracle is
written below and tests/test_index_stream.py applies the identical
parity compare plus restart/redelivery contracts).

The 24/7 ingestion shape for the persisted BM25 index
(storage/lexical_index.py): documents arrive as a file stream, and
each microbatch drives `append_bm25_index` through foreachBatch — a
version+1 manifest commit per batch, old versions immutable for
in-flight readers. foreachBatch is an AT-LEAST-ONCE sink (a batch
interrupted by a crash re-runs after restart), and the append's
doc-id anti-join idempotence (round 10) is exactly the discipline
that upgrades redelivery to exactly-once INDEX CONTENT: a re-run
batch commits a content-identical version instead of double-counting
postings — the KV layer's C4 contract applied to index maintenance.

Freshness semantics are the append's documented frozen-stats model:
n_docs/avgdl stay the base build's scalars and existing terms keep
their base df; a term FIRST seen in a streamed batch enters with that
batch's df. Content therefore depends on how the engine packs files
into batches ONLY through new-term df — postings and doc lengths are
packing-invariant (the merge + re-prune is associative; tests pin
both halves of that statement).

Scale: each microbatch does batch-sized tokenize/aggregate work plus
a merge against only the posting lists it touches; nothing in the
loop is corpus-proportional except the artifact rewrite itself, which
at 100 TB becomes per-touched-bucket (the documented parquet-dir
versioning trade-off in storage/lexical_index.py).

Reference parity: the stream is the reference's indexer app
(mrapps/indexer.go:20-39) run as a resident job; each batch commits
through storage/manifest.py's data-before-pointer swap, the C6
commit (kvraft/server.go:75-78).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.operators.retrieval import (
    BM25_B,
    BM25_K1,
    BM25_QUERY_CAP,
    BM25_QUERY_FILTER,
    BM25_TOP_K,
    POSTING_CAP,
    QUERY_TERMS,
    _TOKS_DUCK,
    _bm25_w_col,
    partition_topk,
)
from mapreduce_distributed_systems_spark.scratch import (
    scratch_dir as _scratch_dir,
)
from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.storage.lexical_index import (
    _prune_to_buckets,
    append_bm25_index,
    bm25_topk_from_index,
    build_and_commit_bm25,
    read_bm25_index,
    write_bm25_index,
)

# deterministic corpus split: the base build indexes the even half,
# the stream appends the odd half — same split the batch append tests
# pin, so the streamed twin and the batch path share one oracle
BM25_STREAM_BASE = "doc_id % 2 = 0"

# BM25 served from the STREAMED index: identical shape to BM25_ORACLE
# (operators/retrieval.py) except the frozen-stats model — corpus
# scalars over the BASE split only, df frozen at a term's first
# generation (base wins; new-only terms enter with the streamed
# split's df). Queries still come from the full corpus, and the
# postings are the merged+re-pruned union (prune is associative:
# prune(prune(base) U new) == prune(all), pinned by the r10 append
# tests), so `post` below prunes the full tf relation directly.
STREAM_BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
),
scal AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl WHERE {BM25_STREAM_BASE}
),
df AS (
  SELECT term,
         CAST(CASE WHEN count(*) FILTER (WHERE {BM25_STREAM_BASE}) > 0
                   THEN count(*) FILTER (WHERE {BM25_STREAM_BASE})
                   ELSE count(*) END AS BIGINT) AS df
  FROM tf GROUP BY 1
),
post AS (
  SELECT term, doc_id, tf FROM (
    SELECT term, doc_id, tf,
           row_number() OVER (PARTITION BY term
                              ORDER BY tf DESC, doc_id) AS prn
    FROM tf
  ) WHERE prn <= {POSTING_CAP}
),
q AS (
  SELECT doc_id AS query_id FROM documents
  WHERE {BM25_QUERY_FILTER} ORDER BY doc_id LIMIT {BM25_QUERY_CAP}
),
qt AS (
  SELECT query_id, term FROM (
    SELECT q.query_id, tf.term,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY df.df ASC, tf.term ASC) AS trn
    FROM q JOIN tf ON tf.doc_id = q.query_id
    JOIN df ON df.term = tf.term
  ) WHERE trn <= {QUERY_TERMS}
),
cand AS (
  SELECT qt.query_id, p.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (p.tf * ({BM25_K1} + 1.0))
           / (p.tf + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)) AS w
  FROM qt
  JOIN post p USING (term)
  JOIN df USING (term)
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN scal s
  WHERE p.doc_id <> qt.query_id
),
bm25_agg AS (
  SELECT query_id, doc_id, round(sum(w), 6) AS bm25
  FROM cand GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
  FROM bm25_agg
) WHERE rank <= {BM25_TOP_K}
"""


def stage_stream_source(
    docs: DataFrame, n_files: int, prefix: str = "bm25_stream_src_"
) -> str:
    """Write `docs` as `n_files` parquet files with ascending
    modification times so FileStreamSource discovers them in a
    deterministic order (it sorts by mod time). Files partition rows
    by doc_id range, so each file is a reproducible microbatch — unlike
    the memory-sink twins, which stream one symlinked table file
    (streaming/replay.stage_table)."""
    src = tempfile.mkdtemp(prefix=prefix)
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    n = len(pdf)
    t0 = 1_700_000_000
    for j in range(n_files):
        path = f"{src}/part-{j}.parquet"
        pdf.iloc[j * n // n_files : (j + 1) * n // n_files].to_parquet(
            path, index=False
        )
        os.utime(path, (t0 + j, t0 + j))
    return src


def run_append_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    base_dir: str,
    ckpt: str,
    max_files_per_trigger: int | None = None,
):
    """Drive the maintenance loop: file stream -> foreachBatch ->
    append_bm25_index, availableNow (drain what exists, then stop).
    Returns the terminated query. Callers own checkpoint reuse for
    restart tests."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir).select("doc_id", "text")

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        # empty batches commit nothing: availableNow can emit one
        # trailing empty batch, and a no-op version for it would make
        # version counts schedule-dependent for no content
        if batch_df.isEmpty():
            return
        append_bm25_index(spark, batch_df, base_dir)

    q = (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


@register(
    "bm25_index_streaming_append",
    oracle=STREAM_BM25_ORACLE,
    tags=("streaming", "retrieval", "index", "storage"),
    doc="BM25 top-k served from a STREAM-MAINTAINED persisted index: "
    "base build over half the corpus, the other half ingested as a "
    "document file stream whose microbatches drive idempotent "
    "append_bm25_index commits through foreachBatch (at-least-once "
    "redelivery upgraded to exactly-once index content by the "
    "doc-id anti-join), then scored from the final manifest version. "
    "The hash match certifies the whole maintenance loop: build, "
    "stream discovery, per-batch merge + re-prune, manifest pointer "
    "swaps, and the serve path's frozen-stats arithmetic.",
    helpers=(build_and_commit_bm25, append_bm25_index, write_bm25_index,
             _prune_to_buckets, partition_topk, bm25_topk_from_index,
             _bm25_w_col),
)
def bm25_index_streaming_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from a STREAM-MAINTAINED index: base build
    over the even doc_id half, the odd half ingested as a document
    stream whose microbatches append version+1 commits, then scoring
    from whatever version the final manifest points at. Gated on
    STREAM_BM25_ORACLE (frozen-stats BM25 over the same split) — the
    hash match certifies the whole loop: build, stream discovery,
    per-batch merge + re-prune, manifest pointer swaps, and the
    serve path's stored-stats arithmetic. Registered r11."""
    base_dir = _scratch_dir("bm25_stream_idx_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split_dir = tempfile.mkdtemp(prefix="bm25_stream_split_")
    docs.where(F.expr(BM25_STREAM_BASE)).write.mode("overwrite").parquet(
        f"{split_dir}/documents.parquet"
    )
    build_and_commit_bm25(spark, split_dir, base_dir)

    new_docs = docs.where(~F.expr(BM25_STREAM_BASE))
    src = stage_stream_source(new_docs, n_files=1)
    ckpt = tempfile.mkdtemp(prefix="bm25_stream_ckpt_")
    run_append_stream(spark, src, new_docs.schema, base_dir, ckpt)

    post, terms, _dl, manifest = read_bm25_index(spark, base_dir)
    return bm25_topk_from_index(spark, sf_dir, post, terms, manifest)
