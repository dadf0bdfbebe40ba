"""Document chunking — the fixed-token-window split every RAG /
retrieval / eval pipeline runs before embedding, plus chunk-level
exact dedup (boilerplate paragraphs repeat across documents far more
than whole documents do, so dedup at chunk granularity catches mass
that doc-level exact dedup structurally cannot).

Registered as ONE rel-keyed query, doc_chunking, whose two legs are
chunk_relation and chunk_dedup_stats over the documents table; each
leg's standalone oracle (CHUNK_SPLIT_ORACLE, CHUNK_DEDUP_ORACLE) is
pinned by tests/test_chunking.py. Complements the existing stack:
packing.py packs token budgets for TRAINING batches, dup_spans.py
measures/rewrites duplicated k-gram mass; this module produces the
chunk RELATION itself — the unit a vector index ingests — and scores
its dup rate.

Chunking rule (the standard overlapping-window scheme): tokens are
the reference-exact [^\\p{L}]+ letter runs (functions/text.py, the
same class every text operator pins); chunk i covers token positions
[i*STRIDE + 1, i*STRIDE + CHUNK_TOKENS]; a document of L >= 1 tokens
yields n = 1 + ceil(max(0, L - CHUNK_TOKENS) / STRIDE) chunks, so
every token is covered, consecutive chunks overlap by
CHUNK_TOKENS - STRIDE tokens, and only the last chunk may be short
(never empty). Zero-token documents yield zero chunks.

Scale design (100 TB):
- the split is NARROW — tokenize, one arithmetic sequence, slice,
  explode; no shuffle anywhere, whole-stage codegen end to end. The
  chunk text itself never shuffles: downstream keys are md5 digests
  (16 bytes), the dedup.py discipline.
- chunk dedup groups on md5(chunk_text): map-side-combined aggregate
  on a 16-byte key; hot boilerplate chunks collapse in the partial
  aggregate, so skew is harmless by construction (the dup_spans
  argument at chunk granularity).
- identical windows at identical strides are deterministic, so an
  incremental re-chunk of appended documents produces byte-identical
  chunk ids for unchanged docs — safe to feed the ANN index append
  path (storage/vector_index.py) without invalidating existing cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.operators.retrieval import (
    _TOKS_DUCK,  # canonical DuckDB tokenizer (ADVICE r12 #4: import,
)  # don't duplicate — the lexical_index.py pattern)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16 tokens

CHUNK_SPLIT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS t FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS L,
         1 + CAST(ceil(greatest(0, len(t) - {CHUNK_TOKENS})
                       / {CHUNK_STRIDE}.0) AS BIGINT) AS n
  FROM toks WHERE len(t) >= 1
)
SELECT s.doc_id,
       CAST(c.i AS BIGINT) AS chunk_idx,
       CAST(len(s.t[c.i * {CHUNK_STRIDE} + 1 :
                    c.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(
         s.t[c.i * {CHUNK_STRIDE} + 1 :
             c.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_md5
FROM sized s, LATERAL (SELECT unnest(generate_series(0, s.n - 1)) AS i) c
"""

CHUNK_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_DUCK} AS t FROM documents
),
sized AS (
  SELECT doc_id, source, t, len(t) AS L,
         1 + CAST(ceil(greatest(0, len(t) - {CHUNK_TOKENS})
                       / {CHUNK_STRIDE}.0) AS BIGINT) AS n
  FROM toks WHERE len(t) >= 1
),
chunks AS (
  SELECT s.source,
         md5(array_to_string(
           s.t[c.i * {CHUNK_STRIDE} + 1 :
               c.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS h
  FROM sized s, LATERAL (SELECT unnest(generate_series(0, s.n - 1)) AS i) c
),
g AS (
  SELECT source, h, count(*) AS c FROM chunks GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       round(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) / sum(c), 6)
         AS removable_frac
FROM g GROUP BY source
"""

# chunk starts/lengths as ONE generated-column expression so the whole
# split stays inside whole-stage codegen (no UDF, no shuffle)
_CHUNKS_SPARK = (
    f"transform(sequence(0, cast(1 + ceil(greatest(0, size(t) - "
    f"{CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) as int) - 1), "
    f"i -> struct(cast(i as bigint) as chunk_idx, "
    f"slice(t, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}) as ct))"
)


def chunk_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_md5) — the overlapping
    fixed-window chunk relation over any (doc_id, text) frame.
    Narrow plan: tokenize -> sequence/slice -> explode; the chunk
    TEXT dies in the map stage (only its md5 leaves)."""
    toks = docs.select("doc_id", words("text").alias("t")).where(
        F.size("t") >= 1
    )
    return toks.select(
        "doc_id", F.explode(F.expr(_CHUNKS_SPARK)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.ct").cast("long").alias("n_tokens"),
        F.md5(F.array_join("c.ct", " ")).alias("chunk_md5"),
    )


def chunk_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per-source chunk-level exact-dedup report: total/distinct
    chunks, duplicated groups, and the removable fraction (copies
    beyond each group's first — what a chunk-dedup pass would drop).
    Groups on the 16-byte digest; hot boilerplate chunks collapse in
    the partial aggregate."""
    toks = docs.select("doc_id", "source", words("text").alias("t")).where(
        F.size("t") >= 1
    )
    chunks = toks.select(
        "source", F.explode(F.expr(_CHUNKS_SPARK)).alias("c")
    ).select("source", F.md5(F.array_join("c.ct", " ")).alias("h"))
    g = chunks.groupBy("source", "h").agg(F.count("*").alias("c"))
    return g.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            / F.sum("c"),
            6,
        ).alias("removable_frac"),
    )


# Both chunking relations under one rel key — the third documented
# registry-ceiling merge (plans/registry.py: the rotation note
# pre-identified exactly this pair as merge candidates before either
# registered, so the pair lands as ONE slot, 198/200). DuckDB
# evaluates each certified oracle text verbatim inside its own
# derived table; the 'chunk' leg NULL-pads the stats columns and vice
# versa — the merge changes packaging, not semantics (the
# RRF_DUAL_ORACLE discipline).
CHUNKING_DUAL_ORACLE = f"""
SELECT 'chunk' AS rel, doc_id, chunk_idx, n_tokens, chunk_md5,
       CAST(NULL AS VARCHAR) AS source,
       CAST(NULL AS BIGINT) AS n_chunks,
       CAST(NULL AS BIGINT) AS n_distinct_chunks,
       CAST(NULL AS BIGINT) AS n_dup_groups,
       CAST(NULL AS DOUBLE) AS removable_frac
FROM ({CHUNK_SPLIT_ORACLE}) chunk_leg
UNION ALL
SELECT 'stats' AS rel, CAST(NULL AS BIGINT) AS doc_id,
       CAST(NULL AS BIGINT) AS chunk_idx,
       CAST(NULL AS BIGINT) AS n_tokens,
       CAST(NULL AS VARCHAR) AS chunk_md5,
       source, n_chunks, n_distinct_chunks, n_dup_groups,
       removable_frac
FROM ({CHUNK_DEDUP_ORACLE}) stats_leg
"""

def _null_cols(**types: str) -> list:
    """Typed NULL padding columns (built lazily — F.lit needs an
    active SparkContext, so these cannot be module-level constants)."""
    return [F.lit(None).cast(t).alias(n) for n, t in types.items()]


@register(
    "doc_chunking",
    oracle=CHUNKING_DUAL_ORACLE,
    tags=("chunking", "text", "dedup"),
    bench=True,
    doc="Document chunking certified as ONE rel-keyed query (the "
    "third registry-ceiling merge): the 'chunk' leg is the full "
    "overlapping-window chunk relation — 64-token windows at stride "
    "48 over the reference-exact letter-run tokenizer, every chunk's "
    "content pinned through its md5 — the unit a vector index "
    "ingests; the 'stats' leg is per-source chunk-level exact-dedup "
    "rates (total/distinct/dup groups/removable fraction) on the "
    "16-byte digests. Both legs are Exchange-free until the stats "
    "aggregate: tokenize -> sequence/slice -> explode in whole-stage "
    "codegen, chunk text dying in the map stage; the dedup groups on "
    "md5 with map-side combine so boilerplate skew collapses before "
    "the shuffle. Deterministic windows make re-chunking appended "
    "docs byte-stable — safe for frozen-centroid ANN index appends.",
    helpers=(chunk_relation, chunk_dedup_stats),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r13 (oracle: CHUNKING_DUAL_ORACLE): the chunk
    relation and its per-source dedup rates under one rel key, each
    leg the exact plan of chunk_relation or chunk_dedup_stats. No
    shared cache: the chunk relation is corpus-sized (caching it is
    wrong at 100 TB); the double documents scan is two narrow map
    passes."""
    docs = load_table(spark, sf_dir, "documents")
    chunk_leg = chunk_relation(docs).select(
        F.lit("chunk").alias("rel"), "doc_id", "chunk_idx", "n_tokens",
        "chunk_md5",
        *_null_cols(source="string", n_chunks="long",
                    n_distinct_chunks="long", n_dup_groups="long",
                    removable_frac="double"),
    )
    stats_leg = chunk_dedup_stats(docs).select(
        F.lit("stats").alias("rel"),
        *_null_cols(doc_id="long", chunk_idx="long", n_tokens="long",
                    chunk_md5="string"),
        "source", "n_chunks", "n_distinct_chunks", "n_dup_groups",
        "removable_frac",
    )
    return chunk_leg.unionByName(stats_leg)
