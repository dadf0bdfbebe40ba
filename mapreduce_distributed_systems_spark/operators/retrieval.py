"""Lexical and hybrid retrieval over the `documents` table: BM25
top-k (the inverted-index scoring the reference's indexer app
(mrapps/indexer.go:20-39) is one posting-list aggregation away from),
and reciprocal-rank fusion of the lexical and dense (cosine) rankers —
the standard hybrid-retrieval shape production search stacks serve.

Scale design (100 TB):
- the index is three map-side-combined aggregates over the token
  stream (tf, df, doclen) — the wc/indexer shuffle shape, never
  all-pairs;
- posting lists are IMPACT-PRUNED to a fixed cap per term
  (tf-descending, the static index-pruning of Anh & Moffat): scoring
  work per query is <= QUERY_TERMS x POSTING_CAP candidate rows,
  corpus-independent. The prune itself is two bounded windows (a
  per-input-partition top-cap, then a top-cap over the <= cap x
  n_partitions survivors — the r8 ANN-prune shape), so no single task
  ever sorts a full hot-term posting list;
- query terms are the QUERY_TERMS most selective (lowest document
  frequency) terms of each query document, so the posting lists
  visited are the SHORT ones and high-df terms (which carry near-zero
  IDF anyway) never fan out;
- fusion joins two ALREADY top-k ranked lists (<= 2k rows per query),
  so the fused window's input is bounded by construction.

Determinism: BM25 weights are IEEE expressions written with identical
association in both engines over integer (tf, df, dl) inputs and one
scalar double (avgdl); only the final per-(query, doc) sum crosses
engines, rounded to 6 decimals (the repo-wide float discipline). RRF
is integer-exact: each rank contributes round(1e9 / (60 + rank)) as a
BIGINT.

Accepted certification risk (ADVICE r9, documented like the cosine
rounding discipline): ranks and the top-k cut key on round(sum(w), 6)
where the per-term double weights sum in engine-dependent order — two
candidates whose TRUE scores differ by less than the 1e-6 quantum
could in principle round apart across engines and swap rank. All
certified corpora sit far from such ties (tests tolerate 2e-6 score
divergence while asserting exact ranks, and every driver round to
date hash-matches); scaling the weights to integers pre-sum (the RRF
trick) would force a fixed-point weight definition for no retrieval
benefit, so the quantum tie stays an accepted, documented risk.

Serving at 100 TB: the index is a persisted artifact
(storage/lexical_index.py — term-bucket-partitioned impact-pruned
postings with dl denormalized in, full dictionary, frozen corpus
stats behind an atomic manifest). `doc_bm25_serve` certifies the
write -> commit -> reload -> score cycle against the SAME oracle as
the in-query ranker; `doc_bm25_topk` remains the build-then-query
single-session shape whose (doc, term, tf) cache stands in for the
artifact. That cache's lifetime (ADVICE r9) is scoped by contract:
the driver shim and bench harness clearCache() at every query entry
(tests/test_registry_gate.py::test_driver_queries_wrapper_isolates_cache),
and the scheduled-build twin (storage/lexical_index.build_and_commit_bm25)
unpersists before returning — no caller accumulates resident copies.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.operators.kmeans import (
    kmeans_fit_int8,
)
from mapreduce_distributed_systems_spark.operators.similarity import (
    ANN_IVF_KMEANS_ORACLE,
    BRUTE_ORACLE,
    _ivf_build,
    _ivf_probe_topk,
    ann_cosine_topk,
    ann_ivf_kmeans,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# deterministic query subset + hard cap: the ANN brute-baseline shape
# (similarity.py) — the stride keeps a fraction, the ORDER BY + LIMIT
# keeps the query block O(cap) at any corpus size.
BM25_QUERY_FILTER = "doc_id % 100 = 0"
BM25_QUERY_CAP = 256
# the QUERY_TERMS most selective (lowest-df) terms represent a query
QUERY_TERMS = 8
# static impact pruning: keep per term only the POSTING_CAP docs with
# the highest tf (doc_id tiebreak). Fixed, not corpus-scaled — that is
# the point: per-query candidate volume stays QUERY_TERMS x
# POSTING_CAP forever. The recall trade-off lands on high-df terms,
# whose IDF is near zero; at the fixture SFs the cap binds from
# sf0.1 up (df ~ 4k > 2048), exercising the prune under oracle parity.
POSTING_CAP = 2048

_TOKS_DUCK = (
    "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"
)

# BM25 oracle body (no trailing SELECT) so the fusion oracle can embed
# it as a CTE chain. Every arithmetic expression is associated exactly
# as the Spark side writes it. Rendered by a function so the sampled
# audit (retrieval_quality_sampled, staged r11) can re-render it with
# a tighter query block; the default render is BYTE-IDENTICAL to the
# round-9/10 certified text (pinned by tests/test_retrieval_sampled.py
# ::test_default_cte_render_is_byte_identical), so no certified oracle
# fingerprint moves.
def _bm25_ctes(
    query_filter: str = BM25_QUERY_FILTER, query_cap: int = BM25_QUERY_CAP
) -> str:
    return f"""
tok AS (
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
  FROM dl
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
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
  WHERE {query_filter} ORDER BY doc_id LIMIT {query_cap}
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
),
bm25_ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
  FROM bm25_agg
)"""


_BM25_CTES = _bm25_ctes()

BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, bm25, rank
FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
"""


def partition_topk(
    df: DataFrame, cap: int, key: str, value: str, id_col: str
) -> DataFrame:
    """Stage 1 of the DataFrame-level two-stage top-k (impact_prune,
    lexical_index._prune_to_buckets and _bm25_ranked's brute rank
    fan-in; the r8 ANN-prune shape, REPOSE/Odyssey's local top-k): the
    per-(input partition, `key`) top-`cap` rows in (`value` DESC,
    `id_col` ASC) order. It is a superset of the global per-key
    top-cap whatever the partitioning — a row beaten by `cap` rows of
    its own partition is beaten by at least as many globally — so a
    per-key window over its output reads <= cap x n_partitions rows
    per key and returns exactly the naive window's rows
    (differential-pinned in tests/test_retrieval.py)."""
    w = W.partitionBy(F.spark_partition_id(), key).orderBy(
        F.desc(value), F.asc(id_col)
    )
    return df.withColumn("_prn", F.row_number().over(w)).where(
        F.col("_prn") <= cap
    ).drop("_prn")


def impact_prune(tf: DataFrame, cap: int) -> DataFrame:
    """Per-term top-`cap` postings in (tf DESC, doc_id ASC) order via
    two bounded windows: partition_topk, then the per-term window over
    its survivors — never a full hot-key posting list in one task.
    Results are exactly the naive `row_number() OVER (PARTITION BY
    term ORDER BY tf DESC, doc_id) <= cap`."""
    local = partition_topk(tf, cap, "term", "tf", "doc_id")
    w2 = W.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return local.withColumn("_prn", F.row_number().over(w2)).where(
        F.col("_prn") <= cap
    ).drop("_prn")


def _bm25_w_col(n_docs=None, avgdl=None):
    """The per-posting Okapi BM25 weight — ONE expression shared by
    every BM25 scorer (the in-session rankers and the stored-index
    serve path) so all produce bit-identical per-row doubles; requires
    columns tf, dl, df. The corpus scalars default to the n_docs and
    avgdl columns; the serve path passes its manifest's literals."""
    n_docs = F.col("n_docs") if n_docs is None else n_docs
    avgdl = F.col("avgdl") if avgdl is None else avgdl
    return (
        F.log(
            F.lit(1.0)
            + (n_docs - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dl") / avgdl
            )
        )
    )


def _bm25_relations(
    spark: SparkSession,
    sf_dir: str,
    query_filter: str,
    query_cap: int,
):
    """The shared index relations every BM25 consumer derives from:
    (tf, scal, df, qt). tf is cached + materialized here (the ONE
    corpus-sized pass — see the comment inside); Spark's cache manager
    dedupes by canonicalized plan, so the pruned ranker and the truth
    pass both read one in-memory build."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(words("text")).alias("term"))
    # THE one corpus-sized pass: every downstream table (postings,
    # document frequencies, doc lengths, the scalar stats, the query
    # docs' term sets) derives from this (doc, term, tf) aggregate.
    # Cached + materialized NOW: without the cache each consumer
    # re-executes the tokenize scan (6 parquet scans of the corpus in
    # the executed plan, profiled round 9 -> 1 with it), and a lazily
    # populated cache would let AQE's concurrently-launched broadcast
    # subqueries race to recompute it (the curation lesson, round 7).
    # In production the pruned index is a persisted artifact (the
    # storage/vector_index.py manifest pattern); the cache is the
    # in-query stand-in.
    #
    # r14 (guide §2.4/§3, the persisted index's dl-denormalization
    # applied to the in-query stand-in): the doc length rides ON the
    # cached tf row — one doc_id-keyed window exchange at build time
    # (per-doc data is bounded by document length, no hot key)
    # computes dl = sum(tf) over the doc and marks one row per doc,
    # so every scorer reads dl from its candidate row and the
    # doc-keyed dl aggregate + join that each consumer's plan used to
    # carry are gone. dl is an integer sum — summation order cannot
    # move it — and the scalar stats aggregate the SAME one-row-per-
    # doc values, so scores are bit-identical.
    wd = W.partitionBy("doc_id")
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn("dl", F.sum("tf").over(wd).cast("long"))
        # (doc_id, term) is unique after the aggregate, so the
        # min-term row is a deterministic one-per-doc marker; min()
        # shares the unordered window the dl sum already pays
        .withColumn("_first", F.col("term") == F.min("term").over(wd))
        .cache()
    )
    tf.count()
    scal = tf.where("_first").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    # the query block scans ONLY the doc_id column (column-pruned,
    # TakeOrdered-bounded); query terms come from the cached tf
    q = (
        docs.where(F.expr(query_filter))
        .orderBy("doc_id")
        .limit(query_cap)
        .select(F.col("doc_id").alias("query_id"))
    )
    # query representation: the QUERY_TERMS lowest-df terms of the
    # query doc (window over one doc's distinct terms — doc-bounded);
    # df rides along so the scoring join below never re-joins it
    wq = W.partitionBy("query_id").orderBy(F.asc("df"), F.asc("term"))
    qt = (
        q.join(tf, q.query_id == tf.doc_id)
        .join(df, "term")
        .select("query_id", "term", "df")
        .withColumn("_trn", F.row_number().over(wq))
        .where(F.col("_trn") <= QUERY_TERMS)
        .select("query_id", "term", "df")
    )
    return tf, scal, df, qt


def _bm25_ranked(
    spark: SparkSession,
    sf_dir: str,
    cap: int | None,
    query_filter: str = BM25_QUERY_FILTER,
    query_cap: int = BM25_QUERY_CAP,
) -> DataFrame:
    """BM25 ranking (query_id, doc_id, bm25, rank) over the
    in-session index. `cap` is the impact-prune posting cap; None
    skips pruning entirely — the brute ground truth the quality query
    measures the production rankers against (offline-audit shape:
    per-query work is bounded only by the selected low-df terms'
    true posting lengths, so it runs on samples, never as serving;
    a MaxScore-bounded equivalent measured slower in r11 and r12 and
    was removed, see the BENCH_NOTES Round-11/Round-12 MaxScore
    sections).
    `query_filter`/`query_cap` select the query block — defaults are
    the production stream; the sampled audit passes a tighter pair.
    Ranks are exact only up to BM25_TOP_K (the two-stage bounded cut
    below discards everything that cannot reach the global top-k);
    both consumers filter rank <= BM25_TOP_K."""
    tf, scal, df, qt = _bm25_relations(
        spark, sf_dir, query_filter, query_cap
    )

    # static impact pruning: only the `cap` highest-tf postings per
    # term can ever be scored (module docstring); cap=None is the
    # brute ground truth. dl rides on the cached tf row (r14), so no
    # doc-keyed join remains on the scoring path.
    post = impact_prune(tf, cap) if cap is not None else tf

    cand = (
        qt.join(post, "term")
        .crossJoin(F.broadcast(scal))
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", _bm25_w_col().alias("w"))
    )
    agg = cand.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("w"), 6).alias("bm25")
    )
    # Bounded rank fan-in for the BRUTE path only (round 10): a
    # per-(input-partition, query) top-k first (partition_topk, the
    # differential-pinned stage 1 of impact_prune) — so the per-query
    # rank window reads <= k x n_partitions rows instead of ONE task
    # sorting a query's corpus-sized candidate set. Gated on cap=None
    # because the pruned path's candidates are already <= QUERY_TERMS
    # x cap per query and the extra exchange+sort is pure overhead
    # there (A/B at sf0.1: 11.7 s -> 16.9 s cold with the stage
    # applied unconditionally).
    if cap is None:
        agg = partition_topk(agg, BM25_TOP_K, "query_id", "bm25", "doc_id")
    wr = W.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return agg.withColumn("rank", F.row_number().over(wr).cast("long"))


# the in-session BM25 ranker's shared helpers, declared in helpers= by
# every consumer: their source is part of each certified definition
BM25_RANKER = (_bm25_relations, _bm25_ranked, impact_prune, partition_topk,
               _bm25_w_col)


@register(
    "doc_bm25_topk",
    oracle=BM25_ORACLE,
    tags=("retrieval", "text", "similarity", "index"),
    bench=True,
    doc="BM25 top-10 lexical retrieval for a deterministic query-doc "
    "subset: Okapi BM25 (k1=1.2, b=0.75) over an impact-pruned "
    "inverted index — per term only the POSTING_CAP highest-tf docs "
    "survive (static index pruning), and each query is its "
    "QUERY_TERMS lowest-df (most selective) terms, so per-query "
    "scoring work is QUERY_TERMS x POSTING_CAP candidates at ANY "
    "corpus size. The index build is the indexer/wc shuffle shape "
    "(three map-side-combined aggregates); the posting prune is two "
    "bounded windows (per-input-partition top-cap, then top-cap over "
    "the survivors), never a full hot-term sort.",
    helpers=BM25_RANKER,
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index + impact prune + term-at-a-time scoring; see module
    docstring for the scale argument. Reference parity: the inverted
    index is mrapps/indexer.go:20-39's output with tf attached; BM25
    turns it into the ranked-retrieval query the reference's engine
    would serve with one more reduce. Round 10: the pipeline body
    moved to _bm25_ranked so the UNPRUNED ground-truth ranking
    (retrieval_quality_bm25_rrf) shares the same cached (doc, term,
    tf) relation — Spark's cache manager dedupes by canonicalized
    plan, so both variants read ONE in-memory build."""
    return _bm25_ranked(spark, sf_dir, POSTING_CAP).where(
        F.col("rank") <= BM25_TOP_K
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the dense (cosine) and
# lexical (BM25) rankers.
# --------------------------------------------------------------------------

RRF_K = 60
RRF_SCALE = 10**9
RRF_TOP_K = 10

# embed both rankers' oracles as CTE chains; DuckDB evaluates the
# dense ranker's CTEs (from similarity.BRUTE_ORACLE) inside a derived
# table, keeping the two oracles textually independent.
RRF_ORACLE = f"""
WITH {_BM25_CTES},
lex AS (
  SELECT query_id, doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_lex
  FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
),
dense AS (
  SELECT query_id, neighbor_id AS doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_dense
  FROM ({BRUTE_ORACLE}) t
),
fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(l.c_lex, 0) + coalesce(d.c_dense, 0) AS rrf_score,
         CAST((CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_systems
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
rrf_ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT)
    AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, n_systems, rank
FROM rrf_ranked WHERE rank <= {RRF_TOP_K}
"""


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-dense RRF hybrid — reciprocal-rank fusion (Cormack et al.
    2009) of the dense cosine top-10 (ann_cosine_topk) and the lexical
    BM25 top-10 (doc_bm25_topk); integer contributions
    round(1e9/(60+rank)) so certification needs no float discipline.

    Certified r9 as a registered query; MERGED round 12 into the
    dense_leg-keyed `retrieval_rrf_fusion_ivf` (the registry-ceiling
    rotation's second documented merge, plans/registry.py) — the
    brute leg is that query's calibration baseline. The callable
    stays: retrieval_quality_bm25_rrf composes it and
    tests/test_retrieval.py pins its semantics; the merged query's
    oracle embeds RRF_ORACLE verbatim and both now fuse through the
    same _rrf_fuse helper, so the external hash cert covers this
    shape through the merged query's 'brute' leg."""
    contrib = F.round(F.lit(RRF_SCALE) / (F.lit(RRF_K) + F.col("rank"))).cast(
        "long"
    )
    lex = doc_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", contrib.alias("c_lex")
    )
    dense = ann_cosine_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        contrib.alias("c_dense"),
    )
    return _rrf_fuse(lex, dense)


def _rrf_fuse(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """Integer-exact RRF of two (query_id, doc_id, c_*) contribution
    tables: full outer on (query, doc), summed contributions, top-k by
    (score desc, doc). Was kept inline in retrieval_rrf_fusion while
    its r9-certified fingerprint had to hold; since the r12 merge all
    fusion variants compose through this helper."""
    fused = (
        lex.withColumnRenamed("query_id", "lq")
        .withColumnRenamed("doc_id", "ld")
        .join(
            dense.withColumnRenamed("query_id", "dq").withColumnRenamed(
                "doc_id", "dd"
            ),
            (F.col("lq") == F.col("dq")) & (F.col("ld") == F.col("dd")),
            "full_outer",
        )
        .select(
            F.coalesce("lq", "dq").alias("query_id"),
            F.coalesce("ld", "dd").alias("doc_id"),
            (
                F.coalesce("c_lex", F.lit(0)) + F.coalesce("c_dense", F.lit(0))
            ).alias("rrf_score"),
            (
                F.when(F.col("ld").isNull(), 0).otherwise(1)
                + F.when(F.col("dd").isNull(), 0).otherwise(1)
            ).cast("long").alias("n_systems"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return fused.withColumn(
        "rank", F.row_number().over(wr).cast("long")
    ).where(F.col("rank") <= RRF_TOP_K)


# --------------------------------------------------------------------------
# Production hybrid (round 10, VERDICT r9 next #6): RRF with the IVF
# ranker as the dense leg — the plan a 100 TB deployment serves (the
# brute-cosine leg is the audit/baseline shape). Same integer-exact
# fusion machinery; since the lists it fuses differ from the brute
# hybrid's exactly where IVF recall drops, the certified brute/ivf
# pair doubles as a hybrid-recall measurement —
# retrieval_quality_bm25_rrf puts a number on it.
#
# Round 12: the two hybrids MERGED into one registered query keyed by
# a dense_leg column ('brute' | 'ivf') — the second documented
# registry-ceiling merge (plans/registry.py). One query now certifies
# both fusion shapes AND computes the shared lexical leg once instead
# of twice.
# --------------------------------------------------------------------------

RRF_IVF_ORACLE = f"""
WITH {_BM25_CTES},
lex AS (
  SELECT query_id, doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_lex
  FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
),
dense AS (
  SELECT query_id, neighbor_id AS doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_dense
  FROM ({ANN_IVF_KMEANS_ORACLE}) t
),
fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(l.c_lex, 0) + coalesce(d.c_dense, 0) AS rrf_score,
         CAST((CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
            + (CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_systems
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
rrf_ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT)
    AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, n_systems, rank
FROM rrf_ranked WHERE rank <= {RRF_TOP_K}
"""

# Both hybrids under one dense_leg key. DuckDB evaluates each full
# WITH-chain inside its own derived table, keeping the two certified
# oracle texts verbatim (RRF_ORACLE / RRF_IVF_ORACLE) — the merge
# changes packaging, not semantics.
RRF_DUAL_ORACLE = f"""
SELECT 'brute' AS dense_leg, * FROM ({RRF_ORACLE}) brute_leg
UNION ALL
SELECT 'ivf' AS dense_leg, * FROM ({RRF_IVF_ORACLE}) ivf_leg
"""


@register(
    "retrieval_rrf_fusion_ivf",
    oracle=RRF_DUAL_ORACLE,
    tags=("retrieval", "similarity", "ann", "hybrid", "ivf"),
    bench=True,
    doc="PRODUCTION hybrid retrieval + its calibration baseline in one "
    "certified query, keyed by dense_leg: reciprocal-rank fusion of "
    "the lexical BM25 top-10 with ('ivf') the IVF-SQ8 approximate "
    "dense top-10 — learned integer-exact quantizer, n_probe cell "
    "scan, the plan a 100 TB deployment serves (both legs "
    "index-backed, corpus-sublinear per query) — and ('brute') the "
    "exact-cosine dense top-10, the audit shape whose divergence from "
    "the ivf leg IS the hybrid recall loss. Fusion is integer "
    "contributions round(1e9/(60+rank)) over <= 2k rows per query; "
    "the shared lexical ranking is computed once and cached. Merged "
    "r12 from the separate retrieval_rrf_fusion (r9-certified) per "
    "the registry-ceiling rotation; both oracle texts are embedded "
    "verbatim.",
    helpers=(_rrf_fuse, *BM25_RANKER, kmeans_fit_int8, _ivf_build,
             _ivf_probe_topk),
    # ADVICE r12 #2 + VERDICT r13 #1c: the fusion body, the shared BM25
    # relations/ranking (r14 dl-carry), and the IVF leg's fit/build/
    # probe helpers are all part of this query's certified fingerprint
)
def retrieval_rrf_fusion_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same composition discipline as retrieval_rrf_fusion: every leg
    is a registered ranker's callable, fused by _rrf_fuse. The
    lexical leg feeds both fusions, so it is cached (bounded:
    <= queries x BM25_TOP_K rows); the bench/driver session evicts
    caches at query boundaries."""
    from concurrent.futures import ThreadPoolExecutor

    contrib = F.round(F.lit(RRF_SCALE) / (F.lit(RRF_K) + F.col("rank"))).cast(
        "long"
    )
    lex = doc_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", contrib.alias("c_lex")
    ).cache()

    def _build_dense():
        # the dense legs' BUILD actions (the ann query-block collect,
        # the bounded kmeans-fit sample collect) touch only the
        # embeddings table — independent of the lexical leg, so they
        # run on a driver thread concurrently with the BM25
        # materialization below (guide §2.6). Same legs, same rows.
        brute = ann_cosine_topk(spark, sf_dir).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            contrib.alias("c_dense"),
        )
        ivf = ann_ivf_kmeans(spark, sf_dir).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            contrib.alias("c_dense"),
        )
        return brute, ivf

    with ThreadPoolExecutor(max_workers=1) as pool:
        dense_f = pool.submit(_build_dense)
        # Materialize BEFORE fanning out (ADVICE r12 #1, the round-7
        # _bm25_ranked precedent): the two fusion branches launch their
        # stages concurrently, and a lazily populated cache lets them
        # race to recompute the BM25 ranking — count() pins 'computed
        # once'.
        lex.count()
        brute, ivf = dense_f.result()
    return _rrf_fuse(lex, brute).withColumn(
        "dense_leg", F.lit("brute")
    ).unionByName(_rrf_fuse(lex, ivf).withColumn("dense_leg", F.lit("ivf")))


# --------------------------------------------------------------------------
# Retrieval quality as certified data (round 10, VERDICT r9 missing
# #2): the lexical/hybrid counterpart of ann_recall_at_k. Ground truth
# is the UNPRUNED BM25 ranking (same query representation, full
# posting lists — what the pruned index approximates); each system's
# top-10 is scored against it with recall@10 and an integer-exact
# DCG/IDCG proxy: rank r contributes round(1e9 / log2(r+1)) — the
# standard nDCG position discount, pre-scaled to BIGINT so the
# certification needs no float discipline (the RRF trick).
# --------------------------------------------------------------------------

NDCG_SCALE = 10**9
# position-discount weights for ranks 1..10 and their prefix sums
# (IDCG of an n-hit ideal list), precomputed as integers so Spark and
# DuckDB consume identical literals
_DCG_W = tuple(
    int(round(NDCG_SCALE / math.log2(r + 1))) for r in range(1, BM25_TOP_K + 1)
)
_DCG_P = tuple(sum(_DCG_W[: n + 1]) for n in range(BM25_TOP_K))
_DCG_W_SQL = "[" + ", ".join(str(w) for w in _DCG_W) + "]"
_DCG_P_SQL = "[" + ", ".join(str(p) for p in _DCG_P) + "]"

RETRIEVAL_QUALITY_ORACLE = f"""
WITH {_BM25_CTES},
brute_cand AS (
  SELECT qt.query_id, p.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (p.tf * ({BM25_K1} + 1.0))
           / (p.tf + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)) AS w
  FROM qt
  JOIN tf p USING (term)
  JOIN df USING (term)
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN scal s
  WHERE p.doc_id <> qt.query_id
),
brute_agg AS (
  SELECT query_id, doc_id, round(sum(w), 6) AS bm25
  FROM brute_cand GROUP BY 1, 2
),
truth AS (
  SELECT query_id, doc_id FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
    FROM brute_agg
  ) WHERE rank <= {BM25_TOP_K}
),
pruned AS (
  SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
),
lex AS (
  SELECT query_id, doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_lex
  FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
),
dense AS (
  SELECT query_id, neighbor_id AS doc_id,
         CAST(round({RRF_SCALE} / ({RRF_K} + rank)) AS BIGINT) AS c_dense
  FROM ({BRUTE_ORACLE}) t
),
fused AS (
  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(l.c_lex, 0) + coalesce(d.c_dense, 0) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
fusedk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT)
      AS rank
    FROM fused
  ) WHERE rank <= {RRF_TOP_K}
),
sys AS (
  SELECT 'bm25_pruned' AS system, query_id, doc_id, rank FROM pruned
  UNION ALL
  SELECT 'rrf_hybrid' AS system, query_id, doc_id, rank FROM fusedk
),
hit AS (
  SELECT s.system, s.rank
  FROM sys s JOIN truth t
    ON t.query_id = s.query_id AND t.doc_id = s.doc_id
),
per_sys AS (
  SELECT system,
         CAST(count(*) AS BIGINT) AS hits,
         CAST(sum(({_DCG_W_SQL})[CAST(rank AS INT)]) AS BIGINT) AS dcg
  FROM hit GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(n_t) AS BIGINT) AS possible,
         CAST(sum(({_DCG_P_SQL})[CAST(n_t AS INT)]) AS BIGINT) AS idcg
  FROM (SELECT query_id, count(*) AS n_t FROM truth GROUP BY 1)
),
names AS (SELECT unnest(['bm25_pruned', 'rrf_hybrid']) AS system)
SELECT n.system, t.n_queries,
       coalesce(p.hits, 0) AS hits, t.possible,
       coalesce(p.dcg, 0) AS dcg, t.idcg
FROM names n CROSS JOIN tot t LEFT JOIN per_sys p ON p.system = n.system
"""


@register(
    "retrieval_quality_bm25_rrf",
    oracle=RETRIEVAL_QUALITY_ORACLE,
    tags=("retrieval", "quality", "hybrid", "stats"),
    doc="Rank quality of the production retrieval stacks as CERTIFIED "
    "data (the lexical/hybrid counterpart of ann_recall_at_k): the "
    "impact-pruned BM25 top-10 and the RRF hybrid top-10, each scored "
    "against the unpruned-BM25 ground truth with recall@10 "
    "(hits/possible) and an integer-exact DCG/IDCG proxy — rank r "
    "contributes round(1e9/log2(r+1)) as BIGINT, the nDCG position "
    "discount pre-scaled so no float crosses engines. At 100 TB the "
    "ground-truth pass runs on a query sample as an offline audit "
    "(it reads full posting lists by design); the certified number is "
    "what an index rollout gates on.",
    helpers=(retrieval_rrf_fusion, _rrf_fuse, *BM25_RANKER),
    # ADVICE r12 #2 + VERDICT r13 #1c: the hybrid leg composes the
    # RETIRED r12 callable, which fuses via the shared helper, and the
    # truth/pruned rankings share the r14 dl-carry relations — all are
    # part of this query's certified definition
)
def retrieval_quality_bm25_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes three already-registered plans (unpruned _bm25_ranked,
    doc_bm25_topk, retrieval_rrf_fusion); the pruned and brute
    rankings share one cached (doc, term, tf) via the cache manager's
    canonicalized-plan dedup. Truth is bounded (<= queries x 10 rows),
    so the scoring joins broadcast."""
    truth = (
        _bm25_ranked(spark, sf_dir, None)
        .where(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id")
    )
    pruned = doc_bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    fusedk = retrieval_rrf_fusion(spark, sf_dir).select(
        "query_id", "doc_id", "rank"
    )
    sysl = pruned.withColumn("system", F.lit("bm25_pruned")).unionByName(
        fusedk.withColumn("system", F.lit("rrf_hybrid"))
    )
    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    p_arr = F.array(*[F.lit(p) for p in _DCG_P])
    hit = sysl.join(F.broadcast(truth), ["query_id", "doc_id"])
    per_sys = hit.groupBy("system").agg(
        F.count("*").cast("long").alias("hits"),
        F.sum(F.element_at(w_arr, F.col("rank").cast("int")))
        .cast("long")
        .alias("dcg"),
    )
    tot = (
        truth.groupBy("query_id")
        .agg(F.count("*").alias("n_t"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("n_t").cast("long").alias("possible"),
            F.sum(F.element_at(p_arr, F.col("n_t").cast("int")))
            .cast("long")
            .alias("idcg"),
        )
    )
    names = spark.createDataFrame(
        [("bm25_pruned",), ("rrf_hybrid",)], "system string"
    )
    return (
        names.crossJoin(F.broadcast(tot))
        .join(per_sys, "system", "left")
        .select(
            "system",
            "n_queries",
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            "possible",
            F.coalesce("dcg", F.lit(0).cast("long")).alias("dcg"),
            "idcg",
        )
    )


# --------------------------------------------------------------------------
# Sampled-truth retrieval audit (ROADMAP #22, staged for the r11 gate
# window — the r10 window is full per plans/registry.py, so
# `retrieval_quality_sampled` is NOT registered yet;
# tests/test_retrieval_sampled.py applies the same parity compare).
#
# retrieval_quality_bm25_rrf's ground truth is honest but
# corpus-proportional PER QUERY (unpruned posting lists, measured
# 21.7/116.7/332.4 s across the decades) — an index-rollout audit,
# not an always-on check. This variant bounds the whole audit by
# sampling the QUERY population: the audit stride is a strict
# subsample of the production query stream (doc_id % 400 = 0 is a
# subset of % 100 = 0) capped at AUDIT_QUERY_CAP, so total truth work
# is <= cap x sum(df of 8 low-df terms) — fixed per corpus snapshot,
# small enough to run on every index build. Lexical-only by design:
# the hybrid's dense leg keeps its certified audit in the r10 query.
# --------------------------------------------------------------------------

AUDIT_QUERY_FILTER = "doc_id % 400 = 0"
AUDIT_QUERY_CAP = 64

RETRIEVAL_QUALITY_SAMPLED_ORACLE = f"""
WITH {_bm25_ctes(AUDIT_QUERY_FILTER, AUDIT_QUERY_CAP)},
brute_cand AS (
  SELECT qt.query_id, p.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (p.tf * ({BM25_K1} + 1.0))
           / (p.tf + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)) AS w
  FROM qt
  JOIN tf p USING (term)
  JOIN df USING (term)
  JOIN dl d ON d.doc_id = p.doc_id
  CROSS JOIN scal s
  WHERE p.doc_id <> qt.query_id
),
brute_agg AS (
  SELECT query_id, doc_id, round(sum(w), 6) AS bm25
  FROM brute_cand GROUP BY 1, 2
),
truth AS (
  SELECT query_id, doc_id FROM (
    SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
    FROM brute_agg
  ) WHERE rank <= {BM25_TOP_K}
),
pruned AS (
  SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= {BM25_TOP_K}
),
hit AS (
  SELECT s.rank
  FROM pruned s JOIN truth t
    ON t.query_id = s.query_id AND t.doc_id = s.doc_id
),
per_sys AS (
  SELECT CAST(count(*) AS BIGINT) AS hits,
         CAST(sum(({_DCG_W_SQL})[CAST(rank AS INT)]) AS BIGINT) AS dcg
  FROM hit
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(n_t) AS BIGINT) AS possible,
         CAST(sum(({_DCG_P_SQL})[CAST(n_t AS INT)]) AS BIGINT) AS idcg
  FROM (SELECT query_id, count(*) AS n_t FROM truth GROUP BY 1)
)
SELECT 'bm25_pruned' AS system, t.n_queries,
       coalesce(p.hits, 0) AS hits, t.possible,
       coalesce(p.dcg, 0) AS dcg, t.idcg
FROM tot t CROSS JOIN per_sys p
"""


@register(
    "retrieval_quality_sampled",
    oracle=RETRIEVAL_QUALITY_SAMPLED_ORACLE,
    tags=("retrieval", "quality", "stats"),
    doc="Bounded ALWAYS-ON twin of retrieval_quality_bm25_rrf: the "
    "same recall@10 + integer-exact DCG/IDCG metrics, but the audited "
    "query population is a strict subsample of the production query "
    "stream (doc_id % 400 = 0, capped at 64), so total truth-pass "
    "work is fixed per corpus snapshot instead of growing with the "
    "query load — cheap enough to gate every index build, not just "
    "rollouts.",
    helpers=BM25_RANKER,
)
def retrieval_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded always-on audit: recall@10 + integer DCG/IDCG of the
    impact-pruned BM25 ranker against the unpruned truth, both
    restricted to the AUDIT query sample (a strict subsample of the
    production query stream). Same metrics machinery as
    retrieval_quality_bm25_rrf; total cost is fixed by the sample cap
    instead of growing with the query population. Registered r11
    (oracle: RETRIEVAL_QUALITY_SAMPLED_ORACLE).

    Truth-side plan choice, MEASURED r11 AND r12 (BENCH_NOTES): a
    MaxScore-bounded exact scorer (ROADMAP #31) gave identical results
    but was NOT wired here, and was then deleted, on two independent
    refutations. r11: the repo's closed-vocabulary probe
    corpora concentrate every doc's score-sum just below theta, so
    any single-term admissible bound keeps ~26M of 26.1M candidates
    (2.3x slower). r12: on PROPER 500k-doc zipf corpora
    (tools/gen_zipf_corpus.py, letters-only tokens, V=50k) the
    unpruned truth wins 3.3x (natural tail) and 4.1x (tail-capped
    mixed-df) — because this engine's query representation already
    selects each query doc's LOWEST-df terms, the truth pass is
    per-query bounded by short selective posting lists and WAND has
    nothing left to prune; its extra corpus passes are pure overhead.
    (The r12 first-cut zipf dir accidentally tokenized to a V=1
    corpus and showed the bound winning 2x exactly there — the
    single-dominant-term regime where per-doc score spread IS
    per-term weight spread; recorded in BENCH_NOTES so the boundary
    of the bound's usefulness is data, not prose.) The audit's
    production lever at any scale remains the SAMPLED query block."""
    truth = (
        _bm25_ranked(
            spark, sf_dir, None,
            query_filter=AUDIT_QUERY_FILTER, query_cap=AUDIT_QUERY_CAP,
        )
        .where(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id")
    )
    pruned = (
        _bm25_ranked(
            spark, sf_dir, POSTING_CAP,
            query_filter=AUDIT_QUERY_FILTER, query_cap=AUDIT_QUERY_CAP,
        )
        .where(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "rank")
    )
    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    p_arr = F.array(*[F.lit(p) for p in _DCG_P])
    hit = pruned.join(F.broadcast(truth), ["query_id", "doc_id"])
    per_sys = hit.agg(
        F.count("*").cast("long").alias("hits"),
        F.sum(F.element_at(w_arr, F.col("rank").cast("int")))
        .cast("long")
        .alias("dcg"),
    )
    tot = (
        truth.groupBy("query_id")
        .agg(F.count("*").alias("n_t"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("n_t").cast("long").alias("possible"),
            F.sum(F.element_at(p_arr, F.col("n_t").cast("int")))
            .cast("long")
            .alias("idcg"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(per_sys))
        .select(
            F.lit("bm25_pruned").alias("system"),
            "n_queries",
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            "possible",
            F.coalesce("dcg", F.lit(0).cast("long")).alias("dcg"),
            "idcg",
        )
    )
