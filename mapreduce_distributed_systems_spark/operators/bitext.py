"""Margin-based paired-data mining (Artetxe & Schwenk 2019,
arXiv:1811.01136 — the criterion behind CCMatrix/LASER parallel-corpus
mining, arXiv:1911.04944): for an anchor x on side A, its best
candidate y on side B is kept only if the RATIO margin

    margin(x, y) = cos(x, y) / (0.5 * (avgk_A->B(x) + avgk_B->A(y)))

clears a threshold, where avgk is the mean cosine of the vector's k
nearest neighbors on the OTHER side. Absolute-cosine thresholds fail
because hubness inflates similarities in dense regions; dividing by
both endpoints' local neighborhood density is what made mined bitext
usable as training data. The same op mines any cross-modal pair
(text<->image, query<->document) — sides here are a deterministic
label split of the embeddings table.

Reference parity note: the reference has no vector operators — this
extends the LLM-data-pipeline surface (training-pair mining) the
brief adds on top of the reference's inventory.

Plan shape (the ann_cosine_topk discipline, applied twice):
  1. bounded anchor block from side A (deterministic filter + LIMIT,
     collected to the task closure — never corpus-proportional);
  2. ONE scan of side B through similarity._cosine_topk_scan, the
     repo's single pruned BLAS kernel: each partition emits ~k rows
     per anchor (the round-8 lossless margin prune), so the rank
     window reads O(k x partitions) rows per anchor; top-k gives
     avgk_x and rank 1 gives the candidate y*;
  3. the distinct y* set is bounded by the anchor cap — collect it
     (with vectors) as the reverse query block, ONE scan of side A
     for avgk_y;
  4. broadcast-join the bounded pieces, compute the margin in scaled
     integer space (cosines as round(cos * 1e6) BIGINTs, so the
     k-NN sums are exact integers in both engines and the only
     float step is one final division), filter, emit.

Corpus rows are scanned twice and shuffled never; every exchange
carries O(anchors x k) rows. At 100 TB both scans swap for the IVF
cell probe (storage/vector_index.py) with the same margin tail —
exactly how ann_cosine_topk's docstring hands off to ann_ivf_probe.
That hand-off is AUDITED rather than asserted (BENCH_NOTES
"Round-8: the bitext IVF hand-off claim"): on cluster-structured
embeddings the router recovers the true neighbor (two-level probe
agreement 1.0 on planted clusters, tests/test_kmeans.py), but on this
fixture's near-uniform synthetic vectors the probed-cells top-1
recall is poor (pair agreement vs brute 0.14/0.35/0.65 at n_probe
2/8/32 over k=400 cells, 100x leg) — the switch is conditional on
embedding geometry, with n_probe as the dial and the certified
ann_recall_curve as the per-corpus measurement to consult first.

Determinism: neighbor ranking orders by (cos6 DESC, vec_id ASC);
cos6 = round(cos * 1e6) — the integer twin of the repo-wide
round(cos, 6) convention, chosen so avgk sums are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.operators.similarity import (
    COSINE_KERNEL,
    _cosine_topk_scan,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

ANCHOR_FILTER = "vec_id % 20 = 0"  # deterministic anchor subset of side A
ANCHOR_CAP = 256
KNN_K = 4  # neighborhood size for the margin denominator
MARGIN_SCALED = 1_020_000  # keep pairs with margin >= 1.02 (x 1e6)


def _knn_stats(scan: DataFrame, k: int) -> DataFrame:
    """Top-k rank over a pruned _cosine_topk_scan: per query, the
    exact-integer k-NN cos6 sum + count, and the rank-1 neighbor."""
    cos6 = scan.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cos_raw") * 1e6, 0).cast("long").alias("cos6"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos6"), F.asc("neighbor_id")
    )
    ranked = cos6.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    return ranked.groupBy("query_id").agg(
        F.sum("cos6").alias("knn_sum"),
        F.count("*").alias("knn_n"),
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias(
            "best_id"
        ),
        F.max(F.when(F.col("rank") == 1, F.col("cos6"))).alias("best_cos6"),
    )


BITEXT_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v FROM e WHERE label % 2 = 0),
b AS (SELECT vec_id, v FROM e WHERE label % 2 = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM a WHERE {ANCHOR_FILTER}
      ORDER BY vec_id LIMIT {ANCHOR_CAP}),
sab AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         CAST(round(list_dot_product(q.qv, b.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(b.v, b.v))) * 1e6) AS BIGINT) AS cos6
  FROM q JOIN b ON b.vec_id <> q.query_id
),
rab AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM sab
),
kx AS (
  SELECT query_id, sum(cos6) AS knn_sum_x, count(*) AS knn_n_x,
         max(CASE WHEN rank = 1 THEN neighbor_id END) AS best_id,
         max(CASE WHEN rank = 1 THEN cos6 END) AS best_cos6
  FROM rab WHERE rank <= {KNN_K} GROUP BY query_id
),
ys AS (SELECT DISTINCT best_id FROM kx),
sba AS (
  SELECT y.best_id AS yid, a.vec_id AS neighbor_id,
         CAST(round(list_dot_product(be.v, a.v) /
               (sqrt(list_dot_product(be.v, be.v)) *
                sqrt(list_dot_product(a.v, a.v))) * 1e6) AS BIGINT) AS cos6
  FROM ys y JOIN b be ON be.vec_id = y.best_id
  JOIN a ON a.vec_id <> y.best_id
),
rba AS (
  SELECT *, row_number() OVER (
    PARTITION BY yid ORDER BY cos6 DESC, neighbor_id) AS rank
  FROM sba
),
ky AS (
  SELECT yid, sum(cos6) AS knn_sum_y, count(*) AS knn_n_y
  FROM rba WHERE rank <= {KNN_K} GROUP BY yid
)
SELECT kx.query_id AS anchor_id,
       kx.best_id AS pair_id,
       kx.best_cos6 AS cos6,
       CAST(round(kx.best_cos6 * 1e6 /
            (0.5 * (kx.knn_sum_x * 1.0 / kx.knn_n_x
                    + ky.knn_sum_y * 1.0 / ky.knn_n_y))) AS BIGINT)
         AS margin6
FROM kx JOIN ky ON ky.yid = kx.best_id
WHERE CAST(round(kx.best_cos6 * 1e6 /
      (0.5 * (kx.knn_sum_x * 1.0 / kx.knn_n_x
              + ky.knn_sum_y * 1.0 / ky.knn_n_y))) AS BIGINT)
      >= {MARGIN_SCALED}
"""


@register(
    "bitext_margin_mine",
    oracle=BITEXT_ORACLE,
    tags=("similarity", "mining", "training", "bitext"),
    bench=True,  # round-8: headline tracks training-pair mining
    doc=f"Margin-based training-pair mining (the CCMatrix/LASER "
    f"criterion, arXiv:1811.01136): per anchor on side A, keep its "
    f"best side-B candidate only if cos / (0.5 x (mean of each "
    f"endpoint's {KNN_K}-NN cosines on the other side)) >= "
    f"{MARGIN_SCALED / 1e6:g} — hubness-corrected pair selection, the "
    "op that turns a monolingual embedding lake into aligned training "
    "pairs. Two pruned BLAS scans (A->B, then the bounded distinct-"
    "best set B->A), k-NN sums in exact scaled-integer space, "
    "broadcast-joined margin tail; corpus never shuffled.",
    helpers=(*COSINE_KERNEL, _knn_stats),
)
def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    side_a = emb.where(F.col("label") % 2 == 0).select("vec_id", "embedding")
    side_b = emb.where(F.col("label") % 2 == 1).select("vec_id", "embedding")

    # bounded anchor block (deterministic order + LIMIT, never
    # input-proportional — the ann_cosine_topk discipline)
    arows = (
        side_a.where(F.expr(ANCHOR_FILTER))
        .orderBy("vec_id")
        .limit(ANCHOR_CAP)
        .collect()
    )
    a_ids = np.array([r.vec_id for r in arows], dtype=np.int64)
    a_mat = np.array([r.embedding for r in arows], dtype=np.float64)

    kx = _knn_stats(_cosine_topk_scan(side_b, a_ids, a_mat, KNN_K), KNN_K)
    kx.cache().count()  # bounded (<= ANCHOR_CAP rows); reused twice below

    # reverse block: the distinct best candidates, with vectors —
    # bounded by the anchor cap
    yrows = (
        kx.select(F.col("best_id").alias("vec_id"))
        .distinct()
        .join(side_b, "vec_id")
        .collect()
    )
    y_ids = np.array([r.vec_id for r in yrows], dtype=np.int64)
    y_mat = np.array([r.embedding for r in yrows], dtype=np.float64)

    ky = (
        _knn_stats(_cosine_topk_scan(side_a, y_ids, y_mat, KNN_K), KNN_K)
        .withColumnRenamed("query_id", "yid")
        .select("yid", F.col("knn_sum").alias("knn_sum_y"),
                F.col("knn_n").alias("knn_n_y"))
    )

    margin6 = F.round(
        F.col("best_cos6") * F.lit(1e6)
        / (
            0.5
            * (
                F.col("knn_sum") / F.col("knn_n")
                + F.col("knn_sum_y") / F.col("knn_n_y")
            )
        ),
        0,
    ).cast("long")
    out = (
        kx.join(F.broadcast(ky), kx["best_id"] == ky["yid"])
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("best_id").alias("pair_id"),
            F.col("best_cos6").alias("cos6"),
            margin6.alias("margin6"),
        )
        .where(F.col("margin6") >= MARGIN_SCALED)
    )
    return out
