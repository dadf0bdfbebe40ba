"""Similarity search over the `embeddings` table (north star,
BASELINE.json): brute-force cosine top-k as the exactness baseline, a
random-hyperplane-LSH bucketed variant as the scale path, and
per-label centroid analytics.

Determinism discipline: ranking always orders by (round(cos, 6) DESC,
vec_id) so ties and float noise cannot reorder results between Spark
and the DuckDB oracle. LSH hyperplanes are derived from md5 (identical
in both engines), so bucket assignments — and therefore candidate
sets — are reproducible anywhere.

Scale design (100 TB):
- brute force: queries are broadcast; each executor scans its slice of
  the corpus and emits only its local top-k per query (margin-pruned
  inside the kernel — see _ROUND_MARGIN — so the final rank window
  reads O(k x n_partitions) rows per query, never the corpus; the
  corpus itself is never shuffled). ONE kernel, _cosine_topk_scan,
  serves every brute scan (ann_cosine_topk, ann_cosine_filtered,
  ann_hard_negatives and bitext_margin_mine); each caller applies
  only its own rounding;
- LSH: the corpus is bucketed once (narrow map), candidates come from
  a bucket-equi join — the shuffle is on the bucket key, and recall is
  tuned by bands/bits, never by scanning everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.operators.dedup import dot_expr, norm_expr
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

TOP_K = 10
QUERY_FILTER = "vec_id % 100 = 0"  # deterministic query subset

# Hard cap on the brute-force query block: QUERY_FILTER alone keeps a
# FRACTION, so the driver-side collect and the task-closure query
# matrix would grow linearly with the corpus. LIMIT after a
# deterministic ORDER BY (TakeOrderedAndProject — no full sort) makes
# the exactness baseline O(cap x corpus) at any scale. The cap does
# not bind below 25.6k vectors, so test-SF results are unchanged.
ANN_QUERY_CAP = 256

# Round-8 (VERDICT r7 "What's wrong #2"): the brute-force kernels used
# to emit EVERY (query, neighbor, score) triple, so the final
# row_number window hash-partitioned a corpus-sized stream into at
# most ANN_QUERY_CAP partitions — O(corpus) rows per window task at
# 100 TB. The kernel now keeps a per-PARTITION top-k per query, so the
# window reads O((k + tie band) x n_partitions) rows per query,
# independent of corpus row count. Pruning is lossless under the final
# ROUNDED (cos DESC, neighbor_id ASC) order: the certified value path
# is still raw double -> Spark F.round(_, 6), untouched; the prune
# only DROPS rows, and round(x, 6) moves a score by at most 5e-7 (+
# sub-ulp float noise), so a row whose raw score sits more than
# _ROUND_MARGIN below its partition's k-th best raw score is beaten by
# all k of those rows after rounding too, whatever the id tiebreak
# says — it can never reach the global top k. Rows inside the margin
# band are ALL kept (a tie band, ~0 rows on real-valued scores) and
# settled by the unchanged window.
_ROUND_MARGIN = 2e-6


def _prune_mask(s, k: int, ceiling=None, margin: float = _ROUND_MARGIN):
    """Per-query-column top-k mask over one batch's (rows x queries)
    raw-score matrix. Keeps every row within `margin` of the column's
    k-th largest finite score; -inf marks ineligible rows (self-pairs,
    label mismatches) and is never kept. With `ceiling`, scores fall
    in three bands around it: definitely over (rounds above it
    whatever round-half does — ineligible), ambiguous (within the
    margin — kept, Spark's rounding decides) and definitely under
    (eligible: the normal top-k). Exactness argument: module comment
    above."""
    import numpy as np

    maybe = False
    if ceiling is not None:
        maybe = (s > ceiling - margin) & (s <= ceiling + margin)
        s = np.where(s <= ceiling - margin, s, -np.inf)
    n = s.shape[0]
    finite = np.isfinite(s)
    if n <= k:
        return finite | maybe
    thr = np.partition(s, n - k, axis=0)[n - k]  # k-th largest per column
    # a column with < k finite scores partitions -inf into thr, and
    # `finite` alone decides — every real candidate is kept
    return (finite & (s >= thr[None, :] - margin)) | maybe


def _consolidate_mask(qa, sa, q_ids, k: int, ceiling=None,
                      margin: float = _ROUND_MARGIN):
    """Second-stage prune at partition end over the concatenated
    per-batch survivors (1-D query/score arrays): same margin rule per
    query, so each partition emits ~k (+ tie band) rows per query no
    matter how many Arrow batches it scanned. With `ceiling`, rows in
    the ambiguous band (raw within margin of the ceiling — only Spark's
    rounding may decide their eligibility) are kept unconditionally
    and excluded from the threshold fit, mirroring the batch stage."""
    import numpy as np

    if ceiling is not None:
        maybe = sa > ceiling - margin
        sd = np.where(maybe, -np.inf, sa)
    else:
        maybe = np.zeros(len(sa), dtype=bool)
        sd = sa
    keep = maybe.copy()
    for qid in q_ids:
        idx = np.nonzero(qa == qid)[0]
        sj = sd[idx]
        fin = np.isfinite(sj)
        if int(fin.sum()) <= k:
            keep[idx[fin]] = True
            continue
        thr = np.partition(sj, len(sj) - k)[len(sj) - k]
        keep[idx] = keep[idx] | (sj >= thr - margin)
    return keep


def _prune_partition(batches, q_ids, k: int, ceiling=None):
    """Both prune stages over one partition: `batches` yields
    (cols, s) per Arrow batch — `cols` a tuple of per-row arrays,
    `s` the (rows x queries) raw-score matrix with -inf on ineligible
    cells. Returns (query ids, *cols, raw scores) of the survivors,
    or None for an empty partition."""
    import numpy as np

    cq, cc, cs = [], [], []
    for cols, s in batches:
        ni, qi = np.nonzero(_prune_mask(s, k, ceiling))
        cq.append(q_ids[qi])
        cc.append([c[ni] for c in cols])
        cs.append(s[ni, qi])
    if not cq:
        return None
    qa, sa = np.concatenate(cq), np.concatenate(cs)
    keep = _consolidate_mask(qa, sa, q_ids, k, ceiling=ceiling)
    return (qa[keep], *(np.concatenate(c)[keep] for c in zip(*cc)), sa[keep])


def _cosine_topk_scan(
    corpus: DataFrame, q_ids, q_mat, k: int, q_lab=None, ceiling=None
) -> DataFrame:
    """THE brute-cosine scan kernel: a per-partition BLAS multiply of
    `corpus` (vec_id, embedding[, label]) against the closure query
    block (Arrow-batched mapInPandas; the corpus is scanned once and
    never shuffled). Self pairs are ineligible; with `q_lab`, so is
    every row whose label differs from the query's; with `ceiling`,
    so is every score that rounds above it whatever round-half does
    (the ambiguous band is kept for the caller's rounded filter).
    Each partition emits only its ~k best rows per query
    (margin-pruned, lossless under the final rounded (cos DESC, id
    ASC) order — see _ROUND_MARGIN). Returns (query_id, neighbor_id[,
    label], cos_raw); callers apply their own rounding."""
    import numpy as np
    import pandas as pd

    q_nrm = np.linalg.norm(q_mat, axis=1)
    names = ["query_id", "neighbor_id", "cos_raw"]
    schema = "query_id long, neighbor_id long, cos_raw double"
    if q_lab is not None:
        names.insert(2, "label")
        schema = "query_id long, neighbor_id long, label int, cos_raw double"

    def scored(batches):
        for pdf in batches:
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            nrm = np.linalg.norm(m, axis=1)
            ids = pdf["vec_id"].to_numpy()
            s = (m @ q_mat.T) / (nrm[:, None] * q_nrm[None, :])
            s[ids[:, None] == q_ids[None, :]] = -np.inf  # self
            cols = (ids,)
            if q_lab is not None:
                lab = pdf["label"].to_numpy(dtype=np.int64)
                s[lab[:, None] != q_lab[None, :]] = -np.inf
                cols = (ids, lab.astype("int32"))
            yield cols, s

    def score(batches):
        out = _prune_partition(scored(batches), q_ids, k, ceiling)
        if out is not None:
            yield pd.DataFrame(dict(zip(names, out)))

    return corpus.mapInPandas(score, schema=schema)


# declared in helpers= by every consumer: the kernel's source is part
# of each certified definition
COSINE_KERNEL = (_cosine_topk_scan, _prune_partition, _prune_mask,
                 _consolidate_mask)

BRUTE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {QUERY_FILTER}
      ORDER BY vec_id LIMIT {ANN_QUERY_CAP}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "ann_cosine_topk",
    oracle=BRUTE_ORACLE,
    tags=("similarity", "ann"),
    bench=True,
    doc="Brute-force cosine top-10 for a deterministic query subset — "
    "the exact baseline for the LSH path.",
    helpers=COSINE_KERNEL,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring is _cosine_topk_scan: each partition emits ~k rows per
    query, so the rank window's input is O(k x n_partitions) per query
    instead of corpus-sized. This is the scale shape — on a cluster
    each executor multiplies its corpus slice against the broadcast
    query block and ships back only its local winners."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded collect: deterministic order + LIMIT, never input-proportional
    qrows = (
        emb.where(F.expr(QUERY_FILTER))
        .orderBy("vec_id")
        .limit(ANN_QUERY_CAP)
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    scored = (
        _cosine_topk_scan(emb, q_ids, q_mat, TOP_K)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round("cos_raw", 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
    )


FILTERED_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlab, v AS qv FROM e
      WHERE {QUERY_FILTER} ORDER BY vec_id LIMIT {ANN_QUERY_CAP}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS label,
         round(list_dot_product(q.qv, e.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
  FROM q JOIN e ON e.label = q.qlab AND e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, label, cos_sim, rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "ann_cosine_filtered",
    oracle=FILTERED_ORACLE,
    tags=("similarity", "ann", "filtered", "hybrid"),
    doc="FILTERED (hybrid) vector search: top-10 cosine neighbors "
    "restricted to the query's own label — the metadata-predicate + "
    "vector-similarity combination every production vector store "
    "serves. The label mask applies INSIDE the scoring kernel (rows "
    "failing the predicate never produce candidate triples), so "
    "selective predicates cut the emitted candidate stream "
    "proportionally; with label-partitioned storage the same "
    "predicate becomes partition pruning and cuts the scan itself. "
    "Same bounded query block and scan-once/no-shuffle corpus shape "
    "as ann_cosine_topk.",
    helpers=COSINE_KERNEL,
)
def ann_cosine_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_cosine_topk_scan with the per-query label mask: the query
    block (ids, labels, vectors) ships in the task closure; only
    label-matching (query, neighbor, score) triples are emitted."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    qrows = (
        emb.where(F.expr(QUERY_FILTER))
        .orderBy("vec_id")
        .limit(ANN_QUERY_CAP)
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_lab = np.array([r.label for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    scored = (
        _cosine_topk_scan(emb, q_ids, q_mat, TOP_K, q_lab=q_lab)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "label",
                F.round("cos_raw", 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH ANN
# --------------------------------------------------------------------------

N_PLANES = 24
N_BANDS = 6  # 6 bands x 4 bits (recall-tuned for weakly-similar vectors)
DIM = 64

# The LSH scale lever, as code (VERDICT r4 item 8). Work in the
# band-bucket self-join is sum over buckets of occupancy^2; with bands
# FIXED (the recall knob) and bits/band fixed, expected occupancy is
# corpus / 2^bits — so candidate work grows quadratically with the
# corpus. The documented lever: grow bits/band with the corpus so
# expected occupancy stays <= LSH_TARGET_OCCUPANCY, making bucket work
# ~linear. At every driver/bench SF (<= 2048 vectors at the floor's
# boundary) the formula returns the historical default (4 bits -> 24
# planes), which is the operating point the static DuckDB oracle pins;
# the 10x/30x scale probe engages the lever. Occupancy bound asserted
# at 1x and 10x in tests/test_similarity.py.
LSH_TARGET_OCCUPANCY = 128
LSH_MIN_BITS = 4


def lsh_bits_for(corpus_size: int) -> int:
    """Bits per band so that corpus / 2^bits <= LSH_TARGET_OCCUPANCY,
    floored at the historical 4-bit default."""
    import math

    if corpus_size <= 0:
        return LSH_MIN_BITS
    return max(
        LSH_MIN_BITS, math.ceil(math.log2(corpus_size / LSH_TARGET_OCCUPANCY))
    )


# plane p, dim d -> ±1, from md5 (identical both engines)
_PLANE_SIGN_SPARK = (
    "CASE WHEN substring(md5(concat('p', cast(p as string), ':', "
    "cast(d as string))), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END"
)


def rh_band_keys(emb: DataFrame, n_bands: int, bits: int) -> DataFrame:
    """(vec_id, k, bkey): per-band bucket keys for n_bands bands of
    `bits` hyperplane bits each. Packs bits PER BAND (bkey < 2^bits)
    rather than into one global bigint signature, so bands x bits can
    exceed 63 total planes — the shape the corpus-scaled banding lever
    (lsh_bits_for) needs at real scale. With bits=4, n_bands=6 this
    reproduces the historical 24-plane single-bigint band
    decomposition exactly (plane p = k*bits + j contributes 2^j to
    band k), which is what the static DuckDB oracle pins.

    Narrow plan: explode (vec, dim) once, broadcast-join the plane
    grid, aggregate sign bits back — no shuffle of the raw vectors,
    only (vec_id, k, bkey)."""
    spark = emb.sparkSession
    n_planes = n_bands * bits
    grid = spark.range(n_planes).select(F.col("id").cast("int").alias("p")).crossJoin(
        spark.range(DIM).select((F.col("id") + 1).cast("int").alias("d"))
    ).withColumn("sign", F.expr(_PLANE_SIGN_SPARK))
    comps = (
        emb.select("vec_id", F.posexplode("v").alias("d0", "x"))
        .withColumn("d", F.col("d0") + 1)
        .drop("d0")
    )
    dots = (
        comps.join(F.broadcast(grid), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x") * F.col("sign")).alias("dot"))
    )
    return (
        dots.withColumn("k", (F.col("p") / bits).cast("int"))
        .withColumn("j", F.col("p") % bits)
        .groupBy("vec_id", "k")
        .agg(
            F.sum(
                F.when(
                    F.col("dot") >= 0, F.expr("cast(pow(2, j) as bigint)")
                ).otherwise(F.lit(0))
            ).alias("bkey")
        )
    )


ANN_LSH_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
grid AS (
  SELECT p, d,
         CASE WHEN substring(md5('p' || CAST(p AS VARCHAR) || ':' ||
                CAST(d AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(0, {N_PLANES})) AS p),
       (SELECT unnest(range(1, {DIM} + 1)) AS d)
),
dots AS (
  SELECT e.vec_id, g.p, sum(e.v[g.d] * g.sign) AS dot
  FROM e, grid g GROUP BY e.vec_id, g.p
),
sig AS (
  SELECT vec_id,
         sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS sig
  FROM dots GROUP BY vec_id
),
bands AS (
  SELECT vec_id, k, (sig // CAST(pow(16, k) AS BIGINT)) % 16 AS bkey
  FROM sig, (SELECT unnest(range(0, {N_BANDS})) AS k)
),
q AS (SELECT vec_id AS query_id FROM e WHERE {QUERY_FILTER}),
cand AS (
  SELECT DISTINCT q.query_id, b2.vec_id AS neighbor_id
  FROM q
  JOIN bands b1 ON b1.vec_id = q.query_id
  JOIN bands b2 ON b2.k = b1.k AND b2.bkey = b1.bkey AND b2.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM cand c JOIN e a ON a.vec_id = c.query_id JOIN e b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "ann_lsh_bucketed",
    oracle=ANN_LSH_ORACLE,
    tags=("similarity", "ann", "lsh"),
    bench=True,
    doc="ANN via random-hyperplane LSH: per-band bucket keys -> band "
    "bucket join -> cosine rank of candidates only. Bands are fixed at "
    "6 (the recall knob); bits per band scale with the corpus "
    "(lsh_bits_for) so expected bucket occupancy stays bounded — at "
    "every driver/bench SF the formula returns the historical 4-bit/"
    "24-plane default the oracle pins, and the 10x scale probe engages "
    "the lever. Recall vs the brute-force baseline asserted in "
    "tests/test_similarity.py.",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # metadata-cheap count drives the banding formula; parquet row
    # counts come from footers, no data scan
    bits = lsh_bits_for(emb.count())
    bands = rh_band_keys(emb, N_BANDS, bits)
    q = emb.where(F.expr(QUERY_FILTER)).select(F.col("vec_id").alias("query_id"))
    qb = q.join(bands, q.query_id == bands.vec_id).select("query_id", "k", "bkey")
    cand = (
        qb.join(bands, ["k", "bkey"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    embn = emb.withColumn("nrm", norm_expr("v"))
    qa = embn.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    nb = embn.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"),
        F.col("nrm").alias("nnrm"),
    )
    scored = (
        cand.join(qa, "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr("qv", "nv") / (F.col("qnrm") * F.col("nnrm")), 6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


CENTROID_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
comps AS (
  SELECT label, d, avg(v[d]) AS c
  FROM e, (SELECT unnest(range(1, {DIM} + 1)) AS d)
  GROUP BY label, d
)
SELECT label,
       count(*) AS dim,
       round(sqrt(sum(c * c)), 6) AS centroid_norm
FROM comps GROUP BY label
"""


@register(
    "embedding_centroids",
    oracle=CENTROID_ORACLE,
    tags=("similarity", "vector-agg"),
    doc="Per-label centroid (componentwise mean) and its norm.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    comps = emb.select(
        "label", F.posexplode("v").alias("d0", "x")
    ).withColumn("d", F.col("d0") + 1)
    cents = comps.groupBy("label", "d").agg(F.avg("x").alias("c"))
    return cents.groupBy("label").agg(
        F.count("*").alias("dim"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
    )


# --------------------------------------------------------------------------
# IVF-style ANN: coarse cells -> probe nearest cells -> exact rank inside
# --------------------------------------------------------------------------

N_PROBE = 3

ANN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest(range(1, {DIM} + 1)) AS d),
cents AS (
  SELECT label, d, avg(v[d]) AS c FROM e, dims GROUP BY label, d
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {QUERY_FILTER}
      ORDER BY vec_id LIMIT {ANN_QUERY_CAP}),
qdist AS (
  SELECT q.query_id, c.label,
         round(sum((q.qv[c.d] - c.c) * (q.qv[c.d] - c.c)), 6) AS dist2
  FROM q JOIN cents c ON true
  GROUP BY q.query_id, c.label
),
probed AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           row_number() OVER (
             PARTITION BY query_id ORDER BY dist2, label) AS cell_rank
    FROM qdist
  ) WHERE cell_rank <= {N_PROBE}
),
cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id
  FROM probed p JOIN e ON e.label = p.label
  WHERE e.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM cand c JOIN e a ON a.vec_id = c.query_id JOIN e b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "ann_ivf_probe",
    oracle=ANN_IVF_ORACLE,
    tags=("similarity", "ann", "ivf"),
    bench=True,
    doc="IVF-style ANN: coarse cells (label centroids here; k-means cells "
    "in production), probe the 3 nearest cells per query, exact cosine "
    "rank only inside probed cells — the inverted-file scale path where "
    "scan cost is n_probe/n_cells of the corpus.",
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    comps = emb.select(
        "label", F.posexplode("v").alias("d0", "x")
    ).withColumn("d", F.col("d0") + 1)
    cents = comps.groupBy("label", "d").agg(F.avg("x").alias("c"))

    # ROADMAP #26 (VERDICT r10 weak #2): cap the query block like every
    # brute kernel — the stride filter alone keeps a FRACTION, so probed
    # candidates grew ~quadratically across decades (121.6M rows at
    # 100x, measured); with the cap candidates are O(cap x cell size),
    # constant in the query population (probe: 57 s -> 18.6 s at 100x).
    q = (
        emb.where(F.expr(QUERY_FILTER))
        .orderBy("vec_id")
        .limit(ANN_QUERY_CAP)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    qcomps = q.select(
        "query_id", F.posexplode("qv").alias("d0", "qx")
    ).withColumn("d", F.col("d0") + 1)
    qdist = (
        qcomps.join(F.broadcast(cents), "d")
        .groupBy("query_id", "label")
        .agg(
            F.round(
                F.sum((F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c"))), 6
            ).alias("dist2")
        )
    )
    cw = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("label"))
    probed = (
        qdist.withColumn("cell_rank", F.row_number().over(cw))
        .where(F.col("cell_rank") <= N_PROBE)
        .select("query_id", "label")
    )
    embn = emb.withColumn("nrm", norm_expr("v"))
    cand = (
        F.broadcast(probed)
        .join(embn, "label")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"), F.col("nrm").alias("nnrm"))
    )
    qn = embn.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = cand.join(qn, "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(dot_expr("qv", "nv") / (F.col("qnrm") * F.col("nnrm")), 6).alias(
            "cos_sim"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


def _kmeans_cells_sql(k: int, n_iter: int, dim: int, where: str = "") -> str:
    """Unrolled-SQL replay of the int8 Lloyd fit (operators/kmeans.py
    kmeans_fit_int8): CTEs ending in `q8` (vec_id, qv) and `af`
    (vec_id, cell — the final assignment). Every learned quantity is
    an integer (int8 vectors, bigint distances, floor-division
    centroid updates), so DuckDB reproduces the index bit-for-bit —
    that is what makes hash-certifiable oracles for the iterative
    quantizer's consumers (ann_ivf_kmeans, dedup_embedding_cosine_ivf)
    possible at all. `where` (e.g. " WHERE vec_id % 2 = 0") restricts
    the FIT corpus — the index-append oracle fits on a base split and
    assigns the rest against the frozen centroids; the default empty
    string keeps every existing oracle byte-identical."""
    sql = [
        f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{where}),
q8 AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x / (greatest(list_max(
           list_transform(v, y -> abs(y))), 1e-12) / 127.0), 0) AS BIGINT))
           AS qv
  FROM e
),
dims AS (SELECT unnest(range(1, {dim + 1})) AS d),
comps AS (SELECT vec_id, d, qv[d] AS x FROM q8, dims),
cents0 AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cell, qv AS cv FROM (
    SELECT qv, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q8
  ) WHERE rn <= {k}
)"""
    ]
    prev = "cents0"
    for i in range(1, n_iter + 1):
        sql.append(
            f""",
d{i} AS (
  SELECT q8.vec_id, c.cell,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
           j -> (q8.qv[j] - c.cv[j]) * (q8.qv[j] - c.cv[j]))) AS BIGINT) AS dist2
  FROM q8 CROSS JOIN {prev} c
),
a{i} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM d{i}
  ) WHERE rn = 1
),
s{i} AS (
  SELECT a.cell, c.d, CAST(sum(c.x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM comps c JOIN a{i} a USING (vec_id) GROUP BY a.cell, c.d
),
u{i} AS (
  SELECT cell, list(CAST(floor(s * 1.0 / n) AS BIGINT) ORDER BY d) AS cv
  FROM s{i} GROUP BY cell
),
cents{i} AS (
  SELECT p.cell, coalesce(u.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN u{i} u USING (cell)
)"""
        )
        prev = f"cents{i}"
    sql.append(
        f""",
df AS (
  SELECT q8.vec_id, c.cell,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
           j -> (q8.qv[j] - c.cv[j]) * (q8.qv[j] - c.cv[j]))) AS BIGINT) AS dist2
  FROM q8 CROSS JOIN {prev} c
),
af AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM df
  ) WHERE rn = 1
)"""
    )
    return "".join(sql)


def _ivf_kmeans_oracle(
    k: int, n_iter: int, dim: int, n_probe: int, top_k: int, cap: int
) -> str:
    """The kmeans-cells prefix + the ANN probe/rank tail."""
    prev = f"cents{n_iter}"
    return _kmeans_cells_sql(k, n_iter, dim) + f""",
qq AS (SELECT vec_id AS query_id, qv AS qu FROM q8
       WHERE {QUERY_FILTER} ORDER BY vec_id LIMIT {cap}),
pd AS (
  SELECT qq.query_id, c.cell,
         CAST(list_sum(list_transform(range(1, {dim + 1}),
           j -> (qq.qu[j] - c.cv[j]) * (qq.qu[j] - c.cv[j]))) AS BIGINT) AS dist2
  FROM qq CROSS JOIN {prev} c
),
probed AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (PARTITION BY query_id ORDER BY dist2, cell) AS rn
    FROM pd
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probed p JOIN af a USING (cell) WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) /
               (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE)) *
                sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))), 6) AS cos_q8
  FROM cand c
  JOIN q8 a ON a.vec_id = c.query_id JOIN q8 b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_q8 DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_q8, rank FROM ranked WHERE rank <= {top_k}"""


IVF_KMEANS_K = 8
IVF_KMEANS_ITER = 2

ANN_IVF_KMEANS_ORACLE = _ivf_kmeans_oracle(
    k=IVF_KMEANS_K, n_iter=IVF_KMEANS_ITER, dim=DIM,
    n_probe=N_PROBE, top_k=TOP_K, cap=ANN_QUERY_CAP,
)


from mapreduce_distributed_systems_spark.operators.kmeans import (  # noqa: E402
    # imported HERE, not at module head: kmeans's registrations import
    # this module's DIM/_kmeans_cells_sql at their decoration time, so
    # this import must run after those names exist for both import
    # orders to resolve (helpers= needs the callable at decoration).
    kmeans_fit_int8,
)


def _ivf_build(spark: SparkSession, sf_dir: str):
    """Build the IVF-SQ8 index once: quantized corpus, final cell
    assignment (CARRYING the quantized vector — r14, the same
    assign_carry_int8 one-pass shape ann_ivf_index_append adopted in
    r13, so the probe stage never pays a corpus-sized vec_id join
    back to q8 that re-runs the scan+quantize subtree per consumer),
    and the centroid table. Shared by ann_ivf_kmeans and the
    recall-curve query (which probes the SAME index at several
    n_probe settings — refitting per setting would both waste the
    dominant cost and change the question being asked)."""
    from mapreduce_distributed_systems_spark.operators.kmeans import (
        assign_carry_int8,
        kmeans_fit_int8,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q8 = quantize_int8(emb)
    # cell count scales with the corpus (ivf_k_for, floor k=8) so a
    # fixed n_probe scans ~n_probe x IVF_TARGET_CELL vectors per query
    # regardless of corpus size; n_probe is the recall knob
    # (ann_recall_curve certifies the operating curve). At driver/bench
    # SFs the formula returns the k=8 the static oracles pin.
    n = emb.count()
    cents = kmeans_fit_int8(
        q8, k=ivf_k_for(n), n_iter=IVF_KMEANS_ITER, n=n
    )
    # final assignment with the FINAL centroids so the index and the
    # probe routing agree; qv rides along in the one narrow pass
    assigned = assign_carry_int8(q8, cents)
    cells = spark.createDataFrame(
        [(int(c), [int(x) for x in cents[c]]) for c in range(len(cents))],
        "cell int, cv array<bigint>",
    )
    return q8, assigned, cells


def _ivf_probe_topk(
    q8: DataFrame, assigned: DataFrame, cells: DataFrame, n_probe: int
) -> DataFrame:
    q = (
        q8.where(F.expr(QUERY_FILTER))
        .orderBy("vec_id")
        .limit(ANN_QUERY_CAP)
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qu"))
    )
    qd = q.crossJoin(F.broadcast(cells)).withColumn(
        "dist2",
        F.expr(
            "aggregate(zip_with(qu, cv, (x, y) -> (x - y) * (x - y)), "
            "0L, (a, x) -> a + x)"
        ),
    )
    cw = W.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probed = (
        qd.withColumn("cell_rank", F.row_number().over(cw))
        .where(F.col("cell_rank") <= n_probe)
        .select("query_id", "cell")
    )
    # `assigned` carries qv (assign_carry_int8, r14) — no vec_id join
    # back to q8, which used to re-run the scan+quantize+assign
    # subtree once per probe consumer
    cand = (
        F.broadcast(probed)
        .join(assigned, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("qv").alias("nv"))
    )
    from mapreduce_distributed_systems_spark.functions.vector import int_cosine

    qn = q8.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("qu"))
    scored = cand.join(qn, "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(int_cosine("qu", "nv"), 6).alias("cos_q8"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_q8"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= TOP_K
    )


@register(
    "ann_ivf_kmeans",
    oracle=ANN_IVF_KMEANS_ORACLE,
    tags=("similarity", "ann", "ivf", "kmeans"),
    doc="IVF with a REAL learned coarse quantizer: integer-exact Lloyd "
    "k-means over the int8-quantized corpus (kmeans_fit_int8 — int8 "
    "vectors, bigint distances, floor-division centroid updates); "
    "queries probe the 3 nearest cells by centroid distance, cosine "
    "rank (integer dot products) runs only inside probed cells. The "
    "production IVF-SQ8 shape: build once, then scan n_probe/k of the "
    "corpus at 1/8 the bytes. Every learned quantity is an integer, so "
    "the DuckDB oracle replays the whole pipeline — init, 2 Lloyd "
    "rounds, final assignment, probe, rank — bit-for-bit (round-4 "
    "upgrade from a rows-only to a hash-certified check). Recall floor "
    "vs the float brute force: tests/test_similarity.py.",
    # VERDICT r13 #1c + r14 assign_carry change: the certified
    # behavior lives in these shared helpers
    helpers=(kmeans_fit_int8, _ivf_build, _ivf_probe_topk),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    q8, assigned, cells = _ivf_build(spark, sf_dir)
    return _ivf_probe_topk(q8, assigned, cells, N_PROBE)


# --------------------------------------------------------------------------
# Embedding near-dup blocked by the LEARNED quantizer (round 4):
# dedup_embedding_cosine's docstring promises "at scale the block key
# is an LSH/IVF cell" — this query IS that plan. Pairs form only
# inside a k-means cell (pair work corpus²/k instead of corpus² per
# label), scored with integer dot products over the int8 vectors, and
# because the quantizer is integer-exact the DuckDB oracle replays
# cells + pairs + scores bit-for-bit.
# --------------------------------------------------------------------------

EMB_IVF_COSINE_THRESHOLD = 0.3  # same bar as the label-blocked twin

# The IVF scale lever, same shape as lsh_bits_for (round 5, measured:
# with k FIXED at 8 the 10x probe corpus put 2500 vectors in every
# cell and the in-cell pair join did 25M scored pairs — 251 s vs the
# sub-second 1x number, i.e. corpus^2/k). Cells must grow with the
# corpus so the expected cell SIZE stays constant: pair work becomes
# corpus x IVF_TARGET_CELL / 2 — linear. At every driver/bench SF
# (<= 2000 vectors) the formula returns the historical k=8 the static
# oracle pins; the scale probe engages the lever.
IVF_TARGET_CELL = 250


def ivf_k_for(corpus_size: int) -> int:
    """Cell count keeping expected cell size ~IVF_TARGET_CELL, floored
    at the historical default k=8."""
    return max(IVF_KMEANS_K, -(-corpus_size // IVF_TARGET_CELL))

EMB_IVF_ORACLE = _kmeans_cells_sql(
    k=IVF_KMEANS_K, n_iter=IVF_KMEANS_ITER, dim=DIM
) + f""",
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_dot_product(qa.qv, qb.qv) AS DOUBLE) /
           (sqrt(CAST(list_dot_product(qa.qv, qa.qv) AS DOUBLE)) *
            sqrt(CAST(list_dot_product(qb.qv, qb.qv) AS DOUBLE))) AS cos_q8
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN q8 qa ON qa.vec_id = a.vec_id
  JOIN q8 qb ON qb.vec_id = b.vec_id
)
SELECT vec_a, vec_b, round(cos_q8, 4) AS cos_q8
FROM pairs WHERE round(cos_q8, 6) >= {EMB_IVF_COSINE_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine_ivf",
    oracle=EMB_IVF_ORACLE,
    tags=("dedup", "embedding", "ivf", "kmeans"),
    bench=True,  # round-5: first wall-clock/io record for IVF-blocked dedup
    doc="Embedding near-dup with the LEARNED block key: candidate "
    "pairs form only inside an int8-kmeans cell (the scale path "
    "dedup_embedding_cosine's label blocking stands in for), scored "
    "by integer-dot cosine over the quantized vectors. The "
    "integer-exact quantizer makes the full pipeline — fit, "
    "assignment, cell-blocked pairs, scores — hash-certified by the "
    "DuckDB oracle. Cell count scales with the corpus (ivf_k_for) so "
    "expected cell size — and therefore pair work per vector — stays "
    "constant; at driver/bench SFs the formula returns the k=8 "
    "operating point the static oracle pins.",
    helpers=(kmeans_fit_int8,),  # VERDICT r13 #1c
)
def dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_distributed_systems_spark.operators.kmeans import (
        assign_int8,
        kmeans_fit_int8,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the full-corpus assignment is O(n x k) integer argmin work over
    # COMPACT input (int8 vectors compress ~60x vs the work per row),
    # so the parquet-bytes partitioning starves it: at the 100x probe
    # the ~80 MB scan planned 2 partitions and 10B numpy ops ran on 2
    # cores. Round-robin repartition to defaultParallelism before the
    # mapInPandas — one cheap shuffle of the quantized vectors buys
    # full-width Arrow batches for the compute-bound pass.
    q8 = quantize_int8(emb).repartition(
        spark.sparkContext.defaultParallelism
    )
    # metadata-cheap parquet row count drives the cell-count formula
    # and the fit-sample lever (n passed through: no second count)
    n = emb.count()
    k = ivf_k_for(n)
    cents = kmeans_fit_int8(q8, k=k, n_iter=IVF_KMEANS_ITER, n=n)

    from mapreduce_distributed_systems_spark.operators.kmeans import (
        assign_carry_int8,
    )

    # ONE python pass assigns cells and carries qv through (no
    # corpus-sized join back), cached because the pair stage and its
    # exchange planning both read it — an IVF index is a MATERIALIZED
    # artifact in production, so re-running the O(n x k) assignment
    # per consumer would misrepresent the operator's cost. Then an
    # explicit cell-keyed repartition feeds applyInPandas: the
    # partitioning already satisfies the groupBy requirement (the
    # exchange is elided) and the explicit width is exempt from AQE
    # size-based coalescing, which at the 100x probe had squeezed the
    # pair stage to ONE task (332 s on one core) because the shuffled
    # BYTES are small while the per-row python work is not.
    assigned = assign_carry_int8(q8, cents).cache()
    assigned_p = assigned.repartition(
        spark.sparkContext.defaultParallelism, F.col("cell")
    )

    # Pair scoring is a per-cell Gram matrix, not a per-pair expression
    # join. The round-7 100x probe showed the self-join formulation
    # (int_dot = zip_with + aggregate evaluated once PER PAIR) costing
    # ~10 us/pair in codegen — 25M in-cell pairs put a 300 s floor on
    # the query while the equivalent int64 matmul is ~3 s of BLAS-shape
    # work. applyInPandas groups one cell per pandas frame (cell size
    # is held ~IVF_TARGET_CELL by ivf_k_for, so the Gram matrix is
    # ~250x250); integer dot products are EXACT in int64 matmul and
    # the float cosine applies the same sqrt/multiply/divide ops to
    # the same exact integers, so results — and the DuckDB oracle
    # hash — are bit-identical to the expression-join formulation.
    import numpy as np
    import pandas as pd

    def pair_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_q8": pd.Series(dtype="float64")}
            )
        m = np.array(list(pdf["qv"]), dtype=np.int64)
        dots = m @ m.T  # exact int64 Gram matrix
        nrm = np.sqrt(np.diag(dots).astype(np.float64))
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = dots[iu, ju].astype(np.float64) / (nrm[iu] * nrm[ju])
        a, b = ids[iu], ids[ju]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cos_q8": cos,
            }
        )

    pairs = assigned_p.groupBy("cell").applyInPandas(
        pair_cell, schema="vec_a long, vec_b long, cos_q8 double"
    )
    return pairs.where(F.round("cos_q8", 6) >= EMB_IVF_COSINE_THRESHOLD).select(
        "vec_a", "vec_b", F.round("cos_q8", 4).alias("cos_q8")
    )


# --------------------------------------------------------------------------
# Recall-vs-n_probe operating curve (round 5; r11 absorbs the former
# ann_recall_at_k per the registry ceiling note — the curve IS the
# at-k measurement swept over n_probe, so the sweep now includes the
# DEPLOYED operating point N_PROBE=3 and the separate per-query query
# retired, freeing a registry slot). The dial an IVF deployment
# actually turns: one shared index build, probed at n_probe ∈
# {1, 2, 3, 4}; each setting's hits against the brute-force baseline
# aggregate to a single (n_probe, recall) row, so the
# recall/scan-fraction trade is a CERTIFIED result, not a prose claim.
# At 100 TB nobody can eyeball whether the ANN index is still good —
# the recall measurement itself must be a first-class, oracle-checked
# pipeline stage (the number a production index rollout gates on).
# --------------------------------------------------------------------------

# sorted-set so a retune of N_PROBE into {1, 2, 4} cannot produce
# duplicate (n_probe, recall) rows in the query or its oracle
RECALL_CURVE_PROBES = tuple(sorted({1, 2, N_PROBE, 4}))


def _recall_curve_oracle() -> str:
    ivf_ctes = ",\n".join(
        f"ivf{np} AS ({_ivf_kmeans_oracle(k=IVF_KMEANS_K, n_iter=IVF_KMEANS_ITER, dim=DIM, n_probe=np, top_k=TOP_K, cap=ANN_QUERY_CAP)})"
        for np in RECALL_CURVE_PROBES
    )
    blocks = "\nUNION ALL\n".join(
        f"""SELECT CAST({np} AS BIGINT) AS n_probe,
       CAST(count(DISTINCT b.query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_brute_pairs,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
       round(count(i.neighbor_id) * 1.0 / count(*), 4) AS recall
FROM brute b
LEFT JOIN ivf{np} i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id"""
        for np in RECALL_CURVE_PROBES
    )
    return f"WITH brute AS ({BRUTE_ORACLE}),\n{ivf_ctes}\n{blocks}"


ANN_RECALL_CURVE_ORACLE = _recall_curve_oracle()


@register(
    "ann_recall_curve",
    oracle=ANN_RECALL_CURVE_ORACLE,
    tags=("similarity", "ann", "ivf", "quality"),
    doc="IVF recall-vs-n_probe operating curve: the SAME learned index "
    "probed at n_probe in {1, 2, 4}, each setting's top-k compared "
    "against the brute-force baseline and aggregated to one "
    "(n_probe, recall) row. Certifies the dial a deployment turns — "
    "scan n_probe/k of the corpus, get this recall — end-to-end in "
    "both engines (the oracle replays the fit once per CTE with "
    "identical integer arithmetic, so all three probes see the same "
    "centroids).",
    helpers=(kmeans_fit_int8, _ivf_build, _ivf_probe_topk),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    brute = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    q8, assigned, cells = _ivf_build(spark, sf_dir)
    parts = []
    for np_ in RECALL_CURVE_PROBES:
        ivf = _ivf_probe_topk(q8, assigned, cells, np_).select(
            "query_id", "neighbor_id", F.lit(1).alias("_hit")
        )
        parts.append(
            brute.join(ivf, ["query_id", "neighbor_id"], "left")
            .agg(
                F.countDistinct("query_id").cast("long").alias("n_queries"),
                F.count("*").cast("long").alias("n_brute_pairs"),
                F.count("_hit").cast("long").alias("n_hits"),
                F.round(F.count("_hit") / F.count("*"), 4).alias("recall"),
            )
            .select(F.lit(np_).cast("long").alias("n_probe"), "*")
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive / retrieval training data): per
# query, the top-k most-similar neighbors BELOW a near-duplicate
# ceiling. The ceiling is what distinguishes this from plain top-k —
# a near-dup of the anchor is a false negative that poisons a
# contrastive batch (it gets pushed away from its own paraphrase), so
# the miner must EXCLUDE the near-dup band it would otherwise rank
# first. Exact duplicates of the query block are PLANTED (bounded:
# one per query, id-shifted by a broadcast max(vec_id)+1 scalar — the
# established plant pattern) so the exclusion branch certifies
# non-vacuously on a corpus with no natural >ceiling pairs.
# --------------------------------------------------------------------------

HARD_NEG_CEILING = 0.95

HARD_NEG_ORACLE = f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sh AS (SELECT max(vec_id) + 1 AS s FROM e0),
q0 AS (SELECT vec_id AS query_id, v AS qv FROM e0 WHERE {QUERY_FILTER}
       ORDER BY vec_id LIMIT {ANN_QUERY_CAP}),
e AS (
  SELECT vec_id, v FROM e0
  UNION ALL
  SELECT q0.query_id + sh.s AS vec_id, q0.qv AS v FROM q0 CROSS JOIN sh
),
scored AS (
  SELECT q0.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q0.qv, e.v) /
               (sqrt(list_dot_product(q0.qv, q0.qv)) *
                sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
  FROM q0 JOIN e ON e.vec_id <> q0.query_id
),
negs AS (SELECT * FROM scored WHERE cos_sim <= {HARD_NEG_CEILING}),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT)
    AS rank
  FROM negs
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {TOP_K}
"""


@register(
    "ann_hard_negatives",
    oracle=HARD_NEG_ORACLE,
    tags=("similarity", "ann", "training"),
    doc=f"Hard-negative mining for contrastive/retrieval training: per "
    f"query, the top-{TOP_K} most-similar neighbors at or below the "
    f"near-duplicate ceiling ({HARD_NEG_CEILING} cosine) — the "
    "highest-value negatives that are still not paraphrases of the "
    "anchor. Same scale shape as ann_cosine_topk (per-partition BLAS "
    "mapInPandas, corpus never shuffled, bounded query block in the "
    "task closure) plus the ceiling filter BEFORE the rank window; "
    "planted exact duplicates of every query certify the exclusion "
    "branch non-vacuously. At 100 TB the brute scan swaps for the IVF "
    "index probe with the same ceiling-then-rank tail.",
    helpers=COSINE_KERNEL,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shift = emb.agg(F.max("vec_id")).collect()[0][0] + 1  # broadcast scalar
    qrows = (
        emb.where(F.expr(QUERY_FILTER))
        .orderBy("vec_id")
        .limit(ANN_QUERY_CAP)
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    planted = spark.createDataFrame(
        [(int(r.vec_id + shift), list(map(float, r.embedding))) for r in qrows],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(planted)
    scored = (
        _cosine_topk_scan(corpus, q_ids, q_mat, TOP_K,
                          ceiling=HARD_NEG_CEILING)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round("cos_raw", 6).alias("cos_sim"))
        .where(F.col("cos_sim") <= F.lit(HARD_NEG_CEILING))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= TOP_K)
