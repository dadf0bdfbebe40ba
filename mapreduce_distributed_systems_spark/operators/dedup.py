"""Deduplication operators for large-scale training-data pipelines
(north star, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine — each a Catalyst-optimizable DataFrame plan
with a DuckDB oracle.

Every hash used is md5 (identical lowercase hex in Spark and DuckDB),
so oracles reproduce the exact candidate sets — no engine-specific
hash functions anywhere.

Scale design (100 TB):
- exact dedup groups on md5(text) (16-byte shuffle key), never on the
  full text;
- MinHash/LSH shuffles only (doc_id, 8 integer minhash slices) + band
  keys — the classic shingle→signature→band→bucket-join pipeline; the
  shingle string never leaves the map stage (signatures aggregate off
  the raw hashed stream; verification joins carry an 8-byte sid);
- SimHash shuffles a single 16-bit signature (production: 64-bit, same
  plan) and bucket-joins on signature nibbles;
- embedding near-dup blocks on a coarse key (label here; at scale an
  LSH/IVF cell id) so the pair join is per-block, never a full cross
  join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

EXACT_ORACLE = """
SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


@register(
    "dedup_exact",
    oracle=EXACT_ORACLE,
    tags=("dedup",),
    doc="Exact dedup: keep min doc_id per identical text. Shuffles on "
    "md5(text) — a 16-byte key — never on the full document body. "
    "Note the asymmetry vs the oracle: Spark groups the digest while "
    "the DuckDB oracle groups the raw text, so an md5 collision "
    "between two DIFFERENT texts would merge groups here and diverge "
    "from the oracle. At ~2^-64 per pair that is not a practical "
    "concern, but the certification story is 'collision-free in "
    "practice', not 'symmetric by construction'.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .select("keeper_doc_id", "n_copies")
    )


EXACT_HASH_ORACLE = """
WITH g AS (
  SELECT md5(text) AS h, count(*) AS c
  FROM documents GROUP BY md5(text)
)
SELECT CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_distinct_texts,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM g
"""


@register(
    "dedup_exact_hash",
    oracle=EXACT_HASH_ORACLE,
    tags=("dedup",),
    bench=True,
    doc="Exact-dedup corpus summary: group on md5(text) (16-byte shuffle "
    "key, never the full text), then collapse to ONE row "
    "(n_docs, n_distinct_texts, n_dup_groups, n_dup_docs). Always "
    "emits exactly one row, so the driver CORRECTNESS signal is never "
    "0-row-vacuous on dup-free corpora (round-2 verdict item 7); the "
    "per-group duplicate listing lives in dedup_exact_normalized.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select(F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("c"))
    )
    dup = F.col("c") > 1
    return groups.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_distinct_texts"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
        F.sum(F.when(dup, F.col("c")).otherwise(0)).cast("long").alias("n_dup_docs"),
    )


# Normalization dedup: the sf0.01 corpus has no byte-identical texts,
# so a HAVING count>1 query over it certifies nothing. To exercise the
# duplicate branch with real rows at ANY scale, the query plants
# deterministic variants — every doc_id % 7 == 0 contributes a second
# copy (doc_id + max(doc_id) + 1: disjoint from AND larger than every
# genuine id at any corpus scale, so min() still keeps the original;
# a fixed additive constant would collide once ids outgrow it) whose
# text is upper-cased and
# whitespace-padded — then dedups on the normalized form
# lower(single-spaced(trim(text))). The planting is identical in the
# Spark plan and the DuckDB oracle, so the match certifies the
# normalization + grouping logic end-to-end. Normalization-before-hash
# is a real LLM-pipeline operator (casefold/whitespace variants are the
# most common boilerplate near-dups in web corpora).
EXACT_NORM_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
         '  ' || upper(text) || '   '
  FROM documents WHERE doc_id % 7 = 0
),
norm AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM corpus
)
SELECT h AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM norm GROUP BY h HAVING count(*) > 1
"""


@register(
    "dedup_exact_normalized",
    oracle=EXACT_NORM_ORACLE,
    tags=("dedup",),
    doc="Normalization dedup: casefold + whitespace-collapse + trim "
    "before md5, so case/spacing variants of the same text collapse "
    "to one group. Deterministic planted variants (docs with "
    "doc_id % 7 == 0 re-enter upper-cased and padded) guarantee the "
    "duplicate branch emits rows at any sf — the round-2 driver "
    "signal for exact dedup matched on 0 rows. Same 16-byte-hash "
    "shuffle key as dedup_exact_hash.",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shift = docs.agg((F.max("doc_id") + F.lit(1)).alias("_s"))
    planted = (
        docs.where(F.col("doc_id") % 7 == 0)
        .crossJoin(F.broadcast(shift))
        .select(
            (F.col("doc_id") + F.col("_s")).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit("   ")).alias("text"),
        )
    )
    corpus = docs.unionByName(planted)
    norm_hash = F.md5(
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    )
    return (
        corpus.select("doc_id", norm_hash.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

N_PERMS = 8  # 8 md5-seeded "permutations", 4 bands x 2 rows
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5

# Hot-bucket cap: the 100 TB hazard of LSH is boilerplate text (license
# headers, nav chrome) collapsing millions of docs into one (band, key)
# bucket, turning the "bucketed" self-join quadratic on that bucket.
# Buckets above the cap are dropped BEFORE the self-join (count +
# filter), bounding any bucket's pair count at cap^2; the same cap is
# applied in every DuckDB oracle so parity holds, and
# `dedup_lsh_bucket_stats` reports per-band bucket sizes + drop counts
# so the loss is observable, not silent.
LSH_BUCKET_CAP = 32


def shingles_raw(docs: DataFrame) -> DataFrame:
    """(doc_id, 3-word shingle) pairs WITH duplicates — a narrow
    explode, no shuffle. Sufficient for the signature path: a min
    aggregate over a multiset equals the min over its set, so MinHash
    signatures never need the distinct. Use shingle_table (below) only
    where set semantics matter (sizes, exact-Jaccard intersections)."""
    return token_shingles(docs.select("doc_id", words("text").alias("toks")))


def token_shingles(toked: DataFrame) -> DataFrame:
    """shingles_raw over an already-tokenized (doc_id, toks) frame,
    `toks` being the `words` array of the text. The tokens-in entry
    point for callers that hold that array anyway (the pipeline's
    quality gate computes it), so the text is split once."""
    toks = toked.select("doc_id", F.col("toks").alias("t")).where(
        F.size("t") >= SHINGLE_K
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2), i -> "
                "concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
                "element_at(t, i + 2)))"
            )
        ).alias("shingle"),
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, 3-word shingle) pairs (one shuffle). Only for
    consumers that need the shingle STRING (e.g. the fixed-budget
    brute-force dedup_ngram_jaccard); the production LSH path uses
    shingle_hashes / shingle_id_table below, which never shuffle the
    string."""
    return shingles_raw(docs).dropDuplicates(["doc_id", "shingle"])


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h = md5(shingle)) WITH duplicates — still a narrow
    explode. The hash is taken in the map stage, so nothing downstream
    ever shuffles, groups, or joins on the shingle string itself."""
    return token_shingle_hashes(docs.select("doc_id", words("text").alias("toks")))


def token_shingle_hashes(toked: DataFrame) -> DataFrame:
    """shingle_hashes from an already-tokenized (doc_id, toks) frame
    (see token_shingles): the same (doc_id, h) multiset as
    shingle_hashes over the text the tokens came from."""
    return token_shingles(toked).select("doc_id", F.md5("shingle").alias("h"))


# 60-bit shingle id: integer value of the first 15 hex chars of
# md5(shingle). Re-keys the exact-Jaccard verification stages from the
# shingle string (~17 bytes avg + string hashing per join probe) to a
# fixed 8-byte long (round 5, ROADMAP item 1). md5 is identical in
# Spark and DuckDB, so both engines derive the same ids — a collision
# would merge the same shingle pair in both, keeping parity exact
# rather than approximate (at 2^-60 per pair it is also never
# expected to occur).
_SID_SPARK = "cast(conv(substring(h, 1, 15), 16, 10) as bigint)"
SID_DUCK = "('0x' || substring(md5(shingle), 1, 15))::BIGINT"


def shingle_ids_from_hashes(hashed: DataFrame) -> DataFrame:
    """Distinct (doc_id, sid) from a shingle_hashes stream — also the
    incremental entry point: a persisted signature store holds exactly
    this hashed stream, so (store ∪ new-batch hashes) re-derives the
    same table the full run builds."""
    return (
        hashed.select("doc_id", F.expr(_SID_SPARK).alias("sid"))
        .dropDuplicates(["doc_id", "sid"])
    )


def shingle_id_table(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, sid) pairs — the 8-byte re-key of
    shingle_table. One shuffle of 16 bytes/row; set cardinalities and
    intersections over sid equal those over the shingle strings."""
    return shingle_ids_from_hashes(shingle_hashes(docs))


def minhash_signatures(hashed: DataFrame) -> DataFrame:
    """8 'permutations' = the 8 disjoint 4-hex-char (16-bit) slices of
    ONE md5 per shingle — one hash computation per row instead of
    eight, with independent bits per slice. Input is shingle_hashes
    output (doc_id, h) WITH duplicates: min over a multiset == min
    over its set, so the signature path never pays a distinct shuffle
    — the groupBy's map-side partial mins collapse each partition to
    one row per doc before any data moves.

    Slices are INTEGER-valued (round 5): min over a string column
    cannot live in a mutable hash-agg buffer, so string slices forced
    this groupBy into SortAggregate — a full per-partition sort of the
    exploded shingle stream, the dominant cost of the signature stage
    at scale. Fixed-width hex compares lexicographically exactly as it
    does numerically, so the integer mins are the same permutation
    minima and candidates are unchanged; DuckDB mirrors with
    ('0x' || slice)::BIGINT."""
    aggs = [
        F.min(
            F.expr(f"cast(conv(substring(h, {4 * i + 1}, 4), 16, 10) as bigint)")
        ).alias(f"h{i}")
        for i in range(N_PERMS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): each signature exploded into its 4 band
    keys. bkey packs the band's two 16-bit slices into one long
    (h_even * 2^16 + h_odd) — the integer twin of concatenating the
    fixed-width hex slices, so band-bucket membership is unchanged."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col(f"h{2 * b}") * F.lit(65536)
                            + F.col(f"h{2 * b + 1}")
                        ).alias("bkey"),
                    )
                    for b in range(N_PERMS // 2)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Candidate pairs per band bucket, with buckets above
    LSH_BUCKET_CAP dropped (hot-bucket guard).

    Formulated WITHOUT a self-join (round 5): a bucket self-join
    recomputes the whole signature pipeline for its second input —
    the executed 10x profile showed the explode+md5+min-agg running
    twice, and neither broadcast nor sort-merge planning reuses the
    subplan. Instead, ONE shuffle on (band, bkey) serves both the cap
    (window count) and a collect_list of each bucket's doc_ids — the
    cap bounds every list at LSH_BUCKET_CAP, so the array is
    executor-safe by construction — and a narrow nested-transform
    explode emits each bucket's ordered pairs. Same candidate set,
    half the upstream work, and the only remaining exchanges are the
    band shuffle and the final pair distinct."""
    from pyspark.sql import Window as W

    bands = lsh_bands(sig)
    kept = (
        bands.withColumn("bn", F.count("*").over(W.partitionBy("band", "bkey")))
        .where(F.col("bn") <= LSH_BUCKET_CAP)
        .drop("bn")
    )
    buckets = kept.groupBy("band", "bkey").agg(
        F.collect_list("doc_id").alias("ids")
    )
    pairs = F.expr(
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(slice(ids, i + 1, size(ids) - i), y -> "
        "struct(least(element_at(ids, i), y) as doc_a, "
        "greatest(element_at(ids, i), y) as doc_b))))"
    )
    return (
        buckets.where(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


MINHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
),
shraw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, {SID_DUCK} AS sid FROM shraw
),
mh AS (
  SELECT doc_id,
         {', '.join(f"min(('0x' || substring(md5(shingle), {4 * i + 1}, 4))::BIGINT) AS h{i}" for i in range(N_PERMS))}
  FROM shraw GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         CASE band WHEN 0 THEN h0 * 65536 + h1 WHEN 1 THEN h2 * 65536 + h3
                   WHEN 2 THEN h4 * 65536 + h5 ELSE h6 * 65536 + h7 END AS bkey
  FROM mh, (SELECT unnest([0, 1, 2, 3]) AS band)
),
small_buckets AS (
  SELECT band, bkey FROM bands GROUP BY band, bkey
  HAVING count(*) <= {LSH_BUCKET_CAP}
),
kept_bands AS (
  SELECT b.* FROM bands b JOIN small_buckets s
    ON s.band = b.band AND s.bkey = b.bkey
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept_bands a JOIN kept_bands b ON a.band = b.band AND a.bkey = b.bkey
                           AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sid = sa.sid
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_minhash_lsh",
    oracle=MINHASH_ORACLE,
    tags=("dedup", "lsh"),
    bench=True,
    doc="Near-dup text dedup: shingle -> 8-perm MinHash -> 4-band LSH "
    "bucket join -> exact-Jaccard verification of candidates.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # signature path straight off the raw shingle stream (no distinct);
    # verification joins re-keyed to the 8-byte sid — the cached table
    # is two longs per row instead of (doc_id, shingle string)
    cand = lsh_candidates(minhash_signatures(shingle_hashes(docs)))
    sh = shingle_id_table(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sid")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash estimator calibration (round 4): the point of MinHash at
# 100 TB is replacing the exact-Jaccard verification join (which must
# re-shuffle shingles for every candidate pair) with the signature
# estimate est = (#matching perms)/8, which is FREE once signatures
# exist. This query certifies that trade quantitatively: per candidate
# pair, the estimate next to the exact value and the absolute error —
# multi-row, deterministic (est is an exact multiple of 0.125; the
# exact side reuses the integer intersection counts), fully
# SQL-mirrored.
# --------------------------------------------------------------------------

MINHASH_EST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
),
shraw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, {SID_DUCK} AS sid FROM shraw
),
mh AS (
  SELECT doc_id,
         {', '.join(f"min(('0x' || substring(md5(shingle), {4 * i + 1}, 4))::BIGINT) AS h{i}" for i in range(N_PERMS))}
  FROM shraw GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         CASE band WHEN 0 THEN h0 * 65536 + h1 WHEN 1 THEN h2 * 65536 + h3
                   WHEN 2 THEN h4 * 65536 + h5 ELSE h6 * 65536 + h7 END AS bkey
  FROM mh, (SELECT unnest([0, 1, 2, 3]) AS band)
),
small_buckets AS (
  SELECT band, bkey FROM bands GROUP BY band, bkey
  HAVING count(*) <= {LSH_BUCKET_CAP}
),
kept_bands AS (
  SELECT b.* FROM bands b JOIN small_buckets s
    ON s.band = b.band AND s.bkey = b.bkey
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept_bands a JOIN kept_bands b ON a.band = b.band AND a.bkey = b.bkey
                           AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({' + '.join(f"CASE WHEN ma.h{i} = mb.h{i} THEN 1 ELSE 0 END" for i in range(N_PERMS))})
           / CAST({N_PERMS} AS DOUBLE) AS est_jaccard
  FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a JOIN mh mb ON mb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sid = sa.sid
  GROUP BY c.doc_a, c.doc_b
),
exact AS (
  SELECT c.doc_a, c.doc_b,
         round(CAST(coalesce(i.i, 0) AS DOUBLE)
               / (na.n + nb.n - coalesce(i.i, 0)), 4) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes na ON na.doc_id = c.doc_a
  JOIN sizes nb ON nb.doc_id = c.doc_b
)
SELECT e.doc_a, e.doc_b, e.est_jaccard, x.jaccard,
       round(abs(e.est_jaccard - x.jaccard), 4) AS abs_err
FROM est e JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
"""


@register(
    "dedup_minhash_estimate",
    oracle=MINHASH_EST_ORACLE,
    tags=("dedup", "lsh", "estimator"),
    doc="MinHash estimator calibration: for every LSH candidate pair, "
    "the signature-based Jaccard estimate (#matching perms / 8 — the "
    "verification-free scale path) next to the exact shingle-set "
    "Jaccard and the absolute error. Certifies the estimator the "
    "100 TB pipeline would rely on instead of the exact join.",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Deliberately NOT cached (ADVICE r4): persisted blocks outlive the
    # query in the long-lived driver/bench session, and — the subtler
    # hazard, observed in-repo — a cached subplan substitutes into ANY
    # later query that builds the same analyzed plan, silently changing
    # its physical shape (dedup_lsh_bucket_stats shares this signature
    # subplan and its pinned exchange count moved when this was
    # cached). The estimator is a calibration query; its production
    # sibling dedup_minhash_lsh owns the optimized path.
    sh = shingle_id_table(docs)
    sig = minhash_signatures(shingle_hashes(docs))
    cand = lsh_candidates(sig)
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    )
    est = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(float(N_PERMS))).alias("est_jaccard"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sid")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    exact = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
                4,
            ).alias("jaccard"),
        )
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 4).alias("abs_err"),
    )


LSH_STATS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
  FROM toks WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id,
         {', '.join(f"min(('0x' || substring(md5(shingle), {4 * i + 1}, 4))::BIGINT) AS h{i}" for i in range(N_PERMS))}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         CASE band WHEN 0 THEN h0 * 65536 + h1 WHEN 1 THEN h2 * 65536 + h3
                   WHEN 2 THEN h4 * 65536 + h5 ELSE h6 * 65536 + h7 END AS bkey
  FROM mh, (SELECT unnest([0, 1, 2, 3]) AS band)
),
bsizes AS (SELECT band, bkey, count(*) AS bn FROM bands GROUP BY band, bkey)
SELECT CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(bn) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN bn > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_buckets,
       CAST(sum(CASE WHEN bn > {LSH_BUCKET_CAP} THEN bn ELSE 0 END) AS BIGINT)
         AS n_dropped_docs
FROM bsizes GROUP BY band
"""


@register(
    "dedup_lsh_bucket_stats",
    oracle=LSH_STATS_ORACLE,
    tags=("dedup", "lsh", "diagnostics"),
    doc="Per-band LSH bucket histogram + hot-bucket drop accounting: "
    "how many (band, key) buckets exceed LSH_BUCKET_CAP and how many "
    "docs the cap excludes from the pair join. Makes the cap's loss "
    "observable instead of silent.",
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # signatures-only path: no distinct shuffle (min over a multiset ==
    # min over the set, so the signatures — and this histogram — are
    # identical; round-4, ROADMAP item 1)
    bands = lsh_bands(minhash_signatures(shingle_hashes(docs)))
    bsz = bands.groupBy("band", "bkey").agg(F.count("*").alias("bn"))
    over = F.col("bn") > LSH_BUCKET_CAP
    return bsz.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("bn").alias("max_bucket"),
        F.sum(over.cast("long")).alias("n_dropped_buckets"),
        F.sum(F.when(over, F.col("bn")).otherwise(F.lit(0))).alias("n_dropped_docs"),
    ).select(
        F.col("band").cast("long").alias("band"),
        "n_buckets",
        "max_bucket",
        "n_dropped_buckets",
        "n_dropped_docs",
    )


# --------------------------------------------------------------------------
# SimHash near-dup
# --------------------------------------------------------------------------

SIMHASH_BITS = 16  # production: 64-bit, identical plan
HAMMING_MAX = 2

# hex digit value of md5 prefix, portable across both engines
_SPARK_HEXVAL = (
    "(instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096 + "
    "(instr('0123456789abcdef', substring(h, 2, 1)) - 1) * 256 + "
    "(instr('0123456789abcdef', substring(h, 3, 1)) - 1) * 16 + "
    "(instr('0123456789abcdef', substring(h, 4, 1)) - 1)"
)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    tok_w = (
        docs.select("doc_id", F.explode(words("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
        .withColumn("h", F.md5("tok"))
        .withColumn("val", F.expr(_SPARK_HEXVAL))
    )
    bits = tok_w.select(
        "doc_id",
        "w",
        "val",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    )
    contrib = bits.groupBy("doc_id", "bit").agg(
        F.sum(
            F.when(
                F.expr("(val div cast(pow(2, bit) as bigint)) % 2 = 1"), F.col("w")
            ).otherwise(-F.col("w"))
        ).alias("c")
    )
    return contrib.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("c") > 0, F.expr("cast(pow(2, bit) as bigint)")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


SIMHASH_ORACLE = f"""
WITH tok_w AS (
  SELECT doc_id, tok, count(*) AS w, md5(tok) AS h
  FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
  GROUP BY doc_id, tok
),
vals AS (
  SELECT doc_id, w,
         (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 4096 +
         (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) * 256 +
         (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16 +
         (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) AS val
  FROM tok_w
),
contrib AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (val // CAST(pow(2, bit) AS BIGINT)) % 2 = 1
                  THEN w ELSE -w END) AS c
  FROM vals, (SELECT unnest(range(0, {SIMHASH_BITS})) AS bit)
  GROUP BY doc_id, bit
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN c > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS simhash
  FROM contrib GROUP BY doc_id
),
nibbles AS (
  SELECT doc_id, simhash, k, (simhash // CAST(pow(16, k) AS BIGINT)) % 16 AS nib
  FROM sig, (SELECT unnest(range(0, {SIMHASH_BITS // 4})) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM nibbles a JOIN nibbles b
    ON a.k = b.k AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
"""


@register(
    "dedup_simhash",
    oracle=SIMHASH_ORACLE,
    tags=("dedup", "simhash"),
    doc="SimHash near-dup: weighted 16-bit signature, nibble-band bucket "
    "join, hamming-distance filter.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cached for the same reason as dedup_simhash64: the nibble
    # self-join's second input would recompute the token pipeline
    sig = simhash_signatures(load_table(spark, sf_dir, "documents")).cache()
    nib = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS // 4 - 1))).alias("k"),
    ).withColumn("nib", F.expr("(simhash div cast(pow(16, k) as bigint)) % 16"))
    a, b = nib.alias("a"), nib.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("cast(bit_count(sim_a ^ sim_b) as bigint)"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact, on a deterministic sample)
# --------------------------------------------------------------------------

# Fixed ROW budget, not a fraction: the brute-force pair join is
# O(budget^2) = O(const) at ANY corpus size, where a % sample of
# 100 TB would still be terabytes. Content-addressed (smallest K by
# md5(doc_id)) so the sample is reproducible and partition-stable.
NGRAM_SAMPLE_BUDGET = 32

NGRAM_ORACLE = f"""
WITH sample_docs AS (
  SELECT * FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {NGRAM_SAMPLE_BUDGET}
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), x -> x <> '') AS t
  FROM sample_docs
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS i
  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(coalesce(i.i, 0) AS DOUBLE) / (a.n + b.n - coalesce(i.i, 0)), 4)
         AS jaccard
FROM sizes a
JOIN sizes b ON a.doc_id < b.doc_id
LEFT JOIN inter i ON i.doc_a = a.doc_id AND i.doc_b = b.doc_id
"""


@register(
    "dedup_ngram_jaccard",
    oracle=NGRAM_ORACLE,
    tags=("dedup", "ngram"),
    doc="Exact 3-gram Jaccard over all pairs of a FIXED-SIZE "
    f"content-addressed sample ({NGRAM_SAMPLE_BUDGET} docs by smallest "
    "md5(doc_id) — TakeOrderedAndProject, no full sort). The pair join "
    "is O(budget^2) = constant at any corpus size; this is the "
    "brute-force ground truth the LSH path approximates.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(NGRAM_SAMPLE_BUDGET)
    )
    sh = shingle_table(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n")).cache()
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        sizes.alias("x")
        .join(sizes.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
    )
    jac = F.coalesce(F.col("i"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))
    )
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (label-blocked)
# --------------------------------------------------------------------------

COSINE_THRESHOLD = 0.3  # synthetic embeddings top out ~0.47 within label

EMB_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos_sim, 4) AS cos_sim
FROM pairs WHERE round(cos_sim, 6) >= {COSINE_THRESHOLD}
"""


def dot_expr(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0d, (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> F.Column:
    return F.sqrt(dot_expr(a, a))


@register(
    "dedup_embedding_cosine",
    oracle=EMB_ORACLE,
    tags=("dedup", "embedding"),
    doc="Embedding near-dup: label-blocked pair join + cosine threshold "
    "(at scale the block key is an LSH/IVF cell, same plan).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", norm_expr("v"))
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (dot_expr("a.v", "b.v") / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
    )
    return pairs.where(F.round("cos_sim", 6) >= COSINE_THRESHOLD).select(
        "vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim")
    )
