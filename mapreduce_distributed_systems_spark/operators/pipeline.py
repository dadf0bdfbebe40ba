"""End-to-end training-data cleaning pipeline (north star synthesis):

    raw documents
      -> quality gate (length / token-count / type-token-ratio)
      -> exact dedup        (keep min doc_id per identical text)
      -> near-dup removal   (MinHash-LSH pairs, drop the higher doc_id)
      -> corpus stats per source (docs kept, tokens, chars)

One declarative plan: a corpus that scans as fewer partitions than
cores (one parquet row group is one task) is first hash-spread on
doc_id (sources.spread_partitions) so the per-document text work runs
on every core; the text is tokenized once, by the quality gate, and
the dedup stages shingle that token array through the
shingle/signature pipeline from operators/dedup.py. Past the spread,
the only shuffles are the two dedup groupings plus the final
per-source aggregate. This is the composition a 100 TB
pretraining-corpus job actually runs; every stage is the tested
operator, and the whole pipeline is oracle-checked end-to-end.

Also here: `wc_mr_facade` — the reference's word count executed through
the RDD map_reduce facade (closures pickled by value), gated against
the SAME oracle as the DataFrame `wc`, so the facade itself sits inside
the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    LSH_BUCKET_CAP,
    SID_DUCK,
    lsh_candidates,
    minhash_signatures,
    shingle_hashes,
    shingle_ids_from_hashes,
    token_shingle_hashes,
)
from mapreduce_distributed_systems_spark.operators.wordcount import WC_ORACLE
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table, spread_partitions

MIN_TOKENS = 50
MIN_TTR = 0.05

PIPELINE_ORACLE = f"""
WITH quality AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'), x -> x <> '') AS toks
  FROM documents
),
gated AS (
  SELECT doc_id, source, text, toks
  FROM quality
  WHERE len(toks) >= {MIN_TOKENS}
    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= {MIN_TTR}
),
exact_kept AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY text
),
kept AS (
  SELECT g.* FROM gated g JOIN exact_kept k ON g.doc_id = k.doc_id
),
shraw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingle
  FROM kept WHERE len(toks) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, {SID_DUCK} AS sid FROM shraw
),
mh AS (
  SELECT doc_id,
         {', '.join(f"min(('0x' || substring(md5(shingle), {4 * i + 1}, 4))::BIGINT) AS h{i}" for i in range(8))}
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
near_dups AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN sizes na ON na.doc_id = c.doc_a
  JOIN sizes nb ON nb.doc_id = c.doc_b
  JOIN (
    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS i
    FROM sh sa JOIN sh sb ON sa.sid = sb.sid AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
  ) x ON x.doc_a = c.doc_a AND x.doc_b = c.doc_b
  WHERE CAST(x.i AS DOUBLE) / (na.n + nb.n - x.i) >= {JACCARD_THRESHOLD}
),
clean AS (
  SELECT k.* FROM kept k
  WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dups)
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM clean GROUP BY source
"""


def quality_gate(docs: DataFrame) -> DataFrame:
    """Quality gate: token count + type-token-ratio thresholds, fused
    into the scan by Catalyst. Adds a `toks` column."""
    toked = docs.select("doc_id", "source", "text", words("text").alias("toks"))
    return toked.where(
        (F.size("toks") >= MIN_TOKENS)
        & (
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
            >= MIN_TTR
        )
    )


def exact_keep(gated: DataFrame) -> DataFrame:
    """Exact dedup: keep min doc_id per identical text. Shuffles on
    md5(text) — a 16-byte key, never the document body (round 4, same
    fix as dedup_exact)."""
    winners = (
        gated.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return gated.join(winners.select("doc_id"), "doc_id")


def near_dup_victims(hashed: DataFrame) -> DataFrame:
    """doc_ids to DROP: the higher id of every LSH-candidate pair whose
    exact shingle-set Jaccard clears JACCARD_THRESHOLD. Input is a
    shingle_hashes stream (doc_id, h) — signatures aggregate straight
    off it, and the verification joins carry the 8-byte sid (round 5:
    the shingle string never appears as a shuffle or join key)."""
    cand = lsh_candidates(minhash_signatures(hashed))
    # cached: three consumers (sizes + both intersection sides) and
    # 16 bytes/row — the same pattern as dedup_minhash_lsh; without it
    # the executed 10x profile shows the distinct recomputed per
    # consumer (AQE does not fully reuse the exchange across subtrees)
    sh = shingle_ids_from_hashes(hashed).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "sid")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _source_stats(clean: DataFrame) -> DataFrame:
    return clean.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "pipeline_clean_corpus",
    oracle=PIPELINE_ORACLE,
    tags=("pipeline", "dedup", "quality"),
    bench=True,
    doc="Full corpus-cleaning pipeline: quality gate -> exact dedup -> "
    "MinHash-LSH near-dup removal -> per-source stats, one plan.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_partitions(load_table(spark, sf_dir, "documents"), "doc_id")
    kept = exact_keep(quality_gate(docs)).cache()
    victims = near_dup_victims(token_shingle_hashes(kept.select("doc_id", "toks")))
    return _source_stats(kept.join(victims, "doc_id", "left_anti"))


def incremental_stores(
    old_docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Batch-1 of the incremental shape: clean `old_docs` and derive
    the two stores a production refresh persists as parquet —
    (clean corpus, content-hash store, hashed-shingle signature
    store). Stores are built from old_KEPT (pre-victim-removal): the
    full run pairs new docs against old near-dup victims too, so the
    store retains their signatures."""
    old_kept = exact_keep(quality_gate(old_docs))
    old_hashes = shingle_hashes(old_kept.select("doc_id", "text"))
    old_clean = old_kept.join(near_dup_victims(old_hashes), "doc_id", "left_anti")
    hash_store = old_kept.select(F.md5("text").alias("content_hash")).distinct()
    return old_clean, hash_store, old_hashes


def incremental_apply(
    new_docs: DataFrame, hash_store: DataFrame, sig_store: DataFrame
) -> DataFrame:
    """Batch-2: gate the new docs, exact-dedup against the hash store
    then within the batch, near-dup against (store ∪ batch)
    signatures. Only batch docs can be victims (every store id is
    below every batch id), expressed store-shaped as a semijoin with
    the batch's own ids — no cutoff value needed at apply time."""
    new_gated = quality_gate(new_docs)
    new_fresh = new_gated.join(
        hash_store, F.md5(new_gated.text) == hash_store.content_hash, "left_anti"
    )
    new_kept = exact_keep(new_fresh)
    combined = sig_store.unionByName(
        shingle_hashes(new_kept.select("doc_id", "text"))
    )
    new_victims = near_dup_victims(combined).join(
        new_kept.select("doc_id"), "doc_id"
    )
    return new_kept.join(new_victims, "doc_id", "left_anti")


@register(
    "pipeline_incremental_update",
    oracle=PIPELINE_ORACLE,
    tags=("pipeline", "dedup", "incremental"),
    doc="Incremental corpus refresh — the realistic 100 TB shape: the "
    "corpus below the id midpoint plays the already-cleaned store "
    "(content-hash set + hashed-shingle signature store), the rest "
    "arrives as a new batch that is gated, exact-deduped against the "
    "store, and near-dup-checked against (store ∪ batch) signatures. "
    "The ORACLE is the full-recompute SQL (same as "
    "pipeline_clean_corpus), so the driver's hash row externally "
    "certifies incremental == full recompute. Equivalence holds "
    "because every artifact is deterministic per document and 'keep "
    "the lower doc_id' orients every old-vs-new pair toward keeping "
    "the stored doc; at scale only the new batch is scanned — the "
    "stores are reads of persisted parquet, not recomputation.",
)
def pipeline_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cutoff = docs.agg(
        F.floor(F.max("doc_id") / F.lit(2.0)).cast("long").alias("_cutoff")
    )
    base = docs.crossJoin(F.broadcast(cutoff))
    old_docs = base.where(F.col("doc_id") < F.col("_cutoff")).drop("_cutoff")
    new_docs = base.where(F.col("doc_id") >= F.col("_cutoff")).drop("_cutoff")

    old_clean, hash_store, sig_store = incremental_stores(old_docs)
    new_clean = incremental_apply(new_docs, hash_store, sig_store)

    cols = ("source", "toks", "text")
    return _source_stats(
        old_clean.select(*cols).unionByName(new_clean.select(*cols))
    )


@register(
    "wc_mr_facade",
    oracle=WC_ORACLE,
    tags=("mr-app", "rdd-facade"),
    doc="Word count through the RDD map_reduce facade (reference "
    "Map/Reduce signature, mr/worker.go:29-30) — same oracle as 'wc', "
    "so the facade itself is inside the correctness gate.",
)
def wc_mr_facade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_distributed_systems_spark.operators.mr import map_reduce

    # closures (pickled by value — no module shipping needed on workers)
    def wc_map(filename: str, contents: str):
        out, cur = [], []
        for ch in contents:
            if ch.isalpha():
                cur.append(ch)
            elif cur:
                out.append(("".join(cur), "1"))
                cur = []
        if cur:
            out.append(("".join(cur), "1"))
        return out

    def wc_reduce(key: str, values: list) -> str:
        return str(len(values))

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )
    out = map_reduce(spark, docs, wc_map, wc_reduce, n_reduce=10)
    return out.select(
        F.col("key").alias("word"), F.col("value").cast("long").alias("cnt")
    )
