"""Duplicated n-gram mass — the corpus measurement behind exact
substring deduplication (Lee et al., "Deduplicating Training Data
Makes Language Models Better", arXiv:2107.06499: substrings occurring
>= 2 times anywhere in the corpus are dedup targets; this operator
measures how much of each source's token stream that is, per source
and at the worst single document).

Staged r10/r11 (code + oracle + dual-fixture parity tests, no
@register while the gate windows were full); doc_dup_ngram_mass is
REGISTERED round 12 per the plans/registry.py rotation note.
dedup_span_rewrite remains staged for its r13 slot.

Reference parity: tokenization is the reference-exact `[^\\p{L}]+`
letter-run tokenizer (mrapps/wc.go:24-27 semantics via
functions/text.py), the same class every text operator in this repo
pins.

Scale shape (the reason this plan looks the way it does): the naive
formulation joins every n-gram instance back to a (sid -> global
count) table to label it duplicated — a corpus-sized shuffle whose
join keys are exactly the HOT ones (boilerplate n-grams appear in a
large fraction of documents; BENCH_NOTES "Round-7 session 3: the
rewrite tag-back" showed AQE's
byte-based skew split can miss value-skew). This plan never joins on
sid at all. Because an instance is duplicated unless its sid occurs
exactly once corpus-wide, and a count-1 sid has exactly one owning
document:

    dup_instances(doc) = total_instances(doc) - #singleton_sids(doc)

so one map-side-combined groupBy(sid) — where hot sids only ever
aggregate into (count, min) pairs and skew is harmless by
construction — plus doc-keyed (uniform) aggregations reproduce the
per-document duplicated mass exactly. The n-gram STRING never
shuffles: the 60-bit sid (functions shared with dedup.py's MinHash
verification keys) is taken in the map stage.

Shuffle inventory at 100 TB: one sid-keyed combine-heavy aggregate
(8-byte keys, partial aggregation collapses hot n-grams before the
exchange), one groupBy(doc_id) over singleton sids, one uniform
doc_id join, one per-source rollup. No skewed join; no string keys;
nothing funnels through the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

# Span width in tokens. Lee et al. dedup 50-token substrings; 8 keeps
# the statistic meaningful on the fixtures' shorter documents while
# preserving the exact pipeline shape (the constant is the only knob).
DUP_NGRAM_K = 8

DUP_NGRAM_MASS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
),
eligible AS (
  SELECT doc_id, source, len(t) - {DUP_NGRAM_K} + 1 AS total, t
  FROM toks WHERE len(t) >= {DUP_NGRAM_K}
),
inst AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {DUP_NGRAM_K} + 2),
                i -> ('0x' || substring(md5(array_to_string(
                       list_slice(t, i, i + {DUP_NGRAM_K} - 1), ' ')),
                       1, 15))::BIGINT)) AS sid
  FROM eligible
),
g AS (
  SELECT sid, count(*) AS c_tot, min(doc_id) AS d0 FROM inst GROUP BY sid
),
singles AS (
  SELECT d0 AS doc_id, count(*) AS n_single FROM g WHERE c_tot = 1 GROUP BY d0
),
per_doc AS (
  SELECT e.doc_id, e.source, e.total,
         e.total - coalesce(s.n_single, 0) AS dup
  FROM eligible e LEFT JOIN singles s USING (doc_id)
)
SELECT source,
       count(*) AS n_docs,
       sum(total)::BIGINT AS ngrams_total,
       sum(dup)::BIGINT AS ngrams_dup,
       round(sum(dup)::DOUBLE / sum(total), 6) AS dup_frac,
       round(max(dup::DOUBLE / total), 6) AS max_doc_dup_frac
FROM per_doc
GROUP BY source
"""

# Same 60-bit id discipline as dedup.py's SID (md5 prefix -> BIGINT):
# identical in both engines, so a collision would merge the same pair
# of n-grams in both and parity stays exact rather than approximate.
_NGRAM_SID_SPARK = (
    f"transform(sequence(1, size(t) - {DUP_NGRAM_K} + 1), i -> "
    f"cast(conv(substring(md5(concat_ws(' ', slice(t, i, {DUP_NGRAM_K}))), "
    f"1, 15), 16, 10) as bigint))"
)


def dup_ngram_mass(docs: DataFrame) -> DataFrame:
    """Per-source duplicated k-gram mass over any (doc_id, source,
    text) frame — the singleton-complement plan documented in the
    module docstring; no sid-keyed join anywhere."""
    toks = docs.select("doc_id", "source", words("text").alias("t")).where(
        F.size("t") >= DUP_NGRAM_K
    )
    eligible = toks.select(
        "doc_id",
        "source",
        (F.size("t") - F.lit(DUP_NGRAM_K - 1)).cast("long").alias("total"),
        "t",
    )

    inst = eligible.select(
        "doc_id", F.explode(F.expr(_NGRAM_SID_SPARK)).alias("sid")
    )
    # hot n-grams collapse in the partial aggregate; min(doc_id) is
    # only consumed for count-1 sids, where it IS the owning document
    g = inst.groupBy("sid").agg(
        F.count("*").alias("c_tot"), F.min("doc_id").alias("d0")
    )
    singles = (
        g.where(F.col("c_tot") == 1)
        .groupBy(F.col("d0").alias("doc_id"))
        .agg(F.count("*").alias("n_single"))
    )

    per_doc = (
        eligible.drop("t")
        .join(singles, "doc_id", "left")
        .select(
            "source",
            "total",
            (F.col("total") - F.coalesce(F.col("n_single"), F.lit(0))).alias(
                "dup"
            ),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("total").alias("ngrams_total"),
        F.sum("dup").alias("ngrams_dup"),
        F.round(F.sum("dup") / F.sum("total"), 6).alias("dup_frac"),
        F.round(F.max(F.col("dup") / F.col("total")), 6).alias(
            "max_doc_dup_frac"
        ),
    )


@register(
    "doc_dup_ngram_mass",
    oracle=DUP_NGRAM_MASS_ORACLE,
    tags=("dedup", "text"),
    bench=True,
    doc="Lee-et-al (arXiv:2107.06499) duplicated k-gram mass per source "
    "+ worst-document fraction. Singleton-complement plan: "
    "dup = total - singletons, so hot boilerplate n-grams only ever "
    "hit a map-side-combined (count, min) aggregate on 8-byte sids — "
    "no sid-keyed join, no string shuffle, skew-free by construction.",
)
def doc_dup_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r12 (oracle: DUP_NGRAM_MASS_ORACLE): per-source
    duplicated k-gram mass + worst-document fraction on the documents
    table."""
    return dup_ngram_mass(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Span-level dedup rewrite (staged r13 candidate) — the operation the
# dup-mass measurement motivates, i.e. Lee et al.'s actual dedup at
# k-gram granularity: every duplicated k-gram keeps exactly its
# GLOBALLY-FIRST occurrence (min (doc_id, pos)); every other
# occurrence's token window is removed, overlapping removed windows
# union into regions, and each document is rebuilt from its surviving
# tokens. A duplicated region longer than K removes coherently: all
# of its windows share the same first-occurrence document, so the
# first copy survives whole and later copies vanish whole.
#
# Scale shape — the dup-mass discipline generalized: the global
# first-occurrence table is ONE map-side-combined min(struct(doc_id,
# pos)) per sid (hot boilerplate sids collapse in the partial
# aggregate), and it re-keys by its OWN doc_id to flow back to
# documents over a uniform doc_id join — the per-instance "am I the
# first?" decision never joins on the n-gram key. The rebuild is
# doc-local: per token an exists() probe over the doc's removed-start
# list (O(L x R) per doc, R = removed windows; R is 0 for clean docs
# and bounded by L, so the worst case is O(L^2) on a fully-duplicated
# long doc — acceptable because L is document length, never corpus
# length, and the probe runs in whole-stage codegen).
# --------------------------------------------------------------------------

SPAN_REWRITE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '[^\\p{{L}}]+'),
                     x -> x <> '') AS t
  FROM documents
),
eligible AS (SELECT doc_id, source, t FROM toks WHERE len(t) >= {DUP_NGRAM_K}),
inst AS (
  SELECT doc_id,
         unnest(range(1, len(t) - {DUP_NGRAM_K} + 2)) AS pos,
         unnest(list_transform(range(1, len(t) - {DUP_NGRAM_K} + 2),
                i -> ('0x' || substring(md5(array_to_string(
                       list_slice(t, i, i + {DUP_NGRAM_K} - 1), ' ')),
                       1, 15))::BIGINT)) AS sid
  FROM eligible
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY sid ORDER BY doc_id, pos) AS rn
  FROM inst
),
keeps AS (
  SELECT doc_id, list(pos ORDER BY pos) AS kp
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
rebuilt AS (
  SELECT e.doc_id, e.source, e.t,
         list_filter(range(1, len(e.t) - {DUP_NGRAM_K} + 2),
                     p -> NOT list_contains(coalesce(k.kp, []), p)) AS rs
  FROM eligible e LEFT JOIN keeps k USING (doc_id)
),
surv AS (
  SELECT doc_id, source, len(t) AS n_before,
         list_filter(list_transform(range(1, len(t) + 1),
           i -> CASE WHEN len(list_filter(rs,
                  r -> r <= i AND i < r + {DUP_NGRAM_K})) = 0
                THEN t[i] END), x -> x IS NOT NULL) AS kept
  FROM rebuilt
)
SELECT doc_id, source, n_before::BIGINT AS n_before,
       len(kept)::BIGINT AS n_after,
       coalesce(array_to_string(kept, ' '), '') AS new_text
FROM surv
UNION ALL
SELECT doc_id, source, len(t)::BIGINT AS n_before, len(t)::BIGINT AS n_after,
       coalesce(array_to_string(t, ' '), '') AS new_text
FROM toks WHERE len(t) < {DUP_NGRAM_K}
"""


def span_dedup_rewrite(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_before, n_after, new_text) for every doc:
    the span-dedup rewrite over any (doc_id, source, text) frame."""
    toks = docs.select("doc_id", "source", words("text").alias("t"))
    eligible = toks.where(F.size("t") >= DUP_NGRAM_K)
    short = toks.where(F.size("t") < DUP_NGRAM_K).select(
        "doc_id",
        "source",
        F.size("t").cast("long").alias("n_before"),
        F.size("t").cast("long").alias("n_after"),
        F.concat_ws(" ", "t").alias("new_text"),
    )

    # (doc_id, pos) packed into ONE bigint (doc_id * 2^20 + pos) so
    # min() is a plain bigint aggregate: min over a STRUCT falls to
    # SortAggregate (the round-5 string-min lesson — non-hashable agg
    # buffer), and at corpus scale the sid-keyed aggregate is the hot
    # one. The encoding is exact while pos < 2^20 and doc_id < 2^43;
    # both are guarded with raise_error, so growth past the bound is
    # LOUD, never a silently wrong min.
    inst = eligible.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {DUP_NGRAM_K} + 1), i -> "
                f"struct(if(doc_id < 8796093022208 and i < 1048576, "
                f"doc_id * 1048576 + i, cast(raise_error('dedup_span_rewrite:"
                f" (doc_id, pos) exceeds the 2^43/2^20 packed-bigint bound — "
                f"widen the encoding') as bigint)) as enc, "
                f"cast(conv(substring(md5(concat_ws(' ', "
                f"slice(t, i, {DUP_NGRAM_K}))), 1, 15), 16, 10) as bigint) "
                f"as sid))"
            )
        ).alias("w"),
    ).select(F.col("w.enc").alias("enc"), F.col("w.sid").alias("sid"))

    # ONE combine-friendly HashAggregate on the 8-byte sid; the winner
    # re-keys by its own doc_id — no instance-to-sid join anywhere
    firsts = inst.groupBy("sid").agg(F.min("enc").alias("e"))
    keeps = (
        firsts.select(
            # integer div/mod — float division would lose bits past
            # doc_id ~ 2^33 (doubles carry 53 significand bits)
            F.expr("e div 1048576").alias("doc_id"),
            F.expr("cast(e % 1048576 as int)").alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("kp"))
    )

    # Rebuild, hash-based (profiled r13: the lambda-probe formulation —
    # exists() per token over the removed list, array_contains per
    # window over the kept list — was O(L x R) per doc and carried the
    # whole 10.7 s pipeline at sf0.1; array_except builds a hash set of
    # its second argument, making the doc rebuild O(L + R x K) while
    # preserving the first array's order, i.e. token order):
    #   rs      = window starts NOT kept  = all starts \ kp
    #   covered = union of removed windows (each start spans K tokens)
    #   kept    = positions 1..L \ covered, then index back into t
    rebuilt = eligible.join(keeps, "doc_id", "left").select(
        "doc_id",
        "source",
        "t",
        F.expr(
            f"array_except(sequence(1, size(t) - {DUP_NGRAM_K} + 1), "
            f"coalesce(kp, array()))"
        ).alias("rs"),
    )
    surv = rebuilt.select(
        "doc_id",
        "source",
        F.size("t").cast("long").alias("n_before"),
        F.expr(
            f"transform(array_except(sequence(1, size(t)), "
            f"array_distinct(flatten(transform(rs, r -> "
            f"sequence(r, r + {DUP_NGRAM_K - 1}))))), i -> element_at(t, i))"
        ).alias("kept"),
    ).select(
        "doc_id",
        "source",
        "n_before",
        F.size("kept").cast("long").alias("n_after"),
        F.concat_ws(" ", "kept").alias("new_text"),
    )
    return surv.unionByName(short)


@register(
    "dedup_span_rewrite",
    oracle=SPAN_REWRITE_ORACLE,
    tags=("dedup", "text"),
    bench=True,
    doc="Lee-et-al (arXiv:2107.06499) exact-substring dedup REWRITE — "
    "the operation doc_dup_ngram_mass measures: every duplicated "
    "k-gram keeps its globally-first occurrence, other occurrences' "
    "token windows union into removed regions, documents rebuilt from "
    "surviving tokens. The first-occurrence table is ONE map-side-"
    "combined min(struct(doc_id,pos)) per 8-byte sid re-keyed by its "
    "own doc_id — the per-instance decision never joins on the n-gram "
    "key, so hot boilerplate sids stay skew-free; the rebuild is "
    "doc-local in whole-stage codegen.",
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered r13 per the plans/registry.py rotation note
    (oracle: SPAN_REWRITE_ORACLE): the span-level dedup rewrite on
    the documents table."""
    return span_dedup_rewrite(load_table(spark, sf_dir, "documents"))
