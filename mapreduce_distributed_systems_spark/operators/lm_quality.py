"""Statistical-LM quality scoring and paragraph-level dedup — the two
corpus-cleaning stages between the hashing-trick classifier
(quality.py) and the document-level dedups (dedup.py):

- `quality_ngram_lm_score`: CCNet-style language-model scoring. CCNet
  (Wenzek et al. 2019, arXiv:1911.00359) ranks documents by the
  perplexity of a small LM trained on trusted text and keeps the
  low-perplexity head/middle. The exactly-reproducible core of that
  stage is the LM inference itself: here a corpus-fit add-one-smoothed
  unigram LM, scored as mean negative log-likelihood per token. The
  reference's per-key reduce (mr/worker.go:135-137) is the same
  count-aggregate shape; the LM table is the wc output re-used as a
  model.

- `dedup_paragraph_rewrite`: Dolma-style paragraph dedup (Soldaini et
  al. 2024, arXiv:2402.00159): drop every paragraph instance except
  the globally-first occurrence and REWRITE the documents — the
  boilerplate-removal stage (nav bars, subscribe blocks) that
  document-level dedup cannot touch. Paragraph = consecutive
  {PARA_TOKENS}-token chunk of the reference tokenizer's stream (the
  synthetic corpus has no newlines to split on, so chunking stands in
  for paragraph boundaries, like operators/text_analysis.py's
  chunk_documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

_TOKS_DUCK = (
    "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"
)

# keep threshold for the unigram-LM mean NLL (nats/token). The corpus
# unigram entropy sits near ln(vocab_eff) ~ 3.4-3.7 for the synthetic
# word-soup; docs above the threshold skew toward rare-token noise —
# the CCNet "tail" bucket. Compared on the ROUNDED score in both
# engines, per the float discipline.
LM_NLL_KEEP_MAX = 3.55

LM_SCORE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
cnt AS (SELECT term, count(*) AS n FROM tok GROUP BY 1),
scal AS (
  SELECT count(*) AS n_total, count(DISTINCT term) AS v FROM tok
)
SELECT tf.doc_id,
       CAST(sum(tf.c) AS BIGINT) AS n_tokens,
       round(sum(tf.c * ln((s.n_total + s.v) / (cnt.n + 1.0)))
             / sum(tf.c), 6) AS nll,
       (round(sum(tf.c * ln((s.n_total + s.v) / (cnt.n + 1.0)))
              / sum(tf.c), 6) <= {LM_NLL_KEEP_MAX}) AS keep
FROM tf JOIN cnt USING (term) CROSS JOIN scal s
GROUP BY tf.doc_id
"""


@register(
    "quality_ngram_lm_score",
    oracle=LM_SCORE_ORACLE,
    tags=("quality", "lm", "text", "classifier"),
    bench=True,  # round-7 session 2: headline set tracks the LM-scoring stage
    doc="CCNet-shaped statistical-LM quality scoring: fit an add-one-"
    "smoothed unigram LM on the corpus itself (term-count aggregate = "
    "the wc reduce re-used as a model), then score every document by "
    "mean negative log-likelihood per token and emit the keep verdict "
    "against a fixed nats/token threshold. Plan: tokenize fused into "
    "the scan, one (doc,term) and one (term) map-side-combined "
    "aggregate, a term-keyed join of doc-term counts against the "
    "vocabulary-sized LM table (broadcast when the vocabulary fits, "
    "shuffle join keyed on term otherwise — per-term cardinality is "
    "corpus-bounded, no hot key), N and V as one broadcast scalar. A "
    "trained external LM would broadcast its table into exactly this "
    "plan. Scores round to 6 decimals in BOTH engines before the "
    "compare (the TF-IDF float discipline).",
)
def quality_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(words("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    cnt = tok.groupBy("term").agg(F.count("*").alias("n"))
    scal = tok.agg(
        F.count("*").alias("n_total"),
        F.count_distinct("term").alias("v"),
    )
    nll = F.round(
        F.sum(
            F.col("c")
            * F.log((F.col("n_total") + F.col("v")) / (F.col("n") + F.lit(1.0)))
        )
        / F.sum("c"),
        6,
    )
    return (
        tf.join(cnt, "term")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            nll.alias("nll"),
            (nll <= F.lit(LM_NLL_KEEP_MAX)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring — one model order up from the unigram
# ---------------------------------------------------------------------------

# Jelinek-Mercer interpolation weight on the bigram MLE; the remaining
# mass backs off to the add-one unigram (the model above). CCNet's
# KenLM is a 5-gram with Kneser-Ney — JM-interpolated bigram is the
# smallest model that exercises the full inference plan shape
# (conditional table keyed on context + backoff), which is what
# transfers: higher orders add lookup keys, not new machinery.
BIGRAM_LAMBDA = 0.7
# KenLM-style count pruning (`--prune`): n-gram types seen fewer than
# this many times are dropped from the model and score through the
# backoff path (bigram MLE term = 0 / unigram count = 0, which the
# add-one smoothing already covers). On Zipfian text singletons
# dominate TYPES while carrying a vanishing share of MASS, so the
# pruned model is orders of magnitude smaller than the corpus and —
# unlike a raw bigram table, whose type count grows near-linearly in
# corpus size — stays broadcastable; a bigger corpus raises the
# threshold, not the plan. Pruning by a count threshold (not top-K)
# keeps the model definition engine-order-independent: no global sort,
# no tie at a rank boundary.
BIGRAM_PRUNE_MIN = 2
UNIGRAM_PRUNE_MIN = 2
# keep threshold in nats/bigram; pruned-model corpus scores cluster
# ~3.3-3.9 with the tail above ~3.52 (rare-bigram noise scored
# through backoff — the CCNet "tail" bucket). tests/test_retrieval.py
# asserts no fixture doc's nll2 sits within one rounding quantum of
# the threshold (ADVICE r9: a boundary doc could flip `keep` across
# engines).
BIGRAM_NLL_KEEP_MAX = 3.52

BIGRAM_LM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
bg AS (
  SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
  FROM t, unnest(list_zip(toks[1:length(toks)-1], toks[2:length(toks)]))
         AS u(z)
  WHERE length(toks) >= 2
),
cbm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2
  HAVING count(*) >= {BIGRAM_PRUNE_MIN}
),
ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS ctx FROM bg GROUP BY 1),
model AS (SELECT cbm.w1, cbm.w2, cbm.cb, ctx.ctx
          FROM cbm JOIN ctx USING (w1)),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
  HAVING count(*) >= {UNIGRAM_PRUNE_MIN}
),
scal AS (
  SELECT CAST(count(*) AS BIGINT) AS t_total,
         CAST(count(DISTINCT term) AS BIGINT) AS v
  FROM tok
)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-sum(ln({BIGRAM_LAMBDA} * coalesce(m.cb * 1.0 / m.ctx, 0.0)
              + {1.0 - BIGRAM_LAMBDA} * (coalesce(uni.n, 0) + 1.0)
                / (s.t_total + s.v)))
             / count(*), 6) AS nll2,
       (round(-sum(ln({BIGRAM_LAMBDA} * coalesce(m.cb * 1.0 / m.ctx, 0.0)
               + {1.0 - BIGRAM_LAMBDA} * (coalesce(uni.n, 0) + 1.0)
                 / (s.t_total + s.v)))
              / count(*), 6) <= {BIGRAM_NLL_KEEP_MAX}) AS keep
FROM bg LEFT JOIN model m USING (w1, w2)
LEFT JOIN uni ON uni.term = bg.w2 CROSS JOIN scal s
GROUP BY bg.doc_id
"""


@register(
    "quality_bigram_lm_score",
    oracle=BIGRAM_LM_ORACLE,
    tags=("quality", "lm", "text", "classifier"),
    bench=True,
    doc="Interpolated bigram-LM quality scoring, one model order up "
    "from quality_ngram_lm_score: P(w2|w1) = lambda * bigram MLE + "
    "(1-lambda) * add-one unigram (Jelinek-Mercer), over a KenLM-"
    "style count-pruned model (types under BIGRAM_PRUNE_MIN score "
    "through backoff) — the deployment shape of CCNet's KenLM stage. "
    "Plan (the quality_classifier_score map-only inference shape): "
    "the MODEL is three map-side-combined aggregates (hot n-grams "
    "partial-combine per partition, so no join-side fan-in exists "
    "anywhere), pruned to a broadcastable size and BROADCAST; "
    "inference is then bigram instances (one array transform fused "
    "into the scan, zero shuffle to build) map-side-joined against "
    "the broadcast model + unigram backoff, and the only corpus-sized "
    "exchange in the whole plan is the final per-doc reduce keyed on "
    "doc_id — never on Zipfian (w1,w2) text keys (VERDICT r9: the "
    "previous sort-merge join on bigram keys shuffled the corpus "
    "through hot keys like 'of the'). Docs with fewer than two tokens "
    "have no bigrams and are absent in both engines by construction.",
)
def quality_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("toks"))
    tok = toks.select("doc_id", F.explode("toks").alias("term"))
    bg = (
        toks.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("z"),
        )
        .select("doc_id", "z.w1", "z.w2")
    )
    # model fit: aggregates shuffle only map-side-combined partials
    # (<= one row per key per partition — a hot bigram costs nothing
    # extra), then count-prune to the broadcastable model.
    cbm = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cb"))
        .where(F.col("cb") >= BIGRAM_PRUNE_MIN)
    )
    ctx = bg.groupBy("w1").agg(F.count("*").cast("long").alias("ctx"))
    model = cbm.join(ctx, "w1").select("w1", "w2", "cb", "ctx")
    uni = (
        tok.groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= UNIGRAM_PRUNE_MIN)
    )
    scal = tok.agg(
        F.count("*").cast("long").alias("t_total"),
        F.count_distinct("term").cast("long").alias("v"),
    )
    # map-only inference: every join below is a broadcast, so bigram
    # instances flow scan -> score -> per-doc combine without ever
    # being exchanged on a text key.
    p = (
        F.lit(BIGRAM_LAMBDA)
        * F.coalesce(F.col("cb") / F.col("ctx"), F.lit(0.0))
        + F.lit(1.0 - BIGRAM_LAMBDA)
        * (F.coalesce(F.col("n"), F.lit(0)) + F.lit(1.0))
        / (F.col("t_total") + F.col("v"))
    )
    nll2 = F.round(-F.sum(F.log(p)) / F.count("*"), 6)
    return (
        bg.join(F.broadcast(model), ["w1", "w2"], "left")
        .join(F.broadcast(uni), bg.w2 == uni.term, "left")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            nll2.alias("nll2"),
            (nll2 <= F.lit(BIGRAM_NLL_KEEP_MAX)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup with document rewrite
# ---------------------------------------------------------------------------

PARA_TOKENS = 25
PARA_PLANT_MOD = 11
# exactly PARA_TOKENS letter-tokens: the boilerplate "subscribe block"
# PREPENDED to a doc_id slice so the duplicated paragraph aligns to
# chunk 0 in every planted doc (appending would misalign it, since doc
# lengths differ mod PARA_TOKENS). The synthetic corpus has no natural
# cross-doc 25-token repeats, so without the plant the rewrite branch
# would certify vacuously (the PII/denylist plant pattern).
PARA_BOILERPLATE = (
    "subscribe to our newsletter and follow us for daily updates about "
    "new products special offers and community news delivered straight "
    "to your inbox every morning"
)
# packed first-occurrence key: doc_id * POS_PACK + pos is ordered like
# (doc_id, pos) while pos < POS_PACK — i.e. docs under 2.5M tokens —
# and both engines use the same packing so the min is identical. A
# corpus of longer documents raises POS_PACK in code, like the LSH
# banding width.
POS_PACK = 100_000
# Hot-slice split levers for the tag-back join (measured rationale in
# BENCH_NOTES "Round-7 session 3: the rewrite tag-back": AQE's
# byte-based skew split is structurally blind to identical-content
# hot keys — the payload lz4-collapses to ~median bytes while carrying
# ~7x median rows — so the mitigation must be in the plan, not the
# runtime).
# Hashes with more than REWRITE_HOT_CAP instances route through a
# broadcast join (the hot slice is bounded: <= n_paragraphs / CAP
# rows); everything else takes the ordinary join with the hot rows
# ANTI-FILTERED OUT of its shuffle. Engaged above
# REWRITE_SPLIT_MIN_DOCS so driver/bench SFs keep the single-join
# plan the static oracle and plan pins certify (the lsh_bits_for /
# TWO_LEVEL_MIN_K gate pattern); results are identical either way
# (tests/test_lm_quality.py pins split == unsplit).
REWRITE_HOT_CAP = 1024
REWRITE_SPLIT_MIN_DOCS = 20_000


def _tag_first_occurrence(ch, split: bool):
    """Tag each paragraph instance with keep = (pk == min pk of its
    hash). `split=True` is the at-scale plan: hot hashes (instance
    count > REWRITE_HOT_CAP) join via broadcast of the bounded hot
    slice, cold hashes join with hot instances anti-filtered out of
    the shuffle — no partition ever receives a hot key's fan-in."""
    firsts = ch.groupBy("h").agg(
        F.min("pk").alias("first_pk"), F.count("*").alias("_cnt")
    )
    if not split:
        tagged = ch.join(firsts.drop("_cnt"), "h")
    else:
        hot = firsts.where(F.col("_cnt") > REWRITE_HOT_CAP).drop("_cnt")
        cold = firsts.where(F.col("_cnt") <= REWRITE_HOT_CAP).drop("_cnt")
        tagged = ch.join(
            F.broadcast(hot.select("h")), "h", "left_anti"
        ).join(cold, "h").unionByName(ch.join(F.broadcast(hot), "h"))
    return tagged.withColumn("keep", F.col("pk") == F.col("first_pk"))

PARA_REWRITE_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PARA_PLANT_MOD} = 0
              THEN '{PARA_BOILERPLATE} ' || text
              ELSE text END AS text
  FROM documents
),
t AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM base
),
ch AS (
  SELECT doc_id, s.pos AS pos, s.chunk AS chunk
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CAST(ceil(len(toks) / {PARA_TOKENS}.0) AS BIGINT)),
             i -> struct_pack(
               pos := i,
               chunk := array_to_string(
                 toks[(i * {PARA_TOKENS} + 1):((i + 1) * {PARA_TOKENS})],
                 ' ')))) AS s
    FROM t
  )
),
firsts AS (
  SELECT md5(chunk) AS h, min(doc_id * {POS_PACK} + pos) AS first_pk
  FROM ch GROUP BY 1
),
tagged AS (
  SELECT ch.doc_id, ch.pos, ch.chunk,
         (ch.doc_id * {POS_PACK} + ch.pos = f.first_pk) AS keep
  FROM ch JOIN firsts f ON md5(ch.chunk) = f.h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(
         list_transform(
           list_sort(coalesce(
             list(struct_pack(pos := pos, chunk := chunk))
               FILTER (WHERE keep), [])),
           s -> s.chunk), ' '), '')) AS rebuilt_md5
FROM tagged
GROUP BY doc_id
"""


@register(
    "dedup_paragraph_rewrite",
    oracle=PARA_REWRITE_ORACLE,
    tags=("dedup", "text", "pipeline", "rewrite"),
    bench=True,  # round-7 session 2: headline set tracks the rewrite stage
    doc=f"Dolma-style paragraph dedup with document REWRITE: every "
    f"{PARA_TOKENS}-token paragraph keeps only its globally-first "
    "occurrence (min (doc_id, pos), packed identically in both "
    "engines), duplicate instances are dropped, and each document is "
    "rebuilt from its kept paragraphs (md5-certified) — the "
    "boilerplate-removal stage document-level dedup cannot express. "
    "Plan: chunking is pure array expressions fused into the scan; "
    "first-occurrence is a map-side-combined min over md5(paragraph) "
    "(never the text; a boilerplate paragraph repeated across the "
    "corpus makes a HOT hash key, which the algebraic min absorbs "
    "map-side); the instance-tagging join back on the hash is the one "
    "skew-prone exchange. What protects it, MEASURED on a "
    "boilerplate-dense replica (BENCH_NOTES 'Round-7 session 3: the "
    "rewrite tag-back'): while "
    "the distinct-paragraph table fits the broadcast threshold the "
    "tag-back is a broadcast join and the hot key never shuffles; in "
    "the forced shuffle-join regime AQE's skew split does NOT engage "
    "— its detection reads compressed map-output bytes, and 25k "
    "copies of one identical paragraph lz4-collapse to ~median bytes "
    "while carrying ~7x median ROWS, a blindness that is "
    "scale-invariant — so if boilerplate density ever makes the "
    "row-skew a straggler, the mitigation is salting the tag-back "
    "(the skew_salted_join machinery), not AQE; "
    "the per-doc rebuild groups by doc_id "
    "(never hot) with a bounded sort_array, no window. Short "
    "duplicate documents already collide naturally (their whole text "
    "is one partial chunk), and a boilerplate paragraph is ALSO "
    "planted into a doc_id slice so the aligned hot-paragraph case "
    "is always exercised (the PII plant pattern; "
    "tests/test_lm_quality.py pins both branches hot).",
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % PARA_PLANT_MOD == 0,
            F.concat(F.lit(PARA_BOILERPLATE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # token-empty docs produce zero chunks in the oracle (range(0,0));
    # Spark's sequence(0, -1) would instead count DOWN, so filter them
    # out explicitly (none exist in this corpus — min doc length 48)
    toks = base.select("doc_id", words("text").alias("toks")).where(
        F.size("toks") > 0
    )
    n_ch = F.ceil(F.size("toks") / F.lit(float(PARA_TOKENS))).cast("long")
    ch = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_ch - 1),
                lambda i: F.array_join(
                    F.slice(
                        F.col("toks"),
                        (i * PARA_TOKENS + 1).cast("int"),
                        PARA_TOKENS,
                    ),
                    " ",
                ),
            )
        ).alias("pos", "chunk"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "chunk",
        F.md5("chunk").alias("h"),
        (F.col("doc_id") * POS_PACK + F.col("pos")).alias("pk"),
    )
    n_docs = docs.count()
    tagged = _tag_first_occurrence(
        ch, split=n_docs >= REWRITE_SPLIT_MIN_DOCS
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("chunk"))
    )
    return tagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            )
        ).alias("rebuilt_md5"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------

# CCNet (arXiv:1911.00359 §4.3) splits each language's corpus into
# equal-document thirds by LM perplexity and trains on head(+middle).
# NTILE semantics: the first (n % 3) buckets take one extra document.
_PPL_LABEL = "CASE WHEN {b} = 1 THEN 'head' WHEN {b} = 2 THEN 'middle' ELSE 'tail' END"

PPL_BUCKET_ORACLE = f"""
SELECT j.doc_id, j.lang, j.nll,
       {_PPL_LABEL.format(b="ntile(3) OVER (PARTITION BY j.lang ORDER BY j.nll, j.doc_id)")} AS bucket
FROM (
  SELECT d.doc_id, d.lang, s.nll
  FROM ({LM_SCORE_ORACLE}) s JOIN documents d USING (doc_id)
) j
"""


@register(
    "quality_perplexity_buckets",
    oracle=PPL_BUCKET_ORACLE,
    tags=("quality", "lm", "text", "curation"),
    bench=True,  # round-7 session 3: completes the benched CCNet pair

    doc="CCNet's head/middle/tail split: per LANGUAGE, rank documents "
    "by unigram-LM mean NLL (quality_ngram_lm_score's certified score, "
    "rounded 6dp in both engines so the order is identical) and cut "
    "into equal-document thirds with exact NTILE semantics. Plan: the "
    "rank is DISTRIBUTED, never a per-language single-reducer window — "
    "range-partition on (lang, nll, doc_id), rank locally per "
    "(partition, lang), then add per-(partition, lang) prefix offsets "
    "(an O(#partitions x #languages) driver-side scalar, the "
    "window_ntile_pctrank machinery generalized to grouped ranking). "
    "At 100 TB a language holds billions of documents; PARTITION BY "
    "lang ORDER BY nll would funnel each language through one task, "
    "while this plan's only corpus-sized exchanges are the LM scoring "
    "aggregates and one range repartition. Buckets per language "
    "differ in size by <= 1 by construction (pinned in "
    "tests/test_lm_quality.py).",
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _perplexity_buckets_full(spark, sf_dir).select(
        "doc_id", "lang", "nll", "bucket"
    )


def _perplexity_buckets_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """quality_perplexity_buckets plus the n_tokens column carried
    through the rank (a narrow long riding the range shuffle) — so
    pipeline_ccnet_filter can account token budgets WITHOUT re-running
    the whole LM-scoring subtree a second time (the round-7 review
    caught the duplicate corpus pass)."""
    from pyspark.sql import Window as W

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = quality_ngram_lm_score(spark, sf_dir).select(
        "doc_id", "nll", "n_tokens"
    )
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # Persist the range-partitioned frame so the offset-count job and
    # the final job see the SAME partition boundaries (range sampling
    # re-draws per job otherwise) — the window_ntile_pctrank pattern.
    part = (
        scored.join(lang, "doc_id")
        .repartitionByRange(n_parts, "lang", "nll", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = part.groupBy("_pid", "lang").agg(F.count("*").alias("n")).collect()
    langs = sorted({r["lang"] for r in counts})
    n_lang = {
        lg: sum(r["n"] for r in counts if r["lang"] == lg) for lg in langs
    }
    # per-(pid, lang) prefix offset within the language, keyed
    # "pid:lang" (create_map wants scalar keys)
    by_pid = {(r["_pid"], r["lang"]): r["n"] for r in counts}
    off_items: list = []
    for lg in langs:
        acc = 0
        for pid in range(n_parts):
            off_items += [F.lit(f"{pid}:{lg}"), F.lit(acc)]
            acc += by_pid.get((pid, lg), 0)
    off_map = F.create_map(*off_items)
    # per-language NTILE(3) constants: q, rem, big = rem * (q + 1)
    def _lang_map(fn):
        items: list = []
        for lg in langs:
            items += [F.lit(lg), F.lit(fn(n_lang[lg]))]
        return F.create_map(*items)

    q_map = _lang_map(lambda n: n // 3)
    rem_map = _lang_map(lambda n: n % 3)
    big_map = _lang_map(lambda n: (n % 3) * (n // 3 + 1))

    w_local = W.partitionBy("_pid", "lang").orderBy("nll", "doc_id")
    key = F.concat(F.col("_pid").cast("string"), F.lit(":"), F.col("lang"))
    rank = (F.element_at(off_map, key) + F.row_number().over(w_local)).cast(
        "long"
    )
    q = F.element_at(q_map, F.col("lang"))
    rem = F.element_at(rem_map, F.col("lang"))
    big = F.element_at(big_map, F.col("lang"))
    bucket_num = F.when(
        F.col("_rank") <= big, F.ceil(F.col("_rank") / (q + 1))
    ).otherwise(rem + F.ceil((F.col("_rank") - big) / F.greatest(q, F.lit(1))))
    label = (
        F.when(bucket_num == 1, F.lit("head"))
        .when(bucket_num == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        part.withColumn("_rank", rank)
        .select("doc_id", "lang", "nll", "n_tokens", label.alias("bucket"))
    )


# ---------------------------------------------------------------------------
# CCNet filter composition: keep head + middle per language
# ---------------------------------------------------------------------------

CCNET_FILTER_ORACLE = f"""
WITH buckets AS ({PPL_BUCKET_ORACLE}),
nscores AS (
  SELECT doc_id, n_tokens FROM ({LM_SCORE_ORACLE}) s
)
SELECT b.lang, b.bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n.n_tokens) AS BIGINT) AS n_tokens,
       round(avg(b.nll), 6) AS mean_nll
FROM buckets b JOIN nscores n USING (doc_id)
WHERE b.bucket <> 'tail'
GROUP BY b.lang, b.bucket
"""


@register(
    "pipeline_ccnet_filter",
    oracle=CCNET_FILTER_ORACLE,
    tags=("pipeline", "quality", "lm", "curation"),
    bench=True,  # round-7 session 3: headline tracks the retention decision
    doc="The CCNet retention decision end-to-end: score every document "
    "with the unigram LM, split each language into perplexity terciles "
    "(quality_perplexity_buckets' distributed rank), KEEP head+middle "
    "and report the retained corpus per (language, bucket) — document "
    "count, token budget, mean NLL. This is the composition the CCNet "
    "paper ships as its actual filter (arXiv:1911.00359 §4.3: train on "
    "head/middle, drop tail), certified as one query so the whole "
    "score -> rank -> cut -> account chain hash-matches the SQL "
    "replay. Plan: ONE scoring pass — n_tokens rides the bucket "
    "query's range shuffle through the distributed rank (no second "
    "LM subtree, no join-back), then one final (lang, bucket) "
    "map-side-combined aggregate over <= 2x |languages| groups.",
)
def pipeline_ccnet_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = _perplexity_buckets_full(spark, sf_dir).where(
        F.col("bucket") != "tail"
    )
    return (
        kept.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("mean_nll"),
        )
    )
