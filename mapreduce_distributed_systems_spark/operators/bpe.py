"""Distributed BPE merge training — the tokenizer-TRAINING stage of a
pretraining pipeline (Sennrich et al. 2016, arXiv:1508.07909; the
GPT/Llama tokenizers are trained with exactly this loop at corpus
scale). vocab_build_encode covers vocabulary + encoding; this learns
the merge TABLE itself.

Algorithm (word-internal BPE, the standard formulation):
  1. word-frequency compression: one corpus-sized aggregate collapses
     the token stream to (distinct word, frequency) — all later work
     is over the distinct-word table, the trick every distributed BPE
     trainer (HF tokenizers, SentencePiece) uses;
  2. per merge round: count adjacent symbol pairs weighted by word
     frequency (map-side-combined aggregate over a 16-byte-ish key),
     pick the most frequent pair (count desc, then lexicographic —
     deterministic in both engines under binary collation), rewrite
     every word's symbol string with the merged token (map-only
     string replace), repeat.

Symbol strings are delimited with DOUBLE pipes between symbols and
single pipes at the edges ('|a||b||c|'), so the merge pattern
'|a||b|' -> '|ab|' (i) can only match whole symbols, never the inside
of a longer token, and (ii) consumes only ONE pipe of each shared
boundary, leaving the neighbor's pipe in place — which makes greedy
left-to-right non-overlapping `replace` EXACTLY standard BPE even for
back-to-back repeats: '|m||a||m||a|' ('mama' with merge (m,a)) ->
'|ma||ma|', where a single-pipe scheme would strand the second
occurrence (the round-7 review caught this divergence; the planted
regression test in tests/test_bpe.py pins it). `replace` semantics
are identical in Spark and DuckDB, which is what makes the whole
training loop hash-certifiable: N_MERGES unrolled rounds replay in
DuckDB CTE-for-CTE (the kmeans/PageRank unroll pattern).

Scale: the corpus is touched ONCE (the word-frequency aggregate);
each round then shuffles only (pair, partial-count) rows from the
distinct-word table with map-side combine, collects exactly ONE
argmax row to the driver (the kmeans centroid-collect shape), and
applies a literal map-only rewrite. Hot pairs are absorbed map-side
like any high-frequency aggregate key. N_MERGES rounds = N bounded
jobs; a production 50k-merge train is the same loop with the
distinct-word table cached — its size (vocabulary, not corpus) is
what makes 100 TB tokenizer training tractable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.functions.text import words
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

N_MERGES = 4

_TOKS_DUCK = (
    "list_filter(regexp_split_to_array(text, '[^\\p{L}]+'), x -> x <> '')"
)

# '|' + join(chars, '||') + '|' — see module doc for why boundaries
# are doubled
_SYMBOLIZE_SPARK = (
    "'|' || array_join(transform(sequence(1, length(word)), "
    "i -> substring(word, i, 1)), '||') || '|'"
)


def _bpe_ctes(n_merges: int, carry_word: bool = False) -> str:
    """The WITH chain of the merge-loop replay: w0 = delimited char
    symbols per distinct word, then per round i: pair counts p{i},
    argmax m{i}, rewrite w{i}. `carry_word=True` threads the original
    word through every rewrite so consumers (the encode oracle) can
    map word -> final symbolization."""
    wcol = "word, " if carry_word else ""
    sql = [
        f"""
WITH tok AS (
  SELECT unnest({_TOKS_DUCK}) AS word FROM documents
),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY word),
w0 AS (
  SELECT {wcol}'|' || array_to_string(
           list_transform(range(1, len(word) + 1), i -> word[i:i]), '||')
         || '|' AS w, f
  FROM wf
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        sql.append(
            f""",
s{i} AS (
  SELECT list_filter(string_split(w, '|'), x -> x <> '') AS syms, f
  FROM {prev}
),
p{i} AS (
  SELECT pr.l AS l, pr.r AS r, CAST(sum(f) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
             j -> struct_pack(l := syms[j], r := syms[j + 1]))) AS pr, f
    FROM s{i}
  )
  GROUP BY pr.l, pr.r
),
m{i} AS (
  SELECT {i} AS rank, l, r, l || r AS merged, cnt
  FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
),
w{i} AS (
  -- LEFT JOIN ON TRUE, not CROSS JOIN: when the vocabulary merges
  -- fully before round {i}, m{i} is empty and a cross join would
  -- erase the word table (while Spark's _train_merges break keeps
  -- it) — the idle round must carry words through unchanged
  SELECT {wcol}CASE WHEN m.l IS NULL THEN w ELSE
           replace(w, '|' || m.l || '||' || m.r || '|', '|' || m.merged || '|')
         END AS w, f
  FROM {prev} LEFT JOIN m{i} m ON TRUE
)"""
        )
    return "".join(sql)


def _bpe_oracle(n_merges: int) -> str:
    union = " UNION ALL ".join(
        f"SELECT rank, l AS left_sym, r AS right_sym, merged, cnt AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_ctes(n_merges) + "\n" + union


BPE_ORACLE = _bpe_oracle(N_MERGES)


def _pair_counts(wdf: DataFrame) -> DataFrame:
    syms = F.filter(F.split("w", "\\|"), lambda x: x != F.lit(""))
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda j: F.struct(
                F.element_at(syms, j + 1).alias("l"),
                F.element_at(syms, j + 2).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        wdf.select(F.explode(pairs).alias("pr"), "f")
        .groupBy("pr.l", "pr.r")
        .agg(F.sum("f").alias("cnt"))
    )


def _word_freqs(docs: DataFrame) -> DataFrame:
    """The one corpus-sized pass: (distinct word, frequency), cached
    because every merge round re-derives its rewritten word table from
    this frame."""
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
        .persist()
    )


# Driver-side training gate (optimization round 13, the kmeans
# DRIVER_FIT_MAX_ROWS pattern): every merge round reads only the
# vocabulary-sized word table, but the distributed loop paid one
# pair-count aggregate + a one-row argmax collect PER ROUND —
# A job-timeline probe (OPTIMIZATION_r13.md, per-query log) measured
# 2 jobs x N_MERGES plus their submission gaps as
# ~1.5 s of the 2.3 s sf0.1 warm wall. When the vocabulary fits the
# bound, ONE limit-collect pulls the symbolized word table and the
# rounds run in local Python with the SAME semantics: adjacent-pair
# counts weighted by f (exact ints), argmax by (count desc, l, r) —
# Python's code-point string order equals Spark's binary UTF8 order —
# and greedy left-to-right non-overlapping str.replace, which is
# exactly Spark's replace(). Bit-identical merges, pinned by
# tests/test_bpe.py::test_driver_train_matches_distributed. Above the
# gate (a real web-scale vocabulary) the distributed loop is
# unchanged — the limit-collect probe costs one bounded job.
BPE_DRIVER_MAX_WORDS = 65536


def _train_merges_driver(spark: SparkSession, rows, schema, n_merges: int):
    ws = [r["w"] for r in rows]
    fs = [int(r["f"]) for r in rows]
    merges = []
    for rank in range(1, n_merges + 1):
        cnt: dict[tuple[str, str], int] = {}
        for w, f in zip(ws, fs):
            syms = [s for s in w.split("|") if s]
            for j in range(len(syms) - 1):
                k = (syms[j], syms[j + 1])
                cnt[k] = cnt.get(k, 0) + f
        if not cnt:  # vocabulary fully merged: data-bounded stop
            break
        (lft, rgt), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, lft, rgt, lft + rgt, int(c)))
        pat, rep = f"|{lft}||{rgt}|", f"|{lft}{rgt}|"
        ws = [w.replace(pat, rep) for w in ws]
    final_rows = [
        tuple(w if fld.name == "w" else row[fld.name] for fld in schema)
        for w, row in zip(ws, rows)
    ]
    return merges, spark.createDataFrame(final_rows, schema)


def _train_merges(wdf: DataFrame, n_merges: int):
    """Run `n_merges` rounds over a symbolized word frame (any extra
    columns — e.g. the carried `word` — ride along untouched). Returns
    (merge rows, final word frame). Shared by the training query, the
    encode query, and the round-cost probe so the loop semantics exist
    in exactly one place. Runs driver-side below BPE_DRIVER_MAX_WORDS
    (bit-identical — see the gate comment above)."""
    carried = [c for c in wdf.columns if c not in ("w",)]
    # gate probe (ADVICE r13 #3): decide with a cheap 1-column count
    # first — the old limit(N+1).collect() pulled up to 65,537 FULL
    # symbolized word rows to the driver even on the above-gate
    # web-scale path where they were then discarded. The count's limit
    # early-stops the scan; only a below-gate vocabulary pays the full
    # bounded collect (which then reads the just-materialized persist).
    if wdf.limit(BPE_DRIVER_MAX_WORDS + 1).count() <= BPE_DRIVER_MAX_WORDS:
        probe = wdf.collect()
        return _train_merges_driver(
            wdf.sparkSession, probe, wdf.schema, n_merges
        )
    merges = []
    for rank in range(1, n_merges + 1):
        top_rows = (
            _pair_counts(wdf)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top_rows:  # vocabulary fully merged: data-bounded stop
            break
        top = top_rows[0]
        merges.append(
            (rank, top["l"], top["r"], top["l"] + top["r"], int(top["cnt"]))
        )
        # symbols are letter runs — no quoting hazards in the literal
        wdf = wdf.select(
            F.expr(
                f"replace(w, '|{top['l']}||{top['r']}|', "
                f"'|{top['l']}{top['r']}|')"
            ).alias("w"),
            *carried,
        )
    return merges, wdf


def _symbolized(wf: DataFrame, carry_word: bool = False) -> DataFrame:
    cols = (["word"] if carry_word else []) + ["f"]
    return wf.select(F.expr(_SYMBOLIZE_SPARK).alias("w"), *cols)


@register(
    "bpe_train_merges",
    oracle=BPE_ORACLE,
    tags=("text", "tokenizer", "bpe", "iterative"),
    bench=True,  # round-7 session 3: headline tracks tokenizer training
    doc=f"Distributed BPE merge training, {N_MERGES} unrolled rounds "
    "(the tokenizer-training stage; arXiv:1508.07909). One corpus "
    "aggregate compresses the token stream to (distinct word, freq); "
    "each round is a map-side-combined pair-count aggregate over the "
    "word table, a ONE-ROW argmax collect (count desc, lexicographic "
    "tie-break — the kmeans centroid-collect shape), and a map-only "
    "delimited-string rewrite. Boundaries are double-piped so greedy "
    "non-overlapping `replace` — identical in both engines — is "
    "EXACTLY standard BPE including back-to-back repeats "
    "('|m||a||m||a|' -> '|ma||ma|'). Fourth iterative family next to "
    "PageRank / k-means / pointer-jumping; the DuckDB oracle replays "
    "all rounds CTE-for-CTE, so the hash match certifies the learned "
    "merge table itself, and a pure-Python re-derivation pins it "
    "against a third implementation. At 100 TB the corpus is read "
    "once; every round touches only the vocabulary-sized word table.",
    # VERDICT r13 #1c: the merge loop (incl. the r13 driver-side gate
    # and the r14 count-probe) lives in the shared helper
    helpers=(_train_merges,),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    wf = _word_freqs(load_table(spark, sf_dir, "documents"))
    merges, _final = _train_merges(_symbolized(wf), N_MERGES)
    return spark.createDataFrame(
        merges,
        "rank int, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    )


# ---------------------------------------------------------------------------
# Apply the learned merges: per-document subword accounting
# ---------------------------------------------------------------------------

BPE_ENCODE_ORACLE = _bpe_ctes(N_MERGES, carry_word=True) + f""",
wcost AS (
  SELECT word,
         CAST(len(list_filter(string_split(w, '|'), x -> x <> ''))
              AS BIGINT) AS cost
  FROM w{N_MERGES}
),
dt AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS word FROM documents
),
dwc AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM dt GROUP BY doc_id, word
)
SELECT d.doc_id,
       CAST(sum(d.c) AS BIGINT) AS n_words,
       CAST(sum(d.c * len(d.word)) AS BIGINT) AS n_chars,
       CAST(sum(d.c * wc.cost) AS BIGINT) AS n_subwords
FROM dwc d JOIN wcost wc USING (word)
GROUP BY d.doc_id
"""


@register(
    "bpe_encode_corpus",
    oracle=BPE_ENCODE_ORACLE,
    tags=("text", "tokenizer", "bpe"),
    doc=f"Apply the {N_MERGES} learned BPE merges to ENCODE the corpus "
    "— the inference half of tokenizer training: per document, the "
    "word count, letter count, and post-merge SUBWORD count (the token "
    "budget a trained tokenizer would bill). Plan: the merge loop is "
    "the SAME _train_merges helper bpe_train_merges runs (word column "
    "carried through the rewrites), the per-word subword COST is "
    "computed once per distinct word (a dictionary-encode — never per "
    "occurrence), and documents join their (doc, word, count) "
    "aggregate to the word-cost table on the word key: the LM-scoring "
    "plan shape, vocabulary-bounded per-term cardinality, no hot key. "
    "The oracle threads the original word through every rewrite CTE "
    "and replays the whole train-then-encode chain.",
    helpers=(_train_merges,),  # VERDICT r13 #1c
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wf = _word_freqs(docs)
    _merges, wdf = _train_merges(_symbolized(wf, carry_word=True), N_MERGES)
    wcost = wdf.select(
        "word",
        F.size(F.filter(F.split("w", "\\|"), lambda x: x != F.lit("")))
        .cast("long")
        .alias("cost"),
    )
    dwc = (
        docs.select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        dwc.join(wcost, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("word")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("cost")).cast("long").alias("n_subwords"),
        )
    )
