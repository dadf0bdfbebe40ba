"""Zipf-vocabulary documents generator (VERDICT r11 next-round #3).

The round-11 MaxScore measurement (BENCH_NOTES "Round-11:
MaxScore-bounded exact truth") was refuted on the repo's probe
corpora, whose CLOSED vocabulary concentrates score sums; the
surviving claim — "MaxScore prunes hard on natural zipf text" —
rested on a small planted corpus. This generator builds a
deterministically-seeded documents table whose token ranks follow a
zipf(1) law over a LARGE vocabulary, at any document count, so that
claim could be measured at the 100x scale the closed-vocabulary
refutation used (BENCH_NOTES "Round-12: MaxScore bound" holds the
result).

Token law: for token slot (doc_id, pos), u = hash(doc_id, pos) mapped
to [0, 1); rank = floor(exp(u * ln(V))) is log-uniform on [1, V),
i.e. P(rank = r) ~ 1/r — the classic zipf(1) inverse-CDF. Everything
is engine-side (xxhash64 + sequence/transform), so a 50M-token corpus
generates distributed, deterministic, and fast; no Python touches
rows.

Two modes:
  natural  — full zipf tail. The engine's query representation picks
             each query doc's LOWEST-df terms, which on natural zipf
             are rare tail words with short posting lists — the
             unpruned truth pass is then per-query bounded by those
             lists and needs no candidate pruning at all.
  capped   — ranks clamped to [1, MAX_RANK]: the rare tail is removed,
             so even the lowest-df query terms carry posting lists of
             thousands of docs while idf still spreads ~e^5 across the
             rank range — the mixed-df regime where a MaxScore bound
             has something to separate. This models query workloads
             of common words (no selective term available).

    python tools/gen_zipf_corpus.py OUT_DIR [N_DOCS] [natural|capped]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_distributed_systems_spark.session import get_spark  # noqa: E402

VOCAB = 50_000
MAX_RANK = 2_000  # capped mode: df floor ~ n_docs * H-share of rank 2000
MIN_LEN, LEN_SPREAD = 60, 80  # tokens per doc in [60, 140)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/zipf_corpus"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    mode = sys.argv[3] if len(sys.argv) > 3 else "natural"
    assert mode in ("natural", "capped"), mode

    spark = get_spark("gen_zipf_corpus")
    rank = (
        "cast(exp((pmod(xxhash64(doc_id, i, 42), 1000000000) / 1e9)"
        f" * ln({VOCAB})) as bigint)"
    )
    if mode == "capped":
        rank = f"least({rank}, {MAX_RANK})"
    # LETTERS-ONLY token encoding: the engine's tokenizer is the
    # reference-exact [^\p{{L}}]+ letter-run splitter, so digits are
    # SEPARATORS — a 'w123'-style term would tokenize to the single
    # term 'w' and collapse the whole corpus to V=1 (the r12 first-cut
    # bug: both truth plans measured a degenerate one-term corpus).
    # translate() maps each rank digit to a letter, keeping ranks
    # distinct and the token one letter-run.
    term = f"concat('w', translate(cast({rank} as string), '0123456789', 'abcdefghij'))"
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.expr(
                "array_join(transform("
                f"sequence(1, {MIN_LEN} + pmod(doc_id, {LEN_SPREAD})),"
                f" i -> {term}), ' ')"
            ).alias("text"),
        )
        .select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit(f"zipf_{mode}").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    print(f"wrote {n_docs} {mode}-zipf docs (V={VOCAB}) to {out_dir}")


if __name__ == "__main__":
    main()
