"""Generate a NON-exhausting BPE training corpus (VERDICT r7 task 5).

    python tools/gen_bpe_corpus.py [--out /tmp/bpe_rich] [--vocab 20000]

The driver fixture's documents table exhausts after 89 merges (every
word collapses to one symbol), so the production 30-50k-merge claim
rested on the flat per-round shape alone. This writes a
documents.parquet with a natural-text-like mixture — syllable-composed
pseudo-words (rich pair inventory: ~114 distinct syllables, words of
2-5 syllables) under a Zipf frequency law — whose vocabulary sustains
thousands of merges, so a >=1k-round per-round cost curve can be
recorded on it (BENCH_NOTES "Round-8: BPE per-round cost to 1,024
merges"). Deterministic (fixed seed),
pure-ASCII text (letters + spaces only, matching the `[^\\p{L}]+`
tokenizer), no Spark needed.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_TOKENS = 200


def build(vocab: int, seed: int = 8) -> list[str]:
    rng = np.random.RandomState(seed)
    syllables = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiouy"]
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < vocab:
        n_syll = rng.randint(2, 6)
        w = "".join(
            syllables[i] for i in rng.randint(0, len(syllables), n_syll)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    # Zipf law over the vocabulary: rank-r word occurs ~C/(r+1) times
    tokens: list[str] = []
    for r, w in enumerate(words):
        tokens.extend([w] * max(1, int(1.5 * vocab / (r + 1))))
    rng.shuffle(tokens)
    return [
        " ".join(tokens[i : i + DOC_TOKENS])
        for i in range(0, len(tokens), DOC_TOKENS)
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/bpe_rich")
    ap.add_argument("--vocab", type=int, default=20000)
    args = ap.parse_args()
    docs = build(args.vocab)
    os.makedirs(args.out, exist_ok=True)
    pq.write_table(
        pa.table(
            {"doc_id": list(range(len(docs))), "text": docs}
        ),
        os.path.join(args.out, "documents.parquet"),
    )
    n_tok = sum(len(d.split()) for d in docs)
    print(f"{args.out}/documents.parquet: {len(docs)} docs, "
          f"{n_tok} tokens, {args.vocab} distinct words")


if __name__ == "__main__":
    main()
