"""Semantic dedup checks against the planted duplicates in sf0.1
(8 exact-duplicate texts exist there; sf0.001/sf0.01 have none)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import get_spec
from mapreduce_distributed_systems_spark.sources import load_table

SF01 = "/root/testdata/sf0.1"
N_PLANTED_GROUPS = 8  # driver planted 8 duplicated texts at sf0.1


@pytest.fixture(scope="module")
def planted(spark):
    return get_spec("dedup_exact_hash").fn(spark, SF01).collect()[0]


@pytest.fixture(scope="module")
def planted_pairs(spark):
    """(min_id, second_id) per planted duplicate group, from raw data."""
    docs = load_table(spark, SF01, "documents")
    grouped = (
        docs.groupBy("text")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .collect()
    )
    assert len(grouped) == N_PLANTED_GROUPS
    return [(g.ids[0], g.ids[1]) for g in grouped]


def test_exact_hash_summary_counts_planted_duplicates(spark, planted):
    """The 1-row summary (round-3 shape: never 0-row-vacuous) must
    account for the 8 planted 2-copy groups exactly."""
    assert planted.n_docs == 5000
    assert planted.n_dup_groups == N_PLANTED_GROUPS
    assert planted.n_dup_docs == 2 * N_PLANTED_GROUPS
    assert planted.n_distinct_texts == planted.n_docs - N_PLANTED_GROUPS


def test_exact_normalized_exercises_duplicate_branch(spark):
    """Normalization dedup must emit rows at sf0.01 (where byte-exact
    dedup finds nothing): one group per planted doc_id % 7 == 0
    variant, keeper = the original doc_id, and the upper-cased padded
    copy collapsed onto it."""
    rows = get_spec("dedup_exact_normalized").fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 72  # 500 docs at sf0.01 -> 72 with doc_id % 7 == 0
    assert all(r.n_copies == 2 for r in rows)
    # keeper = the ORIGINAL: planted ids shift by max(doc_id) + 1, so
    # they sit strictly above every genuine id (0..499 at sf0.01)
    assert all(r.keeper_doc_id % 7 == 0 and r.keeper_doc_id < 500
               for r in rows)


def test_minhash_lsh_catches_exact_duplicates(spark, planted_pairs):
    """An exact duplicate is trivially a near-duplicate: every planted
    pair must surface from the LSH path with jaccard == 1.0."""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in get_spec("dedup_minhash_lsh").fn(spark, SF01).collect()
    }
    for a, b in planted_pairs:
        assert (a, b) in pairs, f"planted dup pair {(a, b)} missed by LSH"
        assert pairs[(a, b)] == 1.0


def test_simhash64_catches_exact_duplicates(spark, planted_pairs):
    """Identical texts have identical 64-bit signatures: every planted
    pair must surface from the band join with hamming == 0."""
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in get_spec("dedup_simhash64").fn(spark, SF01).collect()
    }
    for a, b in planted_pairs:
        assert (a, b) in pairs, f"planted dup pair {(a, b)} missed by simhash64"
        assert pairs[(a, b)] == 0


def test_lsh_hot_bucket_cap_drops_giant_buckets(spark):
    """A (band, key) bucket larger than LSH_BUCKET_CAP must be excluded
    from the pair join (the 100 TB boilerplate-text guard), while
    normal-sized buckets still produce candidates."""
    from mapreduce_distributed_systems_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        lsh_candidates,
    )

    n_hot = LSH_BUCKET_CAP + 8
    # identical signatures -> all land in the same 4 buckets
    # (slices are integer-valued since the round-5 hash-agg re-key)
    hot = [(i, 10, 10, 11, 11, 12, 12, 13, 13) for i in range(n_hot)]
    # a small 2-doc group with its own distinct signature
    cool = [(10_000 + i, 1, 1, 2, 2, 3, 3, 4, 4) for i in range(2)]
    sig = spark.createDataFrame(
        hot + cool,
        ["doc_id"] + [f"h{i}" for i in range(8)],
    )
    cand = lsh_candidates(sig).collect()
    got = {(r.doc_a, r.doc_b) for r in cand}
    assert (10_000, 10_001) in got  # small bucket joins normally
    assert all(a >= 10_000 for a, _ in got), "hot-bucket pairs not dropped"


def test_connected_components_on_synthetic_graph(spark):
    """Label propagation finds exact components: a 4-node chain (whose
    diameter forces multiple rounds), a triangle, and an isolated
    pair. (Spark-vs-oracle parity for the real simhash graph runs in
    tests/test_parity.py.)"""
    from mapreduce_distributed_systems_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["doc_a", "doc_b"],
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_canonical_pick_invariants(spark, sf_dir):
    """Every cluster keeps exactly one survivor; the survivor is a
    member with the maximal token count; drop accounting adds up."""
    from mapreduce_distributed_systems_spark.plans.registry import get_spec

    comp = {
        (r.doc_id, r.cluster_id)
        for r in get_spec("dedup_cluster_components").fn(spark, sf_dir).collect()
    }
    picks = get_spec("dedup_canonical_pick").fn(spark, sf_dir).collect()
    by_cluster: dict = {}
    for d, c in comp:
        by_cluster.setdefault(c, set()).add(d)
    assert {p.cluster_id for p in picks} == set(by_cluster)
    for p in picks:
        members = by_cluster[p.cluster_id]
        assert p.canonical_doc_id in members
        assert p.n_docs == len(members)
        assert p.n_dropped == len(members) - 1


def test_chunking_formula_covers_every_token():
    """Pure mirror of the chunk-window formula: for every token count,
    the windows cover tokens 1..n exactly, consecutive chunks overlap
    by CHUNK_OVERLAP (when a successor exists), and no chunk exceeds
    the budget."""
    from mapreduce_distributed_systems_spark.operators.text_analysis import (
        CHUNK_OVERLAP,
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    for n in range(1, 400):
        stop = max(n - CHUNK_OVERLAP, 1)
        starts = list(range(1, stop + 1, CHUNK_STRIDE))
        chunks = [(s, min(s + CHUNK_TOKENS - 1, n)) for s in starts]
        covered = set()
        for s, e in chunks:
            assert e - s + 1 <= CHUNK_TOKENS
            covered.update(range(s, e + 1))
        assert covered == set(range(1, n + 1)), f"n={n} gaps"
        for (s1, e1), (s2, _) in zip(chunks, chunks[1:]):
            assert s2 == s1 + CHUNK_STRIDE
            assert e1 - s2 + 1 >= min(CHUNK_OVERLAP, n - s2 + 1)


def test_chunking_reconstructs_documents(spark, sf_dir):
    """End-to-end token conservation on real data: chunk 0 plus each
    later chunk minus its CHUNK_OVERLAP-token prefix concatenates back
    to exactly the original token stream for EVERY document."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mapreduce_distributed_systems_spark.functions.text import words
    from mapreduce_distributed_systems_spark.operators.text_analysis import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
    )
    from mapreduce_distributed_systems_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", words("text")
    )
    starts = F.expr(
        "sequence(1, greatest(size(toks) - "
        f"{CHUNK_OVERLAP}, 1), {CHUNK_TOKENS - CHUNK_OVERLAP})"
    )
    s = docs.where(F.size("toks") > 0).select(
        "doc_id", "toks", F.explode(starts).alias("start")
    )
    chunked = s.select(
        "doc_id",
        "start",
        F.expr(f"slice(toks, start, {CHUNK_TOKENS})").alias("chunk"),
    )
    w = W.partitionBy("doc_id").orderBy("start")
    tail = F.when(
        F.row_number().over(w) == 1, F.col("chunk")
    ).otherwise(F.expr(f"slice(chunk, {CHUNK_OVERLAP + 1}, {CHUNK_TOKENS})"))
    rebuilt = (
        chunked.withColumn("part", tail)
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ", F.flatten(F.array_sort(F.collect_list(F.struct("start", "part"))).part)
                )
            ).alias("rebuilt_hash")
        )
    )
    orig = docs.where(F.size("toks") > 0).select(
        "doc_id", F.md5(F.concat_ws(" ", "toks")).alias("orig_hash")
    )
    bad = (
        rebuilt.join(orig, "doc_id")
        .where(F.col("rebuilt_hash") != F.col("orig_hash"))
        .count()
    )
    assert bad == 0, f"{bad} documents lost or duplicated tokens in chunking"


def test_connected_components_long_chain_pointer_jumping(spark):
    """Diameter >> MAX_ROUNDS: plain neighbor propagation would need
    199 rounds on a 200-edge path (the failure the 10x probe's chained
    near-dup copies actually hit); pointer jumping must converge within
    the fixed round budget and label the whole path with its min id."""
    from mapreduce_distributed_systems_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    labels = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert len(labels) == 201
    assert set(labels.values()) == {0}


def test_epoch_shuffle_is_per_epoch_permutation(spark, sf_dir):
    """Each epoch's pos column is a permutation of 1..N, and distinct
    epochs produce genuinely different orders (the keyed-hash reshuffle
    property training relies on)."""
    from mapreduce_distributed_systems_spark.operators.packing import (
        SHUFFLE_EPOCHS,
    )
    from mapreduce_distributed_systems_spark.plans.registry import get_spec

    rows = get_spec("training_epoch_shuffle").fn(spark, sf_dir).collect()
    by_epoch: dict[int, dict[int, int]] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.pos
    assert len(by_epoch) == SHUFFLE_EPOCHS
    n = len(by_epoch[0])
    for ep, m in by_epoch.items():
        assert sorted(m.values()) == list(range(1, n + 1)), ep
    moved = sum(
        1 for d in by_epoch[0] if by_epoch[0][d] != by_epoch[1][d]
    )
    assert moved > 0.9 * n


def test_token_shingle_hashes_equal_text_shingle_hashes(spark, sf_dir):
    """The pipeline hashes shingles off the quality gate's token array
    instead of re-splitting the text; on every document that yields the
    same (doc_id, h) multiset, duplicates included. The fixture's texts
    are lower-case words and single spaces, so a few hand-made texts
    add digits, punctuation, runs of separators, non-ASCII letters and
    documents too short to shingle."""
    from collections import Counter

    from mapreduce_distributed_systems_spark.functions.text import words
    from mapreduce_distributed_systems_spark.operators.dedup import (
        shingle_hashes,
        token_shingle_hashes,
    )

    odd = spark.createDataFrame(
        [
            (-1, "Émile's 3 cafés,  near  the   café: Émile's 3 cafés!"),
            (-2, "x1y2z3 a-b-c a-b-c a-b-c"),
            (-3, "two words"),
            (-4, ""),
        ],
        "doc_id long, text string",
    )
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
        .unionByName(odd)
        .withColumn("toks", words("text"))
    )

    def multiset(df):
        return Counter(map(tuple, df.collect()))

    from_text = multiset(shingle_hashes(docs.select("doc_id", "text")))
    from_toks = multiset(token_shingle_hashes(docs.select("doc_id", "toks")))
    assert {d for d, _ in from_text} >= {-1, -2}
    assert from_toks == from_text
