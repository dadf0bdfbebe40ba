"""Document chunking (operators/chunking.py): oracle parity for the
chunk relation and the per-source dedup report over the documents
table, plus planted boundary cases pinning the windowing rule
exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.operators.chunking import (
    CHUNK_DEDUP_ORACLE,
    CHUNK_SPLIT_ORACLE,
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    chunk_dedup_stats,
    chunk_relation,
)
from mapreduce_distributed_systems_spark.sources import load_table
from tests.duck_oracle import compare_spark_vs_oracle


def _doc_chunks(spark, sf_dir):
    return chunk_relation(load_table(spark, sf_dir, "documents"))


def _doc_chunk_stats(spark, sf_dir):
    return chunk_dedup_stats(load_table(spark, sf_dir, "documents"))


def test_chunk_split_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        _doc_chunks(spark, sf_dir), CHUNK_SPLIT_ORACLE, sf_dir
    )


def test_chunk_dedup_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        _doc_chunk_stats(spark, sf_dir), CHUNK_DEDUP_ORACLE, sf_dir
    )


def test_merged_chunking_is_exact_composition_of_both_legs(spark, sf_dir):
    """The registered rel-keyed doc_chunking (third registry-ceiling
    merge) must slice back to chunk_relation and chunk_dedup_stats
    over the documents table row-for-row — the merge changed
    packaging, not semantics (the RRF-merge discipline from
    tests/test_retrieval.py)."""
    from mapreduce_distributed_systems_spark.plans.registry import get_spec

    rows = get_spec("doc_chunking").fn(spark, sf_dir).collect()
    assert {r.rel for r in rows} == {"chunk", "stats"}

    got_chunk = sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_md5)
        for r in rows
        if r.rel == "chunk"
    )
    want_chunk = sorted(
        tuple(r) for r in _doc_chunks(spark, sf_dir).collect()
    )
    assert got_chunk == want_chunk

    got_stats = sorted(
        (r.source, r.n_chunks, r.n_distinct_chunks, r.n_dup_groups,
         r.removable_frac)
        for r in rows
        if r.rel == "stats"
    )
    want_stats = sorted(
        tuple(r) for r in _doc_chunk_stats(spark, sf_dir).collect()
    )
    assert got_stats == want_stats
    # and the off-leg columns are NULL, never garbage
    assert all(
        r.source is None and r.n_chunks is None
        for r in rows
        if r.rel == "chunk"
    )
    assert all(
        r.doc_id is None and r.chunk_md5 is None
        for r in rows
        if r.rel == "stats"
    )


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_window_rule_boundaries(spark):
    """The windowing law, pinned at every boundary: L=0 -> no chunks;
    1 <= L <= CHUNK -> one chunk of L tokens; L = CHUNK + 1 -> two
    chunks (second short); L = CHUNK + STRIDE -> two FULL chunks;
    L = CHUNK + STRIDE + 1 -> three."""
    C, S = CHUNK_TOKENS, CHUNK_STRIDE

    def text(n):
        return " ".join(f"t{'x' * (i % 3)}w" for i in range(n))

    docs = _mk_docs(
        spark,
        [
            (0, ".,;!"),               # 0 tokens
            (1, "hello"),              # 1 token
            (2, text(C)),              # exactly one full window
            (3, text(C + 1)),          # spills by one token
            (4, text(C + S)),          # two exact windows
            (5, text(C + S + 1)),      # three windows
        ],
    )
    got = {
        (r.doc_id, r.chunk_idx): r.n_tokens
        for r in chunk_relation(docs).collect()
    }
    assert got == {
        (1, 0): 1,
        (2, 0): C,
        (3, 0): C, (3, 1): C + 1 - S,
        (4, 0): C, (4, 1): C,
        (5, 0): C, (5, 1): C, (5, 2): C + S + 1 - 2 * S,
    }


def test_overlap_and_coverage_properties(spark):
    """Consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE
    tokens and every token position is covered — verified against a
    python re-derivation of the windows on a multi-chunk document."""
    import hashlib

    n = CHUNK_TOKENS + 3 * CHUNK_STRIDE + 7
    toks = [f"w{'a' * (i % 5)}b" for i in range(n)]
    docs = _mk_docs(spark, [(0, " ".join(toks))])
    rows = sorted(
        (r.chunk_idx, r.n_tokens, r.chunk_md5)
        for r in chunk_relation(docs).collect()
    )
    import math

    n_chunks = 1 + math.ceil(max(0, n - CHUNK_TOKENS) / CHUNK_STRIDE)
    want = []
    covered = set()
    for i in range(n_chunks):
        w = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
        covered.update(range(i * CHUNK_STRIDE, i * CHUNK_STRIDE + len(w)))
        want.append(
            (i, len(w), hashlib.md5(" ".join(w).encode()).hexdigest())
        )
    assert rows == want
    assert covered == set(range(n))  # full coverage


def test_dedup_stats_counts_removable_copies(spark):
    """Two docs with identical sub-CHUNK texts form one dup group with
    one removable copy; a unique doc contributes none. Verified per
    source."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "web"),
            (1, "alpha beta gamma", "web"),
            (2, "delta epsilon", "web"),
            (3, "alpha beta gamma", "books"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.source: (
            r.n_chunks,
            r.n_distinct_chunks,
            r.n_dup_groups,
            r.removable_frac,
        )
        for r in chunk_dedup_stats(docs).collect()
    }
    assert got == {
        "web": (3, 2, 1, round(1 / 3, 6)),
        "books": (1, 1, 0, 0.0),
    }


def test_chunk_ids_are_append_stable(spark):
    """Re-chunking a superset corpus leaves existing docs' chunk rows
    byte-identical — the property that lets an incremental pipeline
    re-chunk appended docs without invalidating the vector index."""
    base = _mk_docs(spark, [(0, "one two three"), (1, "four five")])
    more = _mk_docs(
        spark,
        [(0, "one two three"), (1, "four five"), (2, "six seven")],
    )
    a = {
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_md5)
        for r in chunk_relation(base).collect()
    }
    b = {
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_md5)
        for r in chunk_relation(more).collect()
    }
    assert a <= b and len(b) == len(a) + 1


def test_split_plan_is_narrow(spark, sf_dir):
    """The chunk relation must be a map-only plan: no exchange
    anywhere (tokenize -> sequence/slice -> explode -> project)."""
    plan = (
        _doc_chunks(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_zero_token_docs_yield_no_chunks(spark, sf_dir):
    """Parquet-backed twin of the planted L=0 case: no chunk row may
    have 0 tokens, and every doc with >= 1 letter-run appears."""
    rel = _doc_chunks(spark, sf_dir)
    assert rel.where(F.col("n_tokens") < 1).count() == 0


# ---------------------------------------------------------------- #
# Property: the windowing law holds for RANDOM corpora — lengths,
# token shapes, and multi-doc batches the fixed boundary cases can't
# enumerate. The python re-derivation is the independent third
# engine (the same role it plays in test_overlap_and_coverage).
# ---------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_doc_lengths = st.lists(
    st.integers(min_value=0, max_value=3 * CHUNK_TOKENS + 2 * CHUNK_STRIDE),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(lengths=_doc_lengths)
def test_window_law_on_random_corpora(spark, lengths):
    import hashlib
    import math

    rows, want = [], set()
    for doc_id, n in enumerate(lengths):
        toks = [f"w{'q' * ((doc_id + i) % 4)}z" for i in range(n)]
        # pad zero-token docs with punctuation so text is non-null
        rows.append((doc_id, " ".join(toks) if toks else "..!"))
        if n == 0:
            continue
        n_chunks = 1 + math.ceil(max(0, n - CHUNK_TOKENS) / CHUNK_STRIDE)
        for i in range(n_chunks):
            w = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
            want.add(
                (
                    doc_id,
                    i,
                    len(w),
                    hashlib.md5(" ".join(w).encode()).hexdigest(),
                )
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_md5)
        for r in chunk_relation(docs).collect()
    }
    assert got == want
