"""Duplicated n-gram mass (staged r12, operators/dup_spans.py):
oracle parity, the singleton-complement identity on planted
duplicates, and the skew-free plan shape (no sid-keyed join)."""

from __future__ import annotations

import pytest


from mapreduce_distributed_systems_spark.operators.dup_spans import (
    DUP_NGRAM_K,
    DUP_NGRAM_MASS_ORACLE,
    doc_dup_ngram_mass,
    dup_ngram_mass,
)
from tests.duck_oracle import compare_spark_vs_oracle


def test_dup_ngram_mass_matches_oracle(spark, sf_dir):
    """The compare the driver gate would run at registration."""
    df = doc_dup_ngram_mass(spark, sf_dir)
    compare_spark_vs_oracle(df, DUP_NGRAM_MASS_ORACLE, sf_dir)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _w(prefix: str, i: int) -> str:
    """Letter-only distinct token (the reference tokenizer splits on
    digits, so f\"w{i}\" would collapse to the same token)."""
    return prefix + "abcdefghijklmnopqrstuvwxyz"[i % 26] * (i // 26 + 1)


def test_planted_shared_span_is_counted_in_both_docs(spark):
    """Two docs sharing one K-token span: each has exactly K-gram
    positions covering the shared span duplicated, the rest unique."""
    shared = " ".join(_w("common", i) for i in range(DUP_NGRAM_K))
    a = shared + " " + " ".join(_w("aUniq", i) for i in range(DUP_NGRAM_K))
    b = shared + " " + " ".join(_w("bUniq", i) for i in range(DUP_NGRAM_K))
    out = dup_ngram_mass(
        _docs(spark, [(1, "s", a), (2, "s", b)])
    ).collect()[0]
    # each doc: 2K tokens -> K+1 k-gram positions; only position 1
    # (the pure shared span) repeats across docs
    assert out.n_docs == 2
    assert out.ngrams_total == 2 * (DUP_NGRAM_K + 1)
    assert out.ngrams_dup == 2
    assert abs(out.max_doc_dup_frac - round(1 / (DUP_NGRAM_K + 1), 6)) < 1e-12


def test_within_doc_repeat_counts_as_duplicated(spark):
    """Lee et al. semantics: a substring occurring twice in the SAME
    document is duplicated mass too (c_tot counts instances, not
    documents)."""
    span = " ".join(_w("w", i) for i in range(DUP_NGRAM_K))
    text = span + " xSep " + span
    out = dup_ngram_mass(_docs(spark, [(1, "s", text)])).collect()[0]
    # tokens = 2K+1 -> K+2 positions; the two pure-span positions
    # (start, and start of the second copy) share a sid
    assert out.ngrams_total == DUP_NGRAM_K + 2
    assert out.ngrams_dup == 2


def test_short_docs_are_excluded(spark):
    out = dup_ngram_mass(
        _docs(
            spark,
            [
                (1, "s", " ".join(_w("t", i) for i in range(DUP_NGRAM_K - 1))),
                (2, "s", ""),
            ],
        )
    )
    assert out.count() == 0


def test_all_unique_corpus_has_zero_dup_mass(spark):
    text = " ".join(_w("only", i) for i in range(3 * DUP_NGRAM_K))
    out = dup_ngram_mass(_docs(spark, [(7, "s", text)])).collect()[0]
    assert out.ngrams_dup == 0
    assert out.dup_frac == 0.0


def test_plan_has_no_sid_keyed_join(spark, sf_dir):
    """The scale contract this operator exists to demonstrate: hot
    boilerplate n-grams never become join keys. The only join in the
    plan is the uniform doc_id join of per-doc totals with singleton
    counts."""
    plan = doc_dup_ngram_mass(spark, sf_dir)._jdf.queryExecution().toString()
    joins = [
        ln for ln in plan.splitlines() if "Join" in ln and "doc_id" in ln
    ]
    assert not any("sid" in ln for ln in plan.splitlines() if "Join" in ln), (
        "a sid-keyed join appeared — the skew-free singleton-complement "
        "shape was lost"
    )
    assert joins, "expected the uniform doc_id totals/singles join"


def test_seeded_random_differential_vs_oracle(spark):
    """Seeded random corpora from a tiny vocabulary (forcing genuine
    k-gram collisions within and across docs) must match the DuckDB
    oracle exactly — the impact_prune differential discipline applied
    to the dup-mass plan."""
    import random
    import tempfile

    import duckdb

    from mapreduce_distributed_systems_spark.operators.dup_spans import (
        dup_ngram_mass,
    )

    vocab = ["alpha", "beta", "gamma", "delta"]
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        rows = []
        for doc_id in range(40):
            n_tok = rng.randint(0, 3 * DUP_NGRAM_K)
            text = " ".join(rng.choice(vocab) for _ in range(n_tok))
            rows.append((doc_id, rng.choice(["web", "book"]), text))
        d = tempfile.mkdtemp(prefix=f"dupmass_rand_{seed}_")
        sdf = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        sdf.write.mode("overwrite").parquet(f"{d}/documents.parquet")

        got = sorted(
            tuple(r)
            for r in dup_ngram_mass(
                spark.read.parquet(f"{d}/documents.parquet")
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        want = sorted(
            (r[0], r[1], int(r[2]), int(r[3]), r[4], r[5])
            for r in con.execute(DUP_NGRAM_MASS_ORACLE).fetchall()
        )
        assert got == want, f"seed {seed} diverged"


def test_scan_is_column_pruned(spark, sf_dir):
    """The documents scan must read only (doc_id, source, text) — a
    dup-mass pass over 100 TB must not drag the table's other columns
    through the explode."""
    plan = (
        doc_dup_ngram_mass(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for rs in plan.split("ReadSchema: ")[1:]:
        schema = rs.splitlines()[0]
        read_cols = {
            c.split(":")[0] for c in schema.split("<", 1)[1].rstrip(">").split(",")
        }
        assert read_cols <= {"doc_id", "source", "text"}, (
            f"documents scan reads extra columns: {read_cols}"
        )


# ---- span-level dedup rewrite (staged r13) -------------------------------

from mapreduce_distributed_systems_spark.operators.dup_spans import (  # noqa: E402
    SPAN_REWRITE_ORACLE,
    dedup_span_rewrite,
    span_dedup_rewrite,
)


def test_span_rewrite_matches_oracle(spark, sf_dir):
    """The compare the driver gate would run at registration."""
    df = dedup_span_rewrite(spark, sf_dir)
    compare_spark_vs_oracle(df, SPAN_REWRITE_ORACLE, sf_dir)


def test_second_occurrence_is_removed_first_survives(spark):
    shared = " ".join(_w("common", i) for i in range(DUP_NGRAM_K))
    fill1 = " ".join(_w("one", i) for i in range(DUP_NGRAM_K))
    fill2 = " ".join(_w("two", i) for i in range(DUP_NGRAM_K))
    out = {
        r.doc_id: r
        for r in span_dedup_rewrite(
            _docs(
                spark,
                [(1, "s", shared + " " + fill1), (2, "s", shared + " " + fill2)],
            )
        ).collect()
    }
    # doc 1 owns every global first -> untouched
    assert out[1].n_after == out[1].n_before == 2 * DUP_NGRAM_K
    assert out[1].new_text == shared + " " + fill1
    # doc 2's copy of the shared span is removed whole
    assert out[2].n_before == 2 * DUP_NGRAM_K
    assert out[2].n_after == DUP_NGRAM_K
    assert out[2].new_text == fill2


def test_within_doc_repeat_keeps_only_the_first_copy(spark):
    span = " ".join(_w("w", i) for i in range(DUP_NGRAM_K))
    text = span + " xSep " + span
    row = span_dedup_rewrite(_docs(spark, [(1, "s", text)])).collect()[0]
    assert row.n_before == 2 * DUP_NGRAM_K + 1
    assert row.n_after == DUP_NGRAM_K + 1
    assert row.new_text == span + " xSep"


def test_short_and_empty_docs_pass_through_tokenized(spark):
    out = {
        r.doc_id: r
        for r in span_dedup_rewrite(
            _docs(spark, [(1, "s", "just a few words"), (2, "s", "")])
        ).collect()
    }
    assert out[1].n_before == out[1].n_after == 4
    assert out[1].new_text == "just a few words"
    assert out[2].n_after == 0 and out[2].new_text == ""


def test_span_rewrite_first_occurrence_agg_is_hash_not_sort(spark, sf_dir):
    """r13 profile finding (the round-5 string-min lesson recurring):
    min over a STRUCT falls to SortAggregate, so the (doc_id, pos)
    winner is packed into one bigint to keep the corpus-sized
    sid-keyed aggregate a HashAggregate. Pin it, plus the absence of
    any sid-keyed join (the same scale contract as the mass query)."""
    plan = (
        dedup_span_rewrite(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortAggregate" not in plan, (
        "the first-occurrence aggregate regressed to SortAggregate — "
        "a non-hashable aggregate buffer crept back in"
    )
    assert not any(
        "sid" in ln for ln in plan.splitlines() if "Join" in ln
    ), "a sid-keyed join appeared in the rewrite plan"


def test_span_rewrite_packed_encoding_bound_is_loud(spark):
    """Past-the-bound coordinates must raise, never silently produce a
    wrong min. 2^20 tokens per doc is the pos bound; build a doc just
    over it cheaply by repeating one word (the raise fires during the
    explode, before any aggregate)."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    text = " ".join("w" for _ in range(1048576 + DUP_NGRAM_K))
    with pytest.raises(SparkRuntimeException, match="packed-bigint bound"):
        span_dedup_rewrite(_docs(spark, [(1, "s", text)])).collect()


def test_span_rewrite_seeded_random_differential(spark):
    """Seeded tiny-vocabulary corpora (heavy genuine span duplication)
    vs the DuckDB oracle, exact."""
    import random
    import tempfile

    import duckdb

    vocab = ["alpha", "beta", "gamma"]
    for seed in (5, 23):
        rng = random.Random(seed)
        rows = []
        for doc_id in range(30):
            n_tok = rng.randint(0, 3 * DUP_NGRAM_K)
            text = " ".join(rng.choice(vocab) for _ in range(n_tok))
            rows.append((doc_id, rng.choice(["web", "book"]), text))
        d = tempfile.mkdtemp(prefix=f"spanrw_rand_{seed}_")
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

        got = sorted(
            tuple(r)
            for r in span_dedup_rewrite(
                spark.read.parquet(f"{d}/documents.parquet")
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        want = sorted(
            (int(r[0]), r[1], int(r[2]), int(r[3]), r[4])
            for r in con.execute(SPAN_REWRITE_ORACLE).fetchall()
        )
        assert got == want, f"seed {seed} diverged"


def test_span_rewrite_plan_has_no_sid_keyed_join(spark, sf_dir):
    """Same scale contract as the mass query: the first-occurrence
    winners re-key by their own doc_id; no join ever keys on sid."""
    plan = (
        dedup_span_rewrite(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not any("sid" in ln for ln in plan.splitlines() if "Join" in ln)


# ---------------------------------------------------------------- #
# Property: the rewrite law holds for RANDOM corpora — a pure-python
# third engine (no shared code with Spark or DuckDB) rederives the
# full pipeline: tokenize, 60-bit md5 sids, global first occurrence
# by (doc_id, pos), window-union removal, rebuild. Tiny vocabularies
# force heavy genuine duplication, including within-doc repeats and
# cross-doc boilerplate — the regimes the r13 hash-set rebuild and
# packed-bigint min must preserve exactly.
# ---------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_rand_corpus = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma"]),
        min_size=0,
        max_size=3 * DUP_NGRAM_K,
    ),
    min_size=1,
    max_size=6,
)


def _python_span_rewrite(docs):
    """[(doc_id, source, text)] -> {doc_id: (n_before, n_after,
    new_text)} — independent rederivation of the whole rewrite."""
    import hashlib
    import re as _re

    tok = _re.compile(r"[^\W\d_]+", _re.UNICODE)  # \p{L}+ equivalent
    toks = {d: tok.findall(t) for d, _s, t in docs}
    first: dict[int, tuple[int, int]] = {}
    for d, _s, _t in sorted(docs):
        t = toks[d]
        for p in range(1, len(t) - DUP_NGRAM_K + 2):
            sid = int(
                hashlib.md5(
                    " ".join(t[p - 1 : p - 1 + DUP_NGRAM_K]).encode()
                ).hexdigest()[:15],
                16,
            )
            cand = (d, p)
            if sid not in first or cand < first[sid]:
                first[sid] = cand
    out = {}
    for d, _s, _t in docs:
        t = toks[d]
        if len(t) < DUP_NGRAM_K:
            out[d] = (len(t), len(t), " ".join(t))
            continue
        kept_starts = set()
        for p in range(1, len(t) - DUP_NGRAM_K + 2):
            sid = int(
                hashlib.md5(
                    " ".join(t[p - 1 : p - 1 + DUP_NGRAM_K]).encode()
                ).hexdigest()[:15],
                16,
            )
            if first[sid] == (d, p):
                kept_starts.add(p)
        covered = set()
        for p in range(1, len(t) - DUP_NGRAM_K + 2):
            if p not in kept_starts:
                covered.update(range(p, p + DUP_NGRAM_K))
        kept = [t[i - 1] for i in range(1, len(t) + 1) if i not in covered]
        out[d] = (len(t), len(kept), " ".join(kept))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(corpus=_rand_corpus)
@pytest.mark.slow  # driver-budget profile, see pytest.ini
def test_span_rewrite_matches_python_on_random_corpora(spark, corpus):
    docs = [
        (doc_id, "s", " ".join(words)) for doc_id, words in enumerate(corpus)
    ]
    want = _python_span_rewrite(docs)
    got = {
        r.doc_id: (r.n_before, r.n_after, r.new_text)
        for r in span_dedup_rewrite(_docs(spark, docs)).collect()
    }
    assert got == want
