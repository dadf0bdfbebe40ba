"""Integer k-means invariants the unrolled-SQL oracles cannot reach:
the fit-sample lever, the driver-side fit against the distributed
loop, and the two-level (coarse-quantizer) router."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.sources import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def test_int8_fit_sample_lever(spark, sf_dir):
    """The quantizer-training sample: identity below the cap (the code
    path every static oracle replays), bounded + deterministic + a
    superset of the md5 init seeds above it."""
    import numpy as np

    from mapreduce_distributed_systems_spark.operators.kmeans import (
        FIT_SAMPLE_CAP,
        _fit_sample_int8,
        kmeans_fit_int8,
        quantize_int8,
    )

    q8 = quantize_int8(_emb(spark, sf_dir))
    n = q8.count()
    assert n <= FIT_SAMPLE_CAP  # driver/bench SFs sit below the cap...
    assert _fit_sample_int8(q8, n) is q8  # ...where the lever is identity

    # force the lever with a shrunken cap: sample is exactly-cap,
    # deterministic, and the fit over it is reproducible. The cap is
    # max(FIT_SAMPLE_CAP, FIT_PER_CELL * k) since round 7 (a fixed cap
    # under a corpus-scaled k starved the quantizer), so both knobs
    # shrink for the test.
    import mapreduce_distributed_systems_spark.operators.kmeans as km

    old = km.FIT_SAMPLE_CAP
    old_pc = km.FIT_PER_CELL
    km.FIT_SAMPLE_CAP = 100
    km.FIT_PER_CELL = 4
    try:
        s = _fit_sample_int8(q8, n)
        ids1 = sorted(r.vec_id for r in s.select("vec_id").collect())
        ids2 = sorted(r.vec_id for r in _fit_sample_int8(q8, n).select("vec_id").collect())
        assert len(ids1) == 100 and ids1 == ids2
        c1 = kmeans_fit_int8(q8, k=4, n_iter=1, n=n)
        c2 = kmeans_fit_int8(q8, k=4, n_iter=1, n=n)
        assert np.array_equal(c1, c2)
        # init seeds (k smallest md5) are inside the sample by
        # construction: sample = FIT_SAMPLE_CAP smallest md5
        seeds = km._init_centroids_int8(s, 4)
        full_seeds = km._init_centroids_int8(q8, 4)
        assert np.array_equal(seeds, full_seeds)
    finally:
        km.FIT_SAMPLE_CAP = old
        km.FIT_PER_CELL = old_pc


def test_driver_fit_matches_distributed(spark, sf_dir):
    """The r13 driver-side bounded fit (one TakeOrdered collect +
    local numpy Lloyd) must be bit-identical to the distributed
    per-iteration stats loop it replaces below DRIVER_FIT_MAX_ROWS —
    the IVF-family oracles replay the fit in unrolled SQL, so ANY
    drift is a certified-hash break. Covers both the n <= cap regime
    (sample = whole corpus; every certified SF) and the n > cap
    regime (TakeOrdered sample), and the two-level-forced fit."""
    import numpy as np

    import mapreduce_distributed_systems_spark.operators.kmeans as km

    q8 = km.quantize_int8(_emb(spark, sf_dir))
    n = q8.count()

    def both(k, **kw):
        drv = km.kmeans_fit_int8(q8, k=k, n=n, **kw)
        old = km.DRIVER_FIT_MAX_ROWS
        km.DRIVER_FIT_MAX_ROWS = -1  # force the distributed loop
        try:
            dist = km.kmeans_fit_int8(q8, k=k, n=n, **kw)
        finally:
            km.DRIVER_FIT_MAX_ROWS = old
        return drv, dist

    drv, dist = both(km.K, n_iter=km.N_ITER_INT8)
    assert np.array_equal(drv, dist)

    # n > cap: shrink the cap so the TakeOrdered sample binds
    old_cap, old_pc = km.FIT_SAMPLE_CAP, km.FIT_PER_CELL
    km.FIT_SAMPLE_CAP, km.FIT_PER_CELL = 100, 4
    try:
        drv, dist = both(4, n_iter=2)
        assert np.array_equal(drv, dist)
    finally:
        km.FIT_SAMPLE_CAP, km.FIT_PER_CELL = old_cap, old_pc

    # forced two-level routing inside the fit (kmeans_cells_two_level)
    drv, dist = both(km.K, n_iter=1, two_level_gate=0, two_level_w=10**9)
    assert np.array_equal(drv, dist)


# --------------------------------------------------------------------------
# Two-level (coarse-quantizer) assignment — ROADMAP round-7 backlog #0.
# Pure-numpy invariants (the dispatch is driver/executor-side numpy;
# the Spark path is the same closure) plus the gate contract.
# --------------------------------------------------------------------------


def _tl_mod():
    import mapreduce_distributed_systems_spark.operators.kmeans as km

    return km


def test_two_level_full_probe_is_bit_identical():
    """With w = g (probe every coarse group) the two-level argmin must
    equal the flat argmin EXACTLY — including distance ties, which both
    paths break to the lower cell id. Duplicate centroids are planted
    to make ties real rather than hypothetical."""
    import numpy as np

    km = _tl_mod()
    rng = np.random.RandomState(7)
    k, dim, n = 257, 16, 4000
    cents = rng.randint(-127, 128, size=(k, dim)).astype(np.int64)
    cents[101] = cents[17]  # exact duplicate -> guaranteed ties
    cents[202] = cents[3]
    m = np.empty((n, dim), dtype=np.int64)
    # half the points ARE centroids (distance-0 ties on the dups),
    # half are noisy copies
    m[: n // 2] = cents[rng.randint(0, k, n // 2)]
    m[n // 2 :] = cents[rng.randint(0, k, n - n // 2)] + rng.randint(
        -3, 4, size=(n - n // 2, dim)
    )
    exact = km._argmin_cells_int64(m, cents)
    g = int(np.ceil(np.sqrt(k)))
    cc, members = km._coarse_fit(cents, g)
    mcents = [cents[mm] for mm in members]
    tl = km._argmin_two_level(m, cc, members, mcents, w=len(cc))
    assert np.array_equal(exact, tl)


def test_two_level_default_w_agreement_on_clustered_data():
    """Default probe width on clustered data (the IVF regime: points
    near their centroids): agreement with the flat argmin stays high.
    This is the recall contract the approximate path trades the
    sqrt(k) scan for."""
    import numpy as np

    km = _tl_mod()
    rng = np.random.RandomState(11)
    k, dim = 512, 16
    cents = rng.randint(-127, 128, size=(k, dim)).astype(np.int64)
    n = 8000
    m = cents[rng.randint(0, k, n)] + rng.randint(-5, 6, size=(n, dim))
    exact = km._argmin_cells_int64(m, cents)
    g = int(np.ceil(np.sqrt(k)))
    cc, members = km._coarse_fit(cents, g)
    mcents = [cents[mm] for mm in members]
    tl = km._argmin_two_level(m, cc, members, mcents, w=km.COARSE_PROBE_W)
    agree = float(np.mean(exact == tl))
    assert agree >= 0.95, agree


def test_two_level_gate_and_index_shape():
    """_coarse_index_for: None at/below the gate (every certified path
    keeps the exact flat argmin); above it, a complete partition of the
    fine cells into nonempty coarse groups."""
    import numpy as np

    km = _tl_mod()
    rng = np.random.RandomState(3)
    small = rng.randint(-127, 128, size=(km.TWO_LEVEL_MIN_K, 8)).astype(
        np.int64
    )
    assert km._coarse_index_for(small) is None

    big = rng.randint(-127, 128, size=(km.TWO_LEVEL_MIN_K + 1, 8)).astype(
        np.int64
    )
    ci = km._coarse_index_for(big)
    assert ci is not None
    cc, members, mcents, w = ci
    assert w == km.COARSE_PROBE_W
    assert all(mm.size for mm in members)  # empty groups dropped
    flat = np.sort(np.concatenate(members))
    assert np.array_equal(flat, np.arange(len(big)))  # exact partition
    for mm, mc in zip(members, mcents):
        assert np.array_equal(mc, big[mm])


def test_two_level_spark_dispatch_matches_exact(spark, sf_dir):
    """The real Spark assignment pass through a forced two-level gate
    (w = g so routing is exhaustive) returns the same cells as the
    exact pass — the dispatch seam itself is what this pins."""
    import numpy as np

    from mapreduce_distributed_systems_spark.operators.kmeans import (
        assign_int8,
        kmeans_fit_int8,
        quantize_int8,
    )

    km = _tl_mod()
    q8 = quantize_int8(_emb(spark, sf_dir))
    cents = kmeans_fit_int8(q8, k=8, n_iter=1)
    before = sorted(
        (r.vec_id, r.cell) for r in assign_int8(q8, cents).collect()
    )
    old_gate, old_w = km.TWO_LEVEL_MIN_K, km.COARSE_PROBE_W
    km.TWO_LEVEL_MIN_K = 2  # force the two-level branch at k=8
    km.COARSE_PROBE_W = 10**6  # probe everything -> must be identical
    try:
        after = sorted(
            (r.vec_id, r.cell) for r in assign_int8(q8, cents).collect()
        )
    finally:
        km.TWO_LEVEL_MIN_K = old_gate
        km.COARSE_PROBE_W = old_w
    assert before == after


def test_fit_gate_dispatch_and_forced_identity(spark):
    """Round-8 fit lever: (a) _coarse_index_for honors the gate
    parameter (fit engages at TWO_LEVEL_MIN_FIT_K, far below the
    serving gate); (b) a FIT forced through the two-level router with
    w >= g returns bit-identical centroids to the flat fit — the
    in-process twin of the kmeans_cells_two_level driver
    certification."""
    import numpy as np

    km = _tl_mod()
    rng = np.random.RandomState(21)
    cents = rng.randint(-127, 128, size=(km.TWO_LEVEL_MIN_FIT_K + 1, 8)).astype(
        np.int64
    )
    assert km._coarse_index_for(cents) is None  # serving gate: still flat
    assert km._coarse_index_for(cents, gate=km.TWO_LEVEL_MIN_FIT_K) is not None
    assert km._coarse_index_for(cents, gate=0, w=10**9)[3] == 10**9

    n, dim, k = 600, 8, 16
    pts = cents[rng.randint(0, len(cents), n)][:, :dim] + rng.randint(
        -3, 4, size=(n, dim)
    )
    q8 = spark.createDataFrame(
        [(int(i), [int(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, qv array<bigint>",
    )
    flat = km.kmeans_fit_int8(q8, k=k, n=n, two_level_gate=10**9)
    forced = km.kmeans_fit_int8(
        q8, k=k, n=n, two_level_gate=0, two_level_w=10**9
    )
    assert np.array_equal(flat, forced)


def test_fixture_ivf_k_stays_below_two_level_fit_gate():
    """Hash parity for every IVF query silently depends on
    ivf_k_for(embeddings.count()) <= TWO_LEVEL_MIN_FIT_K at ALL
    certified/parity SFs: above that gate the quantizer fit becomes
    approximate (coarse-routed) while the static SQL oracles replay
    the exact flat fit. Fixture growth must fail HERE, loudly, instead
    of as an opaque driver hash mismatch (ADVICE r8)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from mapreduce_distributed_systems_spark.operators.kmeans import (
        TWO_LEVEL_MIN_FIT_K,
    )
    from mapreduce_distributed_systems_spark.operators.similarity import (
        ivf_k_for,
    )

    # ADVICE r9: derive the fixture roots from the same env override
    # conftest honors, so pointing SPARK_GRAFT_TEST_SF_DIR elsewhere
    # keeps this guard watching the fixtures actually under test (the
    # sibling sf* dirs of the active one).
    from tests.conftest import SF_DIR

    dirs = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
    assert dirs, "no fixture SF dirs found"
    for d in dirs:
        n = pq.ParquetFile(f"{d}/embeddings.parquet").metadata.num_rows
        k = ivf_k_for(n)
        assert k <= TWO_LEVEL_MIN_FIT_K, (
            f"{d}: embeddings={n} -> ivf_k_for={k} exceeds "
            f"TWO_LEVEL_MIN_FIT_K={TWO_LEVEL_MIN_FIT_K}; the flat-fit "
            "SQL oracles no longer replay the Spark fit at this SF"
        )
