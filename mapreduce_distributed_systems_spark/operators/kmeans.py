"""Deterministic Lloyd's k-means over the embeddings table — the
engine's iterative-algorithm capability (driver-side loop over
DataFrame steps, state persisted between iterations).

Everything is deterministic and engine-portable:
- init: the k vectors with the smallest md5(vec_id) (content-addressed
  seeding, no RNG);
- fixed N_ITER_INT8 Lloyd steps; distance ties broken by cell id;
- empty cells keep their previous centroid.

The fit is integer-exact (see the section below), so kmeans_cells and
the IVF family are hash-certified against unrolled-SQL DuckDB oracles;
tests/test_kmeans.py pins the fit's sample lever, the driver-side fit
and the two-level router.

Scale: each iteration is one broadcast (k x dim centroids, driver
side) + one narrow pass computing argmin + one groupBy(cell) shuffle
of partial sums — O(n·k·d) compute, O(k·d) state, independent of
partition layout. This is exactly how MLlib's k-means iterates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

K = 8


# --------------------------------------------------------------------------
# Integer-exact Lloyd's over the int8-quantized corpus (round-4,
# VERDICT r3 item 6). EVERY quantity is an integer: vectors are the
# symmetric int8 quantization (identical expression to
# operators/vector_ops.py, already bit-reproduced by DuckDB), distances
# are bigint sums of squared int diffs, and centroid updates are floor
# divisions. That makes the whole
# learned quantizer — init, every assignment, every update — exactly
# replayable as (unrolled) SQL, which is what upgrades ann_ivf_kmeans
# from a rows-only driver check to a full hash-certified one.
# This is also a real production shape: FAISS-style IVF training over
# SQ8-compressed vectors, 1/8 the scan bytes of the float corpus.
# --------------------------------------------------------------------------

N_ITER_INT8 = 2

# symmetric per-vector int8: scale = max|x|/127, q = round(x/scale) —
# verbatim the expression ann_cosine_int8 already hash-certifies
Q8_EXPR = (
    "transform(v, x -> cast(round(x / (greatest(array_max("
    "transform(v, y -> abs(y))), 1e-12d) / 127.0d), 0) as bigint))"
)


def quantize_int8(emb: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>) -> (vec_id, qv: array<bigint>)."""
    return emb.select("vec_id", F.expr(Q8_EXPR).alias("qv"))


def _init_centroids_int8(q8: DataFrame, k: int) -> np.ndarray:
    seeds = (
        q8.select("vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    return np.array([r.qv for r in seeds], dtype=np.int64)


# rows per argmin slab inside an Arrow batch: peak numpy memory is
# ASSIGN_CHUNK x k x 8 bytes (the distance matrix), NOT batch x k x
# dim — the difference-tensor formulation this replaces allocated
# batch x k x dim x 8 (41 GB/worker at k=800, dim=64, batch=10k: the
# round-7 100x probe OOM). 1024 rows x k=100k cells would still be
# only 0.8 GB.
ASSIGN_CHUNK = 1024


def _argmin_cells_int64(m: np.ndarray, bc: np.ndarray) -> np.ndarray:
    """argmin_c ||m_i - bc_c||^2 over int64 inputs, EXACTLY: the
    expansion |q|^2 + |c|^2 - 2 q.c is integer arithmetic (BLAS-free
    int64 matmul), so distances — and tie-breaking to the lower cell,
    argmin's first minimum — are bit-identical to the difference-sum
    formulation the SQL oracles replay. |q| <= 127, dim <= thousands:
    no int64 overflow."""
    c2 = (bc * bc).sum(axis=1)  # (k,)
    out = np.empty(m.shape[0], dtype=np.int32)
    for lo in range(0, m.shape[0], ASSIGN_CHUNK):
        chunk = m[lo : lo + ASSIGN_CHUNK]
        q2 = (chunk * chunk).sum(axis=1)  # (c,)
        d2 = q2[:, None] + c2[None, :] - 2 * (chunk @ bc.T)
        out[lo : lo + ASSIGN_CHUNK] = d2.argmin(axis=1).astype(np.int32)
    return out


# --------------------------------------------------------------------------
# Two-level (coarse-quantizer) assignment — the next-decade scale lever
# for the IVF family (ROADMAP round-7 backlog #0). With k = ivf_k_for(n)
# ~ n / IVF_TARGET_CELL, the flat assignment pass is O(n x k x d) =
# O(n^2 d / TARGET_CELL): linear-per-vector only while k is small. At
# 10^7+ vectors (k > ~40k) the per-vector scan of every centroid is the
# dominant cost. The standard fix (FAISS IMI / hierarchical k-means) is
# a coarse quantizer OVER THE CENTROIDS: group the k fine centroids
# into g ~ sqrt(k) coarse groups, route each vector to its w nearest
# coarse groups, and argmin only over those groups' members —
# O(n x d x (g + w·k/g)) = O(n x d x sqrt(k) x (1 + w)) per pass.
#
# GATED ON k: at or below TWO_LEVEL_MIN_K cells the dispatch keeps the
# exact single-level argmin, so every certified driver/bench SF
# (k <= 8 via ivf_k_for at <= 2000 vectors) and every current scale
# probe (k = 800 at the 100x leg) is bit-identical to before — the
# static SQL oracles continue to pin the exact path. Above the gate the
# assignment is approximate in the usual IVF sense (a vector whose true
# nearest centroid lives in an unprobed coarse group is routed to its
# best probed cell); for the dedup/ANN consumers that only changes
# which cell blocks a vector lands in, trading a bounded recall loss
# for the sqrt(k) scan. With w = g (probe everything) the result is
# exactly the flat argmin — tests/test_kmeans.py pins that identity and
# the default-w agreement floor; BENCH_NOTES "Round-7 two-level IVF
# assignment probe" measures the speedup at a post-gate k.
# --------------------------------------------------------------------------

TWO_LEVEL_MIN_K = 4096  # <=: exact flat argmin (all certified paths)
COARSE_PROBE_W = 8  # coarse groups probed per vector above the gate

# Round-8 (VERDICT r7 task 4): the quantizer FIT engages the two-level
# router earlier than the serving assignment. The fit's per-iteration
# cost is O(sample x k x d) with sample = FIT_PER_CELL x k, i.e.
# O(k^2) — between the k=8 floor and TWO_LEVEL_MIN_K that grew
# quadratically with the corpus (ivf_k_for makes k corpus-
# proportional; the r7 BENCH_NOTES 100x table names this window
# honestly). Routing each fit row through the coarse index instead
# costs O(sqrt(k) x (1 + w) x d) per row — the break-even against the
# flat k x d scan is k ~ (1 + w)^2 = 81, so the fit gate sits at 128:
# safely past break-even, while every certified driver/bench SF
# (k = 8 via ivf_k_for at <= 2000 vectors) keeps the exact flat fit
# the static SQL oracles replay. Lloyd tolerates approximate
# assignment (it still descends; k-means|| and FAISS train exactly
# this way), and the coarse index is rebuilt from the moving
# centroids each iteration (_coarse_fit is driver-side numpy,
# O(k^1.5 d) — subordinate to one routed pass). The SERVING
# assignment keeps the higher TWO_LEVEL_MIN_K gate: exactness there
# changes query results, so it buys the sqrt(k) scan only when the
# flat pass is hopeless. kmeans_cells_two_level certifies the
# two-level code path end-to-end through the driver gate at w = g,
# where it is bit-identical to the flat path by construction.
TWO_LEVEL_MIN_FIT_K = 128


def _coarse_fit(bc: np.ndarray, g: int, n_iter: int = 3) -> tuple:
    """Driver-side Lloyd over the k fine centroids themselves → g coarse
    centroids + per-group member lists (empty groups dropped). All
    numpy, O(k x g x d) per iteration = O(k^1.5 d): subordinate to one
    corpus pass. Deterministic, no RNG: init picks g evenly spaced rows
    of the lexicographic row-sort of the centroid matrix."""
    order = np.lexsort(bc.T[::-1])
    pick = order[np.linspace(0, len(bc) - 1, g).astype(np.int64)]
    cc = bc[pick].astype(np.int64)
    for _ in range(n_iter):
        a = _argmin_cells_int64(bc, cc)
        new = cc.copy()  # empty coarse groups keep previous centroid
        for c in range(g):
            mask = a == c
            if mask.any():
                new[c] = bc[mask].sum(axis=0) // int(mask.sum())
        cc = new
    a = _argmin_cells_int64(bc, cc)
    members = [np.flatnonzero(a == c) for c in range(g)]
    keep = [c for c in range(g) if members[c].size]
    return cc[keep], [members[c] for c in keep]


def _coarse_index_for(
    cents: np.ndarray, gate: int | None = None, w: int | None = None
):
    """None at or below the gate (exact flat path), else the
    precomputed coarse index (coarse centroids, member id lists,
    member centroid slices, probe width) — built ONCE driver-side and
    shipped in the task closure, like the centroids themselves.
    `gate` defaults to the serving-assignment TWO_LEVEL_MIN_K; the fit
    passes TWO_LEVEL_MIN_FIT_K, and the certified equivalence query
    forces gate=0 with w >= g (bit-identical to flat)."""
    k = len(cents)
    if gate is None:
        gate = TWO_LEVEL_MIN_K
    if w is None:
        w = COARSE_PROBE_W
    if k <= gate:
        return None
    g = int(np.ceil(np.sqrt(k)))
    cc, members = _coarse_fit(np.asarray(cents, dtype=np.int64), g)
    mcents = [np.asarray(cents, dtype=np.int64)[m] for m in members]
    return cc, members, mcents, w


def _argmin_two_level(
    m: np.ndarray,
    cc: np.ndarray,
    members: list,
    mcents: list,
    w: int,
) -> np.ndarray:
    """Two-level argmin: route each row to its w nearest coarse groups,
    then exact argmin over those groups' fine centroids. Tie-breaking
    matches the flat path exactly — lexicographic (distance, cell id) —
    so with w = g the output is bit-identical to _argmin_cells_int64.
    Peak memory per chunk is ASSIGN_CHUNK x max(g, max-group-size) x 8
    bytes, the same slab bound as the flat path."""
    g = len(cc)
    w = min(w, g)
    n = m.shape[0]
    out = np.empty(n, dtype=np.int32)
    cc2 = (cc * cc).sum(axis=1)
    for lo in range(0, n, ASSIGN_CHUNK):
        chunk = m[lo : lo + ASSIGN_CHUNK]
        c = chunk.shape[0]
        q2 = (chunk * chunk).sum(axis=1)
        dc = q2[:, None] + cc2[None, :] - 2 * (chunk @ cc.T)
        probe = np.argpartition(dc, w - 1, axis=1)[:, :w]
        probed = np.zeros((c, g), dtype=bool)
        probed[np.arange(c)[:, None], probe] = True
        best_d = np.full(c, np.iinfo(np.int64).max, dtype=np.int64)
        best_cell = np.full(c, np.iinfo(np.int32).max, dtype=np.int64)
        for gi in range(g):
            rows = np.flatnonzero(probed[:, gi])
            if rows.size == 0:
                continue
            sub = chunk[rows]
            fc = mcents[gi]
            f2 = (fc * fc).sum(axis=1)
            d2 = (sub * sub).sum(axis=1)[:, None] + f2[None, :] - 2 * (
                sub @ fc.T
            )
            j = d2.argmin(axis=1)  # first min = lowest member idx;
            # members are ascending, so lowest fine id within the group
            dmin = d2[np.arange(rows.size), j]
            cand = members[gi][j]
            upd = (dmin < best_d[rows]) | (
                (dmin == best_d[rows]) & (cand < best_cell[rows])
            )
            ridx = rows[upd]
            best_d[ridx] = dmin[upd]
            best_cell[ridx] = cand[upd]
        out[lo : lo + c] = best_cell.astype(np.int32)
    return out


def _argmin_cells(m: np.ndarray, bc: np.ndarray, ci) -> np.ndarray:
    """Gate dispatch: exact flat argmin when ci is None (k at or below
    TWO_LEVEL_MIN_K), else the two-level route-and-scan."""
    if ci is None:
        return _argmin_cells_int64(m, bc)
    cc, members, mcents, w = ci
    return _argmin_two_level(m, cc, members, mcents, w)


def assign_int8(
    q8: DataFrame,
    cents: np.ndarray,
    gate: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """Narrow pass: argmin_c sum_d (q_d - c_d)^2 in int64 (exact below
    the TWO_LEVEL_MIN_K gate; coarse-routed above it), ties -> lower
    cell (argmin returns the first minimum)."""
    import pandas as pd

    bc = cents
    ci = _coarse_index_for(bc, gate=gate, w=w)

    def assign_batch(batches):
        for pdf in batches:
            m = np.array(list(pdf["qv"]), dtype=np.int64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": _argmin_cells(m, bc, ci)}
            )

    return q8.mapInPandas(assign_batch, schema="vec_id long, cell int")


def assign_carry_int8(
    q8: DataFrame,
    cents: np.ndarray,
    gate: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """assign_int8 carrying qv through, so consumers that need the
    vectors co-located with the cell (the IVF pair stage) get them
    from ONE narrow python pass instead of a corpus-sized join back
    to q8 (the round-7 100x profile showed that join re-running the
    quantize+assign subtree per side)."""
    import pandas as pd

    bc = cents
    ci = _coarse_index_for(bc, gate=gate, w=w)

    def assign_batch(batches):
        for pdf in batches:
            m = np.array(list(pdf["qv"]), dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": _argmin_cells(m, bc, ci),
                    "qv": pdf["qv"],
                }
            )

    return q8.mapInPandas(
        assign_batch, schema="vec_id long, cell int, qv array<bigint>"
    )


# Quantizer-training sample bound. Real IVF never trains on the full
# corpus — FAISS's guidance is O(100s) of vectors per centroid, and it
# WARNS below ~39/centroid — so above the cap the fit runs on the
# sample-cap smallest md5(vec_id) vectors: content-addressed
# (engine-replayable, no RNG), a superset of the md5-seeded init, and
# a TakeOrdered — never a full sort. The cap scales with k
# (FIT_PER_CELL samples per centroid, floored at the historical
# FIT_SAMPLE_CAP): a FIXED cap under a corpus-scaled k starves the
# fit — the round-7 100x probe trained k=800 on 2000 points
# (2.5/centroid), the quantizer collapsed (p50 cell = 6, max = 7944),
# and in-cell pair work blew up 12x the balanced estimate. Fit cost is
# O(FIT_PER_CELL x k^2) per iteration — k/TARGET_CELL of the one
# full-corpus assignment pass, bounded and subordinate to it. Every
# driver/bench SF has <= cap vectors, so the static SQL oracles
# (which replay a full-corpus fit) pin exactly this code path; the
# scale probe engages the lever.
FIT_SAMPLE_CAP = 2000
FIT_PER_CELL = 64


def _fit_sample_int8(q8: DataFrame, n: int | None, k: int = K) -> DataFrame:
    if n is None:
        n = q8.count()
    cap = max(FIT_SAMPLE_CAP, FIT_PER_CELL * k)
    if n <= cap:
        # ADVICE r13 #2: a STALE caller-supplied n (<= cap while the
        # frame actually holds more rows) would make the distributed
        # fit train on the whole frame while the driver-side gate
        # trains on the cap-row md5-sample — divergent centroids. The
        # bounded limit-count (early-stopped at cap+1 rows) verifies
        # the claim; a dishonest n falls through to the sample, which
        # is correct for ANY true row count. This branch only runs on
        # the distributed path (cap > DRIVER_FIT_MAX_ROWS), so no
        # certified bench path pays the probe job.
        if q8.limit(cap + 1).count() <= cap:
            return q8
    # cached: the sample subplan is a full-corpus quantize + TakeOrdered
    # and feeds the dim probe, the init collect, and every Lloyd round —
    # uncached it would re-scan the corpus per consumer. Bounded at
    # cap rows; evicted at the next query's entry.
    return (
        q8.select("vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(cap)
        .select("vec_id", "qv")
        .cache()
    )


def _assign_stats_int8(
    q8: DataFrame,
    cents: np.ndarray,
    gate: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """Assignment pass that carries qv through, so the per-iteration
    centroid stats aggregate directly off the narrow pass — no
    join-back-to-q8 shuffle per Lloyd round. `gate`/`w` select the
    fit-time two-level engagement (TWO_LEVEL_MIN_FIT_K from
    kmeans_fit_int8)."""
    import pandas as pd

    bc = cents
    ci = _coarse_index_for(bc, gate=gate, w=w)

    def assign_batch(batches):
        for pdf in batches:
            m = np.array(list(pdf["qv"]), dtype=np.int64)
            yield pd.DataFrame(
                {"cell": _argmin_cells(m, bc, ci), "qv": pdf["qv"]}
            )

    return q8.mapInPandas(assign_batch, schema="cell int, qv array<bigint>")


# Driver-side fit gate (optimization round 13, guide §1.2/§5): the
# fit only ever reads the bounded md5-sample (<= cap rows), but the
# distributed loop paid 2 + n_iter sequential Spark actions for it —
# a dim probe, the init TakeOrdered, and one stats collect per Lloyd
# round, each re-deriving a plan and (at bench SFs, where the sample
# IS the uncached corpus) re-running the scan + quantize Python pass.
# A job-timeline probe (OPTIMIZATION_r13.md, per-query log) measured
# those actions + their submission gaps at
# ~3.5 s of the retrieval_rrf_fusion_ivf wall at sf0.1. When the
# sample bound is at most this many rows, ONE TakeOrdered collect
# pulls the sample (in the same (md5, vec_id) order the init already
# used) and the Lloyd rounds run in local numpy — the SAME
# _argmin_cells / _coarse_index_for / floor-division arithmetic the
# distributed stats pass executes, so the centroids are bit-identical
# (tests/test_kmeans.py::test_driver_fit_matches_distributed).
# Above the gate (corpus-scaled k: cap = FIT_PER_CELL x k) the
# distributed loop is unchanged — at 100 TB the sample is big enough
# that per-round cluster scans beat a single-process fit, exactly the
# regime the two-level router exists for.
DRIVER_FIT_MAX_ROWS = 4096


def _kmeans_fit_int8_driver(
    q8: DataFrame,
    k: int,
    n_iter: int,
    cap: int,
    two_level_gate: int,
    two_level_w: int | None,
) -> np.ndarray:
    """Collect-once local fit. The TakeOrdered by (md5(vec_id),
    vec_id) LIMIT cap is simultaneously the fit sample (when n > cap:
    exactly _fit_sample_int8's definition; when n <= cap: all n rows,
    since the limit never binds) and the init seeds (its first k rows
    are the k smallest by (h, vec_id) — _init_centroids_int8's
    definition, cap >= FIT_PER_CELL x k >= k always)."""
    rows = (
        q8.select(
            "qv", F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id"
        )
        .orderBy("h", "vec_id")
        .limit(cap)
        .select("qv")
        .collect()
    )
    m = np.array([r.qv for r in rows], dtype=np.int64)
    cents = m[:k].copy()
    for _ in range(n_iter):
        ci = _coarse_index_for(cents, gate=two_level_gate, w=two_level_w)
        a = _argmin_cells(m, cents, ci)
        new = cents.copy()  # empty cells keep previous centroid
        for c in np.unique(a):
            mask = a == c
            # same arithmetic as the distributed stats pass: int64
            # element sums, floor division by the member count
            new[c] = m[mask].sum(axis=0) // int(mask.sum())
        cents = new
    return cents


def kmeans_fit_int8(
    q8: DataFrame,
    k: int = K,
    n_iter: int = N_ITER_INT8,
    n: int | None = None,
    two_level_gate: int | None = None,
    two_level_w: int | None = None,
) -> np.ndarray:
    """n_iter integer Lloyd rounds; returns the final int64 centroids.

    Training input is the bounded md5-sample (see FIT_SAMPLE_CAP) —
    pass `n` (corpus size) if the caller already knows it to skip the
    count. While the sample bound is at most DRIVER_FIT_MAX_ROWS the
    whole fit runs driver-side off ONE bounded collect (see above);
    past the gate, per iteration: one narrow assignment pass carrying
    qv + one groupBy(cell) shuffle of O(k x dim) integer partial sums;
    the only driver-side action is the bounded k-row stats collect
    (the same shape as MLlib's iteration).
    Centroid update is floor(sum / n) — floor division, exact in
    int64, mirrored exactly by the SQL oracle. Both paths produce
    bit-identical centroids.

    Above TWO_LEVEL_MIN_FIT_K cells (override via `two_level_gate`)
    each iteration routes the fit sample through a coarse index
    rebuilt from the current centroids — O(sqrt(k) x (1 + w) x d) per
    row instead of the flat O(k x d), closing the quadratic fit window
    the r7 verdict flagged. Every certified SF sits at k = 8, far
    below the gate, so the static SQL oracles keep pinning the exact
    flat fit."""
    if two_level_gate is None:
        two_level_gate = TWO_LEVEL_MIN_FIT_K
    cap = max(FIT_SAMPLE_CAP, FIT_PER_CELL * k)
    if cap <= DRIVER_FIT_MAX_ROWS:
        return _kmeans_fit_int8_driver(
            q8, k, n_iter, cap, two_level_gate, two_level_w
        )
    fit = _fit_sample_int8(q8, n, k=k)
    dim = len(fit.select("qv").head()["qv"])
    cents = _init_centroids_int8(fit, k)
    for _ in range(n_iter):
        stats = (
            _assign_stats_int8(fit, cents, gate=two_level_gate, w=two_level_w)
            .groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = cents.copy()  # empty cells keep previous centroid
        for r in stats:
            sums = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.int64)
            new[r.cell] = sums // r.n  # floor division, exact
        cents = new
    return cents


def _kmeans_cells_oracle() -> str:
    """Unrolled-SQL replay of the int8 Lloyd fit — shares the CTE
    generator with ann_ivf_kmeans / dedup_embedding_cosine_ivf so all
    three quantizer consumers certify the SAME learned index."""
    from mapreduce_distributed_systems_spark.operators.similarity import (
        DIM,
        _kmeans_cells_sql,
    )

    return (
        _kmeans_cells_sql(k=K, n_iter=N_ITER_INT8, dim=DIM)
        + "\nSELECT vec_id, cell FROM af"
    )


@register(
    "kmeans_cells",
    oracle=_kmeans_cells_oracle(),
    tags=("similarity", "iterative", "kmeans"),
    doc="Deterministic Lloyd k-means cell assignment — the coarse "
    "quantizer a real IVF index uses. Round 5: switched from the "
    "float fit to the integer-exact int8 fit (kmeans_fit_int8 — int8 "
    "vectors, bigint distances, floor-division updates, md5-seeded "
    "init) so the full iterative algorithm is hash-certified by an "
    "unrolled-SQL DuckDB oracle instead of a rows-only check.",
    # VERDICT r13 #1c: the fit body (incl. the r13 driver-fit gate)
    # is shared module machinery — declare it so edits drift this
    # query's certified fingerprint
    helpers=(kmeans_fit_int8,),
)
def kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q8 = quantize_int8(emb)
    cents = kmeans_fit_int8(q8, k=K, n_iter=N_ITER_INT8, n=emb.count())
    return assign_int8(q8, cents).select("vec_id", "cell")


@register(
    "kmeans_cells_two_level",
    oracle=_kmeans_cells_oracle(),  # the FLAT replay: w = g is bit-identical
    tags=("similarity", "iterative", "kmeans", "two-level"),
    doc="The certified equivalence path for the two-level "
    "(coarse-quantizer) router (VERDICT r7 task 4): the SAME fit and "
    "assignment as kmeans_cells, but every argmin — each Lloyd "
    "iteration's and the final corpus pass — is FORCED through the "
    "two-level route-and-scan (gate 0) with w = g, where probing all "
    "coarse groups makes it bit-identical to the flat argmin by "
    "construction. Hash-matching the flat SQL replay therefore "
    "certifies the router's grouping, member mapping, tie-breaking "
    "(distance, then lowest cell id), and chunking end-to-end through "
    "the driver gate — the machinery the fit engages above "
    "TWO_LEVEL_MIN_FIT_K and serving engages above TWO_LEVEL_MIN_K, "
    "where w < g trades bounded routing recall for the sqrt(k) scan "
    "(agreement floor: tests/test_kmeans.py; speedup: "
    "BENCH_NOTES 'Round-7 two-level IVF assignment probe' and the "
    "fit-scaling table).",
    helpers=(kmeans_fit_int8,),  # VERDICT r13 #1c
)
def kmeans_cells_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q8 = quantize_int8(emb)
    force = {"gate": 0, "w": 10**9}  # always build the index, probe all groups
    cents = kmeans_fit_int8(
        q8,
        k=K,
        n_iter=N_ITER_INT8,
        n=emb.count(),
        two_level_gate=0,
        two_level_w=10**9,
    )
    return assign_int8(q8, cents, **force).select("vec_id", "cell")
