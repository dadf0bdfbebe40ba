"""Persisted IVF index contract (storage/vector_index.py): manifest
commit ordering, version time travel across refits, partition-pruned
candidate reads, and serving-equals-refit equivalence."""

from __future__ import annotations

import json
import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import get_spec
from mapreduce_distributed_systems_spark.storage.vector_index import (
    build_and_commit_ivf,
    read_ivf_index,
    write_ivf_index,
)


def test_manifest_is_the_commit_point(spark, sf_dir):
    """Both parquet dirs must be complete before any manifest appears,
    and the pointer must resolve to existing dirs — a reader that finds
    a manifest never sees missing data."""
    base = tempfile.mkdtemp(prefix="ivf_commit_")
    path = build_and_commit_ivf(spark, sf_dir, base)
    with open(path) as f:
        manifest = json.load(f)
    for key in ("codes_dir", "centroids_dir"):
        assert os.path.isdir(manifest[key])
    assert os.path.exists(os.path.join(manifest["centroids_dir"], "_SUCCESS"))
    assert not os.path.exists(path + ".tmp")
    # versioned commit record left behind for time travel
    assert os.path.exists(os.path.join(base, "manifest-001.json"))


def test_round_trip_preserves_codes_and_cells(spark, sf_dir):
    from mapreduce_distributed_systems_spark.operators.similarity import (
        _ivf_build,
    )

    _q8, assigned, cells = _ivf_build(spark, sf_dir)
    # r14: assigned carries qv from the one assign_carry pass — the
    # codes table is a projection, not a join
    codes = assigned.select("vec_id", "qv", "cell")
    base = tempfile.mkdtemp(prefix="ivf_rt_")
    write_ivf_index(codes, cells, base)
    codes2, cells2, manifest = read_ivf_index(spark, base)
    assert manifest["version"] == 1
    want = {(r.vec_id, tuple(r.qv), r.cell) for r in codes.collect()}
    got = {(r.vec_id, tuple(r.qv), int(r.cell)) for r in codes2.collect()}
    assert got == want
    assert {(r.cell, tuple(r.cv)) for r in cells2.collect()} == {
        (r.cell, tuple(r.cv)) for r in cells.collect()
    }


def test_version_time_travel_across_refits(spark, sf_dir):
    """A refit commits version+1 with v1 left immutable: the pointer
    serves v2, a pinned read still resolves v1 byte-for-byte — the
    same contract compact_snapshot certifies for KV snapshots."""
    from mapreduce_distributed_systems_spark.operators.similarity import (
        _ivf_build,
    )

    _q8, assigned, cells = _ivf_build(spark, sf_dir)
    codes = assigned.select("vec_id", "qv", "cell")  # r14 carry-through
    base = tempfile.mkdtemp(prefix="ivf_tt_")
    write_ivf_index(codes, cells, base, version=1)
    # "refit": v2 drops half the corpus (a deterministic visible change)
    write_ivf_index(
        codes.where(F.col("vec_id") % 2 == 0), cells, base, version=2
    )
    latest, _, m_latest = read_ivf_index(spark, base)
    pinned, _, m_pinned = read_ivf_index(spark, base, version=1)
    assert m_latest["version"] == 2 and m_pinned["version"] == 1
    assert latest.count() == pinned.where(F.col("vec_id") % 2 == 0).count()
    assert pinned.count() == codes.count()


def test_probe_read_is_partition_pruned(spark, sf_dir):
    """The point of cell-partitioned code lists: a candidate read for a
    probed cell subset must plan partition filters on `cell` and touch
    only that cell's files — n_probe/k of the index bytes, not a full
    scan."""
    base = tempfile.mkdtemp(prefix="ivf_prune_")
    build_and_commit_ivf(spark, sf_dir, base)
    codes, _cells, manifest = read_ivf_index(spark, base)
    pruned = codes.where(F.col("cell") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the cell predicate must land in PartitionFilters (directory-level
    # skipping), NOT in DataFilters/PushedFilters (row-group-level)
    tail = plan.split("PartitionFilters: [", 1)
    assert len(tail) == 2, f"no partition filters in plan:\n{plan}"
    assert "cell" in tail[1][:200]
    assert "DataFilters: []" in plan
    # and the partition column stays out of the parquet ReadSchema —
    # it is directory metadata, so the probed read moves 0 bytes of it
    read_schema = plan.split("ReadSchema: ", 1)[1]
    assert "cell" not in read_schema
    # cross-check the pruned row count against the full index
    full = {r.cell: r.cnt for r in
            codes.groupBy("cell").agg(F.count("*").alias("cnt")).collect()}
    assert pruned.count() == full.get(0, 0)


def test_persisted_serving_equals_refit(spark, sf_dir):
    """ann_ivf_persisted (load index, probe) must return exactly
    ann_ivf_kmeans (fit, probe): persistence is semantically
    invisible."""
    served = get_spec("ann_ivf_persisted").fn(spark, sf_dir)
    refit = get_spec("ann_ivf_kmeans").fn(spark, sf_dir)
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    a = {key(r): (r.neighbor_id, r.cos_q8) for r in served.collect()}
    b = {key(r): (r.neighbor_id, r.cos_q8) for r in refit.collect()}
    assert a == b


def _append_in(spark, sf_dir, base):
    """Run the registered ann_ivf_index_append with its scratch dir
    pinned to `base`, so the test can read the versions it commits."""
    real_mkdtemp = tempfile.mkdtemp
    try:
        tempfile.mkdtemp = lambda prefix=None, **kw: base  # pin the dir
        return get_spec("ann_ivf_index_append").fn(spark, sf_dir).collect()
    finally:
        tempfile.mkdtemp = real_mkdtemp


def test_append_preserves_base_codes_and_centroids(spark, sf_dir):
    """The incremental append (ann_ivf_index_append) must (a) cover
    the whole corpus across the two generations, (b) leave version 1
    resolvable with exactly the base codes, (c) serve version 2
    with the SAME centroid table — frozen, not refit, and (d) write
    one data file per cell partition, because write_ivf_index
    repartitions by cell (the small-files fix)."""
    import glob

    from mapreduce_distributed_systems_spark.sources import load_table

    base = tempfile.mkdtemp(prefix="ivf_append_test_")
    rows = _append_in(spark, sf_dir, base)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_base = emb.where(F.col("vec_id") % 2 == 0).count()
    assert sum(r["n_base"] for r in rows) == n_base
    assert sum(r["n_appended"] for r in rows) == n - n_base
    # every appended vector landed in a learned cell (k rows, all cells
    # present exactly once)
    assert len(rows) == len({r["cell"] for r in rows})
    # (b) a pinned v1 read holds exactly the base split, all gen 1
    codes_v1, cells_v1, _ = read_ivf_index(spark, base, version=1)
    base_ids = sorted(
        r.vec_id for r in emb.where(F.col("vec_id") % 2 == 0).collect()
    )
    v1 = codes_v1.select("vec_id", "gen").collect()
    assert sorted(r.vec_id for r in v1) == base_ids
    assert {r.gen for r in v1} == {1}
    # (c) v2 serves v1's centroid rows unchanged
    _codes_v2, cells_v2, m2 = read_ivf_index(spark, base)
    assert m2["version"] == 2
    assert sorted((r.cell, tuple(r.cv)) for r in cells_v2.collect()) == sorted(
        (r.cell, tuple(r.cv)) for r in cells_v1.collect()
    )
    # (d) one file per cell in both versions
    for version in (1, 2):
        files = glob.glob(f"{base}/codes-{version:03d}/*/*.parquet")
        cells_of = [f.split("/cell=")[1].split("/")[0] for f in files]
        assert cells_of and len(cells_of) == len(set(cells_of)), (
            f"multi-file cell in version {version}"
        )


def test_append_without_arrow_matches(spark, sf_dir):
    """The centroid table enters Spark as a pandas frame; a session
    with Arrow off (an externally built one) takes the row path and
    must give the same result."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    fn = get_spec("ann_ivf_index_append").fn
    want = fn(spark, sf_dir).collect()
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        got = fn(spark, sf_dir).collect()
    finally:
        spark.conf.set(conf, old)
    assert got == want


def test_read_ivf_index_starts_no_job(spark, jobs_started):
    """A committed index is read with the schemas its manifest
    records: no footer inference job, and the same schemas an
    inferring read would give."""
    codes = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [1, 2, 3],
                "qv": [[1, -2], [3, 4], [0, 5]],
                "cell": [0, 1, 1],
            }
        ),
        "vec_id bigint, qv array<bigint>, cell int",
    )
    cells = spark.createDataFrame(
        pd.DataFrame({"cell": [0, 1], "cv": [[1, 1], [2, 3]]}),
        "cell int, cv array<bigint>",
    )
    base = tempfile.mkdtemp(prefix="ivf_read_jobs_")
    write_ivf_index(codes, cells, base)
    with jobs_started() as ids:
        codes2, cells2, manifest = read_ivf_index(spark, base)
    assert ids == []
    assert codes2.schema == spark.read.parquet(manifest["codes_dir"]).schema
    assert cells2.schema == spark.read.parquet(manifest["centroids_dir"]).schema
    assert sorted((r.vec_id, tuple(r.qv), r.cell) for r in codes2.collect()) == [
        (1, (1, -2), 0), (2, (3, 4), 1), (3, (0, 5), 1)
    ]
