"""IVF vector-index persistence (ROADMAP round-7 backlog #6): the
learned ANN index (centroids + cell-partitioned code lists) as a
manifest-committed artifact, so queries LOAD the index instead of
refitting the quantizer per run — the production shape for a 100 TB
embedding store, where the Lloyd fit is a scheduled build job and the
serving path is read-only.

Reference parity note: the reference has no vector store — this is
part of the LLM-data-pipeline surface the brief adds on top of the
reference's operators (similarity search at scale). The commit is
storage/manifest.py's data-before-pointer swap, shared with the C6
snapshots (kvraft/server.go:75-78's snapshot-replaces-log-prefix
contract).

Layout under <base_dir>:

  manifest.json            {version, codes_dir, centroids_dir,
                            codes_schema, centroids_schema,
                            <caller meta>}  <- pointer
  manifest-<ver>.json      immutable per-version commit record
  centroids-<ver>/         parquet (cell int, cv array<bigint>)
  codes-<ver>/             parquet (vec_id, qv[, gen]) PARTITIONED BY cell

The two *_schema entries are the components' schemas (the JSON form
of a StructType), recorded at write time: the store wrote the files,
so a read never re-infers their schema from parquet footers (an
inference is one Spark job per component read).

Why codes are partitioned by cell: the IVF probe touches only
n_probe of k cells, and with the code lists laid out as cell=<c>/
partitions the candidate scan is a partition-pruned read — n_probe/k
of the index bytes, not a full scan plus filter. That is the inverted
part of "inverted file index" expressed as parquet layout.

Certification: `ann_ivf_persisted` runs the standard IVF probe against
an index that went through a REAL write → manifest commit → reload
cycle, gated on the SAME bit-exact DuckDB oracle as ann_ivf_kmeans —
proving persistence is semantically invisible. `ivf_index_cell_stats`
certifies the stored content itself (per-cell membership counts and
centroid norms) against the unrolled-SQL replay of the fit.

Scale: the build writes one shuffle (repartition by cell, so each cell
is written by exactly ONE task — k files total instead of
task_count x k, the round-8 small-files fix; cell sizes are bounded by
ivf_k_for so the per-task write is skew-free); the manifest is O(1);
serving reads {manifest + probed partitions}. Refreshing
after corpus growth is a versioned re-commit (version+1) with old
versions immutable for in-flight readers — time travel across refits,
identical to compact_snapshot's protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from mapreduce_distributed_systems_spark.operators.kmeans import (
    kmeans_fit_int8,
)
from mapreduce_distributed_systems_spark.operators.similarity import (
    ANN_IVF_KMEANS_ORACLE,
    DIM,
    IVF_KMEANS_ITER,
    IVF_KMEANS_K,
    N_PROBE,
    _ivf_build,
    _ivf_probe_topk,
    _kmeans_cells_sql,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.storage.manifest import (
    MANIFEST_VERSION,
    commit,
    resolve,
)

# Scratch dirs for the self-contained index queries live under the
# per-process scratch root removed at exit (see scratch.py for the
# rationale — the query fns return LAZY DataFrames over the artifact).
from mapreduce_distributed_systems_spark.scratch import (  # noqa: E402
    scratch_dir as _scratch_dir,
)


def write_ivf_index(
    codes: DataFrame,
    cells: DataFrame,
    base_dir: str,
    meta: dict | None = None,
    version: int = MANIFEST_VERSION,
) -> str:
    """Commit an IVF index: `codes` is (vec_id, qv, cell) — the
    quantized vectors with their final cell assignment — and `cells`
    is (cell, cv) — the learned centroids. Both parquet writes finish
    before the manifest commit. Returns the pointer path."""
    codes_dir = os.path.join(base_dir, f"codes-{version:03d}")
    cents_dir = os.path.join(base_dir, f"centroids-{version:03d}")
    # cell-partitioned code lists: the probe's candidate read prunes to
    # the probed cells' partitions (see module doc). repartition("cell")
    # BEFORE partitionBy so each cell is written by exactly one task —
    # without it every upstream task writes a file into every cell dir
    # (round-8 100x profile: 14,702 files / 38.6 s vs 800 files /
    # 18.2 s), and at cluster scale task_count x k files is the classic
    # small-files failure. One cheap shuffle of the compact int8 codes
    # buys one file per cell; cell sizes are bounded (~IVF_TARGET_CELL
    # via ivf_k_for), so the per-task write is skew-free.
    codes.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(codes_dir)
    cells.write.mode("overwrite").parquet(cents_dir)
    # the columns a parquet read of each dir yields: the partition
    # column moves last and comes back as int (the type Spark infers
    # for the cell=<c> directory values); a file source reads every
    # field as nullable whatever the recorded schema says
    codes_schema = StructType(
        [f for f in codes.schema.fields if f.name != "cell"]
        + [StructField("cell", IntegerType())]
    )
    manifest = {
        "version": version,
        "codes_dir": codes_dir,
        "centroids_dir": cents_dir,
        "codes_schema": codes_schema.jsonValue(),
        "centroids_schema": cells.schema.jsonValue(),
        **(meta or {}),
    }
    return commit(base_dir, version, manifest)


def read_ivf_index(
    spark: SparkSession, base_dir: str, version: int | None = None
) -> tuple[DataFrame, DataFrame, dict]:
    """Resolve the manifest (latest, or a pinned historical version),
    then load (codes, cells, manifest), each component read with the
    schema its manifest records, so the read infers nothing and starts
    no job. `codes` is (<data columns>, cell int): the partition
    column `cell` comes last."""
    manifest = resolve(base_dir, version)
    codes = spark.read.schema(
        StructType.fromJson(manifest["codes_schema"])
    ).parquet(manifest["codes_dir"])
    cells = spark.read.schema(
        StructType.fromJson(manifest["centroids_schema"])
    ).parquet(manifest["centroids_dir"])
    return codes, cells, manifest


def build_and_commit_ivf(
    spark: SparkSession, sf_dir: str, base_dir: str, version: int = 1
) -> str:
    """The scheduled build job: fit the int8 quantizer (the certified
    _ivf_build path) and commit. Since r14 `assigned` carries qv from
    the one assign_carry_int8 pass, so the codes table IS the
    assignment output — the former corpus-sized q8-join-back is gone."""
    _q8, assigned, cells = _ivf_build(spark, sf_dir)
    codes = assigned.select("vec_id", "qv", "cell")
    meta = {"n_cells": cells.count()}
    return write_ivf_index(codes, cells, base_dir, meta=meta, version=version)


@register(
    "ann_ivf_persisted",
    oracle=ANN_IVF_KMEANS_ORACLE,  # identical to ann_ivf_kmeans
    tags=("similarity", "ann", "ivf", "storage"),
    doc="IVF probe served from a PERSISTED index: build the int8 IVF "
    "index once, commit it (cell-partitioned code lists + centroids + "
    "atomic manifest pointer), reload it THROUGH the manifest, and run "
    "the standard probe/rank tail off the stored artifact alone — no "
    "refit, no re-quantization, corpus vectors read from the index. "
    "Gated on the same bit-exact DuckDB fit-replay oracle as "
    "ann_ivf_kmeans, proving the write/commit/load cycle is "
    "semantically invisible. This is the serving path a 100 TB "
    "embedding store runs: the Lloyd fit is a build job, queries only "
    "read {manifest + probed cell partitions}.",
    # VERDICT r13 #1c + r14 assign_carry: shared fit/build helpers are
    # part of the certified definition
    helpers=(kmeans_fit_int8, _ivf_build, _ivf_probe_topk,
             build_and_commit_ivf),
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("ivf_index_")
    build_and_commit_ivf(spark, sf_dir, base)
    codes, cells, _manifest = read_ivf_index(spark, base)
    # serve purely from the stored artifact: quantized vectors AND
    # assignments both come from the index (the codes table carries qv
    # alongside the cell, so the r14 carry-through probe reads it
    # directly — no join)
    q8 = codes.select("vec_id", "qv")
    assigned = codes.select("vec_id", "cell", "qv")
    return _ivf_probe_topk(q8, assigned, cells, N_PROBE)


# Stats over the stored artifact: per-cell membership and centroid
# norm — certifies that what the index FILE holds (not just what the
# probe returns) matches the oracle's replay of the fit. Empty cells
# (possible under Lloyd) surface with n_vectors=0.
def _ivf_index_stats_oracle() -> str:
    prev = f"cents{IVF_KMEANS_ITER}"
    return _kmeans_cells_sql(IVF_KMEANS_K, IVF_KMEANS_ITER, DIM) + f""",
sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
       FROM af GROUP BY cell)
SELECT c.cell,
       coalesce(s.n_vectors, 0) AS n_vectors,
       CAST(list_sum(list_transform(c.cv, x -> x * x)) AS BIGINT)
         AS cv_norm2
FROM {prev} c LEFT JOIN sz s USING (cell)
ORDER BY c.cell"""


@register(
    "ivf_index_cell_stats",
    oracle=_ivf_index_stats_oracle(),
    tags=("similarity", "ivf", "storage", "stats"),
    doc="Index-maintenance stats read from the PERSISTED artifact: "
    "per-cell membership count (from the cell-partitioned code lists) "
    "and centroid squared norm (from the stored centroid table), "
    "via the manifest. The oracle replays the integer-exact fit in "
    "SQL, so a hash match certifies the stored bytes themselves — "
    "the balance check an index build job runs before swapping the "
    "pointer (skewed cells => refit with larger k).",
    helpers=(kmeans_fit_int8, _ivf_build, build_and_commit_ivf),
)
def ivf_index_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("ivf_stats_")
    build_and_commit_ivf(spark, sf_dir, base)
    codes, cells, _manifest = read_ivf_index(spark, base)
    sz = codes.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    return (
        cells.join(sz, "cell", "left")
        .select(
            "cell",
            F.coalesce(F.col("n_vectors"), F.lit(0).cast("long")).alias(
                "n_vectors"
            ),
            F.expr(
                "aggregate(transform(cv, x -> x * x), 0L, (a, x) -> a + x)"
            ).alias("cv_norm2"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Incremental index maintenance: append without refit
# ---------------------------------------------------------------------------

def _ivf_index_append_oracle() -> str:
    """Fit replay over the BASE split only (vec_id % 2 = 0), then the
    new batch (vec_id % 2 = 1) quantized and assigned against the
    FROZEN final centroids — exactly what the incremental refresh
    does. Output = per-cell membership split by generation."""
    prev = f"cents{IVF_KMEANS_ITER}"
    base_fit = _kmeans_cells_sql(
        IVF_KMEANS_K, IVF_KMEANS_ITER, DIM, where=" WHERE vec_id % 2 = 0"
    )
    return base_fit + f""",
en AS (SELECT vec_id, embedding::DOUBLE[] AS v
       FROM embeddings WHERE vec_id % 2 = 1),
q8n AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(round(x / (greatest(list_max(
           list_transform(v, y -> abs(y))), 1e-12) / 127.0), 0) AS BIGINT))
           AS qv
  FROM en
),
dn AS (
  SELECT q8n.vec_id, c.cell,
         CAST(list_sum(list_transform(range(1, {DIM + 1}),
           j -> (q8n.qv[j] - c.cv[j]) * (q8n.qv[j] - c.cv[j]))) AS BIGINT)
           AS dist2
  FROM q8n CROSS JOIN {prev} c
),
an AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM dn
  ) WHERE rn = 1
),
nb AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM af GROUP BY cell),
na AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM an GROUP BY cell)
SELECT c.cell,
       coalesce(nb.n, 0) AS n_base,
       coalesce(na.n, 0) AS n_appended,
       CAST(list_sum(list_transform(c.cv, x -> x * x)) AS BIGINT)
         AS cv_norm2
FROM {prev} c LEFT JOIN nb USING (cell) LEFT JOIN na USING (cell)
ORDER BY c.cell"""


@register(
    "ann_ivf_index_append",
    oracle=_ivf_index_append_oracle(),
    tags=("similarity", "ivf", "storage", "incremental"),
    bench=True,  # round-8: headline tracks incremental index maintenance
    doc="Incremental IVF index maintenance — the corpus-refresh shape "
    "a 100 TB embedding store actually runs: fit the quantizer ONCE on "
    "the base corpus and commit it (version 1), then when a new batch "
    "arrives, quantize and assign it against the FROZEN centroids "
    "loaded from the committed index (no refit, no touch of the "
    "existing code lists' content) and commit base+batch as version 2 "
    "behind the atomic manifest pointer — old version intact for "
    "in-flight readers. The certified output reads version 2 and "
    "reports per-cell membership split by generation plus the stored "
    "centroid norms; the oracle replays the base-split fit and the "
    "frozen-centroid assignment in SQL, so a hash match certifies the "
    "whole maintenance cycle bit-for-bit. Plan: the append costs one "
    "narrow assignment pass over the NEW batch only plus its "
    "cell-partitioned write; periodic REFIT (when cell-balance stats "
    "from ivf_index_cell_stats degrade) is the documented escape "
    "hatch, committed the same way as version+1.",
    helpers=(kmeans_fit_int8,),  # VERDICT r13 #1c (assign_carry was r13)
)
def ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from mapreduce_distributed_systems_spark.operators.kmeans import (
        assign_carry_int8,
        kmeans_fit_int8,
        quantize_int8,
    )
    from mapreduce_distributed_systems_spark.operators.similarity import (
        ivf_k_for,
    )
    from mapreduce_distributed_systems_spark.sources import load_table

    base_dir = _scratch_dir("ivf_append_")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # version 1: the scheduled build job over the base corpus
    base = emb.where(F.col("vec_id") % 2 == 0)
    q8b = quantize_int8(base)
    n_b = base.count()
    cents = kmeans_fit_int8(
        q8b, k=ivf_k_for(n_b), n_iter=IVF_KMEANS_ITER, n=n_b
    )
    # a pandas frame enters Spark through Arrow; a Python list would go
    # through parallelize and re-pickle on Python workers in every job
    # over the table. tolist() keeps plain ints, which the non-Arrow
    # path (a session with Arrow off) also accepts.
    cells = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": np.arange(len(cents), dtype=np.int32),
                "cv": np.asarray(cents, dtype=np.int64).tolist(),
            }
        ),
        "cell int, cv array<bigint>",
    )
    # one narrow assign pass CARRYING qv (r13 optimization): the former
    # q8b.join(assign_int8(...), "vec_id") re-derived the quantize
    # subtree for the probe side and paid a vec_id-keyed exchange —
    # assign_carry_int8 exists precisely to co-locate (qv, cell) in one
    # Python pass (same rows, same columns after the select)
    codes1 = (
        assign_carry_int8(q8b, cents)
        .select("vec_id", "qv", "cell")
        .withColumn("gen", F.lit(1))
    )
    write_ivf_index(
        codes1, cells, base_dir, meta={"n_vectors": n_b}, version=1
    )

    # the incremental refresh: everything below runs off the COMMITTED
    # artifact — centroids come from the stored table, not the fit
    codes_v1, cells_v1, _m = read_ivf_index(spark, base_dir, version=1)
    # an orderBy over k rows would cost Spark a sort's jobs; order the
    # one unsorted collect on the driver
    frozen = np.array(
        [r["cv"] for r in sorted(cells_v1.collect(), key=lambda r: r["cell"])],
        dtype=np.int64,
    )
    new = emb.where(F.col("vec_id") % 2 == 1)
    q8n = quantize_int8(new)
    codes2 = codes_v1.unionByName(
        assign_carry_int8(q8n, frozen)
        .select("vec_id", "qv", "cell")
        .withColumn("gen", F.lit(2))
    )
    write_ivf_index(
        codes2, cells_v1, base_dir, meta={"appended": True}, version=2
    )

    codes, cells2, _m2 = read_ivf_index(spark, base_dir)  # latest = v2
    counts = codes.groupBy("cell").agg(
        F.sum((F.col("gen") == 1).cast("long")).alias("nb"),
        F.sum((F.col("gen") == 2).cast("long")).alias("na"),
    )
    return (
        cells2.join(counts, "cell", "left")
        .select(
            "cell",
            F.coalesce(F.col("nb"), F.lit(0).cast("long")).alias("n_base"),
            F.coalesce(F.col("na"), F.lit(0).cast("long")).alias(
                "n_appended"
            ),
            F.expr(
                "aggregate(transform(cv, x -> x * x), 0L, (a, x) -> a + x)"
            ).alias("cv_norm2"),
        )
        .orderBy("cell")
    )
