"""C6 snapshot/compaction at the STORAGE layer (ROADMAP item 6): the
KV state checkpoint as a manifest-tracked parquet table, the way a
Delta/Iceberg-style table format would commit it.

The reference's snapshot (kvraft server snapshot contract) is a
serialized state blob that replaces the log prefix; the storage-layer
analogue is:

  manifest.json   {version, cutoff, data_dir, n_keys}   <- the commit
  snap-<ver>/     parquet of (key, final_value, n_effective_ops)

Readers resolve the manifest first (storage/manifest.py — the parquet
dir is immutable once committed), then load the snapshot and replay only
the op-log tail on top. Two registered queries certify the semantics
against the SAME full-replay DuckDB oracle family as the in-plan
compaction (`kv_snapshot_compaction`):

- `kv_snapshot_manifest_replay`: materialized snapshot + tail replay
  == full replay (compaction through a real write/read round-trip is
  semantically invisible);
- `kv_get_time_travel`: reading the snapshot AS OF its cutoff equals
  replaying the log prefix up to the cutoff (time-travel Get ≙
  kv_get_asof against a stored version).

Scale note (100 TB op logs): the snapshot write is one shuffle on key
(the replay fold), the manifest is O(1), and every refresh reads
{manifest + tail} instead of the whole log. This is exactly the
incremental-refresh shape `pipeline_clean_corpus`'s incremental test
pins for corpora, applied to operator state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.operators.kv import (
    KV_REPLAY_ORACLE,
    merge_snapshot_and_tail,
    op_log,
    replay,
)
from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.storage.manifest import (
    MANIFEST_VERSION,
    commit,
    resolve,
)


def write_snapshot(
    state: DataFrame,
    base_dir: str,
    cutoff_repr: str,
    version: int = MANIFEST_VERSION,
) -> str:
    """Commit `state` (key, final_value, n_effective_ops) as an
    immutable parquet snapshot, then the manifest (storage/manifest.py:
    data before pointer, superseded versions stay resolvable). Returns
    the manifest path."""
    data_dir = os.path.join(base_dir, f"snap-{version:03d}")
    state.write.mode("overwrite").parquet(data_dir)
    manifest = {
        "version": version,
        "cutoff": cutoff_repr,
        "data_dir": data_dir,
        "n_keys": None,  # optional stats; kept null to avoid an extra job
    }
    return commit(base_dir, version, manifest)


def read_snapshot(
    spark: SparkSession, base_dir: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Resolve the manifest (latest, or a pinned historical version),
    then load the snapshot it points at."""
    manifest = resolve(base_dir, version)
    return spark.read.parquet(manifest["data_dir"]), manifest


def compact_snapshot(
    spark: SparkSession, base_dir: str, target_files: int = 4
) -> str:
    """Small-file compaction as a versioned table-format commit: read
    the current snapshot THROUGH the manifest, rewrite it into
    target_files files with coalesce (no shuffle — compaction merges,
    it never redistributes), commit the new data dir under version+1,
    and swap the manifest pointer. The superseded version's data dir
    and manifest-<ver>.json are left immutable, so in-flight readers
    finish against the old files and time travel keeps resolving. At
    100 TB this runs per table partition with a per-partition file
    budget; the commit protocol is identical."""
    snap, manifest = read_snapshot(spark, base_dir)
    return write_snapshot(
        snap.coalesce(target_files),
        base_dir,
        cutoff_repr=manifest["cutoff"],
        version=manifest["version"] + 1,
    )


def _op_write_bounds_us(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(min, max) write timestamp in unix microseconds — ONE bounded
    1-row job over the ts/event_type columns. r14 (VERDICT r13 #5,
    guide §6): collecting the bounds up front turns every cutoff into
    a LITERAL, so the head/tail splits become scan-level predicates
    (pushed to the parquet reader) instead of a crossJoin against a
    broadcast 1-row bounds frame that forces the full op log through
    a runtime filter. Integer microseconds collected directly (never
    datetime round-trips), so the derived cutoffs are bit-identical
    to the oracle's `(epoch_us(min)+epoch_us(max)) // 2` arithmetic."""
    ops = op_log(load_table(spark, sf_dir, "events"))
    row = (
        ops.where(F.col("op") != "get")
        .agg(
            F.expr("unix_micros(min(ts))").alias("t0"),
            F.expr("unix_micros(max(ts))").alias("t1"),
        )
        .first()
    )
    return int(row.t0), int(row.t1)


def _events_upto(
    spark: SparkSession, sf_dir: str, cutoff_us: int, after: bool = False
) -> DataFrame:
    """The events table filtered to ts <= (or, with after=True, >) a
    literal microsecond cutoff, with the predicate expressed in the
    parquet file's NATIVE ts domain BEFORE normalize_ts's cast — the
    only form the scan can push down (a filter on the cast column is
    opaque to parquet). Handles every ts representation the driver
    data has shipped (sources/tables.normalize_ts): int64 ns under
    nanosAsLong (ts_us = ns div 1000, so ts <= c ⟺ ns <= c*1000+999
    for the non-negative timestamps the fixtures carry), naive-µs
    TIMESTAMP_NTZ (the UTC-session cast is value-preserving, so the
    NTZ literal is exact), and TIMESTAMP."""
    from mapreduce_distributed_systems_spark.session import (
        ensure_session_compat,
    )
    from mapreduce_distributed_systems_spark.sources.tables import (
        normalize_ts,
    )

    ensure_session_compat(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    dt = dict(raw.dtypes)["ts"]
    if dt == "bigint":  # TIMESTAMP(NANOS) surfaced as int64 ns
        bound = F.lit(cutoff_us * 1000 + 999)
    elif dt == "timestamp_ntz":
        bound = F.expr(
            f"cast(timestamp_micros({cutoff_us}) as timestamp_ntz)"
        )
    else:
        bound = F.timestamp_micros(F.lit(cutoff_us))
    cond = F.col("ts") > bound if after else F.col("ts") <= bound
    return normalize_ts(raw.where(cond))


@register(
    "kv_snapshot_manifest_replay",
    oracle=KV_REPLAY_ORACLE,  # compaction through storage == full replay
    tags=("kv", "stateful", "compaction", "storage"),
    bench=True,  # round-5: first wall-clock/io record for storage snapshots
    doc="C6 at the storage layer: fold the op-log head into a REAL "
    "manifest-committed parquet snapshot (write, then atomic manifest "
    "pointer), read it back through the manifest, replay only the "
    "tail on top. Gated on the FULL-replay oracle, proving the "
    "materialized checkpoint round-trip is semantically invisible — "
    "the storage twin of kv_snapshot_compaction's in-plan split. "
    "r14: the epoch-midpoint cutoff is collected once as an integer "
    "literal, so the head/tail scans are parquet-pushed predicates "
    "instead of a crossJoin against a broadcast bounds row.",
    helpers=(_op_write_bounds_us, _events_upto),
)
def kv_snapshot_manifest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0, t1 = _op_write_bounds_us(spark, sf_dir)
    cutoff_us = (t0 + t1) // 2
    head = op_log(_events_upto(spark, sf_dir, cutoff_us)).where(
        F.col("op") != "get"
    )
    tail = op_log(_events_upto(spark, sf_dir, cutoff_us, after=True)).where(
        F.col("op") != "get"
    )
    base = tempfile.mkdtemp(prefix="kv_snap_")
    write_snapshot(replay(head), base, cutoff_repr="epoch-midpoint")
    snap, _manifest = read_snapshot(spark, base)
    return merge_snapshot_and_tail(snap, tail)


# Time-travel oracle: the state AS OF the epoch-midpoint cutoff — the
# replay restricted to ts <= cutoff, with the cutoff computed the same
# way in both engines (integer microsecond midpoint).
KV_TIME_TRAVEL_ORACLE = """
WITH writes0 AS (
  SELECT CAST(user_id % 20 AS VARCHAR) AS key,
         CASE WHEN event_type IN ('signup', 'purchase') THEN 'put'
              WHEN event_type IN ('click', 'view') THEN 'append'
              ELSE 'get' END AS op,
         CAST(value AS VARCHAR) AS payload,
         ts, event_id
  FROM events
  WHERE event_type IN ('signup', 'purchase', 'click', 'view')
),
b AS (
  SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2)
    AS cutoff
  FROM writes0
),
ops AS (SELECT w.* FROM writes0 w, b WHERE w.ts <= b.cutoff),
writes AS (
  SELECT key, op, payload,
         row_number() OVER (PARTITION BY key ORDER BY ts, event_id) AS seq
  FROM ops
),
lp AS (SELECT key, max(seq) AS last_put_seq FROM writes WHERE op = 'put' GROUP BY key)
SELECT w.key,
       string_agg(w.payload, '' ORDER BY w.seq) AS final_value,
       count(*) AS n_effective_ops
FROM writes w LEFT JOIN lp ON w.key = lp.key
WHERE w.seq >= coalesce(lp.last_put_seq, 0)
GROUP BY w.key
"""


@register(
    "kv_get_time_travel",
    oracle=KV_TIME_TRAVEL_ORACLE,
    tags=("kv", "lookup", "storage", "time-travel"),
    doc="Time-travel read: the manifest-committed snapshot AS OF its "
    "cutoff must equal replaying the log prefix up to that cutoff — "
    "the table-format time-travel contract (read version N, not "
    "current state). The oracle recomputes the prefix replay with the "
    "identical integer-microsecond midpoint cutoff (collected once as "
    "a literal since r14, so the prefix scan is a pushed predicate).",
    helpers=(_op_write_bounds_us, _events_upto),
)
def kv_get_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0, t1 = _op_write_bounds_us(spark, sf_dir)
    cutoff_us = (t0 + t1) // 2
    head = op_log(_events_upto(spark, sf_dir, cutoff_us)).where(
        F.col("op") != "get"
    )
    base = tempfile.mkdtemp(prefix="kv_tt_")
    write_snapshot(replay(head), base, cutoff_repr="epoch-midpoint")
    snap, _manifest = read_snapshot(spark, base)
    return snap.select("key", "final_value", "n_effective_ops")


# --------------------------------------------------------------------------
# Version diff (change-data-capture read): what changed between two
# committed snapshot versions — the query a downstream consumer runs
# to refresh incrementally instead of re-reading a full version.
# --------------------------------------------------------------------------

KV_VERSION_DIFF_ORACLE = """
WITH writes0 AS (
  SELECT CAST(user_id % 20 AS VARCHAR) AS key,
         CASE WHEN event_type IN ('signup', 'purchase') THEN 'put'
              WHEN event_type IN ('click', 'view') THEN 'append'
              ELSE 'get' END AS op,
         CAST(value AS VARCHAR) AS payload,
         ts, event_id
  FROM events
  WHERE event_type IN ('signup', 'purchase', 'click', 'view')
),
b AS (
  SELECT make_timestamp((2 * epoch_us(min(ts)) + epoch_us(max(ts))) // 3)
           AS ca,
         make_timestamp((epoch_us(min(ts)) + 2 * epoch_us(max(ts))) // 3)
           AS cb
  FROM writes0
),
wa AS (
  SELECT key, op, payload,
         row_number() OVER (PARTITION BY key ORDER BY ts, event_id) AS seq
  FROM writes0 w, b WHERE w.ts <= b.ca
),
la AS (SELECT key, max(seq) AS lps FROM wa WHERE op = 'put' GROUP BY key),
sa AS (
  SELECT w.key, string_agg(w.payload, '' ORDER BY w.seq) AS value_a,
         count(*) AS n_ops_a
  FROM wa w LEFT JOIN la ON w.key = la.key
  WHERE w.seq >= coalesce(la.lps, 0) GROUP BY w.key
),
wb AS (
  SELECT key, op, payload,
         row_number() OVER (PARTITION BY key ORDER BY ts, event_id) AS seq
  FROM writes0 w, b WHERE w.ts <= b.cb
),
lb AS (SELECT key, max(seq) AS lps FROM wb WHERE op = 'put' GROUP BY key),
sb AS (
  SELECT w.key, string_agg(w.payload, '' ORDER BY w.seq) AS value_b,
         count(*) AS n_ops_b
  FROM wb w LEFT JOIN lb ON w.key = lb.key
  WHERE w.seq >= coalesce(lb.lps, 0) GROUP BY w.key
)
SELECT sb.key,
       coalesce(sa.value_a, '') AS value_a,
       sb.value_b,
       CAST(coalesce(sa.n_ops_a, 0) AS BIGINT) AS n_ops_a,
       CAST(sb.n_ops_b AS BIGINT) AS n_ops_b,
       CASE WHEN sa.key IS NULL THEN 'added' ELSE 'changed' END AS change
FROM sb LEFT JOIN sa ON sb.key = sa.key
WHERE sa.key IS NULL OR sa.value_a <> sb.value_b
"""


@register(
    "kv_version_diff",
    oracle=KV_VERSION_DIFF_ORACLE,
    tags=("kv", "storage", "time-travel", "cdc"),
    doc="Change-data-capture between two COMMITTED snapshot versions: "
    "commit the state at the 1/3-epoch cutoff as version 1 and the "
    "2/3-epoch cutoff as version 2 (both real manifest commits), read "
    "both versions back THROUGH their manifests, and emit the keys "
    "whose value appeared or changed — what an incremental downstream "
    "consumer reads instead of a full version scan. Keys are disjoint "
    "per row and the diff join is key-keyed (bounded fan-in); the "
    "oracle replays both prefix folds with the identical "
    "integer-microsecond third-point cutoffs. No 'removed' branch by "
    "construction: the op model has no delete, so version N's keys "
    "are a superset of version N-1's.",
    helpers=(_op_write_bounds_us, _events_upto),
)
def kv_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0, t1 = _op_write_bounds_us(spark, sf_dir)
    ca = (2 * t0 + t1) // 3
    cb = (t0 + 2 * t1) // 3
    base = tempfile.mkdtemp(prefix="kv_diff_")
    write_snapshot(
        replay(
            op_log(_events_upto(spark, sf_dir, ca)).where(
                F.col("op") != "get"
            )
        ),
        base,
        cutoff_repr="epoch-third-1",
        version=1,
    )
    write_snapshot(
        replay(
            op_log(_events_upto(spark, sf_dir, cb)).where(
                F.col("op") != "get"
            )
        ),
        base,
        cutoff_repr="epoch-third-2",
        version=2,
    )
    va, _ma = read_snapshot(spark, base, version=1)
    vb, _mb = read_snapshot(spark, base, version=2)
    a = va.select(
        "key",
        F.col("final_value").alias("value_a"),
        F.col("n_effective_ops").alias("n_ops_a"),
    )
    b = vb.select(
        "key",
        F.col("final_value").alias("value_b"),
        F.col("n_effective_ops").alias("n_ops_b"),
    )
    d = b.join(a, "key", "left")
    return d.where(
        F.col("value_a").isNull() | (F.col("value_a") != F.col("value_b"))
    ).select(
        "key",
        F.coalesce(F.col("value_a"), F.lit("")).alias("value_a"),
        "value_b",
        F.coalesce(F.col("n_ops_a"), F.lit(0)).cast("long").alias("n_ops_a"),
        F.col("n_ops_b").cast("long").alias("n_ops_b"),
        F.when(F.col("value_a").isNull(), F.lit("added"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )
