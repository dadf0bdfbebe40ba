"""Z-order (Morton) layout keys for multi-dimension data skipping.

Single-dimension layouts only skip on their own dimension: a table
range-partitioned by `ts` prunes time predicates but every file still
spans every user, so a user predicate reads the whole table. At
100 TB the fix is interleaved-bit (Morton/Z-order) clustering — sort
by a key that alternates the bits of both dimensions, so every file's
(min, max) box becomes narrow in BOTH `user_id` and `ts`, and parquet
footer min-max stats (or any lakehouse manifest built on them) skip
files on either predicate. Delta OPTIMIZE ZORDER BY and Iceberg's
z-ordered rewrite are this exact transform.

Two details make it actually work, both mirrored from the production
implementations:

1. RANGE-NORMALIZE each dimension to the same bit width before
   interleaving (Delta uses range-partition ids). Raw values don't
   interleave usefully when cardinalities differ — with 15 users and
   720 hours, the hour's high bits dominate every comparison and the
   "z" order collapses back to hour order (the first version of this
   module had exactly that bug; the layout test caught it). Here each
   dimension maps through floor((v - min) * 2^B / (max - min + 1))
   into [0, 2^B), so both dimensions contribute equally.
2. Range-partition + sort WITHIN partitions by the z-key — contiguous
   z-ranges per file are what narrow the min-max boxes; a global sort
   is never needed. tests/test_storage_layout.py writes the layout
   that way; the package ships only the key.

The whole key computation is deterministic integer arithmetic, so it
is oracle-certifiable bit-for-bit; the layout effect is measured from
real parquet footers in tests/test_storage_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table

Z_BITS = 4  # per dimension -> a 16x16 grid, 8-bit z keys
_NB = 1 << Z_BITS


def zorder_expr_spark(a: str, b: str) -> str:
    """Spark SQL expression interleaving the low Z_BITS bits of
    integer expressions a (even positions) and b (odd positions)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((shiftright({a}, {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((shiftright({b}, {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


def zorder_expr_duck(a: str, b: str) -> str:
    """The identical interleave in DuckDB SQL (>> is its shift op)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "(" + " + ".join(terms) + ")"


# order-preserving range normalization into [0, 2^Z_BITS)
def _bucket(v: str, lo: str, hi: str) -> str:
    return f"(({v} - {lo}) * {_NB}) div (({hi} - {lo}) + 1)"


def _bucket_duck(v: str, lo: str, hi: str) -> str:
    return f"((({v} - {lo}) * {_NB}) // (({hi} - {lo}) + 1))"


_DUCK_UB = _bucket_duck("user_id", "lo_u", "hi_u")
_DUCK_HB = _bucket_duck("hh", "lo_h", "hi_h")

ZORDER_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hh
  FROM events
),
bounds AS (
  SELECT min(user_id) AS lo_u, max(user_id) AS hi_u,
         min(hh) AS lo_h, max(hh) AS hi_h
  FROM ev
)
SELECT event_id,
       CAST({_DUCK_UB} AS BIGINT) AS user_bkt,
       CAST({_DUCK_HB} AS BIGINT) AS hour_bkt,
       CAST({zorder_expr_duck(f"({_DUCK_UB})", f"({_DUCK_HB})")} AS BIGINT)
         AS zkey
FROM ev, bounds
"""


@register(
    "zorder_key_events",
    oracle=ZORDER_ORACLE,
    tags=("layout", "data-skipping", "events"),
    doc=f"Z-order (Morton) clustering key over (user_id, hour(ts)): "
    f"each dimension range-normalized into {Z_BITS} bits (the "
    "Delta-style range-id step — raw values with mismatched "
    "cardinalities degenerate to single-dimension order), then "
    "interleaved into one sortable integer. Pure integer arithmetic, "
    "identical in both engines, so the whole transform is certified; "
    "the min/max bounds are one broadcast scalar row and the key "
    "itself is a zero-shuffle map over the scan. Writing "
    "range-partitioned + sorted by this key narrows every file's "
    "min-max box in BOTH dimensions; tests/test_storage_layout.py "
    "measures the file-skipping effect from real parquet footers.",
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias(
                "hh"
            ),
        )
    )
    bounds = ev.agg(
        F.min("user_id").alias("lo_u"),
        F.max("user_id").alias("hi_u"),
        F.min("hh").alias("lo_h"),
        F.max("hh").alias("hi_h"),
    )
    ub = _bucket("user_id", "lo_u", "hi_u")
    hb = _bucket("hh", "lo_h", "hi_h")
    return ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        F.expr(ub).cast("long").alias("user_bkt"),
        F.expr(hb).cast("long").alias("hour_bkt"),
        F.expr(zorder_expr_spark(f"({ub})", f"({hb})")).cast("long").alias(
            "zkey"
        ),
    )

