"""Tolerant source reading — the error paths a 100 TB ingest hits.

The reference engine assumes every input file is readable and
well-formed (mr/worker.go:166-173 aborts the worker on a read error:
``log.Fatalf("cannot read ...")``). At petabyte ingest that contract is
wrong: a single malformed line in one of millions of JSON/CSV shards
must not fail the job, and silently dropping it is almost as bad —
loss must be ACCOUNTED. These helpers make Spark's built-in tolerance
modes explicit:

- PERMISSIVE (default): malformed rows become all-null rows with the
  raw line captured in ``corrupt_col`` — in-band accounting, the scan
  stays a single streaming pass, and downstream can quarantine
  (``WHERE corrupt_col IS NOT NULL``) or alert on loss rates.
- DROPMALFORMED: malformed rows silently removed — only for flows
  where a separate audit pass accounts the loss.
- FAILFAST: strict pipelines (e.g. financial facts) where a corrupt
  shard should stop the job at the first bad record.

Schema drift (the other ingest reality: producers add columns over
time) is handled at the parquet layer by ``mergeSchema`` — per-file
footers are reconciled into the union schema, with absent columns
null-filled; readers that pin an explicit schema simply prune the new
columns. Both behaviors are pinned in tests/test_robust_sources.py.

Scale notes: PERMISSIVE parsing is per-line and narrow — no shuffle,
no driver involvement, cost is the parse you were paying anyway.
``mergeSchema`` reads EVERY file footer at planning time (driver-side
listing + footer fetch): at 100 TB / millions of files, turn it off
for steady-state reads and rely on a catalog/table-format schema, as
the docstring of read_parquet_merged states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_col(schema: StructType, corrupt_col: str) -> StructType:
    """PERMISSIVE capture requires the corrupt column IN the schema;
    Spark additionally requires a PERSISTED scan (or cache) before
    filtering on it alone — callers here get it appended for free."""
    if corrupt_col in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )


def read_json_tolerant(
    spark: SparkSession,
    path: str,
    schema: StructType,
    mode: str = "PERMISSIVE",
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """Line-delimited JSON with explicit tolerance mode. In PERMISSIVE
    mode the returned frame carries ``corrupt_col`` holding the raw
    text of every malformed line (NULL for clean rows)."""
    r = spark.read.option("mode", mode)
    if mode == "PERMISSIVE":
        r = r.option("columnNameOfCorruptRecord", corrupt_col)
        return r.schema(_with_corrupt_col(schema, corrupt_col)).json(path)
    return r.schema(schema).json(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read reconciling per-file schema drift into the union
    schema (absent columns null-filled). Planning cost is one footer
    read per file — fine for a backfill over drifted shards, wrong for
    steady-state reads over millions of files (pin the schema from a
    catalog instead)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
