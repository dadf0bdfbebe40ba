"""Parquet table sources for the driver's star schema (TESTDATA.md).

The reference's only source is whole-file text scan
(mr/worker.go:166-173, one map task per file); our sources are
columnar parquet scans so Catalyst gets predicate pushdown + column
pruning + partition pruning for free. `documents` stands in for the
reference's Gutenberg text corpus (FIXTURES.md §1): doc_id ≙ filename,
text ≙ whole file contents.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough (even at 100 TB scale factors) to broadcast:
# region is 5 rows always; nation 25. customer/supplier/part grow with
# SF — never hard-broadcast those, let AQE decide from runtime stats.
ALWAYS_BROADCAST = ("region", "nation")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ), whatever
    physical representation the parquet presented it as. The driver
    data has shipped `ts` three ways so far:

    - TIMESTAMP(NANOS): Spark surfaces it as int64 ns under
      spark.sql.legacy.parquet.nanosAsLong → truncate to µs (the same
      ns→µs truncation DuckDB applies) and convert.
    - TIMESTAMP_NTZ (naive µs): value-preserving cast to TIMESTAMP —
      the session TZ is pinned to UTC (session.py), so the LTZ value
      equals the naive value the DuckDB oracle sees.
    - TIMESTAMP: already the form watermarks/unix_micros need.

    Streaming watermarks (`withWatermark`) and `unix_micros` both
    reject TIMESTAMP_NTZ, so every ts consumer goes through here.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Session confs that change the schema Spark infers from a parquet
# footer; a memoized schema is valid only under the same values.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (file identity, inference confs) -> inferred schema; two threads that
# load one new file at once both infer it and store the same value
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key for `path`: its identity (path, inode, size,
    mtime_ns) plus the inference confs, so a file rewritten in place or
    a session that infers types differently misses the memo. None for
    anything that is not a local regular file (a directory of part
    files, a remote URI): those are inferred on every load."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS)
    return (path, st.st_ino, st.st_size, st.st_mtime_ns, confs)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one source table. Spark infers a parquet schema with a job
    that reads the file footer; the schema of a given file under given
    confs never changes, so it is inferred once per process and later
    loads read with it and start no job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    from mapreduce_distributed_systems_spark.session import ensure_session_compat

    ensure_session_compat(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    if name == "events":
        df = normalize_ts(df)
    return df


def spread_partitions(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a scanned frame on `key` into one partition per
    core when the scan yields fewer than that, else return it as is.

    Spark cannot split a parquet row group, so a corpus stored as one
    row group scans as ONE task and every per-row operator fused into
    that stage (tokenize, shingle explode, md5) runs on a single core.
    Callers apply this only in front of CPU-heavy per-row work; it is
    not part of load_table because tiny scans feeding cheap stages pay
    more for the extra exchange than they gain. Once a scan already
    has a partition per core (any input large enough to matter at
    scale) it is a no-op, so big inputs never shuffle the row bodies.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key)


def load_tables(
    spark: SparkSession, sf_dir: str, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load all tables; optionally register them as temp views so
    operators written in SQL see the same names the DuckDB oracle does."""
    dfs = {name: load_table(spark, sf_dir, name) for name in TABLES}
    if register_views:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
    return dfs
