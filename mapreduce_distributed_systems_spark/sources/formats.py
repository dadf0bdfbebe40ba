"""Columnar/text source-sink round-trips.

The reference reads text files and writes text files (A1/A7); a
general engine needs the standard interchange formats with schema
fidelity. Parquet is the canonical storage (columnar, pushdown,
pruning); CSV/JSON are interchange sinks — schema must be re-applied
on read (both are schemaless on disk), so the writer pins the
timestamp format a schema-applying reader parses back.

Scale note: CSV/JSON scans parallelize by line-split and support
column pruning only after parse — they are ingest/egress formats;
anything queried repeatedly should land in parquet (or a table format
layered on it) first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

TIMESTAMP_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true").option("timestampFormat", TIMESTAMP_FMT)
    elif fmt == "json":
        w = w.option("timestampFormat", TIMESTAMP_FMT)
    w.format(fmt).save(path)
