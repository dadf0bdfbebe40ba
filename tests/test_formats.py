"""Format round-trips: parquet/csv/json write -> read preserves rows
and schema exactly (timestamps included)."""

from __future__ import annotations

import tempfile

import pytest

from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.sources.formats import (
    TIMESTAMP_FMT,
    write_table,
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_orders(spark, sf_dir, fmt):
    orders = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix=f"fmt_{fmt}_") + "/orders"
    write_table(orders, path, fmt)
    r = spark.read.schema(orders.schema).option(
        "timestampFormat", TIMESTAMP_FMT
    )
    if fmt == "csv":
        r = r.option("header", "true")
    back = r.format(fmt).load(path)
    assert back.schema == orders.schema
    assert _rows(back) == _rows(orders)


def test_corrupt_record_handling(spark):
    """Ingest error paths: PERMISSIVE captures bad rows, DROPMALFORMED
    drops them, FAILFAST raises — the 100 TB ingest reality where some
    fraction of records is always malformed."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = tempfile.mkdtemp(prefix="corrupt_")
    path = f"{d}/rows.csv"
    with open(path, "w") as f:
        f.write("id,amount\n1,10.5\nnot_an_int,oops,extra\n3,7.25\n")

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        .cache()
    )
    good = permissive.where(F.col("_corrupt").isNull())
    bad = permissive.where(F.col("_corrupt").isNotNull())
    assert {(r.id, r.amount) for r in good.collect()} == {(1, 10.5), (3, 7.25)}
    assert bad.count() == 1
    assert "not_an_int" in bad.collect()[0]._corrupt

    dropped = (
        spark.read.schema(T.StructType(schema.fields[:2]))
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # NB: .count() would report 3 — CSV column pruning skips parsing
    # entirely, so malformed rows are only dropped when fields are
    # actually materialized. A scale-relevant footgun worth pinning.
    assert len(dropped.collect()) == 2

    failfast = (
        spark.read.schema(T.StructType(schema.fields[:2]))
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )
    with pytest.raises(Exception):
        failfast.collect()


def test_json_schema_drift_tolerance(spark):
    """Schema-drift ingest: a reader schema pinned by contract must see
    (a) malformed JSON captured in the corrupt column, (b) fields the
    producer stopped sending as NULL, and (c) fields the producer
    added as silently ignored — the lenient-reader posture a
    long-lived pipeline needs when producers evolve independently."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = tempfile.mkdtemp(prefix="drift_")
    path = f"{d}/rows.json"
    with open(path, "w") as f:
        f.write('{"id": 1, "name": "a"}\n')                      # exact match
        f.write('{"id": 2}\n')                                   # missing field
        f.write('{"id": 3, "name": "c", "extra": [1, 2, 3]}\n')  # added field
        f.write('{"id": 4, "name": oops\n')                      # malformed

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()
    )
    good = df.where(F.col("_corrupt").isNull())
    assert {(r.id, r.name) for r in good.collect()} == {
        (1, "a"),
        (2, None),
        (3, "c"),
    }
    bad = df.where(F.col("_corrupt").isNotNull()).collect()
    assert len(bad) == 1 and "oops" in bad[0]._corrupt


def test_parquet_schema_evolution_mergeschema(spark):
    """Additive parquet schema evolution: old files lack a column new
    files carry; mergeSchema=true reads both generations with the old
    rows NULL-filled — how a 100 TB table grows columns in place
    without rewriting history."""
    from pyspark.sql import types as T

    d = tempfile.mkdtemp(prefix="evolve_")
    spark.createDataFrame([(1, "x")], ["id", "name"]).write.parquet(f"{d}/p=1")
    spark.createDataFrame(
        [(2, "y", 0.5)], ["id", "name", "score"]
    ).write.parquet(f"{d}/p=2")

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert dict(merged.dtypes)["score"] == "double"
    rows = {(r.id, r.name, r.score) for r in merged.collect()}
    assert rows == {(1, "x", None), (2, "y", 0.5)}

    # without mergeSchema the footer that wins decides; pin only that
    # the read succeeds and returns both generations' rows
    plain = spark.read.parquet(d)
    assert plain.count() == 2
