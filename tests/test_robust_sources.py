"""Error-path contracts (ROADMAP #10): tolerant JSON reads with
in-band corrupt-record capture, strict-mode failure, and parquet
schema-drift reconciliation. The reference worker aborts
on any input problem (mr/worker.go:166-173); at scale the engine must
instead parse tolerantly and ACCOUNT the loss — these tests pin that
behavior on real files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mapreduce_distributed_systems_spark.sources.robust import (
    CORRUPT_COL,
    read_json_tolerant,
    read_parquet_merged,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("k", IntegerType()),
        StructField("name", StringType()),
    ]
)

JSON_LINES = [
    '{"id": 1, "k": 10, "name": "a"}',
    '{"id": 2, "k": 20, "name": "b"}',
    '{"id": 3, "k": 30, "name": "c"',  # truncated — torn write
    'garbage{"id": 4, "k": 40}',  # framing bug
    '{"id": 5, "k": 50, "name": "e"}',
]


@pytest.fixture()
def json_path(tmp_path):
    p = tmp_path / "in.json"
    p.write_text("\n".join(JSON_LINES) + "\n")
    return str(p)


def test_json_permissive_captures_corrupt_lines(spark, json_path):
    df = read_json_tolerant(spark, json_path, SCHEMA).cache()
    rows = df.collect()
    assert len(rows) == 5  # nothing dropped, nothing failed
    corrupt = sorted(r[CORRUPT_COL] for r in rows if r[CORRUPT_COL])
    assert corrupt == sorted([JSON_LINES[2], JSON_LINES[3]])  # raw lines
    clean = sorted((r.id, r.k, r.name) for r in rows if not r[CORRUPT_COL])
    assert clean == [(1, 10, "a"), (2, 20, "b"), (5, 50, "e")]


def test_json_dropmalformed_and_failfast(spark, json_path):
    dropped = read_json_tolerant(
        spark, json_path, SCHEMA, mode="DROPMALFORMED"
    ).collect()
    assert sorted(r.id for r in dropped) == [1, 2, 5]
    with pytest.raises(Exception):  # strict mode: first bad record aborts
        read_json_tolerant(
            spark, json_path, SCHEMA, mode="FAILFAST"
        ).collect()


def test_parquet_schema_drift_merges_and_prunes(spark, tmp_path):
    base = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        os.path.join(base, "p=1")
    )
    # producer added a column in a later shard
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(os.path.join(base, "p=2"))

    merged = read_parquet_merged(spark, base)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None  # absent column null-filled
    assert rows[2].score == 9.5

    # a reader pinning the OLD schema keeps working (columns pruned)
    pinned = (
        spark.read.schema("id long, name string").parquet(base).collect()
    )
    assert sorted((r.id, r.name) for r in pinned) == [(1, "a"), (2, "b")]
