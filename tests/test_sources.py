"""load_table's per-process schema memo (sources/tables.py): a file's
schema is inferred once, later loads start no job, and the memo key
(file identity + inference confs) misses whenever the inferred schema
could differ."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_distributed_systems_spark.sources import load_table


def _write(path, table: pa.Table) -> None:
    pq.write_table(table, str(path))


def test_second_load_starts_no_job(spark, tmp_path, jobs_started):
    _write(
        tmp_path / "region.parquet",
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}),
    )
    first = load_table(spark, str(tmp_path), "region")
    with jobs_started() as ids:
        second = load_table(spark, str(tmp_path), "region")
    assert ids == []
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    _write(path, pa.table({"n_nationkey": [0, 1]}))
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    _write(path, pa.table({"n_nationkey": [7], "n_name": ["PERU"]}))
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert [tuple(r) for r in df.collect()] == [(7, "PERU")]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    conf = "spark.sql.parquet.binaryAsString"
    _write(
        tmp_path / "part.parquet",
        pa.table({"p_name": pa.array([b"bolt"], type=pa.binary())}),
    )
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert load_table(spark, str(tmp_path), "part").dtypes == [
            ("p_name", "binary")
        ]
        spark.conf.set(conf, "true")
        assert load_table(spark, str(tmp_path), "part").dtypes == [
            ("p_name", "string")
        ]
    finally:
        spark.conf.set(conf, old)
