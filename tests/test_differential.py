"""Execution-strategy differential tests (SURVEY.md §5 plan): the same
query must produce identical results under different physical
strategies — the Spark analogue of the reference's sequential-vs-
distributed golden comparison (main/test-mr.sh:103-111)."""

from __future__ import annotations

import pytest

from mapreduce_distributed_systems_spark.plans.registry import get_spec


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", ["wc", "q5_local_supplier", "kv_replay_final"])
def test_shuffle_partition_count_invariance(spark, sf_dir, name):
    spec = get_spec(name)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        sequential = _rows(spec.fn(spark, sf_dir))  # ≙ mrsequential oracle
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        parallel = _rows(spec.fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert sequential == parallel


def test_broadcast_vs_sortmerge_join(spark, sf_dir):
    spec = get_spec("join_left_outer")
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with_bc = _rows(spec.fn(spark, sf_dir))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        without_bc = _rows(spec.fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert with_bc == without_bc


def test_approx_count_distinct_accuracy(spark, sf_dir):
    """The documented scale trade for count(distinct): HLL with an
    explicit rsd=0.02 must land within 3x rsd of exact. (The previous
    form asserted 5% against the DEFAULT rsd=5% sketch — an ~1-sigma
    bound that holds or fails by luck per cardinality; it failed at
    sf0.01 with a 6.7% error, exactly in-spec for that sketch.)"""
    from pyspark.sql import functions as F

    from mapreduce_distributed_systems_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact <= 0.06


def test_approx_percentile_accuracy(spark, sf_dir):
    """Sketch trade for exact percentiles at scale: approx_percentile
    must land within 2% relative of the exact interpolated median."""
    from pyspark.sql import functions as F

    from mapreduce_distributed_systems_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact <= 0.02


@pytest.mark.parametrize(
    "name", ["window_ntile_pctrank", "pack_training_shards"]
)
def test_partition_parameterized_queries_are_partition_invariant(
    spark, sf_dir, name
):
    """ntile and shard packing PARAMETERIZE on shuffle.partitions (they
    range-partition and compute per-partition prefix offsets) — their
    RESULTS must still be identical under 1, 5, and 32 partitions, or
    the distributed-rank machinery is leaking partition boundaries."""
    spec = get_spec(name)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for n in ("1", "5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(_rows(spec.fn(spark, sf_dir)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert results[0] == results[1] == results[2]


@pytest.mark.slow  # four pipeline runs and four oracle runs, ~25 s
def test_pipeline_clean_corpus_matches_oracle_under_any_partitioning(spark, sf_dir):
    """The cleaning pipeline spreads its scan over one partition per
    core and then shuffles on md5, doc_id, band keys and source; its
    rows must match the DuckDB oracle whatever the shuffle width, and
    with adaptive execution (partition coalescing, skew splits) off."""
    from tests.duck_oracle import compare_spark_vs_oracle

    spec = get_spec("pipeline_clean_corpus")
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    settings = [{keys[0]: n} for n in ("1", "7", "64")] + [{keys[1]: "false"}]
    try:
        for conf in settings:
            for k in keys:
                spark.conf.set(k, conf.get(k, before[k]))
            spark.catalog.clearCache()  # no cached stage from another width
            compare_spark_vs_oracle(spec.fn(spark, sf_dir), spec.oracle, sf_dir)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
