"""Storage-layout scale proofs (SCALE.md claims made executable):

- bucketed tables co-locate a join on the bucket key -> NO shuffle
  exchange in the join plan (the 'delete the exchange entirely' lever);
- shard-partitioned writes give partition-PRUNED reads (C13 at the
  storage layer, not just column pruning).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    base = tempfile.mkdtemp(prefix="bucketed_")

    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{base}/orders").mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{base}/lineitem").mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the shuffle-free bucketed SMJ is visible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        )
        plan = _plan(joined)
        # co-located bucketed join: no shuffle before the join
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # and it returns the same result as the plain join
        plain = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_shard_partitioned_write_prunes_partitions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.withColumn(
        "shard", F.ascii(F.substring((F.col("user_id") % 20).cast("string"), 1, 1)) % 10
    )
    path = tempfile.mkdtemp(prefix="sharded_") + "/events"
    keyed.write.partitionBy("shard").mode("overwrite").parquet(path)

    one_shard = spark.read.parquet(path).where(F.col("shard") == 3)
    plan = _plan(one_shard)
    assert "PartitionFilters: [isnotnull(shard" in plan  # pruned at listing
    got = one_shard.count()
    want = keyed.where(F.col("shard") == 3).count()
    assert got == want and got > 0


def test_zorder_layout_skips_files_on_both_dimensions(spark, sf_dir):
    """Z-order clustering (operators/layout.py) vs a linear time
    layout, measured from real parquet footers: a 2-D predicate box
    (narrow user range x narrow time range) must intersect FEWER
    files' min-max stats under the z-layout, and a user-only
    predicate — which a ts-sorted layout cannot skip on at all — must
    skip at least half the z-ordered files."""
    import glob
    import tempfile

    import pyarrow.parquet as pq

    from mapreduce_distributed_systems_spark.operators.layout import (
        _NB,
        zorder_expr_spark,
    )
    from mapreduce_distributed_systems_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    lo_u, hi_u, lo_t, hi_t = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_s"), F.max("ts_s")
    ).collect()[0]

    base = tempfile.mkdtemp(prefix="zorder_")
    n_files = 16
    (
        ev.repartitionByRange(n_files, "ts_s")
        .sortWithinPartitions("ts_s")
        .write.mode("overwrite")
        .parquet(f"{base}/linear")
    )
    # range-normalized buckets, exactly as the certified query builds
    ub = f"(((user_id - {lo_u}) * {_NB}) div ({hi_u - lo_u} + 1))"
    hb = f"(((ts_s - {lo_t}) * {_NB}) div ({hi_t - lo_t} + 1))"
    # the maintenance rewrite: range-partition on the z-key (contiguous
    # z-ranges per file), sort within partitions, drop the key
    (
        ev.withColumn("_z", F.expr(zorder_expr_spark(ub, hb)))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(f"{base}/zorder")
    )

    def file_ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    name = col.path_in_schema
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
            if mins:
                out.append((mins, maxs))
        return out

    # a ~1/8 x 1/8 predicate box in (user, time)
    u1, u2 = lo_u, lo_u + max((hi_u - lo_u) // 8, 1)
    t1, t2 = lo_t, lo_t + max((hi_t - lo_t) // 8, 1)

    def touched(ranges, with_time):
        n = 0
        for mins, maxs in ranges:
            if mins["user_id"] > u2 or maxs["user_id"] < u1:
                continue
            if with_time and (mins["ts_s"] > t2 or maxs["ts_s"] < t1):
                continue
            n += 1
        return n

    lin = file_ranges(f"{base}/linear")
    zor = file_ranges(f"{base}/zorder")
    assert len(lin) == n_files and len(zor) == n_files

    # 2-D box: z-layout touches strictly fewer files
    assert touched(zor, with_time=True) < touched(lin, with_time=True)
    # user-only predicate: the ts layout can't skip (every file spans
    # all users); the z-layout skips at least half
    assert touched(lin, with_time=False) == n_files
    assert touched(zor, with_time=False) <= n_files // 2
