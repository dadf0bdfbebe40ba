"""Streaming hardening (C6 snapshot/exactly-once, event-time
watermarks): checkpointed restart must resume without reprocessing,
and late data beyond the watermark must be dropped."""

from __future__ import annotations

import pytest

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from mapreduce_distributed_systems_spark.operators.kv import op_log, replay
from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.streaming.kv_stream import (
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _update_state,
)


def _staged_stream(spark, src_dir, collected):
    """KV-replay stream over a multi-file source dir, one file per
    batch, emitting into a driver-side list via foreachBatch."""
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select(
            (F.col("user_id") % 20).cast("string").alias("key"),
            F.expr(
                "CASE WHEN event_type IN ('signup','purchase') THEN 'put' "
                "WHEN event_type IN ('click','view') THEN 'append' "
                "ELSE 'get' END"
            ).alias("op"),
            F.col("value").cast("string").alias("payload"),
            "ts",
            "event_id",
        )
        .where(F.col("op") != "get")
    )
    folded = stream.groupBy("key").applyInPandasWithState(
        _update_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, batch_id):
        collected.append((batch_id, batch_df.toPandas()))

    return folded.writeStream.foreachBatch(sink).outputMode("update")


@pytest.mark.slow  # driver-budget profile, see pytest.ini
def test_checkpoint_restart_exactly_once(spark, sf_dir):
    # stage events as 4 files ordered by time so batches are a
    # deterministic prefix-partition of the log
    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="kv_restart_src_")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    n = len(pdf)
    for j in range(4):
        pdf.iloc[j * n // 4 : (j + 1) * n // 4].to_parquet(
            f"{src}/part-{j}.parquet", index=False
        )

    ckpt = tempfile.mkdtemp(prefix="kv_restart_ckpt_")
    collected: list = []

    # run 1: stop after >= 2 of the 4 files (a mid-log "crash")
    import time

    q1 = _staged_stream(spark, src, collected).option(
        "checkpointLocation", ckpt
    ).start()
    deadline = time.time() + 120
    while len(collected) < 2 and time.time() < deadline:
        time.sleep(0.2)
        if q1.exception() is not None:
            raise q1.exception()
    q1.stop()
    q1.awaitTermination()
    assert len(collected) >= 2, "stream made no progress before stop"

    n_run1 = len(collected)

    # run 2: same checkpoint — must resume at the next unprocessed file
    q2 = _staged_stream(spark, src, collected).option(
        "checkpointLocation", ckpt
    ).start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    # foreachBatch is at-least-once: a batch interrupted by stop() may
    # re-run after restart. The exactly-once contract lives in the
    # STATE (checkpointed, versioned per batch): a re-run batch
    # recomputes from committed state, never double-applies. Exact
    # batch-id/file scheduling is the engine's business (a restart may
    # pack remaining files differently), so assert the contract, not
    # the schedule: ids contiguous from 0, run 2 resumes at-or-after
    # run 1's frontier (committed work never re-executes), and the
    # merged final state equals the batch replay.
    ids = {b for b, _ in collected}
    assert ids == set(range(max(ids) + 1)), f"batch ids not contiguous: {ids}"
    run1_ids = {b for b, _ in collected[:n_run1]}
    run2_ids = {b for b, _ in collected[n_run1:]}
    # run2 may be legitimately empty if run 1 drained the source
    # before stop() landed; the final-state check below still applies
    if run2_ids:
        assert min(run2_ids) >= max(run1_ids), (
            f"restart re-ran committed batches: run1={run1_ids} run2={run2_ids}"
        )
    last_by_batch: dict = {}
    for b, p in collected:
        last_by_batch[b] = p
    allpdf = pd.concat([last_by_batch[b] for b in sorted(last_by_batch)])
    final = (
        allpdf.sort_values("writes_seen")
        .groupby("key", as_index=False)
        .last()[["key", "final_value", "n_effective_ops"]]
    )
    got = {
        (r.key, r.final_value, int(r.n_effective_ops))
        for r in final.itertuples(index=False)
    }
    want = {
        (r["key"], r["final_value"], r["n_effective_ops"])
        for r in replay(op_log(ev)).collect()
    }
    assert got == want


@pytest.mark.slow  # driver-budget profile, see pytest.ini
def test_append_tumbling_restart_resumes_from_checkpoint(spark, sf_dir):
    """Kill-and-resume for the append-mode production path (VERDICT r4
    item 6): process part of the time-ordered log, stop mid-stream,
    restart from the same checkpoint with the remaining files (and the
    watermark-flush sentinel arriving last, as a live stream's later
    data would), and assert the union of emitted windows equals the
    batch twin — mirroring the reference's crash-recovery discipline
    (main/test-mr.sh:284-330: output after crashes == golden output)."""
    import time

    from mapreduce_distributed_systems_spark.plans.registry import get_spec
    from mapreduce_distributed_systems_spark.sources.tables import normalize_ts
    from mapreduce_distributed_systems_spark.streaming.event_stream import (
        _write_sentinel,
    )

    from pyspark.sql.window import Window

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = tempfile.mkdtemp(prefix="evap_restart_src_")
    # stage time-ordered quarters THROUGH SPARK so the staged parquet
    # keeps the exact physical ts representation of the driver data
    # (pandas.to_parquet would re-encode it and break the stream schema)
    quartered = raw.withColumn(
        "_q", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )

    def stage(j):
        quartered.where(F.col("_q") == j + 1).drop("_q").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part-{j}.dir")

    # first half available before the "crash"; second half + sentinel
    # arrive only after the restart
    for j in range(2):
        stage(j)

    def start(collected, ckpt):
        stream = normalize_ts(
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n",
                "total_value",
            )
        )
        return (
            agg.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.toPandas()))
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ckpt = tempfile.mkdtemp(prefix="evap_restart_ckpt_")
    collected: list = []
    q1 = start(collected, ckpt)
    deadline = time.time() + 120
    while len(collected) < 1 and time.time() < deadline:
        time.sleep(0.2)
        if q1.exception() is not None:
            raise q1.exception()
    q1.stop()
    q1.awaitTermination()
    assert collected, "stream made no progress before stop"

    # the rest of the log + the far-future sentinel land while "down"
    for j in range(2, 4):
        stage(j)
    _write_sentinel(raw, src, event_type="zz-sentinel")

    q2 = start(collected, ckpt)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    # foreachBatch is at-least-once per interrupted batch: dedup by
    # batch id keeping the last emission, then union all appended rows
    last_by_batch: dict = {}
    for b, p in collected:
        last_by_batch[b] = p
    allpdf = pd.concat([last_by_batch[b] for b in sorted(last_by_batch)])
    allpdf = allpdf[allpdf["event_type"] != "zz-sentinel"]
    got = {
        (r.window_start.to_pydatetime(), r.event_type, int(r.n), float(r.total_value))
        for r in allpdf.itertuples(index=False)
    }
    # append mode emits each closed window exactly once across the
    # restart — no duplicates even where a batch re-ran
    assert len(got) == len(allpdf), "duplicate window emissions across restart"
    want = {
        (r.window_start, r.event_type, int(r.n), float(r.total_value))
        for r in get_spec("events_tumbling_hourly").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark):
    src = tempfile.mkdtemp(prefix="wm_src_")
    on_time = pd.DataFrame(
        {
            # µs precision: ns parquet timestamps arrive as bigint here
            "ts": pd.to_datetime(
                ["2024-01-01 02:05:00", "2024-01-01 02:35:00", "2024-01-01 03:10:00"]
            ).astype("datetime64[us]"),
            "k": ["a", "a", "a"],
        }
    )
    late = pd.DataFrame(
        {
            # > 30 min older than max seen event time (03:10) => late
            "ts": pd.to_datetime(["2024-01-01 00:05:00"]).astype("datetime64[us]"),
            "k": ["a"],
        }
    )
    on_time.to_parquet(f"{src}/f0.parquet", index=False)

    schema = spark.read.parquet(src).schema
    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # parquet-without-tz infers TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "k", "n")
    )
    out: list = []

    def sink(batch_df, batch_id):
        out.append(batch_df.toPandas())

    ckpt = tempfile.mkdtemp(prefix="wm_ckpt_")
    q = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # second file arrives AFTER the watermark advanced past its hour
    late.to_parquet(f"{src}/f1-late.parquet", index=False)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    allpdf = pd.concat(out) if out else pd.DataFrame(columns=["ws", "k", "n"])
    hours = set(pd.to_datetime(allpdf["ws"]).dt.hour)
    assert 2 in hours and 3 in hours
    assert 0 not in hours, "late row beyond watermark must be dropped"


def test_streaming_sessionization_equals_batch(spark, sf_dir):
    """session_window under readStream (availableNow) must produce the
    same sessions as the batch events_sessionize query."""
    import pandas as pd

    from mapreduce_distributed_systems_spark.plans.registry import get_spec
    from mapreduce_distributed_systems_spark.sources import load_table

    batch = {
        (r.user_id, r.session_start, r.n_events)
        for r in get_spec("events_sessionize").fn(spark, sf_dir).collect()
    }

    src = tempfile.mkdtemp(prefix="sess_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # append-mode session windows only emit once the watermark passes a
    # session's END; a far-future sentinel event (user_id = -1, filtered
    # from the comparison) flushes every real session out of state
    from mapreduce_distributed_systems_spark.sources.tables import normalize_ts
    from mapreduce_distributed_systems_spark.streaming.event_stream import (
        _far_future,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    sentinel = raw.agg(F.max("ts").alias("ts")).select(
        F.lit(-1).cast("long").alias("event_id"),
        _far_future(raw).alias("ts"),  # max + 30 days, any ts representation
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).select(*[f.name for f in schema.fields])
    sentinel.write.mode("overwrite").parquet(f"{src}/zz-sentinel.parquet.dir")
    stream = (
        normalize_ts(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        .withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
        .select("user_id", "session_start", "n_events")
    )
    out: list = []
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: out.append(df.toPandas()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    allpdf = pd.concat(out) if out else pd.DataFrame()
    got = {
        (int(r.user_id), r.session_start.to_pydatetime(), int(r.n_events))
        for r in allpdf.itertuples(index=False)
        if r.user_id != -1  # drop the watermark-flush sentinel
    }
    assert got == batch


def test_shard_serve_stream_restart_carries_state(spark, sf_dir):
    """Kill-and-resume for the C14 streaming twin: process the first
    half of the time-ordered log, stop, restart from the same
    checkpoint with the second half. The resumed run's per-shard
    counts must equal the full totals — which is only possible if the
    (ops_seen, n_old) state survived the restart, since the second
    half alone undercounts every shard."""
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    from mapreduce_distributed_systems_spark.streaming.shard_stream import (
        HANDOFF_OPS,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _serve_state,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = tempfile.mkdtemp(prefix="shard_restart_src_")
    halved = raw.withColumn(
        "_h", F.ntile(2).over(Window.orderBy("ts", "event_id"))
    )

    def stage(j):
        halved.where(F.col("_h") == j + 1).drop("_h").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part-{j}.dir")

    stage(0)

    shard_col = (
        F.ascii(F.substring((F.col("user_id") % 20).cast("string"), 1, 1)) % 10
    ).cast("long")

    def run():
        collected: list = []
        stream = (
            spark.readStream.schema(raw.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .select(shard_col.alias("shard"), "ts", "event_id")
        )
        folded = stream.groupBy("shard").applyInPandasWithState(
            _serve_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            folded.writeStream.foreachBatch(
                lambda df, bid: collected.append(df.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # latest update per shard across this run's batches
        out = pd.concat(collected) if collected else pd.DataFrame(
            columns=["shard", "ops_seen", "n_old"]
        )
        return out.sort_values("ops_seen").groupby("shard").last().reset_index()

    ckpt = tempfile.mkdtemp(prefix="shard_restart_ckpt_")
    first = run()

    totals = {
        r.shard: r.n
        for r in raw.select(shard_col.alias("shard"))
        .groupBy("shard")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # premise: the first half alone undercounts every shard
    seen1 = dict(zip(first["shard"], first["ops_seen"]))
    assert all(seen1[s] < totals[s] for s in seen1)

    stage(1)  # the second half lands while "down"
    second = run()

    # resumed counts must be the FULL totals (state carried over)
    seen2 = dict(zip(second["shard"], second["ops_seen"]))
    nold2 = dict(zip(second["shard"], second["n_old"]))
    assert seen2 == totals
    assert all(nold2[s] == min(HANDOFF_OPS, totals[s]) for s in nold2)


def test_dedup_stream_actually_sees_redelivery(spark, sf_dir):
    """Negative control for events_dedup_streaming: the two-symlink
    source must really deliver every record twice — otherwise the
    oracle match would be vacuous (dedup of an already-unique stream).
    Run the same doubled source WITHOUT the dedup and assert exactly
    2x the batch counts."""
    import uuid

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src_dir = tempfile.mkdtemp(prefix="evdd_ctrl_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events-a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events-b.parquet")
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    name = f"evdd_ctrl_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="evdd_ctrl_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    doubled = {r["event_type"]: r["n"] for r in spark.table(name).collect()}
    batch = {
        r["event_type"]: r["n"]
        for r in raw.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert doubled == {k: 2 * v for k, v in batch.items()}


@pytest.mark.slow  # driver-budget profile, see pytest.ini
def test_dedup_stream_state_survives_restart(spark, sf_dir):
    """Kill-and-resume for the ingestion-dedup path: first delivery of
    the full log, crash, then — after restart from the same checkpoint
    — a redelivery of the RECENT slice (ts inside the watermark
    horizon, so the rows are not droppable as late; only recovered
    dedup state can reject them). Final counts must equal the
    single-copy batch aggregate."""
    import time
    import pandas as pd

    from mapreduce_distributed_systems_spark.sources.tables import normalize_ts

    raw = normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    src = tempfile.mkdtemp(prefix="evdd_restart_src_")
    raw.write.mode("overwrite").parquet(f"{src}/first.dir")
    max_ts = raw.agg(F.max("ts")).collect()[0][0]

    collected: list = []

    def start(ckpt):
        stream = normalize_ts(
            spark.readStream.schema(spark.read.parquet(f"{src}/first.dir").schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        return (
            agg.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.toPandas()))
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ckpt = tempfile.mkdtemp(prefix="evdd_restart_ckpt_")
    q1 = start(ckpt)
    deadline = time.time() + 120
    while len(collected) < 1 and time.time() < deadline:
        time.sleep(0.2)
        if q1.exception() is not None:
            raise q1.exception()
    q1.stop()
    q1.awaitTermination()
    assert collected, "stream made no progress before stop"

    # while "down": redeliver the slice INSIDE the watermark horizon
    # (1h of a 2h delay) — not late, so only state can drop it
    redelivery = raw.where(F.col("ts") > F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
    assert redelivery.count() > 0, "redelivery slice empty; test is vacuous"
    redelivery.write.mode("overwrite").parquet(f"{src}/redelivered.dir")

    q2 = start(ckpt)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    final = collected[-1][1]  # complete mode: last emission is the state
    got = {(r.event_type, int(r.n)) for r in final.itertuples(index=False)}
    want = {
        (r["event_type"], r["n"])
        for r in raw.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want, "redelivered rows leaked through restarted dedup state"


@pytest.mark.slow  # driver-budget profile, see pytest.ini
def test_attribution_join_state_survives_restart(spark, sf_dir):
    """Stream-stream join state recovery: all VIEW events arrive and
    are buffered, the query stops, and the PURCHASE events arrive only
    after a restart from the same checkpoint. Every match then depends
    on the recovered left-side buffer; emitted pairs must equal the
    batch interval join."""
    import time
    import uuid

    from mapreduce_distributed_systems_spark.sources.tables import normalize_ts
    from mapreduce_distributed_systems_spark.streaming.event_stream import (
        ATTRIBUTION_ORACLE,  # noqa: F401  (documents the contract)
    )

    raw = normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    src = tempfile.mkdtemp(prefix="evattr_restart_src_")
    views_batch = raw.where(F.col("event_type") == "view")
    purchases_batch = raw.where(F.col("event_type") == "purchase")
    views_batch.write.mode("overwrite").parquet(f"{src}/views.dir")

    collected: list = []

    def start(ckpt):
        schema = spark.read.parquet(f"{src}/views.dir").schema
        stream = normalize_ts(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        views = (
            stream.where(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                "user_id",
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "2 hours")
        )
        purchases = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            F.expr(
                "user_id = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        ).select("view_id", "purchase_id", "user_id")
        return (
            joined.writeStream.foreachBatch(
                lambda df, bid: collected.append((bid, df.toPandas()))
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    ckpt = tempfile.mkdtemp(prefix="evattr_restart_ckpt_")
    q1 = start(ckpt)
    deadline = time.time() + 120
    while len(collected) < 1 and time.time() < deadline:
        time.sleep(0.2)
        if q1.exception() is not None:
            raise q1.exception()
    q1.stop()
    q1.awaitTermination()

    purchases_batch.write.mode("overwrite").parquet(f"{src}/purchases.dir")
    q2 = start(ckpt)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    last_by_batch: dict = {}
    for b, p in collected:
        last_by_batch[b] = p
    got = set()
    for b in sorted(last_by_batch):
        for r in last_by_batch[b].itertuples(index=False):
            got.add((int(r.view_id), int(r.purchase_id), int(r.user_id)))
    want = {
        (int(r.view_id), int(r.purchase_id), int(r.user_id))
        for r in views_batch.alias("v")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .join(
            purchases_batch.select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
            ),
            F.expr(
                "user_id = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        )
        .select("view_id", "purchase_id", "user_id")
        .collect()
    }
    assert want, "batch interval join empty; test is vacuous"
    assert got == want, "recovered join state missed or duplicated matches"


def test_cms_streaming_state_is_bounded_by_cells(spark, sf_dir):
    """The whole point of the streaming CMS: state row count is capped
    by the D x W cell grid no matter how many distinct keys the stream
    carries. Run the same fan-out aggregate events_cms_streaming uses
    and read the state-operator metrics from the final progress."""
    import tempfile
    import uuid

    from mapreduce_distributed_systems_spark.operators.sketches import (
        CMS_D,
        CMS_W,
        _cms_bucket_spark,
    )

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = tempfile.mkdtemp(prefix="cms_state_src_")
    import os as _os

    _os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    stream = spark.readStream.schema(raw.schema).parquet(src)
    uid = F.col("user_id").cast("string")
    fan = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        _cms_bucket_spark(uid, F.lit(r)).alias("b"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rc")
    ).select("rc.r", "rc.b")
    q = (
        fan.groupBy("r", "b")
        .agg(F.count("*").alias("cell"))
        .writeStream.format("memory")
        .queryName(f"cms_state_{uuid.uuid4().hex[:8]}")
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cms_state_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_rows = sum(
        op["numRowsTotal"] for op in (q.lastProgress or {}).get("stateOperators", [])
    )
    n_users = raw.select("user_id").distinct().count()
    assert 0 < state_rows <= CMS_D * CMS_W
    # and the cap is structural: it does NOT scale with key cardinality
    assert state_rows <= CMS_D * max(n_users, CMS_W)


def test_malformed_audit_restart_preserves_loss_accounting(spark, sf_dir):
    """Kill-and-resume for the streaming malformed audit (ROADMAP
    round-8 backlog #4): drain HALF the time-ordered log, stop, add
    the second half, restart from the same checkpoint. The resumed
    complete-mode totals must equal the batch audit over the FULL log
    — possible only if the per-type (n_rows, n_corrupt, k_sum) state
    survived checkpoint recovery, since run 2 never re-reads file 0."""
    import uuid

    from mapreduce_distributed_systems_spark.operators.robustness import (
        _audit_agg,
        _corrupted_props,
        events_json_malformed_audit,
    )

    ev = load_table(spark, sf_dir, "events")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    n = len(pdf)
    src = tempfile.mkdtemp(prefix="malformed_restart_src_")
    ckpt = tempfile.mkdtemp(prefix="malformed_restart_ckpt_")
    pdf.iloc[: n // 2].to_parquet(f"{src}/part-0.parquet", index=False)

    schema = spark.read.parquet(src).schema
    captured: list = []

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        parsed = F.get_json_object(_corrupted_props(), "$.k").cast("int")
        agg = _audit_agg(stream.select("event_type", parsed.alias("k")))

        def sink(batch_df, batch_id):
            captured.append(batch_df.toPandas())

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # run 1: first half only, then terminates (the "crash")
    assert captured, "run 1 produced no output"
    half_rows = int(captured[-1]["n_rows"].sum())
    assert half_rows == n // 2

    # second half lands while the query is down
    pdf.iloc[n // 2 :].to_parquet(f"{src}/part-1.parquet", index=False)
    captured.clear()
    run_once()  # run 2: same checkpoint, resumes past part-0

    assert captured, "run 2 produced no output"
    final = captured[-1]
    got = {
        (r.event_type, int(r.n_rows), int(r.n_corrupt), int(r.k_sum),
         float(r.corrupt_rate))
        for r in final.itertuples(index=False)
    }
    want = {
        (r.event_type, int(r.n_rows), int(r.n_corrupt), int(r.k_sum),
         float(r.corrupt_rate))
        for r in events_json_malformed_audit(spark, sf_dir).collect()
    }
    assert got == want


def test_classifier_stream_is_stateless_map_only(spark, sf_dir):
    """The inference twin's 24/7 contract: ZERO state operators (no
    watermark, no aggregation state) and append-mode output equal to
    the batch scorer — a stream that can run forever with nothing to
    bound. Drive the registered query's own plan and read the final
    progress."""
    import tempfile
    import uuid

    from mapreduce_distributed_systems_spark.plans.registry import get_spec
    from mapreduce_distributed_systems_spark.streaming.doc_stream import (
        _score_expr,
    )
    from mapreduce_distributed_systems_spark.functions.text import words
    import os as _os

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tempfile.mkdtemp(prefix="cls_state_src_")
    _os.symlink(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
    scored = (
        spark.readStream.schema(raw.schema)
        .parquet(src)
        .withColumn("_toks", words("text"))
        .select("doc_id", F.expr(_score_expr()).alias("score"))
    )
    q = (
        scored.writeStream.format("memory")
        .queryName(f"cls_state_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cls_state_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = (q.lastProgress or {}).get("stateOperators", [])
    assert ops == [] or all(op["numRowsTotal"] == 0 for op in ops)

    # and the registered twin equals the batch scorer row-for-row
    twin = {
        (r.doc_id, r.n_tokens, r.score, r.label)
        for r in get_spec("quality_classifier_streaming").fn(spark, sf_dir).collect()
    }
    batch = {
        (r.doc_id, r.n_tokens, r.score, r.label)
        for r in get_spec("quality_classifier_score").fn(spark, sf_dir).collect()
    }
    assert twin == batch and len(twin) > 0


def test_run_to_memory_raises_a_failed_batch(spark, sf_dir):
    """A batch that raises must surface as the streaming exception —
    never as an empty or partial memory table — and leave no query
    active behind it."""
    from pyspark.errors import StreamingQueryException

    from mapreduce_distributed_systems_spark.streaming.replay import (
        run_to_memory,
        stage_table,
    )

    @F.udf("long")
    def planted_failure(event_id):
        raise ValueError("planted batch failure")

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(raw.schema)
        .parquet(stage_table(sf_dir, "events"))
        .select(planted_failure("event_id").alias("x"))
    )
    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        run_to_memory(stream, "append")
    assert spark.streams.active == []
