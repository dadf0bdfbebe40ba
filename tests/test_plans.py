"""Physical-plan assertions — the scale contract (SURVEY.md §4, §7 M7).

Correctness tests prove the answers; these prove the PLANS stay the
ones that survive 100 TB: filters reach the parquet scan, column
pruning holds, small dims broadcast, aggregates combine map-side,
global top-k never does a full sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import get_spec


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = physical_plan(get_spec("q1_pricing_summary").fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused columns must not be read
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]
    assert "l_partkey" not in plan.split("ReadSchema")[-1]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = physical_plan(get_spec("q5_local_supplier").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_wc_partial_aggregation(spark, sf_dir):
    # the map-side combine the reference lacks (SURVEY.md §2.A note)
    plan = physical_plan(get_spec("wc").fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_topk_no_global_sort(spark, sf_dir):
    plan = physical_plan(get_spec("top_k_orders").fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort operator


def test_scalar_funcs_codegen(spark, sf_dir):
    plan = physical_plan(get_spec("scalar_funcs").fn(spark, sf_dir))
    assert "*(" in plan  # '*(n)' prefix marks a WholeStageCodegen span


def test_semi_anti_join_operators(spark, sf_dir):
    semi = physical_plan(get_spec("join_semi_customers").fn(spark, sf_dir))
    anti = physical_plan(get_spec("join_anti_parts").fn(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_shard_pruned_read_pushes_filter(spark, sf_dir):
    plan = physical_plan(get_spec("shard_pruned_read").fn(spark, sf_dir))
    # the shard predicate is on a derived column, but the events scan
    # must still only read the columns the query needs
    tail = plan.split("ReadSchema")[-1]
    assert "props" not in tail and "event_type" not in tail


def test_kv_replay_single_shuffle_on_key(spark, sf_dir):
    plan = physical_plan(get_spec("kv_replay_final").fn(spark, sf_dir))
    # replay shuffles on the kv key for the window; the final groupBy
    # must reuse that partitioning rather than exchange again: one
    # hashpartitioning exchange on key-derived columns is expected
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ntile_no_single_partition_window(spark, sf_dir):
    # global rank must come from range-partitioned local ranks + prefix
    # offsets — a W.orderBy() with no partitionBy would funnel the whole
    # table through one task (Exchange SinglePartition) at 100 TB
    plan = physical_plan(get_spec("window_ntile_pctrank").fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # local rank is still a (partitioned) window


def test_broadcast_lookup_in_kv_get(spark, sf_dir):
    plan = physical_plan(get_spec("kv_get_lookup").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q21_compiles_to_semi_plus_anti(spark, sf_dir):
    # the EXISTS / NOT EXISTS pair must be joins, not nested loops
    plan = physical_plan(get_spec("q21_waiting_suppliers").fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q15_scalar_max_broadcasts(spark, sf_dir):
    # the max-revenue scalar joins back via broadcast (1-row side);
    # the only SinglePartition exchange is the scalar aggregate itself
    plan = physical_plan(get_spec("q15_top_supplier").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q7_broadcasts_both_nation_roles(spark, sf_dir):
    plan = physical_plan(get_spec("q7_volume_shipping").fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_token_rarity_deskewed_join(spark, sf_dir):
    # round-3 fix (VERDICT r2 item 6): the toks ⋈ vocab join must not
    # stream raw occurrences into a shuffled join on the token (every
    # "the" on one reducer). The plan pre-aggregates to (doc_id, tok)
    # — visible as a partial_count before any join — and broadcasts
    # the Zipf-head vocabulary slice.
    plan = physical_plan(get_spec("text_token_rarity").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_dedup_exact_shuffles_on_hash_not_text(spark, sf_dir):
    # round-4 fix (VERDICT r3 item 7): the exact-dedup shuffle key must
    # be the 16-byte md5, never the full document body — at 100 TB the
    # difference is shuffling ~32 bytes/doc vs the whole corpus. The
    # same stage inside pipeline_clean_corpus is held to the same bar.
    import re

    for q in ("dedup_exact", "pipeline_clean_corpus"):
        plan = physical_plan(get_spec(q).fn(spark, sf_dir))
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert exchanges, f"expected a hash exchange in the {q} plan"
        for keys in exchanges:
            assert "text" not in keys, f"{q}: full text as shuffle key: {keys}"
        assert "md5" in plan


def _spread_exchanges(plan: str) -> list[list[str]]:
    """The distinct REPARTITION_BY_NUM exchanges of a plan string (ids
    stripped), each as its subtree's lines: the exchange line and every
    deeper-indented line below it."""
    import re

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    found = {}
    for i, line in enumerate(lines):
        if "Exchange" in line and "REPARTITION_BY_NUM" in line:
            sub = [line]
            for nxt in lines[i + 1:]:
                if depth(nxt) <= depth(line):
                    break
                sub.append(nxt)
            key = re.sub(r"#\d+L?|\[plan_id=\d+\]", "", line.lstrip(" :+-"))
            found.setdefault(key, sub)
    return list(found.values())


def test_pipeline_spreads_single_row_group_scan_by_doc_id(spark, sf_dir):
    # the fixture's documents file is one parquet row group, so its scan
    # is one task; the pipeline hash-spreads it on doc_id right above
    # the scan, and the gate's token array is computed above that
    # exchange, on every core
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    plan = physical_plan(get_spec("pipeline_clean_corpus").fn(spark, sf_dir))
    (spread,) = _spread_exchanges(plan)
    assert "hashpartitioning(doc_id" in spread[0]
    below = "\n".join(spread[1:])
    assert "FileScan parquet" in below and "documents" in below
    assert "Exchange" not in below
    assert "AS toks" not in below


def test_pipeline_keeps_scan_partitions_when_one_per_core(spark, sf_dir, tmp_path):
    # a documents directory with a parquet file per core already scans
    # as one partition per core, so the spread must not add an exchange
    n = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(n).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert docs.rdd.getNumPartitions() >= n
    plan = physical_plan(get_spec("pipeline_clean_corpus").fn(spark, str(tmp_path)))
    assert _spread_exchanges(plan) == []
    assert "Exchange" in plan


def test_minhash_never_shuffles_shingle_strings(spark, sf_dir):
    # round-5 re-key (ROADMAP item 1): the shingle string exists only
    # inside the map stage — every downstream exchange carries doc_id,
    # the 8-byte sid, signature slices, or band keys. At 100 TB the
    # difference is shuffling ~16 bytes/shingle instead of the shingle
    # text for the distinct + both sides of the verification join.
    import re

    for q in ("dedup_minhash_lsh", "dedup_minhash_estimate"):
        plan = physical_plan(get_spec(q).fn(spark, sf_dir))
        for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "shingle" not in keys, f"{q}: shingle string shuffled: {keys}"


def test_minhash_signature_agg_is_hash_not_sort(spark, sf_dir):
    # round 5: string-typed min() slices cannot live in a mutable
    # hash-agg buffer, which silently forced the signature groupBy into
    # SortAggregate — a full per-partition sort of the exploded shingle
    # stream (billions of rows at corpus scale). Integer slices keep it
    # in HashAggregate; pin that no SortAggregate appears anywhere in
    # the LSH plans.
    for q in ("dedup_minhash_lsh", "dedup_lsh_bucket_stats"):
        plan = physical_plan(get_spec(q).fn(spark, sf_dir))
        assert "SortAggregate" not in plan, f"{q}: signature agg fell to sort"


def test_lsh_bucket_stats_skips_distinct_shuffle(spark, sf_dir):
    # signatures never need distinct shingles (min over multiset ==
    # min over set), so the diagnostics query pays exactly three
    # shuffles: signature groupBy(doc_id), bucket groupBy(band, bkey),
    # band rollup — with NO dropDuplicates exchange before them
    plan = physical_plan(get_spec("dedup_lsh_bucket_stats").fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3


def test_shard_serve_single_exchange(spark, sf_dir):
    # C14 serve-during-migration must pay exactly the one shuffle the
    # shard partitioning requires: the window runs on hashpartitioning
    # (shard) and the final groupBy's keys include shard, so Spark
    # must reuse that partitioning instead of exchanging again
    plan = physical_plan(get_spec("shard_serve_during_migration").fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_decontamination_joins_on_hash_not_text(spark, sf_dir):
    # both decontamination variants must join across the split boundary
    # on 16-byte hashes — the document text must never be a join or
    # shuffle key
    import re

    for q in ("corpus_decontamination", "corpus_decontamination_ngram"):
        plan = physical_plan(get_spec(q).fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, q
        for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "text" not in keys, f"{q}: text used as shuffle key: {keys}"


def test_embedding_ivf_dedup_blocks_on_cell(spark, sf_dir):
    # the pair join must be an equi-join on the learned cell id — no
    # cartesian/unblocked pair explosion
    plan = physical_plan(get_spec("dedup_embedding_cosine_ivf").fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_is_one_plan_no_driver_action(spark, sf_dir):
    # round-3 fix (VERDICT r2 item 5): the signup denominator must be a
    # crossJoined 1-row aggregate inside the SAME plan, not a driver
    # s.count(). Each spark.read.parquet runs one schema-inference job,
    # and the funnel calls load_table exactly once — so building the
    # DataFrame may launch AT MOST that one job. The round-2 defect
    # (driver-side s.count() mid-build) added a full count job on top,
    # making the delta >= 2.
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = get_spec("events_funnel_conversion").fn(spark, sf_dir)
    plan = physical_plan(df)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 1, "building the funnel plan ran a count job"
    # the 1-row x 1-row cross join compiles to a nested-loop join
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    # chunking must fuse into the scan: tokenize -> explode window
    # starts -> slice, all narrow — no exchange anywhere
    plan = physical_plan(get_spec("chunk_documents").fn(spark, sf_dir))
    assert "Exchange" not in plan, "chunking should not shuffle"
    assert "Generate explode" in plan


def test_canonical_pick_windows_only_cluster_members(spark, sf_dir):
    # the survivor pick's window partitions by cluster_id (near-dup
    # cliques, a handful of rows each) — never a low-cardinality or
    # single-partition window over the corpus
    plan = physical_plan(get_spec("dedup_canonical_pick").fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_denylist_scrub_is_map_only(spark, sf_dir):
    # redaction is a narrow per-doc transform: it must fuse into the
    # scan with zero exchanges — at 100 TB it runs at scan speed
    plan = physical_plan(get_spec("text_denylist_scrub").fn(spark, sf_dir))
    assert "Exchange" not in plan, "denylist scrub should not shuffle"
    assert "FileScan parquet" in plan


def test_vocab_encode_bounded_sort_and_broadcast(spark, sf_dir):
    # pass 1: map-side-combined token counts + K-row TakeOrdered (never
    # a full corpus sort); the id-assignment window runs over those K
    # rows only; pass 2: the vocabulary broadcast-joins back onto the
    # token stream — the corpus itself is never re-shuffled for the join
    plan = physical_plan(get_spec("vocab_build_encode").fn(spark, sf_dir))
    assert "TakeOrderedAndProject(limit=16" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert plan.count("Window") == 1  # only the K-row id assignment


def test_divergence_reuses_src_counts_and_broadcasts_marginals(spark, sf_dir):
    # the (source, token) count table feeds three consumers — it must
    # come from the cache, not three corpus explodes; per-source totals
    # and the grand total ride broadcasts, and the cross join of the
    # 1-row total must never be a cartesian product
    # start cache-cold: a cache entry left by an earlier test (parity
    # runs the same query) changes how the InMemoryRelation subtree
    # prints and breaks the textual counts below
    spark.catalog.clearCache()
    plan = physical_plan(
        get_spec("source_unigram_divergence").fn(spark, sf_dir)
    )
    assert plan.count("InMemoryTableScan") >= 3
    # every explode/scan occurrence in the printed plan must sit inside
    # a reprinted InMemoryRelation BUILD subtree (the cache's own
    # definition) — an uncached consumer would add a FileScan/explode
    # beyond the one-per-InMemoryRelation reprint
    assert plan.count("Generate explode") == plan.count("InMemoryRelation")
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_soft_weights_broadcasts_components(spark, sf_dir):
    # the components/size tables are bounded by docs-in-pairs; both
    # joins against the corpus scan must broadcast — the corpus is
    # never shuffled for the weighting
    spark.catalog.clearCache()
    plan = physical_plan(get_spec("dedup_soft_weights").fn(spark, sf_dir))
    tail = plan.split("InMemoryRelation")[0]  # the final-join section
    assert tail.count("BroadcastHashJoin") >= 2
    assert "Exchange hashpartitioning" not in tail.split("BroadcastExchange")[0]


def test_filtered_ann_scan_once_no_corpus_shuffle(spark, sf_dir):
    # hybrid search keeps the brute-force shape: corpus scanned once,
    # scored in-partition (label mask inside the kernel), and only the
    # candidate triples reach the per-query rank window — exactly one
    # exchange (the window's partitionBy query_id)
    plan = physical_plan(get_spec("ann_cosine_filtered").fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """At 100 TB, dims outgrow the broadcast threshold and dim-fact
    joins fall back to shuffle joins — where Catalyst's runtime bloom
    filter (spark.sql.optimizer.runtime.bloomFilter.enabled, on in
    session.py by default) injects a bloom_filter_agg built from the
    selective side and a might_contain() filter on the fact side, so
    unmatched fact rows drop BEFORE the shuffle. Locally the fact scan
    sits under the 10 GiB applicationSideScanSizeThreshold, so this
    test lowers the thresholds to emulate the 100 TB shape and pins
    that the injection actually fires on our join pattern."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        p = spark.read.parquet(f"{sf_dir}/part.parquet").where(
            F.col("p_type") == "LARGE"
        )
        j = li.join(p, li.l_partkey == p.p_partkey).groupBy("p_type").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # the filter guards the FACT side's partkey, pre-shuffle
        assert "might_contain" in plan.split("Join")[1]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_epoch_shuffle_no_single_partition_window(spark, sf_dir):
    # the global per-epoch order comes from the distributed prefix sum
    # (range partition + per-partition rank + offset map); the only
    # SinglePartition exchange allowed is the 1-row corpus count
    plan = physical_plan(get_spec("training_epoch_shuffle").fn(spark, sf_dir))
    assert plan.count("SinglePartition") <= 1
    assert "Window" in plan  # per-partition rank, keyed by _pid


def test_gap_fill_windows_partition_by_user(spark, sf_dir):
    # spine explode, join, and fill window are all keyed by user_id —
    # no SinglePartition exchange anywhere (densification must run at
    # full cluster width)
    plan = physical_plan(get_spec("events_gap_fill_hourly").fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_quality_audit_broadcasts_dims_and_fuses_rules(spark, sf_dir):
    # referential-integrity rules must anti-join against BROADCAST
    # dims (never shuffle the fact side), and intra-row rules ride
    # conditional sums — no join at all
    plan = physical_plan(get_spec("data_quality_audit").fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # 3 orphan checks
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the reconciliation join is the single fact-fact hash shuffle;
    # everything else is scalar aggregates
    assert plan.count("SortMergeJoin") <= 2


def test_scd2_single_shuffle_on_key(spark, sf_dir):
    # both window functions share the per-key commit order: ONE
    # hash-partitioning exchange on key, no SinglePartition
    plan = physical_plan(get_spec("kv_scd2_versions").fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_multi_grain_rollup_is_one_scan_expand(spark, sf_dir):
    # the whole point vs three groupBys: ONE scan, Catalyst Expand
    # produces the grain rows, one hash aggregate pair
    plan = physical_plan(
        get_spec("events_multi_grain_rollup").fn(spark, sf_dir)
    )
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_repetition_filters_shuffles_doc_scoped_keys_only(spark, sf_dir):
    # trigram stats are array expressions fused into the scan; the only
    # shuffles are the (doc_id, bigram) mode count and the join back on
    # doc_id — never a corpus-wide window or a text-keyed exchange
    plan = physical_plan(
        get_spec("quality_repetition_filters").fn(spark, sf_dir)
    )
    assert "Exchange SinglePartition" not in plan
    assert "partial_count" in plan  # bigram mode count combines map-side
    # column pruning: only doc_id + text leave the scan
    assert "lang" not in plan.split("ReadSchema")[-1]


def test_anomaly_mad_broadcasts_median_tables(spark, sf_dir):
    # both per-type median tables are one-row-per-group and must come
    # back as broadcasts — the events stream itself never re-shuffles
    # for the join
    plan = physical_plan(get_spec("events_anomaly_mad").fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "ObjectHashAggregate" in plan  # exact percentile buffers
    # only event_type + value are read
    assert "props" not in plan.split("ReadSchema")[-1]
    assert "user_id" not in plan.split("ReadSchema")[-1]


def test_pagerank_broadcasts_consts_and_combines_mapside(spark, sf_dir):
    # the 1-row (n, teleport) table must broadcast; each iteration's
    # re-aggregation by dst must combine map-side; no SinglePartition
    # exchange anywhere (the scalar agg's own merge excepted)
    plan = physical_plan(get_spec("graph_pagerank_bipartite").fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_histogram_quantiles_shuffles_bounded_histogram(spark, sf_dir):
    # the stream-sized work is the min/max pass and the histogram
    # build; everything after operates on <= groups x 512 rows. The
    # min/max table must broadcast back, counts combine map-side, and
    # only (event_type, value) leave the scan
    plan = physical_plan(get_spec("sketch_histogram_quantiles").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "props" not in plan.split("ReadSchema")[-1]


def test_bloom_broadcasts_filter_size_and_combines_mapside(spark, sf_dir):
    # the 1-row m table must broadcast into the position exprs; the
    # distinct position build combines map-side; only the key columns
    # leave the two scans
    plan = physical_plan(get_spec("sketch_bloom_membership").fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "l_quantity" not in plan.split("ReadSchema")[-1]


def test_malformed_audit_narrow_parse_single_exchange(spark, sf_dir):
    """The tolerant-parse audit must stay a narrow JVM-side parse plus
    ONE map-side-combined aggregate: no Python (the parse is
    get_json_object in codegen), no join, one exchange on the
    low-cardinality event_type key, and only the three columns it
    reads in the scan schema."""
    plan = physical_plan(
        get_spec("events_json_malformed_audit").fn(spark, sf_dir)
    )
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "partial" in plan  # map-side combine
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    read = plan.split("ReadSchema")[-1]
    for needed in ("event_id", "event_type", "props"):
        assert needed in read
    for pruned in ("user_id", "value", '"ts"'):
        assert pruned not in read
