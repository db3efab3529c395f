"""Physical-plan assertions: the scale-posture properties PERFORMANCE.md
documents must hold structurally, not accidentally. A regression that
turns a broadcast join into a shuffle or loses parquet pushdown fails
here even though results stay correct."""

from __future__ import annotations

from map_reduce_spark.registry import queries

_QS = queries()


def plan_of(spark, sf_dir, name: str) -> str:
    df = _QS[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(spark, sf_dir, name: str) -> str:
    df = _QS[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan schema must not include unused columns
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast_star")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q5_region_filter_pushed(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert "ASIA" in plan  # filter reached the scan, not a post-join Filter


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[0]


def test_mr_pipeline_reads_only_text(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "mr_pipeline")
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" in read_schema
    for col in ("doc_id", "lang", "source", "n_chars"):
        assert col not in read_schema


def test_count_reduce_partial_aggregates(spark, sf_dir):
    """Map-side combine (the reference lacks it, worker.ex:112-113):
    a partial HashAggregate must appear below the exchange."""
    plan = plan_of(spark, sf_dir, "count_reduce")
    assert plan.count("HashAggregate") >= 2


def test_semi_anti_plans_are_joins_not_subquery_scans(spark, sf_dir):
    for name in ("join_semi", "join_anti"):
        plan = plan_of(spark, sf_dir, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan


def test_global_sorts_have_no_single_partition_exchange(spark, sf_dir):
    """The three total-order queries must never funnel the table through
    one task (VERDICT r1 #2): the scale-safe rank in
    map_reduce_spark.ranking keeps every exchange parallel."""
    for name in ("sort_by_key", "sort_multi_col", "window_ntile"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange SinglePartition" not in plan, name


def _subtree(lines: list[str], i: int) -> list[str]:
    """Node ``i`` of a tree-printed plan and every line nested under it."""

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    d = depth(lines[i])
    rest = lines[i + 1 :]
    end = next((j for j, ln in enumerate(rest) if depth(ln) <= d), len(rest))
    return lines[i : i + 1 + end]


def test_minhash_verify_joins_only_candidates(spark, sf_dir):
    """The LSH verify path must not build corpus-wide shingle sets
    (VERDICT r1 #3): each side's shingle-set projection (``sa``/``sb``)
    sits above that side's candidate-id semi-join, so every shingle
    array the verify materializes is bounded by the candidate set.
    Every caller of the shared verify (``dedup._verify_jaccard``) is
    locked."""
    for name in (
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_portable",
        "contamination_minhash",
        "dedup_incremental",
        "dedup_index_compact",
    ):
        lines = optimized_of(spark, sf_dir, name).splitlines()
        sets = [i for i, ln in enumerate(lines) if " AS sa#" in ln or " AS sb#" in ln]
        assert len(sets) >= 2, f"{name}: expected both verify sides' shingle sets"
        for i in sets:
            joins = [
                ln.lstrip(" :+-")
                for ln in _subtree(lines, i)[1:]
                if ln.lstrip(" :+-").startswith("Join ")
            ]
            assert joins[:1] and joins[0].startswith("Join LeftSemi"), (
                f"{name}: shingle set not gated by a semi-join"
            )


def test_pipeline_projections_do_not_shuffle(spark, sf_dir):
    """Splits, sampling, scrubbing, normalization, quantization are
    per-row projections/filters — their physical plans must contain NO
    exchange at all (scan-bandwidth-bound at any scale)."""
    for name in (
        "split_train_val_test",
        "stratified_sample",
        "pii_scrub",
        "text_normalize",
        "embedding_quantize",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, name


def test_skew_agg_shuffles_rows_on_salted_key_only(spark, sf_dir):
    """Two-phase salted aggregation: the full-row shuffle is keyed by
    (l_suppkey, salt); the bare-key shuffle moves only partials. Both
    phases keep partial_* aggregates (map-side combine)."""
    plan = plan_of(spark, sf_dir, "skew_agg_twophase")
    parts = plan.split("Exchange hashpartitioning")
    assert len(parts) == 3  # exactly two shuffles
    # plan text is top-down: parts[1] is the final bare-key exchange,
    # parts[2] the phase-1 row shuffle keyed by (l_suppkey, salt)
    assert "l_suppkey" in parts[1][:120] and "salt" not in parts[1][:120]
    assert "l_suppkey" in parts[2][:120] and "salt" in parts[2][:120]
    assert "partial" in plan


def test_tpch_scalar_thresholds_are_broadcast(spark, sf_dir):
    """Q11/Q15/Q22: the 1-row scalar threshold joins must be broadcast,
    never a shuffle of the big side against a single-row relation."""
    for name in ("q11_important_stock", "q15_top_supplier", "q22_idle_customers"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name


def test_q10_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q19_extracts_equi_join_key(spark, sf_dir):
    """The OR-of-ANDs predicate must not force a nested-loop join: the
    common p_partkey = l_partkey conjunct becomes the hash-join key."""
    plan = plan_of(spark, sf_dir, "q19_disjunctive_join")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q21_self_joins_are_semi_and_anti(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_contamination_benchmark_is_broadcast(spark, sf_dir):
    """The eval-suite gram set must broadcast; the corpus side must not
    shuffle before the join."""
    plan = plan_of(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan


def test_bm25_topk_and_broadcast_stats(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "bm25_rank")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan  # df + corpus stats sides


def test_unigram_model_is_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "unigram_logprob")
    assert "BroadcastHashJoin" in plan  # vocab-sized logp table


def test_histogram_is_single_pass_partial_agg(spark, sf_dir):
    """value_histogram: one scan, map-side partials, exactly one
    exchange on the bucket key — the column-profile shape."""
    plan = plan_of(spark, sf_dir, "value_histogram")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan


def test_anomaly_mad_broadcasts_per_type_stats(spark, sf_dir):
    """The median/MAD relations are one row per event type — they must
    broadcast back to the scan, never shuffle the fact side."""
    plan = plan_of(spark, sf_dir, "anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2


def test_funnel_stages_share_the_user_partitioning(spark, sf_dir):
    """Every funnel exchange is keyed on user_id — co-partitioned end
    to end; no cartesian or nested-loop anywhere."""
    plan = plan_of(spark, sf_dir, "funnel_analysis")
    assert "CartesianProduct" not in plan
    for part in plan.split("Exchange hashpartitioning")[1:]:
        assert "user_id" in part[:120]


def test_textrank_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "textrank_keywords")
    assert "TakeOrderedAndProject" in plan


def test_sql_udfs_stay_in_codegen(spark, sf_dir):
    """SQL-defined functions must inline into the plan — no Python
    evaluation node may appear."""
    plan = plan_of(spark, sf_dir, "sql_udf_funcs")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the function bodies appear as plain inlined expressions...
    assert "CASE WHEN" in plan and "partial_sum" in plan
    # ...and the scan reads only the two referenced columns
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_mix_temperature_sample_filter_at_scan(spark, sf_dir):
    """The accept test is a scan-level filter after two broadcast
    joins of metadata-sized aggregates — the corpus never shuffles."""
    plan = plan_of(spark, sf_dir, "mix_temperature")
    # corpus side: only the tiny per-source aggregates may shuffle
    for part in plan.split("Exchange hashpartitioning")[1:]:
        assert "source" in part[:120]


def test_table_profile_is_single_scan(spark, sf_dir):
    """All per-column statistics come from ONE pass: exactly one
    FileScan; the multi-column exact distinct appears as Expand."""
    plan = plan_of(spark, sf_dir, "table_profile")
    assert plan.count("FileScan") == 1
    assert "Expand" in plan


def test_incremental_merge_moves_partials_not_events(spark, sf_dir):
    """Every fold partial-aggregates the batch BEFORE the full-outer
    merge: each exchange carries rollup rows keyed by the group key."""
    plan = plan_of(spark, sf_dir, "incremental_rollup")
    assert "FullOuter" in plan
    assert "partial" in plan
    for part in plan.split("Exchange hashpartitioning")[1:]:
        # the hour key may appear under its derived-expression alias
        assert "event_type" in part[:150], part[:150]
        assert "hb" in part[:150] or "_groupingexpression" in part[:150]


def test_doc_chunking_is_shuffle_free(spark, sf_dir):
    """Chunking is a narrow per-row explode — any Exchange would mean
    an accidental repartition in the hot path."""
    plan = plan_of(spark, sf_dir, "doc_chunking")
    assert "Exchange" not in plan


def test_simhash_portable_band_join_never_all_pairs(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_simhash_portable")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the 65-way bit-vote aggregation must be partial-agged
    assert plan.count("HashAggregate") >= 2


def test_hll_sketches_move_bytes_not_keys(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_hll_sketch_union")
    # sketch aggregates run as ObjectHashAggregate with a partial level
    # below the exchange: only sketch bytes cross the wire
    assert plan.count("ObjectHashAggregate") >= 2


def test_python_datasource_scan_is_partitioned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "python_datasource_scan")
    assert "BatchScan synth_range" in plan  # the custom source, as a real scan node
    assert "partial_" in plan  # partial agg above the scan


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark, sf_dir):
    """AQE posture: with adaptive execution on, a small shuffle must be
    re-planned at runtime to fewer partitions (AQEShuffleRead
    coalesced) — the mechanism that keeps the static
    shuffle.partitions=32 a ceiling, not a commitment, at any scale."""
    df = _QS["dedup_exact"](spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan


def test_band_join_is_equi_hash_not_nested_loop(spark, sf_dir):
    """The bucket rewrite must plan as an equi-join (hash/sort-merge) —
    a BroadcastNestedLoopJoin would mean the band predicate leaked back
    into the join condition."""
    plan = plan_of(spark, sf_dir, "band_join_bucketed")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_kmeans_broadcasts_centroids_every_iteration(spark, sf_dir):
    """Both Lloyd iterations join vectors against broadcast centroids
    (k x dim rows) — the vector table never shuffles for the distance
    join; argmin windows are partitioned by vec_id, never global."""
    plan = plan_of(spark, sf_dir, "kmeans_lloyd")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange SinglePartition" not in plan


def test_ann_portable_probe_is_broadcast_topk(spark, sf_dir):
    """Both ANN queries (one frame, two plane sets) must broadcast the
    9 probe bucket ids (never shuffle the corpus for the probe join)
    and plan the final ranking as TakeOrderedAndProject — per-partition
    heaps, no global sort of candidates."""
    for name in ("ann_lsh_topk_portable", "ann_lsh_topk"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name


def test_ivf_topk_broadcasts_centroids_and_probes(spark, sf_dir):
    """IVF search (r11 per-row shape): the all-labels centroid-array
    row and the nprobe cell list are broadcast and the corpus-side
    argmin is computed per row — the corpus path must stay free of
    window sorts and of equi-joins back to the vector table (the old
    nv⋈cand SMJ); the probe filter stays a broadcast hash join and
    top-k a TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "ivf_topk")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_pq_encode_is_narrow_after_codebook(spark, sf_dir):
    """PQ encode (r11 per-row shape): after the constant-size codebook
    collect, encoding is a pure projection — no corpus-grain shuffle,
    no window, no join blow-up (the codebook rides in one broadcast
    row)."""
    plan = plan_of(spark, sf_dir, "pq_encode")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row codebook


def test_multimodal_pipeline_is_shuffle_free(spark, sf_dir):
    """Three chained mapInPandas codec stages must stay narrow: no
    exchange anywhere — at 100 TB the whole chain pipelines
    per-partition."""
    plan = plan_of(spark, sf_dir, "multimodal_pipeline")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") >= 3


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew posture: a sort-merge join with one hot key must get its
    skewed partition SPLIT by AQE at runtime (`skew=true` in the final
    plan) — the mechanism (alongside explicit salting, `join_salted`)
    that keeps a 100 TB hot key from serializing onto one reducer.
    Thresholds are lowered so local-scale data trips the same code
    path production sizes would."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # hot key 0 carries ~100x the rows of every other key
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise((F.col("id") % 1000).cast("long"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        j = left.join(right, "k")
        # materialize THIS plan (count() would execute a different one)
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_catalog_wide_plan_audit_has_no_unaccepted_flags(spark, sf_dir):
    """Catalog-wide lock of the per-query audits above: NO query may
    contain an `Exchange SinglePartition` or nested-loop join that is
    not enumerated (with a tiny-frame justification) in
    plan_audit.ACCEPTED_1PART / ACCEPTED_BNLJ."""
    from map_reduce_spark import plan_audit

    rows, errors = plan_audit.audit(spark, sf_dir)
    assert not errors, errors
    bad = [
        r["name"]
        for r in rows
        if (r["one_part"] and r["name"] not in plan_audit.ACCEPTED_1PART)
        or (r["bnlj"] and r["name"] not in plan_audit.ACCEPTED_BNLJ)
    ]
    assert not bad, f"unaccepted single-partition/nested-loop plans: {bad}"


def test_dedup_spans_topk_and_no_single_partition(spark, sf_dir):
    """Span dedup must plan its bounded output as a per-partition heap
    (TakeOrderedAndProject), never a global sort, and its distinct-doc
    count must be the two-phase groupBy (no Exchange SinglePartition)."""
    plan = plan_of(spark, sf_dir, "dedup_spans")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_boilerplate_dedup_anti_join_no_text_in_dup_shuffle(spark, sf_dir):
    """Boilerplate removal: membership test is an anti join keyed on the
    16-byte segment hash; the dup-set side of that join must not carry
    segment text through its shuffle."""
    plan = plan_of(spark, sf_dir, "boilerplate_dedup")
    assert "LeftAnti" in plan
    opt = optimized_of(spark, sf_dir, "boilerplate_dedup")
    # the dup-set aggregate projects only the hash + doc id, never seg_txt
    import re
    agg_inputs = re.findall(r"Aggregate \[seg_md5.*?\], \[seg_md5", opt)
    assert agg_inputs, "dup-set aggregate should group on seg_md5 only"


def test_corpus_shuffle_is_range_partitioned_rank(spark, sf_dir):
    """The deterministic epoch shuffle must compute its global order via
    range partitioning + offsets — a single-partition funnel at 100 TB
    would serialize the whole corpus through one task."""
    plan = plan_of(spark, sf_dir, "corpus_shuffle")
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_quality_classifier_single_shuffle(spark, sf_dir):
    """Classifier inference is one narrow explode + hash + partial agg:
    exactly one data shuffle (doc_id re-aggregation), zero joins."""
    plan = plan_of(spark, sf_dir, "quality_classifier")
    import re
    assert len(re.findall(r"\bExchange\b", plan)) <= 2  # agg + AQE read
    assert "Join" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_runtime_bloom_filter_injects_on_selective_fact_joins(spark, sf_dir):
    """Runtime row-level filtering (Spark's bloom-filter join,
    spark.sql.optimizer.runtime.bloomFilter.*, on by default in this
    engine's sessions): when a selective build side cannot broadcast,
    the optimizer builds a bloom_filter_agg over the join key and
    injects might_contain onto the probe side's scan, cutting shuffle
    volume before the join. At test scale broadcast always wins, so
    this locks the capability with broadcast disabled and the
    application-side size floor lowered — the exact posture a
    1000-executor fact-fact join at 100 TB relies on."""
    from map_reduce_spark.io import load_table
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ann_upsert_broadcasts_index_metadata(spark, sf_dir):
    """ann_index_upsert's stored-index side must enter every join as
    broadcast metadata (centroid stats, PQ codebooks, per-cell batch
    counts and stats): the batch is the only corpus-grain input, so
    the fold stays O(batch) at any index size. The ONE allowed
    sort-merge join is assign-vs-codes — batch grain on BOTH sides,
    co-partitioned by vec_id from their windows; at a 100 TB daily
    batch that join must NOT be a broadcast, so the lock permits
    exactly it and nothing else."""
    plan = plan_of(spark, sf_dir, "ann_index_upsert")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_centroid_retrain_joins_are_metadata_broadcasts(spark, sf_dir):
    """centroid_retrain's per-cell frames (batch counts, batch sums,
    stored stats) must broadcast; the only corpus-grain joins are the
    batch-side assign/explode pair (vec_id-keyed, O(batch))."""
    plan = plan_of(spark, sf_dir, "centroid_retrain")
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_health_fold_psi_finish_is_join_free(spark, sf_dir):
    """The PSI finish is one per-source pivot plus whole-frame window
    marginals — no bin spine, grid cross join or marginal joins — and
    the composed health fold stays within its exchange budget (25
    before the join-free finish and the symmetric overlap finish)."""
    import re

    from map_reduce_spark.operators.monitoring import psi_from_counts

    counts = spark.createDataFrame(
        [("s0", 0, 3), ("s0", 4, 2), ("s1", 9, 5)], "source string, bin int, c long"
    )
    optimized = psi_from_counts(counts)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized
    plan = plan_of(spark, sf_dir, "health_report_fold")
    assert len(re.findall(r"\bExchange\b", plan)) <= 18
