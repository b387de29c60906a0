"""Physical-plan regression tests: the plans we shipped are the plans we
keep. A change that drops a broadcast, un-pushes a filter, or turns top-k
into a global sort fails here instead of on a cluster."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xml_to_parquet_spark.plans.inspect import (
    broadcast_join_count,
    node_counts,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from xml_to_parquet_spark.registry import load_all


def test_q5_star_join_all_broadcast(spark, sf_dir):
    df = load_all()["q5_local_supplier"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 4  # all dims broadcast
    assert shuffle_count(df) <= 2  # fact join + final agg only
    assert "SortMergeJoin" not in node_counts(df)


def test_q1_filter_pushed_and_pruned(spark, sf_dir):
    df = load_all()["q1_pricing_summary"].fn(spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # column pruning: scan must NOT read the join keys we don't use
    rs = read_schemas(df)[0]
    assert "l_orderkey" not in rs and "l_partkey" not in rs


def test_filter_predicates_pushdown(spark, sf_dir):
    df = load_all()["filter_predicates"].fn(spark, sf_dir)
    fs = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_quantity,10.0)" in fs
    assert "In(l_returnflag" in fs


def test_global_topk_avoids_full_sort(spark, sf_dir):
    df = load_all()["orderby_limit"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("TakeOrderedAndProject", 0) == 1
    assert "Exchange rangepartitioning" not in n  # no global sort exchange


def test_minhash_single_pass(spark, sf_dir):
    df = load_all()["dedup_minhash_lsh"].fn(spark, sf_dir)
    n = node_counts(df)
    # bucket agg + distinct (+ the explicit parallelism repartition); a
    # self-join regression would add join nodes and recompute signatures
    assert not any("Join" in k for k in n)


def test_q3_broadcasts_filtered_dim(spark, sf_dir):
    df = load_all()["q3_shipping_priority"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert node_counts(df).get("TakeOrderedAndProject", 0) == 1


def test_bucketed_join_no_exchange_below_join(spark, sf_dir):
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["join_bucketed"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    below_join = plan[plan.find("SortMergeJoin"):]
    # bucket-aligned scans: the join reads both sides without a shuffle
    assert "Exchange" not in below_join
    assert plan.count("Bucketed: true") == 2


def test_salted_join_spreads_keys(spark, sf_dir):
    df = load_all()["join_skew_salted"].fn(spark, sf_dir)
    n = node_counts(df)
    # the salted equi-join must stay a hash/merge join (never nested-loop)
    assert not n.get("CartesianProduct") and not n.get("BroadcastNestedLoopJoin")


def test_q6_no_shuffle_before_final_agg(spark, sf_dir):
    df = load_all()["q6_forecast_revenue"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 1  # single-partition gather for the 1-row agg
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_conversion_include_path_prunes_scan(spark):
    """Include-path projection must reach the XML scan itself (the
    reference prunes during the streaming parse; we pass a pruned explicit
    schema — SURVEY §2.1 row 6). The scan's ReadSchema must not contain
    the excluded subtrees."""
    from tests.conftest import REF_XML, REF_XSD
    from xml_to_parquet_spark import read_xml_documents
    from xml_to_parquet_spark.plans.inspect import read_schemas

    df = read_xml_documents(
        spark, REF_XML, REF_XSD, xpaths="/purchaseOrder/items/item"
    )
    rs = read_schemas(df)[0]
    assert "items" in rs
    # item.comment stays (inside the included subtree); the pruned
    # top-level siblings must be gone
    assert "shipTo" not in rs and "billTo" not in rs


def test_cached_table_reused_in_plan(spark, sf_dir):
    """persist(): the second consumer of a cached intermediate must read
    InMemoryTableScan, not recompute the subtree — the reuse-a-partitioning
    pattern for multi-output pipelines."""
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.plans.inspect import physical_plan
    from xml_to_parquet_spark.tables import table

    base = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        base.count()  # materialize
        downstream = base.filter(F.col("n") > 5).select("o_custkey")
        assert "InMemoryTableScan" in physical_plan(downstream)
    finally:
        base.unpersist()


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization: lag + running-sum share one window spec and the
    final agg reuses the user_id hash partitioning — exactly one exchange
    end-to-end (plus AQE reads). A second exchange would mean the window
    functions or the agg repartitioned separately."""
    df = load_all()["sessionize_events"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 1


def test_asof_nearest_single_shuffle_no_join(spark, sf_dir):
    """Nearest as-of: both direction frames come from ONE sorted pass —
    no join nodes at all, one exchange on user_id."""
    df = load_all()["join_asof_nearest"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("Join" in k for k in n), n
    assert shuffle_count(df) <= 1


def test_hash_sample_map_only(spark, sf_dir):
    """Deterministic hash sampling is a scan + codegen'd filter: zero
    exchanges, and the scan prunes to the 4 projected columns."""
    df = load_all()["sample_hash_deterministic"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    rs = read_schemas(df)[0]
    assert "props" not in rs and "ts" not in rs


def test_chunk_overlap_map_only(spark, sf_dir):
    """Context-window chunking is pure fan-out (explode): no exchange;
    scan reads only doc_id + text."""
    df = load_all()["text_chunk_overlap"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    rs = read_schemas(df)[0]
    assert "lang" not in rs and "source" not in rs


def test_matryoshka_map_only(spark, sf_dir):
    df = load_all()["sim_matryoshka_truncate"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0


def test_pagerank_no_cartesian_hash_joins_only(spark, sf_dir):
    """PageRank iterations must stay equi-joins on the node key (hash or
    sort-merge) — a Cartesian/nested-loop regression would be quadratic in
    the corpus. The final plan covers the last iteration (earlier rounds
    are behind localCheckpoint lineage cuts)."""
    df = load_all()["pagerank_fixed"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("CartesianProduct") and not n.get("BroadcastNestedLoopJoin"), n


def test_unigram_lm_unhinted_vocab_join(spark, sf_dir):
    """r6 contract (VERDICT r5 #2): the token↔vocab join carries NO
    broadcast hint — at test scale the optimizer still picks broadcast
    (vocab ≪ corpus), but at a 100 TB vocabulary the SAME plan must be
    free to fall back to a shuffled join, which a forced hint would
    forbid (it OOMs the driver instead). Only the 1-row grand total is
    force-broadcast."""
    df = load_all()["text_quality_unigram_lm"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = analyzed.count("ResolvedHint")
    assert hints == 1, f"want exactly 1 broadcast hint (the 1-row total): {hints}"
    # and at THIS scale the optimizer should still broadcast the vocab
    n = node_counts(df)
    assert not any("SortMergeJoin" in k for k in n), n
    assert broadcast_join_count(df) >= 1


def test_zscore_broadcast_stats_single_fact_pass(spark, sf_dir):
    """Anomaly gate: tiny per-type stats broadcast onto the fact — one
    shuffle total (the stats agg), never a window over event_type."""
    df = load_all()["dq_anomaly_zscore"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("Window" in k for k in n), n
    assert not any("SortMergeJoin" in k for k in n), n
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 1


def test_centroid_assign_broadcast_no_window(spark, sf_dir):
    """K-means assignment: K-row centroid table broadcasts; argmin is a
    combinable min_by aggregate (no per-vector window sort)."""
    df = load_all()["sim_centroid_assign"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("SortMergeJoin" in k for k in n), n
    assert not any("Window" in k for k in n), n
    assert broadcast_join_count(df) >= 1


def test_asof_tolerance_single_shuffle_no_join(spark, sf_dir):
    """Tolerated as-of keeps the plain as-of physical shape: one exchange
    on user_id, zero join nodes (union-sort-carry window)."""
    df = load_all()["join_asof_tolerance"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("Join" in k for k in n), n
    assert shuffle_count(df) <= 1


def test_url_fns_map_only(spark, sf_dir):
    df = load_all()["scalar_url_fns"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0


def test_ngram_jaccard_hot_shingle_anti_join(spark, sf_dir):
    """r6 contract (VERDICT r5 #3): the df>100 hot-shingle filter is a
    LEFT ANTI join applied BEFORE the shingle self-join, and it carries
    no forced hint (AQE broadcasts the tiny hot set at any scale where
    it fits)."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["dedup_ngram_jaccard"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan[:2000]
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_pq_adc_broadcast_codebook_topk_no_sort(spark, sf_dir):
    """PQ search: codebook/lookup joins all broadcast (64-row sides), the
    per-vector reductions are the only exchanges, and top-10 is a
    TakeOrderedAndProject — never a corpus-wide sort or a non-equi join."""
    df = load_all()["sim_pq_adc"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("BroadcastHashJoin", 0) >= 3, n
    assert not any("SortMergeJoin" in k for k in n), n
    assert not n.get("CartesianProduct") and not n.get("BroadcastNestedLoopJoin"), n
    assert n.get("TakeOrderedAndProject", 0) == 1, n
    assert shuffle_count(df) <= 2


def test_bloom_pruned_probe_filter_before_shuffle(spark, sf_dir):
    """r7 contract (VERDICT r6 #3a): under the operator's scoped confs,
    Catalyst injects a bloom_filter_agg subquery over the selective dim's
    keys and a might_contain filter on the probe side — the probe rows are
    dropped BEFORE the sort-merge exchange, the 100 TB shuffle reducer."""
    from xml_to_parquet_spark.operators.scale_patterns import (
        _BLOOM_CONFS,
        bloom_pruned_join,
        scoped_confs,
    )
    from xml_to_parquet_spark.plans.inspect import physical_plan

    with scoped_confs(spark, **_BLOOM_CONFS):
        plan = physical_plan(bloom_pruned_join(spark, sf_dir))
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]
    # the might_contain filter must sit on the probe (lineitem) side,
    # i.e. reference the probe key, not the dim key
    line = next(l for l in plan.splitlines() if "might_contain" in l)
    assert "l_orderkey" in line, line


def test_dpp_partition_filter_on_fact_scan(spark, sf_dir):
    """r7 contract (VERDICT r6 #3b): the partitioned fact scan carries a
    dynamicpruning PartitionFilter fed by the filtered dim — non-matching
    partition directories are pruned at runtime, never listed."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["scan_dpp_partitioned"].fn(spark, sf_dir)
    plan = physical_plan(df)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("dynamicpruning" in l for l in part_lines), plan[:2000]


def test_bucketed_agg_has_no_exchange(spark, sf_dir):
    """r8: the bucketed scan's HashPartitioning(l_orderkey) already
    satisfies the groupBy distribution, so the whole aggregate plans with
    ZERO Exchange — the write-once-aggregate-daily layout payoff."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["agg_bucketed_reuse"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:2000]


def test_triangle_count_wedges_from_oriented_edges(spark, sf_dir):
    """r8 (intersect form since r9): the triangle plan must contain no
    cartesian/nested-loop join — the adjacency probes are node-keyed
    equi-joins (the degree-ordered orientation is what makes that
    possible), and the only crossJoins are the three 1-row aggregate
    combiners."""
    df = load_all()["graph_triangle_count"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("CartesianProduct"), n
    # 1-row × 1-row combiners plan as BroadcastNestedLoopJoin; the real
    # joins (co-occurrence, degree, wedge, closure) must all be hash/merge
    assert n.get("BroadcastNestedLoopJoin", 0) <= 2, n


def test_skew_aqe_join_splits_hot_partition(spark, sf_dir):
    """r8 contract (VERDICT r7 #5): under the operator's scoped confs, the
    EXECUTED adaptive plan reports an AQE skew split on the probe side —
    SortMergeJoin(skew=true) with an AQEShuffleRead marked skewed. The
    deliberately hot key (80% of fact rows collapse to one supplier) would
    otherwise melt a single reducer; OptimizeSkewedJoin slices it at map
    granularity with zero query rewrite. Assertion is on the executed
    plan: skew detection happens at RUNTIME from observed map sizes, so a
    lazy explain cannot see it."""
    from xml_to_parquet_spark.operators.scale_patterns import (
        _SKEW_AQE_CONFS,
        scoped_confs,
        skew_aqe_join,
    )

    with scoped_confs(spark, **_SKEW_AQE_CONFS):
        df = skew_aqe_join(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert "skewed" in plan, plan[:2000]


def test_quality_classifier_broadcast_weights_single_agg_shuffle(spark, sf_dir):
    """r7 contract (VERDICT r6 #4): the CLS_DIM-row weight table is
    broadcast (features never shuffle to the model), and the per-doc score
    groupBy plus the explicit parallelism repartition are the only
    exchanges."""
    df = load_all()["text_quality_classifier"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("BroadcastHashJoin", 0) == 1, n
    assert not any("SortMergeJoin" in k for k in n), n
    assert shuffle_count(df) <= 2, n


def test_agg_pushdown_answered_from_parquet_footers(spark, sf_dir):
    """r7: under the operator's scoped V2 confs, COUNT/MIN/MAX resolve as
    PushedAggregation on the ParquetScan — no row group is decoded."""
    from xml_to_parquet_spark.operators.scale_patterns import (
        _PUSHDOWN_CONFS,
        pushdown_stats_agg,
        scoped_confs,
    )
    from xml_to_parquet_spark.plans.inspect import formatted_plan

    with scoped_confs(spark, **_PUSHDOWN_CONFS):
        plan = formatted_plan(pushdown_stats_agg(spark, sf_dir))
    assert "PushedAggregation" in plan, plan[:2000]
    line = next(l for l in plan.splitlines() if "PushedAggregation" in l)
    for agg in ("COUNT(*)", "MIN(l_orderkey)", "MAX(l_quantity)"):
        assert agg in line, line


def test_dedup_substring_bucket_shape_no_joins(spark, sf_dir):
    """r7: substring dedup candidates come from ONE digest-bucket shuffle
    with in-bucket pair emission — a join-based formulation (hot anti-join
    + self-join) would recompute the explode+md5 subtree 4x; plan must
    show no join nodes and at most 3 exchanges (parallelism repartition,
    bucket groupBy, span-merge window)."""
    df = load_all()["dedup_substring"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("Join" in key for key in n), n
    assert shuffle_count(df) <= 3, n
    assert n.get("Window", 0) == 1, n


def test_q2_broadcast_dims_and_stable_topk(spark, sf_dir):
    """supplier/nation/region broadcast-hash-join into the derived
    partsupp probe, and the 1-row supplier count reaches the derivation
    as a broadcast cross join (BroadcastNestedLoopJoin) — there is no
    ps<->p join at all (q2_min_cost_supplier docstring). The correlated
    min resolves as one window over p_partkey and the LIMIT is a
    TakeOrderedAndProject with a unique ordering chain — never a global
    sort exchange feeding a bare limit."""
    df = load_all()["q2_min_cost_supplier"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("BroadcastHashJoin", 0) == 3, n
    assert n.get("BroadcastNestedLoopJoin", 0) == 1, n
    assert not n.get("CartesianProduct"), n
    assert not any("SortMergeJoin" in k for k in n), n
    assert n.get("TakeOrderedAndProject", 0) == 1, n
    assert n.get("Window", 0) == 1, n


def test_q21_aggregate_first_no_nested_loop(spark, sf_dir):
    """r7 (post-16s-fix): the exists/not-exists pair resolves as
    aggregates + equi-joins — no BroadcastNestedLoopJoin/CartesianProduct,
    and the hash-derived late decode must NOT be pushed into the scan as
    a Filter (the md5 digit decode appears in Project/Aggregate land
    only)."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["q21_suppliers_who_kept_waiting"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("BroadcastNestedLoopJoin") and not n.get("CartesianProduct"), n
    plan = physical_plan(df)
    for line in plan.splitlines():
        stripped = line.strip(" :+-*")
        if stripped.startswith("Filter") and "md5" in stripped:
            raise AssertionError(
                "late-flag md5 decode pushed into a Filter:\n" + line
            )


def test_semdedup_broadcast_centroids_no_cartesian(spark, sf_dir):
    """r7: centroid assignment is a broadcast K-row cross join + combinable
    min_by; the pair stage is ONE equi-join on the cluster id (sort-merge
    pre-AQE — correct at scale, where neither assigned side broadcasts) —
    and there is no corpus-level cartesian anywhere."""
    df = load_all()["dedup_semdedup"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("CartesianProduct"), n
    assert n.get("SortMergeJoin", 0) <= 1, n  # the cid pair join only
    assert n.get("BroadcastNestedLoopJoin", 0) <= 2, n  # the K-row crossJoins


def test_minhash_incremental_probe_reads_persisted_index(spark, sf_dir):
    """r7: the batch probe joins a parquet SCAN of the persisted band
    index — the index side must not recompute signatures (no md5 on the
    index branch of the join)."""
    from xml_to_parquet_spark.plans.inspect import formatted_plan

    df = load_all()["dedup_minhash_incremental"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "minhash_band_index" in plan, plan[:2000]


def test_curate_pipeline_fuses_gate_into_scan_side(spark, sf_dir):
    """r7: the composed pipeline keeps the quality gate and the mix filter
    as scan-side predicates (no extra exchange for either); the only
    exchanges are the dedup digest window and the packer's global-order
    window — never a join."""
    df = load_all()["curate_pipeline"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not any("Join" in k for k in n), n
    # two logical windows (dedup keep-first, packer cumsum); Spark may
    # split them into more physical Window operators, but the exchange
    # count is the real currency: digest hash + single-partition cumsum
    assert n.get("Exchange hashpartitioning", 0) == 1, n
    assert n.get("Exchange SinglePartition", 0) == 1, n
    assert shuffle_count(df) <= 3, n


def test_classifier_chain_stays_double_no_decimal(spark, sf_dir):
    """r7 regression guard: Spark parses decimal-point literals as
    DECIMAL, which silently ran the classifier's weight/score chain in
    decimal arithmetic with engine-specific scale rounding (caught by the
    sf0.1 sweep as a last-ulp mismatch). The operator's schema and plan
    must be DECIMAL-free end-to-end."""
    from pyspark.sql import types as T

    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["text_quality_classifier"].fn(spark, sf_dir)

    def flat(dt):
        yield dt
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                yield from flat(f.dataType)
        elif isinstance(dt, T.ArrayType):
            yield from flat(dt.elementType)

    assert not any(
        isinstance(t, T.DecimalType) for t in flat(T.StructType(df.schema.fields))
    ), df.schema
    # and no decimal cast sneaks into the physical plan either
    assert "as decimal" not in physical_plan(df).lower()


# --- late-r8 operators ------------------------------------------------------


def test_prefix_filter_no_cartesian_reads_only_needed_cols(spark, sf_dir):
    """Candidate generation must stay an equi-join on the shingle (the
    prefix-filter lemma's whole point) — never a cartesian/BNL pair
    enumeration; the scan reads only (doc_id, text)."""
    df = load_all()["dedup_prefix_filter"].fn(spark, sf_dir)
    n = node_counts(df)
    assert "CartesianProduct" not in n
    assert "BroadcastNestedLoopJoin" not in n
    for rs in read_schemas(df):
        assert "source" not in rs and "lang" not in rs


def test_pareto_frontier_single_materialized_subtree(spark, sf_dir):
    """The scan+agg lineage materializes ONCE (localCheckpoint); both the
    local-frontier and summary branches read the checkpointed RDD, and
    the only windows are the two bucket-partitioned ones plus the B-row
    cross-bucket merge."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["pareto_frontier"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "FileScan" not in plan  # upstream ran at checkpoint time
    assert plan.count("Scan ExistingRDD") == 2
    assert node_counts(df).get("Window", 0) == 3


def test_er_blocking_equi_join_and_codegen_levenshtein(spark, sf_dir):
    """Blocking must be a hash equi-join on (seg_i, seg, nation) and the
    verify must run JVM-side levenshtein — no cartesian, no Python."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["er_blocking_link"].fn(spark, sf_dir)
    n = node_counts(df)
    assert "CartesianProduct" not in n
    assert "BroadcastNestedLoopJoin" not in n
    plan = physical_plan(df)
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prefilter_bits_side_broadcasts(spark, sf_dir):
    """The filter (bounded by BLOOM_M geometry, not corpus size) must be
    the broadcast side of the probe join."""
    df = load_all()["dedup_bloom_prefilter"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("BroadcastHashJoin", 0) >= 2  # bits probe + neighbor join
    assert "CartesianProduct" not in n


def test_wht_is_map_only(spark, sf_dir):
    """The fused spectral transform is a pure map pipeline (cheap int64
    matmul per row — split-inherited parallelism is fine): zero
    exchanges of any kind."""
    df = load_all()["mm_audio_wht"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0


def test_codec_chains_have_exactly_the_fanout_exchange(spark, sf_dir):
    """The GIF and JPEG chains pay exactly ONE Exchange — the doc_id-only
    round-robin fan-out that decouples the ~1-2 ms/row codec CPU from
    the scan's split count. Zero round-robins would re-serialize the
    decode behind a single small-file split; any hash/range exchange
    would mean the codec stages themselves started shuffling data."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    for name in ("mm_decode_gif", "mm_decode_jpeg", "mm_decode_jpeg_color"):
        df = load_all()[name].fn(spark, sf_dir)
        assert shuffle_count(df) == 0, name  # no hash/range/single-part
        plan = physical_plan(df)
        assert plan.count("Exchange RoundRobinPartitioning") == 1, name


def test_random_projection_broadcasts_query_side(spark, sf_dir):
    df = load_all()["sim_random_projection"].fn(spark, sf_dir)
    n = node_counts(df)
    assert "CartesianProduct" not in n
    assert (
        n.get("BroadcastHashJoin", 0) + n.get("BroadcastNestedLoopJoin", 0) >= 1
    )


def test_html_extract_zero_shuffle_pruned_scan(spark, sf_dir):
    """Boilerplate removal must stay a narrow map: zero exchanges, no
    Python crossing, and the parquet scan reads only (doc_id, text)."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["text_html_extract"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    plan = physical_plan(df)
    assert "Python" not in plan and "Pandas" not in plan
    schemas = read_schemas(df)
    assert any(
        "doc_id" in s and "text" in s and "source" not in s for s in schemas
    ), schemas


def test_ivfpq_serve_prunes_partitions_and_broadcasts_lut(spark, sf_dir):
    """The serve path must read the persisted codes table with DYNAMIC
    PARTITION PRUNING on cell (probing is a runtime result, so static
    pruning is impossible), broadcast the cells/LUT sides, and never scan
    raw embeddings for candidate scoring (codes only)."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["sim_ivfpq_search"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan.lower()
    assert broadcast_join_count(df) >= 3
    # the codes scan projects codes, not embeddings
    assert any("codes" in s for s in read_schemas(df))


def test_bm25_filters_before_shuffle_topk_no_global_sort(spark, sf_dir):
    """BM25 must prune tokens to the query terms map-side (the explode
    feeds a codegen'd IN-filter, so the wide stages see |query| rows per
    doc), broadcast df/stats, and take the top-k without a global sort."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["text_bm25_topk"].fn(spark, sf_dir)
    n = node_counts(df)
    assert n.get("TakeOrderedAndProject", 0) == 1
    assert "Exchange rangepartitioning" not in physical_plan(df)
    assert broadcast_join_count(df) >= 2


def test_lpa_rounds_are_hash_joins_only(spark, sf_dir):
    """Each LPA round must be an equi-join on the neighbor key plus a
    hash aggregate — no cartesian/nested-loop, no window over the corpus
    (the argmax is a combinable min_by)."""
    df = load_all()["graph_label_propagation"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("CartesianProduct") and not n.get("BroadcastNestedLoopJoin")
    assert n.get("Window", 0) == 0


def test_interval_overlap_binned_hash_join_no_nested_loop(spark, sf_dir):
    """The interval×interval join must be a hash equi-join on
    (user, bin) with the overlap predicate as residual — a cartesian or
    broadcast-nested-loop here is the quadratic plan the binning exists
    to kill."""
    df = load_all()["join_interval_overlap"].fn(spark, sf_dir)
    n = node_counts(df)
    assert not n.get("CartesianProduct") and not n.get("BroadcastNestedLoopJoin"), n


def test_drift_histogram_broadcast_totals_pruned_scan(spark, sf_dir):
    """The drift monitor's totals join must broadcast (|types| rows).
    r16-opt: the histogram grid checkpoints (one events pass at build
    time), so the served plan must carry ZERO parquet scans — a FileScan
    reappearing here would mean the grid is being recomputed per
    consumer again. The scan-width pin moved to build time with it (the
    grid subtree still prunes to (event_type, value, ts) before the
    checkpoint materializes; unobservable from the final plan)."""
    df = load_all()["dq_drift_histogram"].fn(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert read_schemas(df) == []


def test_udtf_pruned_scan_no_shuffle(spark, sf_dir):
    """The LATERAL UDTF must run inside the scan stage: pruned
    (doc_id, text) read, zero exchanges, BatchEvalPythonUDTF node."""
    from xml_to_parquet_spark.plans.inspect import physical_plan

    df = load_all()["udtf_table_fn"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    assert read_schemas(df) == ["struct<doc_id:bigint,text:string>"]
    assert "EvalPythonUDTF" in physical_plan(df)
