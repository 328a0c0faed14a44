"""Physical-plan shape assertions — the at-scale contract.

Correctness tests prove the operators compute the right answer at
sf0.01; these prove the *plan* is the one that survives 100 TB:
filters reach the parquet scan, projections prune the read schema,
small dimensions broadcast, aggregation is partial+final, and nothing
degenerates into an unblocked cartesian product.  The reference gets
the analogous guarantees by feeding DataFusion schema + partition
metadata (SURVEY.md §4, glue.rs:433-450); here they're Catalyst
behaviors we pin with regression tests.
"""

from __future__ import annotations

import pytest

from datafusion_catalogprovider_glue_spark.operators import registry

registry.load_all_operator_modules()

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def q(spark, name):
    return registry.QUERIES[name](spark, SF_DIR)


def test_q1_filter_pushed_to_scan(spark):
    p = plan_str(q(spark, "q1_pricing_summary"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q1_column_pruning(spark):
    p = plan_str(q(spark, "q1_pricing_summary"))
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    # 7 of lineitem's 16 columns — no full-width scan for an aggregate
    assert "l_quantity" in read_schema and "l_shipdate" in read_schema
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


def test_q1_partial_final_aggregation(spark):
    p = plan_str(q(spark, "q1_pricing_summary"), "simple")
    # map-side partial + reduce-side final: two HashAggregate levels
    assert p.count("HashAggregate") >= 2


def test_q1_whole_stage_codegen(spark):
    # AQE hides WholeStageCodegen markers in the un-executed simple plan;
    # codegen explain mode enumerates the compiled subtrees directly.
    p = plan_str(q(spark, "q1_pricing_summary"), "codegen")
    assert "WholeStageCodegen" in p


def test_q1_decimal_sums_stay_long_backed(spark):
    """The bounded-precision casts must keep SUM on the UnscaledValue
    (long arithmetic) fast path — see functions.dec."""
    p = plan_str(q(spark, "q1_pricing_summary"), "simple")
    assert "sum(UnscaledValue(cast(l_quantity" in p
    assert "sum(UnscaledValue(cast(l_extendedprice" in p


def test_projection_prunes_read_schema(spark):
    p = plan_str(q(spark, "projection"))
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "c_address" not in read_schema and "c_comment" not in read_schema


def test_filter_range_pushed(spark):
    p = plan_str(q(spark, "filter_range"))
    assert "PushedFilters" in p
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert pushed.count("(") > 1  # at least one real predicate reached the scan


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier", "join_inner"])
def test_dim_joins_broadcast(spark, name):
    """Small-side joins must be broadcast, not shuffle — at 100 TB the
    fact side never moves for a dimension join."""
    p = plan_str(q(spark, name), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_theta_join_is_nested_loop_broadcast(spark):
    p = plan_str(q(spark, "join_theta"), "simple")
    assert "BroadcastNestedLoopJoin" in p


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_fast",
        "dedup_embedding_nn",
        "sim_topk_bruteforce",
        "text_containment",
        "dedup_stitch_records",
        "pipeline_decontaminate",
    ],
)
def test_pair_generators_never_cartesian(spark, name):
    """Every pair-generating extension op goes through a blocking key;
    an unblocked cartesian product would be quadratic at 100 TB."""
    p = plan_str(q(spark, name), "simple")
    assert "CartesianProduct" not in p


def test_topk_uses_limit_not_global_sort(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject — a global
    sort of the full table would shuffle everything at scale."""
    p = plan_str(q(spark, "topk"), "simple")
    assert "TakeOrderedAndProject" in p


def test_semi_anti_joins_stay_joins(spark):
    for name in ("join_semi", "join_anti"):
        p = plan_str(q(spark, name), "simple")
        assert "Join" in p
        assert "CartesianProduct" not in p


def test_partitioned_scan_prunes_directories(spark):
    """scan_partitioned_pruned must plan a PartitionFilter on l_year —
    directory-level pruning, the Hive-partition analog of the
    reference's table_partition_cols metadata (glue.rs:433-447)."""
    df = q(spark, "scan_partitioned_pruned")
    p = plan_str(df)
    part_line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "l_year" in part_line and "1996" in part_line


def _glue_partitioned(spark, tmp_path, name, hive):
    """A Glue table with explicit partitions dt=2024-01-0{1,2,3}: in the
    Hive layout under its root, or at scattered locations."""
    import os

    from datafusion_catalogprovider_glue_spark.catalog.catalog import GlueCatalog
    from datafusion_catalogprovider_glue_spark.catalog.fake_glue import (
        FakeGlueClient,
        parquet_table,
    )

    root = str(tmp_path / name)
    parts = []
    for i, day in enumerate(("2024-01-01", "2024-01-02", "2024-01-03")):
        loc = (os.path.join(root, f"dt={day}") if hive
               else str(tmp_path / f"{name}_scattered_{i}"))
        spark.range(i, i + 2).write.parquet(loc)
        parts.append({"Values": [day], "StorageDescriptor": {"Location": loc}})
    client = FakeGlueClient(
        {"db": {name: parquet_table("db", name, root, [("id", "bigint")],
                                    partition_keys=[("dt", "string")])}},
        partitions={("db", name): parts},
    )
    return GlueCatalog(spark, client, view_prefix="plan__").df("db", name)


def test_glue_hive_partitions_plan_one_pruned_scan(spark, tmp_path):
    """Explicit Glue partitions in the Hive layout register as one
    file-index scan, so a filter on the key plans ONE FileScan whose
    PartitionFilters prune files, and no Union (the reference's
    ListingTable with table_partition_cols, glue.rs:433-447).  A
    scattered-location list still plans a Union of per-partition
    scans."""
    from pyspark.sql import functions as F

    df = _glue_partitioned(spark, tmp_path, "hive_t", hive=True)
    p = plan_str(df.filter(F.col("dt") == "2024-01-02"), "simple")
    assert p.count("FileScan parquet") == 1
    assert "Union" not in p
    part_line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "PartitionFilters: []" not in part_line
    assert "dt" in part_line and "2024-01-02" in part_line
    assert df.filter(F.col("dt") == "2024-01-02").count() == 2

    # unfiltered, since constant folding drops the failing branches:
    # filtered, the (nullable) key literals still fold to one scan
    scattered = _glue_partitioned(spark, tmp_path, "scattered_t", hive=False)
    assert "Union" in plan_str(scattered)
    p = plan_str(scattered.filter(F.col("dt") == "2024-01-02"), "simple")
    assert p.count("FileScan parquet") == 1 and "Union" not in p
    assert scattered.filter(F.col("dt") == "2024-01-02").count() == 2


def test_multi_file_scan_parallelism(spark, tmp_path):
    """The testdata's single-row-group files force 1-task scans (why
    _parallelize exists); confirm the property that matters at 100 TB:
    a multi-file table scans with multi-partition parallelism out of
    the box.  Small files split into as many partitions as the session
    has cores, so full parallelism is 8 partitions only on 8+ cores."""
    from datafusion_catalogprovider_glue_spark.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    dest = str(tmp_path / "li8")
    li.repartition(8).write.parquet(dest)
    scanned = spark.read.parquet(dest)
    cores = spark.sparkContext.defaultParallelism
    assert scanned.rdd.getNumPartitions() >= min(8, cores)
    assert scanned.count() == li.count()


def test_aqe_splits_skewed_join(spark):
    """The dedup/similarity blocking joins rely on AQE skew splitting
    for hot buckets (module docstrings promise it); prove the
    mechanism actually engages: a hot key under lowered thresholds
    must produce SortMergeJoin(skew=true) in the final adaptive plan."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "64KB")
        spark.conf.set(keys[1], "2")
        spark.conf.set(keys[2], "16KB")
        spark.conf.set(keys[3], "-1")  # force sort-merge join
        left = spark.range(200000).select(
            F.when(F.col("id") < 195000, F.lit(1))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(500).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("w")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 2_000_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_join_no_nested_loop(spark):
    # the union+window as-of join must never degenerate into an
    # inequality join (BroadcastNestedLoop / CartesianProduct); its
    # only fact-sized movement is hash exchanges on user_id
    p = plan_str(q(spark, "join_asof"), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_range_join_broadcasts_band_table(spark):
    # 3-row interval table: the RIGHT plan is a broadcast nested loop
    # with the band predicate in codegen — the fact side never shuffles
    p = plan_str(q(spark, "join_range"), "simple")
    assert "BroadcastNestedLoopJoin" in p


def test_pivot_is_single_aggregation(spark):
    # explicit pivot values -> one partial+final aggregate pair, no
    # extra distinct-values job and no per-value scans
    p = plan_str(q(spark, "pivot"), "simple")
    assert p.count("Scan parquet") == 1


def test_unpivot_scans_once_no_shuffle(spark):
    # DataFrame unpivot expands rows in the projection: one scan,
    # zero exchanges (the UNION ALL oracle spelling would scan twice)
    p = plan_str(q(spark, "unpivot"), "simple")
    assert p.count("Scan parquet") == 1
    assert "Exchange" not in p


def test_sample_hash_filter_in_scan_stage(spark):
    p = plan_str(q(spark, "sample_hash"), "simple")
    assert "Exchange" not in p  # pure map-side predicate


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q8_market_share", "q14_promo_revenue", "q19_disjunctive_predicates"])
def test_tpch_extra_dims_broadcast(spark, name):
    # every dimension join in the widened TPC-H set must broadcast —
    # the fact table shuffles at most once (orders co-join)
    p = plan_str(q(spark, name), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q18_single_fact_scan(spark):
    # the output sum reuses the HAVING aggregate: lineitem must be
    # scanned exactly once (the oracle's two-pass form is the proof
    # of equivalence, not the plan to run)
    p = plan_str(q(spark, "q18_large_orders"))
    assert p.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in p


def test_q21_exists_become_semi_and_anti(spark):
    # the double-correlated EXISTS / NOT EXISTS must decorrelate into
    # semi + anti joins on l_orderkey — never a per-row subquery loop
    p = plan_str(q(spark, "q21_waiting_suppliers"), "simple")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q16_excluded_suppliers_broadcast_anti(spark):
    # the NOT IN supplier exclusion is a broadcast anti join (filtered
    # dim), not a shuffled one
    p = plan_str(q(spark, "q16_supplier_part_count"), "simple")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_q2_single_pass_window_min(spark):
    # the correlated MIN is a window over the joined relation: the
    # cost aggregate and its dim joins must run once (one lineitem
    # scan), never as a second decorrelated subtree
    p = plan_str(q(spark, "q2_min_cost_supplier"))
    assert p.count("lineitem.parquet") == 1
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_tfidf_ndocs_is_broadcast_not_cartesian(spark):
    # the 1-row corpus count joins via broadcast nested loop (fine);
    # the tf x df term join must be a real equi-join
    p = plan_str(q(spark, "text_tfidf"), "simple")
    assert "CartesianProduct" not in p


def test_embedding_quantize_zero_shuffle(spark):
    # row-local quantization must not introduce an exchange
    p = plan_str(q(spark, "embedding_quantize"), "simple")
    assert "Exchange" not in p


def test_scan_csv_goes_through_text_reader(spark):
    # the SerDe dispatch must land on the csv source, not parquet
    p = plan_str(q(spark, "scan_csv"))
    assert "csv" in p.lower()


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The 100 TB co-located join: two tables bucketed on the join key
    join with ZERO Exchange — the shuffle is paid once at write time
    and amortized over every subsequent join.  This is Spark's analog
    of pre-partitioned storage layouts (the reference can't express
    it: DataFusion 37 ListingTable has no bucketing metadata)."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_lineitem"))
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    (
        o.write.bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    joined = (
        spark.table("b_lineitem")
        .hint("merge")  # force SMJ so tiny test tables don't broadcast
        .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    p = plan_str(joined, "simple")
    assert "SortMergeJoin" in p
    assert "Exchange" not in p  # bucketing replaced both shuffles
    # sanity: result matches the shuffled join
    expected = (
        load_table(spark, SF_DIR, "lineitem")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert joined.count() == expected
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_pagerank_no_cartesian_edges_checkpointed(spark):
    # the iterative loop must stay hash joins; the graph build is
    # checkpointed so iterations don't re-run the 4-way fact join
    p = plan_str(q(spark, "graph_pagerank"), "simple")
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # localCheckpoint'd edge table
    assert "lineitem" not in p  # fact scan happened once, at build time


def test_histogram_single_aggregation(spark):
    p = plan_str(q(spark, "agg_histogram"), "simple")
    assert p.count("Exchange") == 1
    assert p.count("HashAggregate") >= 2  # partial + final


def test_transitions_single_window_shuffle(spark):
    # lag-1 window on user_id then a rollup: exactly two Exchanges,
    # no join, no second fact scan
    p = plan_str(q(spark, "events_transitions"), "simple")
    assert "Join" not in p
    assert p.count("FileScan") == 1
    assert p.count("Exchange") == 2


def test_extract_regex_shuffle_is_vocab_sized(spark):
    # extraction+explode stay in the scan stage; the only Exchange is
    # the token rollup (vocabulary-, not corpus-cardinality)
    p = plan_str(q(spark, "text_extract_regex"), "simple")
    assert p.count("Exchange") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_edit_distance_join_is_hash_partitioned(spark):
    # FastSS blocking must produce a key equi-join, not a cartesian
    p = plan_str(q(spark, "dedup_edit_distance"), "simple")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Joining the Hive-partitioned fixture to a filtered parquet dim
    must inject a dynamicpruning subquery into PartitionFilters —
    Spark's runtime partition filter (the AQE-era analog of the
    reference feeding partition_cols to DataFusion, glue.rs:433-447).
    At 100 TB this is what keeps a fact-dim join from scanning every
    date partition when the dim filter only selects a few."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.operators import catalog_ops

    catalog_ops.scan_partitioned_pruned(spark, SF_DIR).collect()
    part_dir = os.path.join(
        "/tmp",
        f"glue_spark_part_{hashlib.md5(SF_DIR.encode()).hexdigest()[:12]}",
        "lineitem_by_year",
    )
    dim_dir = str(tmp_path / "year_dim")
    spark.createDataFrame(
        [(y, y % 2) for y in range(1992, 1999)], "l_year int, flag int"
    ).write.mode("overwrite").parquet(dim_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("flag") == 0)
    j = spark.read.parquet(part_dir).join(dim, "l_year").groupBy("l_year").count()
    p = plan_str(j, "formatted")
    assert "dynamicpruningexpression" in p.lower()


def test_null_safe_join_stays_hash_family(spark):
    # EqualNullSafe must remain a join KEY (hash-partitionable), not
    # degrade to a nested-loop condition
    p = plan_str(q(spark, "join_null_safe"), "simple")
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p


def test_join_bucketed_zero_join_exchange(spark):
    # both sides bucketed+sorted on the key: the join itself needs no
    # Exchange and no Sort; the only shuffle left is the final rollup's
    p = plan_str(q(spark, "join_bucketed"), "simple")
    assert "SortMergeJoin" in p
    assert p.count("Exchange") == 1  # groupBy only — join is co-located


def test_text_chunk_scan_stage_only(spark):
    # chunking is a generate+project in the scan stage: no shuffle, no
    # Python, one file scan
    p = plan_str(q(spark, "text_chunk"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("FileScan") == 1


def test_pack_sequences_broadcast_no_global_sort(spark):
    # hierarchical prefix sum: block offsets come back via broadcast
    # join, never a sort-merge or cartesian over the full corpus
    p = plan_str(q(spark, "pipeline_pack_sequences"), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_audio_windows_no_shuffle_no_python(spark):
    # binary framing stays JVM-side in the scan stage
    p = plan_str(q(spark, "multimodal_audio_windows"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_funnel_single_fact_scan_no_python(spark):
    # the oracle's 3 cascaded passes collapse to ONE events scan; the
    # per-user state machine is a codegen'd HOF, never Python rows
    p = plan_str(q(spark, "events_funnel"), "simple")
    assert p.count("FileScan") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # shuffle on user_id + the single-row final rollup, nothing else
    assert p.count("Exchange") == 2


def test_retention_join_free(spark):
    # cohort day travels via window MIN, not a |users|-row dimension join
    p = plan_str(q(spark, "events_retention"), "simple")
    assert "Join" not in p
    assert p.count("Exchange") == 3


def test_clean_corpus_pipeline_single_shuffle(spark):
    # four pipeline stages, exactly ONE exchange (the dedup groupBy);
    # normalize, gate, and sample must stay row-local in the scan stage
    p = plan_str(q(spark, "pipeline_clean_corpus"), "simple")
    assert p.count("Exchange") == 1


def test_gopher_filters_zero_shuffle(spark):
    # the quality gate is one scan-stage projection: no exchange, no
    # Python eval — every rule is a codegen'd array/length expression
    p = plan_str(q(spark, "quality_gopher_filters"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_pii_redact_zero_shuffle(spark):
    # regexp_replace chain + match counters stay row-local in the scan
    p = plan_str(q(spark, "text_pii_redact"), "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_dup_ngram_fraction_plan(spark):
    """r8 join-back shape: the df table attributes back to the
    persisted gram table through an equi-join on the 128-bit hash pair
    (AQE-splittable hot grams) — never a cartesian, and no exchange
    keys on raw gram text."""
    p = plan_str(q(spark, "text_dup_ngram_fraction"), "simple")
    assert "Join" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    import re
    full = plan_str(q(spark, "text_dup_ngram_fraction"))
    assert "xxhash64" in full
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", full):
        assert "ng#" not in m.group(1)


def test_lateral_join_decorrelates_to_window_group_limit(spark):
    # the correlated LIMIT must become a partial+final per-key top-k
    # (WindowGroupLimit), never a per-row re-scan or nested loop
    p = plan_str(q(spark, "join_lateral"), "simple")
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_merge_intervals_single_shuffle(spark):
    # both windows AND both rollups ride ONE user_id exchange:
    # HashPartitioning(user_id) satisfies the (user_id, island) and
    # user_id groupings downstream, so no further shuffle appears
    p = plan_str(q(spark, "window_merge_intervals"), "simple")
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_dedup_incremental_anti_join_no_text(spark):
    # the corpus side must reach the anti join as fingerprints only —
    # no text column crosses the exchange, and the join is never a
    # nested loop
    p = plan_str(q(spark, "dedup_incremental"), "simple")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_range_binned_is_hash_join(spark):
    # the binned variant must plan an equi HASH join on the bin key —
    # the whole point vs the nested-loop plain range join
    p = plan_str(q(spark, "join_range_binned"), "simple")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# round-2 final additions: spans, triangles, k-means, SemDeDup, Hudi
# ---------------------------------------------------------------------------


def test_substring_spans_hash_shuffle_broadcast_recovery(spark):
    """r8 span-hash contract, r9-amended: detection aggregates on the
    128-bit xxhash64 pair (span STRINGS never key an exchange), and
    the text-recovery join is an EQUI join on the survivor hash keys.
    r9 dropped the forced broadcast (the survivor set is
    corpus-proportional in boilerplate-heavy data — an explicit hint
    would drive a driver-side collect that OOMs at scale); AQE picks
    broadcast at runtime when the flagged side measures small, so the
    static plan may show either a broadcast or a hash-keyed shuffle
    join — never a cartesian, and never an exchange keyed by text."""
    p = plan_str(q(spark, "dedup_substring_spans"))
    assert "xxhash64" in p
    assert "partial_count" in p or "HashAggregate" in p
    assert (
        "BroadcastHashJoin" in p
        or "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # hashpartitioning keys must be the hash longs, not span text
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        assert "span" not in m.group(1)


def test_remove_spans_hash_shuffle_no_span_strings(spark):
    """r8: the removal pass shuffles (doc_id, i, h1, h2) fixed-width
    rows — no exchange is keyed by the span string, and span text is
    never recovered (removal is positional)."""
    p = plan_str(q(spark, "dedup_remove_spans"))
    assert "xxhash64" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        assert " s#" not in m.group(1) and not m.group(1).startswith("s#")


def test_triangle_edges_broadcast_both_joins(spark):
    """The deduped nation edge list is broadcast-sized: both
    triangle-closing joins must be broadcast hash joins, never a
    cartesian product."""
    df = q(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan_str(df)
    df.collect()  # let AQE finalize: the tiny edge list converts at runtime
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final


def test_kmeans_assignment_no_window_sort(spark):
    """The r6 zero-shuffle assignment: centroids inline as literals
    into one projection, so the FINAL assignment plan contains NO
    window operator, NO join of any kind, and NO exchange — it is a
    pure projection over the scan (the r4→r6 evolution: window rank →
    broadcast crossJoin + re-agg → literal argmax projection)."""
    p = plan_str(q(spark, "embedding_kmeans"))
    assert ") Window" not in p
    for join in ("BroadcastNestedLoopJoin", "SortMergeJoin",
                 "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct"):
        assert join not in p, join
    assert "Exchange" not in p


def test_dedup_semantic_pairs_are_equi_join(spark):
    """Within-cluster pair generation must be an equi-join on the
    cluster key (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin with
    a cluster equality), never an unblocked cartesian pair join."""
    p = plan_str(q(spark, "dedup_semantic"))
    assert "CartesianProduct" not in p


def test_scan_hudi_plain_multifile_parquet_scan(spark):
    """The Hudi snapshot read lowers to an ordinary parquet scan over
    the selected base files — pushdown/pruning intact (one scan, no
    union of per-file plans)."""
    p = plan_str(q(spark, "scan_hudi"))
    assert "Scan parquet" in p
    assert "Union" not in p


def test_gapfill_grid_bounds_broadcast(spark):
    """Densification: the one-row bounds aggregate and the grid side
    must reach the left join via broadcast — raw events only feed the
    first groupBy."""
    p = plan_str(q(spark, "events_gapfill"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_tar_write_single_shuffle(spark):
    """The shard writer pays exactly ONE exchange (the shard-key
    repartition); ordering is sortWithinPartitions, never a global
    sort."""
    p = plan_str(q(spark, "multimodal_tar_write"))
    assert p.count(") Exchange") == 1
    assert "rangepartitioning" not in p.lower()


def test_hudi_mor_merge_is_equi_join(spark):
    """The log merge is an equi-join on the record key over a plain
    parquet scan — no cartesian, no union-per-file plans for the base
    side."""
    p = plan_str(q(spark, "scan_hudi_mor"))
    assert "CartesianProduct" not in p
    assert "Scan parquet" in p


def test_attribution_is_window_not_self_join(spark):
    """Last-touch attribution must plan as ONE carry-forward window
    over the events scan — a self-join would re-shuffle the fact
    table against itself."""
    p = plan_str(q(spark, "events_attribution"))
    assert "Window" in p
    assert "Join" not in p


def test_pattern_match_single_shuffle_no_join(spark):
    """Sequence pattern matching is a groupBy + regexp — no joins, no
    cartesian automaton products."""
    p = plan_str(q(spark, "events_pattern_match"), "simple")
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_linear_regression_is_single_pass_partial_agg(spark):
    """OLS from sufficient statistics: one partial+final aggregate
    over one scan — raw points cross the exchange as five sums, and
    the plan has exactly one shuffle."""
    p = plan_str(q(spark, "agg_linear_regression"))
    assert p.count("Location: InMemoryFileIndex") == 1  # one scan
    assert p.count(") Exchange") == 1
    assert "partial_" in p  # map-side combine present


def test_delta_column_mapping_prunes_to_physical_read(spark):
    """The logical→physical rename must fold into the scan: ReadSchema
    carries the physical col-NNNN names, and no extra Project-induced
    exchange appears."""
    p = plan_str(q(spark, "scan_delta_column_mapping"))
    read_line = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "col-0000" in read_line  # physical names reach the reader
    assert "n_nationkey" not in read_line


def test_delta_cdf_no_shuffle_before_aggregate(spark):
    """CDF assembly is unions of parquet scans with literal columns —
    the only exchange is the final aggregate's."""
    p = plan_str(q(spark, "scan_delta_cdf"))
    assert "Union" in p
    assert p.count(") Exchange") == 1


def test_pq_flat_corpus_never_shuffles(spark):
    """ADC probing joins broadcast per-query lookup tables against the
    code table: every join is a broadcast join, no sort-merge exchange
    on the corpus side."""
    p = plan_str(q(spark, "sim_topk_pq_flat"), "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_path_topk_is_take_ordered_not_global_sort(spark):
    # top-20 paths must be TakeOrderedAndProject (per-partition heap +
    # driver merge), never a full Exchange rangepartitioning sort.
    p = plan_str(q(spark, "events_path_topk"))
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p.lower()


def test_stickiness_scatter_not_range_join(spark):
    # trailing-30-day MAU must be the forward-scatter (explode over
    # the shrunken user-day table), never a nested-loop range join
    # against a day dimension; the only join left is the equi-join
    # stitching DAU to MAU.
    p = plan_str(q(spark, "events_stickiness"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Generate" in p and "explode" in p


def test_user_overlap_intersection_is_equi_join(spark):
    # the type-pair intersection must be a hash equi-join on user_id,
    # never a nested-loop all-pairs product.
    p = plan_str(q(spark, "events_user_overlap"))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or (
        "BroadcastHashJoin" in p
    )
    assert "CartesianProduct" not in p


def test_curriculum_order_no_global_sort_no_single_partition_window(spark):
    # global_pos is arithmetic: the plan must contain no
    # range-partitioned exchange, and the only single-partition
    # window may run over the distinct-source table (post-aggregate),
    # never over the document corpus.
    df = q(spark, "pipeline_curriculum_order")
    p = plan_str(df)
    assert "rangepartitioning" not in p.lower()
    assert "SinglePartition" not in p.split("HashAggregate")[0]


def test_running_distinct_two_keyed_windows_no_join(spark):
    p = plan_str(q(spark, "window_running_distinct"))
    assert "Join" not in p
    assert p.count("Window") >= 2


def test_corr_pairs_single_pass_no_join(spark):
    p = plan_str(q(spark, "agg_corr_pairs"))
    assert "Join" not in p
    # one partial + one final aggregate over a single shuffle, and the
    # fact table is scanned exactly once
    assert p.count("+- Exchange") == 1
    assert p.count("Location: InMemoryFileIndex") == 1


def test_knn_classify_query_side_broadcasts(spark):
    p = plan_str(q(spark, "sim_knn_classify"))
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # corpus must never shuffle for scoring


def test_ngram_novelty_joinback_on_hash_keys(spark):
    """r8: first-doc attribution is an equi-join of the persisted
    hash-keyed gram table against the min-doc table — hot boilerplate
    grams are ordinary skewed join keys AQE can split, unlike the old
    collect_list posting buffers.  No exchange may key on gram text,
    and the join is never a cartesian."""
    p = plan_str(q(spark, "text_ngram_novelty"))
    assert "Join" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p
    import re
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        assert "ng#" not in m.group(1)


def test_lorenz_window_runs_post_aggregate(spark):
    # the single-partition running sum must sit ABOVE both reduction
    # aggregates (events->user counts->histogram), never on the corpus;
    # totals come from a full-frame window, NOT an aggregate+crossJoin
    # (which would re-scan events), so: one scan, zero joins.
    p = plan_str(q(spark, "events_lorenz_curve"))
    assert "Join" not in p
    assert p.count("Location: InMemoryFileIndex") == 1
    # both running-sum frames fold into ONE Window node over the
    # doubly-reduced histogram
    assert p.count("+- Window") == 1
    assert p.count("HashAggregate") >= 4  # 2 aggs x partial+final


def test_curriculum_order_two_pruned_scans_only(spark):
    # ranked + source-index subtrees: exactly two scans, and the
    # index-side scan must prune to the source column alone.
    p = plan_str(q(spark, "pipeline_curriculum_order"))
    assert p.count("Location: InMemoryFileIndex") == 2
    assert "ReadSchema: struct<source:string>" in p


def test_sq8_queries_broadcast_and_no_cartesian(spark):
    # quantized scoring joins the partitioned corpus-codes side against
    # the BROADCAST query set (like bruteforce, but over byte codes);
    # the per-dim stats row is also broadcast.  Nothing may degenerate
    # into a cartesian product, and the exact re-rank must stay on the
    # |queries|*shortlist slice (window, no global sort).
    p = plan_str(q(spark, "sim_topk_sq8"), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p
    assert "rangepartitioning" not in p.lower()


def test_skyline_window_runs_on_distinct_prices_and_frontier_broadcasts(spark):
    # the running max must sit above the price-distinct aggregate
    # (never on raw part rows) and the frontier join-back must
    # broadcast the tiny frontier side.
    p = plan_str(q(spark, "agg_skyline"))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # partial+final agg below the window: distinct-price reduction first
    assert p.count("HashAggregate") >= 2


def test_theil_single_fact_shuffle_and_broadcast_stats(spark):
    # group stats and the one-row global stats both broadcast; orders
    # itself shuffles only for its own aggregations.
    p = plan_str(q(spark, "agg_theil_index"), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_markov_chain_grid_stays_tiny_no_fact_cartesian(spark):
    # the only cross join allowed is the K x K type grid (and the
    # one-row K count) — the fact table itself must never enter a
    # nested-loop side; its single shuffle is the user_id lag window.
    p = plan_str(q(spark, "events_markov_chain"))
    assert "Window" in p
    # fact-sized cartesian would show as CartesianProduct; the tiny
    # type-grid cross joins plan as BroadcastNestedLoopJoin over
    # aggregated (post-HashAggregate) inputs
    assert "CartesianProduct" not in plan_str(
        q(spark, "events_markov_chain"), "simple"
    )


def test_seasonality_single_fact_shuffle(spark):
    # events reduce to 24 x K cells in one partial+final aggregation;
    # the per-type totals join must broadcast the tiny side.
    p = plan_str(q(spark, "events_seasonality"), "simple")
    assert p.count("HashAggregate") >= 2
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_ab_test_collapses_before_global_agg(spark):
    # per-user metric first (user_id shuffle), then ONE global
    # aggregation row — no join at all in the plan.
    p = plan_str(q(spark, "events_ab_test"), "simple")
    assert "Join" not in p
    assert p.count("HashAggregate") >= 4  # 2 aggs x partial+final


def test_bloom_filter_table_broadcasts_and_text_never_reshuffles(spark):
    # the word-bitmap is bounded by filter geometry (never corpus
    # size) and must BROADCAST to the probe side; document text
    # reaches no join key.
    p = plan_str(q(spark, "dedup_bloom_prefilter"), "simple")
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_label_propagation_no_cartesian_and_windows_partition_by_node(spark):
    p = plan_str(q(spark, "graph_label_propagation"), "simple")
    assert "CartesianProduct" not in p
    # argmax windows must be hash-partitioned (per-node), not global
    assert "rangepartitioning" not in p.lower()


def test_mmr_selection_rounds_stay_small_and_shortlist_broadcasts(spark):
    # relevance scoring is the broadcast brute-force join; the greedy
    # rounds must run on shortlist-sized tables — no cartesian, no
    # global sort anywhere.
    p = plan_str(q(spark, "sim_mmr_diversify"), "simple")
    assert "CartesianProduct" not in p
    assert "rangepartitioning" not in p.lower()


def test_survival_km_collapses_users_before_windows(spark):
    # the cumulative KM windows must sit above the per-duration
    # aggregate (day-span-bounded), never on raw events; the horizon
    # and total are broadcast single-row frames.
    p = plan_str(q(spark, "events_survival_km"), "simple")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4


def test_quality_gate_report_single_scan(spark):
    # the funnel must come from ONE corpus pass: a single scan, no
    # joins, the stage explosion on the one-row counter table.
    p = plan_str(q(spark, "pipeline_quality_gate_report"))
    assert "Join" not in p
    assert p.count("Location: InMemoryFileIndex") == 1


def test_shard_manifest_one_shuffle(spark):
    # shard assignment is row-local; the only shuffle is the
    # groupBy(shard) with map-side partial aggregation.
    p = plan_str(q(spark, "pipeline_shard_manifest"), "simple")
    assert "Join" not in p
    assert p.count("Exchange") <= 2


def test_active_streaks_single_user_partitioning(spark):
    # distinct user-days, the island window, the streak groupBy and
    # the per-user rollup all reuse ONE user_id hash partitioning —
    # no join, no range partitioning (no global sort).
    p = plan_str(q(spark, "events_active_streaks"), "simple")
    assert "Join" not in p
    assert "rangepartitioning" not in p.lower()


def test_ab_cuped_collapses_to_one_row(spark):
    # per-user covariate/metric first, then ONE 17-counter global
    # aggregation; the scalar epilogue adds no join or extra shuffle.
    p = plan_str(q(spark, "events_ab_cuped"), "simple")
    assert "Join" not in p
    assert p.count("HashAggregate") >= 4


def test_ks_test_windows_run_on_value_grid(spark):
    # the cumulative window runs over the DISTINCT-value table (after
    # two shrinking aggregations), never over raw events or users.
    p = plan_str(q(spark, "events_ks_test"), "simple")
    assert "Join" not in p
    assert p.count("HashAggregate") >= 4


def test_interval_overlap_is_equijoin_on_user(spark):
    # the overlap predicate must ride a user_id EQUI-join (sort-merge
    # or hash) as a residual condition — never a cartesian/BNLJ.
    p = plan_str(q(spark, "join_interval_overlap"), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_tolerance_keeps_single_shuffle_plan(spark):
    # same union+window single-shuffle shape as join_asof; the
    # tolerance is a codegen filter, not a join.
    p = plan_str(q(spark, "join_asof_tolerance"), "simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_no_duckdb_dialect_in_spark_sql_bodies():
    """Static dialect audit: the DuckDB-only oracle helpers (sql_dsum /
    sql_davg / sql_dec2dbl emit bare `CAST(... AS VARCHAR)`, which
    Spark's parser rejects with DATATYPE_MISSING_SIZE) must never be
    interpolated into a spark.sql(...) body — only into oracle=
    strings.  Regression pin for the q11/q15/q17/q22 breakage the
    sql_dec2dbl round-trip introduced."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "datafusion_catalogprovider_glue_spark"
    )
    offenders = []
    for p in pkg.rglob("*.py"):
        src = p.read_text()
        # variables assigned from a DuckDB-dialect helper
        duck_vars = set(re.findall(r"(\w+)\s*=\s*sql_(?:dsum|davg|dec2dbl)\(", src))
        for m in re.finditer(r'spark\.sql\(\s*f?"""(.*?)"""', src, re.S):
            body = m.group(1)
            if re.search(r"\{sql_(?:dsum|davg|dec2dbl)\(", body):
                offenders.append((str(p), "direct helper call"))
            for v in duck_vars:
                if "{" + v + "}" in body:
                    offenders.append((str(p), f"via variable {v}"))
            if re.search(r"AS\s+VARCHAR\s*\)", body, re.I):
                offenders.append((str(p), "bare VARCHAR cast"))
    assert not offenders, offenders


def test_geo_radius_join_is_grid_equijoin(spark):
    # the spatial join must ride the (gi, gj) cell EQUI-join — never a
    # cartesian/BNLJ evaluating the distance predicate on all pairs
    p = plan_str(q(spark, "geo_radius_join"), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_geo_nearest_neighbor_no_window_sort(spark):
    # argmin via min_by aggregation, not a row_number window over the
    # full candidate set (the window form sorts every partition)
    p = plan_str(q(spark, "geo_nearest_neighbor"), "simple")
    assert "Window" not in p


SF_GEO_TEST = "/root/testdata/sf0.01"


def test_geo_nn_two_phase_certificate(spark, tmp_path):
    """The fine-phase certificate rule: a winner within R/4 is
    accepted without the fallback; a customer whose nearest sits
    between R/4 and R must still resolve through the fallback and get
    the SAME answer as the one-shot definition."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.operators import geo

    out = geo.geo_nearest_neighbor(spark, SF_GEO_TEST)
    got = {r["c_custkey"]: (r["nearest_suppkey"], r["dist2"])
           for r in out.collect()}
    # re-derive from the unblocked candidate set (the radius join is
    # oracle-checked separately, so it can serve as the reference)
    cand = geo.geo_radius_join(spark, SF_GEO_TEST)
    ref_rows = (
        cand.groupBy("c_custkey")
        .agg(F.min_by(
            F.struct("s_suppkey", "dist2"),
            F.struct("dist2", "s_suppkey")).alias("nn"))
        .collect()
    )
    ref = {r["c_custkey"]: (r["nn"]["s_suppkey"], r["nn"]["dist2"])
           for r in ref_rows}
    assert got == ref
    # both phases actually fire on this corpus: some certified winners
    # (dist2 <= (R/4)^2) and some fallback winners (dist2 > (R/4)^2)
    bound = (geo.GEO_RADIUS / 4) ** 2
    d2s = [v[1] for v in got.values()]
    assert any(d <= bound for d in d2s)
    assert any(d > bound for d in d2s)


# ---------------------------------------------------------------------------
# round 9: repetition gates + keep-best selection
# ---------------------------------------------------------------------------


def test_doc_repetition_shuffles_hashes_not_grams(spark):
    """The top-n-gram coverage aggregations must key their exchanges
    on (doc_id, xxhash64) longs — gram TEXT never crosses the wire
    (the span-hash contract) — and nothing plans a cartesian."""
    import re

    p = plan_str(q(spark, "quality_doc_repetition"))
    assert "xxhash64" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        keys = m.group(1)
        assert "text" not in keys and " g#" not in keys


def test_dedup_keep_best_windows_per_cluster(spark):
    """The keep-best argmax must window PARTITIONED BY cluster_id —
    per-cluster state, never a global (empty-key) sort."""
    p = plan_str(q(spark, "pipeline_dedup_keep_best"))
    assert "CartesianProduct" not in p
    assert "cluster_id" in p
    # a global window would plan an empty partition spec (physical
    # Window prints "Window [fns], [part keys], [order]") over a
    # SinglePartition exchange — require cluster_id IN the Window
    # node's own partition-key list, not merely somewhere in the plan
    import re

    win_parts = re.findall(
        r"windowspecdefinition\((.*?)specifiedwindowframe", p
    )
    assert win_parts, "expected a Window node"
    for keys in win_parts:
        assert "cluster_id" in keys, (
            f"Window spec partition/order keys {keys!r} lack "
            "cluster_id — global sort regression"
        )
    assert "SinglePartition" not in p


def _prefix_pairs_frame(spark):
    """The slim persisted token-set frame _jaccard_pairs_prefix takes
    (the sf0.001 corpus is below the prefix cutover, so the pins
    drive the prefix path directly)."""
    from pyspark.sql import functions as F

    from datafusion_catalogprovider_glue_spark.operators import dedup

    return (
        dedup._docs(spark, SF_DIR)
        .select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
            ).alias("wset"),
        )
        .withColumn("n", F.size("wset"))
        .persist()
    )


def test_jaccard_prefix_takes_fused_broadcast_arm_when_small(spark):
    """r10 cost-based arm selection: under the guards the prefix path
    must take the FUSED broadcast arm (index + rank-split + verify as
    BroadcastHashJoins, no SortMergeJoin anywhere in the pair
    pipeline) — and record that decision observably."""
    from datafusion_catalogprovider_glue_spark.operators import dedup

    d = _prefix_pairs_frame(spark)
    try:
        df = dedup._jaccard_pairs_prefix(d, dedup.JACCARD_SIM_THRESHOLD)
        p = plan_str(df, "simple")
        assert dedup._LAST_PREFIX_STRATEGY == "broadcast"
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p
        assert df.count() >= 0  # the fused plan executes
    finally:
        d.unpersist()


def test_jaccard_prefix_smj_arm_above_guard(spark, monkeypatch):
    """Force the guard to zero: the SMJ arm must be chosen (the 100 TB
    path still exists, avoids cartesians, and returns the SAME pair
    set as the broadcast arm — the arms are result-identical)."""
    from datafusion_catalogprovider_glue_spark.operators import dedup

    d = _prefix_pairs_frame(spark)
    try:
        bc = dedup._jaccard_pairs_prefix(d, dedup.JACCARD_SIM_THRESHOLD)
        want = {(r.doc_a, r.doc_b, r.jaccard) for r in bc.collect()}
        monkeypatch.setattr(dedup, "_PREFIX_BCAST_LIMIT", 0)
        df = dedup._jaccard_pairs_prefix(d, dedup.JACCARD_SIM_THRESHOLD)
        assert dedup._LAST_PREFIX_STRATEGY == "smj"
        p = plan_str(df, "simple")
        assert "CartesianProduct" not in p
        got = {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}
        assert got == want
    finally:
        d.unpersist()
