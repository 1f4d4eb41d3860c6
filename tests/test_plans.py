"""Plan-shape regression tests: the physical plans the 100 TB posture
depends on (SURVEY §4) — partition-directory pruning, parquet pushdown,
broadcast joins, no cartesian products.

All assertions drive off formatted explain (untruncated scan metadata);
the round-2 versions regexed executedPlan().toString(), whose FileScan
lines truncate at spark.sql.maxMetadataStringLength and could both
under-report pushdown and pass spuriously on ReadSchema text.
"""

import re

import pytest

from olap_storage_engine_spark.plans.explain import (
    formatted_plan,
    partition_filters,
    pushed_filters,
)


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


SF = "/root/testdata/sf0.001"


def _df(spark, entrymod, name):
    return entrymod.queries()[name](spark, SF)


def test_range_prune_hits_partition_dirs(spark, entrymod):
    pf = partition_filters(_df(spark, entrymod, "partition_prune_range"))
    assert any("__pt" in f for f in pf), pf


def test_list_prune_hits_partition_dirs(spark, entrymod):
    pf = partition_filters(_df(spark, entrymod, "partition_prune_list"))
    assert any("__pt" in f and "IN" in f for f in pf), pf


def test_repartitioned_table_pruned_read_keeps_pt_filters(spark, entrymod):
    """r10 layout evolution: after repartition_table the cover is a
    single new-layout generation, so read_pruned must still prune by
    __pt directories (the mixed-layout fallback only fires on covers
    that actually span two layouts)."""
    pf = partition_filters(_df(spark, entrymod, "repartition_read"))
    assert any("__pt" in f for f in pf), pf


def test_rollup_coarser_read_prunes_partitions(spark, entrymod):
    # the A15 thesis: a one-year rollup read must NOT list every
    # partition directory — year() over the data column can't match
    # __pt, read_pruned's label filter can
    pf = partition_filters(_df(spark, entrymod, "rollup_coarser_agg"))
    assert any("__pt" in f for f in pf), pf


def test_rollup_routed_read_prunes_partitions(spark, entrymod):
    pf = partition_filters(_df(spark, entrymod, "rollup_routed_read"))
    assert any("__pt" in f for f in pf), pf


def test_zonemap_filter_pushes_to_parquet(spark, entrymod):
    pushed = pushed_filters(_df(spark, entrymod, "filter_range_zonemap"))
    joined = " ".join(pushed)
    # both range bounds reach the scan, not just IsNotNull
    assert "GreaterThanOrEqual(l_shipdate" in joined, pushed
    assert "LessThan(l_shipdate" in joined, pushed


def test_point_lookup_pushes_to_parquet(spark, entrymod):
    pushed = " ".join(pushed_filters(_df(spark, entrymod, "filter_equality_point")))
    assert "EqualTo(l_orderkey" in pushed, pushed


def test_bucket_point_lookup_prunes_bucket_dir(spark, entrymod):
    df = _df(spark, entrymod, "bucket_point_lookup")
    pf = " ".join(partition_filters(df))
    assert "__bk" in pf, pf  # directory pruning to one bucket
    pushed = " ".join(pushed_filters(df))
    assert "EqualTo(o_custkey" in pushed, pushed


def test_star_join_broadcasts_dims(spark, entrymod):
    plan = formatted_plan(_df(spark, entrymod, "join_star_revenue"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_similarity(spark, entrymod):
    # broadcast nested-loop against the tiny probe set is the intended
    # plan; an un-broadcast cartesian product is not
    plan = formatted_plan(_df(spark, entrymod, "similarity_topk"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_no_cartesian_in_minhash(spark, entrymod):
    plan = formatted_plan(_df(spark, entrymod, "dedup_minhash"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_projection_prunes_columns(spark, entrymod):
    plan = formatted_plan(_df(spark, entrymod, "scan_projection"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the projected columns (plus nothing else) are read
    assert cols == {"l_orderkey", "l_extendedprice"}, cols


def test_tpch_q5_broadcasts_dims_no_cartesian(spark, entrymod):
    """The six-table join: every dim side broadcasts; the only
    shuffle-joined pair is orders-lineitem."""
    plan = formatted_plan(_df(spark, entrymod, "tpch_q5"))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1


def test_ivf_cells_serving_prunes_partitions(spark, entrymod):
    """The persisted-cell ANN serve reads only the probed cells'
    partition directories — no full-corpus assignment pass."""
    pf = partition_filters(_df(spark, entrymod, "similarity_ann_ivf_cells"))
    assert any("__pt" in f and "IN" in f for f in pf), pf


def test_gap_fill_no_cartesian(spark, entrymod):
    """Spine join is a hash equi-join on (group, bucket), never a
    range/cross product."""
    plan = formatted_plan(_df(spark, entrymod, "events_gap_fill"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_single_key_join(spark, entrymod):
    """CDC is ONE full-outer join of the two snapshots on the key."""
    plan = formatted_plan(_df(spark, entrymod, "cdc_changes"))
    assert "CartesianProduct" not in plan
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, joins


def test_bucketed_fact_join_zero_exchanges(spark, entrymod):
    """The fact-to-fact co-bucketed join: SMJ + per-orderkey rollup +
    top-k with ZERO Exchange nodes — the workload's most expensive
    shuffle removed by storage partitioning."""
    plan = formatted_plan(_df(spark, entrymod, "bucketed_fact_join"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1


def test_ivfpq_serving_prunes_partitions_and_reads_codes(spark, entrymod):
    """IVF-PQ: the routed scan reads only the probed cells' partition
    directories, and the cell-table scan projects the m-byte codes,
    never the embedding payload (the 64x I/O cut on the scanned side
    — vectors appear only in the candidate-sized rescore lookup)."""
    df = _df(spark, entrymod, "similarity_ann_ivfpq")
    pf = partition_filters(df)
    assert any("__pt" in f and "IN" in f for f in pf), pf
    plan = formatted_plan(df)
    cell_read_schemas = [
        line
        for line in plan.splitlines()
        if "ReadSchema" in line and "codes" in line
    ]
    assert cell_read_schemas, plan[:2000]
    for line in cell_read_schemas:
        assert "embedding" not in line, line


def test_events_funnel_single_user_exchange(spark, entrymod):
    """The funnel's three step windows and the final aggregate all
    reuse ONE repartition(user_id); the only other exchange is the
    output sort (was 6 exchanges in the r5 aggregate+join shape)."""
    plan = formatted_plan(_df(spark, entrymod, "events_funnel"))
    hash_ex = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(hash_ex) == 1, plan
    # total distinct exchanges: the user_id hash + the orderBy range
    ops = re.findall(r"\(\d+\) Exchange", plan)
    assert len(ops) <= 2, plan


def test_decontaminate_indexed_pushes_width_filter(spark, entrymod):
    """The index-served decontamination's n=5 width filter must be a
    partition PRUNE on the width-partitioned shingle index (the
    serving path lists one width's directory, never the whole index —
    stronger than the pre-r10 row-group filter pushdown), and resolve
    both joins as broadcasts (bench side is tiny by contract)."""
    df = _df(spark, entrymod, "decontaminate_indexed")
    plan = formatted_plan(df)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("(n = 5)" in f or "n#" in f and "= 5" in f for f in pf), pf
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_exchange_free(spark, entrymod):
    """PII scrubbing is row-local regexp work — any Exchange in this
    plan means a regression into a shuffle."""
    plan = formatted_plan(_df(spark, entrymod, "pii_scrub"))
    assert "Exchange" not in plan, plan


def test_mixture_sample_broadcasts_thresholds(spark, entrymod):
    """The per-group keep thresholds are a broadcast-sized frame; the
    corpus side must never shuffle for the filter itself (the two
    audit aggregates may)."""
    plan = formatted_plan(_df(spark, entrymod, "mixture_sample"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """100 TB posture pin: Catalyst's runtime bloom-filter injection is
    ACTIVE in this session's config (runtime.bloomFilter.enabled) —
    on a shuffle join with a selective build side, the probe scan gets
    a might_contain() filter fed by a bloom_filter_agg subquery, so at
    real scale most fact rows drop BEFORE the exchange.  Fixture scans
    are far below the 10 GB application-side threshold, so the test
    lowers it (and disables broadcast) to make the optimizer treat the
    join as scan-heavy; production-scale inputs hit the default
    thresholds naturally."""
    from pyspark.sql import functions as F

    from olap_storage_engine_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    thr_key = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    bjt_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr = spark.conf.get(thr_key)
    old_bjt = spark.conf.get(bjt_key)
    try:
        spark.conf.set(thr_key, "0")
        spark.conf.set(bjt_key, "-1")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        j = (
            li.join(sel, li["l_orderkey"] == sel["o_orderkey"])
            .groupBy()
            .agg(F.sum("l_quantity").alias("s"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set(thr_key, old_thr)
        spark.conf.set(bjt_key, old_bjt)


def test_semantic_pair_stage_is_grouped_gemm(spark, entrymod):
    """dedup_semantic's pair stage must be the r8 grouped-map kernel:
    one FlatMapGroupsInPandas over the cell grouping, ZERO joins of
    the corpus against itself (the pre-r8 self-join shipped both
    embedding arrays per candidate pair), and only the grouping
    exchange on the corpus side."""
    plan = formatted_plan(_df(spark, entrymod, "dedup_semantic"))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # allowed broadcasts: the tiny per-cell size table of the skew
    # backstop (formatted explain may print a reused subtree twice) —
    # never a corpus-vs-corpus join
    assert plan.count("BroadcastHashJoin") <= 2, plan


def test_ivf_declared_query_serves_from_cell_table(spark, entrymod):
    """r10 (VERDICT r9 task 4): the declared similarity_ann_ivf query
    must serve from the PERSISTED cell table — ``__pt`` partition
    filters on the scan, NO corpus-wide assignment pass (neither the
    Arrow MapInPandas kernel nor a BNLJ fan-out) anywhere in the
    plan.  The inline-assign plan survives only as the ad-hoc
    sim.ivf_topk API."""
    df = _df(spark, entrymod, "similarity_ann_ivf")
    pf = partition_filters(df)
    assert any("__pt" in f and "IN" in f for f in pf), pf
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dpp_join_prunes_fact(spark, entrymod):
    """The year-partitioned fact scan must carry a runtime
    ``dynamicpruning`` PartitionFilter injected from the dim side —
    the whole point of the query; without it the fact scan lists
    every year directory."""
    plan = formatted_plan(_df(spark, entrymod, "dpp_join_prune"))
    assert "dynamicpruning" in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_sample_prunes_index_widths(spark, entrymod):
    """The index-served DSIR must read ONLY the width-1/2 partition
    directories of the shingle index (partition prune on n), and never
    tokenize: no Generate (explode-of-split) over documents.text in
    the plan."""
    df = _df(spark, entrymod, "dsir_sample")
    plan = formatted_plan(df)
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("n#" in f and "<= 2" in f for f in pf), pf
    assert "split(text" not in plan, "dsir_sample re-tokenizes"


def test_int8_topk_scans_codes_not_embeddings(spark, entrymod):
    """The int8 serve reads the persisted codes table only — the
    embedding column never appears in any scan's ReadSchema (the 4x
    I/O cut is the point of the persisted quantization)."""
    plan = formatted_plan(_df(spark, entrymod, "similarity_int8_topk"))
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "embedding" not in line, line


def test_growing_dims_broadcast_gated_not_hard_hinted(spark, entrymod):
    """r13 (VERDICT r12 'what's wrong' #1): customer/supplier joins in
    the TPC-H suite take their broadcast through _broadcast_if_fits —
    at fixture scale the Catalyst size estimate fits the threshold so
    the plan is UNCHANGED (BroadcastHashJoin), but when the dim
    outgrows autoBroadcastJoinThreshold the helper adds NO hard hint
    and the planner degrades to SortMergeJoin instead of OOMing the
    build side."""
    plan = formatted_plan(_df(spark, entrymod, "tpch_q7"))
    # fixture scale: both growing dims still broadcast (plan unchanged)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "SortMergeJoin" not in plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcasting disabled: the gate must yield NO hint — a hard
        # F.broadcast would still force BroadcastHashJoin here
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_off = formatted_plan(_df(spark, entrymod, "tpch_q7"))
        assert "SortMergeJoin" in plan_off
        # dims over the threshold: same degradation (1-byte threshold
        # models customer/supplier at a real 100 TB scale factor);
        # bounded dims (nation) keep their HARD hint by design
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        plan_tiny = formatted_plan(_df(spark, entrymod, "tpch_q7"))
        assert "SortMergeJoin" in plan_tiny
        assert "BroadcastHashJoin" in plan_tiny  # nation dim chain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ann_recall_eval_serves_from_truth_table(spark, entrymod):
    """r14 (VERDICT r13 task 2): the recall eval's exact side is the
    PERSISTED truth set, not a per-run brute-force ranking — the plan
    scans ann_truth_k10 and contains no full-corpus pass: zero
    non-equi corpus joins (brute_topk's vec_id != probe_id plans as
    BroadcastNestedLoopJoin) and no embeddings scan in the serve plan
    (the IVF side reads the pruned cell table; its probe set is
    resolved driver-side before planning)."""
    plan = formatted_plan(_df(spark, entrymod, "ann_recall_eval"))
    assert "ann_truth_k10" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Scan parquet" in line or "Location" in line:
            assert "embeddings.parquet" not in line, line


def test_cluster_queries_serve_from_cluster_table(spark, entrymod):
    """r14 (VERDICT r13 task 3): the three cluster-serving queries
    read the publish-time neardup_clusters table — zero in-plan CC
    iterations (no signature scan, no pair self-join: the plan never
    touches the minhash_sigs index) and, for keepset, one anti-join
    of the corpus against the drop-set."""
    for name in ("dedup_clusters", "dedup_cluster_stats", "dedup_keepset"):
        plan = formatted_plan(_df(spark, entrymod, name))
        assert "neardup_clusters" in plan, name
        assert "minhash_sigs" not in plan, name
    keep = formatted_plan(_df(spark, entrymod, "dedup_keepset"))
    assert "LeftAnti" in keep


def test_lm_score_serves_from_index_no_tokenize(spark, entrymod):
    """r14 (VERDICT r13 task 4): text_lm_score reads only the shingle
    index's width-1/2 LIST partitions — the documents table is never
    scanned and no tokenize (regex split) appears in the plan; the
    inline twin keeps the cold-corpus shape."""
    df = _df(spark, entrymod, "text_lm_score")
    pf = partition_filters(df)
    assert any("n" in f for f in pf), pf
    plan = formatted_plan(df)
    assert "documents.parquet" not in plan
    assert "split" not in plan.lower()


def test_corpus_prep_serves_from_doc_stats_no_text_scan(spark, entrymod):
    """r14 optimization: corpus_prep and corpus_prep_provenance decide
    every pipeline stage from the publish-time doc_stats scalars and
    the persisted minhash_sigs index — the documents table (text
    bytes) is never scanned and no tokenize appears in the plan; the
    corpus_prep_inline twin keeps the cold-corpus single-plan shape."""
    for name in ("corpus_prep", "corpus_prep_provenance"):
        plan = formatted_plan(_df(spark, entrymod, name))
        assert "doc_stats" in plan, name
        # minhash_sigs itself feeds the CC probe, which the adaptive
        # driver union-find resolves at build time into a local
        # drop-set relation — so the sigs scan legitimately does not
        # appear in the FINAL plan; what matters is that no text scan
        # and no tokenize survive anywhere.
        assert "documents.parquet" not in plan, name
        assert "split" not in plan.lower(), name
    inline = formatted_plan(_df(spark, entrymod, "corpus_prep_inline"))
    assert "documents.parquet" in inline


@pytest.mark.parametrize(
    "name",
    [
        "dedup_clusters",
        "dedup_minhash",
        "dedup_simhash_groups",
        "dedup_ngram_indexed",
    ],
)
def test_artifact_served_query_build_launches_no_job(spark, entrymod, name):
    """Once its artifacts exist, an artifact-served query's builder only
    assembles a lazy plan: the artifact read takes its schema from the
    registry (fixtures.read_artifact), so no schema-inference job runs
    while building."""
    import bench

    fn = entrymod.queries()[name]
    fn(spark, SF)  # builds the artifacts the query reads
    assert bench.time_query(spark, fn, SF)["build_jobs"] == 0


def test_read_artifact_serves_inferred_schema_and_rows(spark):
    """read_artifact reads a parquet artifact with a schema resolved
    once from a file footer instead of paying the inference job per
    read.  That is sound only if the resolved schema is exactly the
    one inference gives — partition columns (the shingle index's
    ``n``, the year-partitioned lineitem's ``l_year``) included — and
    the rows read through it are the rows a plain read returns.  Runs
    after the plan tests above, which build most artifacts."""
    import os

    from olap_storage_engine_spark import fixtures as fx

    checked = []
    for name in fx.ARTIFACTS:
        path = fx.artifact_path(spark, SF, name)
        if not isinstance(path, str) or not any(
            f.endswith(".parquet")
            for _, _, files in os.walk(path)
            for f in files
        ):
            continue  # exports, olapseg files, catalog tables
        served = fx.read_artifact(spark, SF, name)
        inferred = spark.read.parquet(path)
        assert served.schema == inferred.schema, name
        assert sorted(map(repr, served.collect())) == sorted(
            map(repr, inferred.collect())
        ), name
        checked.append(name)
    assert len(checked) == 16, checked
    assert "n" in fx.read_artifact(spark, SF, "shingle_index").columns
    assert "l_year" in fx.read_artifact(spark, SF, "lineitem_year").columns
