"""Physical-plan shape assertions: the properties that make these
operators viable at 100 TB must hold in the optimized plan, not just in
intent — filter pushdown, column pruning, broadcast joins, partial
aggregation, and whole-stage codegen coverage."""

import re

import pytest

from ocrs_spark.ops.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    q6_forecast_revenue,
)
from ocrs_spark.pipeline import explode_spans

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_q6_filter_pushdown_and_pruning(spark):
    plan = plan_of(q6_forecast_revenue(spark, SF_DIR))
    assert "PushedFilters:" in plan
    # Date + discount + quantity predicates reach the parquet scan.
    assert re.search(r"PushedFilters:.*l_shipdate", plan)
    assert re.search(r"PushedFilters:.*l_discount", plan)
    # Column pruning: the scan must not read unused wide columns.
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "l_returnflag" not in m.group(1) and "l_orderkey" not in m.group(1)


def test_q1_partial_aggregation(spark):
    plan = plan_of(q1_pricing_summary(spark, SF_DIR))
    # Two HashAggregates (partial before the exchange, final after).
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine proven, not assumed


def test_q3_topk_is_take_ordered_not_global_window(spark):
    """The deterministic top-10 must compile to TakeOrderedAndProject
    (per-partition top-k merged on the driver), never an unpartitioned
    row_number window that funnels all rows through one reducer."""
    plan = plan_of(q3_shipping_priority(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_q5_broadcasts_small_dims(spark):
    plan = plan_of(q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_ivf_assignment_is_single_narrow_projection(spark):
    """Nearest-centroid assignment must be one literal-expression
    projection over the scan — no Exchange, no Window, no join, no
    K-times row blowup (the round-1 crossJoin+row_number shape)."""
    from ocrs_spark.ops.similarity import IVF_CENTROIDS, ivf_assignments

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = sorted(
        (int(r.vec_id), list(r.embedding))
        for r in emb.filter(f"vec_id < {IVF_CENTROIDS}").collect()
    )
    plan = plan_of(ivf_assignments(emb, cents))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_ocr_results_fan_out_via_broadcast(spark):
    """The per-unique-image OCR results must broadcast back to the
    referencing spans — the big span table never shuffles for the
    fan-out join."""
    from .corpus import corpus_to_spark, generate_corpus
    from ocrs_spark.pipeline import ocr_image_spans

    docs, media, _ = corpus_to_spark(spark, generate_corpus(n_docs=6))
    plan = plan_of(ocr_image_spans(explode_spans(docs), media, {"kind": "fake"}))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_media_broadcast_decision_is_size_aware(spark):
    """ocr_image_spans measures the payload: tiny media broadcasts
    (previous test), while media over the session threshold must fall
    back to the shuffle join — at corpus scale the media table is TBs
    and force-broadcasting it would kill the driver."""
    from .corpus import corpus_to_spark, generate_corpus
    from ocrs_spark.pipeline import _media_fits_broadcast, ocr_image_spans

    docs, media, _ = corpus_to_spark(spark, generate_corpus(n_docs=6))
    assert _media_fits_broadcast(media.select("media_ref", "bytes"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
    try:
        assert not _media_fits_broadcast(media.select("media_ref", "bytes"))
        plan = plan_of(
            ocr_image_spans(explode_spans(docs), media, {"kind": "fake"})
        )
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_parse_byte_size_suffixes():
    """Size-suffixed threshold values ('10m', '64MB') must be honored,
    not silently replaced by the 10MB default (ADVICE r4)."""
    from ocrs_spark.pipeline import _parse_byte_size

    assert _parse_byte_size("10485760") == 10 * 1024 * 1024
    assert _parse_byte_size("10m") == 10 * 1024 * 1024
    assert _parse_byte_size("64MB") == 64 * 1024 * 1024
    assert _parse_byte_size(" 2g ") == 2 * 1024 * 1024 * 1024
    assert _parse_byte_size("-1") == -1
    assert _parse_byte_size("1k") == 1024
    assert _parse_byte_size("nonsense") is None
    assert _parse_byte_size("10q") is None


def test_media_broadcast_honors_suffixed_threshold(spark):
    """A user-set '64b'-style threshold (too small for any payload) must
    disable the broadcast path rather than being ignored."""
    from .corpus import corpus_to_spark, generate_corpus
    from ocrs_spark.pipeline import _media_fits_broadcast

    _, media, _ = corpus_to_spark(spark, generate_corpus(n_docs=4))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64b")
        assert not _media_fits_broadcast(media.select("media_ref", "bytes"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "512m")
        assert _media_fits_broadcast(media.select("media_ref", "bytes"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_explode_prunes_media_bytes(spark):
    from .corpus import corpus_to_spark, generate_corpus

    docs, media, _ = corpus_to_spark(spark, generate_corpus(n_docs=4))
    plan = plan_of(explode_spans(docs).filter("kind = 'image'"))
    assert "Generate explode" in plan or "explode" in plan.lower()


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Pre-bucketed tables co-locate their join: both sides bucketed by
    the join key into the same bucket count join with NO Exchange in
    the plan — the zero-shuffle join strategy for repeatedly-joined
    100-TB tables (documents x OCR results on doc_id)."""
    import uuid

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bdocs_{suffix}", f"bstats_{suffix}"
    try:
        (
            docs.select("doc_id", "text")
            .write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(ta)
        )
        (
            docs.selectExpr("doc_id", "length(text) AS n_chars")
            .write.bucketBy(8, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(tb)
        )
        # Force the sort-merge path: at these tiny SFs Spark would
        # broadcast (and auto-disable the bucketed scan); at the scale
        # bucketing targets, neither side is broadcastable.
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_auto = spark.conf.get(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try:
            joined = spark.table(ta).join(spark.table(tb), "doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert joined.count() == docs.count()
            # Contrast: the same join over plain parquet shuffles.
            plain = docs.select("doc_id", "text").join(
                docs.selectExpr("doc_id", "length(text) AS n_chars"), "doc_id"
            )
            assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled", old_auto
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_q7_nation_pair_filter_reaches_scans(spark):
    """Round-5 fix: the two-nation pair filter must be pushed into BOTH
    nation scan branches (Catalyst can't push the cross-side
    disjunction itself), so supplier/customer rows outside the pair die
    at the first broadcast join instead of surviving three fact joins."""
    from ocrs_spark.ops.relational import q7_volume_shipping

    plan = plan_of(q7_volume_shipping(spark, SF_DIR))
    # Both nation branches carry the IN-filter down at the scan.
    assert len(re.findall(r"PushedFilters:.*In\(n_name, \[NATION", plan)) >= 2


def test_text_profile_is_single_scan(spark):
    """The fused profile projection must read documents exactly once —
    fusing three per-doc queries into one scan is its reason to exist."""
    from ocrs_spark.ops.textstats import text_profile

    plan = plan_of(text_profile(spark, SF_DIR))
    # One detail entry "(n) Scan parquet" == one physical scan (the
    # formatted explain also names the node in the tree header).
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Exchange" not in plan  # pure projection: no shuffle at all


def test_multimodal_decode_reads_prelanded_payloads(spark):
    """The timed decode query must scan the materialized payload table
    (binary column present) rather than re-synthesizing from documents:
    encode is fixture work a real corpus never pays."""
    from ocrs_spark.ops.multimodal import multimodal_decode_meta

    plan = plan_of(multimodal_decode_meta(spark, SF_DIR))
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "payload" in m.group(1)
    assert "text" not in (m.group(1))  # documents.text never read here


def test_embedding_near_dup_buckets_once(spark):
    """The banded-LSH bucketing UDF (Arrow matmul) must evaluate exactly
    once in the near-dup plan. Two regressions this guards: the old
    bb-self-join re-ran the whole bucketing subtree per side, and
    InferFiltersFromGenerate used to clone the UDF into an inferred
    filter below the posexplode (8 ArrowEvalPython stages at worst)."""
    from ocrs_spark.ops.dedup import embedding_cosine_pairs

    plan = plan_of(embedding_cosine_pairs(spark, SF_DIR))
    # r6: exactly TWO Arrow stages — the bucketing matmul (once; the
    # in-bucket pair explosion keeps the self-join away) and the
    # cumsum-sequential cosine verify kernel (once, on candidates
    # only). Any third stage means a re-cloned subtree regressed.
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_doc_signatures_is_single_pass(spark):
    """Both dedup signatures must come from ONE scan and ONE Arrow
    kernel evaluation — no exploded per-token shuffle, no join. The
    only allowed exchange is the round-robin spread of the narrow
    (doc_id, text) projection across cores."""
    from ocrs_spark.ops.dedup import doc_signatures

    plan = plan_of(doc_signatures(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_html_main_content_is_pure_projection(spark):
    """Boilerplate strip must stay a single-scan, shuffle-free
    expression plan — the map-side-only shape a 100-TB extraction
    sweep needs."""
    from ocrs_spark.ops.webdoc import html_main_content

    plan = plan_of(html_main_content(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no Python anywhere


def test_repeated_passages_partial_aggregates(spark):
    """Passage dedup shuffles only hashed windows with map-side partial
    aggregation — never raw text — and keeps Python out entirely."""
    from ocrs_spark.ops.webdoc import repeated_passage_spans

    plan = plan_of(repeated_passage_spans(spark, SF_DIR))
    assert re.search(r"HashAggregate.*partial", plan, re.S)
    assert "SortMergeJoin" not in plan and "EvalPython" not in plan


def test_decontamination_is_broadcast_semi_shape(spark):
    """The eval n-gram table must broadcast: contamination checking at
    100 TB is one corpus scan + a broadcast hash join — a shuffled
    (sort-merge) join on the gram key would shuffle the whole exploded
    corpus."""
    from ocrs_spark.ops.decontam import decontamination

    plan = plan_of(decontamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_rides_the_scan(spark):
    """Chunking is a per-row projection + explode: no Exchange at all."""
    from ocrs_spark.ops.retrieval import chunk_documents

    plan = plan_of(chunk_documents(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "media_ref" not in m.group(1)  # column pruning holds


def test_bm25_filters_to_query_vocab_before_any_shuffle(spark):
    """The query-term IN filter must sit below the tf aggregation, so
    the grouped state is O(matching docs x query terms) not O(corpus
    vocabulary); query/df/corpus-stat sides must broadcast."""
    from ocrs_spark.ops.retrieval import bm25_search

    plan = plan_of(bm25_search(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the IN-list filter appears (token IN (...)) before aggregation
    assert re.search(r"token#\d+ IN \(", plan)


def test_semdedup_assignment_stays_narrow(spark):
    """SemDeDup's centroid assignment inherits ivf_assignments' shape:
    the only Exchange below the per-cluster kernel is the hash
    partition on centroid_id feeding applyInPandas."""
    from ocrs_spark.ops.semdedup import semantic_dedup

    plan = plan_of(semantic_dedup(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "CrossJoin" not in plan


def test_dpp_join_prunes_fact_partitions(spark):
    """The date-dim join over the hive-partitioned fact layout must
    never plan a full fact scan: the scan's PartitionFilters carry both
    the runtime dynamicpruning subquery (dim broadcast reused as the
    pruning filter) and the constraint Catalyst derived through the
    join equality — either alone keeps a 10^12-row fact from being
    read whole."""
    from ocrs_spark.ops.dpp import dpp_pruned_join

    plan = plan_of(dpp_pruned_join(spark, SF_DIR))
    assert "dynamicpruningexpression" in plan.lower()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert scan_lines and any(
        "dynamicpruning" in ln for ln in scan_lines
    )


def test_bitext_candidates_are_hash_joined_never_cross(spark):
    """The bitext candidate generator must be a (band, bucket)-keyed
    hash join between the two sides — at corpus scale neither side is
    broadcastable and a nested-loop/cartesian shape would be the
    all-pairs cross product the banding exists to avoid. (The pair
    table materializes via localCheckpoint, so assert on the candidate
    subplan itself.)"""
    from pyspark.sql import functions as F

    from ocrs_spark.ops import load_tables
    from ocrs_spark.ops.bitext import BX_BANDS, BX_PLANE_BASE, BX_ROWS
    from ocrs_spark.ops.similarity import banded_buckets

    (emb,) = load_tables(spark, SF_DIR, "embeddings")
    bb = banded_buckets(emb, BX_BANDS, BX_ROWS, BX_PLANE_BASE)
    xb = bb.filter(F.col("vec_id") % 2 == 0).withColumnRenamed("vec_id", "src_id")
    yb = bb.filter(F.col("vec_id") % 2 == 1).withColumnRenamed("vec_id", "tgt_id")
    cand = xb.join(yb, ["band", "bucket"]).select("src_id", "tgt_id").distinct()
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan  # AQE may broadcast at sf0.001
    )


def test_cdc_boundary_filter_sits_on_the_generate(spark):
    """r6 shape: boundary detection AND chunk hashing run inside ONE
    Arrow pass, so nothing corpus-length-sized exists in the plan at
    all — no position Generate, exactly one MapInPandas, and the only
    exchanges sit above the ~n/D chunk-hash rows it emits (the
    duplication window + per-doc rollup)."""
    from ocrs_spark.ops.cdc import cdc_chunk_dedup

    plan = plan_of(cdc_chunk_dedup(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "Generate" not in plan  # no per-character-position explode
    assert "BatchEvalPython" not in plan


def test_dsir_scoring_join_broadcasts_the_bucket_model(spark):
    """DSIR's per-feature scoring join must broadcast the <=1024-row
    bucket-distribution table into the corpus-side join — the corpus
    never reshuffles on the bucket key."""
    from ocrs_spark.ops.dsir import dsir_importance_sample

    plan = plan_of(dsir_importance_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # Top-K is TakeOrdered (per-partition heads), never a global sort.
    assert "TakeOrderedAndProject" in plan


def test_budget_corpus_work_is_one_partial_agg(spark):
    """The waterfilling allocator's only corpus-scale operator is the
    token-count aggregation — partial (map-side) combine must be in
    the plan before the exchange."""
    from ocrs_spark.ops.budget import token_budget_epochs

    plan = plan_of(token_budget_epochs(spark, SF_DIR))
    assert "partial_count" in plan or "partial_sum" in plan


def test_gate_waterfall_is_one_scan_no_join(spark):
    """The waterfall must come from ONE conditional aggregation over
    one corpus scan: no join anywhere (per-gate rescans would be a 4x
    scan at 100 TB), partial aggregation proven."""
    from ocrs_spark.ops.gatewaterfall import gate_waterfall

    plan = plan_of(gate_waterfall(spark, SF_DIR))
    assert "Join" not in plan
    # exactly one scan node (formatted plans print each node twice:
    # once in the tree, once in the detail section)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial" in plan  # map-side combine of the indicator sums


def test_countmin_broadcasts_sketch_cells(spark):
    """Point queries join d tiny sketch-cell tables — every one must
    broadcast; a shuffled join against 8-row sketch rows would be
    absurd at scale."""
    from ocrs_spark.ops.countmin import CM_DEPTH, countmin_token_freq

    plan = plan_of(countmin_token_freq(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= CM_DEPTH
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_no_nested_loop(spark):
    """The wedge self-join and the anti-join must be hash joins on
    keys — never a nested-loop/cartesian shape."""
    from ocrs_spark.ops.linkgraph import link_prediction_ra

    plan = plan_of(link_prediction_ra(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_table_markdown_sorts_inside_aggregates(spark):
    """Reassembly order comes from array_sort inside the aggregates:
    the plan must contain NO Sort operator (a global ORDER BY over
    cell rows would shuffle the whole corpus to restore order) and
    exactly the two groupBy aggregations."""
    from ocrs_spark.ops.tables import table_markdown

    plan = plan_of(table_markdown(spark, SF_DIR))
    import re as _re

    assert not _re.search(r"\bSort\b", plan.replace("SortAggregate", "X"))
    assert "array_sort" in plan


def test_sitemap_recrawl_single_shuffle_per_leg(spark):
    """Build leg: one groupBy(host). Parse+join leg: one equi-join on
    url. No window, no cartesian."""
    from ocrs_spark.ops.sitemaps import sitemap_recrawl

    plan = plan_of(sitemap_recrawl(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_changerate_is_one_scan_no_join(spark):
    """Change-rate tiering must be generate + ONE partial-agg groupBy
    over one scan — no join, no window (the fetch-history explode rides
    the scan)."""
    from ocrs_spark.ops.changerate import recrawl_change_rate

    plan = plan_of(recrawl_change_rate(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial" in plan


def test_vocab_top_k_is_take_ordered_and_membership_broadcasts(spark):
    """The frozen vocabulary must compile to TakeOrderedAndProject
    (per-partition top-K merged on the driver, never a global sort) and
    the membership join against the VOCAB_K-row side must broadcast."""
    from ocrs_spark.ops.vocab import vocab_oov_rate

    plan = plan_of(vocab_oov_rate(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ccnet_terciles_avoid_per_language_global_sort(spark):
    """The tercile machinery must never sort a whole language in one
    task: no NTILE anywhere (the naive PARTITION BY lang shape), the
    only doc-scale window is the tie-group row_number partitioned by
    (lang, nlogp_milli), and the compact histogram offsets join back by
    broadcast."""
    from ocrs_spark.ops.ccnet import ccnet_perplexity_buckets

    plan = plan_of(ccnet_perplexity_buckets(spark, SF_DIR))
    assert "ntile" not in plan.lower().replace("percentile", "")
    assert re.search(
        r"row_number\(\) windowspecdefinition\(lang#\d+, nlogp_milli#\d+L?,"
        r" doc_id", plan
    )
    assert "BroadcastHashJoin" in plan


def test_compaction_plan_windows_per_partition_only(spark):
    """Offset-range packing must be one scan -> one window partitioned
    by the table partition key (source) -> one partial-agg groupBy; no
    join, no unpartitioned window."""
    from ocrs_spark.ops.compaction import compaction_plan

    plan = plan_of(compaction_plan(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert re.search(r"windowspecdefinition\(source#\d+,", plan)
    assert "partial" in plan


def test_trending_topk_is_take_ordered_one_agg(spark):
    """Both window counts must come from ONE conditional aggregation
    (no token-table self-join) and the top-K must compile to
    TakeOrderedAndProject, never a global sort."""
    from ocrs_spark.ops.trending import trending_tokens

    plan = plan_of(trending_tokens(spark, SF_DIR))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial" in plan


def test_texttile_is_pure_projection_zero_shuffle(spark):
    """Segmentation must ride the scan: no Exchange, no Join, no
    Window anywhere — one projection chain plus the posexplode."""
    from ocrs_spark.ops.texttile import text_tiling_segments

    plan = plan_of(text_tiling_segments(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_alloc_corpus_work_is_one_partial_agg(spark):
    """The corpus-scale work must be ONE moment aggregation (partial
    combine proven); apportionment windows run over the tiny stratum
    table. No join anywhere."""
    from ocrs_spark.ops.alloc import eval_sample_allocation

    plan = plan_of(eval_sample_allocation(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial" in plan


def test_canonical_rounds_are_hash_joins_no_cartesian(spark):
    """Every doubling round must be a key-equijoin on the pointer —
    never a nested-loop/cartesian shape — and the per-round
    localCheckpoint keeps the final plan flat (one round deep, not
    _rounds() joins stacked)."""
    from ocrs_spark.ops.canonical import canonical_resolution

    plan = plan_of(canonical_resolution(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # flat plan: the checkpointed round, not a tower of joins
    assert plan.count("Scan ExistingRDD") <= 2


def test_robust_stats_window_runs_over_histogram_not_docs(spark):
    """The trim-window rank arithmetic must run over the per-source
    VALUE HISTOGRAM (post-groupBy), never a per-source sort of raw
    documents: exactly two physical exchanges (histogram build, window
    partitioning — the final agg reuses it), a map-side-combined
    histogram, and the plan's ONLY sort is the window's sort over the
    3-column histogram, not the document table."""
    from ocrs_spark.ops.robust import trimmed_quality_stats

    plan = plan_of(trimmed_quality_stats(spark, SF_DIR))
    assert "Window" in plan
    assert "partial_count" in plan  # histogram combines map-side
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    sorts = re.findall(r"\(\d+\) Sort\n(Input \[\d+\]:[^\n]*)", plan)
    assert len(sorts) == 1 and "Input [3]:" in sorts[0]  # histogram rows


def test_packsweep_is_one_aggregate_over_the_offset_scan(spark):
    """After the shared prefix-sum pass (range exchange + pinned
    mapInPandas, arriving as an ExistingRDD scan), the whole sweep is
    explode -> ONE map-side-combined aggregate: a single shuffle and
    no join of any kind."""
    from ocrs_spark.ops.packing import packing_efficiency_sweep

    plan = plan_of(packing_efficiency_sweep(spark, SF_DIR))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "explode(" in plan and "MapInPandas" in plan
    assert "partial_sum" in plan  # per-budget flags combine map-side
