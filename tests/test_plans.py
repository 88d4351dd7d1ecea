"""Physical-plan shape guards (scale contract, SURVEY.md §4).

Each assertion names a plan property the 100 TB design depends on; a
regression here means a query still passes the oracle but would not survive
a 1000-executor scale-up."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.plans import introspect as pl
from clinical_search_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE


def build(spark, name):
    return all_specs()[name].builder(spark, SF_SMOKE)


@pytest.mark.parametrize(
    "name",
    ["q_daily_traffic", "q_top_revenue_orders", "q_region_customer_stats",
     "q_events_orders_asof"],
)
def test_dim_joins_broadcast(spark, name):
    pl.assert_broadcast_join(build(spark, name))


@pytest.mark.parametrize(
    "name",
    ["q_minhash_lsh_pairs", "q_ann_lsh_topk", "q_simhash_buckets",
     "q_top_revenue_orders", "q_daily_traffic", "q_order_priority_counts",
     "q_customers_without_orders"],
)
def test_candidate_generation_is_equi_join(spark, name):
    """LSH/band/bucket candidate pairs and all relational joins must never
    plan an all-pairs product. (q_cosine_topk / q_embedding_neardup /
    q_jaccard_pairs are the *intentional* exact-quadratic baselines and are
    excluded.)"""
    pl.assert_no_cartesian(build(spark, name))


@pytest.mark.parametrize(
    "name",
    ["q_pricing_summary", "q_session_analysis", "q_daily_traffic",
     "q_clinical_areas", "q_lang_profile"],
)
def test_aggregations_partial(spark, name):
    pl.assert_partial_aggregation(build(spark, name))


@pytest.mark.parametrize("name", ["q_pricing_summary", "q_top_revenue_orders"])
def test_filters_reach_parquet_scan(spark, name):
    pl.assert_pushed_filters(build(spark, name))


def test_rank_filter_uses_window_group_limit(spark):
    """The peak-hour argmax (W1) must plan WindowGroupLimit — Spark's
    top-k-per-partition pushdown — not a full sort of every group."""
    pl.assert_in_plan(build(spark, "q_daily_traffic"), "WindowGroupLimit")


def test_partition_pruning_on_lake_reads(spark, tmp_path):
    """A filter on the hive partition column must become a PartitionFilter
    (pruned directory listing), not a post-scan row filter — the property
    the event_date lake layout exists for."""
    from clinical_search_data_pipeline_spark.sinks.parquet import write_partitioned
    from clinical_search_data_pipeline_spark.sources.readers import load_events

    lake = str(tmp_path / "lake")
    write_partitioned(
        load_events(spark, SF_SMOKE).select("event_id", "user_id", "event_date"),
        lake,
    )
    pruned = spark.read.parquet(lake).filter("event_date = '2024-01-03'")
    plan = pl.physical_plan(pruned)
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    assert pruned.count() > 0
    # and the scan reads only that partition's files
    n_files = pruned.select(F.input_file_name()).distinct().count()
    import glob

    assert n_files == len(glob.glob(lake + "/event_date=2024-01-03/*.parquet"))


def test_topk_plans_take_ordered(spark):
    """orderBy().limit() must fuse to TakeOrderedAndProject (O2), never a
    global sort."""
    pl.assert_in_plan(build(spark, "q_top_revenue_orders"), "TakeOrderedAndProject")


# Queries where a BroadcastNestedLoopJoin is the DESIGNED plan: the nested
# side is a bounded broadcast relation (a fixed query set, K centroids, a
# 1-row global aggregate), so the "loop" is O(n * small-constant) — not an
# all-pairs product. CartesianProduct (shuffle all-pairs) is never allowed.
BOUNDED_BROADCAST_NLJ_OK = {
    "q_cosine_topk",            # broadcast fixed query set
    "q_cosine_topk_vectorized", # broadcast fixed query set
    "q_ann_ivf_topk",           # broadcast K centroids (assignment argmax)
    "q_ann_ivf_multiprobe",     # broadcast K centroids (probe ranking)
    "q_tfidf_top_terms",        # broadcast 1-row corpus size N
    "q_time_remap",             # broadcast 1-row global min/max bounds
    "q_dedup_keys_xxhash_struct",  # broadcast 1-row keys_unique scalar
    "q_mixture_weights",           # broadcast 1-row normalizer
    "q_semdedup",                  # broadcast K centroids (assignment argmax)
    "q_unigram_nll",               # broadcast 1-row corpus token total
    "q_kmeans_refine",             # broadcast K centroids, both Lloyd rounds
    "q_bpe_merge_step",            # broadcast 1-row best pair vs the vocab
    "q_bpe_train2",                # two broadcast 1-row argmaxes, unrolled
    "q_semdedup_refined",          # broadcast K centroids (refined cells)
    "q_zipf_profile",              # broadcast 1-row corpus token total
    "q_bpe_tokenize2",             # inherits bpe_train2's two 1-row argmaxes
    "q_dsir_weights",              # broadcast 1-row corpus/target totals
    "q_dsir_resample",             # inherits dsir_weights' 1-row totals
    "q_bigram_nll",                # broadcast 1-row corpus token total
    "q_session_funnel",            # 3-row step table >= 4-row depth histogram
    "q_quality_classifier",        # broadcast 1-row class totals + prior
    "q_quality_classifier_refined",  # inherits NB's 1-row totals + 1-row step size
    "q_bpe_train4",                # n broadcast 1-row argmaxes, one per round
    "q_ann_recall",                # inherits exact/IVF broadcast query sets
    "q_bm25_topk",                 # broadcast 1-row (N, avgdl) corpus stats
    "q_bm25_index_topk",           # same 1-row stats, read from the index
    "q_zorder_keys",               # broadcast 1-row per-dimension bounds
    "q_ann_ivfpq_topk",            # queries/vectors x broadcast 1-row model
    "q_ann_ivfpq_multiprobe",      # queries/vectors x broadcast 1-row model
    "q_ann_pq_topk",               # queries/vectors x broadcast 1-row model
    "q_ann_rerank",                # queries/vectors x broadcast 1-row model
    "q_ann_pq_trained_topk",       # queries/vectors x broadcast 1-row model
    "q_minhash_recall",            # broadcast 1-row |exact pairs| scalar
    "q_cms_heavy_hitters",         # broadcast 1-row corpus event total
    "q_pps_sample",                # broadcast 1-row stride (grand total)
    "q_contrastive_pairs",         # broadcast fixed query set (cosine_topk's shape)
    "q_ann_index_topk",            # queries x broadcast 1-row persisted model
    "q_ann_index_probe",           # same 1-row model cross, served index
    "q_ann_index_rerank",          # same 1-row model cross + bounded refine
}


def test_train_order_single_partition_only_for_offsets(spark):
    """q_train_order's distributed-rank contract: exactly ONE
    SinglePartition exchange (the 64-row bucket-offset prefix sum) and a
    broadcast join carrying the offsets back — the corpus-sized window runs
    partitioned by bucket, never globally."""
    plan = pl.physical_plan(build(spark, "q_train_order"), "simple")
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_passage_dedup_two_keyed_shuffles(spark):
    """q_passage_dedup must shuffle exactly twice on data keys (passage
    text for first-occurrence ranking, doc_id for reassembly) plus the
    fan_out round-robin — no global sort, no single-partition stage."""
    plan = pl.physical_plan(build(spark, "q_passage_dedup"), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_semdedup_flag_join_is_unhinted_equi_join(spark):
    """r11 de-hint (VERDICT r10 #1): the dropped set is 20-50 % of the
    corpus at production dup rates, so the kept-flag join must NOT force
    a broadcast — the pre-AQE plan shows the designed vec_id-keyed
    shuffle join (AQE still broadcasts it at fixture scale at runtime),
    and the analyzed plan carries no broadcast hint at all."""
    df = build(spark, "q_semdedup")
    plan = pl.physical_plan(df, "simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # the only remaining hint is the literal-bounded centroid relation;
    # the hint lint must see nothing unbounded
    analyzed = df._jdf.queryExecution().analyzed().treeString()
    assert pl.lint_broadcast_hints(analyzed) == []


def test_registry_wide_no_cartesian(registry_plans):
    """EVERY registered batch query must plan without a CartesianProduct,
    and without a BroadcastNestedLoopJoin unless its nested side is a
    bounded broadcast (allowlist above). Streaming queries are excluded:
    building them executes the stream and their returned relation is a
    memory-sink scan, so there is no logical plan to inspect. Plans come
    from the session-shared rendering pass (conftest.registry_plans)."""
    bad = []
    for name, (plan, _formatted, _analyzed) in registry_plans.items():
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in plan and name not in BOUNDED_BROADCAST_NLJ_OK:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, f"quadratic join plans: {bad}"


def test_token_budget_no_single_partition_at_all(spark):
    """q_token_budget strengthens train_order's distributed-rank contract:
    ZERO SinglePartition exchanges — the offsets prefix sum windows over
    bucket WITHIN each lang partition (metadata-sized either way), the
    offsets come back via broadcast, and the corpus cumsum runs keyed on
    (lang, bucket)."""
    plan = pl.physical_plan(build(spark, "q_token_budget"), "simple")
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_length_outliers_bounds_broadcast(spark):
    """The per-lang percentile bounds (a languages-sized relation) must be
    BROADCAST against the corpus for the outlier count — never a shuffle of
    the corpus on lang — and the histogram agg must be partial (map-side
    combine) before its exchange."""
    plan = pl.physical_plan(build(spark, "q_length_outliers"), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_pii_redact_is_single_narrow_projection(spark):
    """Redaction is a scan-speed operator: no exchange of any kind in the
    plan — regex count + replace run inside one codegen'd projection."""
    plan = pl.physical_plan(build(spark, "q_pii_redact"), "simple")
    assert "Exchange" not in plan, plan


def test_bpe_corpus_stage_is_vocab_agg_only(spark):
    """q_bpe_merge_step touches the corpus exactly once: the word-count
    aggregation, engine-cached so BOTH consumers (pair counts, rewrite
    scan) read the materialized vocab — and the argmax fuses to
    TakeOrderedAndProject, never a global sort."""
    plan = pl.physical_plan(build(spark, "q_bpe_merge_step"), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    from clinical_search_data_pipeline_spark.caching import release_caches

    release_caches()


def test_ewma_single_key_shuffle(spark):
    """Grouped applyInPandas must cost exactly one user_id-keyed exchange
    into FlatMapGroupsInPandas — no extra sort-spill stages, no global
    ordering anywhere (ordering is per-group, inside the worker)."""
    plan = pl.physical_plan(build(spark, "q_ewma_user_values"), "simple")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_doc_chunks_zero_shuffle(spark):
    """Context-window chunking is a pure higher-order projection: no keyed
    or global exchange anywhere — chunk fan-out happens inside the narrow
    posexplode. (fan_out's round-robin input spread is the one allowed
    exchange; it carries no key and exists only to split the HOF stage off
    a single input file.)"""
    plan = pl.physical_plan(build(spark, "q_doc_chunks"), "simple")
    assert "Generate" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_ewma_chunked_bounded_tasks(spark):
    """The skew-hardened EWMA must (a) group on (user_id, chunk) — the
    bounded-task stage, (b) run the per-user stitch as a SECOND
    aggregation over the chunk-summary relation only, (c) never collapse
    to a single partition, and (d) — since r14 — carry NO Python eval node
    anywhere: both sequential folds run as SQL aggregate() HOFs over
    collect_list'd groups (the response subtree appears once per cache
    consumer in the rendered plan; the InMemoryRelation proves it executes
    once)."""
    plan = pl.physical_plan(build(spark, "q_ewma_user_values_chunked"), "simple")
    assert "Exchange hashpartitioning(user_id" in plan, plan
    assert "chunk" in plan, plan
    assert "InMemoryRelation" in plan, plan
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "MapInPandas"):
        assert node not in plan, (node, plan)
    assert "Exchange SinglePartition" not in plan, plan


@pytest.mark.parametrize(
    "name", ["q_session_funnel", "q_user_cohorts", "q_event_transitions"]
)
def test_session_analytics_no_global_stage(spark, name):
    """The clickstream-analytics additions must run entirely on keyed
    shuffles (user_id, then group keys) — zero single-partition stages;
    their only nested-loop join is the funnel's 3-row step table against
    the 4-row depth histogram."""
    plan = pl.physical_plan(build(spark, name), "simple")
    assert "Exchange SinglePartition" not in plan, (name, plan)


def test_bm25_postings_filtered_before_shuffle(spark):
    """BM25's corpus-sized token stream must be semi-joined against the
    broadcast query-term set BEFORE any keyed exchange (posting lists, not
    the corpus, reach the shuffle), and the per-query top-k must be a
    WindowGroupLimit rank filter — no global sort of any posting list."""
    plan = pl.physical_plan(build(spark, "q_bm25_topk"), "simple")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the explode feeds a broadcast join, never a raw corpus-wide exchange:
    # every hashpartitioning key set is (doc_id, word)/(word)/(query_id, ...)
    # AFTER the qterms filter — asserted indirectly by forbidding a sort
    # that isn't the windowed rank.
    assert "CartesianProduct" not in plan, plan


def test_simhash_fingerprints_zero_shuffle(spark):
    """SimHash is doc-local — the fingerprint plan must carry NO keyed or
    global exchange: distinct tokens + md5 hashing + 64 popcount
    aggregates all run inside one narrow projection. (fan_out's
    round-robin spread is the one allowed exchange; it carries no key.)
    The explode->distinct->groupBy formulation this replaced shuffled a
    token relation ~10x the corpus size twice."""
    plan = pl.physical_plan(build(spark, "q_simhash_fingerprints"), "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def _outside_cached(plan: str) -> list[str]:
    """The lines of a 'simple' plan outside every InMemoryRelation subtree
    (a cached relation's plan prints under its scan but runs once, when
    the cache fills, not per query)."""
    kept, cut = [], None
    for line in plan.splitlines():
        col = line.find("+- ")
        col = col if col >= 0 else len(line) - len(line.lstrip(" :"))
        if cut is not None and col > cut:
            continue
        cut = None
        kept.append(line)
        if "InMemoryRelation" in line:
            cut = col
    return kept


def test_admission_screens_each_batch_in_four_passes(spark):
    """Four screen passes for seven gates: one micro-batch's admission
    verdict crosses into Python ONCE for all three media modalities and
    featurizes its text ONCE for both DSIR and quality, and the built
    media index is ONE more Python crossing (its three tables project one
    cached fingerprint relation)."""
    import re

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        _admission_verdicts,
        build_gate_indexes,
    )
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < INCREMENT_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    idx = build_gate_indexes(corpus, INCREMENT_SPLIT)
    plan = pl.physical_plan(
        _admission_verdicts(batch, idx, INCREMENT_SPLIT), "simple"
    )
    per_batch = _outside_cached(plan)
    assert sum("MapInPandas" in line for line in per_batch) == 1, plan
    features = [
        line
        for line in per_batch
        if "Generate explode(concat(transform(" in line and "struct(pos" in line
    ]
    assert len(features) == 1, plan
    crossings = set(re.findall(r"MapInPandas [^\n]*?\)#(\d+),", plan))
    assert len(crossings) == 2, plan
