"""Query registry: the engine's public query surface.

Each operator module registers its queries here: a name, a Spark builder
``(spark, sf_dir) -> DataFrame``, and (when SQL-expressible) the equivalent
DuckDB oracle SQL. ``__spark_entry__.py`` exposes this registry to the
verification driver; tests iterate it for local parity checks.

Column-name contract: the driver's compare sorts columns by name before
value-hashing, so the Spark result and the oracle SQL must agree on every
output column name (SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does a rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query builder under a stable public name."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip(), tags)
        return fn

    return deco


# The round driver hash-checks `queries()` in dict order under an exactly-
# 50-entry budget (every CORRECTNESS_r* artifact has 50 rows). Rotation is
# therefore a first-class, per-round decision: the 50 names below lead the
# surfaced order; every other query follows in module-registration order.
# Being listed is NOT a correctness statement — it is this round's claim on
# the driver's budget.
#
# Round-15 window: 65 claims on 50 slots. Round 14 checked r13's window
# unchanged (CORRECTNESS_r13.json and CORRECTNESS_r14.json name the same
# 50 queries), so the 16 names r13 deferred still carry r10 driver rows —
# age 4 behind the r14 artifact, past the staleness bound, and MANDATORY
# here. The 49 rotating r11-row names are at age 3 (the 50 of
# CORRECTNESS_r11.json less the retired q_dedup_keys_xxhash, which stays
# out of the window); no registered query is without a driver row. The
# window, in order: (a) the 16 mandatory r10-row names; (b) the 9 r11-row
# names whose DuckDB oracle text changed after their r11 row (the IVF/PQ/
# k-means oracles recomposed from duck_lloyd_ctes / duck_pq_ctes /
# ivfadc_oracle — r13's q_media_decode rule: a changed result needs a
# fresh driver row); (c) the first 25 of the other 40 r11-row names in
# registration order. No r10-row oracle changed since its r10 row.
ROUND_PRIORITY: tuple[str, ...] = (
    # (a) the 16 MANDATORY names: deferred in r13, latest driver row r10.
    "q_audio_fingerprints",
    "q_cosine_topk",
    "q_embedding_neardup",
    "q_image_dedup_apply",
    "q_image_hashes",
    "q_jaccard_pairs",
    "q_order_priority_counts",
    "q_pricing_summary",
    "q_salted_counts",
    "q_segment_stats",
    "q_stream_dsir_gate",
    "q_stream_span_gate",
    "q_supplier_part_volume",
    "q_unpivot_order_stats",
    "q_video_fingerprints",
    "q_word_entropy",
    # (b) the 9 r11-row names whose oracle changed since that row.
    "q_ann_ivf_topk",
    "q_ann_ivf_multiprobe",
    "q_ann_pq_topk",
    "q_ann_rerank",
    "q_ann_pq_trained_topk",
    "q_ann_ivfpq_topk",
    "q_ann_ivfpq_multiprobe",
    "q_kmeans_refine",
    "q_semdedup_refined",
    # (c) 25 of the other 40 r11-row names, registration order.
    "q_doc_exact_dedup",
    "q_simhash_fingerprints",
    "q_simhash_buckets",
    "q_ann_lsh_topk",
    "q_cosine_topk_vectorized",
    "q_ann_lsh_multiprobe",
    "q_contrastive_pairs",
    "q_mixture_weights",
    "q_sequence_pack",
    "q_pps_sample",
    "q_lang_id",
    "q_repetition_quality",
    "q_tfidf_top_terms",
    "q_neardup_clusters",
    "q_approx_daily_traffic",
    "q_value_quantiles",
    "q_cms_heavy_hitters",
    "q_stream_stream_join",
    "q_stream_stream_left_outer",
    "q_stream_session_window",
    "q_stream_enriched_traffic",
    "q_stream_running_counts",
    "q_passage_dup_stats",
    "q_train_order",
    "q_token_budget",
)

# The last 15 of those 40 r11-row names in registration order, deferred
# from the r15 window. Their rows reach age 4 with the r15 artifact, so the
# staleness guard makes their r16 slots MANDATORY; the backlog-neglect test
# enforces the same once an artifact past r16 lands. Their oracles are
# unchanged since the r11 rows, and tier-1's oracle parity checks them at
# sf0.001 on every run.
ROUND_BACKLOG: tuple[str, ...] = (
    "q_span_gate_bloom",
    "q_quality_classifier_refined",
    "q_stream_quality_gate",
    "q_image_neardup",
    "q_stream_image_gate",
    "q_audio_neardup",
    "q_video_neardup",
    "q_normalize_text",
    "q_jaccard_pairs_normalized",
    "q_minhash_lsh_normalized",
    "q_dbscan_clusters",
    "q_zorder_keys",
    "q_bucketed_join",
    "q_bm25_topk",
    "q_bm25_index_topk",
)
ROUND_BACKLOG_DEFERRED_IN = 15  # the round whose window displaced them

# Permanently retired from window rotation (VERDICT r11 #8): checks that
# can never tighten past rows-only, whose hash evidence lives in an
# in-rotation twin. q_dedup_keys_xxhash is rows-only forever — DuckDB has
# no xxhash64, so its driver row can only ever say "10,000 rows came
# back"; the md5 path and the hash-green q_dedup_keys_xxhash_struct twin
# carry the value check, and tests/test_hashing.py pins xxhash64 against
# fixed vectors. Spending a rotating slot on it buys nothing, so the
# staleness guard exempts these names instead of forcing the spend.
ROTATION_RETIRED: tuple[str, ...] = ("q_dedup_keys_xxhash",)


def _load_modules() -> None:
    # Imported for their registration side effects; surfaced order is
    # ROUND_PRIORITY first (see above), then registration order.
    from clinical_search_data_pipeline_spark.operators import (  # noqa: F401
        dedup,
        similarity,
        splits,
        multimodal,
    )
    from clinical_search_data_pipeline_spark import api  # noqa: F401
    from clinical_search_data_pipeline_spark.operators import (  # noqa: F401
        textanalysis,
        components,
        pipeline,
        sketches,
        marts,
        quality,
        rangejoin,
        sessionize,
        skew,
        ingest,
        relational,
    )
    from clinical_search_data_pipeline_spark.streaming import (  # noqa: F401
        stream_queries,
    )

    from clinical_search_data_pipeline_spark.operators import (  # noqa: F401
        audiofp,
        bpe,
        canonical,
        videofp,
        ann_index,
        classifier,
        clustering,
        curation,
        importance,
        layout,
        phash,
        redaction,
        retrieval,
        smoothing,
        spans,
    )


def all_specs() -> dict[str, QuerySpec]:
    """Full registry, ROUND_PRIORITY names first then registration order.

    Raises if a priority name doesn't resolve — a silently-dropped window
    claim would waste a driver slot without anyone noticing.
    """
    _load_modules()
    missing = [n for n in ROUND_PRIORITY if n not in _REGISTRY]
    if missing:
        raise KeyError(f"ROUND_PRIORITY names not registered: {missing}")
    prioritized = {n: _REGISTRY[n] for n in ROUND_PRIORITY}
    prioritized.update((n, s) for n, s in _REGISTRY.items() if n not in prioritized)
    return prioritized


def oracle_of(name: str) -> str:
    """Oracle SQL of an already-registered query, for composition: a query
    whose own oracle embeds another query's oracle as a derived table (e.g.
    q_ann_recall re-scores each ANN variant against the exact oracle).
    Composing from the registry — not a copied string — guarantees the
    embedded SQL can never drift from the one the driver actually verifies.
    """
    spec = _REGISTRY[name]
    if spec.oracle is None:
        raise KeyError(f"{name} has no oracle to compose with")
    return spec.oracle


def all_queries() -> dict[str, QueryFn]:
    return {n: s.builder for n, s in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in all_specs().items() if s.oracle is not None}
