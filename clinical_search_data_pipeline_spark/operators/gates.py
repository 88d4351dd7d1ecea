"""The seven admission gates, one record each.

A gate screens incoming documents against a frozen index of the standing
corpus. Its record says, once, everything the admission path needs:

* ``tables`` — the index relations it persists, in publish order;
* ``build(corpus, split)`` — ``{table: DataFrame}`` from scratch;
* ``delta(old, increment, merged, split)`` — ``{table: (DataFrame, mode)}``
  folding an admitted increment in: ``"append"`` rows union into the old
  relation, ``"overwrite"`` rows replace it, and a table left out is
  carried unchanged;
* ``verdict(batch, idx, split)`` — one row per batch document, the frame
  its registered ``q_stream_*`` query writes;
* ``admission`` — the ``(column, alias)`` projection the seven-way
  admission verdict takes from that frame, and ``passing``, the value of
  its ``<name>_status`` column that admits.

``split`` is the media wrap base (fixture geometry). Every verdict depends
on one document and the frozen index only, so micro-batch boundaries
cannot change any row. Operator modules are imported inside the functions:
importing this module costs nothing until a gate runs.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache

APPEND, OVERWRITE = "append", "overwrite"

Index = Mapping[str, DataFrame]


@dataclass(frozen=True)
class Gate:
    name: str
    tables: tuple[str, ...]
    build: Callable[[DataFrame, int], dict[str, DataFrame]]
    delta: Callable[
        [Index, DataFrame, DataFrame, int], dict[str, tuple[DataFrame, str]]
    ]
    verdict: Callable[[DataFrame, Index, int], DataFrame]
    admission: tuple[tuple[str, str], ...]
    passing: str = "admitted"

    @property
    def status(self) -> str:
        return f"{self.name}_status"


# -- text near-dup vs the corpus (prefix-filtered shingle Jaccard) ---------


def _dup_build(corpus: DataFrame, split: int) -> dict[str, DataFrame]:
    from clinical_search_data_pipeline_spark.operators.curation import (
        corpus_prefix_index,
    )

    sets, prefixes, dfreq = corpus_prefix_index(corpus)
    return {
        "prefix_sets": sets,
        "prefix_prefixes": prefixes,
        "prefix_dfreq": dfreq,
    }


def _dup_delta(old: Index, increment, merged, split):
    """The increment's shingle sets (doc-local, so the union is exactly
    the rebuild relation) and their rarest-first prefixes, ranked under
    the FROZEN baseline document-frequency order. `prefix_dfreq` is
    deliberately NOT updated: the prefix-filter lemma is lossless under any
    single consistent total order, and mixing two orders across old and
    new prefixes could miss true pairs — so verdicts match the full
    rebuild even though the prefix ROWS differ; a periodic full re-baseline
    re-optimizes selectivity."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        _batch_prefix,
    )
    from clinical_search_data_pipeline_spark.operators.dedup import (
        shingle_sets,
    )
    from clinical_search_data_pipeline_spark.operators.fragments import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    inc_sets = engine_cache(
        shingle_sets(increment, SHINGLE_K).hint("rebalance")
    )
    prefixes = _batch_prefix(inc_sets, old["prefix_dfreq"], JACCARD_THRESHOLD)
    return {
        "prefix_sets": (inc_sets, APPEND),
        "prefix_prefixes": (prefixes, APPEND),
    }


def _dup_verdict(batch: DataFrame, idx: Index, split: int) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.curation import (
        batch_vs_corpus,
    )

    index = (idx["prefix_sets"], idx["prefix_prefixes"], idx["prefix_dfreq"])
    return batch_vs_corpus(index, batch)


# -- the two dense models: DSIR importance and the NB quality classifier ---
# Both re-aggregate over `merged` on refresh: O(corpus) scans, but cheap
# single-pass aggregations with no joins or windows — the sanctioned
# full-rebuild remainder of an otherwise O(increment) refresh.


def _dsir_model(docs: DataFrame) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.importance import (
        dsir_model,
    )

    return dsir_model(docs)


def _dsir_verdict(batch: DataFrame, idx: Index, split: int) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.importance import (
        DSIR_GATE,
        dsir_score,
    )

    return dsir_score(batch, idx["lr_model"]).withColumn(
        "status",
        F.when(F.col("logw") >= DSIR_GATE, "admitted").otherwise("rejected"),
    )


def _quality_model(docs: DataFrame) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.classifier import (
        nb_quality_model,
        quality_labels,
    )

    return nb_quality_model(quality_labels(docs))


def _quality_verdict(batch: DataFrame, idx: Index, split: int) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.classifier import (
        quality_score,
    )

    return quality_score(batch, idx["clf_model"])


# -- verbatim-span contamination vs the corpus gram index ------------------


def _span_build(corpus: DataFrame, split: int) -> dict[str, DataFrame]:
    from clinical_search_data_pipeline_spark.operators.spans import (
        corpus_gram_bloom,
        corpus_gram_index,
    )

    gram_index = engine_cache(corpus_gram_index(corpus))
    return {
        "gram_index": gram_index,
        "gram_bloom": engine_cache(corpus_gram_bloom(gram_index)),
    }


def _span_delta(old: Index, increment, merged, split):
    """Novel grams only: the gram index has distinct-set semantics, so
    unioning the increment's grams it does not already hold equals the
    rebuild, and the Bloom filter folds exactly those grams in via
    `bloom_add` — one pass over the increment, same bit domain. The novel
    set is found WITHOUT shuffling the O(corpus) index: the old Bloom
    screens the increment down to possibly-known grams (no false
    negatives), the old index is SCANNED once against that broadcast set,
    and the confirmed members broadcast back out of the anti-join."""
    from clinical_search_data_pipeline_spark.operators.bloom import (
        bloom_add,
        bloom_probe,
    )
    from clinical_search_data_pipeline_spark.operators.spans import (
        corpus_gram_index,
    )

    inc_grams = corpus_gram_index(increment)
    maybe_known = bloom_probe(inc_grams, "gram", old["gram_bloom"])
    confirmed = old["gram_index"].join(
        F.broadcast(maybe_known), "gram", "left_semi"
    )
    novel = engine_cache(
        inc_grams.join(F.broadcast(confirmed), "gram", "left_anti")
    )
    return {
        "gram_index": (novel, APPEND),
        "gram_bloom": (bloom_add(old["gram_bloom"], novel, "gram"), OVERWRITE),
    }


def _span_verdict(batch: DataFrame, idx: Index, split: int) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.spans import (
        span_contamination,
    )

    return span_contamination(
        batch, idx["gram_index"], bloom=idx["gram_bloom"]
    )


# -- perceptual near-dup of attached media (image / audio / video) ---------
# Fingerprint relations are doc-local and deterministic: the increment's
# rows union in, which is EXACTLY the full-rebuild relation. The banded-
# Hamming probe (image_vs_corpus) is modality-agnostic.


def _image_fp():
    from clinical_search_data_pipeline_spark.operators.phash import (
        PHASH_HAM_MAX,
        dhash_neardup_images,
    )

    return dhash_neardup_images, PHASH_HAM_MAX


def _audio_fp():
    from clinical_search_data_pipeline_spark.operators.audiofp import (
        AF_HAM_MAX,
        audio_neardup_fingerprints,
    )

    return audio_neardup_fingerprints, AF_HAM_MAX


def _video_fp():
    from clinical_search_data_pipeline_spark.operators.videofp import (
        VF_HAM_MAX,
        video_neardup_fingerprints,
    )

    return video_neardup_fingerprints, VF_HAM_MAX


def _media_gate(name: str, fingerprinter: Callable[[], tuple]) -> Gate:
    """`fingerprinter()` -> (fingerprint operator, Hamming verify bound)."""
    table = f"{name}_index"

    def fingerprints(docs: DataFrame, split: int) -> DataFrame:
        fp, _ = fingerprinter()
        return fp(docs, wrap_base=split)

    def verdict(batch: DataFrame, idx: Index, split: int) -> DataFrame:
        from clinical_search_data_pipeline_spark.operators.phash import (
            image_vs_corpus,
        )

        _, ham_max = fingerprinter()
        # the all-docs universe comes from the raw batch's doc_ids, so the
        # batch decode+hash is consumed once, lazily inside the verdict
        # action (one job per micro-batch, no per-batch checkpoint)
        return image_vs_corpus(
            idx[table],
            fingerprints(batch, split),
            ham_max=ham_max,
            dup_status=f"dup_{name}",
            batch_docs=batch,
        )

    return Gate(
        name=name,
        tables=(table,),
        build=lambda corpus, split: {
            table: engine_cache(fingerprints(corpus, split))
        },
        delta=lambda old, increment, merged, split: {
            table: (fingerprints(increment, split), APPEND)
        },
        verdict=verdict,
        admission=(
            ("n_corpus_matches", f"n_{name}_matches"),
            ("status", f"{name}_status"),
        ),
    )


def _model_gate(name: str, table: str, model, verdict, admission) -> Gate:
    """A gate whose index is one small dense model over the corpus."""
    return Gate(
        name=name,
        tables=(table,),
        build=lambda corpus, split: {table: engine_cache(model(corpus))},
        delta=lambda old, increment, merged, split: {
            table: (model(merged), OVERWRITE)
        },
        verdict=verdict,
        admission=admission,
    )


GATES: tuple[Gate, ...] = (
    Gate(
        name="dup",
        tables=("prefix_sets", "prefix_prefixes", "prefix_dfreq"),
        build=_dup_build,
        delta=_dup_delta,
        verdict=_dup_verdict,
        admission=(
            ("status", "dup_status"),
            ("n_corpus_matches", "n_corpus_matches"),
        ),
    ),
    _model_gate(
        "dsir", "lr_model", _dsir_model, _dsir_verdict,
        (("logw", "logw"), ("status", "dsir_status")),
    ),
    Gate(
        name="span",
        tables=("gram_index", "gram_bloom"),
        build=_span_build,
        delta=_span_delta,
        verdict=_span_verdict,
        admission=(
            ("covered_words", "covered_words"),
            ("longest_run", "longest_run"),
            ("status", "span_status"),
        ),
        passing="clean",
    ),
    _model_gate(
        "quality", "clf_model", _quality_model, _quality_verdict,
        (("logit", "quality_logit"), ("status", "quality_status")),
    ),
    _media_gate("image", _image_fp),
    _media_gate("audio", _audio_fp),
    _media_gate("video", _video_fp),
)

GATE: dict[str, Gate] = {g.name: g for g in GATES}
