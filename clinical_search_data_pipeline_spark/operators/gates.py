"""The seven admission gates, decided in four screen passes.

A gate screens incoming documents against a frozen index of the standing
corpus. Gates that share their work share a pass: DSIR and quality score
the same hashed features (`text`), and the image, audio and video screens
fingerprint the same documents in one Python crossing (`media`). Each
pass record says, once, everything the admission path needs:

* ``tables`` — the index relations it persists, in publish order;
* ``build(corpus, split, gates)`` — ``{table: DataFrame}`` from scratch.
  A fused build also returns the cached relation its tables project
  from, under the pass's name (never persisted; a full refresh releases
  it with the tables);
* ``delta(old, increment, merged, split)`` — ``{table: (DataFrame, mode)}``
  folding an admitted increment in: ``"append"`` rows union into the old
  relation, ``"overwrite"`` rows replace it, and a table left out is
  carried unchanged;
* ``screen(batch, idx, split, gates)`` — one row per batch document
  carrying every listed gate's columns;
* ``decides`` — one `Decision` per gate: its registered ``q_stream_*``
  frame projected from the screen, the ``(column, alias)`` projection the
  admission verdict takes from the screen, and ``passing``, the value of
  its ``<name>_status`` verdict column that admits.

``gates`` names the gates a caller wants screened (a subset of
``decides``); the media pass fingerprints only those modalities.
``split`` is the media wrap base (fixture geometry). Every verdict
depends on one document and the frozen index only, so micro-batch
boundaries cannot change any row. Operator modules are imported inside
the functions: importing this module costs nothing until a gate runs.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache

APPEND, OVERWRITE = "append", "overwrite"

Index = Mapping[str, DataFrame]


def _same(screen: DataFrame) -> DataFrame:
    return screen


@dataclass(frozen=True)
class Decision:
    """One gate a pass decides."""

    name: str
    admission: tuple[tuple[str, str], ...]
    frame: Callable[[DataFrame], DataFrame] = _same
    passing: str = "admitted"

    @property
    def status(self) -> str:
        return f"{self.name}_status"


@dataclass(frozen=True)
class ScreenPass:
    name: str
    tables: tuple[str, ...]
    build: Callable[[DataFrame, int, tuple[str, ...]], dict[str, DataFrame]]
    delta: Callable[
        [Index, DataFrame, DataFrame, int], dict[str, tuple[DataFrame, str]]
    ]
    screen: Callable[[DataFrame, Index, int, tuple[str, ...]], DataFrame]
    decides: tuple[Decision, ...]

    @property
    def gates(self) -> tuple[str, ...]:
        return tuple(d.name for d in self.decides)


# -- text near-dup vs the corpus (prefix-filtered shingle Jaccard) ---------


def _dup_build(corpus: DataFrame, split: int, gates) -> dict[str, DataFrame]:
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


def _dup_screen(batch: DataFrame, idx: Index, split: int, gates) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.curation import (
        batch_vs_corpus,
    )

    index = (idx["prefix_sets"], idx["prefix_prefixes"], idx["prefix_dfreq"])
    return batch_vs_corpus(index, batch)


# -- the two dense models: DSIR importance and the NB quality classifier ---
# One feature pass fits both (`classifier.text_models`), cached once;
# `lr_model` and `clf_model` are its projections. A refresh re-aggregates
# over `merged`: an O(corpus) scan, but a cheap single-pass aggregation
# with no joins or windows — the sanctioned full-rebuild remainder of an
# otherwise O(increment) refresh.


def _text_build(docs: DataFrame, split: int, gates) -> dict[str, DataFrame]:
    from clinical_search_data_pipeline_spark.operators.classifier import (
        quality_labels,
        text_models,
    )

    fused = engine_cache(text_models(quality_labels(docs)))
    return {
        "lr_model": fused.select("bucket", "lr"),
        "clf_model": fused.select("bucket", "w", "bias"),
        "text": fused,
    }


def _text_delta(old: Index, increment, merged, split):
    models = _text_build(merged, split, TEXT.gates)
    return {t: (models[t], OVERWRITE) for t in ("lr_model", "clf_model")}


def _text_screen(batch: DataFrame, idx: Index, split: int, gates) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.classifier import (
        text_screen,
    )

    return text_screen(batch, idx["lr_model"], idx["clf_model"])


# -- verbatim-span contamination vs the corpus gram index ------------------


def _span_build(corpus: DataFrame, split: int, gates) -> dict[str, DataFrame]:
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


def _span_screen(batch: DataFrame, idx: Index, split: int, gates) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.spans import (
        span_contamination,
    )

    return span_contamination(
        batch, idx["gram_index"], bloom=idx["gram_bloom"]
    )


# -- perceptual near-dup of attached media (image / audio / video) ---------
# Fingerprint relations are doc-local and deterministic: the increment's
# rows union in, which is EXACTLY the full-rebuild relation. One
# `media_fingerprints` crossing covers every screened modality; each
# `<modality>_index` is its projection.


def _media_build(docs: DataFrame, split: int, gates) -> dict[str, DataFrame]:
    from clinical_search_data_pipeline_spark.operators.phash import (
        media_fingerprints,
        media_index,
    )

    fused = engine_cache(media_fingerprints(docs, gates, wrap_base=split))
    return {f"{m}_index": media_index(fused, m) for m in gates} | {
        "media": fused
    }


def _media_delta(old: Index, increment, merged, split):
    fps = _media_build(increment, split, MEDIA.gates)
    return {f"{m}_index": (fps[f"{m}_index"], APPEND) for m in MEDIA.gates}


def _media_screen(batch: DataFrame, idx: Index, split: int, gates) -> DataFrame:
    from clinical_search_data_pipeline_spark.operators.phash import (
        media_vs_corpus,
    )

    corpus = {m: idx[f"{m}_index"] for m in gates}
    return media_vs_corpus(corpus, batch, wrap_base=split)


def _media_decision(name: str) -> Decision:
    n, status = f"n_{name}_matches", f"{name}_status"
    return Decision(
        name,
        admission=((n, n), (status, status)),
        frame=lambda screen: screen.select(
            "doc_id",
            F.col(n).alias("n_corpus_matches"),
            F.col(status).alias("status"),
        ),
    )


TEXT_FRAME = ("doc_id", "lang", "n_feats")

TEXT = ScreenPass(
    name="text",
    tables=("lr_model", "clf_model"),
    build=_text_build,
    delta=_text_delta,
    screen=_text_screen,
    decides=(
        Decision(
            "dsir",
            admission=(("logw", "logw"), ("dsir_status", "dsir_status")),
            frame=lambda screen: screen.select(
                *TEXT_FRAME, "logw", F.col("dsir_status").alias("status")
            ),
        ),
        Decision(
            "quality",
            admission=(
                ("logit", "quality_logit"),
                ("quality_status", "quality_status"),
            ),
            frame=lambda screen: screen.select(
                *TEXT_FRAME,
                "logit",
                "prob",
                F.col("quality_status").alias("status"),
            ),
        ),
    ),
)

MEDIA = ScreenPass(
    name="media",
    tables=("image_index", "audio_index", "video_index"),
    build=_media_build,
    delta=_media_delta,
    screen=_media_screen,
    decides=tuple(_media_decision(m) for m in ("image", "audio", "video")),
)

GATES: tuple[ScreenPass, ...] = (
    ScreenPass(
        name="dup",
        tables=("prefix_sets", "prefix_prefixes", "prefix_dfreq"),
        build=_dup_build,
        delta=_dup_delta,
        screen=_dup_screen,
        decides=(
            Decision(
                "dup",
                admission=(
                    ("status", "dup_status"),
                    ("n_corpus_matches", "n_corpus_matches"),
                ),
            ),
        ),
    ),
    TEXT,
    ScreenPass(
        name="span",
        tables=("gram_index", "gram_bloom"),
        build=_span_build,
        delta=_span_delta,
        screen=_span_screen,
        decides=(
            Decision(
                "span",
                admission=(
                    ("covered_words", "covered_words"),
                    ("longest_run", "longest_run"),
                    ("status", "span_status"),
                ),
                passing="clean",
            ),
        ),
    ),
    MEDIA,
)

# the gates in the admission verdict's pinned column order
VERDICT_ORDER = ("dup", "dsir", "span", "quality", "image", "audio", "video")

DECISION: dict[str, Decision] = {d.name: d for p in GATES for d in p.decides}
PASS_OF: dict[str, ScreenPass] = {g: p for p in GATES for g in p.gates}
