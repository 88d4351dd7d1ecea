"""Audio/video streaming admission gates: the accumulated streaming sink
must equal one-shot batch screening under the same frozen fingerprint
index, and the planted cross-split copies (batch docs ending 8/9 reference
corpus leaders via wrap_base) must be flagged — the audio/video twins of
tests/test_phash.py::test_stream_image_gate_equals_batch_screen. The
gates' full hash parity vs DuckDB runs in test_oracle_parity."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE


def _batch_screen(spark, modality):
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
    )
    from clinical_search_data_pipeline_spark.operators.phash import image_vs_corpus
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    if modality == "audio":
        from clinical_search_data_pipeline_spark.operators.audiofp import (
            AF_HAM_MAX as ham_max,
            audio_neardup_fingerprints as fingerprint,
        )
    else:
        from clinical_search_data_pipeline_spark.operators.videofp import (
            VF_HAM_MAX as ham_max,
            video_neardup_fingerprints as fingerprint,
        )

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < INCREMENT_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    ci = fingerprint(corpus, wrap_base=INCREMENT_SPLIT)
    bi = fingerprint(batch, wrap_base=INCREMENT_SPLIT)
    return image_vs_corpus(
        ci, bi, ham_max=ham_max, dup_status=f"dup_{modality}"
    )


@pytest.mark.parametrize("modality", ["audio", "video"])
def test_stream_gate_equals_batch_screen(spark, modality):
    got = {
        r.doc_id: (r.n_corpus_matches, r.status)
        for r in all_specs()[f"q_stream_{modality}_gate"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    expect = {
        r.doc_id: (r.n_corpus_matches, r.status)
        for r in _batch_screen(spark, modality).collect()
    }
    assert got == expect and got
    flagged = {d for d, (_n, s) in got.items() if s == f"dup_{modality}"}
    planted = {d for d in got if d % 10 >= 8}
    assert planted and planted <= flagged
