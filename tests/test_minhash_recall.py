"""q_minhash_recall: recall/cost evidence for banded MinHash-LSH vs exact
Jaccard pairs — the text-dedup twin of q_ann_recall. The configs nest
((8,1) ⊃ (4,2) ⊃ (2,4) as candidate sets), so both the cost proxy and the
recall are provably monotone; the fixture pins the figures exactly the way
test_ann_recall pins the ANN curve."""

from __future__ import annotations

import pytest

from clinical_search_data_pipeline_spark.operators.dedup import (
    MINHASH_RECALL_CONFIGS,
    minhash_recall,
)
from clinical_search_data_pipeline_spark.sources.readers import read_table
from tests.conftest import SF_SMOKE


def _rows(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    return {(r.bands, r.rows_per_band): r.asDict() for r in minhash_recall(docs).collect()}


def test_recall_table_shape_and_totals(spark):
    rows = _rows(spark)
    assert set(rows) == set(MINHASH_RECALL_CONFIGS)
    possible = {r["possible"] for r in rows.values()}
    assert len(possible) == 1  # one exact-pair universe shared by all configs
    for r in rows.values():
        assert 0 <= r["hits"] <= r["possible"]
        assert r["hits"] <= r["candidates"]
        assert r["recall_bp"] == r["hits"] * 10000 // r["possible"]
    # num_hashes is pinned by the config table: any other value is a
    # contract error naming the constraint, not a bare assert
    docs = read_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="num_hashes == 8"):
        minhash_recall(docs, num_hashes=16)


def test_candidates_and_hits_monotone_in_band_width(spark):
    """Nested-partition containment: a band of r consecutive minhashes
    agreeing implies every contained finer band agrees, so the candidate
    set of (2,4) ⊆ (4,2) ⊆ (8,1) — candidates and hits are monotone
    nonincreasing as rows_per_band grows."""
    rows = _rows(spark)
    ordered = [rows[c] for c in ((8, 1), (4, 2), (2, 4))]
    for wide, narrow in zip(ordered, ordered[1:]):
        assert wide["candidates"] >= narrow["candidates"]
        assert wide["hits"] >= narrow["hits"]


def test_fixture_recall_floor(spark):
    """The fixture's planted near-dups are high-Jaccard (>= 0.8 threshold),
    the regime banded LSH is built for: the production default (4,2) must
    hold >= 99% recall here — a hashing or banding regression surfaces as a
    basis-points drop before anything else turns red."""
    rows = _rows(spark)
    assert rows[(4, 2)]["recall_bp"] >= 9900
