"""q_ann_recall: the ANN family's recall@k evidence table (VERDICT r7
item 5). The fixture is fully deterministic (md5-seeded planes, fixed
centroid ids), so the recall figures themselves are pinned — a plan or
hashing regression in ANY variant moves a basis-points number here before
it shows up anywhere else. ANN_RECALL.md records the same figures per SF
for the tuner; `python ann_recall_report.py` regenerates it.
"""

from __future__ import annotations

import duckdb
import pytest

from clinical_search_data_pipeline_spark.operators.similarity import (
    ANN_RECALL_POSSIBLE,
    ANN_RECALL_VARIANTS,
)
from clinical_search_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def rows(spark):
    """{variant: row} of the registered q_ann_recall at the smoke SF,
    computed once for every test here (each run is ~9 variant searches)."""
    from clinical_search_data_pipeline_spark.caching import release_caches

    try:
        out = all_specs()["q_ann_recall"].builder(spark, SF_SMOKE).collect()
    finally:
        release_caches()
    return {r.variant: r.asDict() for r in out}


def test_recall_table_shape_and_totals(rows):
    assert set(rows) == {label for label, *_ in ANN_RECALL_VARIANTS}
    for r in rows.values():
        assert r["possible"] == ANN_RECALL_POSSIBLE
        assert 0 <= r["hits"] <= r["possible"]
        assert r["recall_bp"] == r["hits"] * 10000 // r["possible"]


def test_recall_monotone_in_probes(rows):
    """Widening the probe set must not lose true neighbors: every candidate
    a single-probe search scores is also scored by its multiprobe variant,
    so recall is monotone in probes — and on this fixture strictly so."""
    assert rows["ivf_p2"]["hits"] > rows["ivf_p1"]["hits"]
    assert rows["lsh_p9"]["hits"] > rows["lsh_p1"]["hits"]
    assert rows["ivfpq_p2"]["hits"] > rows["ivfpq_p1"]["hits"]
    # on this fixture quantized scoring never beats full-precision scoring
    # of the same candidate set (not a theorem — a deterministic pin; a
    # move here means the codebook or ADC arithmetic changed)
    assert rows["ivfpq_p2"]["hits"] <= rows["ivf_p2"]["hits"]
    assert rows["ivfpq_p1"]["hits"] <= rows["ivf_p1"]["hits"]


def test_recall_pinned_at_smoke_sf(rows):
    """Exact basis-points pins at sf0.001 — deterministic end to end. If a
    variant's plane/centroid/tie-break behavior changes, this is the first
    test to say which variant and by how much."""
    got = {v: r["recall_bp"] for v, r in rows.items()}
    assert got == {
        "ivf_p1": 2250,
        "ivf_p2": 4750,
        # IVFADC == IVF at p1 on this fixture: the coarse prune is the
        # binding loss; ADC quantization costs nothing further here.
        "ivfpq_p1": 2250,
        # one extra probe buys +2000 bp; quantization costs 500 bp vs the
        # full-precision ivf_p2 — the compounding a tuner trades against.
        "ivfpq_p2": 4250,
        "lsh_p1": 0,
        "lsh_p9": 1750,
        "pq_m32k32": 6250,
        "pq_rerank": 10000,
        # one pinned Lloyd round over the sliced init buys 250 bp at the
        # same bit budget — the pq_train_codebooks payoff, hash-oracled.
        "pq_trained": 6500,
    }, got


def test_rerank_recall_dominates_pq_alone(rows):
    """The pool-superset argument made measurable: exact refinement of the
    ADC pool can only keep or raise recall vs the PQ-alone top-k (the pool
    contains PQ's own top-k, and any global exact-top-k member in the pool
    outranks every other pool row under exact scoring)."""
    assert rows["pq_rerank"]["hits"] >= rows["pq_m32k32"]["hits"], rows


def test_recall_oracle_embeds_registered_variant_sql():
    """The composed oracle must contain each variant's registered oracle
    verbatim (composition via registry.oracle_of, not a copy that drifts)."""
    specs = all_specs()
    recall_sql = specs["q_ann_recall"].oracle
    for _label, _fn, oracle_name, _probes in ANN_RECALL_VARIANTS:
        assert specs[oracle_name].oracle in recall_sql, oracle_name
    assert specs["q_cosine_topk"].oracle in recall_sql


def test_recall_duckdb_parity_at_smoke_sf(rows):
    """Value-level parity of the composed oracle at the smoke SF (the
    driver checks sf0.01; this pins the other fixture too)."""
    spec = all_specs()["q_ann_recall"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(spec.oracle).fetchall()
    }
    got = {
        v: (r["probes"], r["hits"], r["possible"], r["recall_bp"])
        for v, r in rows.items()
    }
    assert got == oracle
