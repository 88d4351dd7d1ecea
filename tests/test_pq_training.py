"""PQ codebook training: the documented production step
("production trains per-subspace k-means") made real and evidenced —
Lloyd monotonicity on the true objective, shape stability, and a recall
gain over the sliced-fixture init at equal bit budget."""

from __future__ import annotations

from clinical_search_data_pipeline_spark.caching import release_caches
from clinical_search_data_pipeline_spark.operators.ann_index import (
    N_CENTROIDS,
    PQ_K,
    PQ_M,
    encode_ann_index,
    pq_codebook,
    pq_distortion,
    pq_subvectors,
    pq_train_codebooks,
    seed_centroids,
)
from clinical_search_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    index_topk,
)
from clinical_search_data_pipeline_spark.sources.readers import read_table
from tests.conftest import SF_SMOKE


def _recall(emb, codebook=None) -> int:
    """True top-k neighbors found by PQ/ADC over every vector: an
    in-memory index of the seed cells and `codebook` (default: the
    sliced init), searched in all cells."""
    if codebook is None:
        codebook = pq_codebook(pq_subvectors(emb))
    index = encode_ann_index(emb, seed_centroids(emb), codebook)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in index_topk(emb, index, nprobe=N_CENTROIDS).collect()
    }
    return len(approx & exact)


def test_training_monotone_and_shape(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    subs = pq_subvectors(emb)
    d0 = pq_distortion(subs, pq_codebook(subs))
    cb1 = pq_train_codebooks(emb, rounds=1)
    d1 = pq_distortion(subs, cb1)
    cb2 = pq_train_codebooks(emb, rounds=2)
    d2 = pq_distortion(subs, cb2)
    release_caches()
    # Lloyd: total (and so mean) distortion is non-increasing per round,
    # and on this fixture strictly improves from the sliced init
    assert d1 < d0, (d0, d1)
    assert d2 <= d1 + 1e-12, (d1, d2)
    assert cb1.count() == PQ_M * PQ_K  # every (m, j) slot survives


def test_trained_codebooks_beat_sliced_init_recall(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    base = _recall(emb)
    trained = _recall(emb, codebook=pq_train_codebooks(emb, rounds=2))
    release_caches()
    assert trained >= base, (base, trained)
