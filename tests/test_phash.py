"""Image perceptual-hash near-dup: codec orientation, hash correctness
against an independent exact-fraction reference, planted-pair recall, and
plan shape."""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pytest

from clinical_search_data_pipeline_spark.operators.multimodal import (
    decode_pixel_rows,
    encode_bmp,
    encode_ppm,
)
from clinical_search_data_pipeline_spark.operators.phash import (
    PHASH_BANDS,
    PHASH_COLS,
    PHASH_HAM_MAX,
    PHASH_ROWS,
    _image_encoder,
    dhash_neardup_images,
)
from clinical_search_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE, encoded_payloads


def _logical_image(w: int, h: int, seed: int) -> np.ndarray:
    k = np.arange(w * h * 3, dtype=np.int64)
    return ((seed * 31 + k * 7) % 256).astype(np.uint8).reshape(h, w * 3)


def test_decode_pixel_rows_flips_bottom_up_bmp():
    """A positive-height BMP stores its raster bottom-up; decode must give
    back the LOGICAL top-down rows. A pixel-sum consumer can't see this —
    a perceptual hash can, which is why the device exists."""
    w, h = 5, 4  # width 5 -> 15-byte rows -> real stride padding
    logical = _logical_image(w, h, 3)
    payload = encode_bmp(w, h, logical[::-1].tobytes())  # stored bottom-up
    fmt, gw, gh, _maxval, rows = decode_pixel_rows(payload)
    assert (fmt, gw, gh) == ("bmp", w, h)
    assert np.array_equal(rows, logical)

    payload = encode_ppm(w, h, logical.tobytes())  # PPM is top-down already
    fmt, gw, gh, _maxval, rows = decode_pixel_rows(payload)
    assert (fmt, gw, gh) == ("ppm", w, h)
    assert np.array_equal(rows, logical)


def _ref_dhash(rows: np.ndarray, w: int, h: int) -> list[int]:
    """Independent dHash: EXACT per-cell mean comparison via Fractions
    (the operator uses the integer cross-product form — these must agree
    bit-for-bit)."""
    gray = rows.astype(np.int64).reshape(h, w, 3).sum(axis=2)
    cells: dict[tuple[int, int], list[int]] = {}
    for y in range(h):
        for x in range(w):
            cells.setdefault(
                (y * PHASH_ROWS // h, x * PHASH_COLS // w), []
            ).append(int(gray[y, x]))
    mean = {rc: Fraction(sum(v), len(v)) for rc, v in cells.items()}
    bands = []
    rows_per_band = PHASH_ROWS // PHASH_BANDS
    for b in range(PHASH_BANDS):
        val = 0
        for rr in range(rows_per_band):
            r = b * rows_per_band + rr
            for c in range(PHASH_COLS - 1):
                if mean[(r, c)] > mean[(r, c + 1)]:
                    val |= 1 << (rr * (PHASH_COLS - 1) + c)
        bands.append(val)
    return bands


def test_dhash_matches_exact_fraction_reference(spark):
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents").limit(12)
    hashed = {
        r.doc_id: (r.fmt, r.width, r.height, [r.b0, r.b1, r.b2, r.b3])
        for r in dhash_neardup_images(docs).collect()
    }
    media = encoded_payloads(_image_encoder(None), hashed)
    assert len(hashed) == 12
    for doc_id, (fmt, w, h, bands) in hashed.items():
        gfmt, gw, gh, _m, rows = decode_pixel_rows(media[doc_id])
        assert (gfmt, gw, gh) == (fmt, w, h)
        assert bands == _ref_dhash(rows, w, h), doc_id


def _popcount_ham(a: list[int], b: list[int]) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_planted_copies_surface_in_neardup_pairs(spark):
    """Docs ending 8/9 are perturbed copies of their decade leader. Any
    planted pair within Hamming distance PHASH_BANDS - 1 MUST share a band
    (pigeonhole) and must therefore appear in the verified output; every
    reported pair must satisfy the threshold."""
    specs = all_specs()
    hashes = {
        r.doc_id: [r.b0, r.b1, r.b2, r.b3]
        for r in specs["q_image_hashes"].builder(spark, SF_SMOKE).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in specs["q_image_neardup"].builder(spark, SF_SMOKE).collect()
    }
    assert got, "no near-dup pairs found at all"
    for (a, b), ham in got.items():
        assert ham <= PHASH_HAM_MAX
        assert ham == _popcount_ham(hashes[a], hashes[b])
    decades = sorted({d - d % 10 for d in hashes})
    guaranteed = 0
    for dec in decades:
        for pair in [(dec, dec + 8), (dec, dec + 9), (dec + 8, dec + 9)]:
            if pair[0] in hashes and pair[1] in hashes:
                ham = _popcount_ham(hashes[pair[0]], hashes[pair[1]])
                if ham < PHASH_BANDS:  # pigeonhole-guaranteed band match
                    guaranteed += 1
                    assert pair in got, (pair, ham)
    assert guaranteed > 0, "fixture produced no pigeonhole-guaranteed pairs"


@pytest.mark.parametrize(
    "name", ["q_image_neardup", "q_audio_neardup", "q_video_neardup"]
)
def test_neardup_plan_is_banded_equi_join(spark, name):
    """All three modality families ride the same banded machinery, so all
    three must plan as shuffle equi-joins on band values — no
    CartesianProduct, no single-partition stage anywhere."""
    from clinical_search_data_pipeline_spark.plans import introspect as pl

    plan = pl.physical_plan(
        all_specs()[name].builder(spark, SF_SMOKE), "simple"
    )
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_dedup_apply_keeps_one_survivor_per_cluster(spark):
    """Union-find over the verified pairs (independent Python reference):
    the applied corpus must keep exactly min(cluster) per component plus
    every untouched image."""
    specs = all_specs()
    pairs = [
        (r.doc_a, r.doc_b)
        for r in specs["q_image_neardup"].builder(spark, SF_SMOKE).collect()
    ]
    got = {
        r.doc_id: r.status
        for r in specs["q_image_dedup_apply"].builder(spark, SF_SMOKE).collect()
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, set[int]] = {}
    for x in list(parent):
        clusters.setdefault(find(x), set()).add(x)

    from clinical_search_data_pipeline_spark.sources.readers import read_table

    all_ids = {
        r.doc_id
        for r in read_table(spark, SF_SMOKE, "documents").select("doc_id").collect()
    }
    touched = set(parent)
    expect = {d: "unique" for d in all_ids - touched}
    expect.update({min(m): "dup_survivor" for m in clusters.values()})
    assert got == expect
    assert clusters, "fixture produced no perceptual clusters"


def test_stream_image_gate_equals_batch_screen(spark):
    """The accumulated streaming sink must equal one-shot batch screening
    under the same frozen corpus hash index, and the planted cross-split
    copies (batch docs ending 8/9 reference corpus leaders via wrap_base)
    must be flagged."""
    from pyspark.sql import functions as F

    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
    )
    from clinical_search_data_pipeline_spark.operators.phash import (
        image_vs_corpus,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    got = {
        r.doc_id: (r.n_corpus_matches, r.status)
        for r in all_specs()["q_stream_image_gate"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < INCREMENT_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    ch = dhash_neardup_images(corpus, wrap_base=INCREMENT_SPLIT)
    bh = dhash_neardup_images(batch, wrap_base=INCREMENT_SPLIT)
    expect = {
        r.doc_id: (r.n_corpus_matches, r.status)
        for r in image_vs_corpus(ch, bh).collect()
    }
    assert got == expect and got
    flagged = {d for d, (_n, s) in got.items() if s == "dup_image"}
    planted = {d for d in got if d % 10 >= 8}
    assert planted and planted <= flagged


@pytest.mark.parametrize("seed", [11, 37, 91])
def test_banded_pairs_match_bruteforce_on_random_hashes(spark, seed):
    """The banded machinery against an exhaustive reference on ARBITRARY
    band tables (not just codec-derived ones): output must equal exactly
    the set of pairs that (a) share at least one 16-bit band and (b) pass
    the Hamming threshold — LSH recall and verify pinned together."""
    import random

    from clinical_search_data_pipeline_spark.operators.phash import (
        image_neardup_pairs,
    )

    rng = random.Random(seed)
    n = 48
    rows = []
    for d in range(n):
        if d % 7 == 3:  # plant exact copies and 1-bit neighbors
            b = list(rows[d - 1][1:])
            if d % 2:
                b[rng.randrange(4)] ^= 1 << rng.randrange(16)
        else:
            b = [rng.randrange(1 << 16) for _ in range(4)]
        rows.append((d, *b))
    df = spark.createDataFrame(rows, ["doc_id", "b0", "b1", "b2", "b3"])
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in image_neardup_pairs(df, ham_max=PHASH_HAM_MAX).collect()
    }
    bands = {d: b for d, *b in rows}
    expect = {}
    for a in range(n):
        for b in range(a + 1, n):
            ham = sum(bin(x ^ y).count("1") for x, y in zip(bands[a], bands[b]))
            shares = any(x == y for x, y in zip(bands[a], bands[b]))
            if shares and ham <= PHASH_HAM_MAX:
                expect[(a, b)] = ham
    assert got == expect
    assert expect, "seed produced no qualifying pairs"
