"""Image perceptual-hash near-duplicate detection (dHash + banded Hamming LSH).

Byte-level dedup misses re-encoded or lightly-edited copies of an image; a
multimodal training pipeline dedups images on a PERCEPTUAL hash computed
from decoded pixels. This module implements the standard dHash (difference
hash: average-pool the grayscale image to a PHASH_ROWS x PHASH_COLS grid,
emit one bit per horizontally-adjacent cell comparison) over the repo's
real raster codecs (`multimodal.decode_pixel_rows` — actual PPM/BMP byte
parsing, including the BMP bottom-up row flip that an order-invariant
consumer like a pixel sum can never catch), then finds near-duplicate
pairs with the same banded-LSH shape as SimHash text dedup
(`operators/dedup.py simhash_buckets`): split the 64-bit hash into
PHASH_BANDS 16-bit bands, bucket-join on (band_idx, band_val) — any pair
within Hamming distance PHASH_BANDS - 1 is GUARANTEED to share a band
(pigeonhole) — and exact-verify candidates with a popcount of the XOR.

Everything after the Arrow-batched hash stage is declarative DataFrame
code: a self-equi-join on band values (never an all-pairs product), a
pair-keyed join back to the doc-count-sized hash relation, and a built-in
`bit_count` filter — the same plan at 100 TB, with candidate fan-out
bounded by band-bucket occupancy exactly as in text SimHash.

Determinism device (SURVEY.md §5.2): the fixture images are real encoded
PPM/BMP files whose logical pixels are integer functions of doc_id, with
documents whose doc_id ends in 8 or 9 carrying a small deterministic pixel
perturbation of their decade-leader's image (the planted near-duplicates).
All grid/bit arithmetic is integer-only — cell comparisons use the
cross-product form sum_l * n_r > sum_r * n_l instead of float averages —
so DuckDB recomputes the exact hashes, bands, and Hamming distances from
first principles.

Reference parity: the reference has no image pipeline; this extends its
dedup family (reference `processing/spark/jobs/etl_to_analytics_mart.py`
deduplicates rows by key only) to the multimodal column class along the
published dHash construction (Krawetz 2013, "Kind of Like That").
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

PHASH_ROWS = 8  # grid rows (8 rows x 8 comparisons = 64 hash bits)
PHASH_COLS = 9  # 9 columns -> 8 horizontal comparisons per row
PHASH_BANDS = 4  # 16-bit bands; Hamming <= 3 guarantees a shared band
PHASH_HAM_MAX = 6  # exact-verify threshold on the full 64-bit distance
NEARDUP_DECADE = 10  # doc_ids ending in 8/9 are noisy copies of the
#                      decade leader (doc_id - doc_id % 10)

HASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
    ]
)


BatchFn = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


@dataclass(frozen=True)
class Modality:
    """One media fingerprint family: `encoder(wrap_base)` turns doc_ids
    into fixture payloads, `fingerprinter()` turns payloads into `schema`
    rows (doc_id first, then the family's columns ending in 4 16-bit
    bands b0..b3), verified within Hamming distance `ham_max`."""

    name: str
    encoder: Callable[[int | None], BatchFn]
    fingerprinter: Callable[[], BatchFn]
    schema: StructType
    ham_max: int

    def stage(self, wrap_base: int | None) -> BatchFn:
        """Encoder feeding fingerprinter inside one Python worker, so the
        payload bytes never enter the JVM (a two-stage chain of
        MapInPandas nodes measured ~0.4 s per evaluation on a 125-doc
        micro-batch of pure boundary cost)."""
        enc = self.encoder(wrap_base)
        fp = self.fingerprinter()

        def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            yield from fp(enc(batches))

        return _fused

    def fingerprints(
        self, docs: DataFrame, wrap_base: int | None = None
    ) -> DataFrame:
        """`schema` rows for every document, in one Python crossing."""
        return fan_out(docs.select("doc_id")).mapInPandas(
            self.stage(wrap_base), schema=self.schema
        )


def _image_encoder(wrap_base: int | None):
    """Batch generator (doc_id) -> (doc_id, payload): one real raster file
    per document — BMP (stored bottom-up, per the spec) for even doc_ids,
    PPM for odd — whose LOGICAL top-down pixels are pure integer functions
    of doc_id:

        base   = doc_id - doc_id % 10  if doc_id % 10 >= 8 else doc_id
        w      = base % 7 + 12             h = (base * 3) % 7 + 12
        v[k]   = (x*(base%11 + 2) + y*y*(base%5 + 3) + base*97
                  + k*(base%13 + 1)) % 256          (k = (y*w + x)*3 + ch)
        copies (doc_id % 10 in {8, 9}) add (doc_id*(k+3)) % 5, mod 256

    With `wrap_base`, a copy's leader is taken MOD wrap_base — so copies
    ABOVE the wrap reference images BELOW it (the cross-split planting the
    streaming ingest gate needs: batch images that near-duplicate standing
    corpus images).

    The x/y gradient terms give every base image a distinct texture (so
    unrelated images rarely collide in a hash band) while the mod-5
    perturbation leaves copies within a few Hamming bits of their leader.
    Because the BMP rows are reversed at encode time, a decoder that
    forgets the bottom-up flip hashes a vertically-mirrored image and
    diverges from the oracle — the positional honesty device.
    `dhash_neardup_images` runs it with the hasher in one Python
    crossing."""
    import numpy as _np

    from clinical_search_data_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                is_copy = doc_id % NEARDUP_DECADE >= 8
                base = doc_id - doc_id % NEARDUP_DECADE if is_copy else doc_id
                # wrap_base=0 (an EMPTY standing corpus at cold start) has
                # nothing below the split to reference — fall through to
                # the doc's own decade leader instead of dividing by zero
                if is_copy and wrap_base:
                    base %= wrap_base
                w = base % 7 + 12
                h = (base * 3) % 7 + 12
                k = _np.arange(w * h * 3, dtype=_np.int64)
                p = k // 3
                y, x = p // w, p % w
                v = (
                    x * (base % 11 + 2)
                    + y * y * (base % 5 + 3)
                    + base * 97
                    + k * (base % 13 + 1)
                ) % 256
                if is_copy:
                    v = (v + (doc_id * (k + 3)) % 5) % 256
                pix = v.astype(_np.uint8)
                if doc_id % 2 == 0:
                    # store bottom-up: reverse logical rows before encoding
                    flipped = pix.reshape(h, w * 3)[::-1].tobytes()
                    payloads.append(encode_bmp(w, h, flipped))
                else:
                    payloads.append(encode_ppm(w, h, pix.tobytes()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _encode


def dhash_neardup_images(
    docs: DataFrame, wrap_base: int | None = None
) -> DataFrame:
    """(doc_id, fmt, width, height, b0..b3) — each document's fixture
    image (`_image_encoder`) dHashed (`_image_hasher`) in ONE Python
    crossing (`Modality.fingerprints`)."""
    return IMAGE.fingerprints(docs, wrap_base)


def _image_hasher():
    """Batch generator (doc_id, payload) -> HASH_SCHEMA rows: dHash over
    real image bytes — decode to logical pixels (`decode_pixel_rows`),
    average-pool the per-pixel channel sums to a PHASH_ROWS x PHASH_COLS
    integer grid, compare horizontally-adjacent cells with the integer
    cross-product form (no float averages — both engines agree
    bit-for-bit), pack the 64 bits into PHASH_BANDS 16-bit band values."""
    import numpy as _np

    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_pixel_rows,
    )

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows_per_band = PHASH_ROWS // PHASH_BANDS
        bits_per_band = rows_per_band * (PHASH_COLS - 1)
        pw = 1 << _np.arange(bits_per_band, dtype=_np.int64)
        for pdf in batches:
            n_docs = len(pdf)
            fmts: list[str] = []
            dims = _np.zeros((n_docs, 2), dtype=_np.int32)
            grid_s = _np.zeros((n_docs, PHASH_ROWS, PHASH_COLS), dtype=_np.int64)
            grid_n = _np.zeros((n_docs, PHASH_ROWS, PHASH_COLS), dtype=_np.int64)
            for i, payload in enumerate(pdf["payload"]):
                fmt, w, h, _maxval, rows = decode_pixel_rows(bytes(payload))
                gray = (
                    rows.astype(_np.int64).reshape(h, w, 3).sum(axis=2)
                )  # per-pixel channel sum (3x the mean; comparisons only)
                ys = _np.arange(h) * PHASH_ROWS // h
                xs = _np.arange(w) * PHASH_COLS // w
                # bincount over the flattened (row, col) key — same sums
                # as the add.at form, less per-call overhead (§4.2); the
                # float64 round-trip is exact (per-cell sums << 2^53)
                key = (ys[:, None] * PHASH_COLS + xs[None, :]).ravel()
                grid_s[i] = (
                    _np.bincount(
                        key,
                        weights=gray.ravel(),
                        minlength=PHASH_ROWS * PHASH_COLS,
                    )
                    .astype(_np.int64)
                    .reshape(PHASH_ROWS, PHASH_COLS)
                )
                grid_n[i] = 3 * _np.bincount(
                    key, minlength=PHASH_ROWS * PHASH_COLS
                ).astype(_np.int64).reshape(PHASH_ROWS, PHASH_COLS)
                fmts.append(fmt)
                dims[i] = (w, h)
            # integer cross-product comparison + band packing across the
            # whole batch; bit layout identical to the per-doc loop
            # (bit index rr * (PHASH_COLS - 1) + c within each band)
            bits = (
                grid_s[:, :, :-1] * grid_n[:, :, 1:]
                > grid_s[:, :, 1:] * grid_n[:, :, :-1]
            )
            bands = (
                bits.reshape(n_docs, PHASH_BANDS, bits_per_band).astype(_np.int64)
                @ pw
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": fmts,
                    "width": pd.Series(dims[:, 0], dtype="int32"),
                    "height": pd.Series(dims[:, 1], dtype="int32"),
                    **{
                        f"b{b}": pd.Series(
                            bands[:, b].astype(_np.int32), dtype="int32"
                        )
                        for b in range(PHASH_BANDS)
                    },
                }
            )

    return _hash


IMAGE = Modality(
    "image", _image_encoder, _image_hasher, HASH_SCHEMA, PHASH_HAM_MAX
)


def image_neardup_pairs(
    hashes: DataFrame, ham_max: int = PHASH_HAM_MAX
) -> DataFrame:
    """(doc_a, doc_b, hamming): banded-LSH candidate generation + exact
    Hamming verify, all declarative. Candidates come from a self-equi-join
    on (band_idx, band_val) — a pair within Hamming distance
    PHASH_BANDS - 1 always shares a band; farther pairs are found with the
    usual LSH recall. The verify joins the pair list back to the hash
    relation twice (pair-keyed shuffle equi-joins; the hash relation is
    doc-count-sized and narrow) and filters on built-in bit_count."""
    # The hash relation feeds FOUR plan branches (both sides of the band
    # self-join + both sides of the verify join); without a cut, the
    # Arrow encode->decode->hash stage re-executes per branch. The
    # relation is doc-count-sized and 8 columns wide, so materialize it
    # once (same device as components.connected_components edges; at
    # 100 TB use checkpoint() to reliable storage).
    hashes = hashes.localCheckpoint()
    long = hashes.selectExpr(
        "doc_id",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)",
    )
    cand = (
        long.alias("a")
        .join(
            long.alias("b"),
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{b}").alias(f"a{b}") for b in range(PHASH_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{b}").alias(f"c{b}") for b in range(PHASH_BANDS)],
    )
    ham = " + ".join(f"bit_count(a{b} ^ c{b})" for b in range(PHASH_BANDS))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(ham).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_max)
    )


# DuckDB twin of the synthetic image + dHash arithmetic: recompute logical
# pixels from doc_id, pool to the grid, compare cells, pack band values.
# `wrap_base` mirrors _image_encoder: with it, copies reference the
# leader MOD wrap_base (planting cross-split duplicates for the ingest
# gate); without it, the leader of the doc's own decade.
def duck_phash_cte(wrap_base: int | None = None) -> str:
    leader = f"doc_id - doc_id % {NEARDUP_DECADE}"
    if wrap_base is not None:
        leader = f"({leader}) % {wrap_base}"
    return f"""
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {NEARDUP_DECADE} >= 8
              THEN {leader} ELSE doc_id END AS base,
         doc_id % {NEARDUP_DECADE} >= 8 AS is_copy
  FROM documents
),
dim AS (
  SELECT doc_id, base, is_copy,
         base % 7 + 12 AS w, (base * 3) % 7 + 12 AS h
  FROM d
),
px AS (
  SELECT doc_id, w, h, y, x,
         (x * (base % 11 + 2) + y * y * (base % 5 + 3)
          + base * 97 + k * (base % 13 + 1)
          + CASE WHEN is_copy THEN (doc_id * (k + 3)) % 5 ELSE 0 END) % 256 AS v
  FROM (
    SELECT doc_id, base, is_copy, w, h, k,
           (k // 3) // w AS y, (k // 3) % w AS x
    FROM dim, unnest(range(0, w * h * 3)) AS t(k)
  )
),
cells AS (
  SELECT doc_id, (y * {PHASH_ROWS}) // h AS r, (x * {PHASH_COLS}) // w AS c,
         sum(v) AS s, count(*) AS n
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT a.doc_id, a.r, a.c,
         CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
  FROM cells a
  JOIN cells b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < {PHASH_COLS - 1}
),
bands AS (
  SELECT doc_id, r // 2 AS band_idx,
         CAST(sum(bit * (1 << ((r % 2) * {PHASH_COLS - 1} + c))) AS INT)
           AS band_val
  FROM bits GROUP BY 1, 2
)"""


_DUCK_PHASH_CTE = duck_phash_cte()


@register(
    "q_image_hashes",
    oracle=f"""
WITH {_DUCK_PHASH_CTE}
SELECT dim.doc_id,
       CASE WHEN dim.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
       CAST(dim.w AS INT) AS width, CAST(dim.h AS INT) AS height,
       max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
       max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
       max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
       max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
FROM dim JOIN bands ON dim.doc_id = bands.doc_id
GROUP BY 1, 2, 3, 4
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash fingerprints over real decoded raster bytes: the Spark side
    parses PPM/BMP (including the BMP bottom-up flip) and pools pixels to
    64 comparison bits; the oracle recomputes every bit arithmetically
    from doc_id. A header-parse, stride, orientation, or pooling bug
    flips band values."""
    docs = read_table(spark, sf_dir, "documents")
    return dhash_neardup_images(docs)


@register(
    "q_image_neardup",
    oracle=f"""
WITH {_DUCK_PHASH_CTE},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
ham AS (
  SELECT p.doc_a, p.doc_b,
         CAST(count(*) FILTER (WHERE ba.bit != bb.bit) AS BIGINT) AS hamming
  FROM pairs p
  JOIN bits ba ON ba.doc_id = p.doc_a
  JOIN bits bb ON bb.doc_id = p.doc_b AND bb.r = ba.r AND bb.c = ba.c
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {PHASH_HAM_MAX}
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: dHash over real decoded pixels, banded
    Hamming LSH candidates, exact bit_count verify — the multimodal
    counterpart of SimHash text dedup. Planted decade copies (doc_ids
    ending 8/9) must surface; the oracle reruns the identical banding, so
    recall behavior is pinned, not just precision."""
    docs = read_table(spark, sf_dir, "documents")
    return image_neardup_pairs(dhash_neardup_images(docs))


@register(
    "q_image_dedup_apply",
    oracle=f"""
WITH {_DUCK_PHASH_CTE},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
ham AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN bits ba ON ba.doc_id = p.doc_a
  JOIN bits bb ON bb.doc_id = p.doc_b AND bb.r = ba.r AND bb.c = ba.c
  GROUP BY 1, 2
  HAVING count(*) FILTER (WHERE ba.bit != bb.bit) <= {PHASH_HAM_MAX}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM ham
  UNION ALL SELECT doc_b, doc_a FROM ham
),
reach AS (
  WITH RECURSIVE r(node, label) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.label FROM r JOIN edges e ON e.b = r.node
  )
  SELECT node, label FROM r
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
SELECT d.doc_id,
       CASE WHEN c.node IS NULL THEN 'unique' ELSE 'dup_survivor' END AS status
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
WHERE c.node IS NULL OR c.node = c.component
""",
    tags=("multimodal", "dedup", "graph", "pipeline", "northstar", "pandas-udf"),
)
def q_image_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applied image dedup — the corpus a multimodal trainer would consume:
    dHash near-dup pairs -> connected components -> one survivor (min
    doc_id) per perceptual cluster plus all untouched images. The
    multimodal twin of q_doc_dedup_apply, riding the same two-phase
    component machinery."""
    from clinical_search_data_pipeline_spark.operators.components import (
        connected_components,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = image_neardup_pairs(dhash_neardup_images(docs)).select(
        "doc_a", "doc_b"
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    status = F.when(F.col("node").isNull(), "unique").otherwise("dup_survivor")
    return (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .filter(F.col("node").isNull() | (F.col("node") == F.col("component")))
        .select("doc_id", status.alias("status"))
    )


# The band layout every media screen joins on: the corpus side's bands
# as a0..a3, the batch side's as c0..c3, one (band_idx, band_val) row per
# band, and the exact Hamming distance between the two 64-bit hashes.
_A_COLS = [f"b{b} AS a{b}" for b in range(PHASH_BANDS)]
_STACK = "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)"
_HAM = " + ".join(f"bit_count(a{b} ^ c{b})" for b in range(PHASH_BANDS))


def image_vs_corpus(
    corpus_hashes: DataFrame,
    batch_hashes: DataFrame,
    ham_max: int = PHASH_HAM_MAX,
    dup_status: str = "dup_image",
    batch_docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_corpus_matches, status) for each batch image screened
    against a FROZEN corpus hash index — the perceptual twin of
    curation.batch_vs_corpus. Candidates come from a band equi-join of the
    batch's bands against the corpus index (never batch x corpus); verify
    is the usual bit_count filter; every batch doc gets a row (zero
    matches -> 'admitted'). A verdict depends on one image + the frozen
    index, so micro-batch boundaries cannot change any row.

    Shape (r14, guide §2.4): ONE equi-join. Both band projections carry
    their side's full hash columns, so the Hamming verify is a per-row
    filter on the joined bands and the per-doc count is
    `count(DISTINCT doc_a)` (a pair sharing several bands counts once —
    exactly the former distinct-pairs-then-verify result). The previous
    form referenced `batch_hashes` three times (bands, verify, universe) —
    forcing callers to localCheckpoint the batch decode+hash as its own
    job per micro-batch; now the hash relation stays lazy inside the
    verdict action. ``batch_docs`` supplies the all-docs universe
    projection (plain doc_ids, no decode) for the final left join; with it
    the hash relation is consumed exactly once. Without it the universe
    defaults to `batch_hashes.select("doc_id")`, which re-reads the hash
    relation: the decode+hash lineage then runs twice per action.

    Modality-agnostic (like image_neardup_pairs): any 4x16-bit-band hash
    frame works, with `dup_status` e.g. 'dup_audio'/'dup_video'. The
    admission path screens every modality at once (`media_vs_corpus`)."""
    universe = (
        batch_docs if batch_docs is not None else batch_hashes
    ).select("doc_id")
    b_long = batch_hashes.selectExpr(
        "'m' AS modality",
        "doc_id AS doc_b",
        *[f"b{b} AS c{b}" for b in range(PHASH_BANDS)],
        _STACK,
    )
    return _band_matches(
        b_long, _corpus_bands(corpus_hashes, "m", ham_max), universe,
        {"m": dup_status},
    ).select(
        "doc_id",
        F.col("n_m_matches").alias("n_corpus_matches"),
        F.col("m_status").alias("status"),
    )


def _corpus_bands(hashes: DataFrame, modality: str, ham_max: int) -> DataFrame:
    """A frozen fingerprint index as (modality, ham_max, doc_a, a0..a3,
    band_idx, band_val) rows, one per band."""
    return hashes.selectExpr(
        f"'{modality}' AS modality",
        f"{ham_max} AS ham_max",
        "doc_id AS doc_a",
        *_A_COLS,
        _STACK,
    )


def _band_matches(
    batch_bands: DataFrame,
    corpus_bands: DataFrame,
    universe: DataFrame,
    dup_status: Mapping[str, str],
) -> DataFrame:
    """(doc_id, n_<m>_matches, <m>_status for each modality m in
    `dup_status`) for every doc_id of `universe`: ONE equi-join of the
    batch's band rows (modality, doc_b, c0..c3, band_idx, band_val) with
    `_corpus_bands` rows on (modality, band_idx, band_val), the Hamming
    verify as a per-row filter under each modality's bound, and
    `countDistinct` corpus matches per modality (a pair sharing several
    bands counts once). Zero matches -> 'admitted', else dup_status[m]."""
    per_doc = (
        batch_bands.join(corpus_bands, ["modality", "band_idx", "band_val"])
        .filter(F.expr(_HAM) <= F.col("ham_max"))
        .groupBy("doc_b")
        .agg(
            *[
                F.countDistinct(
                    F.when(F.col("modality") == m, F.col("doc_a"))
                ).alias(f"n_{m}_matches")
                for m in dup_status
            ]
        )
    )
    cols = []
    for m, dup in dup_status.items():
        n = F.coalesce(f"n_{m}_matches", F.lit(0))
        cols += [
            n.alias(f"n_{m}_matches"),
            F.when(n > 0, dup).otherwise("admitted").alias(f"{m}_status"),
        ]
    return universe.join(
        per_doc, universe["doc_id"] == per_doc["doc_b"], "left"
    ).select("doc_id", *cols)


# -- the media pass: every modality's fingerprints in one Python crossing --

MEDIA = ("image", "audio", "video")


def media_modalities() -> dict[str, Modality]:
    """{name: Modality} for the image/audio/video fingerprint families
    (imported here: audiofp and videofp import this module)."""
    from clinical_search_data_pipeline_spark.operators.audiofp import AUDIO
    from clinical_search_data_pipeline_spark.operators.videofp import VIDEO

    return {m.name: m for m in (IMAGE, AUDIO, VIDEO)}


def media_fingerprints(
    docs: DataFrame,
    modalities: tuple[str, ...] = MEDIA,
    wrap_base: int | None = None,
) -> DataFrame:
    """(doc_id, <modality>_<column> ...): every listed modality's
    fingerprint columns for each document from ONE fan_out and ONE
    mapInPandas — each Arrow batch runs through every modality's own
    encoder→fingerprinter stage (`Modality.stage`) inside the same Python
    worker. A stage whose rows do not line up with the batch's doc_ids
    fails the task instead of pairing one document's columns with
    another's. `media_index` projects one modality's frame back out."""
    import numpy as _np

    specs = media_modalities()
    stages = [(m, specs[m].stage(wrap_base)) for m in modalities]
    schema = StructType(
        [StructField("doc_id", LongType())]
        + [
            StructField(f"{m}_{f.name}", f.dataType, f.nullable)
            for m in modalities
            for f in specs[m].schema.fields[1:]
        ]
    )

    def _media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            cols = {"doc_id": doc_ids}
            for m, stage in stages:
                fp = pd.concat(list(stage(iter([pdf]))), ignore_index=True)
                if not _np.array_equal(fp["doc_id"].to_numpy(), doc_ids):
                    raise ValueError(
                        f"{m} fingerprint rows do not line up with their "
                        "batch's doc_ids"
                    )
                cols.update(
                    {f"{m}_{c}": fp[c].to_numpy() for c in fp.columns[1:]}
                )
            yield pd.DataFrame(cols)

    return fan_out(docs.select("doc_id")).mapInPandas(_media, schema=schema)


def media_index(fingerprints: DataFrame, modality: str) -> DataFrame:
    """One modality's fingerprint frame (its own schema, e.g. HASH_SCHEMA
    for images) projected out of a `media_fingerprints` frame."""
    fields = media_modalities()[modality].schema.fields[1:]
    return fingerprints.select(
        "doc_id", *[F.col(f"{modality}_{f.name}").alias(f.name) for f in fields]
    )


def media_vs_corpus(
    corpus: Mapping[str, DataFrame],
    batch: DataFrame,
    wrap_base: int | None = None,
) -> DataFrame:
    """(doc_id, n_<m>_matches, <m>_status for each modality m in
    `corpus`): `image_vs_corpus` for every modality at once. `corpus`
    maps each screened modality to its frozen fingerprint index; the
    batch is fingerprinted by ONE `media_fingerprints` crossing, unpivoted
    to (modality, band) rows by one stack and screened by ONE
    `_band_matches` join over every modality; every batch doc gets a row.
    Each modality's columns equal its own `image_vs_corpus` verdict."""
    mods = tuple(corpus)
    specs = media_modalities()
    c_long = reduce(
        DataFrame.unionByName,
        [_corpus_bands(corpus[m], m, specs[m].ham_max) for m in mods],
    )
    rows = ", ".join(
        f"'{m}', {b}, {m}_b{b}, "
        + ", ".join(f"{m}_b{i}" for i in range(PHASH_BANDS))
        for m in mods
        for b in range(PHASH_BANDS)
    )
    cs = ", ".join(f"c{b}" for b in range(PHASH_BANDS))
    b_long = media_fingerprints(batch, mods, wrap_base).selectExpr(
        "doc_id AS doc_b",
        f"stack({PHASH_BANDS * len(mods)}, {rows}) "
        f"AS (modality, band_idx, band_val, {cs})",
    )
    return _band_matches(
        b_long, c_long, batch.select("doc_id"), {m: f"dup_{m}" for m in mods}
    )
