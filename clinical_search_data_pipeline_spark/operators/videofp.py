"""Video temporal-fingerprint near-duplicate detection.

The video cell of the modality x dedup matrix — with it, all three opaque
modalities (image/audio/video) have a real decoded-content near-dup path.
Video near-dup systems fingerprint the TEMPORAL structure of a clip: a
re-encoded or lightly-noised copy keeps the same activity profile over
time even when pixel bytes differ. The classic construction (the ordinal/
temporal-signature family, Hampapur & Bolle 2001) thresholds the sign of
per-frame intensity differences; this module implements exactly that —
one bit per consecutive-frame luma-energy comparison over the FIRST
FP_BITS+1 frames (a prefix signature, so clips of different lengths stay
comparable) — which keeps every step integer arithmetic, so the DuckDB
oracle recomputes each bit from doc_id first principles.

Decode is REAL: `multimodal.decode_y4m_frame_sums` parses the tag-soup
YUV4MPEG2 stream header and walks FRAME sections (odd frame indexes carry
marker parameters), summing each luma plane separately. Downstream reuses
the modality-agnostic banded-Hamming machinery from `operators/phash.py`
— 4x16-bit bands, banded equi-join candidates, exact bit_count verify.

Determinism device: frames are integer functions of doc_id with
base-dependent quadratic + frame-pixel cross terms (distinct temporal
profiles per base clip), and docs whose doc_id ends in 8/9 carry their
decade leader's clip plus small per-pixel noise (mod 3) — the planted
near-duplicates. Frames within a clip share dimensions, so the energy
comparison needs no cross products.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from clinical_search_data_pipeline_spark.operators.phash import (
    PHASH_HAM_MAX,
    Modality,
    image_neardup_pairs as banded_hamming_pairs,  # modality-agnostic
)
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import read_table

FP_BITS = 64  # consecutive-frame comparisons -> 4 x 16-bit bands
VF_HAM_MAX = PHASH_HAM_MAX

VIDEO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("fps_num", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
    ]
)


def _video_encoder(wrap_base: int | None):
    """Batch generator (doc_id) -> (doc_id, payload): one real Y4M clip
    per document whose luma planes are pure integer functions of doc_id:

        base = doc_id - doc_id % 10  if doc_id % 10 >= 8 else doc_id
        w = (base%4 + 2)*2    h = (base%3 + 2)*2    fps = base%30 + 1
        n_frames   = base % 16 + 65          (>= FP_BITS + 1)
        luma[f][k] = (base*53 + f*f*(base%7 + 3) + f*(base%17 + 5)
                      + k*k*(base%11 + 2) + f*k*(base%13 + 1)) % 256
        copies add (doc_id*(f + k + 3)) % 3, mod 256

    With `wrap_base`, a copy's leader is taken MOD wrap_base — cross-split
    planted duplicates for the streaming admission gate, mirroring
    phash._image_encoder. The f*k cross term gives every base clip
    a distinct temporal energy profile; odd frame indexes carry marker
    parameters so the decode path stays the parameter-tolerant FRAME
    walker. `video_neardup_fingerprints` runs it with the fingerprinter in
    one Python crossing."""
    import numpy as _np

    from clinical_search_data_pipeline_spark.operators.multimodal import encode_y4m

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                is_copy = d % 10 >= 8
                base = d - d % 10 if is_copy else d
                # wrap_base=0 (empty standing corpus at cold start): keep
                # the in-batch leader, same convention as the image family
                if is_copy and wrap_base:
                    base %= wrap_base
                w = (base % 4 + 2) * 2
                h = (base % 3 + 2) * 2
                n = base % 16 + 65
                # whole clip as ONE (n_frames, w*h) int64 broadcast — the
                # per-frame Python loop was ~n small numpy calls per doc
                # (guide §4.2); arithmetic is unchanged term for term
                k = _np.arange(w * h, dtype=_np.int64)
                fcol = _np.arange(n, dtype=_np.int64)[:, None]
                v = (
                    base * 53
                    + fcol * fcol * (base % 7 + 3)
                    + fcol * (base % 17 + 5)
                    + k * k * (base % 11 + 2)
                    + fcol * k * (base % 13 + 1)
                ) % 256
                if is_copy:
                    v = (v + (d * (fcol + k + 3)) % 3) % 256
                u = v.astype(_np.uint8)
                payloads.append(
                    encode_y4m(
                        w, h, base % 30 + 1, [u[f].tobytes() for f in range(n)]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _encode


def video_neardup_fingerprints(
    docs: DataFrame, wrap_base: int | None = None
) -> DataFrame:
    """(doc_id, width, height, fps_num, n_frames, b0..b3) — each
    document's fixture clip (`_video_encoder`) fingerprinted
    (`_video_fingerprinter`) in ONE Python crossing
    (`phash.Modality.fingerprints`)."""
    return VIDEO.fingerprints(docs, wrap_base)


def _video_fingerprinter():
    """Batch generator (doc_id, payload) -> VIDEO_FP_SCHEMA rows: temporal
    fingerprinting over real Y4M bytes — walk the container
    (`decode_y4m_frame_sums`), take the per-frame luma-energy sequence,
    emit one sign bit per consecutive-frame comparison over the first
    FP_BITS+1 frames, pack into 4 16-bit bands."""
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_y4m_frame_sums,
    )

    import numpy as _np

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pw = 1 << _np.arange(16, dtype=_np.int64)
        for pdf in batches:
            n_docs = len(pdf)
            meta = _np.zeros((n_docs, 4), dtype=_np.int32)  # w, h, fps, n
            prefix = _np.zeros((n_docs, FP_BITS + 1), dtype=_np.int64)
            for i, payload in enumerate(pdf["payload"]):
                w, h, fps, sums = decode_y4m_frame_sums(bytes(payload))
                if len(sums) < FP_BITS + 1:
                    raise ValueError(
                        f"clip too short for a {FP_BITS}-bit prefix "
                        f"signature: {len(sums)} frames"
                    )
                meta[i] = (w, h, fps, len(sums))
                prefix[i] = sums[: FP_BITS + 1]
            # sign bits + band packing vectorized across the batch (§4.2);
            # comparison and weights identical to the per-doc form
            bits = prefix[:, :-1] > prefix[:, 1:]
            bands = bits.reshape(n_docs, 4, 16).astype(_np.int64) @ pw
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(meta[:, 0], dtype="int32"),
                    "height": pd.Series(meta[:, 1], dtype="int32"),
                    "fps_num": pd.Series(meta[:, 2], dtype="int32"),
                    "n_frames": pd.Series(meta[:, 3], dtype="int32"),
                    **{
                        f"b{b}": pd.Series(
                            bands[:, b].astype(_np.int32), dtype="int32"
                        )
                        for b in range(4)
                    },
                }
            )

    return _fp


VIDEO = Modality(
    "video", _video_encoder, _video_fingerprinter, VIDEO_FP_SCHEMA, VF_HAM_MAX
)


# DuckDB twin: per-frame luma energies, difference-sign bits, band values
# — all recomputed from doc_id arithmetic. `wrap_base` mirrors
# _video_encoder (cross-split duplicates for the ingest gate oracle).
def duck_video_fp_cte(wrap_base: int | None = None) -> str:
    leader = "doc_id - doc_id % 10"
    if wrap_base is not None:
        leader = f"({leader}) % {wrap_base}"
    return f"""
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 >= 8 THEN {leader}
              ELSE doc_id END AS base,
         doc_id % 10 >= 8 AS is_copy
  FROM documents
),
dim AS (
  SELECT doc_id, base, is_copy,
         (base % 4 + 2) * 2 AS w, (base % 3 + 2) * 2 AS h,
         base % 16 + 65 AS n, base % 30 + 1 AS fps
  FROM d
),
e AS (
  SELECT doc_id, f,
         sum((base * 53 + f * f * (base % 7 + 3) + f * (base % 17 + 5)
              + k * k * (base % 11 + 2) + f * k * (base % 13 + 1)
              + CASE WHEN is_copy THEN (doc_id * (f + k + 3)) % 3
                     ELSE 0 END) % 256) AS e
  FROM dim, unnest(range(0, n)) AS tf(f), unnest(range(0, w * h)) AS tk(k)
  GROUP BY 1, 2
),
bits AS (
  SELECT a.doc_id, a.f, CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < {FP_BITS}
),
bands AS (
  SELECT doc_id, f // 16 AS band_idx,
         CAST(sum(bit * (1 << (f % 16))) AS INT) AS band_val
  FROM bits GROUP BY 1, 2
)"""


_DUCK_VIDEO_FP_CTE = duck_video_fp_cte()


@register(
    "q_video_fingerprints",
    oracle=f"""
WITH {_DUCK_VIDEO_FP_CTE}
SELECT dim.doc_id,
       CAST(dim.w AS INT) AS width, CAST(dim.h AS INT) AS height,
       CAST(dim.fps AS INT) AS fps_num, CAST(dim.n AS INT) AS n_frames,
       max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
       max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
       max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
       max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
FROM dim JOIN bands ON dim.doc_id = bands.doc_id
GROUP BY 1, 2, 3, 4, 5
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_video_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal video fingerprints over real Y4M container bytes: the
    Spark side walks FRAME sections (odd frames carry marker parameters)
    and thresholds consecutive-frame luma-energy differences into 64
    sign bits; the oracle recomputes every bit arithmetically."""
    docs = read_table(spark, sf_dir, "documents")
    return video_neardup_fingerprints(docs)


@register(
    "q_video_neardup",
    oracle=f"""
WITH {_DUCK_VIDEO_FP_CTE},
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
  JOIN bits bb ON bb.doc_id = p.doc_b AND bb.f = ba.f
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {VF_HAM_MAX}
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs: temporal signatures through the same
    modality-agnostic banded-Hamming machinery as the image and audio
    families — planted decade copies (noise-perturbed leader clips) must
    surface."""
    docs = read_table(spark, sf_dir, "documents")
    return banded_hamming_pairs(
        video_neardup_fingerprints(docs), ham_max=VF_HAM_MAX
    )
