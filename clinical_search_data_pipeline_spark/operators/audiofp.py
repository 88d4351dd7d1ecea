"""Audio fingerprint near-duplicate detection (energy-difference hash).

The audio cell of the modality x dedup matrix: byte-level dedup misses
re-encoded or noise-perturbed copies of a recording, so audio pipelines
dedup on a robust FINGERPRINT of the decoded signal. The canonical
construction (Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprint
System") thresholds the sign of energy DIFFERENCES across consecutive
frames; this module implements the time-domain variant — frame the PCM
samples into FP_FRAMES windows, one bit per consecutive-frame energy
comparison — which keeps every step integer arithmetic, so the DuckDB
oracle recomputes each fingerprint bit from doc_id first principles (an
FFT filterbank would be strictly Python-side; the banding/verify shape
would be identical).

Decode is REAL: `multimodal.decode_wav_samples` walks RIFF chunks (odd
doc_ids carry a pre-fmt JUNK chunk) and reads 16-bit PCM back out of the
bytes. Everything downstream reuses the modality-agnostic banded-Hamming
machinery from `operators/phash.py`: 4x16-bit bands, banded equi-join
candidates, exact bit_count verify — the same 100 TB posture (candidate
fan-out bounded by band-bucket occupancy, never an all-pairs product).

Determinism device: samples are integer functions of doc_id with
base-dependent coefficients (so unrelated recordings rarely share a
band), and docs whose doc_id ends in 8/9 carry their decade leader's
signal plus small deterministic sample noise — the planted near-dups.
Frame energies compare via the integer cross-product form (no float
averages).

Reference parity: the reference has no audio pipeline; this extends the
dedup family along the published Haitsma-Kalker construction.
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

FP_FRAMES = 65  # 64 energy-difference bits -> 4 x 16-bit bands
FP_RATE = 8000
AF_HAM_MAX = PHASH_HAM_MAX  # same verify threshold as the image family

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
    ]
)


def _audio_encoder(wrap_base: int | None):
    """Batch generator (doc_id) -> (doc_id, payload): one real WAV per
    document whose samples are pure integer functions of doc_id:

        base = doc_id - doc_id % 10  if doc_id % 10 >= 8 else doc_id
        n    = base % 60 + 140
        s[k] = (base*2654435761 + k*k*(base%13 + 3) + k*(base%29 + 7)
                + (k % (base%11 + 5)) * 997) % 4096 - 2048
        copies add (doc_id*(k+5)) % 33 - 16  (small sample noise, no wrap)

    With `wrap_base`, a copy's leader is taken MOD wrap_base — so copies
    reference recordings BELOW the corpus/batch split (cross-split planted
    duplicates for the streaming admission gate), mirroring
    phash._image_encoder. The base-dependent quadratic/periodic
    coefficients give every base signal a distinct energy profile; odd
    doc_ids carry the pre-fmt JUNK chunk so the decode path stays the
    chunk-walking parser. `audio_neardup_fingerprints` runs it with the
    fingerprinter in one Python crossing."""
    import numpy as _np

    from clinical_search_data_pipeline_spark.operators.multimodal import encode_wav

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                is_copy = d % 10 >= 8
                base = d - d % 10 if is_copy else d
                # wrap_base=0 (an EMPTY standing corpus at cold start) has
                # nothing to reference — keep the in-batch leader
                if is_copy and wrap_base:
                    base %= wrap_base
                n = base % 60 + 140
                k = _np.arange(n, dtype=_np.int64)
                s = (
                    base * 2654435761
                    + k * k * (base % 13 + 3)
                    + k * (base % 29 + 7)
                    + (k % (base % 11 + 5)) * 997
                ) % 4096 - 2048
                if is_copy:
                    s = s + (d * (k + 5)) % 33 - 16
                # encode_wav packs numpy arrays vectorized (bounds-checked)
                payloads.append(encode_wav(FP_RATE, s, pad_chunk=bool(d % 2)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _encode


def audio_neardup_fingerprints(
    docs: DataFrame, wrap_base: int | None = None
) -> DataFrame:
    """(doc_id, sample_rate, n_samples, b0..b3) — each document's fixture
    WAV (`_audio_encoder`) fingerprinted (`_audio_fingerprinter`) in ONE
    Python crossing (`phash.Modality.fingerprints`)."""
    return AUDIO.fingerprints(docs, wrap_base)


def _audio_fingerprinter():
    """Batch generator (doc_id, payload) -> AUDIO_FP_SCHEMA rows:
    fingerprinting over real WAV bytes — chunk-walk decode
    (`decode_wav_array` — frombuffer, no per-sample Python ints), pool
    |sample| sums into FP_FRAMES frames, compare consecutive frames with
    the integer cross-product form, pack the 64 bits into 4 16-bit bands.

    Framing/bit extraction is vectorized across the WHOLE batch: per-doc
    work is only the header walk + one frombuffer; the
    frame energies come from two `bincount`s over a (doc, frame) key and
    the band values from one matmul against the bit-weight vector. Energy
    sums ride float64 through bincount — exact for |sum| < 2^53, and the
    per-frame |sample| sum is bounded far below that — then cast back to
    int64 so the cross-product comparison stays the integer arithmetic
    the oracle replays."""
    import numpy as _np

    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_wav_array,
    )

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pw = 1 << _np.arange(16, dtype=_np.int64)
        for pdf in batches:
            n_docs = len(pdf)
            rates = _np.zeros(n_docs, dtype=_np.int32)
            arrs = []
            for i, payload in enumerate(pdf["payload"]):
                rate, s = decode_wav_array(bytes(payload))
                rates[i] = rate
                arrs.append(s)
            lens = _np.fromiter(
                (len(a) for a in arrs), dtype=_np.int64, count=n_docs
            )
            total = int(lens.sum())
            if n_docs and total:
                amp = _np.abs(
                    _np.concatenate(arrs).astype(_np.int64)
                )
                rep_lens = _np.repeat(lens, lens)
                starts = _np.repeat(_np.cumsum(lens) - lens, lens)
                k = _np.arange(total, dtype=_np.int64) - starts
                f = k * FP_FRAMES // rep_lens
                doc_ix = _np.repeat(_np.arange(n_docs, dtype=_np.int64), lens)
                key = doc_ix * FP_FRAMES + f
                e = (
                    _np.bincount(key, weights=amp, minlength=n_docs * FP_FRAMES)
                    .astype(_np.int64)
                    .reshape(n_docs, FP_FRAMES)
                )
                c = (
                    _np.bincount(key, minlength=n_docs * FP_FRAMES)
                    .astype(_np.int64)
                    .reshape(n_docs, FP_FRAMES)
                )
            else:
                e = _np.zeros((n_docs, FP_FRAMES), dtype=_np.int64)
                c = _np.zeros((n_docs, FP_FRAMES), dtype=_np.int64)
            bits = e[:, :-1] * c[:, 1:] > e[:, 1:] * c[:, :-1]
            bands = bits.reshape(n_docs, 4, 16).astype(_np.int64) @ pw
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(lens, dtype="int64"),
                    **{
                        f"b{b}": pd.Series(
                            bands[:, b].astype(_np.int32), dtype="int32"
                        )
                        for b in range(4)
                    },
                }
            )

    return _fp


AUDIO = Modality(
    "audio", _audio_encoder, _audio_fingerprinter, AUDIO_FP_SCHEMA, AF_HAM_MAX
)


# DuckDB twin: recompute samples, frame energies, bits, band values from
# doc_id arithmetic (`f` is the frame index, `amp` the |sample| value).
# `wrap_base` mirrors _audio_encoder: with it, copies reference the
# leader MOD wrap_base (planting cross-split duplicates for the ingest
# gate oracle).
def duck_audio_fp_cte(wrap_base: int | None = None) -> str:
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
dim AS (SELECT doc_id, base, is_copy, base % 60 + 140 AS n FROM d),
s AS (
  SELECT doc_id, n, (k * {FP_FRAMES}) // n AS f,
         abs((base * 2654435761 + k * k * (base % 13 + 3)
              + k * (base % 29 + 7) + (k % (base % 11 + 5)) * 997) % 4096
             - 2048
             + CASE WHEN is_copy THEN (doc_id * (k + 5)) % 33 - 16
                    ELSE 0 END) AS amp
  FROM dim, unnest(range(0, n)) AS t(k)
),
fr AS (
  SELECT doc_id, f, sum(amp) AS e, count(*) AS c FROM s GROUP BY 1, 2
),
bits AS (
  SELECT a.doc_id, a.f,
         CASE WHEN a.e * b.c > b.e * a.c THEN 1 ELSE 0 END AS bit
  FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < {FP_FRAMES - 1}
),
bands AS (
  SELECT doc_id, f // 16 AS band_idx,
         CAST(sum(bit * (1 << (f % 16))) AS INT) AS band_val
  FROM bits GROUP BY 1, 2
)"""


_DUCK_AUDIO_FP_CTE = duck_audio_fp_cte()


@register(
    "q_audio_fingerprints",
    oracle=f"""
WITH {_DUCK_AUDIO_FP_CTE}
SELECT dim.doc_id,
       CAST({FP_RATE} AS INT) AS sample_rate,
       CAST(dim.n AS BIGINT) AS n_samples,
       max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
       max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
       max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
       max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
FROM dim JOIN bands ON dim.doc_id = bands.doc_id
GROUP BY 1, 2, 3
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haitsma-Kalker-style audio fingerprints over real RIFF/WAV bytes:
    the Spark side chunk-walks the container, reads PCM back, and pools
    frame energies into 64 difference-sign bits; the oracle recomputes
    every bit arithmetically from doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    return audio_neardup_fingerprints(docs)


@register(
    "q_audio_neardup",
    oracle=f"""
WITH {_DUCK_AUDIO_FP_CTE},
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
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {AF_HAM_MAX}
""",
    tags=("multimodal", "dedup", "northstar", "pandas-udf"),
)
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: energy-difference fingerprints through
    the SAME banded-Hamming machinery as the image family (4x16-bit band
    equi-join candidates, exact bit_count verify) — planted decade copies
    (noise-perturbed leader signals) must surface."""
    docs = read_table(spark, sf_dir, "documents")
    return banded_hamming_pairs(
        audio_neardup_fingerprints(docs), ham_max=AF_HAM_MAX
    )
