"""WAV codec tests: byte-level roundtrip, chunk-walking honesty, and the
Spark decode query shape. Oracle parity at fixture scale is covered by
tests/test_oracle_parity.py (q_media_audio)."""

from __future__ import annotations

import random

import pytest

from tests.conftest import SF_SMOKE, encoded_payloads

from clinical_search_data_pipeline_spark.operators.multimodal import (
    attach_synthetic_audio,
    decode_audio,
    decode_wav,
    encode_wav,
)


def test_wav_roundtrip_property():
    rng = random.Random(4242)
    for _ in range(50):
        n = rng.randint(0, 500)
        rate = rng.choice([8000, 16000, 44100, 48000])
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        pad = rng.random() < 0.5
        m = decode_wav(encode_wav(rate, samples, pad_chunk=pad))
        assert m["sample_rate"] == rate
        assert m["n_samples"] == n
        assert m["amp_sum"] == sum(abs(s) for s in samples)
        assert m["max_amp"] == (max(map(abs, samples)) if samples else 0)


def test_wav_junk_chunk_defeats_fixed_offset_readers():
    """With the JUNK chunk, byte 12 is NOT the fmt chunk — a canonical
    44-byte-header reader would misparse; the walking parser must not."""
    payload = encode_wav(8000, [1, -2, 3], pad_chunk=True)
    assert payload[12:16] == b"JUNK"
    assert decode_wav(payload)["n_samples"] == 3
    # odd-sized chunk bodies are word-aligned per RIFF; JUNK body is 6
    # bytes here, so also prove alignment with an odd body via raw splice
    import struct

    odd = (
        payload[:12]
        + b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded odd chunk
        + payload[12 + 8 + 6 :]
    )
    assert decode_wav(odd)["n_samples"] == 3


def test_wav_rejects_non_riff_and_unsupported():
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + b"\x00" * 40)
    import struct

    stereo_fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 8000, 32000, 4, 16)
    body = b"WAVE" + stereo_fmt + b"data" + struct.pack("<I", 0)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    with pytest.raises(ValueError):  # no data chunk
        fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        b2 = b"WAVE" + fmt
        decode_wav(b"RIFF" + struct.pack("<I", len(b2)) + b2)


def test_audio_decode_query_reads_bytes_not_metadata(spark):
    """End-to-end over Spark: values must come back out of the payload
    bytes — cross-checked against direct arithmetic on doc_id."""
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        adpcm_step,
    )

    docs = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    out = {r.doc_id: r for r in decode_audio(attach_synthetic_audio(docs)).collect()}
    for d in range(40):
        if d % 2:  # IMA ADPCM branch (r13): replay the state machine
            pred, idx = ((d * 31) % 4096) - 2048, d % 89
            samples = [pred]
            for k in range(d % 40 + 10):
                pred, idx = adpcm_step(pred, idx, (d * 13 + k * 7) % 16)
                samples.append(pred)
        else:  # PCM branch
            n = d % 50 + 20
            samples = [((d * 31 + k * 17) % 4096) - 2048 for k in range(n)]
        r = out[d]
        assert r.sample_rate == 8000 + (d % 4) * 4000
        assert r.n_samples == len(samples)
        assert r.amp_sum == sum(abs(s) for s in samples)
        assert r.max_amp == max(abs(s) for s in samples)


# ---------------------------------------------------------------------------
# Y4M video codec
# ---------------------------------------------------------------------------


def test_y4m_roundtrip_property():
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = random.Random(777)
    for _ in range(30):
        w = rng.randrange(2, 12, 2)
        h = rng.randrange(2, 10, 2)
        nf = rng.randint(0, 8)
        fps = rng.randint(1, 60)
        frames = [bytes(rng.randrange(256) for _ in range(w * h)) for _ in range(nf)]
        m = decode_y4m(encode_y4m(w, h, fps, frames))
        assert (m["width"], m["height"], m["fps_num"], m["n_frames"]) == (
            w, h, fps, nf,
        )
        assert m["luma_sum"] == sum(sum(f) for f in frames)


def test_y4m_frame_params_and_rejections():
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    # frame 1 carries marker params (encoder emits them on odd indexes) —
    # a bare-FRAME\n reader would treat ' Xcsdp' as pixel data
    payload = encode_y4m(4, 2, 25, [bytes(8), bytes(range(8))])
    assert b"FRAME Xcsdp\n" in payload
    assert decode_y4m(payload)["luma_sum"] == sum(range(8))
    with pytest.raises(ValueError):
        decode_y4m(b"MPEG4 W4 H2 F25:1\n")
    with pytest.raises(ValueError):  # unsupported colorspace
        decode_y4m(b"YUV4MPEG2 W4 H2 F25:1 C444\n")
    with pytest.raises(ValueError):  # truncated/garbage frame marker
        decode_y4m(b"YUV4MPEG2 W4 H2 F25:1 C420\nBOGUS\n" + bytes(12))


def test_video_decode_query_reads_bytes_not_metadata(spark):
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        attach_synthetic_video,
        decode_video,
    )

    docs = spark.createDataFrame([(i,) for i in range(30)], ["doc_id"])
    out = {r.doc_id: r for r in decode_video(attach_synthetic_video(docs)).collect()}
    for d in range(30):
        if d % 2:  # RIFF/AVI MJPEG branch (r13): flat-block JPEG frames
            w, h, nf = 8 * (d % 3 + 1), 8 * ((d * 7) % 2 + 1), d % 4 + 1
            nb = (w // 8) * (h // 8)
            expect = 64 * sum(
                (d + 11 * f + 17 * bi) % 256
                for f in range(nf)
                for bi in range(nb)
            )
        else:  # Y4M branch
            w, h, nf = (d % 5 + 2) * 2, (d % 3 + 2) * 2, d % 6 + 1
            expect = sum(
                (d + 7 * f + k) % 256 for f in range(nf) for k in range(w * h)
            )
        r = out[d]
        assert (r.width, r.height, r.fps_num, r.n_frames) == (
            w, h, d % 30 + 1, nf,
        )
        assert r.luma_sum == expect


# ---------------------------------------------------------------------------
# Energy-difference audio fingerprints (operators/audiofp.py)
# ---------------------------------------------------------------------------


def test_audio_fingerprint_matches_exact_fraction_reference(spark):
    """Independent reference: exact per-frame mean-energy comparison via
    Fractions must agree bit-for-bit with the operator's integer
    cross-product form, over the REAL encode->decode round trip."""
    from fractions import Fraction

    import numpy as np

    from clinical_search_data_pipeline_spark.operators.audiofp import (
        FP_FRAMES,
        _audio_encoder,
        audio_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents").limit(12)
    got = {
        r.doc_id: (r.sample_rate, r.n_samples, [r.b0, r.b1, r.b2, r.b3])
        for r in audio_neardup_fingerprints(docs).collect()
    }
    media = encoded_payloads(_audio_encoder(None), got)
    assert len(got) == 12
    for doc_id, payload in media.items():
        rate, samples = decode_wav_samples(payload)
        n = len(samples)
        frames: dict[int, list[int]] = {}
        for i, s in enumerate(samples):
            frames.setdefault(i * FP_FRAMES // n, []).append(abs(s))
        mean = {f: Fraction(sum(v), len(v)) for f, v in frames.items()}
        bands = []
        for b in range(4):
            val = 0
            for j in range(16):
                f = b * 16 + j
                if mean[f] > mean[f + 1]:
                    val |= 1 << j
            bands.append(val)
        assert got[doc_id] == (rate, n, bands), doc_id


def test_audio_planted_copies_surface(spark):
    """Decade copies (noise-perturbed leader signals) must surface within
    the Hamming<=3 pigeonhole guarantee; every reported pair must verify."""
    from clinical_search_data_pipeline_spark.operators.audiofp import AF_HAM_MAX
    from clinical_search_data_pipeline_spark.registry import all_specs

    specs = all_specs()
    fps = {
        r.doc_id: [r.b0, r.b1, r.b2, r.b3]
        for r in specs["q_audio_fingerprints"].builder(spark, SF_SMOKE).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in specs["q_audio_neardup"].builder(spark, SF_SMOKE).collect()
    }
    assert got, "no audio near-dups found"

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))

    for (a, b), h in got.items():
        assert h <= AF_HAM_MAX and h == ham(a, b)
    guaranteed = 0
    for dec in sorted({d - d % 10 for d in fps}):
        for pair in [(dec, dec + 8), (dec, dec + 9), (dec + 8, dec + 9)]:
            if pair[0] in fps and pair[1] in fps and ham(*pair) < 4:
                guaranteed += 1
                assert pair in got, (pair, ham(*pair))
    assert guaranteed > 0


# ---------------------------------------------------------------------------
# Temporal video fingerprints (operators/videofp.py)
# ---------------------------------------------------------------------------


def test_video_fingerprint_matches_frame_sum_reference(spark):
    """Independent reference: recompute per-frame luma sums straight from
    the decoded container walk and re-derive the sign bits — must agree
    with the operator over the REAL encode->decode round trip."""
    from clinical_search_data_pipeline_spark.operators.multimodal import (
        decode_y4m_frame_sums,
    )
    from clinical_search_data_pipeline_spark.operators.videofp import (
        FP_BITS,
        _video_encoder,
        video_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    docs = read_table(spark, SF_SMOKE, "documents").limit(12)
    got = {
        r.doc_id: (r.width, r.height, r.fps_num, r.n_frames, [r.b0, r.b1, r.b2, r.b3])
        for r in video_neardup_fingerprints(docs).collect()
    }
    media = encoded_payloads(_video_encoder(None), got)
    assert len(got) == 12
    for doc_id, payload in media.items():
        w, h, fps, sums = decode_y4m_frame_sums(payload)
        bits = [1 if sums[f] > sums[f + 1] else 0 for f in range(FP_BITS)]
        bands = [
            sum(bits[b * 16 + j] << j for j in range(16)) for b in range(4)
        ]
        assert got[doc_id] == (w, h, fps, len(sums), bands), doc_id


def test_video_planted_copies_surface(spark):
    """Decade copies (noise-perturbed leader clips) must surface within
    the Hamming<=3 pigeonhole guarantee; every reported pair verifies."""
    from clinical_search_data_pipeline_spark.operators.videofp import VF_HAM_MAX
    from clinical_search_data_pipeline_spark.registry import all_specs

    specs = all_specs()
    fps = {
        r.doc_id: [r.b0, r.b1, r.b2, r.b3]
        for r in specs["q_video_fingerprints"].builder(spark, SF_SMOKE).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in specs["q_video_neardup"].builder(spark, SF_SMOKE).collect()
    }
    assert got, "no video near-dups found"

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))

    for (a, b), h in got.items():
        assert h <= VF_HAM_MAX and h == ham(a, b)
    guaranteed = 0
    for dec in sorted({d - d % 10 for d in fps}):
        for pair in [(dec, dec + 8), (dec, dec + 9), (dec + 8, dec + 9)]:
            if pair[0] in fps and pair[1] in fps and ham(*pair) < 4:
                guaranteed += 1
                assert pair in got, (pair, ham(*pair))
    assert guaranteed > 0
