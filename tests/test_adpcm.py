"""IMA ADPCM codec tests (``operators/adpcm.py``, r13 — the first
compressed-audio family member behind the codec seam). Lossy by
design: correctness = exact container arithmetic, deterministic
encode/decode, bounded error envelope, honest seams."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.adpcm import (
    BLOCK_ALIGN,
    SAMPLES_PER_BLOCK,
    adpcm_payload_bytes,
    decode_wav_adpcm,
    encode_wav_adpcm,
)


def _synth_samples_tri(doc_id: int) -> np.ndarray:
    """Deterministic int16 TRIANGLE lattice: slope 528/sample with apex
    reversals — steep enough to drive the step-size adaptation through
    most of its table, closed-form in doc_id."""
    n = 64 + doc_id % 65
    i = np.arange(n, dtype=np.int64)
    tri = np.abs((doc_id * 7 + i * 33) % 4096 - 2048)
    return (tri * 16 - 16384).astype(np.int16)


class TestRoundTrip:
    @pytest.mark.parametrize("doc_id", [0, 1, 7, 64, 65, 66, 123, 1999])
    def test_bounded_error_and_exact_size(self, doc_id):
        s = _synth_samples_tri(doc_id)
        payload = encode_wav_adpcm(s)
        assert len(payload) == adpcm_payload_bytes(len(s))
        rate, out = decode_wav_adpcm(payload)
        assert rate == 8000
        assert len(out) == len(s)
        err = np.abs(out.astype(np.int64) - s.astype(np.int64))
        assert err.max() <= 2048
        assert err.mean() <= 192

    def test_deterministic(self):
        s = _synth_samples_tri(42)
        p1, p2 = encode_wav_adpcm(s), encode_wav_adpcm(s)
        assert p1 == p2
        assert np.array_equal(decode_wav_adpcm(p1)[1], decode_wav_adpcm(p1)[1])

    def test_gentle_signal_tracks_tightly(self):
        # slope-17 walk: the predictor tracks within a few codes
        i = np.arange(100, dtype=np.int64)
        s = (i * 17 - 850).astype(np.int16)
        _, out = decode_wav_adpcm(encode_wav_adpcm(s))
        assert np.abs(out.astype(np.int64) - s.astype(np.int64)).max() <= 32

    def test_first_sample_is_verbatim(self):
        # the block header carries sample 0 uncoded — zero error there
        for doc_id in (0, 3, 9):
            s = _synth_samples_tri(doc_id)
            _, out = decode_wav_adpcm(encode_wav_adpcm(s))
            assert int(out[0]) == int(s[0])

    def test_multi_block_boundary(self):
        # n > SAMPLES_PER_BLOCK exercises the block-2 header re-seed
        n = SAMPLES_PER_BLOCK + 10
        i = np.arange(n, dtype=np.int64)
        s = (np.abs((i * 33) % 4096 - 2048) * 16 - 16384).astype(np.int16)
        _, out = decode_wav_adpcm(encode_wav_adpcm(s))
        assert len(out) == n
        assert np.abs(out.astype(np.int64) - s.astype(np.int64)).max() <= 2048

    def test_compresses_below_pcm(self):
        for doc_id in range(30):
            s = _synth_samples_tri(doc_id)
            assert len(encode_wav_adpcm(s)) < 44 + 2 * len(s)


class TestContainerAndSeams:
    def test_container_structure(self):
        payload = encode_wav_adpcm(_synth_samples_tri(5))
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        idx = payload.find(b"fmt ")
        fmt = struct.unpack("<HHIIHHHH", payload[idx + 8 : idx + 28])
        assert fmt[0] == 0x0011  # IMA ADPCM tag
        assert fmt[4] == BLOCK_ALIGN
        assert fmt[5] == 4  # bits per sample
        assert fmt[7] == SAMPLES_PER_BLOCK
        assert b"fact" in payload

    def test_pcm_tag_refused_by_adpcm_decoder(self):
        payload = bytearray(encode_wav_adpcm(_synth_samples_tri(3)))
        # format tag sits at RIFF(12) + 'fmt '+len(8) = offset 20
        struct.pack_into("<H", payload, 20, 1)  # WAVE_FORMAT_PCM
        with pytest.raises(NotImplementedError, match="not IMA ADPCM"):
            decode_wav_adpcm(bytes(payload))

    def test_missing_fact_chunk_raises(self):
        payload = bytearray(encode_wav_adpcm(_synth_samples_tri(3)))
        idx = bytes(payload).find(b"fact")
        payload[idx : idx + 4] = b"junk"
        with pytest.raises(ValueError, match="fact"):
            decode_wav_adpcm(bytes(payload))

    def test_out_of_range_step_index_raises(self):
        payload = bytearray(encode_wav_adpcm(_synth_samples_tri(3)))
        idx = bytes(payload).find(b"data")
        payload[idx + 8 + 2] = 120  # block header step index > 88
        with pytest.raises(ValueError, match="step index"):
            decode_wav_adpcm(bytes(payload))

    def test_truncated_block_raises(self):
        payload = encode_wav_adpcm(_synth_samples_tri(3))
        idx = payload.find(b"data")
        (dlen,) = struct.unpack("<I", payload[idx + 4 : idx + 8])
        cut = bytearray(payload[: idx + 8 + dlen - 5])
        cut[idx + 4 : idx + 8] = struct.pack("<I", dlen - 5)
        with pytest.raises(ValueError, match="truncated"):
            decode_wav_adpcm(bytes(cut))

    def test_spb_mismatch_raises(self):
        payload = bytearray(encode_wav_adpcm(_synth_samples_tri(3)))
        idx = bytes(payload).find(b"fmt ")
        payload[idx + 26 : idx + 28] = struct.pack("<H", 99)  # lie about spb
        with pytest.raises(ValueError, match="samples-per-block"):
            decode_wav_adpcm(bytes(payload))

    def test_fact_overclaim_raises(self):
        payload = bytearray(encode_wav_adpcm(_synth_samples_tri(3)))
        idx = bytes(payload).find(b"fact")
        payload[idx + 8 : idx + 12] = struct.pack("<I", 10_000)
        with pytest.raises(ValueError, match="more samples"):
            decode_wav_adpcm(bytes(payload))

    def test_encoder_input_validation(self):
        with pytest.raises(ValueError, match="int16"):
            encode_wav_adpcm(np.zeros(4, dtype=np.float32))
        with pytest.raises(ValueError, match="non-empty mono"):
            encode_wav_adpcm(np.zeros(0, dtype=np.int16))
