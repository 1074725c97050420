"""Baseline JPEG codec tests (``operators/jpeg.py``).

JPEG is lossy by design, so "correct" is defined as: container
structure a baseline decoder accepts, deterministic encode/decode,
dimension-exact round trips with a quality-dependent error envelope,
an independently-computed IDCT agreeing with the vectorized one, and
honest seams (unsupported variants raise ``NotImplementedError``,
corrupt payloads raise ``ValueError``).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
    _C,
    _ZZ,
    _BitWriter,
    _blocks,
    _build_huffman,
    _canonical_codes,
    _magnitude,
    _scaled_quant,
    _QUANT_LUMA,
    decode_jpeg,
    encode_jpeg,
)


def _smooth(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            xx * 255 // max(w - 1, 1),
            yy * 255 // max(h - 1, 1),
            (xx + yy) * 127 // max(h + w - 2, 1),
        ],
        axis=-1,
    ).astype(np.uint8)


def _synth_pixels_smooth(doc_id: int) -> np.ndarray:
    """Deterministic (H, W, 3) smooth-chroma image for the subsampled
    codecs: triangle waves (slope <= 2/px, no 255->0 wrap inside any
    2x2 window), because chroma subsampling is lossy exactly at chroma
    edges. All channels are closed-form integer lattices."""
    w = 16 + doc_id % 17
    h = 12 + doc_id % 13
    i = np.arange(w * h, dtype=np.int64)
    r = np.abs((doc_id + i) % 510 - 255)
    g = 255 - r
    b = np.abs((doc_id * 3 + 2 * i) % 510 - 255)
    return np.stack([r, g, b], axis=1).reshape(h, w, 3).astype(np.uint8)


class TestRoundTrip:
    @pytest.mark.parametrize("h,w", [(8, 8), (5, 4), (16, 24), (33, 17), (1, 1), (3, 11)])
    def test_smooth_images_bounded_error(self, h, w):
        img = _smooth(h, w)
        for q, bound in ((75, 20), (90, 12), (95, 8)):
            payload = encode_jpeg(img, quality=q)
            out = decode_jpeg(payload)
            assert out.shape == img.shape
            assert out.dtype == np.uint8
            err = np.abs(out.astype(int) - img.astype(int)).max()
            assert err <= bound, (h, w, q, err)

    def test_quality_monotonicity_on_error(self):
        img = _smooth(24, 32)
        errs = []
        for q in (50, 75, 90, 99):
            out = decode_jpeg(encode_jpeg(img, quality=q))
            errs.append(np.abs(out.astype(int) - img.astype(int)).mean())
        assert errs == sorted(errs, reverse=True) or errs[-1] <= errs[0]

    def test_deterministic(self):
        img = _smooth(13, 21)
        p1, p2 = encode_jpeg(img), encode_jpeg(img)
        assert p1 == p2
        assert np.array_equal(decode_jpeg(p1), decode_jpeg(p1))

    def test_random_images_survive(self):
        # noise is JPEG's worst case — no tight bound, but the pipeline
        # contract (dims, dtype, determinism) must hold on ANY input
        rng = np.random.default_rng(42)
        for _ in range(5):
            h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            out = decode_jpeg(encode_jpeg(img, quality=90))
            assert out.shape == img.shape
            # even for noise, quantization error is bounded well below
            # full-scale: the reconstruction is lossy, not garbage
            assert np.abs(out.astype(int) - img.astype(int)).max() < 128

    def test_solid_color_nearly_exact(self):
        for col in ((0, 0, 0), (255, 255, 255), (200, 30, 90)):
            img = np.tile(np.array(col, dtype=np.uint8), (10, 12, 1))
            out = decode_jpeg(encode_jpeg(img, quality=90))
            # a constant block is pure DC — error only from color-space
            # rounding, never more than a couple of codes
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


class TestIdctIndependence:
    def test_einsum_idct_matches_naive_reference(self):
        # decode-side IDCT is einsum against _C; re-derive one block
        # with the textbook quadruple loop (T.81 A.3.3) and compare
        rng = np.random.default_rng(3)
        coef = rng.integers(-200, 200, (8, 8)).astype(np.float64)
        fast = np.einsum("ji,jk,kl->il", _C, coef, _C)
        slow = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = np.sqrt(0.125) if u == 0 else 0.5
                        cv = np.sqrt(0.125) if v == 0 else 0.5
                        acc += (
                            cu * cv * coef[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                slow[x, y] = acc
        assert np.allclose(fast, slow, atol=1e-9)


class TestContainerAndSeams:
    def test_marker_structure(self):
        payload = encode_jpeg(_smooth(9, 9))
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        # walk the segments: APP0, 2x DQT, SOF0, 4x DHT, SOS must appear
        seen = []
        pos = 2
        while pos + 4 <= len(payload):
            marker = struct.unpack_from(">H", payload, pos)[0]
            seen.append(marker)
            if marker == 0xFFDA:
                break
            (length,) = struct.unpack_from(">H", payload, pos + 2)
            pos += 2 + length
        assert seen[0] == 0xFFE0
        assert seen.count(0xFFDB) == 2
        assert seen.count(0xFFC0) == 1
        assert seen.count(0xFFC4) == 4
        assert seen[-1] == 0xFFDA

    def test_not_a_jpeg_raises(self):
        with pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"nope")

    def test_truncated_scan_raises(self):
        payload = encode_jpeg(_smooth(16, 16))
        with pytest.raises(ValueError):
            decode_jpeg(payload[: len(payload) // 2])

    def test_baseline_scan_mislabeled_progressive_raises(self):
        # SOF2 is supported now (TestProgressive), but a BASELINE scan
        # relabeled progressive is malformed: its SOS says Ss=0, Se=63,
        # which a progressive DC scan forbids — refuse, don't misparse.
        payload = bytearray(encode_jpeg(_smooth(8, 8)))
        idx = bytes(payload).find(b"\xff\xc0")
        payload[idx + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
        with pytest.raises(ValueError, match="Se=0"):
            decode_jpeg(bytes(payload))

    def test_lossless_marker_raises_not_implemented(self):
        payload = bytearray(encode_jpeg(_smooth(8, 8)))
        idx = bytes(payload).find(b"\xff\xc0")
        payload[idx + 1] = 0xC3  # SOF0 -> SOF3 (lossless)
        with pytest.raises(NotImplementedError, match="non-baseline"):
            decode_jpeg(bytes(payload))

    def test_unsupported_sampling_raises_not_implemented(self):
        # 4:2:0 decodes since r11 and 4:2:2 since r13; 4:4:0 (1x2)
        # is the remaining sampling seam
        payload = bytearray(encode_jpeg(_smooth(8, 8)))
        idx = bytes(payload).find(b"\xff\xc0")
        # SOF0 body: len(2) prec(1) h(2) w(2) nc(1) then comp triples;
        # first component's sampling byte is at idx+2+2+1+2+2+1+1
        payload[idx + 11] = 0x12  # claim 1x2 sampling for Y
        with pytest.raises(NotImplementedError, match="sampling"):
            decode_jpeg(bytes(payload))

    def test_mislabeled_420_sampling_refuses(self):
        # claiming 2x2 sampling over a 4:4:4-coded scan desyncs the
        # MCU walk — the decoder must raise, not return wrong pixels
        payload = bytearray(encode_jpeg(_smooth(24, 24)))
        idx = bytes(payload).find(b"\xff\xc0")
        payload[idx + 11] = 0x22
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(bytes(payload))

    def test_progressive_with_restart_interval_raises(self):
        # Restart intervals are supported in SEQUENTIAL scans only
        # (r13); progressive + DRI stays an honest seam.
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        payload = bytearray(encode_jpeg_progressive(_smooth(8, 8)))
        idx = bytes(payload).find(b"\xff\xda")
        dri = b"\xff\xdd\x00\x04\x00\x08"
        patched = bytes(payload[:idx]) + dri + bytes(payload[idx:])
        with pytest.raises(NotImplementedError, match="restart"):
            decode_jpeg(patched)

    def test_quality_bounds_validated(self):
        img = _smooth(8, 8)
        for bad in (0, 101, -5):
            with pytest.raises(ValueError, match="quality"):
                encode_jpeg(img, quality=bad)
        with pytest.raises(ValueError, match="uint8"):
            encode_jpeg(np.zeros((4, 4, 3), dtype=np.int32))

    def test_grayscale_single_component_decodes(self):
        # hand-build a 1-component baseline file from the module's own
        # primitives: proves the decoder handles the grayscale branch,
        # not just the encoder's 3-component output
        plane = _smooth(10, 14)[..., 0]
        q = _scaled_quant(_QUANT_LUMA, 90)
        blocks, h8, w8 = _blocks(plane)
        coefs = np.einsum("ij,njk,lk->nil", _C, blocks - 128.0, _C)
        quant = np.round(coefs / q).astype(np.int64).reshape(-1, 64)[:, _ZZ]

        dc_freq = np.zeros(256, dtype=np.int64)
        ac_freq = np.zeros(256, dtype=np.int64)
        blocks_syms = []
        prev = 0
        for zz in quant:
            t, bits_v = _magnitude(int(zz[0]) - prev)
            prev = int(zz[0])
            dc_freq[t] += 1
            syms = [("dc", t, bits_v)]
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last = int(nz[-1]) + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    ac_freq[0xF0] += 1
                    syms.append(("ac", 0xF0, 0, 0))
                    run -= 16
                t, bits_v = _magnitude(v)
                sym = (run << 4) | t
                ac_freq[sym] += 1
                syms.append(("ac", sym, t, bits_v))
                run = 0
            if last < 63:
                ac_freq[0x00] += 1
                syms.append(("ac", 0x00, 0, 0))
            blocks_syms.append(syms)

        dc_tab = _build_huffman(dc_freq)
        ac_tab = _build_huffman(ac_freq)
        dc_codes = _canonical_codes(*dc_tab)
        ac_codes = _canonical_codes(*ac_tab)
        bw = _BitWriter()
        for syms in blocks_syms:
            for sym in syms:
                if sym[0] == "dc":
                    _, t, bits_v = sym
                    code, ln = dc_codes[t]
                    bw.write(code, ln)
                    if t:
                        bw.write(bits_v, t)
                else:
                    _, sv, t, bits_v = sym
                    code, ln = ac_codes[sv]
                    bw.write(code, ln)
                    if t:
                        bw.write(bits_v, t)
        scan = bw.flush()

        def seg(marker, payload_):
            return struct.pack(">HH", marker, len(payload_) + 2) + payload_

        out = bytearray(b"\xff\xd8")
        out += seg(0xFFDB, bytes([0]) + bytes(int(x) for x in q.reshape(-1)[_ZZ]))
        out += seg(
            0xFFC0,
            struct.pack(">BHHB", 8, plane.shape[0], plane.shape[1], 1)
            + bytes([1, 0x11, 0]),
        )
        out += seg(0xFFC4, bytes([0x00]) + bytes(dc_tab[0]) + bytes(dc_tab[1]))
        out += seg(0xFFC4, bytes([0x10]) + bytes(ac_tab[0]) + bytes(ac_tab[1]))
        out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        out += scan + b"\xff\xd9"

        rgb = decode_jpeg(bytes(out))
        assert rgb.shape == (10, 14, 3)
        # grayscale: all three channels equal, near the Y plane
        assert np.array_equal(rgb[..., 0], rgb[..., 1])
        assert np.array_equal(rgb[..., 0], rgb[..., 2])
        assert np.abs(rgb[..., 0].astype(int) - plane.astype(int)).max() <= 12


class TestHuffmanConstruction:
    def test_canonical_codes_prefix_free_and_bounded(self):
        rng = np.random.default_rng(11)
        for _ in range(5):
            freq = np.zeros(256, dtype=np.int64)
            active = rng.choice(256, size=int(rng.integers(2, 80)), replace=False)
            freq[active] = rng.integers(1, 10_000, size=len(active))
            bits, vals = _build_huffman(freq)
            assert sum(bits) == len(vals) == len(active)
            codes = _canonical_codes(bits, vals)
            assert set(codes) == set(int(a) for a in active)
            # prefix-free: no code is a prefix of another
            as_strings = [
                format(c, f"0{ln}b") for c, ln in codes.values()
            ]
            assert len(set(as_strings)) == len(as_strings)
            for i, a in enumerate(as_strings):
                for j, b in enumerate(as_strings):
                    if i != j:
                        assert not b.startswith(a)
            # JPEG constraints: max 16 bits, all-ones code unused
            for c, ln in codes.values():
                assert 1 <= ln <= 16
                # the dummy-symbol construction reserves all-ones
                assert c != (1 << ln) - 1


class TestProgressive:
    """Progressive (SOF2) codec: the decisive invariant is that the
    progressive decode is BIT-IDENTICAL to the baseline decode of the
    same image at the same quality — progressive transmission is a
    lossless reordering of the same quantized coefficients, so any
    slip in the EOB-run / ZRL / correction-bit logic breaks it."""

    def test_matches_baseline_bit_for_bit(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(1234)
        imgs = [
            _smooth(19, 25),
            _smooth(64, 48),
            rng.integers(0, 256, (33, 57, 3), dtype=np.uint8),
            np.zeros((16, 16, 3), np.uint8),
            np.full((9, 31, 3), 255, np.uint8),
        ]
        for quality in (30, 75, 90, 100):
            for img in imgs:
                base = decode_jpeg(encode_jpeg(img, quality=quality))
                prog = decode_jpeg(
                    encode_jpeg_progressive(img, quality=quality)
                )
                assert np.array_equal(base, prog)

    def test_noise_exercises_eob_runs_and_refinement(self):
        # High-frequency noise at low quality maximizes zero runs and
        # EOB-run coding; high quality maximizes newly-significant +
        # correction-bit traffic. Both must stay bit-identical.
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(77)
        img = rng.integers(0, 256, (88, 72, 3), dtype=np.uint8)
        for quality in (5, 95):
            base = decode_jpeg(encode_jpeg(img, quality=quality))
            prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
            assert np.array_equal(base, prog)

    def test_marker_structure(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        payload = encode_jpeg_progressive(_smooth(24, 16))
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        pos = 2
        seen = []
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                pos += 1
                continue
            marker = struct.unpack_from(">H", payload, pos)[0]
            if marker == 0xFFD9:
                break
            seen.append(marker)
            (length,) = struct.unpack_from(">H", payload, pos + 2)
            if marker == 0xFFDA:
                # skip the entropy segment to the next marker
                from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
                    _entropy_end,
                )

                pos = _entropy_end(payload, pos + 2 + length)
                continue
            pos += 2 + length
        # SOF2, 8 scans (1 DC first + 3 AC first + 1 DC refine +
        # 3 AC refine), 7 Huffman-coded scans each with a fresh DHT
        assert seen.count(0xFFC2) == 1
        assert seen.count(0xFFDA) == 8
        assert seen.count(0xFFC4) == 7

    def test_progressive_ac_scan_must_be_single_component(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        payload = bytearray(encode_jpeg_progressive(_smooth(8, 8)))
        # find the second SOS (first AC scan) and claim 3 components:
        # the decoder must refuse rather than misparse
        first = bytes(payload).find(b"\xff\xda")
        second = bytes(payload).find(b"\xff\xda", first + 2)
        assert second > 0
        # SOS body: len(2) ns(1) ... — patch ns from 1 to a bad value
        payload[second + 4] = 3
        with pytest.raises((ValueError, IndexError)):
            decode_jpeg(bytes(payload))


class TestJpeg420:
    """Chroma-subsampled baseline JPEG (r11, VERDICT r10 stretch item
    8): 2x2 box-downsampled chroma, MCU-interleaved scan (4Y+Cb+Cr per
    16x16 MCU), sampling-aware decode walk + nearest upsampling."""

    def _synth_smooth(self, doc_id: int) -> np.ndarray:
        return _synth_pixels_smooth(doc_id)

    def test_smooth_images_bounded_error(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        for h, w in [(16, 16), (17, 23), (8, 8), (33, 48), (12, 100)]:
            img = _smooth(h, w)
            out = decode_jpeg(encode_jpeg_420(img))
            assert out.shape == img.shape
            err = np.abs(out.astype(np.int64) - img.astype(np.int64))
            assert err.max() <= 64, (h, w, int(err.max()))

    def test_luma_stays_quantization_tight(self):
        # luma is NOT subsampled: its error must match the 4:4:4
        # codec's quantization envelope, whatever chroma lost
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        def luma(a):
            return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

        for doc_id in (0, 7, 123, 999):
            img = self._synth_smooth(doc_id)
            out = decode_jpeg(encode_jpeg_420(img))
            lerr = np.abs(
                luma(out.astype(np.float64)) - luma(img.astype(np.float64))
            )
            assert lerr.max() <= 8.0, (doc_id, float(lerr.max()))

    def test_compresses_below_444(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        tot420 = tot444 = 0
        for doc_id in range(40):
            img = self._synth_smooth(doc_id)
            tot420 += len(encode_jpeg_420(img))
            tot444 += len(encode_jpeg(img))
        assert tot420 < tot444

    def test_deterministic_and_redecodable(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        img = self._synth_smooth(42)
        p1, p2 = encode_jpeg_420(img), encode_jpeg_420(img)
        assert p1 == p2
        assert np.array_equal(decode_jpeg(p1), decode_jpeg(p1))

    def test_sof_carries_420_sampling_factors(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        payload = encode_jpeg_420(self._synth_smooth(3))
        idx = payload.find(b"\xff\xc0")
        assert payload[idx + 11] == 0x22  # Y 2x2
        assert payload[idx + 14] == 0x11  # Cb 1x1
        assert payload[idx + 17] == 0x11  # Cr 1x1

    def test_solid_color_nearly_exact(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
        )

        img = np.full((20, 28, 3), (90, 160, 40), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg_420(img))
        err = np.abs(out.astype(np.int64) - img.astype(np.int64))
        assert err.max() <= 2

    def test_progressive_subsampled_guard(self):
        # SOF2 + subsampling stays a seam: patch the progressive SOF's
        # sampling byte and expect the refusal
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )

        payload = bytearray(encode_jpeg_progressive(_smooth(16, 16)))
        idx = bytes(payload).find(b"\xff\xc2")
        payload[idx + 11] = 0x22
        with pytest.raises(NotImplementedError, match="progressive"):
            decode_jpeg(bytes(payload))


class TestRestartIntervals:
    """DRI + RST0..7 (T.81 B.2.4.4 / E.2.4, r13 — VERDICT r12 item 4)."""

    def _rst_markers(self, payload: bytes) -> list[int]:
        scan = payload[payload.find(b"\xff\xda") :]
        out, i = [], 0
        while i + 1 < len(scan):
            if scan[i] == 0xFF and 0xD0 <= scan[i + 1] <= 0xD7:
                out.append(scan[i + 1] - 0xD0)
                i += 2
            else:
                i += 1
        return out

    @pytest.mark.parametrize("h,w,ri", [(24, 32, 1), (24, 32, 4), (17, 23, 2), (16, 16, 3), (40, 64, 7)])
    def test_decode_bit_identical_to_plain(self, h, w, ri):
        # Restart transmission losslessly re-frames the same quantized
        # coefficients: the decode must equal the no-restart file's.
        img = _smooth(h, w)
        plain = decode_jpeg(encode_jpeg(img))
        rst = decode_jpeg(encode_jpeg(img, restart_interval=ri))
        assert np.array_equal(plain, rst)

    def test_marker_count_and_mod8_cycle(self):
        # 64x96 at ri=1: 8x12 = 96 MCUs, 95 markers cycling 0..7 mod 8.
        img = _smooth(64, 96)
        payload = encode_jpeg(img, restart_interval=1)
        markers = self._rst_markers(payload)
        assert markers == [i % 8 for i in range(95)]
        assert np.array_equal(decode_jpeg(payload), decode_jpeg(encode_jpeg(img)))

    def test_dri_segment_carries_interval(self):
        payload = encode_jpeg(_smooth(24, 32), restart_interval=3)
        idx = payload.find(b"\xff\xdd")
        assert idx > 0
        ln, ri = struct.unpack(">HH", payload[idx + 2 : idx + 6])
        assert (ln, ri) == (4, 3)

    def test_out_of_sequence_marker_raises(self):
        payload = bytearray(encode_jpeg(_smooth(24, 32), restart_interval=1))
        scan_at = bytes(payload).find(b"\xff\xda")
        # flip the first RST0 to RST3: the cycle check must refuse
        i = scan_at
        while not (payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD7):
            i += 1
        payload[i + 1] = 0xD3
        with pytest.raises(ValueError, match="restart marker"):
            decode_jpeg(bytes(payload))

    def test_encoder_resets_dc_predictor(self):
        # Solid white: every MCU's DC is the same large value. Without
        # restarts the 2nd..Nth MCUs encode DC diff 0 (cheapest
        # symbol); at each restart the predictor resets and the full
        # magnitude re-encodes — the scan must get strictly longer. A
        # matched encoder/decoder pair that both SKIP the reset would
        # pass the bit-identical test but fail this length pin.
        img = np.full((8, 64, 3), 255, dtype=np.uint8)
        plain = encode_jpeg(img)
        rst = encode_jpeg(img, restart_interval=1)
        def scan_len(p: bytes) -> int:
            return len(p) - p.find(b"\xff\xda")
        n_markers = len(self._rst_markers(rst))
        assert n_markers == 7
        assert scan_len(rst) > scan_len(plain) + 2 * n_markers
        assert np.array_equal(decode_jpeg(rst), decode_jpeg(plain))

    def test_interval_not_dividing_mcu_count(self):
        # 3 does not divide the 4x3=12... it does; use ri=5 over 12
        # MCUs: intervals of 5,5,2 — the tail interval is short by
        # spec and must still decode.
        img = _smooth(24, 32)
        payload = encode_jpeg(img, restart_interval=5)
        assert len(self._rst_markers(payload)) == (12 - 1) // 5
        assert np.array_equal(decode_jpeg(payload), decode_jpeg(encode_jpeg(img)))

    def test_restart_interval_validation(self):
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg(_smooth(8, 8), restart_interval=-1)
        with pytest.raises(ValueError, match="restart_interval"):
            encode_jpeg(_smooth(8, 8), restart_interval=70000)


class Test422RoundTrip:
    """4:2:2 codec (r13): chroma halved horizontally, 2Y+Cb+Cr MCUs."""

    def _synth_smooth(self, doc_id: int):
        return _synth_pixels_smooth(doc_id)

    def test_smooth_images_bounded_error(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_422,
        )

        for h, w in [(16, 16), (17, 23), (8, 8), (33, 48), (12, 100), (8, 16)]:
            img = _smooth(h, w)
            out = decode_jpeg(encode_jpeg_422(img))
            assert out.shape == img.shape
            err = np.abs(out.astype(np.int64) - img.astype(np.int64))
            assert err.max() <= 64, (h, w, int(err.max()))

    def test_luma_stays_quantization_tight(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_422,
        )

        def luma(a):
            return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

        for doc_id in (0, 7, 123, 999):
            img = self._synth_smooth(doc_id)
            out = decode_jpeg(encode_jpeg_422(img))
            lerr = np.abs(
                luma(out.astype(np.float64)) - luma(img.astype(np.float64))
            )
            assert lerr.max() <= 8.0, (doc_id, float(lerr.max()))

    def test_chroma_loss_sits_between_444_and_420(self):
        # 4:2:2 halves chroma in ONE axis: on a chroma-sloped image its
        # total payload must sit between the 4:4:4 and 4:2:0 encodes.
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_420,
            encode_jpeg_422,
        )

        tot444 = tot422 = tot420 = 0
        for doc_id in range(40):
            img = self._synth_smooth(doc_id)
            tot444 += len(encode_jpeg(img))
            tot422 += len(encode_jpeg_422(img))
            tot420 += len(encode_jpeg_420(img))
        assert tot420 < tot422 < tot444

    def test_deterministic_and_redecodable(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_422,
        )

        img = self._synth_smooth(42)
        p1, p2 = encode_jpeg_422(img), encode_jpeg_422(img)
        assert p1 == p2
        assert np.array_equal(decode_jpeg(p1), decode_jpeg(p1))

    def test_sof_carries_422_sampling_factors(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_422,
        )

        payload = encode_jpeg_422(self._synth_smooth(3))
        idx = payload.find(b"\xff\xc0")
        assert payload[idx + 11] == 0x21  # Y 2x1
        assert payload[idx + 14] == 0x11  # Cb 1x1
        assert payload[idx + 17] == 0x11  # Cr 1x1

    def test_solid_color_nearly_exact(self):
        from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
            encode_jpeg_422,
        )

        img = np.full((20, 28, 3), (90, 160, 40), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg_422(img))
        err = np.abs(out.astype(np.int64) - img.astype(np.int64))
        assert err.max() <= 2

    def test_mislabeled_422_sampling_refuses(self):
        # claiming 2x1 sampling over a 4:4:4-coded scan desyncs the
        # MCU walk — raise, never return wrong pixels
        payload = bytearray(encode_jpeg(_smooth(24, 24)))
        idx = bytes(payload).find(b"\xff\xc0")
        payload[idx + 11] = 0x21
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(bytes(payload))
