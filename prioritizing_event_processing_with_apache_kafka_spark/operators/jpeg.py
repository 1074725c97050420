"""Baseline sequential JPEG codec — pure numpy/stdlib, no codec
library.

Both directions of baseline JFIF are implemented from the public JPEG
specification (ITU-T T.81):

- ``encode_jpeg``: 4:4:4 (no chroma subsampling), 8-bit, interleaved
  single-scan baseline DCT with PER-IMAGE optimized Huffman tables
  (the encoder counts symbol statistics and emits its canonical
  code-length tables in DHT segments — what ``libjpeg -optimize``
  does; structurally standard, so any baseline decoder reads the
  output).
- ``encode_jpeg_420``: baseline JFIF **4:2:0** — full-resolution luma,
  2×2 box-downsampled chroma, MCU-interleaved scan (four Y blocks +
  Cb + Cr per 16×16 MCU, T.81 A.2.3), the layout camera JPEGs use.
- ``encode_jpeg_progressive``: PROGRESSIVE (SOF2) encoding — spectral
  selection plus one successive-approximation level (T.81 Annex G:
  interleaved DC first scan at Al=1, per-component full-band AC first
  scans with EOB-run coding, the DC refinement bit scan, and one AC
  refinement scan per component with correction bits). Carries the
  identical quantized coefficients as ``encode_jpeg`` at the same
  quality, so the progressive decode is bit-identical to the baseline
  round trip.
- ``decode_jpeg``: parses SOI/APP0/DQT/SOF0|SOF2/DHT/SOS, canonical
  Huffman decode with 0xFF00 unstuffing, dequantize, de-zigzag,
  orthonormal 8×8 IDCT, level shift, YCbCr→RGB (JFIF matrix), clamp.
  Supports any 1- or 3-component baseline file with 1×1 sampling
  factors (4:4:4 / grayscale) or the 4:2:0 layout (Y=2×2, chroma 1×1 —
  sampling-aware MCU walk + nearest-neighbor chroma upsampling), and
  8-bit quantization tables, plus multi-scan progressive (SOF2) files
  in the 1×1 sampling envelope — spectral-selection and
  successive-approximation DC/AC scans including EOB runs and
  refinement correction bits (T.81 G.1.2) — and restart intervals in
  sequential scans (DRI + RST0..7: byte-align, marker-sequence check,
  DC predictor reset — T.81 B.2.4.4/E.2.4, r13; the encoder emits them
  via ``encode_jpeg(..., restart_interval=R)``); other sampling
  layouts (e.g. 4:2:2), progressive+subsampled,
  progressive+restart-interval, arithmetic-coded and hierarchical
  files raise through the explicit ``NotImplementedError`` seam rather
  than decoding wrong.

Determinism: every step is integer or IEEE-double arithmetic with a
fixed operation order (einsum against a precomputed DCT matrix,
``np.round`` half-to-even quantization), so encode and decode are
bit-reproducible across runs and partitions — which is what lets a
round trip be checked with hard equality on dimensions and a
fixed error envelope on pixels (JPEG is lossy BY DESIGN; byte-exact
pixel recovery is not a JPEG property, so the audit bounds
``max_abs_err`` instead).

Scale shape: the DCT/IDCT is vectorized over all blocks of an image
at once (one einsum per plane), and only the entropy coding is
per-symbol Python — the honest cost of a bit-serial format.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_jpeg", "encode_jpeg_420", "encode_jpeg_progressive", "decode_jpeg"]

# ---------------------------------------------------------------------------
# Shared constants
# ---------------------------------------------------------------------------

# Orthonormal 8x8 DCT-II matrix: equals the JPEG DCT definition
# (T.81 A.3.3) for N=8.
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (np.sqrt(0.125) if _u == 0 else 0.5) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16
        )

# Zig-zag index order (T.81 Figure 5): _ZIGZAG[i] = raster index of the
# i-th coefficient in zig-zag order.
_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 base quantization tables (quality 50), zig-zag-agnostic
# (stored raster-order).
_QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)
_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 → base, 100 → all-ones."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    r = arr[..., 0].astype(np.float64)
    g = arr[..., 1].astype(np.float64)
    b = arr[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a 2-D plane to 8-multiples by edge replication and return
    (n_blocks, 8, 8) float blocks in raster block order + block grid."""
    h, w = plane.shape
    h8, w8 = -(-h // 8), -(-w // 8)
    padded = np.pad(
        plane.astype(np.float64),
        ((0, h8 * 8 - h), (0, w8 * 8 - w)),
        mode="edge",
    )
    b = padded.reshape(h8, 8, w8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return b, h8, w8


# ---------------------------------------------------------------------------
# Optimized Huffman table construction (T.81 K.2 / libjpeg
# jpeg_gen_optimal_table): code sizes from pairwise frequency merging,
# 16-bit length limiting, reserved all-ones code via a dummy symbol.
# ---------------------------------------------------------------------------


def _build_huffman(freq_in: np.ndarray) -> tuple[list[int], list[int]]:
    """Return (bits[1..16] as 16-list, huffval list) for the symbol
    frequency vector (len 256)."""
    freq = np.zeros(257, dtype=np.int64)
    freq[:256] = freq_in
    freq[256] = 1  # dummy: guarantees no real symbol gets all-ones
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)

    while True:
        nz = np.nonzero(freq)[0]
        if len(nz) <= 1:
            break
        # smallest freq, ties broken toward the LARGER symbol value
        order = nz[np.lexsort((-nz, freq[nz]))]
        v1, v2 = int(order[0]), int(order[1])
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] >= 0:
            v1 = int(others[v1])
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] >= 0:
            v2 = int(others[v2])
            codesize[v2] += 1

    bits = np.zeros(60, dtype=np.int64)  # generous headroom
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    # limit code length to 16 (T.81 K.2 adjustment)
    i = int(np.max(np.nonzero(bits)[0])) if bits.any() else 0
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # remove the dummy symbol (it holds the longest code)
    i = int(np.max(np.nonzero(bits)[0])) if bits.any() else 0
    bits[i] -= 1
    # symbols sorted by (code size, value); dummy excluded
    syms = [
        s
        for size in range(1, 17)
        for s in range(256)
        if codesize[s] == size
    ]
    return [int(x) for x in bits[1:17]], syms


def _canonical_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) under canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)

    def restart_marker(self, n: int) -> None:
        """Byte-align (1-bit padding, T.81 F.1.2.3) and append RSTn —
        raw marker bytes, exempt from stuffing (B.1.1.3)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended-bits) encoding of a coefficient value."""
    if v == 0:
        return 0, 0
    t = int(abs(v)).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _quantized_zz(
    arr: np.ndarray, quality: int
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray, int, int]:
    """Shared front half of both encoders: RGB → YCbCr → 8×8 DCT →
    quantize → zig-zag. Returns (per-component (n_blocks, 64) int64
    zig-zag coefficients, qluma, qchroma, h, w). Progressive and
    baseline encodes of the same image at the same quality carry THE
    SAME coefficients — progressive transmission only reorders them —
    which is what lets the progressive round-trip audit demand
    bit-identical pixels against the baseline decode."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_jpeg expects an (H, W, 3) uint8 array")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError(f"unencodable dimensions {h}x{w}")
    ycc = _rgb_to_ycbcr(arr)
    qluma = _scaled_quant(_QUANT_LUMA, quality)
    qchroma = _scaled_quant(_QUANT_CHROMA, quality)
    comp_coefs = []
    for ci in range(3):
        blocks, _, _ = _blocks(ycc[..., ci])
        coefs = np.einsum("ij,njk,lk->nil", _C, blocks - 128.0, _C)
        q = qluma if ci == 0 else qchroma
        quant = np.round(coefs / q).astype(np.int64)
        # Baseline JPEG caps AC size categories at 10 (|v| <= 1023);
        # with near-unity quantizers a max-contrast block can quantize
        # to +/-1024 (category 11), which standard decoders reject.
        # Clamp during quantization so every emitted symbol is in-spec
        # (DC diffs then stay within category 11 automatically: the
        # level-shifted DC range is [-1024, 1016] before this clip).
        quant = np.clip(quant, -1023, 1023)
        comp_coefs.append(quant.reshape(-1, 64)[:, _ZZ])
    return comp_coefs, qluma, qchroma, h, w


def encode_jpeg(
    arr: np.ndarray, *, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as baseline JFIF 4:4:4.

    ``restart_interval=R`` (T.81 B.2.4.4 / E.2.4, r13 — the most
    common real-camera-file feature behind the former decode seam):
    a DRI segment declares R MCUs per restart interval and the scan is
    split by RST0..RST7 markers cycling mod 8 — at each marker the
    bitstream byte-aligns (1-bit padding) and every component's DC
    predictor resets to 0, which is what lets real decoders resume
    after corruption and parallel decoders split a scan."""
    if restart_interval < 0 or restart_interval > 0xFFFF:
        raise ValueError("restart_interval must be in [0, 65535]")
    comp_coefs, qluma, qchroma, h, w = _quantized_zz(arr, quality)

    # symbol statistics (DC/AC × luma/chroma)
    n_blocks = comp_coefs[0].shape[0]
    dc_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    ac_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    comp_syms: list[list] = [[] for _ in range(3)]
    for ci in range(3):
        tbl = 0 if ci == 0 else 1
        prev_dc = 0
        for bi in range(n_blocks):
            if restart_interval and bi and bi % restart_interval == 0:
                prev_dc = 0  # DC predictor resets at each RSTn
            zz = comp_coefs[ci][bi]
            t, bits_v = _magnitude(int(zz[0]) - prev_dc)
            prev_dc = int(zz[0])
            dc_freq[tbl][t] += 1
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
                    ac_freq[tbl][0xF0] += 1
                    syms.append(("ac", 0xF0, 0, 0))
                    run -= 16
                t, bits_v = _magnitude(v)
                sym = (run << 4) | t
                ac_freq[tbl][sym] += 1
                syms.append(("ac", sym, t, bits_v))
                run = 0
            if last < 63:
                ac_freq[tbl][0x00] += 1
                syms.append(("ac", 0x00, 0, 0))
            comp_syms[ci].append(syms)

    dc_tables = [_build_huffman(f) for f in dc_freq]
    ac_tables = [_build_huffman(f) for f in ac_freq]
    dc_codes = [_canonical_codes(*t) for t in dc_tables]
    ac_codes = [_canonical_codes(*t) for t in ac_tables]

    # entropy-coded data: interleaved MCU = one block each of Y, Cb, Cr
    # (4:4:4 ⇒ MCU index == block index)
    bw = _BitWriter()
    for bi in range(n_blocks):
        if restart_interval and bi and bi % restart_interval == 0:
            bw.restart_marker(bi // restart_interval - 1)
        for ci in range(3):
            tbl = 0 if ci == 0 else 1
            for sym in comp_syms[ci][bi]:
                if sym[0] == "dc":
                    _, t, bits_v = sym
                    code, length = dc_codes[tbl][t]
                    bw.write(code, length)
                    if t:
                        bw.write(bits_v, t)
                else:
                    _, s, t, bits_v = sym
                    code, length = ac_codes[tbl][s]
                    bw.write(code, length)
                    if t:
                        bw.write(bits_v, t)
    scan = bw.flush()

    # --- container ---
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )  # APP0
    for tid, q in ((0, qluma), (1, qchroma)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[_ZZ]),
        )
    out += seg(
        0xFFC0,  # SOF0 baseline
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for cls, tables in ((0, dc_tables), (1, ac_tables)):
        for tid, (bits, vals) in enumerate(tables):
            out += seg(
                0xFFC4,
                bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals),
            )
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(
        0xFFDA,
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _plane_zz(plane: np.ndarray, qtab: np.ndarray) -> tuple[np.ndarray, int, int]:
    """One plane → quantized zig-zag block coefficients (the per-plane
    half of ``_quantized_zz``, needed separately once luma and chroma
    stop sharing a block grid)."""
    blocks, h8, w8 = _blocks(plane)
    coefs = np.einsum("ij,njk,lk->nil", _C, blocks - 128.0, _C)
    quant = np.clip(np.round(coefs / qtab).astype(np.int64), -1023, 1023)
    return quant.reshape(-1, 64)[:, _ZZ], h8, w8


def _component_symbols(
    zz_blocks: np.ndarray, dc_freq: np.ndarray, ac_freq: np.ndarray
) -> list[list]:
    """Phase-1 symbol pass for one component's blocks IN WRITE ORDER:
    DC-predict across the sequence, accumulate Huffman frequencies,
    return per-block symbol lists (same encoding the baseline encoder
    builds inline)."""
    out: list[list] = []
    prev_dc = 0
    for bi in range(zz_blocks.shape[0]):
        zz = zz_blocks[bi]
        t, bits_v = _magnitude(int(zz[0]) - prev_dc)
        prev_dc = int(zz[0])
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
        out.append(syms)
    return out


def encode_jpeg_422(arr: np.ndarray, *, quality: int = 90) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as baseline JFIF **4:2:2**
    (r13 — the remaining common camera/video sampling after 4:2:0):
    full-resolution luma, chroma 2×1 horizontally box-downsampled,
    MCU-interleaved scan (two Y blocks + one Cb + one Cr per 16×8 MCU,
    T.81 A.2.3) with sampling factors Y=2×1, Cb=Cr=1×1 in SOF0. Same
    optimized two-phase Huffman machinery as :func:`encode_jpeg`."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_jpeg_422 expects an (H, W, 3) uint8 array")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError(f"unencodable dimensions {h}x{w}")
    ycc = _rgb_to_ycbcr(arr)
    qluma = _scaled_quant(_QUANT_LUMA, quality)
    qchroma = _scaled_quant(_QUANT_CHROMA, quality)
    # Pad to whole 16x8 MCUs by edge replication, THEN box-average
    # chroma horizontally: the subsampled planes land on exact 8-block
    # grids aligned with the luma pairs.
    mch, mcw = -(-h // 8), -(-w // 16)
    pads = [
        np.pad(
            ycc[..., ci],
            ((0, mch * 8 - h), (0, mcw * 16 - w)),
            mode="edge",
        )
        for ci in range(3)
    ]
    ypad = pads[0]
    sub = [
        c.reshape(mch * 8, mcw * 8, 2).mean(axis=2) for c in pads[1:]
    ]
    yzz, yh8, yw8 = _plane_zz(ypad, qluma)
    cbzz, _, _ = _plane_zz(sub[0], qchroma)
    crzz, _, _ = _plane_zz(sub[1], qchroma)
    # Luma blocks reordered to MCU sequence: left, right per 16x8 MCU.
    order_y = []
    for my in range(mch):
        for mx in range(mcw):
            base = my * yw8 + 2 * mx
            order_y += [base, base + 1]
    yzz = yzz[order_y]

    dc_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    ac_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    y_syms = _component_symbols(yzz, dc_freq[0], ac_freq[0])
    cb_syms = _component_symbols(cbzz, dc_freq[1], ac_freq[1])
    cr_syms = _component_symbols(crzz, dc_freq[1], ac_freq[1])

    dc_tables = [_build_huffman(f) for f in dc_freq]
    ac_tables = [_build_huffman(f) for f in ac_freq]
    dc_codes = [_canonical_codes(*t) for t in dc_tables]
    ac_codes = [_canonical_codes(*t) for t in ac_tables]

    bw = _BitWriter()

    def emit(syms: list, tbl: int) -> None:
        for sym in syms:
            if sym[0] == "dc":
                _, t, bits_v = sym
                code, length = dc_codes[tbl][t]
                bw.write(code, length)
                if t:
                    bw.write(bits_v, t)
            else:
                _, s, t, bits_v = sym
                code, length = ac_codes[tbl][s]
                bw.write(code, length)
                if t:
                    bw.write(bits_v, t)

    for mi in range(mch * mcw):
        emit(y_syms[mi * 2], 0)
        emit(y_syms[mi * 2 + 1], 0)
        emit(cb_syms[mi], 1)
        emit(cr_syms[mi], 1)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )  # APP0
    for tid, q in ((0, qluma), (1, qchroma)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[_ZZ]),
        )
    out += seg(
        0xFFC0,  # SOF0 baseline, 4:2:2 sampling
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for cls, tables in ((0, dc_tables), (1, ac_tables)):
        for tid, (bits, vals) in enumerate(tables):
            out += seg(
                0xFFC4,
                bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals),
            )
    out += seg(
        0xFFDA,
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_420(arr: np.ndarray, *, quality: int = 90) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as baseline JFIF **4:2:0**:
    full-resolution luma, chroma 2×2 box-downsampled, MCU-interleaved
    scan (four Y blocks + one Cb + one Cr per 16×16 MCU, T.81 A.2.3
    data ordering) with sampling factors Y=2×2, Cb=Cr=1×1 in SOF0 —
    the layout virtually every camera JPEG uses. Same optimized
    two-phase Huffman machinery as :func:`encode_jpeg`."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_jpeg_420 expects an (H, W, 3) uint8 array")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError(f"unencodable dimensions {h}x{w}")
    ycc = _rgb_to_ycbcr(arr)
    qluma = _scaled_quant(_QUANT_LUMA, quality)
    qchroma = _scaled_quant(_QUANT_CHROMA, quality)
    # Pad everything to whole 16x16 MCUs by edge replication, THEN
    # box-average chroma: the subsampled planes land on exact 8-block
    # grids aligned with the luma quads.
    mch, mcw = -(-h // 16), -(-w // 16)
    pads = [
        np.pad(
            ycc[..., ci],
            ((0, mch * 16 - h), (0, mcw * 16 - w)),
            mode="edge",
        )
        for ci in range(3)
    ]
    ypad = pads[0]
    sub = [
        c.reshape(mch * 8, 2, mcw * 8, 2).mean(axis=(1, 3))
        for c in pads[1:]
    ]
    yzz, yh8, yw8 = _plane_zz(ypad, qluma)
    cbzz, _, _ = _plane_zz(sub[0], qchroma)
    crzz, _, _ = _plane_zz(sub[1], qchroma)
    # Luma blocks reordered to MCU sequence: top-left, top-right,
    # bottom-left, bottom-right per 16x16 quad.
    order_y = []
    for my in range(mch):
        for mx in range(mcw):
            base = (2 * my) * yw8 + 2 * mx
            order_y += [base, base + 1, base + yw8, base + yw8 + 1]
    yzz = yzz[order_y]

    dc_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    ac_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    y_syms = _component_symbols(yzz, dc_freq[0], ac_freq[0])
    cb_syms = _component_symbols(cbzz, dc_freq[1], ac_freq[1])
    cr_syms = _component_symbols(crzz, dc_freq[1], ac_freq[1])

    dc_tables = [_build_huffman(f) for f in dc_freq]
    ac_tables = [_build_huffman(f) for f in ac_freq]
    dc_codes = [_canonical_codes(*t) for t in dc_tables]
    ac_codes = [_canonical_codes(*t) for t in ac_tables]

    bw = _BitWriter()

    def emit(syms: list, tbl: int) -> None:
        for sym in syms:
            if sym[0] == "dc":
                _, t, bits_v = sym
                code, length = dc_codes[tbl][t]
                bw.write(code, length)
                if t:
                    bw.write(bits_v, t)
            else:
                _, s, t, bits_v = sym
                code, length = ac_codes[tbl][s]
                bw.write(code, length)
                if t:
                    bw.write(bits_v, t)

    n_mcus = mch * mcw
    for mi in range(n_mcus):
        for q in range(4):
            emit(y_syms[mi * 4 + q], 0)
        emit(cb_syms[mi], 1)
        emit(cr_syms[mi], 1)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(
        0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )  # APP0
    for tid, q in ((0, qluma), (1, qchroma)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[_ZZ]),
        )
    out += seg(
        0xFFC0,  # SOF0 baseline, 4:2:0 sampling
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for cls, tables in ((0, dc_tables), (1, ac_tables)):
        for tid, (bits, vals) in enumerate(tables):
            out += seg(
                0xFFC4,
                bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals),
            )
    out += seg(
        0xFFDA,
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (T.81 Annex G, Huffman variant)
# ---------------------------------------------------------------------------
#
# Scan script (the shape libjpeg's default progressive script has,
# trimmed to one successive-approximation level): an interleaved DC
# first scan at Al=1, full-band AC first scans per component at Al=1
# (with EOB-run coding, G.1.2.2), the DC refinement bit scan, and one
# AC refinement scan per component (correction bits, G.1.2.3). Every
# scan re-emits an optimized Huffman table (two-phase: count symbols,
# then emit), exactly like the baseline encoder's per-image tables.


class _FreqSink:
    """Phase-1 sink: count Huffman symbols, ignore raw bits."""

    def __init__(self) -> None:
        self.freq = np.zeros(256, dtype=np.int64)

    def symbol(self, sym: int) -> None:
        self.freq[sym] += 1

    def bits(self, value: int, length: int) -> None:  # noqa: ARG002
        pass


class _CodeSink:
    """Phase-2 sink: emit Huffman codes + raw bits into a _BitWriter."""

    def __init__(self, bw: _BitWriter, codes: dict[int, tuple[int, int]]):
        self.bw = bw
        self.codes = codes

    def symbol(self, sym: int) -> None:
        code, length = self.codes[sym]
        self.bw.write(code, length)

    def bits(self, value: int, length: int) -> None:
        if length:
            self.bw.write(value, length)


def _scan_dc_first(sink, comp_coefs, comp_ids, al: int) -> None:
    """Interleaved DC scan, Ah=0: Huffman-coded diffs of the point-
    transformed (arithmetic >> Al) DC values."""
    n_blocks = comp_coefs[0].shape[0]
    prev = {ci: 0 for ci in comp_ids}
    for bi in range(n_blocks):
        for ci in comp_ids:
            v = int(comp_coefs[ci][bi, 0]) >> al
            t, bits_v = _magnitude(v - prev[ci])
            prev[ci] = v
            sink.symbol(t)
            sink.bits(bits_v, t)


def _scan_dc_refine(bw: _BitWriter, comp_coefs, comp_ids, al: int) -> None:
    """DC refinement scan: one raw bit per block per component (no
    Huffman coding in DC refinement — T.81 G.1.2.1)."""
    n_blocks = comp_coefs[0].shape[0]
    for bi in range(n_blocks):
        for ci in comp_ids:
            bw.write((int(comp_coefs[ci][bi, 0]) >> al) & 1, 1)


def _scan_ac_first(sink, zz: np.ndarray, ss: int, se: int, al: int) -> None:
    """Single-component AC first scan (Ah=0) with EOB-run coding."""
    eobrun = 0

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            sink.symbol(nbits << 4)
            sink.bits(eobrun - (1 << nbits), nbits)
            eobrun = 0

    for bi in range(zz.shape[0]):
        row = zz[bi]
        r = 0
        wrote = False
        for k in range(ss, se + 1):
            v = int(row[k])
            t = (abs(v) >> al)
            if t == 0:
                r += 1
                continue
            flush_eobrun()
            while r > 15:
                sink.symbol(0xF0)
                r -= 16
            vshift = t if v > 0 else -t
            s, bits_v = _magnitude(vshift)
            sink.symbol((r << 4) | s)
            sink.bits(bits_v, s)
            r = 0
            wrote = True
        if r > 0 or not wrote:
            # block ends in (or is entirely) zeros at this precision
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()


def _scan_ac_refine(sink, zz: np.ndarray, ss: int, se: int, al: int) -> None:
    """Single-component AC refinement scan (Ah=Al+1): newly-significant
    coefficients via run-length symbols with one sign bit, correction
    bits for already-significant ones, EOB runs carrying the deferred
    correction bits (T.81 G.1.2.3)."""
    eobrun = 0
    pending: list[int] = []  # correction bits deferred to the next symbol

    def flush_eobrun() -> None:
        nonlocal eobrun, pending
        if eobrun:
            nbits = eobrun.bit_length() - 1
            sink.symbol(nbits << 4)
            sink.bits(eobrun - (1 << nbits), nbits)
            eobrun = 0
        for b in pending:
            sink.bits(b, 1)
        pending = []

    for bi in range(zz.shape[0]):
        row = zz[bi]
        absv = [abs(int(row[k])) >> al for k in range(ss, se + 1)]
        # index (into the band) of the LAST newly-significant coef
        eob = -1
        for i in range(len(absv) - 1, -1, -1):
            if absv[i] == 1:
                eob = i
                break
        r = 0
        block_bits: list[int] = []  # correction bits since last symbol
        for i, temp in enumerate(absv):
            if temp == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                flush_eobrun()
                sink.symbol(0xF0)
                r -= 16
                for b in block_bits:
                    sink.bits(b, 1)
                block_bits = []
            if temp > 1:
                # already significant: defer its correction bit
                block_bits.append(temp & 1)
                continue
            # newly significant
            flush_eobrun()
            sink.symbol((r << 4) | 1)
            v = int(row[ss + i])
            sink.bits(1 if v > 0 else 0, 1)
            for b in block_bits:
                sink.bits(b, 1)
            block_bits = []
            r = 0
        if r > 0 or block_bits:
            eobrun += 1
            pending.extend(block_bits)
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()


def encode_jpeg_progressive(arr: np.ndarray, *, quality: int = 90) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as PROGRESSIVE JFIF 4:4:4
    (SOF2, spectral selection + one successive-approximation level).
    Carries the identical quantized coefficients as
    :func:`encode_jpeg` at the same quality — progressive transmission
    is a lossless reordering, so ``decode_jpeg`` of this payload is
    bit-identical to the baseline round trip."""
    comp_coefs, qluma, qchroma, h, w = _quantized_zz(arr, quality)
    comp_ids = [0, 1, 2]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in ((0, qluma), (1, qchroma)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in q.reshape(-1)[_ZZ]),
        )
    out += seg(
        0xFFC2,  # SOF2 progressive
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )

    # scan script: (kind, comps, Ss, Se, Ah, Al)
    scans = [
        ("dc_first", comp_ids, 0, 0, 0, 1),
        ("ac_first", [0], 1, 63, 0, 1),
        ("ac_first", [1], 1, 63, 0, 1),
        ("ac_first", [2], 1, 63, 0, 1),
        ("dc_refine", comp_ids, 0, 0, 1, 0),
        ("ac_refine", [0], 1, 63, 1, 0),
        ("ac_refine", [1], 1, 63, 1, 0),
        ("ac_refine", [2], 1, 63, 1, 0),
    ]
    for kind, comps, ss, se, ah, al in scans:
        huff_cls = 0 if kind.startswith("dc") else 1

        def run(sink) -> None:
            if kind == "dc_first":
                _scan_dc_first(sink, comp_coefs, comps, al)
            elif kind == "ac_first":
                _scan_ac_first(sink, comp_coefs[comps[0]], ss, se, al)
            elif kind == "ac_refine":
                _scan_ac_refine(sink, comp_coefs[comps[0]], ss, se, al)

        bw = _BitWriter()
        if kind == "dc_refine":
            _scan_dc_refine(bw, comp_coefs, comps, al)
        else:
            # phase 1: optimal per-scan table; phase 2: emit. Table id
            # 0 is re-defined before every scan (legal — T.81 B.2.4.2).
            freq = _FreqSink()
            run(freq)
            bits, vals = _build_huffman(freq.freq)
            out += seg(
                0xFFC4,
                bytes([(huff_cls << 4) | 0]) + bytes(bits) + bytes(vals),
            )
            run(_CodeSink(bw, _canonical_codes(bits, vals)))
        comp_spec = b"".join(
            bytes([ci + 1, 0x00]) for ci in comps
        )
        out += seg(
            0xFFDA,
            bytes([len(comps)]) + comp_spec + bytes([ss, se, (ah << 4) | al]),
        )
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream at 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # unstuff
            else:
                # a marker inside the scan (e.g. premature EOI): feed
                # padding bits; the MCU loop bounds how far this goes
                byte = 0xFF
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expected: int) -> None:
        """Byte-align and consume the next RSTn marker (T.81 E.2.4).

        The padding bits always live in the byte the last MCU partially
        consumed (or there are none, when the MCU ended on a byte
        boundary), and ``_fill`` has already skipped any stuffed 0x00 —
        so after discarding the partial-byte remainder, ``pos`` sits
        exactly on the marker. A stray stuffed-pad pair is skipped
        defensively for foreign encoders."""
        self.acc = 0
        self.nbits = 0
        while (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0x00
        ):
            self.pos += 2
        want = 0xD0 + (expected & 7)
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != want
        ):
            got = self.data[self.pos : self.pos + 2].hex() or "EOF"
            raise ValueError(
                f"expected restart marker ff{want:02x} at byte "
                f"{self.pos}, found {got}"
            )
        self.pos += 2


def _decode_symbol(br: _BitReader, lut: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = lut.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _entropy_end(payload: bytes, start: int) -> int:
    """Index of the first marker (0xFF followed by a non-stuffing,
    non-fill byte) after ``start`` — the end of a scan's entropy-coded
    segment. Only used on progressive scans, where restart markers
    cannot appear (progressive + DRI raises before any scan decodes)."""
    i = start
    n = len(payload)
    while i + 1 < n:
        if payload[i] == 0xFF and payload[i + 1] not in (0x00, 0xFF):
            return i
        i += 1
    return n


def _decode_prog_scan(
    data: bytes,
    scan_comps: list[tuple[int, int, int]],
    coefs: dict[int, np.ndarray],
    prev_dc: dict[int, int],
    htables,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> None:
    """Decode one progressive scan (T.81 Annex G) into the coefficient
    arrays. DC scans (Ss=0) may interleave components; AC scans are
    single-component. ``prev_dc`` is the DC predictor store — T.81
    resets predictors at every scan start, so the caller passes a
    zeroed dict per scan."""
    br = _BitReader(data)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        n_blocks = next(iter(coefs.values())).shape[0]
        if ah == 0:
            for bi in range(n_blocks):
                for cid, dc_t, _ac_t in scan_comps:
                    lut = htables[(0, dc_t)]
                    t = _decode_symbol(br, lut)
                    diff = _extend(br.bits(t), t) if t else 0
                    prev_dc[cid] += diff
                    coefs[cid][bi, 0] = prev_dc[cid] << al
        else:
            p1 = 1 << al
            for bi in range(n_blocks):
                for cid, _dc_t, _ac_t in scan_comps:
                    if br.bit():
                        coefs[cid][bi, 0] |= p1
        return
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    cid, _dc_t, ac_t = scan_comps[0]
    zz = coefs[cid]
    n_blocks = zz.shape[0]
    eobrun = 0
    if ah == 0:
        lut = htables[(1, ac_t)]
        for bi in range(n_blocks):
            if eobrun:
                eobrun -= 1
                continue
            row = zz[bi]
            k = ss
            while k <= se:
                sym = _decode_symbol(br, lut)
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past band end")
                row[k] = _extend(br.bits(s), s) << al
                k += 1
        return
    # AC refinement (Ah = Al + 1). Unlike the first pass, an EOB run
    # still carries data: every already-nonzero coefficient in the
    # remainder of EACH run block's band reads a correction bit — so
    # ``eobrun`` holds the FULL run count here (decremented once per
    # completed block), and the block that starts the run falls
    # through to the correction sweep below even for a run of 1.
    lut = htables[(1, ac_t)]
    p1, m1 = 1 << al, -(1 << al)
    for bi in range(n_blocks):
        row = zz[bi]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _decode_symbol(br, lut)
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError(
                            f"invalid refinement symbol {sym:#x}"
                        )
                    val = p1 if br.bit() else m1
                # advance past r zero-history coefficients, applying
                # correction bits to nonzero-history ones on the way
                while k <= se:
                    v = int(row[k])
                    if v != 0:
                        if br.bit() and (v & p1) == 0:
                            row[k] = v + (p1 if v > 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val != 0:
                    # Mirror the AC-first pass's bound check: a corrupt
                    # stream whose zero-run overruns the band with a
                    # newly-significant coefficient still pending must
                    # refuse, not silently drop the coefficient.
                    if k > se:
                        raise ValueError("AC refinement run past band end")
                    row[k] = val
                k += 1
        if eobrun > 0:
            # inside an EOB run: remaining nonzero-history coefficients
            # in the band still carry their correction bits
            while k <= se:
                v = int(row[k])
                if v != 0:
                    if br.bit() and (v & p1) == 0:
                        row[k] = v + (p1 if v > 0 else m1)
                k += 1
            eobrun -= 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline OR progressive 4:4:4 (or grayscale) JFIF
    payload to an (H, W, 3) uint8 RGB array. See module docstring for
    the supported envelope; unsupported variants raise
    ``NotImplementedError``."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    prog_coefs: dict[int, np.ndarray] | None = None
    scan_comps = None
    data_start = None
    restart_interval = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        # 0xFF fill bytes are legal padding between segments (T.81
        # B.1.1.2): skip to the final 0xFF that precedes the marker code.
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        # The skip can run to the buffer's edge (payload ending in
        # 0xFF 0xFF): re-check before reading, or struct.error would
        # escape the decoder's ValueError contract.
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: fill bytes run to end of payload")
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            # TEM / standalone RSTn carry no length field.
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + length]
        if marker == 0xFFDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables unsupported")
                zzq = np.frombuffer(
                    body[off + 1 : off + 65], dtype=np.uint8
                ).astype(np.int64)
                raster = np.zeros(64, dtype=np.int64)
                raster[_ZZ] = zzq
                qtables[tq] = raster.reshape(8, 8)
                off += 65
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                cls, tid = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                lut: dict[tuple[int, int], int] = {}
                code = 0
                k = 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        lut[(ln, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htables[(cls, tid)] = lut
                off += 17 + n
        elif marker in (0xFFC0, 0xFFC1, 0xFFC2):
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, tq, samp >> 4, samp & 0xF))
            samps = [(hi, vi) for _cid, _tq, hi, vi in comps]
            if not (
                all(s == (1, 1) for s in samps)
                or (nc == 3 and samps == [(2, 2), (1, 1), (1, 1)])
                or (nc == 3 and samps == [(2, 1), (1, 1), (1, 1)])
            ):
                raise NotImplementedError(
                    f"sampling factors {samps} unsupported "
                    "(4:4:4/grayscale/4:2:0/4:2:2 only)"
                )
            frame = (fh, fw, comps)
            if marker == 0xFFC2:
                if samps != [(1, 1)] * nc:
                    raise NotImplementedError(
                        "progressive + subsampling unsupported"
                    )
                progressive = True
                h8p, w8p = -(-fh // 8), -(-fw // 8)
                prog_coefs = {
                    cid: np.zeros((h8p * w8p, 64), dtype=np.int64)
                    for cid, *_ in comps
                }
        elif marker in (0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise NotImplementedError(
                f"non-baseline JPEG frame {marker:#x} unsupported"
            )
        elif marker == 0xFFDD:
            # DRI (T.81 B.2.4.4): restart interval in MCUs; 0 disables.
            # Last DRI before the scan wins.
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xFFDA:
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            data_start = pos + 2 + length
            if progressive:
                if frame is None or prog_coefs is None:
                    raise ValueError("progressive SOS before SOF2")
                if restart_interval:
                    raise NotImplementedError(
                        "restart intervals in progressive scans unsupported"
                    )
                ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                end = _entropy_end(payload, data_start)
                _decode_prog_scan(
                    payload[data_start:end],
                    scan_comps,
                    prog_coefs,
                    {cid: 0 for cid, *_ in frame[2]},
                    htables,
                    ss,
                    se,
                    ahal >> 4,
                    ahal & 0xF,
                )
                pos = end
                continue
            break
        pos += 2 + length
    if frame is None or scan_comps is None or data_start is None:
        raise ValueError("JPEG missing SOF/SOS")
    fh, fw, comps = frame
    if progressive:
        assert prog_coefs is not None
        h8, w8 = -(-fh // 8), -(-fw // 8)
        qt = {cid: qtables[tq] for cid, tq, *_ in comps}
        planes = {}
        for cid, *_ in comps:
            raster = np.zeros((h8 * w8, 64), dtype=np.float64)
            raster[:, _ZZ] = prog_coefs[cid] * qt[cid].reshape(-1)[_ZZ]
            blocks = raster.reshape(-1, 8, 8)
            pix = np.einsum("ji,njk,kl->nil", _C, blocks, _C) + 128.0
            planes[cid] = (
                pix.reshape(h8, w8, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(h8 * 8, w8 * 8)[:fh, :fw]
            )
        if len(comps) == 1:
            y = np.clip(np.round(planes[comps[0][0]]), 0, 255).astype(
                np.uint8
            )
            return np.stack([y, y, y], axis=-1)
        y, cb, cr = (planes[cid] for cid, *_ in comps)
        return _ycbcr_to_rgb(y, cb, cr)
    if len(comps) not in (1, 3) or len(scan_comps) != len(comps):
        raise NotImplementedError(
            "only single-scan grayscale/3-component files supported"
        )
    # MCU geometry from the sampling factors (T.81 A.2.3): with hmax =
    # vmax = 1 this degenerates to one block per component per MCU (the
    # 4:4:4/grayscale layout); the 4:2:0 SOF carries Y=2x2 so each MCU
    # holds a 2x2 luma quad + one block of each chroma plane.
    hmax = max(hi for _cid, _tq, hi, _vi in comps)
    vmax = max(vi for _cid, _tq, _hi, vi in comps)
    mcw, mch = -(-fw // (8 * hmax)), -(-fh // (8 * vmax))
    samp = {cid: (hi, vi) for cid, _tq, hi, vi in comps}
    grid = {cid: (mch * vi, mcw * hi) for cid, (hi, vi) in samp.items()}
    br = _BitReader(payload[data_start:])
    qt = {cid: qtables[tq] for cid, tq, *_ in comps}
    coefs = {
        cid: np.zeros((bh * bw, 64), dtype=np.int64)
        for cid, (bh, bw) in grid.items()
    }
    prev_dc = {cid: 0 for cid, *_ in comps}

    def decode_block(zz: np.ndarray, cid: int, dc_t: int, ac_t: int) -> None:
        dc_lut = htables[(0, dc_t)]
        ac_lut = htables[(1, ac_t)]
        t = _decode_symbol(br, dc_lut)
        diff = _extend(br.bits(t), t) if t else 0
        prev_dc[cid] += diff
        zz[0] = prev_dc[cid]
        k = 1
        while k < 64:
            sym = _decode_symbol(br, ac_lut)
            if sym == 0x00:  # EOB
                break
            run, t = sym >> 4, sym & 0xF
            if t == 0:
                if run != 15:
                    raise ValueError(f"invalid AC symbol {sym:#x}")
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            zz[k] = _extend(br.bits(t), t)
            k += 1

    mcu_index = 0
    for my in range(mch):
        for mx in range(mcw):
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                # T.81 E.2.4: byte-align, consume RSTn (cycling mod 8),
                # reset every component's DC predictor.
                br.restart(mcu_index // restart_interval - 1)
                for cid in prev_dc:
                    prev_dc[cid] = 0
            for cid, dc_t, ac_t in scan_comps:
                hi, vi = samp[cid]
                _bh, bw_i = grid[cid]
                for by in range(vi):
                    for bx in range(hi):
                        bi = (my * vi + by) * bw_i + (mx * hi + bx)
                        decode_block(coefs[cid][bi], cid, dc_t, ac_t)
            mcu_index += 1
    planes = {}
    for cid, *_ in comps:
        bh, bw_i = grid[cid]
        hi, vi = samp[cid]
        raster = np.zeros((bh * bw_i, 64), dtype=np.float64)
        raster[:, _ZZ] = coefs[cid] * qt[cid].reshape(-1)[_ZZ]
        blocks = raster.reshape(-1, 8, 8)
        pix = np.einsum("ji,njk,kl->nil", _C, blocks, _C) + 128.0
        plane = (
            pix.reshape(bh, bw_i, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw_i * 8)
        )
        if hi != hmax or vi != vmax:
            # nearest-neighbor chroma upsampling back to the luma grid
            plane = plane.repeat(vmax // vi, axis=0).repeat(
                hmax // hi, axis=1
            )
        planes[cid] = plane[:fh, :fw]
    if len(comps) == 1:
        y = np.clip(np.round(planes[comps[0][0]]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = (planes[cid] for cid, *_ in comps)
    return _ycbcr_to_rgb(y, cb, cr)
