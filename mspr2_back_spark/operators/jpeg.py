"""Baseline JPEG (ITU-T T.81) encode/decode in numpy + stdlib — no
image library.

Round 7 closes the last "env-blocked" codec the multimodal dispatch
seam (operators/multimodal.py) listed: baseline sequential JPEG is
Huffman coding (pure Python bit I/O) over quantized 8×8 DCT blocks
(one numpy einsum per plane), and neither needs anything outside the
stdlib. Supported profile:

- encode: 8-bit RGB as 4:4:4 or 4:2:0 (2×2-mean chroma downsample,
  MCU-interleaved), or grayscale; standard Annex K quantization
  tables scaled by the libjpeg quality formula, standard Annex K
  Huffman tables, no restart markers; plus (r11) PROGRESSIVE (SOF2)
  — grayscale or color, arbitrary valid scan script, per-scan
  frequency-optimized Huffman tables (``encode_jpeg_progressive``);
- decode: baseline DCT (SOF0), 8-bit, grayscale or 3 components with
  sampling factors up to 2×2 (4:4:4, 4:2:2, and the ubiquitous
  4:2:0 — chroma nearest-neighbor upsampled), MCU-interleaved single
  scan, restart markers honored (DRI), 0xFF00 byte stuffing unwound;
  plus (r11) progressive (SOF2), grayscale AND 3-component color —
  spectral selection + successive approximation per T.81 Annex G
  (interleaved or per-component DC first/refine, per-component AC
  first with EOB runs, AC refinement with correction bits, restarts
  in every scan type), interop-pinned on real foreign-encoder
  progressive files (gray + 4:4:4 color + 4:2:0 color). 12-bit,
  arithmetic coding, >2×2 sampling, and component counts outside
  {1, 3} still raise ValueError — the dispatch's
  total-over-mixed-columns contract turns that into the
  deterministic fake, same as any other unsupported variant. Interop
  is tested against real-world encoder output (system libjpeg-era
  fixtures), not just self-consistency.

JPEG is lossy, so unlike BMP/PNG there is no bit-exact oracle twin:
correctness is pinned by bounded-error round-trips (flat blocks ±1,
Q=100 random blocks ±4 — the DCT+YCbCr rounding floor), an
IDCT∘FDCT≈identity property test, and self-consistency of the
Huffman tables (encode→decode reproduces the coefficient stream
exactly; the loss is ONLY quantization + color rounding).

Scale note: the codec runs inside Arrow-batched mapInPandas like its
siblings — per-doc constant cost, scan-parallel, shuffle-free.
"""

from __future__ import annotations

import struct
import array
from functools import lru_cache
from typing import Any

import numpy as np

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# (BITS[1..16], HUFFVAL) per table — Annex K defaults
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal DCT-II basis: dct = C @ block @ C.T, idct = C.T @ c @ C
_k = np.arange(8).reshape(1, 8)
_n = np.arange(8).reshape(8, 1)
DCT_C = np.sqrt(2.0 / 8.0) * np.cos((2 * _k + 1) * _n * np.pi / 16.0)
DCT_C[0, :] = np.sqrt(1.0 / 8.0)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality→table scaling (quality 100 ⇒ all-ones)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol → (code, length).
    Cached on the table definition — the Annex K tables recur on
    every encode call."""
    return _canonical_codes_cached(tuple(bits), tuple(vals))


@lru_cache(maxsize=64)
def _canonical_codes_cached(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> dict[int, tuple[int, int]]:
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[idx]] = (code, length)
            code += 1
            idx += 1
        code <<= 1
    return codes


@lru_cache(maxsize=64)
def _huff_lut(bits: tuple[int, ...], vals: tuple[int, ...]) -> array.array:
    """Build the 65536-entry 16-bit-peek LUT for one DHT definition:
    ``lut[next16bits]`` packs ``(code_length << 8) | symbol`` (0 =
    invalid prefix), so the decoder reads any symbol with one index.
    Canonical codes are ≤ 16 bits (T.81 C.2), so the peek window is
    total — and because a prefix code matches at most one codeword
    per window, a zero-padded peek at the stream tail decodes the
    SAME symbol a bit-serial walk would (the r9 rework dropped the
    bit-serial fallback map on this invariant). Cached on the
    segment contents: every Annex-K-encoded corpus shares 4 tables,
    so this builds a handful of times per executor ever. Stored as a
    stdlib ``array('i')`` (256 KiB) rather than a Python list
    (~2.5 MB of boxed ints): the cache key is untrusted DHT
    contents, so an adversarial corpus with 64 distinct tables would
    otherwise pin ~160 MB per Python worker (r9 ADVICE). Unlike a
    numpy ndarray (whose scalar indexing returns np.int32 and
    measured 2× slower in the symbol hot loop even via ``.item``),
    ``array('i')`` indexing returns plain Python ints at list speed."""
    arr = np.zeros(65536, dtype=np.int32)
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            arr[base : base + (1 << (16 - length))] = (length << 8) | vals[idx]
            code += 1
            idx += 1
        code <<= 1
    return array.array("i", arr.tolist())


def _decode_table(bits: list[int], vals: list[int]) -> array.array:
    """Decoder-side Huffman table (the peek LUT). Cached on the DHT
    contents: rebuilding the LUT per decoded document measured
    ~350 µs/doc on small images — a third of the whole decode."""
    return _huff_lut(tuple(bits), tuple(vals))


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        # Drop the emitted high bits: without this the accumulator
        # keeps every bit ever written and the left-shift above goes
        # quadratic in stream length (measured: 143 ms to encode a
        # 128×96 block at ~30 KB of entropy output).
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_marker(self, marker: int) -> None:
        """Byte-align, then write a raw (unstuffed) marker pair."""
        self.align()
        self.out += bytes([0xFF, marker])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _parse_dqt(body: bytes, qtabs: dict[int, np.ndarray]) -> None:
    """One DQT segment (possibly several tables) into ``qtabs`` —
    shared by the baseline and progressive marker walks (r11 review:
    the two walks had drifted-by-copy parsers)."""
    off = 0
    while off < len(body):
        pq, tq = body[off] >> 4, body[off] & 0xF
        if pq != 0:
            raise ValueError("16-bit quant tables unsupported")
        vals = np.frombuffer(
            body, dtype=np.uint8, count=64, offset=off + 1
        ).astype(np.int64)
        table = np.zeros(64, dtype=np.int64)
        table[ZIGZAG] = vals
        qtabs[tq] = table.reshape(8, 8)
        off += 65


def _parse_dht(
    body: bytes,
    dc_tabs: dict[int, array.array],
    ac_tabs: dict[int, array.array],
) -> None:
    """One DHT segment (possibly several tables) into the DC/AC LUT
    maps — shared by both marker walks."""
    off = 0
    while off < len(body):
        tc, th = body[off] >> 4, body[off] & 0xF
        bits = list(body[off + 1 : off + 17])
        n = sum(bits)
        vals = list(body[off + 17 : off + 17 + n])
        (ac_tabs if tc else dc_tabs)[th] = _decode_table(bits, vals)
        off += 17 + n


def _split_entropy_segments(data: bytes) -> list[bytes]:
    """Split the entropy-coded region at RSTn markers and unstuff
    each segment (FF 00 → FF) — ONE byte-level pass up front, so the
    per-coefficient decode loop carries no marker or stuffing checks
    at all (r9 rework; the old _BitReader paid a branch per byte).
    Any number of 0xFF fill bytes may pad before a marker (T.81
    B.1.1.2) — a run of FFs followed by an RSTn is one restart with
    the fill bytes excluded from the entropy data, same as the header
    marker walk. The region ends at the first FF(-run) followed by
    anything other than 00/D0–D7 (EOI or a following segment header);
    an FF-run followed by 00 is non-conformant (fill bytes precede
    markers, and 00 is not a marker code) and likewise ends the
    region — the caller's quota accounting then raises rather than
    guessing at desynchronized data."""
    segs: list[bytes] = []
    i = start = 0
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j == -1:
            segs.append(data[start:])
            break
        k = j + 1
        while k < n and data[k] == 0xFF:
            k += 1  # fill bytes before the marker code
        if k >= n:
            # trailing FF(-run): spec-pads as end of data
            segs.append(data[start:j])
            break
        nxt = data[k]
        if nxt == 0x00 and k == j + 1:
            i = j + 2  # stuffed FF — real data, skip the pad byte
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(data[start:j])  # fill FFs excluded
            start = i = k + 1
        else:
            segs.append(data[start:j])
            break
    return [s.replace(b"\xff\x00", b"\xff") for s in segs]


def _magnitude(v: int) -> tuple[int, int]:
    """Value → (size category, offset code) per T.81 F.1.2.1."""
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _edge_pad(plane: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Bottom/right edge-replication pad to (th, tw) via one fancy
    index. Value-identical to np.pad(mode="edge") — pure row/column
    selection, no arithmetic — but without np.pad's per-call Python
    overhead, which profiled at ~0.1 ms per call on the codec's tiny
    planes (~0.5 ms/doc across the 5 pad sites, ~19% of the whole
    jpeg_meta_stats per-doc budget — guide §4.2: per-task work).
    A target smaller than the plane raises ValueError: this pads,
    it never crops."""
    h, w = plane.shape
    if th < h or tw < w:
        raise ValueError(
            f"_edge_pad target {th}x{tw} is smaller than the {h}x{w} plane"
        )
    if th == h and tw == w:
        return plane
    ri = np.minimum(np.arange(th), h - 1)
    ci = np.minimum(np.arange(tw), w - 1)
    return plane[np.ix_(ri, ci)]


def _encode_baseline_scan(
    flat: list[np.ndarray],
    samp: list[tuple[int, int]],
    comp_bw: list[int],
    mcu_x: int,
    mcu_y: int,
    dc_tables: tuple[tuple[tuple[int, ...], tuple[int, ...]], ...],
    ac_tables: tuple[tuple[tuple[int, ...], tuple[int, ...]], ...],
    restart_interval: int,
) -> bytes:
    """Baseline entropy coder: one interpreted pass over the scan in
    MCU order, per-coefficient DC-diff/AC run-length symbols written
    through _BitWriter (byte stuffing, RSTn framing at every
    ``restart_interval`` MCUs). Its output is pinned against an
    independent scalar reference by tests/test_jpeg_scan_coder.py."""
    ncomp = len(flat)
    dc_codes = [_canonical_codes_cached(b, v) for b, v in dc_tables]
    ac_codes = [_canonical_codes_cached(b, v) for b, v in ac_tables]
    writer = _BitWriter()
    prev_dc = [0] * ncomp

    def write_block(ci: int, zz: np.ndarray) -> None:
        vals = zz.tolist()
        dc = vals[0]
        diff = dc - prev_dc[ci]
        prev_dc[ci] = dc
        size, mag = _magnitude(diff) if diff else (0, 0)
        code, length = dc_codes[ci][size]
        writer.write(code, length)
        if size:
            writer.write(mag, size)
        run = 0
        last_nz = 0
        for k in range(63, 0, -1):
            if vals[k]:
                last_nz = k
                break
        for k in range(1, last_nz + 1):
            v = vals[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[ci][0xF0]
                writer.write(code, length)
                run -= 16
            size, mag = _magnitude(v)
            code, length = ac_codes[ci][(run << 4) | size]
            writer.write(code, length)
            writer.write(mag, size)
            run = 0
        if last_nz < 63:
            code, length = ac_codes[ci][0x00]  # EOB
            writer.write(code, length)

    for mcu in range(mcu_x * mcu_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.emit_marker(0xD0 + ((mcu // restart_interval - 1) & 7))
            prev_dc[:] = [0] * ncomp
        my, mx = divmod(mcu, mcu_x)
        for ci in range(ncomp):
            hi, vi = samp[ci]
            for byi in range(vi):
                for bxi in range(hi):
                    row = my * vi + byi
                    col = mx * hi + bxi
                    write_block(ci, flat[ci][row * comp_bw[ci] + col])
    return writer.flush()


def _fdct_blocks(plane: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted blocks → DCT coefficients (one einsum)."""
    return np.einsum("ij,njk,lk->nil", DCT_C, plane, DCT_C)


def _idct_blocks(coefs: np.ndarray) -> np.ndarray:
    return np.einsum("ji,njk,kl->nil", DCT_C, coefs, DCT_C)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JPEG
    (``subsampling="444"`` for no chroma subsampling or ``"420"`` for
    the ubiquitous 2×2-downsampled-chroma profile), or an (h, w)
    uint8 array as a single-component grayscale JPEG (SOF0, Annex K
    quant + Huffman tables). ``restart_interval`` > 0 emits a DRI
    segment and an RST0–7 marker (byte-aligned, DC predictors reset)
    every that many MCUs."""
    gray = pixels.ndim == 2
    if gray:
        h, w = pixels.shape
    else:
        h, w, c = pixels.shape
        assert c == 3
    assert pixels.dtype == np.uint8
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    qy = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)

    if gray:
        planes = [pixels.astype(np.float64)]
        qtabs = [qy]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[:, :, i] for i in range(3)]
        qtabs = [qy, qc, qc]
        if subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
            # 2×2-mean chroma downsample (pad to even by edge
            # replication first so the means stay in-gamut)
            for i in (1, 2):
                p = planes[i]
                p = _edge_pad(p, h + h % 2, w + w % 2)
                planes[i] = 0.25 * (
                    p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]
                )
        else:
            samp = [(1, 1)] * 3
    ncomp = len(planes)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_x = -(-w // (8 * hmax))
    mcu_y = -(-h // (8 * vmax))

    # per component: edge-pad to its MCU-aligned grid, block, FDCT,
    # quantize, zigzag — kept as a (bh, bw, 64) grid for MCU emission
    flat: list[np.ndarray] = []
    comp_bw: list[int] = []
    comp_bh: list[int] = []
    for (hi, vi), plane, q in zip(samp, planes, qtabs):
        th, tw = mcu_y * 8 * vi, mcu_x * 8 * hi
        padded = _edge_pad(plane, th, tw)
        blocks = (
            padded.reshape(th // 8, 8, tw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        coefs = _fdct_blocks(blocks - 128.0)
        qz = np.round(coefs / q[None, :, :]).astype(np.int64)
        flat.append(qz.reshape(qz.shape[0], 64)[:, ZIGZAG])
        comp_bh.append(th // 8)
        comp_bw.append(tw // 8)

    dc_tables = (
        (tuple(DC_LUMA_BITS), tuple(DC_LUMA_VALS)),
        (tuple(DC_CHROMA_BITS), tuple(DC_CHROMA_VALS)),
        (tuple(DC_CHROMA_BITS), tuple(DC_CHROMA_VALS)),
    )[:ncomp]
    ac_tables = (
        (tuple(AC_LUMA_BITS), tuple(AC_LUMA_VALS)),
        (tuple(AC_CHROMA_BITS), tuple(AC_CHROMA_VALS)),
        (tuple(AC_CHROMA_BITS), tuple(AC_CHROMA_VALS)),
    )[:ncomp]

    # one entropy coder for every image size (see _encode_baseline_scan)
    entropy = _encode_baseline_scan(
        flat, samp, comp_bw, mcu_x, mcu_y, dc_tables, ac_tables,
        restart_interval,
    )

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, q in ((0, qy), (1, qc)):
        out += seg(
            0xFFDB,
            bytes([tid]) + bytes(int(x) for x in q.reshape(64)[ZIGZAG]),
        )
    comp_defs = (((1, 0),) if gray else ((1, 0), (2, 1), (3, 1)))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for (cid, qid), (hi, vi) in zip(comp_defs, samp):
        sof += bytes([cid, (hi << 4) | vi, qid])
    out += seg(0xFFC0, sof)
    huff_defs = [
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
    ]
    if not gray:
        huff_defs += [
            (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
    for tc_th, bits, vals in huff_defs:
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for cid, tabs in (((1, 0x00),) if gray else ((1, 0x00), (2, 0x11), (3, 0x11))):
        sos += bytes([cid, tabs])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(payload: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """Decode a baseline JPEG (SOF0, 8-bit, grayscale or 3-component
    with sampling factors up to 2×2 — 4:4:4, 4:2:2, and the
    ubiquitous 4:2:0, chroma nearest-neighbor-upsampled) into
    ((h, w, 3) uint8 RGB, metadata). Raises ValueError on any profile
    outside that (progressive, 12-bit, arithmetic coding, >2×2
    sampling)."""
    if len(payload) < 4 or payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, array.array] = {}
    ac_tabs: dict[int, array.array] = {}
    frame = None
    scan = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker code
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        size = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            _parse_dqt(body, qtabs)
        elif marker == 0xC4:  # DHT — possibly several tables
            _parse_dht(body, dc_tabs, ac_tabs)
        elif marker == 0xC0:  # SOF0 baseline
            precision = body[0]
            fh, fw = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            comps = []
            for i in range(nc):
                cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp, qid))
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError("only grayscale or 3-component JPEG supported")
            frame = (fh, fw, comps)
        elif marker == 0xC2:  # SOF2 progressive (r11)
            if len(body) >= 6 and body[5] in (1, 3):
                return _decode_progressive(payload)
            raise ValueError(
                "only grayscale or 3-component JPEG supported"
            )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sel = []
            for i in range(ns):
                cid, tabs = body[1 + 2 * i : 3 + 2 * i]
                sel.append((cid, tabs >> 4, tabs & 0xF))
            scan = sel
            pos = pos + 2 + size
            break
        pos = pos + 2 + size
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")

    fh, fw, comps = frame
    ncomp = len(comps)
    hs = [s >> 4 for _, s, _ in comps]
    vs = [s & 0xF for _, s, _ in comps]
    if any(not 1 <= f <= 2 for f in hs + vs):
        raise ValueError("sampling factors beyond 2x2 unsupported")
    if ncomp == 1:
        # T.81 A.2: a single-component scan is non-interleaved — one
        # data unit per MCU in raster order, regardless of the
        # sampling factors the frame header declares (encoders may
        # declare 2x2 for the sole component; honoring it would
        # scramble block order).
        hs = [1]
        vs = [1]
    hmax, vmax = max(hs), max(vs)
    mcu_x = -(-fw // (8 * hmax))
    mcu_y = -(-fh // (8 * vmax))
    n_mcus = mcu_x * mcu_y
    comp_bw = [mcu_x * h for h in hs]
    comp_bh = [mcu_y * v for v in vs]
    # Validate every table/component reference before use: a payload
    # with JPEG magic whose SOF/SOS name undefined tables must raise
    # ValueError (the codec-dispatch fallback contract), not KeyError.
    for _, _, qid in comps:
        if qid not in qtabs:
            raise ValueError(f"SOF references undefined quant table {qid}")
    for cid, d, a in scan:
        if d not in dc_tabs:
            raise ValueError(f"SOS references undefined DC table {d}")
        if a not in ac_tabs:
            raise ValueError(f"SOS references undefined AC table {a}")
    scan_ids = {cid for cid, _, _ in scan}
    for cid, _, _ in comps:
        if cid not in scan_ids:
            raise ValueError(f"frame component {cid} missing from scan")
    comp_q = [qtabs[qid] for _, _, qid in comps]
    # scan order may differ from frame order — map tables by comp id
    dcmap = {cid: dc_tabs[d] for cid, d, _ in scan}
    acmap = {cid: ac_tabs[a] for cid, _, a in scan}
    comp_dc = [dcmap[cid] for cid, _, _ in comps]
    comp_ac = [acmap[cid] for cid, _, _ in comps]

    coefs = [
        np.zeros((comp_bh[i] * comp_bw[i], 64), dtype=np.int64)
        for i in range(ncomp)
    ]

    # --- entropy decode (r9 rework: segment-based, inlined) ---
    # Segments are split at RSTn markers and unstuffed ONCE, so the
    # hot loop below is pure local-variable bit arithmetic — no
    # marker/stuffing branches, no per-coefficient method calls (the
    # old _BitReader walk spent ~1M Python calls on a 512x384 decode;
    # this form measured −14% wall-clock on the 512×384 fixture
    # (SCALING.md round 9 — the profiler's 2–3× was instrumentation
    # artifact), byte/pixel-identical over the
    # 302-case golden corpus + the real-encoder fixtures).
    #
    # Restart contract (same guarantees as before, enforced
    # structurally): a DRI stream must carry exactly
    # floor((n_mcus-1)/dri) markers (a count mismatch raises the
    # count-aware accounting ValueError), every non-final segment
    # must be consumed to within its <8 pad bits by its MCU quota (a
    # marker that arrives early or late therefore raises the explicit
    # expected-restart ValueError instead of desynchronizing — r9
    # ADVICE), and only the FINAL segment may zero-pad past its end
    # (T.81 stream-tail semantics). A single trailing empty segment
    # (some real encoders emit RSTn after the last MCU) is tolerated
    # and dropped.
    segs = _split_entropy_segments(payload[pos:])
    n_rst_expected = (n_mcus - 1) // restart_interval if restart_interval else 0
    # the trailing-empty tolerance applies only to DRI streams: a
    # non-DRI stream with a stray RSTn right before EOI must fail the
    # marker accounting loudly, not be silently trimmed (r10 ADVICE)
    if (
        restart_interval
        and len(segs) == n_rst_expected + 2
        and segs[-1] == b""
    ):
        segs = segs[:-1]
    if len(segs) != n_rst_expected + 1:
        # count-aware: this path fires for BOTH too few markers (a
        # DRI stream missing one) and too many (a stray RSTn in a
        # non-DRI stream) — the old "expected restart marker" text
        # pointed triage the wrong way in the second case
        raise ValueError(
            f"restart marker accounting mismatch in JPEG stream: "
            f"{len(segs) - 1} markers for {n_rst_expected} expected"
        )

    mcu = 0
    for si, seg in enumerate(segs):
        is_last = si == len(segs) - 1
        quota = (
            min(restart_interval, n_mcus - mcu) if restart_interval else n_mcus
        )
        prev_dc = [0] * ncomp
        acc = 0
        nbits = 0
        p = 0
        nseg = len(seg)
        for _ in range(quota):
            my, mx = divmod(mcu, mcu_x)
            # MCU-interleaved order (T.81 A.2.3): every component
            # contributes its v_i x h_i block grid per MCU
            for ci in range(ncomp):
                dlut = comp_dc[ci]
                alut = comp_ac[ci]
                hci = hs[ci]
                vci = vs[ci]
                bw = comp_bw[ci]
                cf = coefs[ci]
                dc = prev_dc[ci]
                for byi in range(vci):
                    for bxi in range(hci):
                        vals = [0] * 64
                        # --- DC size symbol ---
                        if nbits < 16:
                            acc &= (1 << nbits) - 1
                            while nbits <= 24 and p < nseg:
                                acc = (acc << 8) | seg[p]
                                p += 1
                                nbits += 8
                        if nbits >= 16:
                            t = dlut[(acc >> (nbits - 16)) & 0xFFFF]
                        else:
                            # segment tail: zero-padded peek decodes
                            # the same symbol a bit-serial walk would
                            # (prefix-code invariant, see _huff_lut)
                            t = dlut[(acc << (16 - nbits)) & 0xFFFF]
                        length = t >> 8
                        if not length:
                            raise ValueError(
                                "invalid Huffman code in JPEG stream"
                            )
                        if length > nbits:
                            # consumed phantom zeros past the segment:
                            # legal only at the true stream tail
                            if not is_last:
                                raise ValueError(
                                    "expected restart marker in JPEG "
                                    "stream"
                                )
                            nbits = 0
                        else:
                            nbits -= length
                        size = t & 0xFF
                        if size > 11:
                            # T.81 F.1.2.1.1: 8-bit DC diff categories
                            # are 0..11 — an adversarial DHT can map a
                            # code to any byte, and an unchecked size
                            # shifts the magnitude past int64 (an
                            # OverflowError the dispatch fallback
                            # doesn't own, r11 review finding)
                            raise ValueError(
                                "invalid DC size symbol in JPEG stream"
                            )
                        # --- DC magnitude ---
                        if size:
                            if nbits < size:
                                acc &= (1 << nbits) - 1
                                while nbits <= 24 and p < nseg:
                                    acc = (acc << 8) | seg[p]
                                    p += 1
                                    nbits += 8
                            if nbits >= size:
                                nbits -= size
                                mv = (acc >> nbits) & ((1 << size) - 1)
                            elif is_last:
                                mv = (
                                    (acc & ((1 << nbits) - 1))
                                    << (size - nbits)
                                    if nbits
                                    else 0
                                )
                                nbits = 0
                            else:
                                raise ValueError(
                                    "expected restart marker in JPEG stream"
                                )
                            if mv < (1 << (size - 1)):
                                mv -= (1 << size) - 1
                            dc += mv
                        vals[0] = dc
                        # --- AC run-length loop ---
                        k = 1
                        while k < 64:
                            if nbits < 16:
                                acc &= (1 << nbits) - 1
                                while nbits <= 24 and p < nseg:
                                    acc = (acc << 8) | seg[p]
                                    p += 1
                                    nbits += 8
                            if nbits >= 16:
                                t = alut[(acc >> (nbits - 16)) & 0xFFFF]
                            else:
                                t = alut[(acc << (16 - nbits)) & 0xFFFF]
                            length = t >> 8
                            if not length:
                                raise ValueError(
                                    "invalid Huffman code in JPEG stream"
                                )
                            if length > nbits:
                                if not is_last:
                                    raise ValueError(
                                        "expected restart marker in "
                                        "JPEG stream"
                                    )
                                nbits = 0
                            else:
                                nbits -= length
                            rs = t & 0xFF
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            size = rs & 0xF
                            if k > 63:
                                raise ValueError(
                                    "AC coefficient index overflow"
                                )
                            if nbits < size:
                                acc &= (1 << nbits) - 1
                                while nbits <= 24 and p < nseg:
                                    acc = (acc << 8) | seg[p]
                                    p += 1
                                    nbits += 8
                            if nbits >= size:
                                nbits -= size
                                mv = (acc >> nbits) & ((1 << size) - 1)
                            elif is_last:
                                mv = (
                                    (acc & ((1 << nbits) - 1))
                                    << (size - nbits)
                                    if nbits
                                    else 0
                                )
                                nbits = 0
                            else:
                                raise ValueError(
                                    "expected restart marker in JPEG stream"
                                )
                            if size and mv < (1 << (size - 1)):
                                mv -= (1 << size) - 1
                            vals[k] = mv
                            k += 1
                        # one vectorized row-assign per block —
                        # per-coefficient numpy stores dominated the
                        # old profile
                        cf[(my * vci + byi) * bw + mx * hci + bxi] = vals
                prev_dc[ci] = dc
            mcu += 1
        if not is_last and (p < nseg or nbits >= 8):
            # real entropy bits remain where the marker should be:
            # the RSTn in the stream is later than the MCU quota says
            raise ValueError("expected restart marker in JPEG stream")

    planes = []
    for ci in range(ncomp):
        nb = comp_bh[ci] * comp_bw[ci]
        dez = np.zeros((nb, 64), dtype=np.int64)
        dez[:, ZIGZAG] = coefs[ci]
        blocks = _idct_blocks(
            dez.reshape(nb, 8, 8).astype(np.float64) * comp_q[ci][None, :, :]
        )
        plane = (
            blocks.reshape(comp_bh[ci], comp_bw[ci], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(comp_bh[ci] * 8, comp_bw[ci] * 8)
            + 128.0
        )
        # subsampled chroma → nearest-neighbor upsample to full res
        ry, rx = vmax // vs[ci], hmax // hs[ci]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:fh, :fw])
    if ncomp == 1:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        fmt = "jpeg/gray8"
    else:
        rgb = _ycbcr_to_rgb(planes[0], planes[1], planes[2])
        fmt = "jpeg/baseline"
    return rgb, {"width": int(fw), "height": int(fh), "format": fmt}


# ---------------------------------------------------------------------------
# Progressive (SOF2) grayscale — r11, VERDICT r10 "What's missing" #3
# ---------------------------------------------------------------------------
# Spectral selection + successive approximation per ITU-T T.81 Annex G
# (Huffman procedures G.1.2/G.2), scoped grayscale-first: single-
# component scans are non-interleaved (one block per MCU, raster
# order), which removes the sampling-grid dimension while exercising
# every entropy structure progressive adds — DC first/refine scans,
# AC first scans with EOB runs, AC refinement with correction bits,
# and restart markers inside every scan type. Color progressive stays
# loudly rejected in decode_jpeg until it is real.

#: libjpeg's standard luma scan script (jcparam.c) — the shape real
#: progressive grayscale files overwhelmingly carry: DC first at
#: Al=1, two spectral AC bands at Al=2, an AC refinement to Al=1,
#: the DC refinement, and the final AC refinement to Al=0.
PROGRESSIVE_GRAY_SCANS: tuple[tuple[int, int, int, int], ...] = (
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 63, 2, 1),
    (0, 0, 1, 0),
    (1, 63, 1, 0),
)


class _ProgReader:
    """Bit reader over ONE unstuffed entropy segment (progressive
    path). Cold relative to the baseline hot loop, so this favors
    clarity over the baseline's inlined locals; the tail semantics
    are identical — reads past the end of a NON-final segment mean a
    restart marker arrived late (raise), reads past the true stream
    tail zero-pad (T.81 stream-tail semantics, same invariant the
    baseline decoder and ``_huff_lut``'s zero-padded peek rely on)."""

    __slots__ = ("seg", "n", "p", "acc", "nbits", "is_last")

    def __init__(self, seg: bytes, is_last: bool) -> None:
        self.seg = seg
        self.n = len(seg)
        self.p = 0
        self.acc = 0
        self.nbits = 0
        self.is_last = is_last

    def _fill(self) -> None:
        while self.nbits <= 24 and self.p < self.n:
            self.acc = ((self.acc & ((1 << self.nbits) - 1)) << 8) | self.seg[
                self.p
            ]
            self.p += 1
            self.nbits += 8

    def huff(self, lut: array.array) -> int:
        if self.nbits < 16:
            self._fill()
        if self.nbits >= 16:
            t = lut[(self.acc >> (self.nbits - 16)) & 0xFFFF]
        else:
            t = lut[((self.acc & ((1 << self.nbits) - 1)) << (16 - self.nbits)) & 0xFFFF]
        length = t >> 8
        if not length:
            raise ValueError("invalid Huffman code in JPEG stream")
        if length > self.nbits:
            if not self.is_last:
                raise ValueError("expected restart marker in JPEG stream")
            self.nbits = 0
        else:
            self.nbits -= length
        return t & 0xFF

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.nbits < k:
            self._fill()
        if self.nbits >= k:
            self.nbits -= k
            return (self.acc >> self.nbits) & ((1 << k) - 1)
        if self.is_last:
            v = (
                (self.acc & ((1 << self.nbits) - 1)) << (k - self.nbits)
                if self.nbits
                else 0
            )
            self.nbits = 0
            return v
        raise ValueError("expected restart marker in JPEG stream")

    def leftover(self) -> bool:
        """Real entropy content remains (more than pad bits)."""
        return self.p < self.n or self.nbits >= 8


def _refine_ac(
    rd: _ProgReader,
    vals: list[int],
    ss: int,
    se: int,
    al: int,
    eobrun: int,
    ac_lut: array.array,
) -> int:
    """One block of an AC successive-approximation refinement scan
    (T.81 G.1.2.3 / libjpeg jdphuff.c decode_mcu_AC_refine): newly
    nonzero coefficients arrive as ±1<<Al, every already-nonzero
    coefficient passed on the way (and every one left in the band
    during an EOB run) receives a correction bit."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.huff(ac_lut)
            r, s = rs >> 4, rs & 15
            if s:
                if s != 1:
                    raise ValueError(
                        "invalid AC refinement symbol in JPEG stream"
                    )
                s = p1 if rd.bits(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += rd.bits(r)
                break
            # advance over r zero-history coefficients, correcting
            # the nonzero ones passed (they don't consume the run)
            while k <= se:
                c = vals[k]
                if c != 0:
                    if rd.bits(1) and (c & p1) == 0:
                        vals[k] = c + (p1 if c >= 0 else m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if s:
                if k > se:
                    raise ValueError(
                        "AC refinement newly-nonzero position past Se"
                    )
                vals[k] = s
            k += 1
    if eobrun > 0:
        while k <= se:
            c = vals[k]
            if c != 0:
                if rd.bits(1) and (c & p1) == 0:
                    vals[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive(payload: bytes) -> tuple[np.ndarray, dict[str, Any]]:
    """Decode a progressive JPEG (SOF2, 8-bit, grayscale or 3
    components with sampling factors up to 2x2) — r11 grayscale,
    extended to color in the same round once the grayscale entropy
    machinery was pinned on a real file.

    Its own marker walk (tables MAY be redefined between scans, and
    the scan loop continues past each SOS instead of breaking at the
    first one like the baseline path); the per-component coefficient
    grids persist across scans and the IDCT runs once at EOI.

    Scan shapes per T.81: a multi-component scan must be a DC scan
    and iterates the MCU grid (each component contributing its
    v_i x h_i blocks per MCU, dummy pad blocks included — their DC
    keeps the predictors in sync); a single-component scan is
    non-interleaved and iterates that component's REAL block grid
    (ceil(comp_pix/8), raster order), which for subsampled chroma is
    smaller than its MCU-padded storage grid. Restart handling
    reuses the baseline contract per scan: count-aware marker
    accounting over the scan's unit count (MCUs or blocks),
    per-segment quotas, entropy state (DC predictors + EOB run)
    reset at every restart."""
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, array.array] = {}
    ac_tabs: dict[int, array.array] = {}
    frame = None
    restart_interval = 0
    coefs: list[list[list[int]]] = []
    saw_scan = False
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG stream")
        size = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + size]
        if marker == 0xDB:
            _parse_dqt(body, qtabs)
        elif marker == 0xC4:
            _parse_dht(body, dc_tabs, ac_tabs)
        elif marker == 0xC2:
            precision = body[0]
            fh, fw = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(
                    "only grayscale or 3-component JPEG supported"
                )
            comps = []
            for i in range(nc):
                cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 0xF, qid))
            hs = [c[1] for c in comps]
            vs = [c[2] for c in comps]
            if any(not 1 <= f <= 2 for f in hs + vs):
                raise ValueError("sampling factors beyond 2x2 unsupported")
            if nc == 1:
                # single-component frames are non-interleaved per
                # T.81 A.2 regardless of declared sampling
                hs = [1]
                vs = [1]
            hmax, vmax = max(hs), max(vs)
            mcu_x = -(-fw // (8 * hmax))
            mcu_y = -(-fh // (8 * vmax))
            # storage grid is MCU-padded (interleaved DC scans visit
            # dummy blocks); real grid is what non-interleaved scans
            # cover
            comp_bw = [mcu_x * h for h in hs]
            comp_bh = [mcu_y * v for v in vs]
            # ceil(ceil(dim * f / fmax) / 8) — the component's true
            # pixel extent in blocks (T.81 A.1.1)
            comp_pw = [-(-fw * hs[i] // hmax) for i in range(nc)]
            comp_ph = [-(-fh * vs[i] // vmax) for i in range(nc)]
            real_bw = [-(-pw // 8) for pw in comp_pw]
            real_bh = [-(-ph // 8) for ph in comp_ph]
            frame = (fh, fw, nc, comps, hs, vs, hmax, vmax, mcu_x, mcu_y,
                     comp_bw, comp_bh, real_bw, real_bh)
            coefs = [
                [[0] * 64 for _ in range(comp_bw[i] * comp_bh[i])]
                for i in range(nc)
            ]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("unexpected second frame marker in JPEG stream")
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG scan before SOF2 frame header")
            (fh, fw, nc, comps, hs, vs, hmax, vmax, mcu_x, mcu_y,
             comp_bw, comp_bh, real_bw, real_bh) = frame
            ns = body[0]
            cid_to_idx = {comps[i][0]: i for i in range(nc)}
            sel = []
            for i in range(ns):
                scid, tabs = body[1 + 2 * i], body[2 + 2 * i]
                if scid not in cid_to_idx:
                    raise ValueError("scan component not in SOF2 frame")
                sel.append((cid_to_idx[scid], tabs >> 4, tabs & 0xF))
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if ss == 0 and se != 0:
                raise ValueError(
                    "progressive scan with Ss=0 must have Se=0 "
                    "(spectral selection, T.81 B.2.3)"
                )
            if ss > se or se > 63:
                raise ValueError("bad spectral selection in JPEG scan")
            if ah and ah != al + 1:
                raise ValueError(
                    "successive approximation must refine one bit "
                    "per scan (Ah must equal Al+1)"
                )
            if ns > 1 and ss != 0:
                raise ValueError(
                    "progressive AC scans must be single-component "
                    "(T.81 B.2.3)"
                )
            dc_luts = [None] * len(sel)
            ac_lut = None
            if ss == 0 and ah == 0:
                for i, (_, d, _a) in enumerate(sel):
                    if d not in dc_tabs:
                        raise ValueError(
                            f"SOS references undefined DC table {d}"
                        )
                    dc_luts[i] = dc_tabs[d]
            elif ss > 0:
                a = sel[0][2]
                if a not in ac_tabs:
                    raise ValueError(
                        f"SOS references undefined AC table {a}"
                    )
                ac_lut = ac_tabs[a]
            # unit geometry: interleaved scans walk MCUs; a
            # single-component scan walks that component's real grid
            if ns > 1:
                n_units = mcu_x * mcu_y
            else:
                ci0 = sel[0][0]
                if nc == 1:
                    n_units = comp_bw[0] * comp_bh[0]
                else:
                    n_units = real_bw[ci0] * real_bh[ci0]
            scan_start = pos + 2 + size
            scan_end = _entropy_end(payload, scan_start)
            segs = _split_entropy_segments(payload[scan_start:scan_end])
            n_rst = (n_units - 1) // restart_interval if restart_interval else 0
            if restart_interval and len(segs) == n_rst + 2 and segs[-1] == b"":
                segs = segs[:-1]
            if len(segs) != n_rst + 1:
                raise ValueError(
                    f"restart marker accounting mismatch in JPEG stream: "
                    f"{len(segs) - 1} markers for {n_rst} expected"
                )
            unit = 0
            for si, seg in enumerate(segs):
                is_last = si == len(segs) - 1
                quota = (
                    min(restart_interval, n_units - unit)
                    if restart_interval
                    else n_units
                )
                rd = _ProgReader(seg, is_last)
                preds = [0] * len(sel)
                eobrun = 0
                for _ in range(quota):
                    if ns > 1:
                        # interleaved DC scan: MCU order, every scan
                        # component's v_i x h_i block grid
                        my, mx = divmod(unit, mcu_x)
                        for i, (ci, _d, _a) in enumerate(sel):
                            for byi in range(vs[ci]):
                                for bxi in range(hs[ci]):
                                    row = my * vs[ci] + byi
                                    col = mx * hs[ci] + bxi
                                    vals = coefs[ci][row * comp_bw[ci] + col]
                                    if ah == 0:
                                        t = rd.huff(dc_luts[i])
                                        if t > 11:  # T.81 F.1.2.1.1
                                            raise ValueError(
                                                "invalid DC size symbol "
                                                "in JPEG stream"
                                            )
                                        preds[i] += (
                                            _extend(rd.bits(t), t) if t else 0
                                        )
                                        vals[0] = preds[i] << al
                                    elif rd.bits(1):
                                        vals[0] |= 1 << al
                    else:
                        ci = sel[0][0]
                        if nc == 1:
                            idx = unit
                        else:
                            by, bx = divmod(unit, real_bw[ci])
                            idx = by * comp_bw[ci] + bx
                        vals = coefs[ci][idx]
                        if ss == 0 and ah == 0:
                            t = rd.huff(dc_luts[0])
                            if t > 11:  # T.81 F.1.2.1.1
                                raise ValueError(
                                    "invalid DC size symbol in JPEG stream"
                                )
                            preds[0] += _extend(rd.bits(t), t) if t else 0
                            vals[0] = preds[0] << al
                        elif ss == 0:
                            if rd.bits(1):
                                vals[0] |= 1 << al
                        elif ah == 0:
                            if eobrun:
                                eobrun -= 1
                            else:
                                k = ss
                                while k <= se:
                                    rs = rd.huff(ac_lut)
                                    r, s = rs >> 4, rs & 15
                                    if s == 0:
                                        if r != 15:
                                            eobrun = (1 << r) - 1
                                            if r:
                                                eobrun += rd.bits(r)
                                            break
                                        k += 16
                                    else:
                                        k += r
                                        if k > se:
                                            raise ValueError(
                                                "AC coefficient index "
                                                "overflow"
                                            )
                                        vals[k] = _extend(rd.bits(s), s) << al
                                        k += 1
                        else:
                            eobrun = _refine_ac(
                                rd, vals, ss, se, al, eobrun, ac_lut
                            )
                    unit += 1
                if not is_last and rd.leftover():
                    raise ValueError("expected restart marker in JPEG stream")
            saw_scan = True
            pos = scan_end
            continue
        pos = pos + 2 + size
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF2/SOS")
    (fh, fw, nc, comps, hs, vs, hmax, vmax, mcu_x, mcu_y,
     comp_bw, comp_bh, real_bw, real_bh) = frame
    planes = []
    for ci in range(nc):
        qid = comps[ci][3]
        if qid not in qtabs:
            raise ValueError(f"SOF references undefined quant table {qid}")
        nb = comp_bw[ci] * comp_bh[ci]
        dez = np.zeros((nb, 64), dtype=np.int64)
        dez[:, ZIGZAG] = np.asarray(coefs[ci], dtype=np.int64)
        blocks = _idct_blocks(
            dez.reshape(nb, 8, 8).astype(np.float64) * qtabs[qid][None, :, :]
        )
        plane = (
            blocks.reshape(comp_bh[ci], comp_bw[ci], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(comp_bh[ci] * 8, comp_bw[ci] * 8)
            + 128.0
        )
        ry, rx = vmax // vs[ci], hmax // hs[ci]
        if ry > 1:
            plane = np.repeat(plane, ry, axis=0)
        if rx > 1:
            plane = np.repeat(plane, rx, axis=1)
        planes.append(plane[:fh, :fw])
    if nc == 1:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        fmt = "jpeg/progressive-gray8"
    else:
        rgb = _ycbcr_to_rgb(planes[0], planes[1], planes[2])
        fmt = "jpeg/progressive"
    return rgb, {"width": int(fw), "height": int(fh), "format": fmt}


def _entropy_end(payload: bytes, pos: int) -> int:
    """Index of the marker that terminates the entropy-coded region
    starting at ``pos`` — the first FF(-run) followed by anything
    other than a stuffed 00 or an RSTn (same region rule as
    ``_split_entropy_segments``, which needs the bytes; the
    progressive scan walk also needs the END to resume the marker
    loop)."""
    i = pos
    n = len(payload)
    while True:
        j = payload.find(b"\xff", i)
        if j == -1:
            return n
        k = j + 1
        while k < n and payload[k] == 0xFF:
            k += 1
        if k >= n:
            return n
        nxt = payload[k]
        if nxt == 0x00 and k == j + 1:
            i = j + 2  # stuffed FF — entropy data
        elif 0xD0 <= nxt <= 0xD7:
            i = k + 1  # restart marker — still inside the region
        else:
            return j


def _optimal_huffman(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """Frequency-optimized Huffman table (T.81 Annex K.2 flowcharts /
    libjpeg jchuff.c jpeg_gen_optimal_table): progressive scans NEED
    this — the EOBn symbols (0x10..0xE0) don't exist in the Annex K
    sequential tables (their code space is 65535/65536 full, room for
    exactly one more length-16 code), so real progressive files ship
    optimized per-scan tables and this encoder does the same. Returns
    (BITS[1..16], HUFFVAL) for the DHT segment. The reserved
    256-pseudo-symbol guarantees no real symbol gets the all-ones
    code, per the spec."""
    f = [0] * 257
    for sym, n in freq.items():
        f[sym] = n
    f[256] = 1
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = -1
        v = None
        for i in range(257):
            if 0 < f[i] and (v is None or f[i] <= v):
                v = f[i]
                c1 = i
        c2 = -1
        v = None
        for i in range(257):
            if 0 < f[i] and i != c1 and (v is None or f[i] <= v):
                v = f[i]
                c2 = i
        if c2 < 0:
            break
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            if codesize[i] > 32:
                # jchuff.c's JERR_HUFF_CLEN_OVERFLOW twin: a
                # Fibonacci-like frequency skew can push raw lengths
                # past 32, which the 16-bit adjustment below can't
                # absorb (r11 review finding)
                raise ValueError(
                    "Huffman code length overflow in progressive scan"
                )
            bits[codesize[i]] += 1
    # JPEG caps code length at 16: push overflow pairs up (jchuff.c)
    for i in range(32, 16, -1):
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved pseudo-symbol's code point
    vals = []
    for length in range(1, 33):
        for sym in range(256):
            if codesize[sym] == length:
                vals.append(sym)
    return bits[1:17], vals


class _ScanWriter:
    """Emission sink for one progressive scan (pass 2): canonical
    codes over the scan's optimized tables into a _BitWriter."""

    def __init__(
        self,
        dc_table: tuple[list[int], list[int]] | None,
        ac_table: tuple[list[int], list[int]] | None,
    ) -> None:
        self.w = _BitWriter()
        self.dc = _canonical_codes(*dc_table) if dc_table else None
        self.ac = _canonical_codes(*ac_table) if ac_table else None

    def dc_symbol(self, s: int) -> None:
        code, ln = self.dc[s]
        self.w.write(code, ln)

    def ac_symbol(self, s: int) -> None:
        code, ln = self.ac[s]
        self.w.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.w.write(v, n)

    def restart(self, idx: int) -> None:
        self.w.emit_marker(0xD0 + (idx & 7))

    def flush(self) -> bytes:
        return self.w.flush()


class _ScanCounter:
    """Emission sink for pass 1: symbol frequencies only (raw bits
    and restarts don't influence the table)."""

    def __init__(self) -> None:
        self.dc_freq: dict[int, int] = {}
        self.ac_freq: dict[int, int] = {}

    def dc_symbol(self, s: int) -> None:
        self.dc_freq[s] = self.dc_freq.get(s, 0) + 1

    def ac_symbol(self, s: int) -> None:
        self.ac_freq[s] = self.ac_freq.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass

    def restart(self, idx: int) -> None:
        pass


def _emit_progressive_scan(
    grids: list[list[list[int]]],
    sel: list[int],
    geom: tuple,
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
    sink,
) -> None:
    """Drive one scan's entropy emission into ``sink`` (T.81 Annex G
    encode procedures / libjpeg jcphuff.c): DC first scans use the
    arithmetic point transform, AC scans the magnitude one; EOB runs
    accumulate across blocks with AC-refinement correction bits
    buffered until the next emitted symbol; restarts flush the run,
    realign, and reset the DC predictors. A multi-component ``sel``
    (DC scans only) walks the MCU grid, each component contributing
    its v_i x h_i blocks per MCU (dummy pad blocks included); a
    single-component sel walks that component's REAL block grid.
    Identical symbol stream on both passes — the counter and the
    writer see the same calls."""
    hs, vs, mcu_x, mcu_y, comp_bw, real_bw, real_bh = geom
    eobrun = 0
    pending: list[int] = []  # correction bits owed to the EOB run

    def flush_eobrun() -> None:
        nonlocal eobrun, pending
        if eobrun:
            nbits = eobrun.bit_length() - 1
            sink.ac_symbol(nbits << 4)
            sink.bits(eobrun, nbits)
            for b in pending:
                sink.bits(b, 1)
            pending = []
            eobrun = 0

    preds = [0] * len(sel)

    def dc_block(i: int, vals: list[int]) -> None:
        if ah == 0:
            v = vals[0] >> al  # arithmetic point transform (G.1.2.1)
            diff = v - preds[i]
            preds[i] = v
            size, mag = _magnitude(diff) if diff else (0, 0)
            sink.dc_symbol(size)
            sink.bits(mag, size)
        else:
            sink.bits((vals[0] >> al) & 1, 1)

    def ac_block(vals: list[int]) -> None:
        nonlocal eobrun, pending
        if ah == 0:
            r = 0
            for k in range(ss, se + 1):
                v = vals[k]
                t = -((-v) >> al) if v < 0 else v >> al  # magnitude shift
                if t == 0:
                    r += 1
                    continue
                flush_eobrun()
                while r > 15:
                    sink.ac_symbol(0xF0)
                    r -= 16
                size, mag = _magnitude(t)
                sink.ac_symbol((r << 4) | size)
                sink.bits(mag, size)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eobrun()
        else:
            absvals = []
            eob_pos = ss - 1  # position of the last newly-nonzero coef
            for k in range(ss, se + 1):
                a = (-vals[k] if vals[k] < 0 else vals[k]) >> al
                absvals.append(a)
                if a == 1:
                    eob_pos = k
            r = 0
            br: list[int] = []
            for k in range(ss, se + 1):
                t = absvals[k - ss]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_pos:
                    flush_eobrun()
                    sink.ac_symbol(0xF0)
                    r -= 16
                    for b in br:
                        sink.bits(b, 1)
                    br = []
                if t > 1:
                    # nonzero scan history: one correction bit,
                    # buffered until the next emitted symbol
                    br.append(t & 1)
                    continue
                flush_eobrun()
                sink.ac_symbol((r << 4) | 1)
                sink.bits(0 if vals[k] < 0 else 1, 1)
                for b in br:
                    sink.bits(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                pending.extend(br)
                if eobrun == 0x7FFF:
                    flush_eobrun()

    if len(sel) > 1:
        n_units = mcu_x * mcu_y
    else:
        ci0 = sel[0]
        n_units = real_bw[ci0] * real_bh[ci0]
    for unit in range(n_units):
        if restart_interval and unit and unit % restart_interval == 0:
            flush_eobrun()
            sink.restart(unit // restart_interval - 1)
            preds[:] = [0] * len(sel)
        if len(sel) > 1:
            my, mx = divmod(unit, mcu_x)
            for i, ci in enumerate(sel):
                for byi in range(vs[ci]):
                    for bxi in range(hs[ci]):
                        row = my * vs[ci] + byi
                        col = mx * hs[ci] + bxi
                        dc_block(i, grids[ci][row * comp_bw[ci] + col])
        else:
            ci = sel[0]
            by, bx = divmod(unit, real_bw[ci])
            vals = grids[ci][by * comp_bw[ci] + bx]
            if ss == 0:
                dc_block(0, vals)
            else:
                ac_block(vals)
    flush_eobrun()


#: libjpeg's standard 3-component scan script (jcparam.c): one
#: interleaved DC first scan, luma/chroma spectral bands, refinement
#: chains down to Al=0, one interleaved DC refinement.
PROGRESSIVE_COLOR_SCANS: tuple[tuple, ...] = (
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
)


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 90,
    restart_interval: int = 0,
    scans: tuple[tuple, ...] | None = None,
    subsampling: str = "444",
) -> bytes:
    """Encode an (h, w) uint8 grayscale array or an (h, w, 3) uint8
    RGB array as a progressive JPEG (SOF2) with the given scan script
    (defaults: libjpeg's standard luma / 3-component scripts) and
    per-scan frequency-optimized Huffman tables (progressive streams
    can't reuse the Annex K sequential tables — they lack the EOBn
    symbols). Grayscale scan entries are (Ss, Se, Ah, Al); color
    entries are (comps, Ss, Se, Ah, Al) with comps a tuple of
    component indices (multi-component entries must be DC scans, per
    T.81 B.2.3 — they emit in MCU-interleaved order with one shared
    optimized DC table).

    The quantized coefficient grids are IDENTICAL to ``encode_jpeg``'s
    (same pad → FDCT → quantize → zigzag, same 4:4:4 / 4:2:0 chroma
    prep), and a progressive scan script partitions exactly those
    coefficient bits across scans — so decoding the progressive
    stream reproduces the baseline decode's pixels BIT-FOR-BIT, which
    is what the round-trip tests pin."""
    gray = pixels.ndim == 2
    assert pixels.dtype == np.uint8
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if gray:
        h, w = pixels.shape
        planes = [pixels.astype(np.float64)]
        qtabs = [_quality_scale(QUANT_LUMA, quality)]
        samp = [(1, 1)]
        if scans is None:
            scans = PROGRESSIVE_GRAY_SCANS
        scans = tuple(
            ((0,),) + tuple(sc) if len(sc) == 4 else tuple(sc)
            for sc in scans
        )
    else:
        h, w, c = pixels.shape
        assert c == 3
        qy = _quality_scale(QUANT_LUMA, quality)
        qc = _quality_scale(QUANT_CHROMA, quality)
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[:, :, i] for i in range(3)]
        qtabs = [qy, qc, qc]
        if subsampling == "420":
            samp = [(2, 2), (1, 1), (1, 1)]
            for i in (1, 2):
                p = planes[i]
                p = _edge_pad(p, h + h % 2, w + w % 2)
                planes[i] = 0.25 * (
                    p[0::2, 0::2] + p[0::2, 1::2]
                    + p[1::2, 0::2] + p[1::2, 1::2]
                )
        else:
            samp = [(1, 1)] * 3
        if scans is None:
            scans = PROGRESSIVE_COLOR_SCANS
        scans = tuple(tuple(sc) for sc in scans)
    ncomp = len(planes)
    hs = [s[0] for s in samp]
    vs = [s[1] for s in samp]
    hmax, vmax = max(hs), max(vs)
    mcu_x = -(-w // (8 * hmax))
    mcu_y = -(-h // (8 * vmax))

    # identical prep to encode_jpeg: MCU-aligned edge pad per
    # component, block, FDCT, quantize, zigzag
    grids: list[list[list[int]]] = []
    comp_bw: list[int] = []
    real_bw: list[int] = []
    real_bh: list[int] = []
    for (hi, vi), plane, q in zip(samp, planes, qtabs):
        th, tw = mcu_y * 8 * vi, mcu_x * 8 * hi
        ph, pw = plane.shape
        padded = _edge_pad(plane, th, tw)
        blocks = (
            padded.reshape(th // 8, 8, tw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        qz = np.round(_fdct_blocks(blocks - 128.0) / q[None, :, :]).astype(
            np.int64
        )
        grids.append(qz.reshape(-1, 64)[:, ZIGZAG].tolist())
        comp_bw.append(tw // 8)
        real_bw.append(-(-pw // 8))
        real_bh.append(-(-ph // 8))
    geom = (hs, vs, mcu_x, mcu_y, comp_bw, real_bw, real_bh)

    # scan-script sanity, per component: first scan exactly once and
    # before refinements, refinements one bit at a time, AC scans
    # single-component
    seen_al: dict[tuple[int, int], int] = {}
    for sel, ss, se, ah, al in scans:
        if (ss == 0) != (se == 0) or se > 63 or ss > se:
            raise ValueError("bad spectral selection in scan script")
        if len(sel) > 1 and ss != 0:
            raise ValueError("AC scans must be single-component")
        if any(not 0 <= ci < ncomp for ci in sel):
            raise ValueError("scan names an unknown component")
        for ci in sel:
            for k in range(ss, se + 1):
                if ah == 0:
                    if (ci, k) in seen_al:
                        raise ValueError(
                            f"coefficient {k} of component {ci} scanned "
                            "twice at Ah=0"
                        )
                elif seen_al.get((ci, k)) != ah:
                    raise ValueError(
                        f"refinement of coefficient {k} of component "
                        f"{ci} at Ah={ah} does not continue its previous "
                        "scan"
                    )
                seen_al[(ci, k)] = al

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if gray:
        out += seg(
            0xFFDB,
            bytes([0]) + bytes(int(x) for x in qtabs[0].reshape(64)[ZIGZAG]),
        )
    else:
        for tid, q in ((0, qtabs[0]), (1, qtabs[1])):
            out += seg(
                0xFFDB,
                bytes([tid]) + bytes(int(x) for x in q.reshape(64)[ZIGZAG]),
            )
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        qid = 0 if ci == 0 else 1
        sof += bytes([ci + 1, (hs[ci] << 4) | vs[ci], qid if not gray else 0])
    out += seg(0xFFC2, sof)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    for sel, ss, se, ah, al in scans:
        sel = list(sel)
        counter = _ScanCounter()
        _emit_progressive_scan(
            grids, sel, geom, ss, se, ah, al, restart_interval, counter
        )
        dc_table = ac_table = None
        if ss == 0 and ah == 0:
            dc_table = _optimal_huffman(counter.dc_freq)
            out += seg(
                0xFFC4,
                bytes([0x00]) + bytes(dc_table[0]) + bytes(dc_table[1]),
            )
        elif ss > 0:
            ac_table = _optimal_huffman(counter.ac_freq)
            out += seg(
                0xFFC4,
                bytes([0x10]) + bytes(ac_table[0]) + bytes(ac_table[1]),
            )
        # DC refinement scans carry no Huffman-coded symbols at all
        writer = _ScanWriter(dc_table, ac_table)
        _emit_progressive_scan(
            grids, sel, geom, ss, se, ah, al, restart_interval, writer
        )
        sos = bytes([len(sel)])
        for ci in sel:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xFFDA, sos)
        out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)
