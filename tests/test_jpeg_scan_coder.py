"""The baseline JPEG entropy coder (operators/jpeg._encode_baseline_scan,
the one scan coder every encode_jpeg call runs) is pinned BIT-IDENTICAL
to an independent scalar reference (reimplemented here) across
profiles, qualities, restart intervals and shapes — including multi-ZRL
runs, FF-stuffing inside and at the end of restart segments, the 1×1
edge shape and a 1,152-block 4:2:0 scan. The edge-replication pad the
encoder feeds it is pinned here too."""

from __future__ import annotations

import numpy as np
import pytest

from mspr2_back_spark.operators.jpeg import (
    AC_CHROMA_BITS,
    AC_CHROMA_VALS,
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_CHROMA_BITS,
    DC_CHROMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    _canonical_codes,
    _edge_pad,
    _encode_baseline_scan,
)


class _RefBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def align(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_marker(self, marker):
        self.align()
        self.out += bytes([0xFF, marker])

    def flush(self):
        self.align()
        return bytes(self.out)


def _magnitude(v):
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << size) - 1
    return size, v


def _ref_scan(flat, samp, comp_bw, mcu_x, mcu_y, dc_codes, ac_codes, ri):
    ncomp = len(flat)
    writer = _RefBitWriter()
    prev_dc = [0] * ncomp

    def write_block(ci, zz):
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
            code, length = ac_codes[ci][0x00]
            writer.write(code, length)

    for mcu in range(mcu_x * mcu_y):
        if ri and mcu and mcu % ri == 0:
            writer.emit_marker(0xD0 + ((mcu // ri - 1) & 7))
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


def _tables(ncomp):
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
    dc_codes = [_canonical_codes(list(b), list(v)) for b, v in dc_tables]
    ac_codes = [_canonical_codes(list(b), list(v)) for b, v in ac_tables]
    return dc_tables, ac_tables, dc_codes, ac_codes


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("ri", [0, 1, 2, 3, 7])
@pytest.mark.parametrize(
    "shape",
    [
        # (mcu_x, mcu_y, samp): gray, 4:4:4 color, 4:2:0 color
        (1, 1, [(1, 1)]),
        (3, 2, [(1, 1)]),
        (2, 3, [(1, 1), (1, 1), (1, 1)]),
        (4, 2, [(2, 2), (1, 1), (1, 1)]),
        (12, 16, [(2, 2), (1, 1), (1, 1)]),
    ],
)
def test_vectorized_scan_coder_matches_scalar_reference(seed, ri, shape):
    mcu_x, mcu_y, samp = shape
    rng = np.random.default_rng(seed * 1000 + ri * 10 + mcu_x)
    ncomp = len(samp)
    dc_tables, ac_tables, dc_codes, ac_codes = _tables(ncomp)
    flat, comp_bw = [], []
    for hi, vi in samp:
        bh, bw = mcu_y * vi, mcu_x * hi
        # sparse coefficient grids with long zero runs (multi-ZRL),
        # negative values, and occasional dense rows
        z = rng.integers(-40, 40, size=(bh * bw, 64))
        mask = rng.random(size=z.shape) < 0.85
        z[mask] = 0
        z[rng.random(size=len(z)) < 0.2, 1:] = 0  # EOB-only blocks
        flat.append(z.astype(np.int64))
        comp_bw.append(bw)
    ref = _ref_scan(
        flat, samp, comp_bw, mcu_x, mcu_y, dc_codes, ac_codes, ri
    )
    got = _encode_baseline_scan(
        flat, samp, comp_bw, mcu_x, mcu_y, dc_tables, ac_tables, ri
    )
    assert got == ref


def test_edge_pad_replicates_and_refuses_to_crop():
    plane = np.arange(12, dtype=np.float64).reshape(3, 4)
    assert _edge_pad(plane, 3, 4) is plane
    for th, tw in ((8, 8), (3, 9), (5, 4)):
        assert np.array_equal(
            _edge_pad(plane, th, tw),
            np.pad(plane, ((0, th - 3), (0, tw - 4)), mode="edge"),
        )
    for th, tw in ((2, 4), (3, 3), (2, 8)):
        with pytest.raises(ValueError, match="smaller than"):
            _edge_pad(plane, th, tw)
