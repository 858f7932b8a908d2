"""Pure-Python tests for the BMP codec and the real image decode/resize.

No SparkSession needed: these pin the binary format handling (stride
padding, BGR order, bottom-up rows) that the DuckDB oracle verifies only
indirectly through channel means."""

from __future__ import annotations

import hashlib
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hbase_tohdfs_spark.formats import bmp
from hbase_tohdfs_spark.operators import multimodal as mm


def _grid(w, h, fn):
    return [[fn(x, y) for x in range(w)] for y in range(h)]


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_roundtrip(w, h, seed):
    d = hashlib.md5(str(seed).encode()).digest()
    pixels = _grid(w, h, lambda x, y: (d[(x + y) % 16], d[x % 16], d[y % 16]))
    payload = bmp.write_bmp24(w, h, pixels)
    rw, rh, rows = bmp.read_bmp24(payload)
    assert (rw, rh) == (w, h)
    assert rows == pixels


def test_stride_padding_is_skipped():
    # width 3 -> 9 pixel bytes per row, stride 12: 3 bytes of 0xFF padding.
    # A decoder that reads rows back-to-back would shift every later row.
    pixels = _grid(3, 2, lambda x, y: (10 * y + x, 0, 255))
    payload = bmp.write_bmp24(3, 2, pixels)
    assert bmp.row_stride(3) == 12
    assert b"\xff\xff\xff" in payload[bmp.HEADER_BYTES:]
    _, _, rows = bmp.read_bmp24(payload)
    assert rows == pixels


def test_rows_stored_bottom_up():
    # First stored row in the file must be the LAST logical row.
    pixels = [[(1, 1, 1)], [(2, 2, 2)]]  # 1x2: top row 1s, bottom row 2s
    payload = bmp.write_bmp24(1, 2, pixels)
    first_stored = payload[bmp.HEADER_BYTES : bmp.HEADER_BYTES + 3]
    assert first_stored == bytes((2, 2, 2))  # BGR of bottom row
    _, _, rows = bmp.read_bmp24(payload)
    assert rows == pixels


def test_reader_rejects_non_bmp():
    with pytest.raises(ValueError, match="magic"):
        bmp.read_bmp24(b"PNG" + b"\x00" * 64)


def test_reader_rejects_truncated():
    payload = mm.synth_bmp(b"doc")
    with pytest.raises(ValueError, match="truncated"):
        bmp.read_bmp24(payload[:-4])


def test_reader_handles_top_down_storage():
    # height < 0 in the info header means top-down row order (legal BMP).
    pixels = [[(1, 1, 1)], [(2, 2, 2)]]
    payload = bytearray(bmp.write_bmp24(1, 2, pixels))
    struct.pack_into("<i", payload, 22, -2)  # flip height sign
    stride = bmp.row_stride(1)
    body = payload[bmp.HEADER_BYTES :]
    flipped = body[stride : 2 * stride] + body[:stride]
    _, h, rows = bmp.read_bmp24(bytes(payload[: bmp.HEADER_BYTES]) + bytes(flipped))
    assert h == 2
    assert rows == pixels


def test_decode_means_match_brute_force():
    payload = mm.synth_bmp(b"some document text")
    w, h, rows = bmp.read_bmp24(payload)
    feats = mm.decode_bmp(payload)
    n = w * h
    for ch in range(3):
        exact = sum(px[ch] for row in rows for px in row) / n
        assert feats["channel_means"][ch] == pytest.approx(exact, abs=1e-6)
    assert (feats["width"], feats["height"]) == (w, h)


def test_resize_identity_when_target_equals_source():
    payload = mm.synth_bmp(b"another doc")
    w, h, _ = bmp.read_bmp24(payload)
    dec, rs = mm._decode_resize_stage_rows(payload, w, h)
    assert rs[5] == dec[5]  # channel means
    assert rs[:5] == ("resize", w, h, w, h)


def test_resize_single_pixel_is_nearest_neighbor():
    payload = mm.synth_bmp(b"nn check")
    w, h, rows = bmp.read_bmp24(payload)
    _, rs = mm._decode_resize_stage_rows(payload, 1, 1)
    r, g, b = rows[0][0]  # src index (0*h)//1, (0*w)//1 = (0, 0)
    assert rs[5] == [float(r), float(g), float(b)]


def test_synth_bmp_deterministic_and_digest_derived():
    a, b2 = mm.synth_bmp(b"seed"), mm.synth_bmp(b"seed")
    assert a == b2
    d = hashlib.md5(b"seed").digest()
    w, h, rows = bmp.read_bmp24(a)
    assert (w, h) == (4 + d[0] % 13, 4 + d[1] % 13)
    # spot-check pixel 0 against the documented generative formula
    assert rows[0][0] == (d[11 % 16], d[5 % 16], d[0])
