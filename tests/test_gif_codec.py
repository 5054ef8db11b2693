"""GIF codec (operators/gif_codec): LZW round trips, animation
rendering semantics (disposal, transparency, interlace), and the wiring
into the Arrow-batched multimodal stages.

GIF is palette-lossless, so every round trip asserts EXACT pixel
equality — no PSNR tolerance anywhere in this file. Low-level fixtures
(disposal/transparency) are built segment-by-segment so the renderer is
tested against the spec's composition model, not against our own
encoder's happy path.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from data_pipeline_spark.operators import gif_codec as gc
from data_pipeline_spark.operators.multimodal import (
    decode_metadata,
    frame_sample,
    resize_media,
)


def _img(h: int, w: int, seed: int = 0, colors: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (colors, 3), dtype=np.uint8)
    return pal[rng.integers(0, colors, (h, w))]


def test_lzw_roundtrip_exhausts_dictionary():
    rng = np.random.default_rng(1)
    # enough data at 256 symbols to force 12-bit codes AND a mid-stream
    # dictionary reset (clear code at 4096)
    data = bytes(rng.integers(0, 256, 60_000, dtype=np.uint8))
    enc = gc._lzw_encode(data, 8)
    assert gc._lzw_decode(enc, 8, len(data)) == data
    # tiny alphabet exercises the minimum code size floor
    rle = bytes([0, 1] * 500 + [1] * 100)
    assert gc._lzw_decode(gc._lzw_encode(rle, 2), 2, len(rle)) == rle


def test_single_frame_roundtrip_exact():
    img = _img(23, 31, seed=2)
    buf = gc.encode([img])
    assert gc.is_gif(buf)
    assert gc.parse_header(buf) == (31, 23, 1)
    frames, delays = gc.decode_frames(buf)
    assert len(frames) == 1 and delays == [0]
    assert np.array_equal(frames[0], img)


def test_animated_roundtrip_exact_with_delays():
    frames_in = [_img(16, 20, seed=s) for s in range(3)]
    buf = gc.encode(frames_in, delays=[10, 20, 30])
    assert gc.parse_header(buf) == (20, 16, 3)
    frames, delays = gc.decode_frames(buf)
    assert delays == [10, 20, 30]
    for a, b in zip(frames, frames_in):
        assert np.array_equal(a, b)


def test_interlaced_roundtrip_exact():
    img = _img(13, 9, seed=3)  # odd height: uneven interlace passes
    frames, _ = gc.decode_frames(gc.encode([img], interlace=True))
    assert np.array_equal(frames[0], img)


def test_palette_overflow_is_loud():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)  # ~1024 colors
    with pytest.raises(ValueError, match="256"):
        gc.encode([img])


def test_cross_frame_palette_overflow_uses_local_tables():
    """Frames whose color UNION exceeds 256 but individually fit (the
    gifsicle/ffmpeg palette-optimized shape) must encode via per-frame
    local color tables, exactly — and survive resize/get_frame."""
    rng = np.random.default_rng(8)
    frames_in = []
    for s in range(3):
        pal = rng.integers(0, 256, (200, 3), dtype=np.uint8)  # 200 each
        frames_in.append(pal[rng.integers(0, 200, (12, 16))])
    buf = gc.encode(frames_in, delays=[4, 5, 6])
    frames, delays = gc.decode_frames(buf)
    assert delays == [4, 5, 6]
    for got, src in zip(frames, frames_in):
        assert np.array_equal(got, src)
    # the batch-path helpers work on the same stream
    one = gc.decode_frames(gc.frames_at(buf, [1])[0])[0][0]
    assert np.array_equal(one, frames_in[1])
    assert gc.parse_header(gc.resize(buf, 8, 6)) == (8, 6, 3)


def _gce(disposal: int, transparent: int = -1, delay: int = 0) -> bytes:
    flags = (disposal << 2) | (0x01 if transparent >= 0 else 0)
    return bytes([0x21, 0xF9, 4, flags]) + struct.pack("<H", delay) + bytes(
        [max(transparent, 0), 0]
    )


def _frame_seg(
    left: int, top: int, idx: np.ndarray, mcs: int = 2
) -> bytes:
    ih, iw = idx.shape
    return (
        b"\x2c"
        + struct.pack("<HHHH", left, top, iw, ih)
        + b"\x00"
        + bytes([mcs])
        + gc._to_subblocks(gc._lzw_encode(idx.astype(np.uint8).tobytes(), mcs))
    )


def _screen_with_palette(w: int, h: int, pal: np.ndarray, bg: int) -> bytes:
    depth = 2  # 4-entry table
    table = np.zeros((4, 3), np.uint8)
    table[: len(pal)] = pal
    return (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | (depth - 1), bg, 0])
        + table.tobytes()
    )


# palette: 0=black, 1=red, 2=green, 3=white(bg)
_PAL = np.array(
    [[0, 0, 0], [255, 0, 0], [0, 255, 0], [255, 255, 255]], np.uint8
)


def test_disposal_restore_background_and_subrect_compositing():
    """Frame 1 fills 4x4 red; frame 2 paints a 2x2 green sub-rect with
    disposal=2 (restore to background); frame 3 paints one pixel. The
    renderer must composite sub-rects onto the living canvas and wipe
    ONLY the disposed rect back to the background color."""
    full_red = np.full((4, 4), 1, np.uint8)
    green22 = np.full((2, 2), 2, np.uint8)
    dot = np.zeros((1, 1), np.uint8)
    buf = (
        _screen_with_palette(4, 4, _PAL, bg=3)
        + _gce(disposal=1)  # keep
        + _frame_seg(0, 0, full_red)
        + _gce(disposal=2)  # restore bg after frame 2
        + _frame_seg(1, 1, green22)
        + _gce(disposal=1)
        + _frame_seg(0, 0, dot)
        + b"\x3b"
    )
    frames, _ = gc.decode_frames(buf)
    assert len(frames) == 3
    # frame 2: red canvas with green 2x2 at (1,1)
    want2 = np.tile(_PAL[1], (4, 4, 1))
    want2[1:3, 1:3] = _PAL[2]
    assert np.array_equal(frames[1], want2)
    # frame 3: the green rect was restored to WHITE (bg), red elsewhere
    # survives, plus the black dot at (0,0)
    want3 = np.tile(_PAL[1], (4, 4, 1))
    want3[1:3, 1:3] = _PAL[3]
    want3[0, 0] = _PAL[0]
    assert np.array_equal(frames[2], want3)


def test_disposal_restore_previous_and_transparency():
    """Disposal=3 restores the pre-frame canvas; a transparent index
    must leave underlying pixels visible instead of painting them."""
    base = np.full((3, 3), 1, np.uint8)  # red
    # overlay uses index 0 as transparent: green cross, transparent corners
    overlay = np.array([[0, 2, 0], [2, 2, 2], [0, 2, 0]], np.uint8)
    dot = np.full((1, 1), 0, np.uint8)
    buf = (
        _screen_with_palette(3, 3, _PAL, bg=3)
        + _gce(disposal=1)
        + _frame_seg(0, 0, base)
        + _gce(disposal=3, transparent=0)  # restore-previous afterwards
        + _frame_seg(0, 0, overlay)
        + _gce(disposal=1)
        + _frame_seg(2, 2, dot)
        + b"\x3b"
    )
    frames, _ = gc.decode_frames(buf)
    want2 = np.tile(_PAL[1], (3, 3, 1))
    for y, x in ((0, 1), (1, 0), (1, 1), (1, 2), (2, 1)):
        want2[y, x] = _PAL[2]
    assert np.array_equal(frames[1], want2)  # corners stayed red
    want3 = np.tile(_PAL[1], (3, 3, 1))  # overlay fully undone
    want3[2, 2] = _PAL[0]
    assert np.array_equal(frames[2], want3)


def test_resize_is_exact_nearest_neighbor():
    frames_in = [_img(12, 18, seed=5), _img(12, 18, seed=6)]
    out = gc.resize(gc.encode(frames_in, delays=[7, 9]), 9, 6)
    assert gc.parse_header(out) == (9, 6, 2)
    frames, delays = gc.decode_frames(out)
    assert delays == [7, 9]
    rows = np.minimum((np.arange(6) * 12) // 6, 11)
    cols = np.minimum((np.arange(9) * 18) // 9, 17)
    for got, src in zip(frames, frames_in):
        assert np.array_equal(got, src[rows][:, cols])


def test_local_color_table_overrides_global():
    """A frame carrying its own color table must resolve through it,
    not the global one (the encoder never writes LCTs, so this is a
    hand-built stream)."""
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    lct = np.array(
        [[10, 20, 30], [200, 210, 220], [0, 0, 0], [0, 0, 0]], np.uint8
    )
    frame = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, 2, 2)
        + bytes([0x80 | 0x01])  # LCT flag, 4-entry table
        + lct.tobytes()
        + bytes([2])
        + gc._to_subblocks(gc._lzw_encode(idx.tobytes(), 2))
    )
    buf = _screen_with_palette(2, 2, _PAL, bg=3) + frame + b"\x3b"
    frames, _ = gc.decode_frames(buf)
    assert np.array_equal(frames[0][0, 0], lct[0])
    assert np.array_equal(frames[0][0, 1], lct[1])


def test_corrupt_gifs_are_loud():
    with pytest.raises(ValueError, match="GIF87a"):
        gc.parse_header(b"NOTAGIF" + bytes(10))
    with pytest.raises(ValueError, match="corrupt GIF"):
        gc.parse_header(b"GIF87a" + bytes(16))
    good = gc.encode([_img(8, 8)])
    with pytest.raises(ValueError):
        gc.decode_frames(good[: len(good) // 2])
    # a 29-byte file claiming a 65535x65535 screen: refused before the
    # ~12.9 GB canvas is allocated
    huge = (
        b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00\x02\x02\x4c\x01\x00\x3b"
    )
    with pytest.raises(ValueError, match="canvas exceeds"):
        gc.decode_frames(huge)
    # a 4096x4096 screen (at the canvas cap) with one-pixel frames: each
    # 13-byte descriptor would cost a 48 MB canvas copy, so the frame
    # past MAX_FRAMES_PIXELS is refused
    n_frames = gc.MAX_FRAMES_PIXELS // (4096 * 4096) + 1
    one_px = b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00\x02\x02\x4c\x01\x00"
    many = (
        b"GIF89a" + struct.pack("<HHBBB", 4096, 4096, 0x80, 0, 0) + bytes(6)
        + one_px * n_frames + b"\x3b"
    )
    with pytest.raises(ValueError, match="frames of a 4096x4096 canvas exceed"):
        gc.decode_frames(many)


def test_multimodal_stages_on_real_gif(spark):
    """decode_metadata reports real animated frame counts; frame_sample
    expands to standalone single-frame GIFs; resize_media resizes every
    frame — all through the same Arrow-batched plumbing."""
    anim = gc.encode([_img(10, 14, seed=s) for s in range(4)], delays=[5] * 4)
    df = spark.createDataFrame([(1, anim)], "id long, media binary")

    meta = decode_metadata(df).collect()[0]
    assert (meta["width"], meta["height"], meta["n_frames"]) == (14, 10, 4)

    frames = {r["frame_no"]: r for r in frame_sample(df, every_n=2).collect()}
    assert sorted(frames) == [0, 2]
    f2 = bytes(frames[2]["frame"])
    assert gc.parse_header(f2) == (14, 10, 1)
    src_frames, _ = gc.decode_frames(anim)
    got_frames, _ = gc.decode_frames(f2)
    assert np.array_equal(got_frames[0], src_frames[2])

    resized = resize_media(df, 7, 5).collect()[0]
    assert gc.parse_header(bytes(resized["media"])) == (7, 5, 4)
