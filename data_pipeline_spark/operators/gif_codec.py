"""Pure-stdlib GIF codec: full LZW decode/encode, animation, disposal.

Scope (all real, no PIL): GIF87a/GIF89a logical-screen parsing, global
and local color tables, interlacing, the complete variable-width LZW
entropy codec (clear/end codes, 12-bit dictionary reset), graphic-
control extensions (per-frame delay, transparency, disposal methods
none/keep, restore-background, restore-previous), and a matching
encoder (full-frame, palette-checked) so round trips are testable
without external tooling. GIF is palette-lossless, so decode(encode(x))
is exact — tests assert equality, not PSNR.

Role: the per-batch inner loop of the Arrow-batched multimodal stages
(decode_metadata / resize_media / frame_sample), like png_codec /
jpeg_codec / wav_codec / y4m_codec. n_frames for animated GIFs counts
image descriptors with a sub-block walk — no LZW work on the metadata
path.

Reference parity: per-format sink plumbing is in-scope work in the
reference (citygml/src/main/java/.../CitygmlBuilder.java:140-151); this
covers the dominant animated-image interchange format on the ingest
side.
"""

from __future__ import annotations

import struct

import numpy as np

_HEADERS = (b"GIF87a", b"GIF89a")
# decode_frames renders onto a full logical-screen canvas, whose size an
# untrusted 13-byte header chooses (up to 65535 x 65535, ~12.9 GB as RGB):
# refuse anything over 4096 x 4096 pixels (48 MB) before allocating
MAX_CANVAS_PIXELS = 1 << 24
# every rendered frame is a full-canvas copy, so a few bytes per image
# descriptor cost a whole canvas each: cap frames x canvas pixels at
# 64 Mpx (192 MB as RGB), e.g. 4 frames of a 4096 x 4096 screen
MAX_FRAMES_PIXELS = 1 << 26


def is_gif(buf: bytes) -> bool:
    return buf[:6] in _HEADERS


def _skip_subblocks(buf: bytes, pos: int) -> int:
    n = len(buf)
    while pos < n:
        size = buf[pos]
        pos += 1
        if size == 0:
            return pos
        pos += size
    raise ValueError("corrupt GIF: unterminated sub-blocks")


def _read_subblocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    n = len(buf)
    while pos < n:
        size = buf[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        out += buf[pos : pos + size]
        pos += size
    raise ValueError("corrupt GIF: unterminated sub-blocks")


def _screen(buf: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, gct_offset_or_-1, gct_size, first_block_pos)."""
    if not is_gif(buf):
        raise ValueError("not a GIF (no GIF87a/GIF89a header)")
    if len(buf) < 13:
        raise ValueError("corrupt GIF: truncated logical screen descriptor")
    w, h = struct.unpack("<HH", buf[6:10])
    packed = buf[10]
    pos = 13
    gct_off, gct_size = -1, 0
    if packed & 0x80:
        gct_size = 2 << (packed & 0x07)
        gct_off = pos
        pos += 3 * gct_size
    return w, h, gct_off, gct_size, pos


def parse_header(buf: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) — counts image descriptors via the
    sub-block walk, never touching LZW data."""
    w, h, _off, _sz, pos = _screen(buf)
    n_frames = 0
    n = len(buf)
    while pos < n:
        block = buf[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            pos = _skip_subblocks(buf, pos + 2)
        elif block == 0x2C:  # image descriptor
            if pos + 10 > n:
                raise ValueError("corrupt GIF: truncated image descriptor")
            packed = buf[pos + 9]
            pos += 10
            if packed & 0x80:
                pos += 3 * (2 << (packed & 0x07))
            pos += 1  # LZW minimum code size
            pos = _skip_subblocks(buf, pos)
            n_frames += 1
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
    if n_frames == 0:
        raise ValueError("corrupt GIF: no image data")
    return w, h, n_frames


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF variable-width LZW (T.81's sibling in GIF89a appendix F)."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = 0
    bits = 0
    pos = 0
    n = len(data)
    out = bytearray()

    def reset() -> tuple[list[bytes], int, int]:
        return (
            [bytes([i]) for i in range(clear)] + [b"", b""],
            end + 1,
            min_code_size + 1,
        )

    table, next_code, cur_size = reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        while bits < cur_size:
            if pos >= n:
                raise ValueError("corrupt GIF: LZW stream ended early")
            acc |= data[pos] << bits  # LSB-first packing
            pos += 1
            bits += 8
        code = acc & ((1 << cur_size) - 1)
        acc >>= cur_size
        bits -= cur_size
        if code == clear:
            table, next_code, cur_size = reset()
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("corrupt GIF: first LZW code not literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK special case
        else:
            raise ValueError("corrupt GIF: LZW code out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << cur_size) and cur_size < 12:
                cur_size += 1
        prev = entry
    return out


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    bits = 0

    def put(code: int, size: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += size
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    def reset() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            end + 1,
            min_code_size + 1,
        )

    table, next_code, cur_size = reset()
    put(clear, cur_size)
    seq = b""
    for b in indices:
        cand = seq + bytes([b])
        if cand in table:
            seq = cand
            continue
        put(table[seq], cur_size)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << cur_size) + 1 and cur_size < 12:
            cur_size += 1
        if next_code == 4096:
            put(clear, cur_size)
            table, next_code, cur_size = reset()
        seq = bytes([b])
    if seq:
        put(table[seq], cur_size)
    put(end, cur_size)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    )
    out = np.empty_like(rows)
    out[order] = rows
    return out


def decode_frames(buf: bytes) -> tuple[list[np.ndarray], list[int]]:
    """Full render: (frames as (H, W, 3) uint8 composited per the GIF
    disposal model, per-frame delays in centiseconds). Raises
    ValueError for a logical screen over MAX_CANVAS_PIXELS, or for more
    frames than fit MAX_FRAMES_PIXELS."""
    w, h, gct_off, gct_size, pos = _screen(buf)
    if w * h > MAX_CANVAS_PIXELS:
        raise ValueError(
            f"corrupt GIF: {w}x{h} canvas exceeds {MAX_CANVAS_PIXELS} pixels"
        )
    gct = (
        np.frombuffer(buf[gct_off : gct_off + 3 * gct_size], np.uint8).reshape(
            -1, 3
        )
        if gct_off >= 0
        else None
    )
    bg_index = buf[11] if gct is not None else 0
    bg = gct[bg_index] if gct is not None and bg_index < len(gct) else np.zeros(3, np.uint8)
    canvas = np.tile(bg, (h, w, 1)).astype(np.uint8)
    frames: list[np.ndarray] = []
    delays: list[int] = []
    disposal, transparent, delay = 0, -1, 0
    n = len(buf)
    while pos < n:
        block = buf[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            label = buf[pos + 1] if pos + 1 < n else 0
            body, newpos = _read_subblocks(buf, pos + 2)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                disposal = (body[0] >> 2) & 0x07
                delay = struct.unpack("<H", body[1:3])[0]
                transparent = body[3] if body[0] & 0x01 else -1
            pos = newpos
        elif block == 0x2C:
            if pos + 10 > n:
                raise ValueError("corrupt GIF: truncated image descriptor")
            left, top, iw, ih = struct.unpack("<HHHH", buf[pos + 1 : pos + 9])
            packed = buf[pos + 9]
            pos += 10
            pal = gct
            if packed & 0x80:
                lsz = 2 << (packed & 0x07)
                pal = np.frombuffer(buf[pos : pos + 3 * lsz], np.uint8).reshape(
                    -1, 3
                )
                pos += 3 * lsz
            if pal is None:
                raise ValueError("corrupt GIF: no color table for frame")
            mcs = buf[pos]
            pos += 1
            data, pos = _read_subblocks(buf, pos)
            idx = np.frombuffer(
                _lzw_decode(data, mcs, iw * ih), np.uint8
            ).reshape(ih, iw)
            if packed & 0x40:
                idx = _deinterlace(idx)
            if idx.max(initial=0) >= len(pal):
                raise ValueError("corrupt GIF: pixel index outside palette")
            saved = canvas.copy() if disposal == 3 else None
            rect = canvas[top : top + ih, left : left + iw]
            px = pal[idx]
            if transparent >= 0:
                mask = (idx != transparent)[..., None]
                rect[...] = np.where(mask, px, rect)
            else:
                rect[...] = px
            if (len(frames) + 1) * w * h > MAX_FRAMES_PIXELS:
                raise ValueError(
                    f"corrupt GIF: {len(frames) + 1} frames of a {w}x{h} "
                    f"canvas exceed {MAX_FRAMES_PIXELS} pixels"
                )
            frames.append(canvas.copy())
            delays.append(delay)
            if disposal == 2:  # restore to background
                canvas[top : top + ih, left : left + iw] = bg
            elif disposal == 3 and saved is not None:  # restore previous
                canvas = saved
            disposal, transparent, delay = 0, -1, 0
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("corrupt GIF: no image data")
    return frames, delays


def _to_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _palette_depth(n_colors: int) -> int:
    return max(1, int(n_colors - 1).bit_length())


def encode(
    frames: list[np.ndarray],
    delays: list[int] | None = None,
    interlace: bool = False,
) -> bytes:
    """Full-frame GIF89a encoder. When all frames' exact colors fit one
    256-entry palette it becomes the global color table; otherwise each
    frame gets its own local color table (the shape palette-optimized
    animated GIFs use) — raising only if a SINGLE frame exceeds 256
    colors, since quantization is out of scope and loud."""
    if not frames:
        raise ValueError("no frames")
    arrs = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = arrs[0].shape[:2]
    for a in arrs:
        if a.shape != (h, w, 3):
            raise ValueError("all frames must be (H, W, 3) and equal size")
    flat = np.concatenate([a.reshape(-1, 3) for a in arrs])
    pal, inverse = np.unique(flat, axis=0, return_inverse=True)
    use_gct = len(pal) <= 256
    if use_gct:
        per_frame_idx = np.split(inverse.astype(np.uint8), len(arrs))
        per_frame_pal: list[np.ndarray | None] = [None] * len(arrs)
        depth = _palette_depth(len(pal))
    else:
        per_frame_idx, per_frame_pal = [], []
        for a in arrs:
            fpal, finv = np.unique(a.reshape(-1, 3), axis=0, return_inverse=True)
            if len(fpal) > 256:
                raise ValueError(
                    f"{len(fpal)} distinct colors in one frame — GIF "
                    "palettes cap at 256 and quantization is out of scope"
                )
            per_frame_idx.append(finv.astype(np.uint8))
            per_frame_pal.append(fpal)
        depth = 1  # minimal 2-entry GCT, unused by frames

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((depth - 1) & 0x07), 0, 0])  # GCT flag+size, bg, aspect
    table = np.zeros((2**depth, 3), np.uint8)
    if use_gct:
        table[: len(pal)] = pal
    out += table.tobytes()
    for i, idx in enumerate(per_frame_idx):
        delay = delays[i] if delays else 0
        # GCE: disposal=1 (keep), no transparency
        out += bytes([0x21, 0xF9, 4, 0x04]) + struct.pack("<H", delay) + bytes([0, 0])
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        fpal = per_frame_pal[i]
        if fpal is None:
            out += bytes([0x40 if interlace else 0x00])
            mcs = max(2, depth)
        else:
            fdepth = _palette_depth(len(fpal))
            out += bytes([0x80 | (0x40 if interlace else 0) | (fdepth - 1)])
            ftable = np.zeros((2**fdepth, 3), np.uint8)
            ftable[: len(fpal)] = fpal
            out += ftable.tobytes()
            mcs = max(2, fdepth)
        rows = idx.reshape(h, w)
        if interlace:
            order = np.concatenate(
                [np.arange(s, h, st) for s, st in _INTERLACE_PASSES]
            )
            rows = rows[order]
        out += bytes([mcs])
        out += _to_subblocks(_lzw_encode(rows.tobytes(), mcs))
    out += b"\x3b"
    return bytes(out)


def get_frame(buf: bytes, i: int) -> bytes:
    """Frame i as a standalone single-frame GIF (fully composited)."""
    return frames_at(buf, [i])[0]


def frames_at(buf: bytes, indices: list[int]) -> list[bytes]:
    """Standalone single-frame GIFs for several indices with ONE full
    decode — the frame_sample batch path; calling get_frame per index
    would re-run LZW + compositing once per sampled frame."""
    frames, delays = decode_frames(buf)
    return [encode([frames[i]], [delays[i]]) for i in indices]


def resize(buf: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resize of every frame, preserving delays.
    Nearest sampling keeps the original palette, so re-encoding is
    always possible and lossless given the resampled pixels."""
    from .png_codec import nearest_indices

    frames, delays = decode_frames(buf)
    h, w = frames[0].shape[:2]
    rows, cols = nearest_indices(h, new_h), nearest_indices(w, new_w)
    return encode([f[rows][:, cols] for f in frames], delays)
