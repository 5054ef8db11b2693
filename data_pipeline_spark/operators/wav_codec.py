"""Pure-stdlib WAV (RIFF) codec — the REAL-audio tier that runs in any
Python (struct only, no librosa/ffmpeg).

Scope: integer PCM (format 1) and WAVE_FORMAT_EXTENSIBLE wrapping PCM,
8/16/24/32-bit, any channel count and rate; COMPRESSED audio decodes
for real too — G.711 A-law (tag 6) and μ-law (tag 7) companding, and
IMA/DVI ADPCM (tag 0x11, 4-bit block-coded, ~4:1) — all expanded to
PCM16 by decode_pcm16 so every downstream stage (frame sampling,
decimation, features) is format-blind. Header metadata
(channels/rate/bits/frame count) parses for every spec-valid RIFF
chunk layout (chunks walked, word-aligned); ADPCM frame counts honor
the fmt extension's samples-per-block. Encoders exist for every
decoded format (canonical PCM16 out; G.711/ADPCM for test vectors).
The G.711 tables are cross-checked code-by-code against the stdlib
`audioop` implementation where present (Python < 3.13) — an
independent oracle, not a round-trip tautology.

Audio rides the engine like every other modality (an opaque binary
column, operators/multimodal.py) the way the reference carries geometry
as an opaque nested payload interpreted only at dedicated stages
(/root/reference/citygml/src/main/java/org/opencitymodel/citygml/
Geometry.java:6-7). 'Frames' follow WAV terminology: one frame = one
sample per channel, so frame_sample's every-Nth-frame selection IS
audio decimation and resample_nearest is the audio twin of the image
nearest-neighbor resize.

Cross-checked against the stdlib `wave` module in both directions by
tests/test_multimodal_av.py (our encoder's output read by `wave`;
`wave`'s output parsed by us) — the two implementations are
independent, so agreement is real evidence.
"""

from __future__ import annotations

import struct
import sys
from array import array

_PCM_FORMATS = (1, 0xFFFE)  # PCM, EXTENSIBLE (assumed to wrap PCM)
ALAW, ULAW, IMA_ADPCM = 6, 7, 0x11
_KNOWN_FORMATS = _PCM_FORMATS + (ALAW, ULAW, IMA_ADPCM)


# ------------------------------------------------------------- G.711
# Classic CCITT/sox segment encoders + exact decode expansions; the
# test suite checks every code point against stdlib audioop.

_SEG_AEND = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)
_SEG_UEND = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)
_ULAW_BIAS = 0x84


def lin2ulaw(s: int) -> int:
    # the CCITT 14-bit-domain encoder (16-bit input >> 2, bias 33,
    # clip 8159, seg>=8 guard) — code-exact vs stdlib audioop
    pcm = s >> 2
    mask = 0x7F if pcm < 0 else 0xFF
    if pcm < 0:
        pcm = -pcm
    if pcm > 8159:
        pcm = 8159
    pcm += 33
    seg = 0
    while seg < 8 and pcm > _SEG_UEND[seg]:
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    return ((seg << 4) | ((pcm >> (seg + 1)) & 0x0F)) ^ mask


def ulaw2lin(u: int) -> int:
    u = ~u & 0xFF
    t = (((u & 0x0F) << 3) + _ULAW_BIAS) << ((u >> 4) & 0x07)
    return (_ULAW_BIAS - t) if u & 0x80 else (t - _ULAW_BIAS)


def lin2alaw(s: int) -> int:
    mask = 0xD5 if s >= 0 else 0x55
    p = s >> 3 if s >= 0 else (-s - 1) >> 3  # 16-bit -> 13-bit magnitude
    seg = 0
    while seg < 8 and p > _SEG_AEND[seg]:
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (p >> 1) & 0x0F if seg < 2 else (p >> seg) & 0x0F
    return aval ^ mask


def alaw2lin(a: int) -> int:
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


# --------------------------------------------------------- IMA ADPCM
# DVI/IMA 4-bit step-adaptive codec (public step/index tables), block
# layout per the Microsoft WAV spec: per-channel 4-byte block header
# (predictor:int16, step index:uint8, pad) then interleaved 4-sample
# nibble words per channel.

_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)


def _ima_step_decode(nibble: int, pred: int, index: int) -> tuple[int, int]:
    step = _IMA_STEP[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX[nibble]))
    return pred, index


def _ima_step_encode(sample: int, pred: int, index: int) -> tuple[int, int, int]:
    step = _IMA_STEP[index]
    delta = sample - pred
    nibble = 8 if delta < 0 else 0
    if delta < 0:
        delta = -delta
    if delta >= step:
        nibble |= 4
        delta -= step
    if delta >= step >> 1:
        nibble |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        nibble |= 1
    pred, index = _ima_step_decode(nibble, pred, index)
    return nibble, pred, index


def is_wav(buf: bytes) -> bool:
    return buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"


def _chunks(buf: bytes):
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (length,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        yield cid, pos + 8, length
        pos += 8 + length + (length & 1)  # chunks are word-aligned


def _parse_fmt(buf: bytes) -> tuple[int, int, int, int, int, int, int]:
    """(tag, n_channels, rate, bits, block_align, samples_per_block,
    data_len). samples_per_block is meaningful for ADPCM (from the fmt
    extension), block_align//... frames otherwise."""
    if not is_wav(buf):
        raise ValueError("not a WAV (bad RIFF/WAVE signature)")
    fmt = None
    data_len = None
    for cid, off, length in _chunks(buf):
        if cid == b"fmt ":
            tag, ch, rate, _br, block, bits = struct.unpack(
                "<HHIIHH", buf[off : off + 16]
            )
            if tag not in _KNOWN_FORMATS:
                raise NotImplementedError(
                    f"WAV format tag {tag}: supported are integer PCM, "
                    "G.711 A-law/mu-law, and IMA ADPCM (librosa/ffmpeg "
                    "handle the rest when installed)"
                )
            spb = 0
            if tag == IMA_ADPCM:
                if length < 20:
                    raise ValueError("corrupt WAV: ADPCM fmt missing extension")
                (spb,) = struct.unpack("<H", buf[off + 18 : off + 20])
                if spb == 0:
                    raise ValueError("corrupt WAV: ADPCM samples_per_block=0")
                # spec relation: a block holds ch 4-byte headers (each
                # carrying sample 0) + nibble words for spb-1 samples.
                # A header claiming more caps memory amplification from
                # hostile/corrupt files before any allocation happens.
                if block < 4 * ch or spb > (block - 4 * ch) * 2 + 1:
                    raise ValueError(
                        f"corrupt WAV: ADPCM samples_per_block={spb} "
                        f"exceeds block_align={block} capacity"
                    )
            fmt = (tag, ch, rate, bits, block, spb)
        elif cid == b"data":
            data_len = length
    if fmt is None or data_len is None:
        raise ValueError("corrupt WAV: missing fmt or data chunk")
    return (*fmt, data_len)


def _fact_samples(buf: bytes) -> int | None:
    """The fact chunk's per-channel sample count, when present —
    compressed formats record the true length there (a final ADPCM
    block is often short)."""
    for cid, off, length in _chunks(buf):
        if cid == b"fact" and length >= 4:
            (n,) = struct.unpack("<I", buf[off : off + 4])
            return n
    return None


def _ima_capacity(avail: int, ch: int, spb: int) -> int:
    """Frames decodable from one ADPCM block given `avail` bytes: the
    header carries frame 0, each 4-byte-per-channel word 8 more."""
    if avail < 4 * ch:
        return 0
    return min(spb, 1 + (avail - 4 * ch) // (4 * ch) * 8)


def parse_header(buf: bytes) -> tuple[int, int, int, int]:
    """(n_channels, sample_rate, bits_per_sample, n_frames).

    One frame = one sample per channel (`wave` module terminology):
    data bytes // block_align for PCM and G.711; for IMA ADPCM, block
    capacity including a short final block, clamped by the fact
    chunk's true sample count when present."""
    tag, ch, rate, bits, block, spb, data_len = _parse_fmt(buf)
    if tag == IMA_ADPCM:
        full, rem = divmod(data_len, block)
        frames = full * spb + _ima_capacity(rem, ch, spb)
        fact = _fact_samples(buf)
        if fact is not None:
            frames = min(frames, fact)
        return ch, rate, bits, frames
    return ch, rate, bits, data_len // block


def _data_span(buf: bytes) -> tuple[int, int]:
    for cid, off, length in _chunks(buf):
        if cid == b"data":
            return off, length
    raise ValueError("corrupt WAV: missing data chunk")


def _pcm16_bytes(samples: list[int]) -> bytes:
    a = array("h", samples)
    if sys.byteorder == "big":
        a.byteswap()
    return a.tobytes()


def frame_bytes(buf: bytes, i: int) -> bytes:
    """Bytes of frame i (all channels) — frame_sample's per-frame
    payload. PCM frames are O(1) raw slices that keep the file's native
    sample width (8, 16, 24 or 32 bits); compressed formats (G.711,
    ADPCM) come back EXPANDED to little-endian PCM16. For
    many frames of one ADPCM payload use frames_pcm16 — this per-frame
    form decodes the file each call."""
    tag, ch, _rate, bits, block, spb, data_len = _parse_fmt(buf)
    if tag == IMA_ADPCM:
        full, rem = divmod(data_len, block)
        n = full * spb + _ima_capacity(rem, ch, spb)
    else:
        n = data_len // block
    if not 0 <= i < n:
        raise IndexError(f"frame {i} out of range (n_frames={n})")
    off, _length = _data_span(buf)
    if tag == IMA_ADPCM:
        _r, samples = decode_pcm16(buf)
        return _pcm16_bytes(samples[i * ch : (i + 1) * ch])
    if tag in (ALAW, ULAW):
        expand = alaw2lin if tag == ALAW else ulaw2lin
        raw = buf[off + i * ch : off + (i + 1) * ch]
        return _pcm16_bytes([expand(b) for b in raw])
    fsize = ch * bits // 8
    return buf[off + i * fsize : off + (i + 1) * fsize]


def frames_pcm16(buf: bytes, indices: list[int]) -> list[bytes]:
    """frame_bytes for several indices with at most ONE full decode —
    the frame_sample batch path (per-index frame_bytes on ADPCM would
    re-run the block decoder per sampled frame: quadratic in clip
    length)."""
    tag, ch, _rate, _bits, _block, _spb, _dl = _parse_fmt(buf)
    if tag != IMA_ADPCM:
        return [frame_bytes(buf, i) for i in indices]  # O(1) each
    _r, samples = decode_pcm16(buf)
    n = len(samples) // ch
    out = []
    for i in indices:
        if not 0 <= i < n:
            raise IndexError(f"frame {i} out of range (n_frames={n})")
        out.append(_pcm16_bytes(samples[i * ch : (i + 1) * ch]))
    return out


def _decode_ima(buf: bytes) -> tuple[int, list[int]]:
    _tag, ch, rate, _bits, block, spb, data_len = _parse_fmt(buf)
    off, length = _data_span(buf)
    end = off + min(length, data_len, len(buf) - off)
    out: list[int] = []
    p = off
    while p + 4 * ch <= end:
        avail = min(block, end - p)
        n_samp = _ima_capacity(avail, ch, spb)  # short final block OK
        q = p
        preds, idxs = [], []
        chans: list[list[int]] = []
        for c in range(ch):
            pred, idx = struct.unpack("<hB", buf[q + 4 * c : q + 4 * c + 3])
            preds.append(pred)
            idxs.append(max(0, min(88, idx)))
            chans.append([pred])  # header predictor IS sample 0
        q += 4 * ch
        # after the header: per channel, 4 bytes = 8 nibbles (low first)
        while len(chans[0]) < n_samp and q + 4 * ch <= end:
            for c in range(ch):
                for k in range(4):
                    byte = buf[q + c * 4 + k]
                    for nib in (byte & 0x0F, byte >> 4):
                        if len(chans[c]) < n_samp:
                            preds[c], idxs[c] = _ima_step_decode(
                                nib, preds[c], idxs[c]
                            )
                            chans[c].append(preds[c])
            q += 4 * ch
        for f in range(len(chans[0])):
            for c in range(ch):
                out.append(chans[c][f])
        p += block
    fact = _fact_samples(buf)
    if fact is not None:
        out = out[: fact * ch]
    return rate, out


def decode_pcm16(buf: bytes) -> tuple[int, list[int]]:
    """(sample_rate, interleaved int16 samples). 16-bit PCM reads
    straight through; G.711 A-law/μ-law expand via the exact tables;
    IMA ADPCM runs the block decoder."""
    tag, ch, rate, bits, _block, _spb, _dl = _parse_fmt(buf)
    if tag == IMA_ADPCM:
        return _decode_ima(buf)
    off, length = _data_span(buf)
    if tag in (ALAW, ULAW):
        expand = alaw2lin if tag == ALAW else ulaw2lin
        return rate, [expand(b) for b in buf[off : off + length]]
    if bits != 16:
        raise NotImplementedError(
            f"stdlib WAV decode supports 16-bit PCM; got {bits}-bit"
        )
    n = length // (ch * 2) * ch * 2
    a = array("h")
    a.frombytes(buf[off : off + n])
    if sys.byteorder == "big":  # WAV data is little-endian
        a.byteswap()
    return rate, a.tolist()


def encode_pcm16(samples: list[int], sample_rate: int, n_channels: int = 1) -> bytes:
    """Canonical PCM16 WAV from interleaved samples."""
    block = n_channels * 2
    return _riff(1, n_channels, sample_rate, 16, block, _pcm16_bytes(samples))


def _riff(fmt_tag: int, ch: int, rate: int, bits: int, block: int,
          data: bytes, ext: bytes = b"", fact_samples: int | None = None) -> bytes:
    # non-PCM fmt chunks must carry cbSize (spec: chunk size >= 18)
    if fmt_tag != 1 and not ext:
        ext = struct.pack("<H", 0)
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, ch, rate, rate * block, block, bits
    ) + ext
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) & 1:
        body += b"\x00"
    if fact_samples is not None:
        body += b"fact" + struct.pack("<II", 4, fact_samples)
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"  # RIFF chunks pad to word boundaries
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_g711(
    samples: list[int], sample_rate: int, n_channels: int = 1, law: str = "ulaw"
) -> bytes:
    """Interleaved PCM16 → G.711 companded WAV (tag 7 μ-law / 6 A-law)."""
    if law not in ("ulaw", "alaw"):
        raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
    if len(samples) % n_channels:
        raise ValueError("sample count not divisible by channel count")
    comp = lin2ulaw if law == "ulaw" else lin2alaw
    data = bytes(comp(s) for s in samples)
    tag = ULAW if law == "ulaw" else ALAW
    return _riff(tag, n_channels, sample_rate, 8, n_channels, data,
                 fact_samples=len(samples) // n_channels)


def encode_ima(
    samples: list[int],
    sample_rate: int,
    n_channels: int = 1,
    samples_per_block: int = 505,
) -> bytes:
    """Interleaved PCM16 → IMA/DVI ADPCM WAV (tag 0x11). The last
    block pads by repeating the final frame so every block is whole;
    (samples_per_block - 1) must divide by 8 (nibble-word layout)."""
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + multiple of 8")
    ch = n_channels
    if len(samples) % ch:
        raise ValueError("sample count not divisible by channel count")
    frames = [samples[i : i + ch] for i in range(0, len(samples), ch)]
    spb = samples_per_block
    while len(frames) % spb:
        frames.append(frames[-1])
    block = 4 * ch + (spb - 1) // 8 * 4 * ch
    idxs = [0] * ch
    out = bytearray()
    for b in range(0, len(frames), spb):
        blk = frames[b : b + spb]
        preds = list(blk[0])
        for c in range(ch):
            out += struct.pack("<hBx", preds[c], idxs[c])
        nibbles: list[list[int]] = [[] for _ in range(ch)]
        for f in blk[1:]:
            for c in range(ch):
                nib, preds[c], idxs[c] = _ima_step_encode(
                    f[c], preds[c], idxs[c]
                )
                nibbles[c].append(nib)
        pos = 0
        while pos < len(nibbles[0]):
            for c in range(ch):
                chunk = nibbles[c][pos : pos + 8]
                for k in range(0, 8, 2):
                    out.append(chunk[k] | (chunk[k + 1] << 4))
            pos += 8
    ext = struct.pack("<HH", 2, spb)  # cbSize=2, samplesPerBlock
    # fact records the TRUE pre-padding length, so decode returns
    # exactly the encoded samples (the spec's mechanism for short tails)
    return _riff(IMA_ADPCM, ch, sample_rate, 4, block, bytes(out), ext,
                 fact_samples=len(samples) // ch)


def resample_nearest(buf: bytes, new_rate: int) -> bytes:
    """Nearest-neighbor resample of a PCM16 WAV to new_rate — the audio
    twin of png_codec.resize_gray (same index arithmetic over frames
    instead of pixels)."""
    ch, rate, _bits, n = parse_header(buf)
    rate2, samples = decode_pcm16(buf)
    new_n = max(1, n * new_rate // rate2)
    out: list[int] = []
    for i in range(new_n):
        src = min(i * n // new_n, n - 1)
        out.extend(samples[src * ch : (src + 1) * ch])
    return encode_pcm16(out, new_rate, ch)
