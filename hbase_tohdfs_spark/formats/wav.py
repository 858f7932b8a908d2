"""Minimal RIFF/WAVE 16-bit PCM writer/reader, pure stdlib.

Implements the public WAV layout: a RIFF container holding a ``fmt ``
chunk (PCM, interleaved little-endian int16 samples) and a ``data``
chunk.  The reader walks the chunk list — skipping unknown chunks, as a
real parser must — so a payload with e.g. a LIST/INFO chunk between
``fmt `` and ``data`` still decodes.

This is the real audio codec behind the multimodal pipeline.
Compressed codecs (mp3/aac) need libraries the runtime does not ship,
so they stay undecoded; uncompressed PCM needs only ``struct``, so the
decode can be honest.

No reference counterpart: tmalaska/HBase-ToHDFS has no media path; this
supports the training-data-pipeline surface (SURVEY.md north star).
"""

from __future__ import annotations

import struct


def write_wav16(sample_rate: int, channels: list[list[int]]) -> bytes:
    """Encode per-channel int16 sample lists (equal lengths) as PCM WAV."""
    n_ch = len(channels)
    if n_ch == 0 or len({len(c) for c in channels}) != 1:
        raise ValueError("channels must be non-empty lists of equal length")
    n_samples = len(channels[0])
    block_align = 2 * n_ch
    byte_rate = sample_rate * block_align
    frames = bytearray()
    for i in range(n_samples):
        for ch in channels:
            frames += struct.pack("<h", ch[i])
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, byte_rate, block_align, 16)
    data = bytes(frames)
    riff_body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def read_wav16(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Decode PCM WAV -> (sample_rate, n_channels, per-channel samples).

    Walks chunks (word-aligned, per the RIFF spec) and ignores ones it
    doesn't know; requires an uncompressed 16-bit PCM ``fmt `` chunk
    before ``data``."""
    payload = bytes(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    end = min(end, len(payload))
    fmt = None
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_at = pos + 8
        if body_at + size > len(payload):
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short ({size} bytes)")
            audio_fmt, n_ch, rate, _brate, _balign, bits = struct.unpack_from(
                "<HHIIHH", payload, body_at
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"only uncompressed 16-bit PCM supported (fmt={audio_fmt}, bits={bits})"
                )
            fmt = (rate, n_ch)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            rate, n_ch = fmt
            n_frames = size // (2 * n_ch)
            chans: list[list[int]] = [[] for _ in range(n_ch)]
            for i in range(n_frames):
                base = body_at + i * 2 * n_ch
                for c in range(n_ch):
                    chans[c].append(struct.unpack_from("<h", payload, base + 2 * c)[0])
            return rate, n_ch, chans
        pos = body_at + size + (size & 1)  # chunks are word-aligned
    raise ValueError("no data chunk found")


# ------------------------------------------------------- G.711 companding
# ITU-T G.711 mu-law / A-law, the classic telephony codecs — segment-
# based logarithmic companding implemented with the standard CCITT
# bit-twiddling (cf. the public-domain Sun g711.c reference): 8-bit
# codewords <-> 13/14-bit linear, exposed here as WAV format tags 7/6.

_BIAS = 0x84
_SEG_UEND = [0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF]
_SEG_AEND = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]


def linear_to_ulaw(pcm: int) -> int:
    """16-bit linear -> 8-bit mu-law codeword."""
    if pcm < 0:
        pcm = _BIAS - pcm
        mask = 0x7F
    else:
        pcm += _BIAS
        mask = 0xFF
    pcm = min(pcm, 0x7FFF)
    seg = next(i for i, end in enumerate(_SEG_UEND) if pcm <= end)
    return ((seg << 4) | ((pcm >> (seg + 3)) & 0x0F)) ^ mask


def ulaw_to_linear(code: int) -> int:
    """8-bit mu-law codeword -> 16-bit linear."""
    code = ~code & 0xFF
    t = (((code & 0x0F) << 3) + _BIAS) << ((code & 0x70) >> 4)
    return _BIAS - t if code & 0x80 else t - _BIAS


def linear_to_alaw(pcm: int) -> int:
    """16-bit linear -> 8-bit A-law codeword."""
    pcm >>= 3  # A-law is a 13-bit code
    if pcm >= 0:
        mask = 0xD5  # sign bit set + even-bit inversion
    else:
        mask = 0x55
        pcm = -pcm - 1
    seg = next(
        (i for i, end in enumerate(_SEG_AEND) if pcm <= end), len(_SEG_AEND)
    )
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (pcm >> 1) & 0x0F if seg < 2 else (pcm >> seg) & 0x0F
    return aval ^ mask


def alaw_to_linear(code: int) -> int:
    """8-bit A-law codeword -> 16-bit linear."""
    code ^= 0x55
    t = (code & 0x0F) << 4
    seg = (code & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if code & 0x80 else -t


_G711 = {
    6: (linear_to_alaw, alaw_to_linear),  # WAVE_FORMAT_ALAW
    7: (linear_to_ulaw, ulaw_to_linear),  # WAVE_FORMAT_MULAW
}


def write_wav_g711(
    sample_rate: int, channels: list[list[int]], law: str = "ulaw"
) -> bytes:
    """Encode per-channel int16 samples as a G.711-companded WAV
    (format tag 7 for mu-law, 6 for A-law; 8 bits per sample)."""
    tag = {"ulaw": 7, "alaw": 6}.get(law)
    if tag is None:
        raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
    n_ch = len(channels)
    if n_ch == 0 or len({len(c) for c in channels}) != 1:
        raise ValueError("channels must be non-empty lists of equal length")
    enc = _G711[tag][0]
    n = len(channels[0])
    data = bytes(
        enc(int(channels[c][i])) for i in range(n) for c in range(n_ch)
    )
    fmt = struct.pack(
        "<HHIIHH", tag, n_ch, sample_rate, sample_rate * n_ch, n_ch, 8
    )
    riff = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def read_wav_any(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """Decode PCM16, mu-law, or A-law WAV -> (rate, n_channels,
    per-channel int16 samples).  Dispatches on the fmt tag; G.711
    codewords expand through the standard segment tables."""
    payload = bytes(payload)
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    end = min(end, len(payload))
    fmt = None
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_at = pos + 8
        if body_at + size > len(payload):
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short ({size} bytes)")
            audio_fmt, n_ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", payload, body_at
            )
            if audio_fmt == 1 and bits == 16:
                fmt = (1, rate, n_ch)
            elif audio_fmt in _G711 and bits == 8:
                fmt = (audio_fmt, rate, n_ch)
            else:
                raise ValueError(
                    f"unsupported WAV encoding (fmt={audio_fmt}, bits={bits});"
                    " supported: PCM16, G.711 mu-law/A-law"
                )
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            tag, rate, n_ch = fmt
            if tag == 1:
                return read_wav16(payload)
            dec = _G711[tag][1]
            n_frames = size // n_ch
            chans: list[list[int]] = [[] for _ in range(n_ch)]
            for i in range(n_frames):
                base = body_at + i * n_ch
                for c in range(n_ch):
                    chans[c].append(dec(payload[base + c]))
            return rate, n_ch, chans
        pos = body_at + size + (size & 1)
    raise ValueError("no data chunk found")
