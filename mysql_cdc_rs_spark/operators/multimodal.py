"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

REAL dependency-free decoders (pure stdlib — this container ships no codec
libraries):

- PNG: signature + chunk walk, IHDR (width/height/bit-depth/color-type),
  zlib-inflated IDAT with full scanline UNFILTERING (filters 0-4 incl.
  Paeth), per-channel pixel sums — a genuine pixel-exact decode for
  8-bit gray/RGB/RGBA images.
- WAV: RIFF/WAVE chunk walk, fmt (channels/sample-rate/bits), 16-bit PCM
  data -> exact amplitude stats.
- anything else (video containers, unknown mimes): deterministic
  hash-derived pseudo-feature, clearly labelled ``fallback_hash`` — the
  plumbing (schema, Arrow batch shape, partitioning) is identical, so a
  future ffmpeg-style decoder swaps in without touching the plan.

Scale design: ``decode_blob`` is a pure per-row function, so a query runs
it through ``functions.udfs.map_rows`` over the binary column (the
``mm_decode_stats`` query) — embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

FEATURE_DIM = 8

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type -> channel count


# --------------------------------------------------------------------------
# PNG (pure stdlib, pixel-exact for 8-bit gray/RGB/RGBA)
# --------------------------------------------------------------------------

def encode_png(width: int, height: int, pixels: bytes, color_type: int = 2,
               filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit, one IDAT).  ``pixels`` is the raw
    scanline payload (width*height*channels bytes, row-major)."""
    bpp = _CHANNELS[color_type]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * bpp
    raw = b"".join(
        bytes([filter_type])
        + _filter_line(pixels, y, stride, bpp, filter_type)
        for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _filter_line(pixels: bytes, y: int, stride: int, bpp: int,
                 f: int) -> bytes:
    line = pixels[y * stride:(y + 1) * stride]
    if f == 0:
        return line
    if f == 1:  # sub — enough for round-trip tests of the unfilter path
        out = bytearray(line)
        for i in range(stride - 1, bpp - 1, -1):
            out[i] = (out[i] - line[i - bpp]) & 255
        return bytes(out)
    raise ValueError(f"encode_png supports filter 0/1, got {f}")


def decode_png(blob: bytes) -> dict:
    """Parse + inflate + unfilter a PNG; returns exact pixel stats."""
    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(blob):
        n = int.from_bytes(blob[pos:pos + 4], "big")
        typ = blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + n]
        if len(data) != n:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(blob[pos + 8 + n:pos + 12 + n], "big")
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8 or interlace != 0 or color_type not in _CHANNELS:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color_type}, "
                    f"interlace={interlace})"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + n
    if width is None:
        raise ValueError("PNG missing IHDR")
    bpp = _CHANNELS[color_type]
    pixels = _unfilter(zlib.decompress(bytes(idat)), width, height, bpp)
    ch_sums = [0] * bpp
    for i, v in enumerate(pixels):
        ch_sums[i % bpp] += v
    return {
        "kind": "image",
        "width": width,
        "height": height,
        "channels": bpp,
        "bit_depth": 8,
        "pixel_sum": sum(ch_sums),
        "channel_sums": ch_sums,
    }


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytes:
    """Undo PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth)."""
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel payload size mismatch")
    out = bytearray()
    prev = bytes(stride)
    pos = 0
    for _ in range(height):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos:pos + stride])
        pos += stride
        if f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 255
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 255
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out += line
        prev = bytes(line)
    return bytes(out)


# --------------------------------------------------------------------------
# WAV (RIFF, 16-bit PCM)
# --------------------------------------------------------------------------

def encode_wav(samples: list[int], sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer, mono 16-bit PCM little-endian."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(blob: bytes) -> dict:
    """Parse RIFF/WAVE chunks; exact 16-bit PCM amplitude stats."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(blob):
        typ = blob[pos:pos + 4]
        n = int.from_bytes(blob[pos + 4:pos + 8], "little")
        data = blob[pos + 8:pos + 8 + n]
        if typ == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", data[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (fmt={audio_fmt}, bits={bits})"
                )
            fmt = (channels, rate, bits)
        elif typ == b"data":
            samples = struct.unpack(f"<{len(data) // 2}h", data)
        pos += 8 + n + (n & 1)  # chunks are word-aligned
    if fmt is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    channels, rate, bits = fmt
    return {
        "kind": "audio",
        "channels": channels,
        "sample_rate": rate,
        "bit_depth": bits,
        "n_samples": len(samples),
        "abs_sum": sum(abs(s) for s in samples),
        "peak": max((abs(s) for s in samples), default=0),
    }


# --------------------------------------------------------------------------
# transforms: image resize, audio subsample, video container + frame sample
# --------------------------------------------------------------------------

def resize_nearest(width: int, height: int, channels: int, pixels: bytes,
                   out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize with EXACT integer index mapping
    (xi = xo*width // out_w) — deterministic and reproducible in SQL, the
    property every oracle-checked transform here needs."""
    out = bytearray(out_w * out_h * channels)
    o = 0
    for yo in range(out_h):
        yi = yo * height // out_h
        row = yi * width * channels
        for xo in range(out_w):
            xi = xo * width // out_w
            p = row + xi * channels
            out[o:o + channels] = pixels[p:p + channels]
            o += channels
    return bytes(out)


def sample_pcm(samples, step: int) -> list[int]:
    """Audio frame-sampling: every ``step``-th PCM sample (decimation
    without filtering — the deterministic skeleton of a resampler)."""
    return list(samples[::step])


_VID_MAGIC = b"VID0"


def encode_video(frames: list[bytes]) -> bytes:
    """Deterministic frame container: magic + u16 frame count + per-frame
    u32 length-prefixed payloads (PNG frames in the tests).  Stands in for
    a real container the way the relay-segment codec stands in for binlog
    files — the frame-sampling plumbing is what's under test."""
    out = bytearray(_VID_MAGIC)
    out += len(frames).to_bytes(2, "big")
    for f in frames:
        out += len(f).to_bytes(4, "big") + f
    return bytes(out)


def decode_video(blob: bytes) -> list[bytes]:
    """Container -> frame payloads; raises on bad magic / truncation."""
    if blob[:4] != _VID_MAGIC:
        raise ValueError("not a VID0 container")
    n = int.from_bytes(blob[4:6], "big")
    pos, frames = 6, []
    for _ in range(n):
        if pos + 4 > len(blob):
            raise ValueError("truncated VID0 frame header")
        ln = int.from_bytes(blob[pos:pos + 4], "big")
        pos += 4
        frame = blob[pos:pos + ln]
        if len(frame) != ln:
            raise ValueError("truncated VID0 frame payload")
        frames.append(frame)
        pos += ln
    return frames


def sample_frames(blob: bytes, step: int) -> list[bytes]:
    """Video frame-sampling: every ``step``-th frame of the container."""
    return decode_video(blob)[::step]


# --------------------------------------------------------------------------
# dispatch + Spark plumbing
# --------------------------------------------------------------------------

def _fallback_feature(blob: bytes) -> list[float]:
    """Deterministic hash-derived pseudo-feature for undecodable blobs."""
    h = hashlib.blake2b(blob, digest_size=FEATURE_DIM * 4).digest()
    return [
        int.from_bytes(h[i * 4:(i + 1) * 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def decode_blob(blob: bytes, mime: str) -> tuple[str, dict | None, list]:
    """(status, stats, feature) for one blob.

    The feature vector packs the decoded stats so downstream similarity
    operators see semantically meaningful dimensions, not hash noise.
    """
    try:
        if mime == "image/png":
            st = decode_png(blob)
            ch = (st["channel_sums"] + [0, 0, 0])[:3]
            npx = st["width"] * st["height"]
            feat = [
                float(st["width"]), float(st["height"]),
                float(st["channels"]), float(st["bit_depth"]),
                ch[0] / max(npx, 1), ch[1] / max(npx, 1),
                ch[2] / max(npx, 1), float(st["pixel_sum"] % 997),
            ]
            return "decoded", st, feat
        if mime in ("audio/wav", "audio/x-wav"):
            st = decode_wav(blob)
            feat = [
                float(st["channels"]), float(st["sample_rate"]),
                float(st["bit_depth"]), float(st["n_samples"]),
                st["abs_sum"] / max(st["n_samples"], 1),
                float(st["peak"]), 0.0, float(st["abs_sum"] % 997),
            ]
            return "decoded", st, feat
        if mime == "video/x-frames":
            frames = decode_video(blob)
            f0 = decode_png(frames[0]) if frames else None
            st = {
                "kind": "video",
                "n_frames": len(frames),
                "width": f0["width"] if f0 else None,
                "height": f0["height"] if f0 else None,
                "channels": f0["channels"] if f0 else None,
            }
            npx = (st["width"] or 0) * (st["height"] or 0)
            feat = [
                float(st["n_frames"]), float(st["width"] or 0),
                float(st["height"] or 0), float(st["channels"] or 0),
                (f0["pixel_sum"] / max(npx, 1)) if f0 else 0.0,
                0.0, 0.0, float((f0["pixel_sum"] if f0 else 0) % 997),
            ]
            return "decoded", st, feat
    except (ValueError, zlib.error, struct.error):
        return "decode_error", None, _fallback_feature(blob)
    return "fallback_hash", None, _fallback_feature(blob)
