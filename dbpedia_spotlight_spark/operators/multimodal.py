"""PNG decode, feature extraction and resize over binary payload columns.

Only PNG is supported (stdlib zlib inflate + numpy unfiltering); other
payloads raise ValueError. No entry point imports this module: the
documents table's media spans (kind='media', media_ref='File:…') stay
opaque, as the reference's WikiMarkupStripper passes File: gallery
fragments through (SURVEY.md §1.2).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

DECODED_SCHEMA = (
    "media_ref string, width int, height int, n_frames int,"
    " features array<float>"
)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid (PNG spec §8.2): (x_start, x_step, y_start, y_step)
_ADAM7_PASSES = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _unfilter_lines(raw: np.ndarray, height: int, width: int,
                    nch: int) -> np.ndarray:
    """Invert the five PNG scanline filters over one (sub-)image.

    raw: (height, stride+1) uint8 — filter byte + filtered scanline per
    row. Returns the reconstructed (height, stride) samples. Each
    interlace pass is an independent sub-image (prev row starts zero),
    so Adam7 decode calls this once per pass."""
    stride = width * nch
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft = int(raw[y, 0])
        row = raw[y, 1:].copy()
        if ft == 0:  # None
            pass
        elif ft == 1:  # Sub: prefix sum over columns strided by bpp
            row = np.cumsum(
                row.reshape(width, nch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ft == 2:  # Up
            row += prev
        elif ft == 3:  # Average
            for i in range(stride):
                left = int(row[i - nch]) if i >= nch else 0
                row[i] = (int(row[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = int(row[i - nch]) if i >= nch else 0
                ul = int(prev[i - nch]) if i >= nch else 0
                row[i] = (
                    int(row[i]) + _paeth(left, int(prev[i]), ul)
                ) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = row
        prev = row
    return out


def parse_png(data: bytes) -> np.ndarray:
    """Baseline PNG decoder (stdlib zlib + numpy, no codec library)
    -> HxWxC uint8 (C=1 gray or 3 RGB; alpha dropped, palette
    expanded).

    Real entropy decode: the IDAT stream is DEFLATE, inflated with the
    stdlib's zlib; scanline unfiltering implements all five PNG filter
    types (None/Sub/Up/Average/Paeth). Supported layout: 8-bit depth,
    color types 0/2/3/4/6, both interlace methods (none / Adam7
    seven-pass). Chunk CRCs are verified."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = color_type = None
    interlace = 0
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        clen = int.from_bytes(data[pos:pos + 4], "big")
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + clen]
        crc = int.from_bytes(data[pos + 8 + clen:pos + 12 + clen], "big")
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width = int.from_bytes(body[0:4], "big")
            height = int.from_bytes(body[4:8], "big")
            bit_depth, color_type, comp, filt, interlace = body[8:13]
            if bit_depth != 8:
                raise ValueError(f"only 8-bit PNG: depth {bit_depth}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG compression/filter")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unknown PNG color type {color_type}")
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    nch = _PNG_CHANNELS[color_type]
    stride = width * nch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG pixel data length mismatch")
        out = _unfilter_lines(
            raw.reshape(height, stride + 1), height, width, nch
        )
        px = out.reshape(height, width, nch)
    else:
        # Adam7: seven sequential sub-images, each independently
        # filtered, scattered back onto the full-resolution grid
        px = np.zeros((height, width, nch), dtype=np.uint8)
        off = 0
        for xs, xstep, ys, ystep in _ADAM7_PASSES:
            wp = -(-(width - xs) // xstep) if width > xs else 0
            hp = -(-(height - ys) // ystep) if height > ys else 0
            if wp == 0 or hp == 0:
                continue  # empty pass contributes NO bytes (spec §8.2)
            need = hp * (wp * nch + 1)
            if off + need > len(raw):
                raise ValueError("PNG pixel data length mismatch")
            sub = _unfilter_lines(
                raw[off:off + need].reshape(hp, wp * nch + 1), hp, wp, nch
            )
            off += need
            px[ys::ystep, xs::xstep] = sub.reshape(hp, wp, nch)
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if color_type == 3:
        if palette is None:
            raise ValueError("paletted PNG missing PLTE")
        px = palette[px[:, :, 0]]
    elif color_type == 4:  # gray+alpha -> gray
        px = px[:, :, :1]
    elif color_type == 6:  # RGBA -> RGB
        px = px[:, :, :3]
    return np.ascontiguousarray(px)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big") + ctype + body
        + zlib.crc32(ctype + body).to_bytes(4, "big")
    )


def _filter_lines(sub: np.ndarray, c: int, filter_type: int) -> bytes:
    """Forward PNG filter over one (sub-)image (h, w, c) uint8 ->
    filter-byte-prefixed scanlines. prev row starts zero (per pass)."""
    h = sub.shape[0]
    flat = sub.reshape(h, -1).astype(np.int16)
    lines = []
    prev = np.zeros(flat.shape[1], dtype=np.int16)
    for y in range(h):
        cur = flat[y]
        left = np.zeros_like(cur)
        left[c:] = cur[:-c]
        ul = np.zeros_like(prev)
        ul[c:] = prev[:-c]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - (left + prev) // 2
        elif filter_type == 4:
            pred = np.array(
                [_paeth(int(a), int(b), int(cc))
                 for a, b, cc in zip(left, prev, ul)],
                dtype=np.int16,
            )
            enc = cur - pred
        else:
            raise ValueError(f"bad PNG filter type {filter_type}")
        lines.append(bytes([filter_type]) + (enc & 0xFF).astype(
            np.uint8).tobytes())
        prev = cur
    return b"".join(lines)


def encode_png(
    px: np.ndarray, filter_type: int = 0, interlace: bool = False
) -> bytes:
    """HxWxC uint8 (C=1 gray / C=3 RGB) -> PNG bytes.

    filter_type applies one PNG filter to every scanline (the forward
    transform — the decoder must invert it, which makes non-zero
    filters a round-trip oracle for the unfiltering code, not just a
    size optimization). interlace=True emits the Adam7 seven-pass
    layout — the oracle for the decoder's deinterlacer."""
    h, w, c = px.shape
    color_type = 0 if c == 1 else 2
    if interlace:
        body = b""
        for xs, xstep, ys, ystep in _ADAM7_PASSES:
            sub = px[ys::ystep, xs::xstep]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass emits nothing (spec §8.2)
            body += _filter_lines(np.ascontiguousarray(sub), c,
                                  filter_type)
    else:
        body = _filter_lines(px, c, filter_type)
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 1 if interlace else 0])
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body))
        + _png_chunk(b"IEND", b"")
    )




def _image_features(px: np.ndarray) -> list[float]:
    """8 deterministic image statistics (the feature-extraction stage)."""
    h, w, c = px.shape
    f = px.astype(np.float64)
    chan = [float(f[:, :, k].mean()) / 255.0 for k in range(c)]
    chan += [chan[-1]] * (3 - len(chan))
    return [
        round(x, 6)
        for x in (
            float(f.mean()) / 255.0,
            float(f.std()) / 255.0,
            *chan,
            round(w / h, 6),
            float(f.min()) / 255.0,
            float(f.max()) / 255.0,
        )
    ]


def decode_media(media: DataFrame) -> DataFrame:
    """(media_ref, payload, ...) -> (media_ref, width, height, n_frames,
    features). Arrow-batched mapInPandas; one python call per batch.
    Non-PNG payloads raise ValueError."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_ref": [], "width": [], "height": [],
                    "n_frames": [], "features": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if raw[:8] != _PNG_MAGIC:
                    raise ValueError(
                        "unsupported media payload (supported: PNG)"
                    )
                px = parse_png(raw)
                rows["media_ref"].append(ref)
                rows["width"].append(px.shape[1])
                rows["height"].append(px.shape[0])
                rows["n_frames"].append(1)
                rows["features"].append(_image_features(px))
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(
        kernel, schema=DECODED_SCHEMA
    )


def resize_media(media: DataFrame, max_side: int = 64) -> DataFrame:
    """REAL pixel resize for PNG payloads: nearest-neighbor downscale
    preserving aspect ratio, re-encoded as PNG.
    -> (media_ref, payload, width, height)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_ref": [], "payload": [], "width": [],
                    "height": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                px = parse_png(bytes(payload))
                h, w = px.shape[0], px.shape[1]
                scale = min(1.0, max_side / max(w, h))
                ow = max(1, int(round(w * scale)))
                oh = max(1, int(round(h * scale)))
                yi = (np.arange(oh) * (h / oh)).astype(int)
                xi = (np.arange(ow) * (w / ow)).astype(int)
                out = px[yi][:, xi]
                rows["media_ref"].append(ref)
                rows["payload"].append(encode_png(out))
                rows["width"].append(ow)
                rows["height"].append(oh)
            yield pd.DataFrame(rows)

    return media.select("media_ref", "payload").mapInPandas(
        kernel,
        schema="media_ref string, payload binary, width int, height int",
    )
